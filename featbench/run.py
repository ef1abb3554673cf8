"""Feature-store benchmark: builds the program from source, runs one
workload in a JVM with a pinned execution shape, and prints the result
object as the last line of stdout.

    python3 featbench/run.py --workload feature_build --seed 1 --seconds 10 --trace 0
    python3 featbench/run.py --gate-test

Workloads: feature_build, vault_daily, knn_upkeep (see featbench/README.md).
Exits non-zero, without a result, when the program cannot be built or run.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["feature_build", "vault_daily", "knn_upkeep"]
RUN_TIMEOUT_S = 165
# the gate test runs all three workloads for two epochs each
GATE_TEST_TIMEOUT_S = 600


def expected_metrics(trace: bool):
    """The metric names BENCHMARK.json declares for this mode, if present."""
    spec = build.ROOT / "BENCHMARK.json"
    if not spec.exists():
        return None
    doc = json.loads(spec.read_text())
    return {m["name"] for m in doc["per_layer" if trace else "end_to_end"]}


def run_jvm(args, jar: Path, jars: Path, archive: Path) -> int:
    work = build.BUILD_DIR / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = [build.java(), *build.JVM_OPTS, f"-XX:SharedArchiveFile={archive}",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", build.classpath(jar, jars), "featbench.Main",
           "--seed", str(args.seed), "--work", str(work)]
    if args.gate_test:
        cmd.append("--gate-test")
    else:
        cmd += ["--workload", args.workload, "--seconds", str(args.seconds),
                "--trace", str(args.trace)]
    timeout = GATE_TEST_TIMEOUT_S if args.gate_test else RUN_TIMEOUT_S
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print(f"[featbench] run exceeded {timeout}s and was stopped", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if proc.returncode != 0:
        sys.stdout.write(out)
        print(f"[featbench] JVM exited with code {proc.returncode}", file=sys.stderr)
        return 1
    if args.gate_test:
        sys.stdout.write(out)
        return 0
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        print("[featbench] no result line", file=sys.stderr)
        return 1
    want = expected_metrics(args.trace == 1)
    if set(result) != {"correct", "attempted", "failed", "metrics"} or (
            want is not None and set(result["metrics"]) != want):
        print("[featbench] result does not match BENCHMARK.json", file=sys.stderr)
        return 1
    print("\n".join(lines[:-1]))
    print(json.dumps(result))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--gate-test", action="store_true",
                    help="check that every correctness gate catches a corrupted output")
    args = ap.parse_args()
    if not args.gate_test and not args.workload:
        ap.error("--workload is required")
    t0 = time.monotonic()
    try:
        jar, jars, archive = build.ensure_built()
    except build.BuildError as e:
        print(f"[featbench] {e}", file=sys.stderr)
        return 2
    print(f"[featbench] build ready in {time.monotonic() - t0:.1f}s", file=sys.stderr)
    return run_jvm(args, jar, jars, archive)


if __name__ == "__main__":
    sys.exit(main())
