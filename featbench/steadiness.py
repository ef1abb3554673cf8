"""Steadiness audit: runs every workload on several seeds and reports, per
end-to-end metric, the spread of the canary-normalized figure next to the
spread of the same figure before normalization.

    python3 featbench/steadiness.py run --seeds 1-10 --out set1.json
    python3 featbench/steadiness.py run --seeds 1-3 --trace --out traced.json
    python3 featbench/steadiness.py note set1.json set2.json --traced traced.json \
        > featbench/STEADINESS.md

Spread is the interquartile range over the runs as a share of their
median, with quartiles as `statistics.quantiles(values, n=4)` gives them.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
SPEC = json.loads((BENCH_DIR.parent / "BENCHMARK.json").read_text())
TIMINGS = ["setup_s", "rows_per_s", "write_s", "read_s"]


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(args):
    runs = []
    workloads = args.workloads.split(",") if args.workloads else [
        w["name"] for w in SPEC["workloads"]]
    for seed in seeds(args.seeds):
        for w in workloads:
            t0 = time.monotonic()
            res = subprocess.run(
                [sys.executable, str(BENCH_DIR / "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(args.seconds),
                 "--trace", "1" if args.trace else "0"],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall = time.monotonic() - t0
            lines = res.stdout.splitlines()
            if res.returncode != 0 or len(lines) < 2:
                print(f"{w} seed {seed}: FAILED (exit {res.returncode})", file=sys.stderr)
                runs.append({"workload": w, "seed": seed, "failed": True})
                continue
            detail = json.loads(lines[-2])["detail"]
            result = json.loads(lines[-1])
            runs.append({"workload": w, "seed": seed, "wall_s": wall,
                         "correct": result["correct"],
                         "metrics": {k: v["value"] for k, v in result["metrics"].items()},
                         "raw": detail["raw"],
                         "canary_s": statistics.mean(detail["canary_s"]),
                         "detail": detail})
            print(f"{w} seed {seed}: {wall:.1f}s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
                  file=sys.stderr)
    Path(args.out).write_text(json.dumps(runs, indent=1) + "\n")


def summarize(runs):
    """{workload: {metric: (median, normalized spread, raw spread or None)}}"""
    out = {}
    for w in sorted({r["workload"] for r in runs}):
        rs = [r for r in runs if r["workload"] == w and not r.get("failed")]
        rows = {}
        for m in [e["name"] for e in SPEC["end_to_end"]]:
            norm = [r["metrics"][m] for r in rs]
            raw = [r["raw"][m] for r in rs] if m in TIMINGS else None
            rows[m] = (statistics.median(norm), spread(norm), raw and spread(raw))
        for c in ["canary_s", "setup_canary_s"]:
            vals = [statistics.mean(r["detail"][c]) for r in rs]
            rows[c] = (statistics.median(vals), None, spread(vals))
        out[w] = (len(rs), sum(1 for r in runs if r["workload"] == w) - len(rs),
                  all(r["correct"] for r in rs), rows)
    return out


def overhead(sets, traced):
    """Traced against untraced rows_per_s, by workload."""
    print("## Tracing overhead\n")
    print("Normalized `rows_per_s` of the untraced runs (all sets) against "
          "`bench.traced_rows_per_s` of separate `--trace 1` runs.\n")
    print("| workload | untraced median | traced median (runs) | overhead |")
    print("|---|---|---|---|")
    for w in sorted({r["workload"] for r in traced}):
        plain = statistics.median(r["metrics"]["rows_per_s"] for s in sets for r in s
                                  if r["workload"] == w and not r.get("failed"))
        tr = [r["metrics"]["bench.traced_rows_per_s"] for r in traced
              if r["workload"] == w and not r.get("failed")]
        med = statistics.median(tr)
        print(f"| {w} | {plain:.4g} | {med:.4g} ({len(tr)}) | {plain / med - 1:+.1%} |")
    print()


def note(args):
    sets = [json.loads(Path(p).read_text()) for p in args.sets]
    sums = [summarize(s) for s in sets]
    bounds = {e["name"]: e["bound"] for e in SPEC["end_to_end"]}
    print("# Steadiness of the feature-store benchmark\n")
    print(f"Generated by `featbench/steadiness.py note` from {len(sets)} sets of runs "
          "of the same code. Each set ran every workload once per seed.\n")
    print("Spread = (Q3 - Q1) / median over the set's runs. *Raw* is the same figure "
          "before canary normalization; the canary rows show the raw canaries themselves "
          "(`setup_canary_s`: the canaries interleaved with set-up, which normalize "
          "`setup_s`). "
          "`store_bytes_per_input_byte` is not a timing and is not normalized.\n")
    for w in sums[0]:
        print(f"## {w}\n")
        head = "| metric | bound |"
        rule = "|---|---|"
        for i, s in enumerate(sums, 1):
            n, failed, ok, _ = s[w]
            head += f" set {i} median | set {i} spread | set {i} raw spread |"
            rule += "---|---|---|"
        print(head)
        print(rule)
        for m in sums[0][w][3]:
            line = f"| `{m}` | {bounds.get(m, '')} |"
            for s in sums:
                med, sp, raw = s[w][3][m]
                line += (f" {med:.4g} | {'' if sp is None else f'{sp:.1%}'} |"
                         f" {'' if raw is None else f'{raw:.1%}'} |")
            print(line)
        if len(sums) > 1:
            shifts = []
            for m in bounds:
                a, b = sums[0][w][3][m][0], sums[1][w][3][m][0]
                worse = (a - b) / a if m == "rows_per_s" else (b - a) / a
                shifts.append(f"`{m}` {worse:+.1%}")
            print("\nSet 2 median vs set 1, positive = worse: " + ", ".join(shifts) + ".")
        print()
        for i, s in enumerate(sums, 1):
            n, failed, ok, _ = s[w]
            print(f"Set {i}: {n} runs, {failed} failed, all correct: {ok}.  ")
        print()
    if args.traced:
        overhead(sets, json.loads(Path(args.traced).read_text()))


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--seconds", type=int, default=SPEC["run_seconds"])
    r.add_argument("--workloads", default="")
    r.add_argument("--trace", action="store_true")
    r.add_argument("--out", required=True)
    n = sub.add_parser("note")
    n.add_argument("sets", nargs="+")
    n.add_argument("--traced")
    args = ap.parse_args()
    run(args) if args.cmd == "run" else note(args)


if __name__ == "__main__":
    main()
