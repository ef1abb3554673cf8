"""Build file of the benchmark: compiles the program under test
(`src/main/scala`) together with the harness (`featbench/src`) into one
jar, with the Scala compiler that ships among the Spark jars, then trains
a class-data-sharing archive for the benchmark JVM.

The output goes to `.bench_build/featbench/build-<hash>` in the checkout,
keyed by a hash of every source file and of the JVM launch options, so an
unchanged tree is built once. Run it directly to build without running:

    python3 featbench/build.py

The archive (`app.jsa`) holds the classes one JVM loads while it runs
each workload's set-up and one epoch. Loading them from it instead of from ~300 jars cuts
JVM and Spark start-up by about half on a 4-vCPU VM; every benchmark JVM
then starts from the same archive.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
HARNESS_SRC = BENCH_DIR / "src"
BUILD_DIR = ROOT / ".bench_build" / "featbench"
COMPILER_OPTS = ["-nowarn"]
COMPILE_TIMEOUT_S = 600
TRAIN_TIMEOUT_S = 240

HEAP = "2g"
# Spark on JDK 17 outside spark-submit needs these (Spark's own
# JavaModuleOptions list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# C1 only: in a JVM that lives under a minute, background C2 compilation
# competes with the three task threads and its timing varies run to run.
JIT = "-XX:TieredStopAtLevel=1"
# The benchmark JVM's launch options (the archive is trained with them).
# JVM warnings go to stderr so stdout stays the result.
JVM_OPTS = [
    f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:ActiveProcessorCount=4", JIT,
    "-Xlog:disable", "-Xlog:all=warning:stderr",
    f"-Dfeatbench.heap={HEAP}", f"-Dfeatbench.jit={JIT}",
    f"-Dlog4j2.configurationFile={BENCH_DIR / 'log4j2.properties'}",
    *[arg for p in ADD_OPENS for arg in ("--add-opens", f"{p}=ALL-UNNAMED")],
]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one beside `spark-submit` on the PATH."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    for jars in candidates:
        if any(jars.glob("scala-compiler-*.jar")) and any(jars.glob("spark-sql_*.jar")):
            return jars
    raise BuildError("no Spark distribution found: set SPARK_HOME or put spark-submit on PATH")


def sources() -> list:
    if not PROGRAM_SRC.is_dir():
        raise BuildError(f"program sources not found at {PROGRAM_SRC.relative_to(ROOT)}")
    srcs = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(HARNESS_SRC.rglob("*.scala"))
    if not any(p.is_relative_to(PROGRAM_SRC) for p in srcs):
        raise BuildError("no program sources to build")
    return srcs


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def classpath(jar: Path, jars: Path) -> str:
    return f"{jar}{os.pathsep}{jars}/*"


def run_logged(cmd, timeout, what, cwd=None):
    try:
        res = subprocess.run(cmd, cwd=cwd, stdout=sys.stderr, stderr=sys.stderr,
                             timeout=timeout)
    except subprocess.TimeoutExpired:
        raise BuildError(f"{what} timed out")
    if res.returncode != 0:
        raise BuildError(f"{what} failed (exit {res.returncode})")


def compile_jar(srcs, jars: Path, tmp: Path) -> Path:
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    classes = tmp / "classes"
    classes.mkdir()
    print(f"[featbench] compiling {len(srcs)} source files", file=sys.stderr)
    run_logged([java(), "-Xss8m", "-Xms2g", "-Xmx2g", "-cp", f"{jars}/*",
                "scala.tools.nsc.Main", "-usejavacp", "-d", str(classes),
                *COMPILER_OPTS, f"@{argfile}"], COMPILE_TIMEOUT_S, "compilation")
    # class-data sharing takes jars only, not class directories
    jar = tmp / "app.jar"
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    shutil.rmtree(classes)
    argfile.unlink()
    return jar


def train_archive(jar: Path, jars: Path, tmp: Path) -> None:
    """Runs every workload's set-up and one epoch in one JVM and dumps the
    classes it loaded."""
    work = tmp / "train"
    (work / "tmp").mkdir(parents=True)
    print("[featbench] training the class-data-sharing archive", file=sys.stderr)
    run_logged([java(), *JVM_OPTS, f"-XX:ArchiveClassesAtExit={tmp / 'app.jsa'}",
                f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", classpath(jar, jars),
                "featbench.Main", "--train", "--seed", "1", "--work", str(work)],
               TRAIN_TIMEOUT_S, "archive training", cwd=work)
    shutil.rmtree(work)
    if not (tmp / "app.jsa").exists():
        raise BuildError("archive training wrote no archive")


def ensure_built() -> tuple:
    """Returns (jar, Spark jar directory, archive), building if needed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for opt in COMPILER_OPTS + JVM_OPTS:
        h.update(opt.encode() + b"\0")
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    out = BUILD_DIR / f"build-{h.hexdigest()[:16]}"
    if (out / ".complete").exists():
        return out / "app.jar", jars, out / "app.jsa"
    BUILD_DIR.mkdir(parents=True, exist_ok=True)
    for old in [*BUILD_DIR.glob("build-*"), *BUILD_DIR.glob("classes-*")]:
        shutil.rmtree(old, ignore_errors=True)
    # the jar is built and the archive trained at its final path, which
    # the archive records; `.complete` marks both done
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    try:
        jar = compile_jar(srcs, jars, out)
        train_archive(jar, jars, out)
    except BuildError:
        shutil.rmtree(out, ignore_errors=True)
        raise
    (out / ".complete").touch()
    return jar, jars, out / "app.jsa"


if __name__ == "__main__":
    try:
        print(ensure_built()[0])
    except BuildError as e:
        print(f"[featbench] {e}", file=sys.stderr)
        sys.exit(2)
