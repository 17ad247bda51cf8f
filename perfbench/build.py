"""Build file of the pass benchmark.

Compiles the engine (src/main/scala of the checkout) together with the
benchmark's own sources (perfbench/src) with the Scala compiler that
ships in the Spark distribution, into <target>/perfbench/classes. The
target is $CARGO_TARGET_DIR when set, else .bench_build. A build whose
sources are unchanged is reused.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def spark_jars() -> Path:
    """The jars of the Spark distribution: $SPARK_HOME, else the first
    spark-submit on PATH that sits in a distribution."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else []
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if d and (Path(d) / "spark-submit").is_file():
            homes.append((Path(d) / "spark-submit").resolve().parent.parent)
    for home in homes:
        if list((home / "jars").glob("scala-compiler-*.jar")):
            return home / "jars"
    raise SystemExit("perfbench: set SPARK_HOME to a Spark 4.1 distribution")


SPARK_JARS = spark_jars()


def target_dir() -> Path:
    t = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return (t if t.is_absolute() else ROOT / t) / "perfbench"


def sources() -> list:
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise SystemExit(f"perfbench: engine sources not found under {engine.relative_to(ROOT)}")
    files = sorted(engine.rglob("*.scala")) + sorted((BENCH / "src").glob("*.scala"))
    return files


def classpath(classes: Path) -> str:
    return f"{classes}{os.pathsep}{SPARK_JARS}/*"


def build() -> Path:
    """Returns the classes directory, compiling first if sources changed."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    out = target_dir()
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jtmp = out / "tmp"
    jtmp.mkdir(exist_ok=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={jtmp}",
           "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-cp", f"{SPARK_JARS}/*", f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build())
