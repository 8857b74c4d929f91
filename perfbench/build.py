"""Build file of the benchmark package.

Compiles graft's library sources (src/main/scala) together with the
harness sources (perfbench/src) into perfbench/.build/classes, using the
Scala compiler that ships in Spark's jar directory, so no dependency is
resolved and nothing is written outside the checkout. A stamp over the
source contents and the jar list makes a rebuild happen only when
something changed.

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
LIB_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH_DIR / "src"
OUT = BENCH_DIR / ".build"
CLASSES = OUT / "classes"


class BuildError(Exception):
    pass


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return Path(home)


def java():
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    exe = shutil.which("java")
    if not exe:
        raise BuildError("java not found: set JAVA_HOME or put java on PATH")
    return exe


def spark_jars():
    return sorted(str(p) for p in (spark_home() / "jars").glob("*.jar"))


def sources():
    if not (LIB_SRC / "graft" / "SparkEntry.scala").is_file():
        raise BuildError(f"graft library sources missing under {LIB_SRC}")
    return sorted(LIB_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def build(quiet=False):
    """Returns the classes directory, compiling first if stale."""
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    for j in jars:
        digest.update(os.path.basename(j).encode())
    stamp = digest.hexdigest()
    stamp_file = OUT / "stamp"
    if CLASSES.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return CLASSES
    if CLASSES.exists():
        shutil.rmtree(CLASSES)
    CLASSES.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = os.pathsep.join(jars)
    cmd = [java(), "-Xss8m", "-Xmx1g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(CLASSES), "-classpath", cp, f"@{argfile}"]
    if not quiet:
        print(f"[build] compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(CLASSES, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    stamp_file.write_text(stamp)
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
