"""Build file of the benchmark.

Compiles the library (``src/main/scala``) and then the benchmark program
(``perfbench/scala``) against it, with the Scala compiler that ships in
Spark's jars (``$SPARK_HOME/jars``), into ``.bench_build/classes`` under
the checkout root. Each output carries a stamp of its sources' content and
is rebuilt only when they change.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "classes"
LIB_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "perfbench" / "scala"


def _sources(tree):
    found = sorted(p for p in tree.rglob("*.scala") if p.is_file())
    if not found:
        raise FileNotFoundError(f"no Scala sources under {tree}")
    return found


def _stamp(sources, extra=""):
    h = hashlib.sha256((Path(__file__).read_bytes().decode() + extra).encode())
    for p in sources:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def _compile(name, sources, classpath, stamp):
    """scalac `sources` into OUT/name unless its stamp already matches."""
    dest = OUT / name
    if (dest / "STAMP").is_file() and (dest / "STAMP").read_text() == stamp:
        return dest
    tmp = OUT / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "classes").mkdir(parents=True)
    (tmp / "sources").write_text("\n".join(str(s) for s in sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp / "classes"),
           "-classpath", classpath, f"@{tmp / 'sources'}"]
    with open(OUT / f"{name}.log", "w") as log:
        r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed for {name}, see {OUT / name}.log")
    (tmp / "STAMP").write_text(stamp)
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)
    return dest


def _spark_jars():
    jars = Path(os.environ.get("SPARK_HOME", "")) / "jars"
    if "SPARK_HOME" not in os.environ or not jars.is_dir():
        raise FileNotFoundError("Spark jars not found: set SPARK_HOME")
    return jars


def build():
    """Compile what changed; returns the classpath to run the benchmark with."""
    jars = f"{_spark_jars()}/*"
    lib_stamp = _stamp(_sources(LIB_SRC))
    lib = _compile("lib", _sources(LIB_SRC), jars, lib_stamp) / "classes"
    bench = _compile("bench", _sources(BENCH_SRC), f"{lib}:{jars}",
                     _stamp(_sources(BENCH_SRC), lib_stamp)) / "classes"
    return f"{bench}:{lib}:{jars}"


if __name__ == "__main__":
    try:
        print(build())
    except (OSError, RuntimeError, subprocess.SubprocessError) as e:
        sys.exit(f"build failed: {e}")
