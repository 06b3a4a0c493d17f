#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's own Scala sources (`perfbench/src`) into one class
directory with the Scala compiler that ships in the Spark jar directory.

No sbt, no dependency resolution: the Spark jar directory
(`$SPARK_HOME/jars`, or `SPARK_JARS_DIR`) holds Spark, Scala and the
compiler. The output lives under `.bench_build/perfbench` in the
checkout and is reused while a hash of every input file is unchanged.

Usage: python3 perfbench/build.py   (prints the class directory)
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "perfbench"


def jars_dir():
    if os.environ.get("SPARK_JARS_DIR"):
        return Path(os.environ["SPARK_JARS_DIR"])
    if not os.environ.get("SPARK_HOME"):
        raise SystemExit("build: set SPARK_HOME (or SPARK_JARS_DIR) to the Spark install")
    return Path(os.environ["SPARK_HOME"]) / "jars"


def fixture_dir():
    """The sf0.1 input: PERFBENCH_DATA, else the sf 0.1 row of TESTDATA.md."""
    if os.environ.get("PERFBENCH_DATA"):
        return Path(os.environ["PERFBENCH_DATA"])
    doc = ROOT / "TESTDATA.md"
    rows = re.findall(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", doc.read_text(), re.M) if doc.is_file() else []
    if not rows:
        raise SystemExit("perfbench: no sf0.1 fixture — set PERFBENCH_DATA")
    return Path(rows[0])


def classpath():
    jars = sorted(jars_dir().glob("*.jar"))
    if not any(j.name.startswith("scala-compiler") for j in jars):
        raise SystemExit(f"build: no scala-compiler jar in {jars_dir()}")
    return [str(j) for j in jars]


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"build: engine sources not found at {main} — run "
                         "from a full checkout of the repository")
    own = BENCH / "src"
    return sorted(main.rglob("*.scala")) + sorted(own.rglob("*.scala"))


def resources():
    return ROOT / "src" / "main" / "resources"


def stamp(srcs, cp):
    h = hashlib.sha256()
    for f in srcs + sorted(resources().rglob("*")):
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    h.update("\n".join(Path(j).name for j in cp).encode())
    return h.hexdigest()


def build():
    """Returns the class directory, compiling first when any input changed."""
    srcs, cp = sources(), classpath()
    OUT.mkdir(parents=True, exist_ok=True)
    classes, stamp_file = OUT / "classes", OUT / "stamp"
    want = stamp(srcs, cp)
    with open(OUT / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if stamp_file.is_file() and stamp_file.read_text() == want and classes.is_dir():
            return classes
        shutil.rmtree(classes, ignore_errors=True)
        classes.mkdir()
        args = OUT / "scalac.args"
        args.write_text("\n".join(str(s) for s in srcs) + "\n")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(cp),
               "scala.tools.nsc.Main", "-nowarn", "-deprecation:false",
               "-classpath", os.pathsep.join(cp), "-d", str(classes), f"@{args}"]
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise SystemExit(f"build: scalac failed with code {r.returncode}")
        shutil.copytree(resources(), classes, dirs_exist_ok=True)
        stamp_file.write_text(want)
        return classes


if __name__ == "__main__":
    print(build())
