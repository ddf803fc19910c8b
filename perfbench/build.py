#!/usr/bin/env python3
"""Build the benchmark: compile the graft library (src/main) and the
benchmark's own sources (perfbench/src) into perfbench/.build with the
Scala compiler that ships with Spark, and return the run classpath.

The build is skipped when a stamp of every source file and the Spark
jar listing matches the last build. Run it alone with
`python3 perfbench/build.py`.
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
LIB_SRC = ROOT / "src" / "main" / "scala"
LIB_RES = ROOT / "src" / "main" / "resources"
OUT = BENCH / ".build"


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(str(Path(submit).resolve().parent.parent))
    for home in homes:
        if home and (Path(home) / "jars").is_dir():
            return Path(home) / "jars"
    sys.exit("build: no Spark installation found (set SPARK_HOME)")


def sources():
    if not LIB_SRC.is_dir():
        sys.exit(f"build: {LIB_SRC} is missing; run from a checkout of the repository")
    files = sorted(LIB_SRC.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    return files


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files + sorted(LIB_RES.rglob("*")):
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    h.update("\n".join(sorted(p.name for p in jars.iterdir())).encode())
    return h.hexdigest()


def build():
    """Compile if the sources changed; returns the run classpath."""
    jars = spark_jars()
    files = sources()
    OUT.mkdir(exist_ok=True)
    with open(OUT / "lock", "w") as lock:
        # one build at a time; a second caller waits, then finds it done
        fcntl.flock(lock, fcntl.LOCK_EX)
        return compile_if_changed(files, jars)


def compile_if_changed(files, jars):
    digest = stamp(files, jars)
    classes = OUT / "classes"
    stamp_file = OUT / "stamp"
    if not (stamp_file.is_file() and stamp_file.read_text() == digest):
        tmp = OUT / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        argfile = OUT / "sources.txt"
        argfile.write_text("\n".join(str(f) for f in files) + "\n")
        print(f"build: compiling {len(files)} files", file=sys.stderr)
        subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
             "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"],
            check=True, stdout=sys.stderr)
        if LIB_RES.is_dir():
            shutil.copytree(LIB_RES, tmp, dirs_exist_ok=True)
        shutil.rmtree(classes, ignore_errors=True)
        tmp.rename(classes)
        stamp_file.write_text(digest)
    return f"{classes}{os.pathsep}{jars}/*"


if __name__ == "__main__":
    print(build())
