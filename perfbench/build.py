#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's Scala sources
(src/main/scala of the checkout) together with the benchmark's own
(perfbench/src) into one classes directory, with the Scala compiler that
ships among the Spark jars. No sbt, no network: the compile classpath is the
Spark jar directory, as in build.sbt.

    python3 perfbench/build.py        # prints the classes directory

The output lives under $CARGO_TARGET_DIR (default .bench_build) and is
reused while the fingerprint of every source file is unchanged.
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = HERE / "src"


class BuildError(Exception):
    pass


def spark_jars() -> pathlib.Path:
    """$SPARK_HOME/jars, else the first <dir>/../jars holding Spark for a
    <dir> on PATH (a Spark distribution's bin/)."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        pathlib.Path(d).parent for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in homes:
        jars = pathlib.Path(home) / "jars"
        if any(jars.glob("spark-core_*.jar")):
            return jars
    raise BuildError("no Spark jars found (set SPARK_HOME)")


def build_dir() -> pathlib.Path:
    d = pathlib.Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    if not d.is_absolute():
        d = ROOT / d
    return d


def sources() -> list:
    if not PROGRAM_SRC.is_dir():
        raise BuildError(f"program sources not found at {PROGRAM_SRC}")
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.glob("*.scala"))
    if not any(f.is_relative_to(PROGRAM_SRC) for f in files):
        raise BuildError(f"no Scala sources under {PROGRAM_SRC}")
    return files


def fingerprint(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build() -> pathlib.Path:
    """Compiles if needed; returns the classes directory."""
    files = sources()
    jars = spark_jars()
    out = build_dir() / "perfbench"
    classes = out / "classes"
    stamp = out / "classes.sha256"
    fp = fingerprint(files)
    if classes.is_dir() and stamp.exists() and stamp.read_text() == fp:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"]
    print(f"[perfbench] compiling {len(files)} Scala files", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise BuildError("scalac failed")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(fp)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
