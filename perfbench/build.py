#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark driver (perfbench/src) with the Scala compiler that ships in the
Spark distribution, into .bench_build/ at the checkout root. sbt is not
needed; build.sbt's compile settings are the compiler defaults plus the
Spark jars on the classpath, which this reproduces.

Usage: python3 perfbench/build.py   (from the checkout root)

A build is skipped when a hash of every source file matches the last one.
"""
import hashlib
import os
import pathlib
import re
import subprocess
import sys

ROOT = pathlib.Path.cwd()
OUT = ROOT / ".bench_build"
BENCH = pathlib.Path(__file__).resolve().parent


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the
    unmanagedBase that build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and (pathlib.Path(home) / "jars").is_dir():
        return pathlib.Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if m and pathlib.Path(m.group(1)).is_dir():
        return pathlib.Path(m.group(1))
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def sources(d):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def scalac(jars, dest, classpath, files):
    dest.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(dest), "-classpath", classpath] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit(f"perfbench: compile into {dest} failed")


def build():
    """Returns the run classpath; compiles what changed."""
    engine_src = ROOT / "src" / "main" / "scala"
    if not engine_src.is_dir():
        raise SystemExit("perfbench: no engine sources at src/main/scala; run from the checkout root")
    jars = spark_jars()
    engine, driver = OUT / "engine-classes", OUT / "perfbench-classes"
    eng_files, drv_files = sources(engine_src), sources(BENCH / "src")
    stamp = OUT / "build.stamp"
    want = digest(eng_files + drv_files)
    if not stamp.exists() or stamp.read_text() != want:
        for d in (engine, driver):
            subprocess.run(["rm", "-rf", str(d)], check=True)
        scalac(jars, engine, f"{jars}/*", eng_files)
        scalac(jars, driver, f"{engine}:{jars}/*", drv_files)
        stamp.write_text(want)
    return f"{driver}:{engine}:{jars}/*"


if __name__ == "__main__":
    print(build())
