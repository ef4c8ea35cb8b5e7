"""Build file of the benchmark: compiles the engine (`src/main`) and the
benchmark's own Scala sources (`perfbench/scala`) into one class directory
with the Scala compiler that ships in the Spark distribution. A build is
reused while the sources it was made from are unchanged.

Usage: python3 perfbench/build.py   (run.py calls it before every run)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "perfbench", "out", "build")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "perfbench", "scala")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the
    `unmanagedBase` the project's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars", "*")
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) if os.path.exists(sbt) else None
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME to the Spark distribution")
    return os.path.join(m.group(1), "*")


def source_files():
    files = []
    for d in SOURCES + [RESOURCES]:
        files += [p for p in glob.glob(os.path.join(d, "**", "*"), recursive=True) if os.path.isfile(p)]
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Returns (class directory, source stamp), compiling when stale."""
    files = source_files()
    scala = [p for p in files if p.endswith(".scala")]
    if not any(p.startswith(SOURCES[0]) for p in scala):
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    st = stamp(files)
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == st:
        return classes, st
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-cp", spark_jars()] + scala
    rc = subprocess.run(cmd, stdout=log, stderr=log).returncode
    if rc != 0:
        raise SystemExit(f"perfbench: scalac failed ({rc})")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, classes, dirs_exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(st)
    return classes, st


if __name__ == "__main__":
    print(build()[0])
