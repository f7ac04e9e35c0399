"""Build file of the benchmark: compiles the engine sources (src/main/scala)
together with the benchmark's own sources (lakebench/src) into one class
directory with the Scala compiler that ships with Spark, so no sbt and no
network is needed. The Spark jars are $SPARK_HOME/jars, or else the
directory the repository's build.sbt names as `unmanagedBase`. Re-running
is a no-op while no source file changed.

    python3 lakebench/build.py            # prints the class directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("lakebench: set SPARK_HOME; build.sbt names no unmanagedBase")
    return m.group(1)


def sources():
    found = []
    for d in ("src/main/scala", "lakebench/src"):
        found += glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True)
        found += glob.glob(os.path.join(ROOT, d, "**", "*.java"), recursive=True)
    return sorted(found)


def classpath():
    return os.path.join(spark_jars(), "*")


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; returns the class directory."""
    files = sources()
    if not any(f.startswith(os.path.join(ROOT, "src", "main")) for f in files):
        raise SystemExit("lakebench: no engine sources under src/main/scala; "
                         "run from the root of a checkout of the repository")
    want = digest(files)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-cp", classpath(),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", classpath(), "@" + argfile]
    print("lakebench: compiling %d sources" % len(files), file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        shutil.rmtree(CLASSES, ignore_errors=True)
        raise SystemExit("lakebench: compilation failed")
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    return CLASSES


if __name__ == "__main__":
    print(build())
