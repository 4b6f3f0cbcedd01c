"""Build step of the pipeline benchmark.

Compiles the library sources (src/main/scala) together with the benchmark's
own sources (perfbench/src) with the Scala compiler that ships in the Spark
jar directory, into .bench_build/perfbench/classes. A stamp file holds a hash
of every compiled source; a later call with unchanged sources is a no-op.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = os.path.join(".bench_build", "perfbench")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.stamp")


def spark_jars():
    """Directory of the Spark runtime jars (Scala library and compiler included):
    $SPARK_HOME/jars, else the `unmanagedBase` the repository's build.sbt
    compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        m = os.path.isfile("build.sbt") and re.search(
            r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        if not m:
            raise SystemExit("perfbench: set SPARK_HOME (no unmanagedBase in build.sbt)")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit(f"perfbench: no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def sources():
    lib = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not lib:
        raise SystemExit("perfbench: src/main/scala not found; run from the repository root")
    own = sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))
    return lib + own


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if needed; returns the classes directory."""
    files = sources()
    jars = spark_jars()
    want = digest(files)
    if os.path.isfile(STAMP) and open(STAMP).read().strip() == want:
        return CLASSES
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD_DIR, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD_DIR}", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", tmp, "@" + args_file]
    print("perfbench: compiling %d sources" % len(files), file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    return CLASSES


if __name__ == "__main__":
    print(build())
