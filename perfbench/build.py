"""Build file of the benchmark package: compiles the program (src/main/scala)
and the benchmark (perfbench/scala) with the Scala compiler that ships among
the Spark jars, into .bench_build/ at the root of the checkout.

A stamp over every source file's path and content skips the compile when
nothing changed. Run from the root of a checkout:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def spark_jars(root):
    """The Spark jar directory: $SPARK_HOME/jars, else the sbt build's
    unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/**/*.scala"), recursive=True))
    if not main:
        raise BuildError("no program sources under src/main/scala")
    if not bench:
        raise BuildError("no benchmark sources under perfbench/scala")
    return main + bench


def classpath(root):
    """Runtime classpath: compiled classes, program resources, Spark jars."""
    return os.pathsep.join([
        os.path.join(root, BUILD_DIR, "classes"),
        os.path.join(root, "src/main/resources"),
        os.path.join(spark_jars(root), "*"),
    ])


def build(root, log=sys.stderr):
    srcs = sources(root)
    jars = spark_jars(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    out = os.path.join(root, BUILD_DIR)
    stamp = os.path.join(out, "stamp")
    classes = os.path.join(out, "classes")
    if os.path.isfile(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return digest
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + args_file]
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=log)
        raise BuildError(f"scalac exited with {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return digest


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
