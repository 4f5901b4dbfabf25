"""Build file of the ELT benchmark.

Compiles the product's sources (src/main/scala) together with the
benchmark's own (eltbench/src) into <build dir>/classes, using the Scala
compiler that ships among the Spark jars: $SPARK_HOME/jars if set, else
the jar directory the repository's sbt build compiles against (its
`unmanagedBase`). A stamp over every source file and jar name skips the
compile when nothing changed.

    python3 eltbench/build.py [build dir]     # default: .bench_build
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def spark_jars():
    if "SPARK_HOME" in os.environ:
        jars_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                declared = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            declared = None
        if not declared:
            raise BuildError("set SPARK_HOME: build.sbt declares no unmanagedBase")
        jars_dir = declared.group(1)
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    if not any("scala-compiler" in os.path.basename(j) for j in jars):
        raise BuildError(f"no Spark distribution with a Scala compiler under {jars_dir}")
    return jars


def sources():
    product = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not product:
        raise BuildError("no product sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return product + bench


def build(build_dir):
    """Returns the classes directory, compiling first if any input changed."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    for jar in jars:
        digest.update(os.path.basename(jar).encode())
    stamp = digest.hexdigest()

    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes

    os.makedirs(build_dir, exist_ok=True)
    staging = classes + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    args_file = os.path.join(build_dir, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", staging,
           "-classpath", os.pathsep.join(jars), "@" + args_file]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        raise BuildError("scalac failed:\n" + done.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classes


if __name__ == "__main__":
    target = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")
    try:
        print(build(os.path.abspath(target)))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
