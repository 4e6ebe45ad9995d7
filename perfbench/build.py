"""Build file of the benchmark package: compiles the engine sources
(`src/main/scala`) together with the harness (`perfbench/src`) into one class
directory, using the Scala compiler that ships with the Spark distribution —
the same jars the sbt build compiles and runs against (`$SPARK_HOME/jars`,
else the `unmanagedBase` directory named in `build.sbt`). A build is reused
while no source file changes.

  python3 perfbench/build.py      # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def jars(root):
    if "SPARK_HOME" in os.environ:
        path = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase")
        path = m.group(1)
    if not glob.glob(os.path.join(path, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler jar in {path} (set SPARK_HOME)")
    return os.path.join(path, "*")


def sources(root):
    found = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def ensure(root, build_dir):
    """Return the run classpath, compiling first when the sources changed."""
    cp_jars = jars(root)
    srcs = sources(root)
    h = hashlib.sha256(cp_jars.encode())
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    classes = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if not os.path.isfile(os.path.join(classes, "BUILD_OK")):
        os.makedirs(build_dir, exist_ok=True)
        for old in glob.glob(os.path.join(build_dir, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        tmp = classes + ".tmp"
        os.makedirs(tmp)
        args_file = os.path.join(build_dir, "sources.txt")
        with open(args_file, "w") as f:
            f.write("\n".join(srcs) + "\n")
        proc = subprocess.run(
            ["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData", "-cp", cp_jars,
             "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp_jars, "@" + args_file],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if proc.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError(proc.stdout[-4000:])
        open(os.path.join(tmp, "BUILD_OK"), "w").close()
        os.rename(tmp, classes)
    return classes + os.pathsep + cp_jars


if __name__ == "__main__":
    try:
        print(ensure(os.getcwd(), os.path.join(HERE, ".build")))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
