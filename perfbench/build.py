"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
one class directory, with the Scala compiler that ships in the Spark
distribution. A build is reused while no source file changes.

    python3 perfbench/build.py      # build (or reuse) and print the class dir
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
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the jar
    directory the repository's build.sbt names as `unmanagedBase`."""
    if "SPARK_HOME" in os.environ:
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        if not m:
            raise BuildError("no Spark jar directory: set SPARK_HOME")
        d = m.group(1)
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {d} (set SPARK_HOME)")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"program sources not found: {main}")
    found = []
    for d in (main, os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(d):
            found += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(found)


def ensure_built():
    """Return the class directory, compiling first if any source changed."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs + jars:
        h.update(os.path.relpath(p, ROOT).encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    os.makedirs(OUT, exist_ok=True)
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(jars)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} source files", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
