"""Builds the benchmark's JVM side from source.

The program's sources (src/main/scala) and the benchmark's own
(perfbench/scala) are compiled together with the Scala compiler that ships
in the Spark distribution the project builds against, into
.bench_build/perfbench/classes. A stamp of every source's content skips the
build when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

OUT = os.path.join(".bench_build", "perfbench")


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else spark-submit's home."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise RuntimeError("no Spark found: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError(f"no Scala compiler among the jars in {jars}")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not main:
        raise RuntimeError("no program sources under src/main/scala: run from the repository root")
    own = sorted(glob.glob(os.path.join(root, "perfbench", "scala", "**", "*.scala"), recursive=True))
    return main + own


def ensure(root, log=sys.stderr):
    """Compiles if any source changed; returns the classes directory."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256(jars.encode())
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(root, OUT)
    classes, stamp_file = os.path.join(out, "classes"), os.path.join(out, "classes.stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    cp = os.path.join(jars, "*")
    subprocess.run(["java", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                    "-d", tmp, "-classpath", cp, "@" + argfile],
                   check=True, stdout=log, stderr=log, timeout=840)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(ensure(os.getcwd()))
