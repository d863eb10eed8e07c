"""Build step of the benchmark: compiles the engine's sources together with
the benchmark's own JVM sources into one class directory, using the Scala
compiler that ships in the Spark distribution (the same 2.13 toolchain the
project's sbt build resolves from there). A content stamp skips the compile
when no source changed since the last build in this checkout.
"""
import glob
import hashlib
import os
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spark_jars():
    """The jars of the Spark installation named by $SPARK_HOME: the runtime
    classpath and the Scala compiler both come from there."""
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: set SPARK_HOME to a Spark installation with its jars")
    return jars


SPARK_JARS = _spark_jars()
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src", "main", "scala")]


def _sources():
    out = []
    for d in SOURCE_DIRS:
        out += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(out)


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(" ".join(sorted(os.listdir(SPARK_JARS))).encode())
    return h.hexdigest()


def build(build_dir, log):
    """Compile into `build_dir/classes` unless up to date; returns the
    runtime classpath. Compiler output goes to the open file `log`."""
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    files = _sources()
    stamp = _stamp(files)
    cp = classes + os.pathsep + os.path.join(SPARK_JARS, "*")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = os.path.join(SPARK_JARS, "*")
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
                    "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", jars,
                    "@" + argfile],
                   check=True, stdout=log, stderr=subprocess.STDOUT)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp
