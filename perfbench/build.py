"""Build of the benchmark package: the engine's sources (src/main/scala) and
the benchmark's own (perfbench/scala), compiled together by the Scala
compiler that ships with the Spark distribution at $SPARK_HOME, into
``.bench_build/classes``.

    python3 perfbench/build.py        # build if any source changed

A content hash of every source is stored beside the classes; a build whose
hash matches is reused. A failed build leaves no classes behind.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME (the engine's build
    compiles against the same distribution)."""
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise RuntimeError("no Spark distribution: set SPARK_HOME")
    return os.path.join(home, "jars")


def build_dir():
    return os.path.join(ROOT, ".bench_build")


def sources():
    src = []
    for d in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")):
        src += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(src)


def ensure():
    """Compile if needed; return the run classpath. Raises on failure."""
    jars = os.path.join(spark_jars(), "*")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise RuntimeError("no engine sources at src/main/scala")
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.sha256")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes + os.pathsep + jars
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + build_dir(), "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", jars] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes + os.pathsep + jars


if __name__ == "__main__":
    try:
        print(ensure())
    except Exception as e:  # noqa: BLE001 - report any build failure
        print(e, file=sys.stderr)
        sys.exit(2)
