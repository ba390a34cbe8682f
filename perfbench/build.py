"""Build file of the benchmark: compiles the project's main sources and the
harness under perfbench/src into one class directory, with the Scala
compiler that ships among Spark's jars. A content stamp skips the compile
when no source changed.

Usage: python3 perfbench/build.py [build_dir]   (default: .bench_build)
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def sources():
    found = []
    for d in SOURCE_DIRS:
        top = os.path.join(ROOT, d)
        if not os.path.isdir(top):
            raise BuildError(f"missing source directory {d}")
        for dirpath, _, files in os.walk(top):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(build_dir):
    """Compiles if needed; returns (classes dir, source digest)."""
    files = sources()
    digest = source_digest(files)
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp):
        with open(stamp) as fh:
            if fh.read() == digest:
                return classes, digest
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cp = os.path.join(spark_jars(), "*")
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile],
        capture_output=True, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + (proc.stdout + proc.stderr)[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes, digest


if __name__ == "__main__":
    out = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else
                          os.path.join(ROOT, ".bench_build"))
    os.makedirs(out, exist_ok=True)
    try:
        print(build(out)[0])
    except BuildError as e:
        sys.exit(str(e))
