"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/src) with the Scala compiler that ships in
the Spark distribution, into .bench_build/classes.

    python3 perfbench/build.py        # from the root of a checkout

The build is skipped when a previous one compiled the same sources. It
needs Spark 4.1 (SPARK_HOME, or the jars of an installed pyspark) and a
JDK 17 `java` on PATH; nothing is fetched.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars():
    """Directory of the Spark distribution's jars."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if os.path.isdir(jars):
            return jars
    except ImportError:
        pass
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources(root):
    found = []
    for base in ("src/main/scala", "perfbench/src"):
        found += sorted(glob.glob(os.path.join(root, base, "**", "*.scala"), recursive=True))
    return found


def classpath(root):
    return os.path.join(root, BUILD_DIR, "classes") + os.pathsep + os.path.join(spark_jars(), "*")


def build(root="."):
    """Compile if needed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise SystemExit("perfbench: no program sources (src/main/scala) in this checkout")
    srcs = sources(root)
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    out = os.path.join(root, BUILD_DIR)
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath(root)
    tmp = os.path.join(out, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-d", tmp, "-classpath", jars, "-nowarn", "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        raise SystemExit("perfbench: compilation failed")
    shutil.rmtree(os.path.join(out, "classes"), ignore_errors=True)
    os.rename(tmp, os.path.join(out, "classes"))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath(root)


if __name__ == "__main__":
    print(build("."))
