"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's JVM side
(`perfbench/scala`) with the Scala compiler that ships in Spark's jars,
into `.bench_build/classes` of the checkout. A stamp of the sources skips
the compile when nothing changed.

    python3 perfbench/build.py     # build, print the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
SCALAC_OPTS = ["-release", "17", "-nowarn"]
BUILD_TIMEOUT_S = 840


def spark_jars():
    """Spark's jars: `$SPARK_HOME/jars`, else those of the `spark-submit`
    on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or ".", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler among Spark's jars in {jars}")
    return os.path.join(jars, "*")


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                               recursive=True))
    if not program:
        raise SystemExit("no program sources under src/main/scala")
    return program + sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"),
                                      recursive=True))


def classpath():
    return os.path.join(OUT, "classes") + os.pathsep + spark_jars()


def ensure():
    """Compile unless the stamp matches; return the runtime classpath."""
    srcs = sources()
    h = hashlib.sha256(" ".join(SCALAC_OPTS).encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "stamp")
    classes = os.path.join(OUT, "classes")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classpath()
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", spark_jars(),
           "scala.tools.nsc.Main", *SCALAC_OPTS, "-d", tmp,
           "-cp", spark_jars(), "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        raise SystemExit(f"compile failed ({r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath()


if __name__ == "__main__":
    print(ensure())
