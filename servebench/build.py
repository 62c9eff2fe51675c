"""Build file of the benchmark package.

Compiles the program from source (`src/main/scala` at the repository
root) and then this package's JVM side (`servebench/src`) against it,
with the Scala compiler and Spark jars of the local Spark install
(`$SPARK_HOME/jars`, else the install whose `spark-submit` is on PATH;
the same jars the program's own sbt build uses). Output goes to `servebench/.build/`.
Each part is recompiled only when its sources (for this package: its
own or the program's) changed since the last build.

Usage: python3 servebench/build.py   (prints the runtime classpath)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
PROGRAM_SRC = os.path.join(REPO, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    d = os.path.join(home or "", "jars")
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        sys.exit(f"build: no Spark jars under {d}")
    return jars


def sources(root):
    out = []
    for dirpath, _, files in os.walk(root):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(jars, classpath, srcs, dest):
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    os.makedirs(dest)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath",
           os.pathsep.join(classpath), "-d", dest] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        sys.exit(f"build: scalac failed for {dest}")


def build():
    """Return the runtime classpath, compiling what changed first."""
    jars = spark_jars()
    program, bench = sources(PROGRAM_SRC), sources(BENCH_SRC)
    if not program:
        sys.exit(f"build: no program sources under {PROGRAM_SRC}")
    prog_out, bench_out = os.path.join(OUT, "program"), os.path.join(OUT, "bench")
    # the bench is rebuilt whenever the program is
    for srcs, dest, cp in ((program, prog_out, jars),
                           (bench, bench_out, [prog_out] + jars)):
        stamp = digest(srcs) if dest == prog_out else digest(program + bench)
        stamp_file = dest + ".stamp"
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            continue
        shutil.rmtree(dest, ignore_errors=True)
        scalac(jars, cp, srcs, dest)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return [bench_out, prog_out] + jars


if __name__ == "__main__":
    print(os.pathsep.join(build()))
