"""Build file of the benchmark: compiles the program's sources and the
benchmark's own Scala sources into one jar, with the Scala compiler that
ships in the Spark distribution (no sbt, no downloads).

    python3 perfbench/build.py        # prints the jar

A build is skipped when the stamp (a hash of every source and of the Spark
jar names) matches the last one, so only the first run in a checkout pays.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(REPO, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "scala")
BUILD_DIR = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD_DIR, "classes")
JAR = os.path.join(BUILD_DIR, "graftbench.jar")
STAMP = os.path.join(BUILD_DIR, "stamp")


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the directory
    beside the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit("perfbench: program sources not found at "
                         + os.path.relpath(PROGRAM_SRC, os.getcwd()))
    out = []
    for root in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp_of(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def program_source_hash():
    """sha256 over the program's sources: names the code that was measured
    where no git commit is at hand."""
    h = hashlib.sha256()
    for p in sources():
        if p.startswith(PROGRAM_SRC):
            h.update(os.path.relpath(p, REPO).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if the sources changed; returns the runtime classpath: the
    classes as one jar (a class-data-sharing archive needs jars), then
    Spark's."""
    jars = spark_jars()
    srcs = sources()
    stamp = stamp_of(srcs, jars)
    cp = [JAR] + jars
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return cp
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"perfbench: compiling {len(srcs)} sources", file=log)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", os.pathsep.join(jars), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=log)
        raise SystemExit("perfbench: compile failed")
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in os.walk(CLASSES):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, CLASSES))
    with open(STAMP, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    build()
    print(JAR)
