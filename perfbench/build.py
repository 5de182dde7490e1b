"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the benchmark harness (`perfbench/scala`) with the Scala compiler that ships
in the Spark distribution, into `.perfbench/build/<source digest>/`.

    python3 perfbench/build.py        # from the repository root

A build is reused while the sources are unchanged. Spark's jars are looked
up in $SPARK_HOME/jars, else in the installed pyspark package.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(ROOT, "perfbench", "scala")
BUILD_ROOT = os.path.join(ROOT, ".perfbench", "build")


def spark_jars():
    candidates = [os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]
    try:
        import pyspark
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for jars in candidates:
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    raise SystemExit("build: no Spark jars found; set SPARK_HOME to a Spark distribution")


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"build: program sources not found at {PROGRAM_SRC}")
    files = []
    for d in (PROGRAM_SRC, HARNESS_SRC):
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Return (classpath, source digest), compiling when needed."""
    jars = spark_jars()
    files = sources()
    digest = source_digest(files)
    out = os.path.join(BUILD_ROOT, digest)
    classes = os.path.join(out, "classes")
    cp = f"{classes}:{jars}/*"
    if os.path.exists(os.path.join(out, "ok")):
        return cp, digest
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", f"{jars}/*", f"@{argfile}"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("build: compilation failed")
    open(os.path.join(out, "ok"), "w").close()
    return cp, digest


if __name__ == "__main__":
    print(build()[1])
