"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's JVM half (perfbench/src/main/scala) into one class directory
with the Scala compiler that ships in Spark's jars, and exports the
documents table the fixtures are made from.

Run alone with `python3 perfbench/build.py`; run.py calls it on every run
and it rebuilds only when a source file changed.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src", "main", "scala")]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one pyspark ships."""
    home = os.environ.get("SPARK_HOME")
    candidates = [os.path.join(home, "jars")] if home else []
    try:
        import importlib.util
        spec = importlib.util.find_spec("pyspark")
        if spec and spec.origin:
            candidates.append(os.path.join(os.path.dirname(spec.origin), "jars"))
    except ImportError:
        pass
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise BuildError("no Spark jars: set SPARK_HOME")


def sf_dir(name="sf0.1"):
    """A scale-factor directory of the test tables (see TESTDATA.md), under
    PERFBENCH_TESTDATA, by default ~/testdata."""
    root = os.environ.get("PERFBENCH_TESTDATA") or os.path.join(
        os.path.expanduser("~"), "testdata")
    d = os.path.join(root, name)
    if not os.path.isfile(os.path.join(d, "documents.parquet")):
        raise BuildError(f"no documents.parquet under {d}")
    return d


def sources():
    files = []
    for d in SOURCE_DIRS:
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    if not any(f.startswith(SOURCE_DIRS[0]) for f in files):
        raise BuildError(f"no engine sources under {SOURCE_DIRS[0]}")
    return sorted(files)


def java(heap):
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    return ["java", f"-Xmx{heap}", "-Xss8m", "-XX:-UsePerfData"]


def build(log=sys.stderr):
    """Returns (classpath, documents.tsv path, compiled); compiles, and sets
    `compiled`, only when a source changed."""
    jars = spark_jars()
    data = sf_dir()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(os.path.abspath(data).encode())
    out = os.path.join(BUILD, h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    docs = os.path.join(out, "documents.tsv")
    classpath = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(os.path.join(out, "done")):
        return classpath, docs, False
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(java("3g") + [
        "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-nowarn", "-d", classes,
        "-cp", os.path.join(jars, "*"), "@" + argfile],
        stdout=log, stderr=log, stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        raise BuildError("compile failed")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    r = subprocess.run(java("2g") + [
        f"-Djava.io.tmpdir={tmp}"] + JVM_OPENS + [
        "-cp", classpath, "perfbench.Export", data, docs],
        stdout=log, stderr=log, stdin=subprocess.DEVNULL, cwd=out)
    if r.returncode != 0 or not os.path.exists(docs):
        raise BuildError("documents export failed")
    shutil.rmtree(tmp, ignore_errors=True)
    open(os.path.join(out, "done"), "w").close()
    return classpath, docs, True


# Spark on JDK 17 needs these outside spark-submit (same list as build.sbt).
JVM_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[perfbench] build: {e}", file=sys.stderr)
        sys.exit(1)
