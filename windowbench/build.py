"""Build file of the window-job benchmark.

Compiles the program (``src/main/scala``) together with the benchmark's own
sources (``windowbench/src``) into ``windowbench/.build/classes`` with the
Scala compiler that ships with Spark, so a checkout builds with no build tool
and no network. The Spark jar directory is the ``unmanagedBase`` of the
program's ``build.sbt`` (or ``$SPARK_HOME/jars``).

    python3 windowbench/build.py        # build if any source changed
"""
import hashlib
import os
import re
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, ".build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")


def spark_jars():
    """The directory holding Spark's jars, or None."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    return None


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    files = []
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def _stamp(files, jars):
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles if needed; returns (classes dir, jars dir). Raises on failure."""
    jars = spark_jars()
    if jars is None:
        raise RuntimeError("no Spark jars: build.sbt unmanagedBase or $SPARK_HOME/jars")
    files = sources()
    if not any(f.startswith(os.path.join(ROOT, "src", "main")) for f in files):
        raise RuntimeError("program sources (src/main/scala) not found")
    stamp = _stamp(files, jars)
    if os.path.isfile(STAMP) and open(STAMP).read() == stamp:
        return CLASSES, jars
    compiler = [os.path.join(jars, n) for n in os.listdir(jars)
                if re.match(r"scala-(compiler|library|reflect)-2\.13\.[0-9]+\.jar$", n)]
    if len(compiler) != 3:
        raise RuntimeError("Scala 2.13 compiler jars not found in " + jars)
    if os.path.isdir(CLASSES):
        subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-classpath", os.path.join(jars, "*"), "-d", CLASSES, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise RuntimeError("compilation failed")
    with open(STAMP, "w") as f:
        f.write(stamp)
    return CLASSES, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except RuntimeError as e:
        sys.exit("build: %s" % e)
