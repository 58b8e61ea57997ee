"""Build file of the benchmark: compiles the program's own sources
(`src/main/scala`) together with the benchmark program (`perfbench/src`)
with the Scala compiler bundled in the Spark distribution the program's
`build.sbt` points at. The output lands under `.bench_build/perfbench` and is
reused while no source file changes.

    python3 perfbench/build.py        # build (or confirm the build is current)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


def spark_jars():
    """The jar directory `build.sbt` declares as `unmanagedBase`, else
    `$SPARK_HOME/jars`."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"perfbench: no Spark jars found in {jars!r}")
    return jars


def sources():
    files = sorted(p for d in SOURCE_DIRS
                   for p in glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    if not any(p.startswith(SOURCE_DIRS[0]) for p in files):
        raise SystemExit(f"perfbench: no program sources under {SOURCE_DIRS[0]}")
    return files


def java_env(tmp):
    """JVM flags shared by the compiler and the benchmark JVMs: no perf-data
    files and a temp directory inside the build output."""
    os.makedirs(tmp, exist_ok=True)
    return ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]


def build():
    """Compile if any source changed; return the runtime classpath."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256(jars.encode())
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    classpath = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = (["java", "-Xss8m", "-Xmx2g"] + java_env(os.path.join(OUT, "tmp")) +
           ["-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
            "-encoding", "UTF-8", "-d", tmp] + files)
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    print(build())
