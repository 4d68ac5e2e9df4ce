"""Build file of the benchmark package: compiles the program's main sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`) with
the Scala compiler that ships in Spark's jar directory, and copies the
program's resources next to the classes. The build is skipped when no source
changed since the last one.

    python3 perfbench/build.py [build_dir]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Spark jar directory with a Scala compiler found (SPARK_HOME={home!r})")
    return jars


# No hsperfdata file under the system temp dir, plus the --add-opens flags
# Spark needs on JDK 17 outside spark-submit.
JVM_OPTIONS = ["-XX:-UsePerfData"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"missing source directory {d}")
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(build_dir):
    """Compile if needed; return the run classpath."""
    files = sources()
    classes = os.path.join(build_dir, "classes")
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files + sorted(glob.glob(os.path.join(RESOURCES, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = os.path.join(build_dir, "build.stamp")
    classpath = f"{classes}{os.pathsep}{jars}/*"
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classpath
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-classpath", f"{jars}/*", "-d", classes, "-nowarn",
           "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0:
        raise SystemExit("compilation failed")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, classes, dirs_exist_ok=True)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build", "perfbench")
    print(build(os.path.abspath(out)))
