"""Build file of the benchmark package: compiles the engine (`src/main`) and
the benchmark driver (`graftbench/src`) with the Scala compiler that ships in
Spark's jar directory, into `.bench_build/graftbench/` of the checkout.

The build is keyed by a hash of every source file, so an unchanged tree is
built once. Run on its own with `python3 graftbench/build.py`.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.environ.get("SPARK_HOME", "/opt/spark") + "/jars"
JAVA = shutil.which("java") or "java"

# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def _sources(root):
    engine = os.path.join(root, "src", "main", "scala")
    bench = os.path.join(root, "graftbench", "src")
    if not os.path.isdir(engine):
        raise BuildError(f"engine sources not found under {engine}")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(bench, "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def build(root):
    """Compile if needed; return the run classpath."""
    files = _sources(root)
    resources = os.path.join(root, "src", "main", "resources")
    h = hashlib.sha256()
    for f in files + sorted(glob.glob(os.path.join(resources, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    key = h.hexdigest()[:16]
    base = os.path.join(root, ".bench_build", "graftbench")
    classes = os.path.join(base, f"classes-{key}")
    cp = f"{classes}:{SPARK_JARS}/*"
    if os.path.isdir(classes):
        return cp
    if not os.path.isdir(SPARK_JARS):
        raise BuildError(f"Spark jars not found at {SPARK_JARS}")
    tmp = f"{classes}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = [JAVA, "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={base}",
           "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    os.rename(tmp, classes)
    for old in glob.glob(os.path.join(base, "classes-*")):
        if old != classes:
            shutil.rmtree(old, ignore_errors=True)
    return cp


if __name__ == "__main__":
    try:
        print(build(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
