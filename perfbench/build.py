"""Build the engine and the benchmark harness from source.

Compiles src/main/scala (the engine, unchanged) together with
perfbench/src (the harness) with the Scala compiler that ships among
the Spark jars, into <build>/classes. A stamp of the source contents
skips the compile when nothing changed since the last build.
perfbench/run.py calls build() before each run.
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


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise SystemExit("build: set SPARK_HOME (build.sbt names no unmanagedBase)")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Spark jars with a Scala compiler under {jars}")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala")
    harness = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return engine + harness


def build(build_dir, children=None):
    """Compile if needed; returns the classpath to run with. The compiler
    process is listed in `children` while it runs, for the caller to stop."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    cp = f"{classes}:{jars}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", f"{jars}/*", "@" + argfile]
    print("[build] compiling %d sources" % len(srcs), file=sys.stderr, flush=True)
    children = [] if children is None else children
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    children.append(p)
    p.wait()
    children.remove(p)
    if p.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {p.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp

