"""Build definition of the benchmark package.

Compiles the engine sources (src/main/scala) and the benchmark sources
(perfbench/src) in one Scala compiler run against the Spark jars the
engine's build.sbt compiles against (that directory ships the Scala 2.13
compiler the engine's build uses). The classes go to .bench_build/classes-<source hash>, so a checkout
builds once and reuses the result until a source file changes.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [arg for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for arg in ("--add-opens", f"{p}=ALL-UNNAMED")]

SOURCE_DIRS = ("src/main/scala", "perfbench/src")
RESOURCE_DIR = "src/main/resources"
REUSED = False


def spark_jars(root):
    """The Spark jars directory: $SPARK_HOME/jars, else the one the
    repository's build.sbt compiles against (`unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise SystemExit("perfbench: build.sbt names no unmanagedBase; set SPARK_HOME")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark jars with a Scala compiler under {jars} (set SPARK_HOME)")
    return jars


def sources(root):
    for d in SOURCE_DIRS:
        if not os.path.isdir(os.path.join(root, d)):
            raise SystemExit(f"perfbench: {d} not found under {root}: run from the repository root")
    out = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(os.path.join(root, d)):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_hash(root):
    h = hashlib.sha256()
    for path in sources(root):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(sorted(os.listdir(spark_jars(root))).__repr__().encode())
    return h.hexdigest()


def classpath(root, classes):
    return os.pathsep.join([classes, os.path.join(root, RESOURCE_DIR), os.path.join(spark_jars(root), "*")])


def ensure(root, out):
    """Returns the classes directory, compiling first if it is missing."""
    global REUSED
    classes = os.path.join(out, "classes-" + source_hash(root)[:16])
    if os.path.isdir(classes):
        REUSED = True
        return classes
    for old in glob.glob(os.path.join(out, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(out, "scalac-sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources(root)) + "\n")
    jars = os.path.join(spark_jars(root), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile]
    print("perfbench: compiling engine and benchmark sources", file=sys.stderr)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if res.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed ({res.returncode})")
    os.rename(tmp, classes)
    return classes
