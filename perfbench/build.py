"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark's own Scala sources (perfbench/src) into one jar with
the Scala compiler that ships with the Spark distribution.

    python3 perfbench/build.py            # from the repository root

The output is one jar, perfbench.jar, in $CARGO_TARGET_DIR (default
.bench_build) under the repository root; it is reused while no source file
changes. Rebuilding it drops the class-data-sharing archive run.py keeps
beside it, which was made for the old jar.
"""

import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")

# Spark 4.x on JDK 17 needs these when a session is created outside
# spark-submit; the same list as build.sbt's javaOptions.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: set SPARK_HOME to a Spark distribution")
    return jars


def sources(top, suffix):
    out = []
    for d, _, files in os.walk(top):
        out.extend(os.path.join(d, f) for f in files if f.endswith(suffix))
    return sorted(out)


def jar_path():
    return os.path.join(build_dir(), "perfbench.jar")


def cds_archive():
    return os.path.join(build_dir(), "perfbench.jsa")


def classpath():
    return os.pathsep.join([jar_path(), os.path.join(spark_jars(), "*")])


def build():
    """Compile if any source changed; return the run classpath."""
    for d in (PROGRAM_SRC, BENCH_SRC):
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing source directory {d}")
    srcs = sources(PROGRAM_SRC, ".scala") + sources(BENCH_SRC, ".scala")
    res = sources(PROGRAM_RES, "") if os.path.isdir(PROGRAM_RES) else []
    digest = hashlib.sha256()
    for f in srcs + res:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    stamp_file = jar_path() + ".sha256"
    if os.path.exists(jar_path()) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classpath()
    classes = os.path.join(build_dir(), "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={build_dir()}",
           "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", jars] + srcs
    r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    tmp = jar_path() + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for f in sources(classes, ""):
            z.write(f, os.path.relpath(f, classes))
        for f in res:
            z.write(f, os.path.relpath(f, PROGRAM_RES))
    shutil.rmtree(classes)
    for f in (cds_archive(), stamp_file):
        if os.path.exists(f):
            os.remove(f)
    os.replace(tmp, jar_path())
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return classpath()


if __name__ == "__main__":
    print(build())
