"""Build file of the benchmark package.

Compiles the repo's Scala sources (src/main/scala) together with the
benchmark's own (perfbench/scala) with the Scala compiler the repo's build
pins, against the Spark jars the repo's build uses, then writes out the
repo's oracle SQL that the generator and the correctness gate run in DuckDB.
The build is skipped when no source changed since the last one.

    python3 perfbench/build.py      # prints the program jar
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# module options Spark needs on JDK 17 outside spark-submit (the repo's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def jvm_opens():
    return [o for p in ADD_OPENS for o in ("--add-opens", f"{p}=ALL-UNNAMED")]


def _build_sbt(pattern, what):
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(pattern, f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError(f"no {what} in build.sbt")
    return m.group(1)


def spark_jars():
    """The Spark jars the repo's build compiles against (or $SPARK_HOME/jars)."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        jars = _build_sbt(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', "unmanagedBase")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError(f"no Spark jars under {jars}")
    return os.path.join(jars, "*")


def scala_version():
    return _build_sbt(r'scalaVersion\s*:=\s*"([^"]+)"', "scalaVersion")


def compiler_jars(version):
    caches = [os.environ.get("COURSIER_CACHE", ""),
              os.path.expanduser("~/.cache/coursier/v1"),
              os.path.expanduser("~/.ivy2/cache")]
    found = {}
    for cache in filter(os.path.isdir, caches):
        for name in ("scala-compiler", "scala-library", "scala-reflect"):
            if name not in found:
                hits = glob.glob(os.path.join(cache, "**", f"{name}-{version}.jar"), recursive=True)
                if hits:
                    found[name] = sorted(hits)[0]
    if len(found) != 3:
        raise BuildError(f"Scala {version} compiler jars not found in {caches}")
    return [found["scala-compiler"], found["scala-library"], found["scala-reflect"]]


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]
    if not os.path.isdir(dirs[0]):
        raise BuildError(f"no program sources at {dirs[0]}")
    files = sorted(f for d in dirs for f in glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    return files


def build(work):
    """Compile if needed; return (program jar, sql dir, build stamp, seconds spent)."""
    t0 = time.monotonic()
    out = os.path.join(work, "build")
    classes, sql = os.path.join(out, "classes"), os.path.join(out, "sql")
    jar = os.path.join(out, "perfbench.jar")
    stamp_file = os.path.join(out, "stamp")
    files = sources()
    version = scala_version()
    h = hashlib.sha256(version.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(stamp_file) and os.path.isdir(sql) and os.path.exists(jar):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return jar, sql, stamp, 0.0

    jars = spark_jars()
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler_jars(version)),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", jars] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    res = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    # one jar, because a class-data-sharing archive only covers jarred classes
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, names in sorted(os.walk(classes)):
            for n in sorted(names):
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, classes))
    os.replace(jar + ".tmp", jar)

    shutil.rmtree(sql, ignore_errors=True)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", f"{jar}:{jars}",
                        "perfbench.Main", "dump-sql", sql],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("SQL dump failed:\n" + r.stdout[-4000:])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar, sql, stamp, time.monotonic() - t0


if __name__ == "__main__":
    try:
        print(build(os.path.join(ROOT, ".bench_build", "perfbench"))[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
