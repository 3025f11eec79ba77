#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark's JVM side (perfbench/src) with the Scala compiler that
ships in Spark's jars directory ($SPARK_HOME/jars, or the jars beside the
spark-submit found on PATH).
No dependency resolution and no sbt state: every input is either in the
checkout or in the Spark distribution, and every output lands under
.bench_build/perfbench. A stamp over the sources skips unchanged builds.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]

# JPMS opens Spark needs on JDK 17 outside spark-submit (the list of
# org.apache.spark.launcher.JavaModuleOptions, as in build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "jdk.internal.ref", "sun.nio.ch", "sun.nio.cs", "sun.security.action",
    "sun.util.calendar")]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else []
    homes += [(Path(d) / "spark-submit").resolve().parent.parent
              for d in os.environ.get("PATH", "").split(os.pathsep)
              if (Path(d) / "spark-submit").is_file()]
    for home in homes:
        if any((home / "jars").glob("scala-compiler-*.jar")):
            return home / "jars"
    raise BuildError("no Spark distribution with a Scala compiler in its jars: set SPARK_HOME")


def sources() -> list:
    main = SOURCE_DIRS[0]
    if not main.is_dir():
        raise BuildError(f"engine sources missing: {main}")
    files = sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources")
    return files


def stamp(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build() -> Path:
    """Compile if the sources changed; return the classes directory."""
    files = sources()
    jars = spark_jars()
    classes = OUT / "classes"
    stamp_file = OUT / "stamp"
    want = stamp(files)
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == want:
        return classes
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", str(tmp), "-classpath", cp, *map(str, files)],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(want)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
