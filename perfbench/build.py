"""Builds the benchmark harness: the program's sources (src/main/scala)
plus the harness's own (perfbench/src), compiled with the Scala compiler
that ships in the Spark jar directory, into perfbench/.build/app.jar. A
short training run then writes a JVM class-data-sharing archive
(perfbench/.build/app.jsa) of the classes a benchmark JVM loads, which
cuts several seconds of class loading from every run.

A digest of every source file is kept beside the jar; an unchanged tree
is not rebuilt. Run directly to build: `python3 perfbench/build.py`.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"
CLASSES = BUILD / "classes"
JAR = BUILD / "app.jar"
ARCHIVE = BUILD / "app.jsa"
STAMP = BUILD / "sources.sha256"
# JDK 17 module opens Spark needs outside spark-submit
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io",
         "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def classpath() -> str:
    return f"{JAR}:{spark_jars()}/*"


def java(heap: str, main: str, args: list, archive: str) -> list:
    """The JVM command line of a harness process. `archive` is the
    -XX option that writes or maps the class-data-sharing archive."""
    return (["java", f"-Xmx{heap}", "-XX:+UseParallelGC", archive,
             "-Xlog:disable", "-Xlog:all=error:stderr"]
            + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", classpath(), main] + args)


def spark_jars() -> Path:
    return Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"


def sources() -> list:
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise SystemExit(f"build: program sources not found at {program}")
    return sorted(p for d in (program, HERE / "src")
                  for p in d.rglob("*.scala"))


def digest(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build() -> Path:
    files = sources()
    want = digest(files)
    if JAR.exists() and STAMP.exists() and STAMP.read_text() == want:
        return JAR
    shutil.rmtree(BUILD, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    cp = f"{spark_jars()}/*"
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(CLASSES), "-cp", cp, f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(BUILD, ignore_errors=True)
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    subprocess.run(["jar", "cf", str(JAR), "-C", str(CLASSES), "."],
                   check=True)
    shutil.rmtree(CLASSES)
    train = BUILD / "train"
    # a failed training run only costs the archive; the JVM then runs
    # without one
    subprocess.run(java("2g", "perfbench.Train", [str(train)],
                        f"-XX:ArchiveClassesAtExit={ARCHIVE}"),
                   stdout=sys.stderr, stderr=sys.stderr, timeout=300)
    shutil.rmtree(train, ignore_errors=True)
    STAMP.write_text(want)
    return JAR


if __name__ == "__main__":
    print(build())
