#!/usr/bin/env python3
"""Build file of the kaer benchmark.

    python3 kaerbench/build.py

Compiles the program (src/main/scala) together with the benchmark
(kaerbench/src) with the Scala compiler that ships in Spark's jars, and
packs classes and the program's resources into one jar under
.bench_build/kaerbench in the checkout. It then makes one short run of
`search`, answers checked, to record a class-data-sharing archive of the
classes a run loads, most of them Spark's: later JVMs map the
archive instead of loading and verifying those classes, which takes
about ten seconds off each run's set-up and does not change how the
program runs once loaded.

A build whose sources are unchanged is reused.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "kaerbench"
JAR = OUT / "kaerbench.jar"
ARCHIVE = OUT / "classes.jsa"
# Spark's jars: $SPARK_HOME, else the install whose spark-submit is on PATH
SPARK_HOME = os.environ.get("SPARK_HOME") or (
    shutil.which("spark-submit") and Path(shutil.which("spark-submit")).resolve().parents[1])
SPARK_JARS = Path(SPARK_HOME or "spark-not-found") / "jars"
HEAP = "3g"
# The module opens Spark needs on JDK 17 when started outside spark-submit.
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


class BuildError(Exception):
    pass


def java_cmd(tmpdir, *flags):
    """The JVM a benchmark run uses, up to the main class."""
    return (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", *flags,
             f"-Djava.io.tmpdir={tmpdir}", "-Dfile.encoding=UTF-8",
             f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
            + [a for p in OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + ["-cp", os.pathsep.join([str(JAR), str(SPARK_JARS / "*")]),
               "kaerbench.Main"])


def sources():
    if not SPARK_JARS.is_dir():
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    dirs = [ROOT / "src" / "main" / "scala", HERE / "src"]
    if not all(d.is_dir() for d in dirs):
        raise BuildError(f"no program sources: {dirs[0]} is missing")
    return sorted(p for d in dirs for p in d.rglob("*.scala"))


def compile_jar(files):
    classes = OUT / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    (OUT / "sources.txt").write_text("\n".join(str(p) for p in files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           f"-Djava.io.tmpdir={OUT}", "-cp", str(SPARK_JARS / "*"),
           "scala.tools.nsc.Main", "-encoding", "UTF-8", "-nowarn",
           "-d", str(classes), "-cp", str(SPARK_JARS / "*"), f"@{OUT / 'sources.txt'}"]
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        raise BuildError("scalac failed")
    resources = ROOT / "src" / "main" / "resources"
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_DEFLATED) as z:
        for base in (classes, resources):
            for p in sorted(base.rglob("*")):
                if p.is_file():
                    z.write(p, p.relative_to(base).as_posix())
    shutil.rmtree(classes)


def record_archive():
    """One short run, dumping the classes it loaded."""
    run_dir = OUT / "train"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    try:
        cmd = java_cmd(run_dir / "tmp", f"-XX:ArchiveClassesAtExit={ARCHIVE}",
                       "-Xlog:cds=off") + [
            "--workload", "search", "--seed", "0", "--seconds", "1",
            "--trace", "0", "--run-dir", str(run_dir), "--cores", str(os.cpu_count() or 1),
            "--launched-ms", "0"]
        if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
            raise BuildError("the recording run failed")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def ensure():
    """Build (or reuse) the jar and its class archive; returns the JVM
    flag that maps the archive."""
    files = sources()
    digest = hashlib.sha256()
    for p in files:
        digest.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    stamp = OUT / "stamp"
    if stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return f"-XX:SharedArchiveFile={ARCHIVE}"
    OUT.mkdir(parents=True, exist_ok=True)
    stamp.unlink(missing_ok=True)
    ARCHIVE.unlink(missing_ok=True)
    compile_jar(files)
    record_archive()
    stamp.write_text(digest.hexdigest())
    return f"-XX:SharedArchiveFile={ARCHIVE}"


if __name__ == "__main__":
    try:
        ensure()
    except BuildError as e:
        sys.exit(f"build failed: {e}")
    print(JAR)
