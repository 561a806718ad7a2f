#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's main sources and the
benchmark's own Scala sources with scalac, against the Spark jars the program
builds with, into one jar; then runs every workload once to record a JVM
class-data archive, which cuts each run's JVM and Spark start-up.

    python3 perfbench/build.py            # from the repository root

The output goes to $CARGO_TARGET_DIR (default `.bench_build`) and is rebuilt
only when a source file changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    """The jar directory the program's build declares (`unmanagedBase`), or
    $SPARK_HOME/jars."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    sys.exit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources():
    if not os.path.isdir(MAIN_SRC):
        sys.exit(f"perfbench: program sources not found under {MAIN_SRC}")
    out = []
    for base in (MAIN_SRC, MAIN_RES, BENCH_SRC):
        out += sorted(p for p in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                      if os.path.isfile(p))
    return out


# what spark-submit would pass to a JDK 17 driver
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def jar_path():
    return os.path.join(build_dir(), "graftbench.jar")


def archive_path():
    return os.path.join(build_dir(), "graftbench.jsa")


def java_cmd(work, args, archive="use"):
    """The benchmark JVM: one process, every scratch file under `work`."""
    cds = {"use": [f"-XX:SharedArchiveFile={archive_path()}", "-Xshare:auto"],
           "record": [f"-XX:ArchiveClassesAtExit={archive_path()}"]}[archive]
    return (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
             f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
             f"-Dspark.sql.warehouse.dir={work}/warehouse"] + cds + ADD_OPENS +
            ["-cp", jar_path() + os.pathsep + os.path.join(spark_jars(), "*"),
             "graftbench.Main"] + args)


def record_archive(out):
    work = os.path.join(out, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(work, ["--workload", "train", "--seed", "1", "--seconds", "0",
                          "--trace", "0", "--work", work, "--out", os.path.join(work, "none")],
                   archive="record")
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, cwd=work)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(archive_path()):
        sys.stderr.write(r.stdout[-8000:])
        sys.exit("perfbench: recording the class-data archive failed")


def build():
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = build_dir()
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = os.path.join(out, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(s for s in srcs if s.endswith(".scala")))
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        sys.exit("perfbench: compilation failed")
    if os.path.isdir(MAIN_RES):
        shutil.copytree(MAIN_RES, tmp, dirs_exist_ok=True)
    for f in (jar_path(), archive_path(), stamp_file):
        if os.path.exists(f):
            os.remove(f)
    with zipfile.ZipFile(jar_path(), "w") as z:
        for d, _, files in os.walk(tmp):
            for f in sorted(files):
                full = os.path.join(d, f)
                z.write(full, os.path.relpath(full, tmp))
    shutil.rmtree(tmp)
    record_archive(out)
    with open(stamp_file, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()
