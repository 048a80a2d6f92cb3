#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together
with the benchmark's own Scala sources into one jar, with the Scala
compiler and Spark jars of the local Spark installation.

    python3 perfbench/build.py OUT_DIR

Rebuilds only when a source file changed (content hash stamp). Prints
the classpath the benchmark JVM needs.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]
RESOURCES = ROOT / "src" / "main" / "resources"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("build: neither SPARK_HOME nor spark-submit on PATH")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        sys.exit(f"build: no Scala compiler among the Spark jars in {jars}")
    return jars


def sources():
    return sorted(p for d in SOURCES for p in d.rglob("*.scala"))


def build(out_dir):
    out = Path(out_dir)
    classes = out / "classes"
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(str(jars).encode())
    for p in srcs + sorted(RESOURCES.rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    stamp = out / "classes.stamp"
    jar = out / "classes.jar"
    # a jar, not the class directory: the JVM's class-data archive
    # (run.py) covers only classes loaded from jars
    cp = f"{jar}{os.pathsep}{jars}/*"
    if jar.exists() and stamp.exists() and stamp.read_text() == h.hexdigest():
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = out / "scalac.args"
    argfile.write_text("\n".join(str(p) for p in srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-classpath", f"{jars}/*", "-d", str(classes), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("build: scalac failed")
    shutil.copytree(RESOURCES, classes, dirs_exist_ok=True)
    r = subprocess.run(["jar", "cf", str(jar), "-C", str(classes), "."],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("build: jar failed")
    stamp.write_text(h.hexdigest())
    return cp


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else ROOT / ".bench_build"))
