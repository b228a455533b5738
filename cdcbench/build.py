#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark harness (cdcbench/src) into one class directory under
.bench_build/cdcbench, with the Scala compiler that ships in Spark's jars.

The output directory is keyed by a hash of every source file, so a changed
tree rebuilds and an unchanged one is reused. Run it alone with
`python3 cdcbench/build.py`; run.py calls it before every run.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build", "cdcbench")


def spark_jars():
    """Jars of the Spark distribution: $SPARK_HOME, else the first PATH entry
    holding a spark-submit next to a jars/ directory. They hold Spark, Scala
    and the Scala compiler."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if jars:
            return jars
    raise SystemExit("cdcbench: no Spark jars found; set SPARK_HOME")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not main:
        raise SystemExit("cdcbench: no program sources under src/main/scala; run from the repository root")
    bench = sorted(glob.glob(os.path.join(ROOT, "cdcbench", "src", "**", "*.scala"), recursive=True))
    if not bench:
        raise SystemExit("cdcbench: no benchmark sources under cdcbench/src")
    return main + bench


def source_hash(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()[:16]


def build():
    """Return (class dir, Spark jars, source hash), compiling if needed."""
    jars = spark_jars()
    files = sources()
    digest = source_hash(files, jars)
    out = os.path.join(BUILD, f"classes-{digest}")
    if os.path.exists(os.path.join(out, ".complete")):
        return out, jars, digest
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "scalac-args.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.pathsep.join(jars), "@" + argfile]
    print(f"cdcbench: compiling {len(files)} sources into {os.path.relpath(out, ROOT)}", file=sys.stderr)
    res = subprocess.run(cmd, cwd=ROOT)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"cdcbench: compilation failed ({res.returncode})")
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    open(os.path.join(out, ".complete"), "w").close()
    return out, jars, digest


if __name__ == "__main__":
    print(build()[0])
