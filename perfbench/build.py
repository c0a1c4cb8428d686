#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (src/main/scala) together with the benchmark's own
Scala sources (perfbench/src) into <out>/classes with the Scala compiler
that ships in Spark's jars directory ($SPARK_HOME/jars, or the one beside
spark-submit on the PATH); no sbt, no network. The build is
skipped when a stamp over every source file's path and content matches.

Usage: python3 perfbench/build.py [<out dir>]   (default: .bench_build)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else the one beside a
    spark-submit on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str(Path(d).resolve().parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").exists()]
    for home in homes:
        jars = Path(home) / "jars"
        if home and any(jars.glob("scala-compiler-*.jar")):
            return jars
    raise SystemExit("build: no Spark jars with a Scala compiler; set SPARK_HOME")


def sources():
    program = ROOT / "src" / "main" / "scala"
    bench = ROOT / "perfbench" / "src"
    if not program.is_dir():
        raise SystemExit(f"build: program sources not found at {program}")
    files = sorted(program.rglob("*.scala")) + sorted(bench.rglob("*.scala"))
    if not files:
        raise SystemExit("build: no Scala sources")
    return files


def build(out):
    """Return the classes directory, compiling first if the sources changed."""
    out = Path(out)
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args_file = out / "scalac.args"
    args_file.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(tmp), f"@{args_file}"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=800)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        raise SystemExit(f"build: scalac failed with code {proc.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else ROOT / ".bench_build"))
