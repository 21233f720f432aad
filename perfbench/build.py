#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) and the benchmark harness
(`perfbench/src`) with the Scala compiler that ships in Spark's own jars
directory, so no build tool or dependency resolution is needed. Outputs go
under `.bench_build/` at the checkout root:

    .bench_build/program/   program classes (rebuilt when src/main changes)
    .bench_build/harness/   harness classes (rebuilt when either changes)

Each output directory carries a `.stamp` with the hash of its inputs; an
up-to-date output is reused. Run directly with `python3 perfbench/build.py`.
"""
import glob
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Spark's jars directory: `$SPARK_HOME/jars`, else that of the Spark
    `spark-submit` on the PATH belongs to, else that of the pyspark package."""
    homes = [os.environ.get("SPARK_HOME")]
    if shutil.which("spark-submit"):
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit")))))
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.origin:
        homes.append(os.path.dirname(spec.origin))
    for home in filter(None, homes):
        if glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars", "*")
    raise SystemExit("no Spark with a Scala compiler in its jars; set SPARK_HOME")


def sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_into(out, srcs, classpath, stamp):
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return False
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args_file = os.path.join(OUT, os.path.basename(out) + ".args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(f'"{s}"' for s in srcs))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-deprecation:false", "-d", out, "-classpath", classpath,
           "@" + args_file]
    r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(f"compile failed: {out}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return True


def build():
    """Compile what is stale; return the runtime classpath."""
    prog_src = sources(os.path.join(ROOT, "src", "main", "scala"))
    if not prog_src:
        raise SystemExit("no program sources under src/main/scala")
    bench_src = sources(os.path.join(HERE, "src"))
    os.makedirs(OUT, exist_ok=True)
    prog = os.path.join(OUT, "program")
    harness = os.path.join(OUT, "harness")
    prog_stamp = digest(prog_src)
    compile_into(prog, prog_src, spark_jars(), prog_stamp)
    compile_into(harness, bench_src, prog + os.pathsep + spark_jars(),
                 digest(bench_src, prog_stamp))
    return os.pathsep.join([harness, prog, spark_jars()])


if __name__ == "__main__":
    print(build())
    sys.exit(0)
