"""Build file of the benchmark: compiles the program and the harness.

Two stages, each with the Scala compiler that ships with Spark and each
skipped when its sources are unchanged:

1. the program, every file under `src/main/scala`, into `<build>/program`;
2. the harness, `perfbench/harness/*.scala`, into `<build>/harness`.

Spark's jars come from `$SPARK_HOME/jars`, or else from the Spark install
that holds the `spark-submit` found on PATH.

    python3 perfbench/build.py            # prints the run classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "harness")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build")
    return os.path.abspath(os.path.join(ROOT, d))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("perfbench: no Spark jars found; set SPARK_HOME")
    return jars


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def _stamp(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(name, srcs, classpath, log, extra=""):
    out = os.path.join(build_dir(), name)
    stamp_file = out + ".stamp"
    stamp = _stamp(srcs, classpath + extra)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out, stamp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath] + srcs
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise SystemExit(f"perfbench: compiling the {name} failed, see {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out, stamp


def build():
    """Compile what changed; return the classpath that runs the harness."""
    program = sources(PROGRAM_SRC)
    if not program:
        raise SystemExit(f"perfbench: no program sources under {PROGRAM_SRC}")
    os.makedirs(build_dir(), exist_ok=True)
    jars = os.path.join(spark_jars(), "*")
    prog, prog_stamp = _compile("program", program, jars,
                                os.path.join(build_dir(), "build-program.log"))
    cp = os.pathsep.join([prog, jars])
    # The harness stamp covers the program's, so it rebuilds against it.
    harness, _ = _compile("harness", sources(HARNESS_SRC), cp,
                          os.path.join(build_dir(), "build-harness.log"), prog_stamp)
    return os.pathsep.join([harness, prog, jars])


if __name__ == "__main__":
    print(build())
    sys.exit(0)
