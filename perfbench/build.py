"""Build file of the benchmark: compiles the program and the harness.

The program is `src/main/scala` of the checkout; the harness is
`perfbench/harness/src`. Both are compiled with the Scala compiler that
ships in Spark's `jars/` directory ($SPARK_HOME, or the installation of the
`spark-submit` on PATH), against those jars, into
`.bench_build/` of the checkout. A build is reused while the sources it was
made from are unchanged (a content hash is stored next to the classes).

    python3 perfbench/build.py      # build, print the class path
"""

import glob
import hashlib
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")


def _spark_home():
    """$SPARK_HOME, else the first Spark installation (a directory with
    `bin/spark-submit` and the Scala compiler in `jars/`) found on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.exists(submit) and glob.glob(
                os.path.join(home, "jars", "scala-compiler-*.jar")):
            return home
    raise SystemExit("build: set SPARK_HOME or put Spark's bin/ on PATH")


SPARK_JARS = os.path.join(_spark_home(), "jars", "*")


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(name, srcs, classpath, extra_key=""):
    out = os.path.join(BUILD, name)
    stamp = os.path.join(out, "STAMP")
    key = _digest(srcs, extra_key)
    if os.path.exists(stamp) and open(stamp).read() == key:
        return out
    if not srcs:
        raise SystemExit(f"build: no Scala sources for {name}")
    subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(os.path.join(out, "classes"))
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", SPARK_JARS, "scala.tools.nsc.Main", "-nowarn",
           "-d", os.path.join(out, "classes"), "-classpath", classpath,
           "@" + args_file]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: compiling {name} failed")
    with open(stamp, "w") as f:
        f.write(key)
    return out


def build():
    """Compile what changed; return the run-time class path."""
    prog_src = os.path.join(ROOT, "src", "main", "scala")
    prog = _compile("program", _sources(prog_src), SPARK_JARS)
    prog_cls = os.path.join(prog, "classes")
    harness = _compile(
        "harness", _sources(os.path.join(ROOT, "perfbench", "harness", "src")),
        prog_cls + os.pathsep + SPARK_JARS,
        extra_key=open(os.path.join(prog, "STAMP")).read())
    return os.pathsep.join(
        [os.path.join(harness, "classes"), prog_cls, SPARK_JARS])


if __name__ == "__main__":
    print(build())
