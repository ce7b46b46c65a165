"""Build file of the benchmark.

Compiles graft's sources (src/main/scala) together with the benchmark's own
(perfbench/src) into .bench_build/classes-<digest>, with the Scala compiler
that ships among Spark's jars. The digest covers every source file and this
file, so an unchanged tree is not compiled twice. Run alone with
`python3 perfbench/build.py`; run.py calls it before every run.
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise SystemExit("perfbench: no java found (set JAVA_HOME or put java on PATH)")
    return exe


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def sources():
    files = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        if not os.path.isdir(base):
            raise SystemExit(f"perfbench: missing source directory {os.path.relpath(base, ROOT)}")
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Returns the classes directory, compiling first if it is missing."""
    files = sources()
    out = os.path.join(BUILD, "classes-" + digest(files))
    done = os.path.join(out, ".complete")
    if os.path.exists(done):
        return out
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(done):
            return out
        for old in glob.glob(os.path.join(BUILD, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        os.makedirs(out)
        argfile = os.path.join(BUILD, "scalac-args.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files))
        cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out, "@" + argfile]
        print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            shutil.rmtree(out, ignore_errors=True)
            raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
        open(done, "w").close()
    return out


if __name__ == "__main__":
    print(build())
