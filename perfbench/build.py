"""Builds the program and the benchmark harness from source.

Compiles the engine (`src/main/scala`) together with the harness
(`perfbench/scala`) with the Scala compiler that ships in Spark's jars
(`$SPARK_HOME/jars`), into
`.bench_build/perfbench/classes-<digest>` under the checkout root. The digest
covers every source file, so an unchanged tree is built once and a changed
tree gets a fresh directory.

  python3 perfbench/build.py        # prints the classes directory
"""

import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_home():
    """The Spark installation to build against and run on."""
    if not os.environ.get("SPARK_HOME"):
        raise SystemExit("SPARK_HOME is not set: it must name the Spark installation to build against")
    return os.environ["SPARK_HOME"]


SPARK_JARS = os.path.join(spark_home(), "jars")


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not program:
        raise SystemExit(f"no program sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"Spark jars not found at {SPARK_JARS}")
    return program + harness


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    files = sources()
    digest = source_digest(files)
    classes = os.path.join(OUT, f"classes-{digest}")
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(classes, ".ok")):
            return classes, digest
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-classpath", tmp, "-nowarn",
               "-d", tmp] + files
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit(f"build failed (scalac exit {r.returncode})")
        open(os.path.join(tmp, ".ok"), "w").close()
        os.rename(tmp, classes)
        for stale in glob.glob(os.path.join(OUT, "classes-*")):
            if stale != classes:
                shutil.rmtree(stale, ignore_errors=True)
    return classes, digest


if __name__ == "__main__":
    print(build()[0])
