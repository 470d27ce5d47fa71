"""The repository benchmark: one workload, one seed, one JSON result line.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. It builds the engine and the harness
from source (perfbench/build.py), generates the workload's inputs from the
seed (perfbench/gen.py), runs the harness JVM on them (perfbench/scala), and
prints, as its last line, {"correct", "attempted", "failed", "metrics"}:
with --trace 0 the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer metrics of the traced run. Everything it writes stays under
.bench_build/ in the checkout. See perfbench/README.md for the design.

--record additionally rewrites perfbench/manifest.json with the digests this
run observed (used once, at the commit the manifest is recorded at).
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
SPARK_JARS = build.SPARK_JARS
WORKLOADS = ["submission", "batch"]
# the whole run must end within this many seconds of its start (build aside)
RUN_DEADLINE_S = 170
# input generation is repeated this many times; setup_s takes the median
GEN_REPEATS = 3
JVM_HEAP = "3g"
# Spark 4 on JDK 17 needs these outside spark-submit
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

def tree_digest(path):
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(path, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, path).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(workdir, workload, seed):
    """Generates the inputs GEN_REPEATS times; every copy must be
    byte-identical. Returns (input dir, sizes, median seconds)."""
    times, digests = [], []
    for i in range(GEN_REPEATS):
        d = os.path.join(workdir, f"input{i}")
        t = time.perf_counter()
        sizes = gen.generate(d, workload, seed)
        times.append(time.perf_counter() - t)
        digests.append(tree_digest(d))
    for i in range(1, GEN_REPEATS):
        shutil.rmtree(os.path.join(workdir, f"input{i}"))
    if len(set(digests)) != 1:
        raise SystemExit("input generator is not deterministic for this seed")
    return os.path.join(workdir, "input0"), sizes, statistics.median(times)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes, source_digest = build.build()
    start = time.monotonic()

    run_id = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    workdir = os.path.join(WORK, "work", run_id)
    results = os.path.join(WORK, "results")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "tmp"))
    os.makedirs(results, exist_ok=True)
    try:
        inputs, sizes, gen_s = generate(workdir, a.workload, a.seed)
        out = os.path.join(workdir, "out")
        cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
                "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC",
                f"-Dspark.sql.warehouse.dir={os.path.join(workdir, 'warehouse')}",
                f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')}",
                f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(workdir, 'tmp')}",
                "-cp", f"{classes}:{os.path.join(SPARK_JARS, '*')}",
                "perfbench.Main", "--workload", a.workload, "--input", inputs,
                "--seconds", str(a.seconds), "--trace", a.trace, "--out", out,
                "--manifest", os.path.join(HERE, "manifest.json")] +
               (["--record"] if a.record else []))
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(workdir, "tmp"))
        log_path = os.path.join(results, f"{a.workload}-{a.seed}-{a.trace}.log")
        with open(log_path, "w") as log:
            try:
                p = subprocess.run(cmd, cwd=workdir, env=env, stdout=log,
                                   stderr=subprocess.STDOUT,
                                   timeout=max(10, RUN_DEADLINE_S - (time.monotonic() - start)))
            except subprocess.TimeoutExpired:
                raise SystemExit(f"harness did not finish in time; log: {log_path}")
        rec_path = os.path.join(out, f"{a.workload}-{a.seed}-{a.trace}.json")
        if p.returncode != 0 or not os.path.exists(rec_path):
            sys.stderr.write(open(log_path).read()[-3000:])
            raise SystemExit(f"harness exited with {p.returncode}; log: {log_path}")
        with open(rec_path) as f:
            rec = json.load(f)
        for s in glob.glob(os.path.join(out, "*.spans.jsonl")):
            shutil.copy(s, results)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    rec.update(seed=a.seed, sizes=sizes, gen_s=gen_s, source_digest=source_digest,
               git_commit=git_commit())
    setup_s = gen_s + rec["session_s"] + rec["warmup_s"]
    if a.trace == "0":
        values = {
            "setup_s": setup_s,
            "op_p50_s": rec["op_p50_s"],
            "work_per_s": rec["units"] / rec["unit_seconds"] if rec["unit_seconds"] > 0 else 0.0,
        }
        names = spec["end_to_end"]
    else:
        values = rec["layer"]
        names = spec["per_layer"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in names}
    rec["metrics"] = {k: v["value"] for k, v in metrics.items()}
    rec["failed_share"] = rec["failed"] / rec["attempted"]
    with open(os.path.join(results, f"{a.workload}-{a.seed}-{a.trace}.json"), "w") as f:
        json.dump(rec, f)
    print(json.dumps({"record": rec}))
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
