#!/usr/bin/env python3
"""graft benchmark: four knowledge-graph workloads at local[nproc].

    python3 perfbench/run.py --workload {extract,ingest,corpus,query,all}
        [--seed N] [--seconds S] [--trace 0|1]

Builds the program from source (see build.py), runs the workload in one JVM,
prints a table of its metrics and, as the last line of standard output, one
JSON object with the keys correct, attempted, failed and metrics. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the per-layer
ones, and the spans go to .bench_build/traces/. Exits non-zero when any
operation or correctness check fails. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["extract", "ingest", "corpus", "query"]
DEFAULT_SEED = 1
TIMEOUT_S = 175  # per workload, build excluded
HEAP = "3g"
# C1 only: a run lives about half a minute, too short for C2 to settle. On 4
# vCPUs, with C2 the timed operations sat on the JIT warm-up curve and their
# medians spread 20-24% between seeds; C1 code is steady after the warm-up.
JIT = "-XX:TieredStopAtLevel=1"

# Spark on JDK 17 outside spark-submit needs these (JavaModuleOptions).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def fmt(v):
    return "n/a" if v is None else f"{v:,.4f}".rstrip("0").rstrip(".")


def print_table(r, trace):
    print(f"== {r['workload']}: {r['attempted']} attempted, {r['failed']} failed, "
          f"setups {', '.join(f'{s:.3f}' for s in r['setups_s'])} s")
    for name, value, unit in r["summary"]:
        print(f"  {name:<34} {fmt(value):>16} {unit}")
    print("  op_ms " + " ".join(f"{v:.0f}" for v in r["op_ms"]))
    if trace:
        print("  per-layer (traced half of the run):")
        for name in sorted(r["metrics"]):
            m = r["metrics"][name]
            print(f"  {name:<34} {fmt(m['value']):>16} {m['unit']}")
    for e in r["errors"]:
        print(f"  ERROR {e}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classes = build.build()
    work = os.path.join(build.BUILD, f"work-{os.getpid()}")
    traces = os.path.join(build.BUILD, "traces")
    jars = build.spark_jars()
    cp = os.pathsep.join([classes, os.path.join(build.ROOT, "src", "main", "resources"),
                          os.path.join(jars, "*")])
    cmd = [build.java(), f"-Xmx{HEAP}", JIT, "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}",
           "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties")]
    for p in OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores()),
            "--work", work, "--out", traces]
    n = len(WORKLOADS) if a.workload == "all" else 1
    os.makedirs(work, exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S * n)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"perfbench: {a.workload} did not finish within {TIMEOUT_S * n} s")
    shutil.rmtree(work, ignore_errors=True)
    results = [json.loads(line.split(" ", 1)[1]) for line in out.splitlines()
               if line.startswith("PERFBENCH_RESULT ")]
    if len(results) != n:
        sys.stdout.write(out)
        raise SystemExit(f"perfbench: the benchmark process exited {proc.returncode} "
                         f"with {len(results)} of {n} results")
    for r in results:
        print_table(r, a.trace)
    if n == 1:
        metrics = results[0]["metrics"]
    else:
        metrics = {f"{r['workload']}.{k}": v for r in results for k, v in r["metrics"].items()}
    correct = proc.returncode == 0 and all(r["correct"] for r in results)
    print(json.dumps({"correct": correct,
                      "attempted": sum(r["attempted"] for r in results),
                      "failed": sum(r["failed"] for r in results),
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
