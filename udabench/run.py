#!/usr/bin/env python3
"""UDA service benchmark of graft (see README.md in this directory).

    python3 udabench/run.py --workload {ingest,query} \\
        --seed N --seconds S --trace {0,1} [--negative-control]

Run from the repository root. Builds the program and the harness from
source (udabench/build.py), writes the seeded plan, runs it in one JVM
and prints one JSON result line as the last line of stdout; every log
line goes to stderr. `--trace 0` reports the end-to-end metrics,
`--trace 1` the per-layer ones. `--negative-control` perturbs one
expected answer, so the run must report "correct": false.
"""
import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import workloads  # noqa: E402

TIME_LIMIT_S = 170  # a run exits within 180 s, plus a build when it compiles
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def cpu_ticks():
    """(steal, total) jiffies of the machine, from /proc/stat"""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def log(msg):
    print(f"udabench: {msg}", file=sys.stderr, flush=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.PLANS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--negative-control", action="store_true")
    a = ap.parse_args()

    classes, build_s = build.build()
    data = os.path.abspath(os.environ.get(
        "GRAFT_TESTDATA", os.path.expanduser("~/testdata")))
    if not os.path.isfile(os.path.join(data, "sf0.01", "customer.parquet")):
        sys.exit(f"udabench: no test data under {data}")
    work = os.path.abspath(os.path.join(
        ".udabench", "runs", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        out = run(a, classes, build_s, data, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


def run(a, classes, build_s, data, work):
    rng = random.Random(a.seed)
    plan = workloads.PLANS[a.workload](rng, data, work)
    if a.negative_control:
        workloads.perturb_plan(plan)
    with open(os.path.join(work, "plan.json"), "w") as f:
        json.dump(plan, f)

    jars = build.spark_jars()
    cmd = (["java", "-Xmx1g", "-XX:-UsePerfData", "-Xss8m",
            f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
              "graft.udabench.Main", "--work", work,
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cpus", str(len(os.sched_getaffinity(0)))])
    left = TIME_LIMIT_S + build_s - (time.time() - T_START)
    steal0, total0 = cpu_ticks()
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=max(left, 1))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("udabench: the JVM overran the time limit")
    if rc != 0:
        sys.exit(f"udabench: the JVM exited with {rc}")
    steal1, total1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests while the JVM ran:
    # figures from runs with much steal are not comparable
    log(f"JVM wall {time.time() - T_START - build_s:.1f} s since start, "
        f"steal {100 * (steal1 - steal0) / max(total1 - total0, 1):.0f}%")
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)

    errs = list(res["mismatches"])
    check = workloads.CHECKS.get(a.workload)
    if check:
        t0 = time.time()
        errs += check(plan, res, work, a.negative_control)
        log(f"{a.workload} checks took {time.time() - t0:.1f} s")
    for e in errs:
        log(f"check failed: {e}")
    log(f"{res['checked']} answers checked, {len(errs)} check failures; "
        + ", ".join(f"{k}={v:.4g}" for k, v in res["info"].items()))

    units = {"peak_rss_mb": "MiB"}
    metrics = dict(res["metrics"])
    if not a.trace:
        metrics["setup_s"] = res["ready_ms"] / 1000.0 - T_START - build_s
        metrics["peak_rss_mb"] = res["peak_rss_mb"]
    return {"correct": not errs and res["checked"] > 0,
            "attempted": res["attempted"], "failed": res["failed"],
            "metrics": {k: {"value": v, "unit": units.get(k, unit_of(k))}
                        for k, v in sorted(metrics.items())}}


def unit_of(name):
    """the unit BENCHMARK.json declares for a metric, from its name"""
    if name == "items_per_s":
        return "1/s"
    if name.endswith("_ms") or name.endswith("_ms_per_10k_nodes"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("per_input_byte") or name.endswith("per_entity"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
