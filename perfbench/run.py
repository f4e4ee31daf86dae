#!/usr/bin/env python3
"""Benchmark of the graph engine, run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark's JVM side from source (perfbench/build.py),
generates the workload's inputs from the seed, and drives the engine's public
entry points from one client thread on local[4] for `--seconds` seconds of
whole passes, checking every output. The last stdout line is one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json when untraced, the per-layer metrics (from the span file the
traced run writes) when traced. The line before it holds the run's context:
host state, reference timings and where the run record lies.

Workloads (see BENCHMARK.json for why each exists):
  webgraph             power-law pages -> id map -> CSR build -> PageRank;
                       site-local pages -> components, label propagation,
                       triangles
  small-graph-queries  five SparkEntry queries on a 937-vertex graph,
                       checked against their DuckDB oracle
Exits non-zero when the build fails or any output check fails.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("webgraph", "small-graph-queries")
CALL_METRICS = ("build_s", "pagerank_s", "cc_s", "lp_s", "triangles_s")
TIME_LIMIT_S = 175
JVM_HEAP = "3g"


def cpu_counters():
    """(steal, total) jiffies over all CPUs, and the CPU pressure stall total
    in microseconds (0 where the kernel does not report it)."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    stall = 0
    if os.path.exists("/proc/pressure/cpu"):
        with open("/proc/pressure/cpu") as fh:
            stall = int(fh.readline().rsplit("total=", 1)[1])
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks[:8]), stall


def contention(before, after, seconds):
    """Share of CPU time the hypervisor gave to other guests, and the share
    of wall time some runnable task here waited for a CPU."""
    steal = (after[0] - before[0]) / max(1, after[1] - before[1])
    return {"steal_share": steal, "cpu_pressure_share": (after[2] - before[2]) / 1e6 / seconds}


def host_state():
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    llc = None
    cache = "/sys/devices/system/cpu/cpu0/cache"
    if os.path.isdir(cache):
        for idx in sorted(os.listdir(cache)):
            try:
                with open(os.path.join(cache, idx, "level")) as fh:
                    level = int(fh.read())
                with open(os.path.join(cache, idx, "size")) as fh:
                    size = fh.read().strip()
            except (OSError, ValueError):
                continue
            if level == 3 and size.endswith("K"):
                llc = int(size[:-1]) / 1024.0
    return {"load1": load1, "nproc": len(os.sched_getaffinity(0)), "llc_mb": llc}


def membw_gbs():
    """Single-thread read bandwidth over an array larger than the LLC."""
    a = np.ones(48 << 20)
    best = min(_timed(a.sum) for _ in range(3))
    gbs = a.nbytes / best / 1e9
    del a
    return gbs


def _timed(f):
    t0 = time.perf_counter()
    f()
    return time.perf_counter() - t0


def median(values):
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else None


def call_metrics(passes):
    """End-to-end timings of the given passes: the median per call."""
    out = {m: median(t for p in passes for t in p["calls"].get(m, ())) for m in CALL_METRICS}
    out["pagerank_edges_per_s"] = median(
        p["extra"]["pagerank_edges"] / p["calls"]["pagerank_s"][0]
        for p in passes if "pagerank_s" in p["calls"] and "pagerank_edges" in p["extra"])
    # a pass with a failed call has no complete wall
    complete = max((sum(map(len, p["calls"].values())) for p in passes), default=0)
    out["pass_s"] = median(sum(map(sum, p["calls"].values())) for p in passes
                           if sum(map(len, p["calls"].values())) == complete)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()

    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    try:
        classpath, stamp = build.build(".")
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    host = host_state()
    host["load1_before"] = host.pop("load1")
    host["membw_gbs"] = membw_gbs()
    counters = cpu_counters()
    counted_from = time.time()

    runs = os.path.join(build.BUILD_DIR, "runs")
    run_dir = os.path.abspath(os.path.join(
        runs, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))

    check = None
    if args.workload == "small-graph-queries":
        lineitem = os.path.join(run_dir, "data", "sf0.01", "lineitem.parquet")
        oracle.write_lineitem(lineitem, args.seed)
        check = oracle.Oracle(run_dir, lineitem, started + TIME_LIMIT_S)
        check.start()

    archive_opts, new_archive = build.class_archive(stamp)
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp"]
           + archive_opts + build.ADD_OPENS
           + ["-cp", classpath, "perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--run-dir", run_dir])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        # an inherited SPARK_LOCAL_DIRS would move Spark's scratch files out
        # of the run directory
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        jvm = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)

        def stop(signum, _frame):
            jvm.kill()
            jvm.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = jvm.wait(timeout=max(10, TIME_LIMIT_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
            code = None
    if check:
        check.join(timeout=30)
    if new_archive and code == 0 and os.path.exists(new_archive + ".part"):
        os.replace(new_archive + ".part", new_archive)
    if code != 0:
        with open(log_path) as fh:
            tail = fh.readlines()[-40:]
        print(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}; "
              f"log {log_path}:\n" + "".join(tail), file=sys.stderr)
        return 1

    with open(os.path.join(run_dir, "result.json")) as fh:
        rec = json.load(fh)
    failed, errors = rec["failed"], list(rec["errors"])
    for r in rec.get("rows", []):
        bad = check.mismatch(r["query"], r["path"])
        if bad:
            failed += 1
            errors.append(f"pass {r['pass']} {r['query']}: {bad}")

    passes = rec["passes"]
    if args.trace:
        with open(os.path.join(run_dir, "spans.json")) as fh:
            computed = layers.layer_metrics(json.load(fh))
        traced = call_metrics([p for p in passes if p["traced"]])
        plain = call_metrics([p for p in passes if not p["traced"]])
        for m, v in traced.items():
            if v is not None and plain[m] is not None and m != "pagerank_edges_per_s":
                computed[f"trace_overhead.{m}"] = v - plain[m]
        computed.update({f"reference.{k}": v for k, v in rec["reference"].items()})
        computed["jvm.peak_rss_mb"] = rec["peak_rss_mb"]
        wanted = spec["per_layer"]
        # a layer the workload does not call has no span: it did no work
        metrics = {m["name"]: {"value": computed.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in wanted}
    else:
        computed = call_metrics(passes)
        computed["setup_s"] = rec["setup_s"]
        wanted = spec["end_to_end"]
        missing = [m["name"] for m in wanted if computed.get(m["name"]) is None]
        if missing:
            failed += 1
            errors.append(f"no measurement for {missing}")
        metrics = {m["name"]: {"value": computed.get(m["name"]), "unit": m["unit"]}
                   for m in wanted}

    host["load1_after"] = host_state()["load1"]
    host.update(contention(counters, cpu_counters(), time.time() - counted_from))
    for d in ("data", "tmp", "rows", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    print(json.dumps({"context": {
        "workload": args.workload, "seed": args.seed,
        "passes": [p["extra"] for p in passes],
        "host": host, "peak_rss_mb": rec["peak_rss_mb"], "setup_phases_s": rec["setup_phases"],
        "reference_s": rec["reference"], "run_dir": run_dir, "errors": errors}}))
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": rec["attempted"], "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
