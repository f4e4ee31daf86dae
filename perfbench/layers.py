"""Per-layer metrics computed from a traced run's span file.

Spans named after the engine's modules (`ingest.*`, `graph.*`, `algos.*`,
`entry.*`) are opened by the benchmark around each call into that layer;
Spark jobs are their children. A span's `driver_s` is its self time: its
wall time minus the part of it that its jobs cover.
"""
import statistics

MB = float(1 << 20)
FULL_STATS = ("wall_s", "driver_s", "jobs", "task_s", "cpu_s", "gc_s",
              "shuffle_write_mb", "spill_mb", "peak_exec_mem_mb")
ENTRY_STATS = ("wall_s", "driver_s", "jobs", "tasks", "shuffle_write_mb")


def covered_ms(start, end, intervals):
    """Length of the union of `intervals` clipped to [start, end]."""
    total, reach = 0.0, start
    for a, b in sorted((max(a, start), min(b, end)) for a, b in intervals):
        if b <= reach:
            continue
        total += b - max(a, reach)
        reach = b
    return total


def span_stats(span, jobs):
    wall_ms = span["end_ms"] - span["start_ms"]
    busy = covered_ms(span["start_ms"], span["end_ms"],
                      [(j["start_ms"], j["end_ms"]) for j in jobs])
    return {
        "wall_s": wall_ms / 1e3,
        "driver_s": (wall_ms - busy) / 1e3,
        "jobs": len(jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "task_s": sum(j["task_ms"] for j in jobs) / 1e3,
        "cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
        "gc_s": sum(j["gc_ms"] for j in jobs) / 1e3,
        "shuffle_write_mb": sum(j["shuffle_write_bytes"] for j in jobs) / MB,
        "shuffle_write_records": sum(j["shuffle_write_records"] for j in jobs),
        "spill_mb": sum(j["spill_bytes"] for j in jobs) / MB,
        "peak_exec_mem_mb": max((j["peak_exec_mem_bytes"] for j in jobs), default=0) / MB,
    }


def derived(name, st, attrs):
    """Ratios measured where the work happens."""
    out = {}
    if name == "graph.build":
        out["cached_mb"] = attrs.get("cached_mb", 0.0)
    elif name == "algos.pagerank" and attrs.get("iters"):
        out["iters"] = attrs["iters"]
        out["jobs_per_iter"] = st["jobs"] / attrs["iters"]
        out["shuffle_bytes_per_edge"] = st["shuffle_write_mb"] * MB / attrs["edges_traversed"]
    elif name == "algos.cc":
        out["rounds"] = attrs.get("rounds", 0.0)
    elif name == "algos.triangles" and attrs.get("triangles"):
        out["shuffle_records_per_triangle"] = st["shuffle_write_records"] / attrs["triangles"]
    elif name == "entry.pagerank_resume":
        out["output_mb"] = attrs.get("output_mb", 0.0)
    return out


def layer_metrics(trace):
    """`<span>.<stat>` for every layer span, the median over the traced
    passes when a span occurs in several."""
    jobs_of = {}
    for j in trace["jobs"]:
        jobs_of.setdefault(j["parent"], []).append(j)
    samples = {}
    for s in trace["spans"]:
        name = s["name"]
        if name == "pass":
            continue
        st = span_stats(s, jobs_of.get(s["id"], []))
        stats = ENTRY_STATS if name.startswith("entry.") else FULL_STATS
        values = {k: st[k] for k in stats}
        values.update(derived(name, st, s["attrs"]))
        for k, v in values.items():
            samples.setdefault(f"{name}.{k}", []).append(v)
    return {k: statistics.median(v) for k, v in samples.items()}
