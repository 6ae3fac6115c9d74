"""The benchmark's arithmetic: percentiles, span self time, cycle growth,
the knob refusal and the reduction of a run record to per-layer metrics.
Kept free of I/O so tests/test_benchlib.py can pin every rule."""
import statistics

# Environment variables run.py accepts; every other SPARK_GRAFT_* knob
# changes what the engine does and would make runs incomparable.
ALLOWED_KNOBS = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR"}
LAYERS = ["tables", "etl", "analytics", "streaming", "llm", "setup"]
TAIL_GRID = [99.9, 99.0, 95.0, 90.0, 75.0, 50.0]
MB = 1048576.0


def refused_knobs(env):
    """SPARK_GRAFT_* variables that a benchmark run must not inherit."""
    return sorted(k for k in env if k.startswith("SPARK_GRAFT_") and k not in ALLOWED_KNOBS)


def tail_percentile(n):
    """The highest percentile of TAIL_GRID with at least ten of n samples
    strictly beyond it, or None when n is too small for any."""
    for p in TAIL_GRID:
        if n * (100.0 - p) / 100.0 >= 10.0 - 1e-9:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        return None
    k = max(1, -(-len(xs) * p // 100))
    return xs[int(k) - 1]


def union_length(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(t0, t1, covered):
    """A span's self time: its duration minus the part of it that its
    children (child spans and the Spark jobs it caused) cover."""
    return (t1 - t0) - union_length(covered, t0, t1)


def cycle_growth(latencies):
    """Median latency of the last third of cycles over the median of
    cycles 2 to 1+third (cycle 1 is left out as the first after warm-up).
    None with fewer than three cycles."""
    n = len(latencies)
    third = n // 3
    if n < 3 or third < 1:
        return None
    early = latencies[1:1 + third]
    late = latencies[n - third:]
    return statistics.median(late) / statistics.median(early)


def quartile_spread(values):
    """(Q3 - Q1) / median, with Python's default quantile method."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def latency_summary(latencies):
    """Median, tail percentile, tail value and sample count."""
    n = len(latencies)
    p = tail_percentile(n)
    return {
        "n": n,
        "p50": statistics.median(latencies) if latencies else None,
        "tail_pct": p,
        "tail": percentile(latencies, p) if p is not None else None,
    }


def layer_key(span):
    return "setup" if span["phase"] == "setup" else span["layer"]


def per_layer(record, loop="traced"):
    """Reduce a traced run record to {layer: {metric: value}} for LAYERS,
    counting the set-up phase as layer "setup" and the given loop's spans
    as their own layer. Jobs carry the id of the span that caused them;
    a job without one goes to the innermost span open when it started."""
    spans = [s for s in record["spans"] if s["phase"] in ("setup", loop)]
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def innermost(t):
        open_ = [s for s in spans if s["t0"] <= t <= s["t1"]]
        return max(open_, key=lambda s: s["t0"]) if open_ else None

    span_jobs = {}
    job_layer = {}
    for j in record["jobs"]:
        s = by_id.get(j["span"]) or innermost(j["t0"])
        if s is None:
            continue
        span_jobs.setdefault(s["id"], []).append(j)
        job_layer[j["id"]] = layer_key(s)
    stages = {st["id"]: st for st in record["stages"]}
    stage_layer = {}
    exec_layer = {}
    for j in record["jobs"]:
        lay = job_layer.get(j["id"])
        if lay is None:
            continue
        for sid in j["stages"]:
            stage_layer.setdefault(int(sid), lay)
    # a SQL execution belongs to the span whose job tag it carried
    for e, sid in record.get("exec_spans", {}).items():
        if sid in by_id:
            exec_layer[int(e)] = layer_key(by_id[sid])

    out = {}
    for lay in LAYERS:
        mine = [s for s in spans if layer_key(s) == lay]
        outer = [s for s in mine if s["parent"] not in by_id or layer_key(by_id[s["parent"]]) != lay]
        gap = 0.0
        for s in mine:
            cov = [(j["t0"], j["t1"]) for j in span_jobs.get(s["id"], [])]
            cov += [(c["t0"], c["t1"]) for c in children.get(s["id"], [])]
            gap += self_time(s["t0"], s["t1"], cov)
        jobs = [j for j in record["jobs"] if job_layer.get(j["id"]) == lay]
        sts = [stages[sid] for sid, l_ in stage_layer.items() if l_ == lay and sid in stages]
        exs = [e for e in record["execs"] if exec_layer.get(int(e["exec"])) == lay]
        result_rows = sum(e["result_rows"] for e in exs)
        skews = [st["max_task_s"] / st["median_task_s"] for st in sts
                 if st["tasks"] >= 2 and st["median_task_s"] > 0]
        out[lay] = {
            "calls": len(outer),
            "failed": sum(1 for s in outer if not s["ok"]),
            "busy_s": sum(s["t1"] - s["t0"] for s in outer),
            "plan_s": sum(e["plan_s"] for e in exs),
            "gap_s": gap,
            "job_s": sum(max(0.0, j["t1"] - j["t0"]) for j in jobs),
            "task_cpu_s": sum(st["cpu_s"] for st in sts),
            "gc_s": sum(st["gc_s"] for st in sts),
            "read_mb": sum(st["read_b"] for st in sts) / MB,
            "written_mb": sum(st["written_b"] for st in sts) / MB,
            "files_written": sum(e["files"] for e in exs),
            "shuffle_mb": sum(st["shuffle_b"] for st in sts) / MB,
            "spill_mb": sum(st["spill_b"] for st in sts) / MB,
            "skew": max(skews) if skews else 1.0,
            "rows_in_per_row_out": (sum(e["scan_rows"] for e in exs) / result_rows
                                    if result_rows else 0.0),
        }
    return out


LAYER_UNITS = {
    "calls": "count", "failed": "count", "busy_s": "s", "plan_s": "s", "gap_s": "s",
    "job_s": "s", "task_cpu_s": "s", "gc_s": "s", "read_mb": "MB", "written_mb": "MB",
    "files_written": "count", "shuffle_mb": "MB", "spill_mb": "MB", "skew": "ratio",
    "rows_in_per_row_out": "ratio",
}


def metric_unit(name):
    """Unit of a per-layer metric name as run.py prints it."""
    key = name.split(".")[-1]
    if key in LAYER_UNITS:
        return LAYER_UNITS[key]
    if key.endswith("_s"):
        return "s"
    if key.endswith("_mb"):
        return "MB"
    if key.endswith("_ratio"):
        return "ratio"
    return "count"
