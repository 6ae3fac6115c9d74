#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine in this checkout.

    python3 perfbench/run.py --workload etl_cycle --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. It builds the engine and the benchmark's
own Scala sources from source (cached by source hash under .bench_build/),
generates the workload's inputs from the seed, runs the measured engine as
one JVM with local[nproc], checks the outputs against DuckDB, prints every
metric by name with its unit, and ends with one JSON line. See README.md.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402
import gen  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """Spark's jars: under $SPARK_HOME, else the `unmanagedBase` the repo's
    build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    return m.group(1) if m else ""


SPARK_JARS = spark_jars()
HEAP = "2g"
RUN_LIMIT_S = 175

# The reference pipeline's per-cycle operators (README's hourly refresh),
# plus the S3-trigger stream upsert of the same landed state.
ETL_OPS = ["sink_parquet_partitioned_compressed", "upsert_partition_overwrite",
           "join_federated_spectrum", "sql_view_sales_by_category",
           "agg_sales_by_category_year", "agg_funnel_counts", "stream_file_source_upsert"]
# Read-only dashboard operators: none writes under the scratch root.
BI_OPS = ["agg_sales_by_category_star", "agg_sales_by_category_year",
          "sql_view_sales_by_category", "sql_athena_style", "agg_funnel_counts",
          "agg_funnel_ordered", "agg_retention_weekly", "agg_conversion_lag",
          "agg_rollup_sales", "agg_cube_funnel", "agg_percentile_price",
          "window_topn_per_group", "window_sessionize", "join_funnel_customer",
          "join_snowflake_chain", "join_lateral_topn", "sort_topk_categories"]
# The LLM operators whose indexes fit one run's set-up. They cover the
# interpreted native expressions (minhash_sig, ngram_hashes,
# sorted_intersect_count, nfc_normalize) and the candidate-pair shuffles.
LLM_OPS = ["llm_text_normalize", "llm_similarity_knn_join",
           "llm_dedup_containment_indexed", "llm_tfidf_topterms", "llm_quality_score"]
STREAM_OPS = ["stream_dedup_incremental", "stream_enrich_dim", "stream_exactly_once_sink",
              "stream_file_source_upsert", "stream_hourly_window", "stream_session_state",
              "stream_session_window", "stream_sliding_window", "stream_stream_join",
              "stream_topk_windowed", "stream_watermark_late"]
WORKLOADS = {
    # name: (ops, clients, input unit counted by throughput_per_s)
    "etl_cycle": (ETL_OPS, 1, "landed rows"),
    "bi_dashboard": (BI_OPS, 2, "queries"),
    "llm_corpus": (LLM_OPS, 1, "documents"),
    "stream_stateful": (STREAM_OPS, 1, "source events"),
}
# llm_corpus's latency unit is a pass over its operators, the job a user of
# the corpus pipeline waits for; the per-call median over five operators of
# very different cost jumps between them from seed to seed.
PASS_LATENCY = {"llm_corpus"}
E2E_UNITS = [("setup_s", "s"), ("latency_p50_s", "s"), ("latency_tail_s", "s"),
             ("throughput_per_s", "units/s"), ("cpu_s", "s"), ("cpu_per_pass_s", "s"),
             ("peak_rss_mb", "MB"), ("failed_ratio", "ratio"), ("write_amp", "ratio"),
             ("cycle_growth", "ratio")]
SETUP_PHASES = ["session_s", "tables_s", "indexes_s", "fixtures_s", "stats_s", "warm_pass_s",
                "resident_mb"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return files


def build():
    """Compile the engine and the benchmark's Scala with the Scala compiler
    that ships with Spark. Cached per source hash."""
    srcs = sources()
    res = sorted(glob.glob(os.path.join(ROOT, "src/main/resources/**/*"), recursive=True))
    h = hashlib.sha256()
    for f in srcs + [r for r in res if os.path.isfile(r)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()[:16]
    out = os.path.join(BUILD, digest)
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes, digest
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(SPARK_JARS, "*")
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", cp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die("build failed", 3)
    res_root = os.path.join(ROOT, "src/main/resources")
    if os.path.isdir(res_root):
        shutil.copytree(res_root, classes, dirs_exist_ok=True)
    with open(os.path.join(out, "ok"), "w") as fh:
        fh.write(f"{time.time() - t0:.1f}\n")
    return classes, digest


def probes(work):
    """Fixed small CPU and io probes, recorded next to each run so a reader
    can tell a slow host window from a code change. Never used to normalize."""
    t0 = time.perf_counter()
    h = hashlib.sha256()
    block = bytes(range(256)) * 4096
    for _ in range(64):
        h.update(block)
    cpu = time.perf_counter() - t0
    path = os.path.join(work, "io_probe.bin")
    t0 = time.perf_counter()
    with open(path, "wb") as fh:
        for _ in range(32):
            fh.write(block)
        fh.flush()
        os.fsync(fh.fileno())
    with open(path, "rb") as fh:
        while fh.read(1 << 20):
            pass
    io = time.perf_counter() - t0
    os.remove(path)
    return {"cpu_probe_s": cpu, "io_probe_s": io}


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def jvm_cmd(classes, args):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    flags = [f for p in opens for f in ("--add-opens", f"{p}=ALL-UNNAMED")]
    work = args["work"]
    flags += ["-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
              f"-Dderby.stream.error.file={work}/derby.log",
              "-Dspark.sql.session.timeZone=UTC"]
    cmd = ["java"] + flags + ["-cp", f"{classes}:{os.path.join(SPARK_JARS, '*')}",
                              "graft.perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    return cmd


def sql_views(con, sf_dir):
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        p = os.path.join(sf_dir, f"{t}.parquet")
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{src}')")


def check_outputs(checks, ops):
    """Compare each op's kept result with DuckDB running its oracle SQL over
    the same inputs (canonicalized as tools/check_oracle.py does); ops with
    no oracle SQL get its rows-only check. Returns {op: error or None}."""
    import duckdb
    import pyarrow.dataset as ds
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import rows_of

    with open(os.path.join(checks, "_dir")) as fh:
        sf_dir = fh.read().strip()
    with open(os.path.join(checks, "_oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    sql_views(con, sf_dir)
    bad = {}
    for op in sorted(set(ops)):
        path = os.path.join(checks, op)
        if not os.path.isdir(path):
            bad[op] = "no result kept"
            continue
        spark_tbl = ds.dataset(path).to_table()
        if op not in oracle:
            bad[op] = None if spark_tbl.num_rows > 0 else "no rows"
            continue
        try:
            duck_tbl = con.execute(oracle[op]).arrow()
        except Exception as e:  # noqa: BLE001 - the oracle error is the finding
            bad[op] = f"oracle SQL error: {e}"
            continue
        scols, srows = rows_of(spark_tbl)
        dcols, drows = rows_of(duck_tbl)
        if scols != dcols:
            bad[op] = f"columns differ spark={scols} duck={dcols}"
        elif srows != drows:
            bad[op] = f"rows differ (spark={len(srows)}, duck={len(drows)})"
        else:
            bad[op] = None
    return bad


def check_state(base, deltas, final_dir):
    """etl_cycle: the final orders state must equal a last-write-wins replay
    of history plus every landed delta (PipelineSpec's rule)."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import rows_of

    srcs = [os.path.join(base, "orders.parquet")] + [os.path.join(d, "orders.parquet") for d in deltas]
    union = " UNION ALL BY NAME ".join(
        f"SELECT *, {k} AS _src FROM read_parquet('{p}')" for k, p in enumerate(srcs))
    con = duckdb.connect()
    want = con.execute(
        f"SELECT * EXCLUDE (_src, _rn) FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY o_orderkey ORDER BY _src DESC) AS _rn FROM ({union})) "
        f"WHERE _rn = 1 ORDER BY o_orderkey").arrow()
    got = con.execute(f"SELECT * FROM read_parquet('{final_dir}/orders.parquet/*.parquet') "
                      f"ORDER BY o_orderkey").arrow()
    if rows_of(want) != rows_of(got):
        return f"final state differs from replay ({got.num_rows} vs {want.num_rows} rows)"
    return None


def dir_bytes(paths):
    return sum(os.path.getsize(f) for p in paths
               for f in glob.glob(os.path.join(p, "**"), recursive=True) if os.path.isfile(f))


def unit_latencies(rec, loop, pass_size):
    """Latencies of a loop's successful units in claim order; with
    PASS_LATENCY, of its whole passes (a pass with a failed call drops)."""
    ok = sorted((u for u in rec["units"] if u["loop"] == loop and u["ok"]),
                key=lambda u: u["i"])
    if rec["workload"] not in PASS_LATENCY:
        return [u["t1"] - u["t0"] for u in ok]
    passes = {}
    for u in ok:
        passes.setdefault(u["i"] // pass_size, []).append(u)
    return [max(u["t1"] for u in p) - min(u["t0"] for u in p)
            for _, p in sorted(passes.items()) if len(p) == pass_size]


def e2e_metrics(rec, loop, pass_size, work_per_unit, landed_bytes, staged_bytes, failed_units):
    units = [u for u in rec["units"] if u["loop"] == loop]
    ok = [u for u in units if u["ok"]]
    lat = unit_latencies(rec, loop, pass_size)
    summ = benchlib.latency_summary(lat)
    wall = max(u["t1"] for u in units) - min(u["t0"] for u in units)
    written = sum(u["bytes"] for u in units)
    denom = landed_bytes(units) or staged_bytes(units)
    return summ, written, {
        "setup_s": rec["first_unit_s"],
        "latency_p50_s": summ["p50"],
        "latency_tail_s": summ["tail"],
        "throughput_per_s": sum(work_per_unit(u) for u in ok) / wall,
        "cpu_s": rec["cpu_s"],
        "cpu_per_pass_s": rec["cpu_s"] * pass_size / len(units),
        "peak_rss_mb": rec["peak_rss_mb"],
        "failed_ratio": failed_units / len(units),
        "write_amp": written / denom if denom else None,
        "cycle_growth": benchlib.cycle_growth(lat) if rec["workload"] == "etl_cycle" else None,
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    opts = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        die("run from the root of a checkout of the engine (src/main/scala/graft is missing)")
    refused = benchlib.refused_knobs(os.environ)
    if refused:
        die(f"refusing to run with engine tuning knobs set: {', '.join(refused)}")
    if not os.path.isdir(SPARK_JARS):
        die(f"Spark jars not found at {SPARK_JARS}")

    # BENCHMARK.json names the metrics on the final line: the gated subset
    # of what this script prints.
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        gated = json.load(fh)
    os.makedirs(STATE, exist_ok=True)
    lock = open(os.path.join(STATE, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    classes, digest = build()
    started = time.time()

    work = os.path.join(STATE, "run")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("input", "scratch", "checks", "tmp"):
        os.makedirs(os.path.join(work, d))
    ops, clients, unit_kind = WORKLOADS[opts.workload]
    t0 = time.perf_counter()
    delta_dirs = gen.generate(opts.seed, os.path.join(work, "input"),
                              with_deltas=opts.workload == "etl_cycle")
    gen_s = time.perf_counter() - t0
    env = {"git_commit": git_commit(), "source_hash": digest, "nproc": os.cpu_count(),
           "heap": HEAP, "gen_s": gen_s, **probes(work)}
    base = os.path.join(work, "input", "base")
    # A cycle runs the reference pipeline's operators in the pipeline's own
    # order; which one reads a fresh cycle directory first changes the
    # cycle's cost, so a seeded order would make the seed move latency.
    order = ops if opts.workload == "etl_cycle" else gen.permutation(opts.seed, ops, "ops")
    jargs = {
        "workload": opts.workload, "seconds": opts.seconds, "trace": opts.trace,
        "clients": clients, "cpus": os.cpu_count(), "base": base,
        "deltas": ",".join(delta_dirs), "ops": ",".join(order),
        "scratch": os.path.join(work, "scratch"), "work": work,
        "checks": os.path.join(work, "checks"), "out": os.path.join(work, "record.json"),
    }
    log = open(os.path.join(work, "engine.log"), "w")
    remaining = RUN_LIMIT_S - (time.time() - started)
    try:
        r = subprocess.run(jvm_cmd(classes, jargs), stdout=log, stderr=subprocess.STDOUT,
                           timeout=max(10.0, remaining))
    except subprocess.TimeoutExpired:
        die(f"engine did not finish within {RUN_LIMIT_S} s; see {log.name}", 4)
    if r.returncode != 0 or not os.path.exists(jargs["out"]):
        die(f"engine exited with {r.returncode}; see {log.name}", 4)
    with open(jargs["out"]) as fh:
        rec = json.load(fh)
    env.update(spark_version=rec["spark_version"], java_version=rec["java_version"],
               heap_max_mb=rec["heap_max_mb"])

    # Output checks (outside every timed region).
    bad = check_outputs(jargs["checks"], ops)
    if opts.workload == "etl_cycle":
        bad["final_state"] = check_state(base, delta_dirs[:rec["landed"] + 1],
                                         rec["final_state"])
    problems = {k: v for k, v in bad.items() if v}

    def count_failed(loop):
        units = [u for u in rec["units"] if u["loop"] == loop]
        if opts.workload == "etl_cycle" and problems:
            return len(units)
        return sum(1 for u in units if not u["ok"] or u["name"] in problems)

    docs = gen.SIZES["documents"]
    events = gen.SIZES["events"]
    delta_rows = {}

    def work_per_unit(u):
        if opts.workload == "etl_cycle":
            k = int(u["name"].removeprefix("cycle"))
            if k not in delta_rows:
                delta_rows[k] = sum(pq.ParquetFile(os.path.join(delta_dirs[k], f)).metadata.num_rows
                                    for f in ("orders.parquet", "events.parquet"))
            return delta_rows[k]
        return {"bi_dashboard": 1, "llm_corpus": docs, "stream_stateful": events}[opts.workload]

    def landed_bytes(units):
        if opts.workload != "etl_cycle":
            return 0
        return dir_bytes([delta_dirs[int(u["name"].removeprefix("cycle"))] for u in units])

    def staged_bytes(units):
        if opts.workload != "stream_stateful":
            return 0
        fix = glob.glob(os.path.join(jargs["scratch"], "stream_fix_*"))
        return dir_bytes(fix) * len(units) / len(set(ops))

    # a traced run has no plain timed loop; its untraced twin stands in
    loop = "untraced" if opts.trace else "timed"
    pass_size = 1 if opts.workload == "etl_cycle" else len(ops)
    summ, written, e2e = e2e_metrics(rec, loop, pass_size, work_per_unit, landed_bytes, staged_bytes,
                                     count_failed(loop))
    if opts.workload == "bi_dashboard" and written:
        problems["writes"] = f"bi_dashboard wrote {written} bytes under the scratch root"
    attempted = len([u for u in rec["units"] if u["loop"] == loop])
    failed = count_failed(loop)

    print(f"env {json.dumps(env, sort_keys=True)}")
    print(f"workload {opts.workload} seed {opts.seed} clients {clients} "
          f"units {attempted} (throughput counts {unit_kind})")
    print(f"latency tail percentile p{summ['tail_pct']} over {summ['n']} samples"
          if summ["tail_pct"] else
          f"latency tail: no percentile has 10 samples beyond it ({summ['n']} samples)")
    for name, unit in E2E_UNITS:
        v = e2e[name]
        print(f"metric {name} = {'null' if v is None else f'{v:.6g}'} {unit}")
    for u in [u for u in rec["units"] if not u["ok"]][:5]:
        print(f"unit FAILED {u['loop']} {u['name']}: {u['err']}")
    for k in sorted(problems):
        print(f"check FAILED {k}: {problems[k]}")
    print(f"checks: {sum(1 for v in bad.values() if not v)} pass, {len(problems)} fail")

    out_dir = os.path.join(STATE, "out")
    os.makedirs(out_dir, exist_ok=True)
    if opts.trace:
        layers = benchlib.per_layer(rec)
        def p50(loop):
            return statistics.median(unit_latencies(rec, loop, pass_size))
        splits = rec["stream"].values()
        layers["streaming"].update(
            batches=sum(s["batches"] for s in splits), wal_s=sum(s["wal_s"] for s in splits),
            state_commit_s=sum(s["state_commit_s"] for s in splits),
            work_s=sum(s["work_s"] for s in splits))
        layers["setup"].update({k: rec["setup"].get(k, 0.0) for k in SETUP_PHASES})
        metrics = {f"{lay}.{k}": v for lay, m in layers.items() for k, v in m.items()}
        metrics["gen_s"] = gen_s
        metrics["trace_overhead_ratio"] = p50("traced") / p50("untraced")
        trace_path = os.path.join(out_dir, f"trace-{opts.workload}-{opts.seed}.json")
        with open(trace_path, "w") as fh:
            json.dump({"workload": opts.workload, "seed": opts.seed, "env": env,
                       "layers": layers, "spans": rec["spans"], "jobs": rec["jobs"]}, fh)
        for k in sorted(metrics):
            v = metrics[k]
            print(f"layer {k} = {'null' if v is None else f'{v:.6g}'} {benchlib.metric_unit(k)}")
        print(f"trace written to {os.path.relpath(trace_path, ROOT)}")
        final = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                 for m in gated["per_layer"]}
    else:
        final = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                 for m in gated["end_to_end"]}
    with open(os.path.join(out_dir, f"run-{opts.workload}-{opts.seed}-t{opts.trace}.json"), "w") as fh:
        json.dump({"env": env, "e2e": e2e, "checks": bad, "attempted": attempted,
                   "failed": failed}, fh, sort_keys=True)
    print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": final}))


if __name__ == "__main__":
    main()
