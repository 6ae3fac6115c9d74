"""Seeded input generator for the benchmark.

Writes an sf-shaped directory (one parquet file per table, the schemas of
FIXTURES.md) plus, for etl_cycle, the hourly delta windows. The same seed
gives byte-identical inputs. Types follow the testdata files: timestamps are
timestamp[us] without a zone, keys int64, small codes int32.
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per table, about a fifth of sf0.1. Sized so one run (set-up, a
# warm pass and the timed loop) takes about a minute on 4 cores; operator
# cost at this size is dominated by the engine's fixed per-job cost, as it
# is at sf0.1.
SIZES = {
    "customer": 3000, "supplier": 200, "part": 4000, "orders": 30000,
    "lineitem": 120000, "events": 20000, "documents": 2000, "embeddings": 800,
}
VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
# Near-duplicate and exact-copy shares of the corpus; the first DOC_WARMUP
# documents are all fresh, so every copy has long originals to draw from.
DUP_SHARE = 0.05
COPY_SHARE = 0.002
DOC_WARMUP = 50
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "hot", "large", "small", "steel", "red", "green", "cold"]
P_NOUN = ["ring", "bolt", "gear", "pipe", "nut", "plate", "valve", "spring"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000
ORDER_T0 = np.datetime64("1995-01-01", "us").astype(np.int64)
ORDER_DAYS = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))
EVENT_T0 = np.datetime64("2024-01-01", "us").astype(np.int64)
EVENT_SPAN_US = 30 * DAY_US

# etl_cycle: the older share of orders/events is history, the rest lands
# in DELTAS equal-count windows, each carrying REDELIVER re-sent old keys.
HISTORY_SHARE = 0.7
DELTAS = 48
REDELIVER = 0.2


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _round2(x):
    return np.round(x, 2)


def base_tables(rng):
    n = SIZES
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _round2(rng.uniform(-999, 9999, c)),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)]})
    s = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _round2(rng.uniform(-999, 9999, s))})
    p = n["part"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 1)})
    o = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, o)],
        "o_totalprice": _round2(rng.uniform(1000, 500000, o)),
        "o_orderdate": _ts(ORDER_T0 + rng.integers(0, ORDER_DAYS + 1, o) * DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, o)]})
    li = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _round2(rng.uniform(900, 105000, li)),
        "l_discount": rng.integers(0, 9, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, li)],
        "l_shipdate": _ts(ORDER_T0 + rng.integers(1, ORDER_DAYS + 95, li) * DAY_US)})
    e = n["events"]
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": _ts(np.sort(EVENT_T0 + rng.integers(0, EVENT_SPAN_US, e))),
        "user_id": pa.array(rng.integers(0, max(1, c // 10), e), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": _round2(rng.exponential(60.0, e).clip(0, 560)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    tables["documents"] = documents(rng, n["documents"])
    tables["embeddings"] = embeddings(rng, n["embeddings"])
    return tables


def exact_mix(rng, n, shares):
    """n category indexes, shares[i] of them (rounded) category i, in a
    seeded order: the seed moves which rows, never how many."""
    counts = [int(round(n * p)) for p in shares]
    counts[0] += n - sum(counts)
    return rng.permutation(np.repeat(np.arange(len(shares)), counts))


def documents(rng, d):
    """Word-salad documents. As in the testdata corpus, 5% are
    near-duplicates of an earlier long document (one word replaced, so
    5-gram Jaccard stays above 0.8) and 0.2% are exact copies. Those
    counts are exact, so the dedup operators' candidate work does not
    move with the seed."""
    kind = np.zeros(d, dtype=int)
    kind[DOC_WARMUP:] = exact_mix(rng, d - DOC_WARMUP, [1 - DUP_SHARE - COPY_SHARE,
                                                       DUP_SHARE, COPY_SHARE])
    texts = []
    for i in range(d):
        long_ = [j for j in range(max(0, i - 200), i) if texts[j].count(" ") >= 40]
        if kind[i] == 2:
            texts.append(texts[long_[int(rng.integers(0, len(long_)))]])
        elif kind[i] == 1:
            words = texts[long_[int(rng.integers(0, len(long_)))]].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in exact_mix(rng, d, LANG_P)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(rng, m):
    """64-dim vectors around ten label centroids."""
    labels = exact_mix(rng, m, [0.1] * 10)
    centroids = rng.normal(0, 0.15, (10, 64))
    vecs = (centroids[labels] + rng.normal(0, 0.08, (m, 64))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def etl_deltas(rng, orders, events):
    """Split orders/events into history plus DELTAS windows (by o_orderdate
    and ts). Each orders window also re-delivers a REDELIVER share of keys
    landed earlier, with changed prices. Returns (history_orders,
    history_events, [(orders_delta, events_delta)])."""
    o_order = np.argsort(orders.column("o_orderdate").to_numpy(), kind="stable")
    e_order = np.argsort(events.column("ts").to_numpy(), kind="stable")
    o_cut = int(len(o_order) * HISTORY_SHARE)
    e_cut = int(len(e_order) * HISTORY_SHARE)
    o_windows = np.array_split(o_order[o_cut:], DELTAS)
    e_windows = np.array_split(e_order[e_cut:], DELTAS)
    landed = list(o_order[:o_cut])
    deltas = []
    for ow, ew in zip(o_windows, e_windows):
        k = int(len(ow) * REDELIVER)
        again = rng.choice(np.array(landed), size=k, replace=False)
        fresh = orders.take(pa.array(ow))
        resent = orders.take(pa.array(again))
        price = _round2(resent.column("o_totalprice").to_numpy() * rng.uniform(0.5, 1.5, k))
        resent = resent.set_column(
            resent.schema.get_field_index("o_totalprice"), "o_totalprice", pa.array(price))
        deltas.append((pa.concat_tables([fresh, resent]), events.take(pa.array(ew))))
        landed.extend(ow)
    return orders.take(pa.array(o_order[:o_cut])), events.take(pa.array(e_order[:e_cut])), deltas


def generate(seed, out_dir, with_deltas):
    """Write the inputs for one seed under out_dir. Returns the list of
    delta directories (empty unless with_deltas)."""
    rng = np.random.default_rng(seed)
    tables = base_tables(rng)
    delta_dirs = []
    if with_deltas:
        hist_o, hist_e, deltas = etl_deltas(rng, tables["orders"], tables["events"])
        tables["orders"], tables["events"] = hist_o, hist_e
        for i, (od, ed) in enumerate(deltas):
            d = os.path.join(out_dir, "deltas", f"d{i:03d}")
            _write(od, os.path.join(d, "orders.parquet"))
            _write(ed, os.path.join(d, "events.parquet"))
            delta_dirs.append(d)
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, "base", f"{name}.parquet"))
    return delta_dirs


def permutation(seed, items, salt):
    """A seeded order of items (the closed loop cycles through it)."""
    out = list(items)
    random.Random(f"{seed}:{salt}").shuffle(out)
    return out
