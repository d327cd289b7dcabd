"""Seeded input generator for the benchmark.

Writes the parquet tables the workloads read, with the column names and
parquet types of the project's TPC-H-style test tables (`region` ...
`lineitem`, `events`, `documents`, `embeddings`). Row counts scale with
`sf` the same way (lineitem = 6M x sf, events = 1M x sf, ...). The same
seed always gives byte-identical inputs; the program under test only ever
sees these files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
EVENTS_START_US = 1704067200 * 1_000_000  # 2024-01-01 00:00:00 UTC
WORDS = ("a the data spark table key value hash join group agg sort scan "
         "filter query window stream batch merge part line row column order "
         "customer vector big small fast slow").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
DAY_US = 86400 * 1_000_000
TPCH_START_US = 788918400 * 1_000_000  # 1995-01-01


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def events(rng, n, users, days):
    """`n` events over the first `days` days of January 2024, ts ascending
    with event_id."""
    ts = EVENTS_START_US + np.sort(rng.integers(0, days * DAY_US, n))
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def bus_messages(rng, n, events_n, hot, users, days):
    """`n` upsert messages for the FrameBus backlog, in `seq` order, on
    `hot` keys plus a tenth more: ids of existing events, then new ids
    from `events_n` on. So most keys carry several messages and the
    consumer's latest-per-key step has work to do. ts is
    `YYYY-MM-DD HH:MM:SS` text over the events' days."""
    keys = rng.integers(0, hot + hot // 10, n, dtype=np.int64)
    keys = np.where(keys < hot, keys, events_n + keys - hot)
    secs = rng.integers(0, days * 86400, n).astype("timedelta64[s]")
    ts = (np.datetime64("2024-01-01T00:00:00") + secs).astype(str)
    return {
        "seq": pa.array(np.arange(n, dtype=np.int64)),
        "event_id": pa.array(keys),
        "cents": pa.array(rng.integers(0, 50_000, n, dtype=np.int64)),
        "ts": pa.array(np.char.replace(ts, "T", " ")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
    }


def documents(rng, n):
    """Random texts over a 31-word vocabulary; about 1 in 20 documents is an
    earlier one with " dup" appended, so near-duplicate pairs sit at
    Jaccard >= 0.8 and unrelated pairs near 0."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    langs = np.array(["en", "en", "en", "de", "fr", "es", "zh"])
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.integers(0, len(langs), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(0, 1, (labels, dim))
    label = rng.integers(0, labels, n)
    vec = centers[label] + rng.normal(0, 0.8, (n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    }


def tpch(rng, out_dir, sf):
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2))})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
        "o_orderdate": _ts(TPCH_START_US + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": _ts(TPCH_START_US + rng.integers(1, 2500, n_line) * DAY_US)})


def generate(out_dir, seed, sf, events_n, users, days, preload_msgs=0, preload_keys=0):
    """All tables one workload reads. `events_n`, `users` and `days` size
    the events stream independently of `sf` (the streaming and DML
    workloads size their key space and message count on their own); the
    TPC-H-style tables are written only when `sf` > 0, the bus backlog
    (`bus_preload`, `preload_msgs` messages on about `preload_keys` keys)
    only when `preload_msgs` > 0."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    _write(out_dir, "events", events(rng, events_n, users, days))
    if preload_msgs > 0:
        _write(out_dir, "bus_preload",
               bus_messages(rng, preload_msgs, events_n, preload_keys, users, days))
    if sf > 0:
        tpch(rng, out_dir, sf)
        _write(out_dir, "documents", documents(rng, int(50_000 * sf)))
        _write(out_dir, "embeddings", embeddings(rng, int(20_000 * sf)))
