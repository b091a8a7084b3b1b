"""Deterministic benchmark inputs, made from the workload seed alone.

The tables have the schemas and value shapes of the engine's test tables
(FIXTURES.md section B): a TPC-H-like star schema plus `events`,
`documents` and `embeddings`. The same seed always gives byte-identical
tables, so a run can be repeated and two commits compared on equal inputs.

Two kinds of input are made here:

* `query_tables`: the ten parquet tables the registered queries read.
* landing CSV files for the ETL workload: event rows as the reference's
  S3 landing prefix would hold them, with an overlap file for the dedup
  step and old, already-processed files the recency filter must skip.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
ADJECTIVES = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
NOUNS = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]

EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000
EVENT_COLUMNS = ["event_id", "ts", "user_id", "event_type", "value", "props"]

# Row counts of the query tables: the engine's sf0.01 test size. At this
# size every query finishes in well under a second except the iterative
# ones, so one pass of the query mix fits a run's time budget.
QUERY_SIZES = {"customer": 1500, "supplier": 100, "part": 2000,
               "orders": 15000, "lineitem": 60000, "events": 10000,
               "documents": 500, "embeddings": 500}


def _rng(seed, stream):
    """One independent generator per (seed, stream): adding a table never
    changes the rows of another."""
    return np.random.default_rng([seed, stream])


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def events(seed, n, days=30, users=None, stream=1):
    """`n` events spread over `days` days from 2024-01-01, ids in time
    order, as in the engine's `events` table."""
    r = _rng(seed, stream)
    users = users or max(1, n * 3 // 200)
    ts = np.sort(r.integers(0, days * DAY_US, n))
    value = np.round(r.gamma(2.0, 25.0, n), 2)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": EVENTS_START.astype(np.int64) + ts,
        "user_id": r.integers(0, users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
        "value": value,
        "props": np.char.add(np.char.add('{"k": ',
                                         r.integers(0, 100, n).astype(str)),
                             "}"),
    }


def events_table(ev):
    return pa.table({
        "event_id": ev["event_id"], "ts": _ts(ev["ts"]),
        "user_id": ev["user_id"], "event_type": ev["event_type"],
        "value": ev["value"], "props": ev["props"]})


def query_tables(seed, sizes=QUERY_SIZES):
    """The ten tables the registered queries read, keyed by table name."""
    r = _rng(seed, 0)
    nc, ns, np_, no, nl = (sizes[t] for t in
                           ("customer", "supplier", "part", "orders",
                            "lineitem"))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, nc)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, ns), 2)})
    t["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": np.char.add(np.char.add(
            np.array(ADJECTIVES)[r.integers(0, 8, np_)], " "),
            np.array(NOUNS)[r.integers(0, 8, np_)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, np_).astype(str)),
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, np_)],
        "p_size": pa.array(r.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 1)})
    day_us = np.int64(DAY_US)
    order_day = r.integers(0, 2404, no).astype(np.int64)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": r.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, no)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts(np.datetime64("1995-01-01", "us").astype(np.int64)
                           + order_day * day_us),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, no)]})
    qty = r.integers(1, 51, nl).astype(np.float64)
    lorder = r.integers(0, no, nl).astype(np.int64)
    t["lineitem"] = pa.table({
        "l_orderkey": lorder,
        "l_partkey": r.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": r.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(r.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, nl)],
        "l_shipdate": _ts(np.datetime64("1995-01-01", "us").astype(np.int64)
                          + (order_day[lorder] + r.integers(1, 122, nl))
                          * day_us)})
    t["events"] = events_table(events(seed, sizes["events"]))
    t["documents"] = documents(seed, sizes["documents"])
    t["embeddings"] = embeddings(seed, sizes["embeddings"])
    return t


def documents(seed, n):
    """Token-salad documents over a 30-word vocabulary; 5% of them copy
    another document and append the word 'dup' (near-duplicate fodder for
    the dedup queries)."""
    r = _rng(seed, 2)
    lens = r.integers(10, 101, n)
    words = np.array(WORDS)
    text = [" ".join(words[r.integers(0, len(WORDS), k)]) for k in lens]
    dups = r.choice(n, size=n // 20, replace=False)
    for d in dups:
        src = int(r.integers(0, n))
        if src != d:
            text[d] = text[src] + " dup"
    lang_p = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": np.array(LANGS)[r.choice(5, n, p=lang_p)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in text], dtype=np.int64)})


def embeddings(seed, n, dim=64):
    """Isotropic unit vectors (float32) with a random label in 0..9."""
    r = _rng(seed, 3)
    v = r.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n), pa.int32())})


def write_query_tables(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    tables = query_tables(seed)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}


def write_csv(path, ev, rows=None):
    """Landing CSV with a header. Fields are written unquoted: no value
    holds a comma or newline, and the JSON quotes in `props` stay literal,
    as an upstream exporter would write them."""
    idx = np.arange(len(ev["event_id"])) if rows is None else rows
    ts = np.datetime_as_string(ev["ts"][idx].astype("datetime64[us]"),
                               unit="us")
    cols = [ev["event_id"][idx].astype(str), np.char.replace(ts, "T", " "),
            ev["user_id"][idx].astype(str), ev["event_type"][idx],
            np.char.mod("%.2f", ev["value"][idx]), ev["props"][idx]]
    with open(path, "w") as f:
        f.write(",".join(EVENT_COLUMNS) + "\n")
        for line in zip(*cols):
            f.write(",".join(line) + "\n")


def daily_landing(landing, seed, rows, files=8, overlap=0.05):
    """A month of `rows` events as `files` CSV files, plus one overlap file
    repeating a seed-chosen `overlap` share of the rows (the reference's
    overlapping stream exports, dedup work). Returns the file names."""
    ev = events(seed, rows)
    names = []
    for i, part in enumerate(np.array_split(np.arange(rows), files)):
        names.append(f"events-{i:02d}.csv")
        write_csv(os.path.join(landing, names[-1]), ev, part)
    rep = np.sort(_rng(seed, 4).choice(rows, int(rows * overlap),
                                       replace=False))
    names.append("events-overlap.csv")
    write_csv(os.path.join(landing, names[-1]), ev, rep)
    return names


def processed_landing(landing, seed, base_rows, days=10):
    """`days` days of already-processed events as 24 hourly CSV files per
    day, from an earlier month: files a recency filter must skip. Returns
    the file names."""
    ev = events(seed, base_rows)
    day = (ev["ts"] - EVENTS_START.astype(np.int64)) // DAY_US
    hour = (ev["ts"] // 3_600_000_000) % 24
    names = []
    for d in range(days):
        for h in range(24):
            names.append(f"processed-d{d:02d}-h{h:02d}.csv")
            write_csv(os.path.join(landing, names[-1]), ev,
                      np.nonzero((day == d) & (hour == h))[0])
    return names
