"""Seeded generator for the benchmark's sf0.1 input tables.

Writes the ten tables the engine reads (`Tables.names`) as one-row-group
parquet files, with the schemas and value domains of the engine's test
corpus (see FIXTURES.md): money columns are DOUBLE with two decimals,
timestamps are naive microsecond timestamps, keys are dense from 0, and
non-key columns carry duplicates. The corpus text draws from a 30-word
vocabulary, and 5% of the documents are near-duplicate copies (the source
text plus a trailing `dup` token), which is what the dedup family finds.

The same seed always gives the same values.

    python3 perfbench/gen.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
N_SUPPLIER = int(10_000 * SF)
N_CUSTOMER = int(150_000 * SF)
N_PART = int(200_000 * SF)
N_ORDERS = int(1_500_000 * SF)
N_LINEITEM = int(6_000_000 * SF)
N_EVENTS = int(1_000_000 * SF)
N_USERS = N_CUSTOMER // 10
N_DOCS = 5_000
N_VECS = 2_000
DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.14, 0.15]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]


def money(rng, lo, hi, n):
    """Uniform two-decimal amounts in [lo, hi]."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def cents(rng, hi, n):
    """A uniform fraction in [0, hi] rounded to the cent, so the two end
    values are half as frequent as the rest (as in the test corpus)."""
    return np.rint(rng.uniform(0.0, hi * 100, n)) / 100.0


def days(rng, first, last, n):
    """Uniform midnight timestamps between two dates, inclusive."""
    d0 = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - d0).astype(int) + 1
    return (d0 + rng.integers(0, span, n)).astype("datetime64[us]")


def pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def write(out_dir, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=len(table) + 1, compression="snappy")


def documents(rng):
    lengths = rng.integers(10, 101, N_DOCS)
    texts = [" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), k)])
             for k in lengths]
    copies = rng.choice(N_DOCS, N_DOCS // 20, replace=False)
    for i in copies:
        src = int(rng.integers(0, N_DOCS))
        if src == i:
            src = (src + 1) % N_DOCS
        texts[i] = texts[src].removesuffix(" dup") + " dup"
    return {
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(pick(rng, LANGS, N_DOCS, LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def embeddings(rng):
    x = rng.standard_normal((N_VECS, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32()),
    }


def events(rng):
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    month = 30 * 86_400 * 1_000_000
    ts = np.unique(start + rng.integers(0, month, N_EVENTS * 2))
    ts = np.sort(rng.choice(ts, N_EVENTS, replace=False))
    return {
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": pa.array(pick(rng, EVENT_TYPES, N_EVENTS), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
                          pa.string()),
    }


def generate(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)})
    write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, N_SUPPLIER), f64)})
    write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(N_CUSTOMER), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, N_CUSTOMER), f64),
        "c_mktsegment": pa.array(pick(rng, SEGMENTS, N_CUSTOMER), s)})
    names = [f"{c} {n}" for c in COLORS for n in NOUNS]
    write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(N_PART), i64),
        "p_name": pa.array(pick(rng, names, N_PART), s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)], s),
        "p_type": pa.array(pick(rng, PTYPES, N_PART), s),
        "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
        "p_retailprice": pa.array(900.0 + (np.arange(N_PART) % 1000) / 10.0, f64)})
    write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(N_ORDERS), i64),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), i64),
        "o_orderstatus": pa.array(pick(rng, STATUS, N_ORDERS), s),
        "o_totalprice": pa.array(money(rng, 1000.0, 500000.0, N_ORDERS), f64),
        "o_orderdate": pa.array(days(rng, "1995-01-01", "2001-08-01", N_ORDERS),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(pick(rng, PRIORITIES, N_ORDERS), s)})
    n = N_LINEITEM
    write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n), i64),
        "l_partkey": pa.array(rng.integers(0, N_PART, n), i64),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64), f64),
        "l_extendedprice": pa.array(money(rng, 900.0, 105000.0, n), f64),
        "l_discount": pa.array(cents(rng, 0.10, n), f64),
        "l_tax": pa.array(cents(rng, 0.08, n), f64),
        "l_returnflag": pa.array(pick(rng, ["A", "N", "R"], n), s),
        "l_linestatus": pa.array(pick(rng, ["F", "O"], n), s),
        "l_shipdate": pa.array(days(rng, "1995-01-02", "2001-11-04", n),
                               pa.timestamp("us"))})
    write(out_dir, "events", events(rng))
    write(out_dir, "documents", documents(rng))
    write(out_dir, "embeddings", embeddings(rng))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
