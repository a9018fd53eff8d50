"""Seeded input tables for the query workloads.

Same table names, columns and Parquet types as the engine's sf0.01 test
tables (schemas in FIXTURES.md §2), at their row counts. FIXTURES.md lists
only names and types; the value domains and distributions below
(cardinalities, ranges, category mixes, time gaps, document lengths and
near-duplicate rate) were measured from those tables, and README.md
("Query tables") lists each measured statistic next to the constant that
reproduces it. Every value is drawn from one numpy generator seeded with
the benchmark seed, so one seed gives one set of tables.
"""
import pathlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PTYPES = ["SMALL", "MEDIUM", "PROMO", "ECONOMY", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("value hash batch sort data big filter fast spark line small customer group "
         "row the query stream key agg scan slow table part a merge window order column "
         "join vector").split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_DAYS = 30          # events.ts: sorted uniform instants over 30 days
EVENT_VALUE_MEAN = 50.0  # events.value: exponential, cents, at least 0.01
DOC_WORDS = (10, 99)     # documents.text: uniform word count, WORDS drawn uniformly
NEAR_DUP_P = 0.05        # share of documents that copy an earlier one plus " dup"


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, (hi - lo).astype(int) + 1, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


def generate(seed, out):
    rng = np.random.default_rng(seed)
    out = pathlib.Path(out)
    out.mkdir(parents=True, exist_ok=True)
    n = ROWS
    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": REGIONS})
    _write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    _write(out, "customer", {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": _money(rng, c, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, c)})
    s = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": _money(rng, s, -999.99, 9999.99)})
    p = n["part"]
    _write(out, "part", {
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, p), rng.choice(NOUN, p))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
        "p_type": rng.choice(PTYPES, p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 1)})
    o = n["orders"]
    _write(out, "orders", {
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, o, 1000, 500000),
        "o_orderdate": _days(rng, o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, o)})
    li = n["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, o, li).astype(np.int64),
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, li, 900, 105000),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _days(rng, li, "1995-01-02", "2001-11-04")})
    e = n["events"]
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + np.sort(rng.integers(0, EVENT_DAYS * 86400 * 1_000_000, e)).astype("timedelta64[us]"))
    _write(out, "events", {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 150, e).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.maximum(0.01, np.round(rng.exponential(EVENT_VALUE_MEAN, e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = []
    for i in range(d):
        if i > 0 and rng.random() < NEAR_DUP_P:
            t = texts[int(rng.integers(0, i))] + " dup"
            while t in texts:  # a second copy of the same document
                t += " dup"
            texts.append(t)
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1)))))
    _write(out, "documents", {
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, d, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    v = n["embeddings"]
    emb = rng.standard_normal((v, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, v).astype(np.int32)})
