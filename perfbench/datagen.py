"""Seeded synthetic input tables for the benchmark.

Writes the ten tables the registry queries read (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet file
each) with the column names, types, value ranges and row counts of the
engine's test data, so the engine and its DuckDB oracles run unchanged and
do the same work. Every value comes from `numpy.random.default_rng(seed)`:
one seed, one data set.

Row counts scale linearly with `sf` (sf 0.01 gives 60,000 lineitem rows),
except the corpus tables, which have a floor of 500 rows, as in the test
data. As there, one document in twenty is a near-duplicate (another
document's text with " dup" appended), and the embeddings are uniformly
random unit vectors, so near-duplicate pairs are rare.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_ROWS = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
CORPUS_FLOOR = 500
DUP_SHARE = 0.05
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
EMBED_DIM = 64
EMBED_LABELS = 10

def _rows(name, sf):
    floor = CORPUS_FLOOR if name in ("documents", "embeddings") else 1
    return max(int(round(BASE_ROWS[name] * sf)), floor)


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, ndays, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, ndays, n).astype("timedelta64[D]")


def tables(sf, seed):
    """Return {table name: pyarrow.Table} for scale factor `sf`."""
    rng = np.random.default_rng(seed)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})

    n_cust = _rows("customer", sf)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})

    n_supp = _rows("supplier", sf)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)})

    n_part = _rows("part", sf)
    names = [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                        rng.choice(PART_NOUN, n_part))]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})

    n_ord = _rows("orders", sf)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(STATUS, n_ord),
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n_ord),
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITY, n_ord)})

    # (l_orderkey, l_linenumber) repeats on purpose, as in the engine's
    # test data: the queries dedupe it (TpchGraph.lineitemDeduped).
    n_li = _rows("lineitem", sf)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    flags = rng.integers(0, 6, n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags // 2],
        "l_linestatus": np.array(["F", "O"])[flags % 2],
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, n_li),
                               pa.timestamp("us"))})

    n_ev = _rows("events", sf)
    n_users = max(n_cust // 10, 1)
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": _cents(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    n_doc = _rows("documents", sf)
    texts = [" ".join(rng.choice(VOCAB, k)) for k in rng.integers(10, 100, n_doc)]
    for i in rng.choice(n_doc, int(n_doc * DUP_SHARE), replace=False):
        j = (i + rng.integers(1, n_doc)) % n_doc
        texts[i] = texts[j] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    n_emb = _rows("embeddings", sf)
    vecs = rng.normal(0.0, 1.0, (n_emb, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, EMBED_LABELS, n_emb), pa.int32())})
    return out


def write(dst, sf, seed):
    """Write every table to `dst/<name>.parquet`."""
    os.makedirs(dst, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(dst, f"{name}.parquet"))
