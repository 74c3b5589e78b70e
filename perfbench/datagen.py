"""Deterministic synthetic input tables for the benchmark.

Writes the ten parquet tables the query registry reads (`region nation
customer supplier part orders lineitem events documents embeddings`) in the
same schema, value ranges and categorical vocabularies as the project's
scale-factor directories: a TPC-H-like star schema, an `events` stream over
January 2024, a bag-of-words `documents` corpus with planted near-duplicates
("<text> dup") and exact duplicates, and 64-d unit `embeddings`.

Row counts scale linearly with `sf` (sf 0.1: 600,000 lineitem rows). The
tables depend only on (sf, data seed); the benchmark's per-run `--seed`
drives the workload schedule, not the tables.

Usage: python3 perfbench/datagen.py <out_dir> [sf] [data_seed]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _days(start, end):
    return np.arange(np.datetime64(start), np.datetime64(end) + 1)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def build(sf=0.1, data_seed=42):
    """All tables as {name: pyarrow.Table}."""
    rng = np.random.default_rng(data_seed)
    n_cust, n_supp = int(150000 * sf), max(int(10000 * sf), 10)
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_li, n_ev = int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(int(50000 * sf), 50), max(int(20000 * sf), 20)
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part)
    names = [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
             zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2)})
    odays = _days("1995-01-01", "2001-08-01")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(
            odays[rng.integers(0, len(odays), n_ord)].astype("datetime64[us]")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    sdays = _days("1995-01-02", "2001-11-04")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(
            sdays[rng.integers(0, len(sdays), n_li)].astype("datetime64[us]"))})
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n_ev)) + \
        np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), n)])
             for n in rng.integers(10, 101, n_doc)]
    n_near = max(n_doc // 20, 1)
    for i in rng.choice(n_doc, n_near, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    for i in rng.choice(n_doc, max(n_doc // 600, 1), replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(x) for x in texts], i64)})
    emb = rng.standard_normal((n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    return t


def write(out_dir, sf=0.1, data_seed=42):
    """Write every table as `<out_dir>/<name>.parquet` (one file each)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build(sf, data_seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def replicate(src_dir, out_dir, factor, offset=1_000_000_000):
    """`factor`× copy of every table with the key-shift scheme of
    `graft.tools.ScaleUp`: every integer `*key` / `*_id` column becomes
    BIGINT shifted by `replica · offset`, the same offset in every table,
    so foreign keys hold within a replica and entity spaces are disjoint
    across replicas; payload columns are copied unchanged. Each table is
    written as one parquet file, as the source tables are."""
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        table = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        keys = [f.name for f in table.schema
                if (f.name.endswith("key") or f.name.endswith("_id"))
                and pa.types.is_integer(f.type)]
        parts = []
        for r in range(factor):
            t = table
            for c in keys:
                shifted = pc.add(t[c].cast(pa.int64()), r * offset)
                t = t.set_column(t.schema.get_field_index(c), c, shifted)
            parts.append(t)
        pq.write_table(pa.concat_tables(parts),
                       os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.1,
          int(sys.argv[3]) if len(sys.argv) > 3 else 42)
