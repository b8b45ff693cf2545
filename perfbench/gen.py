"""Seeded generator for the benchmark's input tables.

Writes one parquet file per table (`<dir>/<table>.parquet`), with the
schema and column distributions of the project's sf-scaled test tables:
a TPC-H-like star schema, an `events` stream, a `documents` corpus drawn
from a 30-word vocabulary (5% near-duplicates: another document's text
plus " dup") and unit-norm 64-d `embeddings` with 10 labels, split into
`ml_train` and `ml_val` by vec_id mod 10. Columns are independent uniform
draws, as in those tables. The same (scale, seed) gives byte-identical
values.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.147, 0.412, 0.147, 0.147, 0.147]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DIM = 64
US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def sizes(sf):
    """Row counts per table; the corpus tables keep a floor of 500 rows."""
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "users": max(int(15_000 * sf), 50),
        "documents": max(int(50_000 * sf), 500),
        "embeddings": max(int(20_000 * sf), 500),
    }


def _write(out, name, cols):
    tmp = os.path.join(out, f".{name}.parquet.tmp")
    pq.write_table(pa.table(cols), tmp)
    os.replace(tmp, os.path.join(out, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days, n):
    return start + rng.integers(0, n_days, n).astype("timedelta64[D]")


def corpus(rng, n_docs, n_vecs):
    """documents + embeddings columns (the corpus the curation legs read)."""
    lens = rng.integers(10, 101, n_docs)
    texts = [" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k))
             for k in lens]
    # 5% near-duplicates: a copy of another document's text plus " dup"
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    docs = {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }
    v = rng.standard_normal((n_vecs, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
    }
    return docs, emb


def generate(out, sf, seed):
    """Write the tables for (sf, seed) into `out`, and the embeddings'
    train/validation split."""
    os.makedirs(out, exist_ok=True)
    n = sizes(sf)
    rng = np.random.default_rng(seed)
    docs, emb = corpus(rng, n["documents"], n["embeddings"])
    _write(out, "documents", docs)
    _write(out, "embeddings", emb)
    # the model legs' train and validation frames: a vec_id mod 10
    # holdout, as the project's lifecycle benchmark prepares them
    held = np.arange(len(emb["vec_id"])) % 10 == 0
    for name, rows in (("ml_train", ~held), ("ml_val", held)):
        _write(out, name, {k: v.filter(pa.array(rows)) for k, v in emb.items()})
    i64 = lambda k: np.arange(k, dtype=np.int64)
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    nc, ns, np_, no = n["customer"], n["supplier"], n["part"], n["orders"]
    _write(out, "customer", {
        "c_custkey": i64(nc),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]})
    _write(out, "supplier", {
        "s_suppkey": i64(ns),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    _write(out, "part", {
        "p_partkey": i64(np_),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2)})
    _write(out, "orders", {
        "o_orderkey": i64(no),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, EPOCH_1995, 2405, no),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)]})
    nl = n["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, np_, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, EPOCH_1995 + np.timedelta64(1, "D"), 2499, nl)})
    ne = n["events"]
    _write(out, "events", {
        "event_id": i64(ne),
        "ts": EPOCH_2024 + np.sort(rng.integers(0, 30 * US_PER_DAY, ne)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n["users"], ne),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)]})
