"""Seeded input tables for the benchmark.

Writes the ten tables the registered queries read (``hops_spark.io.readers.
TABLES``) as one parquet file each, with the column names and types of the
repository's test fixtures and value ranges modelled on them. The same seed
always gives byte-identical tables; the row counts are fixed so that runs
with different seeds do the same amount of work.

The generator is modelled on the repository's sf0.01 test fixture:
``REFERENCE`` holds that fixture's figures as ``shape.py`` prints them, and
the self-tests hold every seed's tables to them. It departs from that
fixture on purpose in two ways (``DEPARTURES``):

- documents of the ``BENCH_SOURCE`` source use their own content words, so
  the pipeline's decontamination stage drops only the few corpus documents
  that were planted with a passage copied from it (in the test fixture the
  bench source shares the corpus's words, and decontamination leaves about
  one document in a hundred);
- each order's lines are numbered 1..k, so ``(l_orderkey, l_linenumber)``
  is a key (in the test fixture a quarter of the lines repeat a number).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table (the shape of the repository's sf0.01 fixture)
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500,
        "embeddings": 500}
N_SOURCES = 20
BENCH_SOURCE = "src0"
WORDS = ("merge window customer spark part group stream filter the sort scan "
         "vector join query big hash data column agg table line small slow "
         "key fast order row value a batch").split()
BENCH_WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india "
               "juliet kilo lima mike november oscar papa quebec romeo sierra "
               "tango uniform victor whiskey xray yankee zulu the a").split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
DUP_SHARE = 0.05         # documents that repeat another one plus " dup"
CONTAMINATED_SHARE = 0.03  # corpus documents carrying a bench passage
EMBED_DIM = 64

# figures of the repository's sf0.01 test fixture (``shape.py``)
REFERENCE = {
    "documents": 500, "dup_documents": 25, "words_p50": 56.0,
    "vocabulary": 31, "minhash_candidates": 25, "minhash_verified": 25,
    "near_dup_clusters": 23, "largest_cluster": 3, "embeddings": 500,
    "cells": 16, "cell_min": 24, "cell_max": 41, "cell_pairs": 7742,
    "cell_verified_pairs": 210, "semdedup_kept": 350, "lineitem": 60000,
    "lineitem_key_share": 0.7639}
DEPARTURES = ("vocabulary", "lineitem_key_share")


def _ts(rng: np.random.Generator, start: dt.datetime, days: int, n: int,
        with_time: bool) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    if with_time:
        off = rng.integers(0, days * 86_400_000_000, n)
    else:
        off = rng.integers(0, days, n) * 86_400_000_000
    return pa.array(base + off, pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator) -> pa.Table:
    n = ROWS["documents"]
    ids = np.arange(n)
    sources = np.array([f"src{i % N_SOURCES}" for i in ids])
    texts = []
    for i in ids:
        vocab = BENCH_WORDS if sources[i] == BENCH_SOURCE else WORDS
        texts.append(" ".join(rng.choice(vocab, int(rng.integers(10, 100)))))
    bench = [i for i in ids if sources[i] == BENCH_SOURCE]
    corpus = [i for i in ids if sources[i] != BENCH_SOURCE]
    # disjoint (original, copy) pairs and contaminated documents, so the
    # near-duplicate graph has the same shape for every seed
    picked = [int(i) for i in rng.permutation(corpus)]
    n_dup = int(n * DUP_SHARE)
    n_cont = int(n * CONTAMINATED_SHARE)
    for orig, copy in zip(picked[:n_dup], picked[n_dup:2 * n_dup]):
        texts[copy] = texts[orig] + " dup"
    for i in picked[2 * n_dup:2 * n_dup + n_cont]:
        words = texts[int(rng.choice(bench))].split()
        texts[i] = texts[i] + " " + " ".join(words[:12])
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def make_tables(seed: int) -> dict[str, pa.Table]:
    """All ten tables for ``seed``."""
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)})
    n = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = ROWS["part"]
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "nut", "plate", "ring", "rod", "widget"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 1)})
    n = ROWS["orders"]
    odate = _ts(rng, dt.datetime(1995, 1, 1), 2404, n, with_time=False)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": odate,
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)})
    n = ROWS["lineitem"]
    okey = np.sort(rng.integers(0, ROWS["orders"], n))
    # each order's lines are numbered 1..k, as in TPC-H, so that
    # (l_orderkey, l_linenumber) is a key and per-order windows have no ties
    lineno = np.arange(n) - np.searchsorted(okey, okey) + 1
    ship = (np.asarray(odate.cast(pa.int64()))[okey]
            + rng.integers(1, 96, n) * 86_400_000_000)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": pa.array(ship, pa.int64()).cast(pa.timestamp("us"))})
    n = ROWS["events"]
    ts = np.sort(np.asarray(_ts(rng, dt.datetime(2024, 1, 1), 30, n,
                                with_time=True).cast(pa.int64())))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n),
        "value": np.round(rng.exponential(40.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    t["documents"] = _documents(rng)
    n = ROWS["embeddings"]
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})
    return t


def write_tables(seed: int, out_dir: str) -> dict[str, pa.Table]:
    """Write every table of ``seed`` to ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    tables = make_tables(seed)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return tables
