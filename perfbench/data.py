"""Parquet inputs for the ``parquet_analytics`` workload.

The tables have the schema of the repository's test tables (TESTDATA.md),
which the registry queries read: the TPC-H star from DuckDB's bundled
``dbgen`` at scale 0.1 (lineitem ~600 000 rows), cast to those tables'
column types, plus generated ``events``, ``documents`` and ``embeddings``
tables of the same shape.
All of it is a fixed function of the generator code — the workload seed
permutes operation order, never the data — so the tables are built once
per checkout and reused, like a build artifact.
"""

from __future__ import annotations

import os
import random
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TPCH_SF = 0.1
N_EVENTS = 100_000
N_DOCS = 5_000
N_VECTORS = 2_000
#: Bump when any generator below changes, so cached tables are rebuilt.
VERSION = "1"

_TS = pa.timestamp("us")
_TPCH = {
    "region": ("SELECT r_regionkey, r_name FROM region",
               [("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": ("SELECT n_nationkey, n_name, n_regionkey FROM nation",
               [("n_nationkey", pa.int32()), ("n_name", pa.string()),
                ("n_regionkey", pa.int32())]),
    "customer": ("SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
                 "FROM customer",
                 [("c_custkey", pa.int64()), ("c_name", pa.string()),
                  ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                  ("c_mktsegment", pa.string())]),
    "supplier": ("SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
                 [("s_suppkey", pa.int64()), ("s_name", pa.string()),
                  ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]),
    "part": ("SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice "
             "FROM part",
             [("p_partkey", pa.int64()), ("p_name", pa.string()),
              ("p_brand", pa.string()), ("p_type", pa.string()),
              ("p_size", pa.int32()), ("p_retailprice", pa.float64())]),
    "orders": ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
               "o_orderdate::TIMESTAMP AS o_orderdate, o_orderpriority FROM orders",
               [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                ("o_orderdate", _TS), ("o_orderpriority", pa.string())]),
    "lineitem": ("SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
                 "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, "
                 "l_shipdate::TIMESTAMP AS l_shipdate FROM lineitem",
                 [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                  ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                  ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                  ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                  ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                  ("l_shipdate", _TS)]),
}

_WORDS = ("spark window merge table column vector stream value data small join "
          "filter big group hash customer sort order slow line part fast row the "
          "agg key query a scan batch").split()
_EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
_LANGS = ("en",) * 8 + ("zh", "es", "fr", "de") * 3


def _tpch(out: str) -> None:
    con = duckdb.connect()
    try:
        con.execute(f"CALL dbgen(sf={TPCH_SF})")
        for name, (sql, fields) in _TPCH.items():
            table = con.execute(sql).arrow()
            pq.write_table(table.cast(pa.schema(fields)), os.path.join(out, f"{name}.parquet"))
    finally:
        con.close()


def _events(out: str) -> None:
    rng = np.random.default_rng(7)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, N_EVENTS))
    table = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": pa.array(start + offsets.astype("timedelta64[us]"), _TS),
        "user_id": pa.array(rng.integers(0, 1_500, N_EVENTS), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, N_EVENTS)),
        "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
    })
    pq.write_table(table, os.path.join(out, "events.parquet"))


def _documents(out: str) -> None:
    """Random-vocabulary documents with ~5 % near-duplicates (an earlier
    document plus one token) and a few exact copies, so every dedup
    operator has pairs to find."""
    rng = random.Random(11)
    texts: list[str] = []
    for i in range(N_DOCS):
        roll = rng.random()
        if texts and roll < 0.05:
            texts.append(texts[rng.randrange(len(texts))] + " dup")
        elif texts and roll < 0.052:
            texts.append(texts[rng.randrange(len(texts))])
        else:
            texts.append(" ".join(rng.choice(_WORDS) for _ in range(rng.randint(10, 100))))
    table = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, os.path.join(out, "documents.parquet"))


def _embeddings(out: str) -> None:
    """Unit vectors around ten labelled centroids; ~2 % are near-copies of
    an earlier vector."""
    rng = np.random.default_rng(13)
    centroids = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, N_VECTORS)
    vecs = centroids[labels] + rng.normal(scale=1.5, size=(N_VECTORS, 64))
    copies = np.flatnonzero(rng.random(N_VECTORS) < 0.02)
    for i in copies[copies > 0]:
        src = rng.integers(0, i)
        vecs[i] = vecs[src] + rng.normal(scale=0.01, size=64)
        labels[i] = labels[src]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    table = pa.table({
        "vec_id": pa.array(range(N_VECTORS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    pq.write_table(table, os.path.join(out, "embeddings.parquet"))


def ensure_tables(root: str) -> str:
    """The table directory under ``root``, built on first use. A build
    writes to a scratch directory and renames it into place, so an
    interrupted build never leaves a half-written table set behind."""
    final = os.path.join(root, f"tables-v{VERSION}")
    if os.path.isdir(final):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _tpch(tmp)
    _events(tmp)
    _documents(tmp)
    _embeddings(tmp)
    os.rename(tmp, final)
    return final
