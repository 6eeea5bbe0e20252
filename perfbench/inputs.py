"""Seeded input generation. Everything a workload feeds the program comes
from here, as parquet files under the run's input directory.

The rows follow the synthetic TPC-H-ish ``lineitem`` / ``customer`` /
``documents`` / ``embeddings`` schemas the package's readers declare
(``levi_spark.sources.registry.TABLE_DDL``), generated in-process from
the seed so a run reads nothing outside its checkout. Bench-added
column: ``row_id``.

Key properties the checks rely on: in a generated lineitem batch
``row_id``, ``(l_orderkey, l_linenumber)`` and ``(l_orderkey,
l_partkey)`` are each unique.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_PARTS = 20_000
EPOCH = np.datetime64("1992-01-02", "us")
LANGS = ["en", "zh", "es", "fr", "de"]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

LINEITEM_SCHEMA = pa.schema(
    [
        ("row_id", pa.int64()),
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ]
)


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream) so adding a stream never
    shifts another's values."""
    return np.random.default_rng([seed, *stream])


def lineitem(rng: np.random.Generator, first_orderkey: int, n_orders: int,
             first_row_id: int) -> pa.Table:
    """1-7 lines per order, orderkeys ``first_orderkey ..``; partkeys are
    distinct within an order."""
    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    order_idx = np.repeat(np.arange(n_orders), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    base = rng.integers(0, N_PARTS, n_orders)[order_idx]
    partkey = (base + linenumber.astype(np.int64) * 7919) % N_PARTS + 1
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * (900.0 + partkey / 10.0), 2)
    return pa.table(
        {
            "row_id": np.arange(first_row_id, first_row_id + n, dtype=np.int64),
            "l_orderkey": (first_orderkey + order_idx).astype(np.int64),
            "l_partkey": partkey.astype(np.int64),
            "l_suppkey": rng.integers(1, 1001, n).astype(np.int64),
            "l_linenumber": linenumber,
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
            "l_shipdate": EPOCH + rng.integers(0, 2500, n).astype("timedelta64[D]"),
        },
        schema=LINEITEM_SCHEMA,
    )


def write(t: pa.Table, path: str) -> str:
    pq.write_table(t, path)
    return path


# ---------------------------------------------------------------- customers

DIM_ATTRS = ["c_nationkey", "c_mktsegment", "c_acctbal"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
DIM_EPOCH = dt.datetime(2020, 1, 1)


def customer_attrs(rng: np.random.Generator, n: int) -> dict:
    return {
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), n)],
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
    }


DIM_SCHEMA = pa.schema(
    [
        ("c_custkey", pa.int64()),
        ("c_nationkey", pa.int32()),
        ("c_mktsegment", pa.string()),
        ("c_acctbal", pa.float64()),
        ("is_current", pa.bool_()),
        ("effective_time", pa.timestamp("us")),
        ("end_time", pa.timestamp("us")),
    ]
)
UPDATES_SCHEMA = pa.schema(
    [f for f in DIM_SCHEMA if f.name not in ("is_current", "end_time")]
)


def customer_dim(rng: np.random.Generator, n: int) -> pa.Table:
    """SCD2 dimension at its first load: every row current, open-ended."""
    return pa.table(
        {
            "c_custkey": np.arange(1, n + 1, dtype=np.int64),
            **customer_attrs(rng, n),
            "is_current": np.ones(n, dtype=bool),
            "effective_time": np.full(n, np.datetime64(DIM_EPOCH, "us")),
            "end_time": pa.nulls(n, pa.timestamp("us")),
        },
        schema=DIM_SCHEMA,
    )


# ---------------------------------------------------------------- documents


def _text(rng: np.random.Generator, n_tokens: int) -> list[str]:
    return list(np.array(VOCAB)[rng.integers(0, len(VOCAB), n_tokens)])


def documents(rng: np.random.Generator, n_base: int, n_exact: int, n_near: int):
    """``documents`` with injected exact copies and near-duplicates (one
    token in ~20 replaced). Returns (table, near pairs) with pairs as
    (original doc_id, copy doc_id)."""
    texts = [_text(rng, int(k)) for k in rng.integers(12, 90, n_base)]
    near = []
    for src in rng.choice(n_base, n_exact, replace=False):
        texts.append(list(texts[src]))
    for src in rng.choice(n_base, n_near, replace=False):
        toks = list(texts[src])
        for i in rng.choice(len(toks), max(1, len(toks) // 20), replace=False):
            toks[i] = VOCAB[(VOCAB.index(toks[i]) + 1) % len(VOCAB)]
        near.append((int(src), len(texts)))
        texts.append(toks)
    joined = [" ".join(t) for t in texts]
    n = len(joined)
    t = pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": joined,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(s) for s in joined], dtype=np.int64),
        }
    )
    return t, near


# ---------------------------------------------------------------- embeddings

DIMS = 64
N_CLUSTERS = 10


def _unit(x: np.ndarray) -> np.ndarray:
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def embeddings(rng: np.random.Generator, n: int) -> tuple[pa.Table, np.ndarray]:
    """Unit vectors around ``N_CLUSTERS`` centroids; returns (table, matrix)."""
    centroids = _unit(rng.normal(size=(N_CLUSTERS, DIMS)))
    label = rng.integers(0, N_CLUSTERS, n)
    vecs = _unit(centroids[label] + 0.35 * rng.normal(size=(n, DIMS)))
    t = pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )
    return t, vecs


def query_batch(rng: np.random.Generator, vecs: np.ndarray, n: int, first_id: int):
    """Queries near existing vectors; ids never collide with candidates."""
    src = rng.choice(len(vecs), n, replace=False)
    q = _unit(vecs[src] + 0.15 * rng.normal(size=(n, DIMS)))
    t = pa.table(
        {
            "vec_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "embedding": pa.array(list(q), type=pa.list_(pa.float32())),
        }
    )
    return t, q
