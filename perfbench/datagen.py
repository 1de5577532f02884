"""Seeded input generators for the benchmark.

- :func:`write_tables` writes the ten batch tables (TPC-H-like star
  schema, ``events``, ``documents``, ``embeddings``) as one parquet file
  each, with the row counts and value ranges of the repository's test
  fixtures at the same scale factor.
- :func:`write_events` writes an ``events`` table of a given length,
  from which the ``cdc`` backlog and live events are derived.

Plain numpy/pyarrow: no Spark session is needed to make the inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_PART_ADJ = ["small", "red", "blue", "hot", "old", "new", "large", "green"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]


def _days(rng, start: str, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def events_columns(n: int, seed: int) -> dict:
    """``events`` rows: a 30-day click stream with ``n`` events."""
    rng = np.random.default_rng(seed)
    span_us = 30 * 86_400 * 1_000_000
    offsets = np.sort(rng.integers(0, span_us, n))
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(15, n // 66), n).astype(np.int64)),
        "event_type": pa.array(
            rng.choice(["click", "view", "purchase", "signup", "error"], n)
        ),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def write_events(out_dir: str, n: int, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    _write(out_dir, "events", events_columns(n, seed))


def write_tables(out_dir: str, sf: float, seed: int = 42) -> None:
    """Write all ten tables at scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_ord, n_line = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_supp = int(200_000 * sf), max(10, int(10_000 * sf))
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2400, n_ord)),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105_000.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, n_line)),
    })
    _write(out_dir, "events", events_columns(int(1_000_000 * sf), seed + 1))

    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(10, 100)))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(
            ["en", "zh", "es", "de", "fr"], n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    })
