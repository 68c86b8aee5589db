"""Seeded input tables for the benchmark.

Writes the ten tables the engine reads (``region nation customer supplier
part orders lineitem events documents embeddings``) as single parquet files
with the column names, types and value distributions of the engine's
fixture data (see FIXTURES.md): a TPC-H-like star schema, an ``events``
tape sorted by ``ts`` with five event types, a ``documents`` corpus in
which 5 % of rows are near-duplicates of another row, and unit-norm
64-dimensional ``embeddings``.

``rows(scale)`` gives the row counts; scale 0.01 matches the engine's
sf0.01 fixture sizes.  Everything here is numpy/pyarrow, so inputs are
ready before any Spark session exists.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

TAPE_START_US = 1704067200 * 10**6  # 2024-01-01T00:00:00Z
TAPE_SPAN_US = 30 * 86400 * 10**6
ORDER_START_DAY = 9131  # 1995-01-01 in days since the epoch
EMBED_DIM = 64
US_PER_DAY = 86400 * 10**6


def rows(scale: float) -> dict[str, int]:
    """Row count per table at ``scale`` (0.1 = 100k events, 600k lineitem)."""
    f = scale / 0.1
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(15000 * f)),
        "supplier": max(1, round(1000 * f)),
        "part": max(1, round(20000 * f)),
        "orders": max(1, round(150000 * f)),
        "lineitem": max(1, round(600000 * f)),
        "events": max(1, round(100000 * f)),
        "documents": max(500, round(5000 * f)),
        "embeddings": max(500, round(2000 * f)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_us(rng, start_day: int, n_days: int, n: int) -> pa.Array:
    days = start_day + rng.integers(0, n_days, n)
    return pa.array(days.astype(np.int64) * US_PER_DAY, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _events(rng, n: int, n_users: int) -> pa.Table:
    ts = np.sort(rng.integers(0, TAPE_SPAN_US, n)) + TAPE_START_US
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng, n: int) -> pa.Table:
    texts = [
        " ".join(rng.choice(WORDS, int(rng.integers(10, 101))))
        for _ in range(n)
    ]
    # 5 % near-duplicates: another document's text plus one extra token
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vec = rng.normal(0.0, 1.0, (n, EMBED_DIM)) + 0.6 * centers[labels]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def build(out_dir: str, scale: float, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir`` and return the row counts."""
    rng = np.random.default_rng(seed)
    n = rows(scale)
    os.makedirs(out_dir, exist_ok=True)
    n_nation = n["nation"]
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(n_nation), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(n_nation)],
            "n_regionkey": pa.array([i % 5 for i in range(n_nation)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
            "c_name": _names("Customer", n["customer"]),
            "c_nationkey": pa.array(rng.integers(0, n_nation, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
            "s_name": _names("Supplier", n["supplier"]),
            "s_nationkey": pa.array(rng.integers(0, n_nation, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n["part"], dtype=np.int64)),
            "p_name": [
                f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                for _ in range(n["part"])
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(PART_TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n["orders"], dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _days_us(rng, ORDER_START_DAY, 2400, n["orders"]),
            "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"]), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n["lineitem"]),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
            "l_linestatus": rng.choice(["F", "O"], n["lineitem"]),
            "l_shipdate": _days_us(rng, ORDER_START_DAY + 1, 2498, n["lineitem"]),
        }),
        "events": _events(rng, n["events"], max(1, n["events"] * 3 // 200)),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def skew_events(src_dir: str, out_dir: str, hot_residues: list[int]) -> int:
    """Derive a one-hot-symbol tape from ``src_dir/events.parquet``.

    The rule of ``tools/make_scale_data.py --skew --replicas 1`` with the
    hot residue classes given: rows whose ``event_id % 100`` is in
    ``hot_residues`` get ``event_type = 'hot'``; the rest keep theirs.
    Returns the number of rows written."""
    t = pq.read_table(os.path.join(src_dir, "events.parquet"))
    hot = np.isin(t["event_id"].to_numpy() % 100, np.asarray(hot_residues))
    et = np.where(hot, "hot", t["event_type"].to_numpy(zero_copy_only=False))
    t = t.set_column(t.schema.get_field_index("event_type"), "event_type", pa.array(et))
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(t, os.path.join(out_dir, "events.parquet"))
    return t.num_rows
