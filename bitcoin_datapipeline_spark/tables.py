"""Testdata table access.

The driver materializes a deterministic TPC-H-ish star schema plus an
``events`` stream table, ``documents`` and ``embeddings`` under
``/root/testdata/sf{0.001,0.01,0.1}/`` (TESTDATA.md).  ``events`` stands in
for the reference's trade stream (FIXTURES.md §1).

All readers go through :func:`table`.  ``events.ts`` is stored as parquet
TIMESTAMP(MICROS); the engine reads it as a RAW int64 via an explicit
user-specified schema (physical INT64 + LongType request = plain column
read, no timestamp semantics), so every event-time derivation stays exact
64-bit integer arithmetic with no session-timezone dependence — epochs
above 2^53 µs would silently lose ms precision under any double-typed
conversion path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructField, StructType

from .session import configure

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


_FORCED_SCHEMAS: dict[str, StructType] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (column-pruned, pushdown-friendly parquet scan).

    For ``events`` the ``ts`` column is re-typed to raw int64 epoch-µs (see
    module docstring); the forced schema is derived from the footer ONCE per
    path and cached — query construction calls table() repeatedly and the
    footer re-read would otherwise run per call."""
    configure(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        forced = _FORCED_SCHEMAS.get(path)
        if forced is None:
            base = spark.read.parquet(path).schema
            forced = StructType(
                [
                    StructField("ts", LongType(), f.nullable) if f.name == "ts" else f
                    for f in base.fields
                ]
            )
            _FORCED_SCHEMAS[path] = forced
        return spark.read.schema(forced).parquet(path)
    return spark.read.parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
