"""Loaders for the driver-provided synthetic tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet each under an ``sf_dir``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
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


# Some testdata generations write events.ts as parquet timestamp[ns],
# which Spark rejects by default (PARQUET_TYPE_ILLEGAL). Read nanos as
# long and convert — integer DIV, not float division: ns epochs
# (~1.7e18) exceed double's 2^53 mantissa. Conversion is applied only
# when the column actually arrives as an integral type; newer testdata
# ships micros timestamps that Spark reads natively.
_NANOS_TS_COLS = {"events": ("ts",)}


def _fix_nanos(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    for c in cols:
        dtype = dict(df.dtypes).get(c)
        if dtype in ("bigint", "long", "int"):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"CAST({c} DIV 1000 AS BIGINT)")))
        elif dtype == "timestamp_ntz":
            # value-preserving under the engine's fixed UTC session tz;
            # keeps downstream unix_micros()/watermark code on one type
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


# DataFrame memo keyed by (Spark application id, sf_dir, table): Spark
# DataFrames are immutable plans, so reusing one across queries is
# safe and skips the per-call file listing + footer schema read —
# with 100+ registry queries × several load()s each, that repeated
# listing was ~a third of the bench suite's wall time. Keying on the
# applicationId (unique per context) keeps a restarted session from
# seeing plans bound to a dead JVM.
_CACHE: dict[tuple[str, str, str], DataFrame] = {}

# Monotone count of cache MISSES (first-per-session parquet reads,
# which may launch a schema-inference job). The registry's
# prepared-plan memo reads it to tell "this build ran a job because a
# table was loaded for the first time" (harmless — rebuilds job-free)
# apart from "this query does genuinely eager work" (must never be
# rebuilt just to probe memoizability: that doubles its cost).
_MISS_COUNT = 0


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table. Plain parquet scan — Catalyst handles
    column pruning + predicate pushdown downstream."""
    global _MISS_COUNT
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    key = (spark.sparkContext.applicationId, sf_dir.rstrip("/"), name)
    hit = _CACHE.get(key)
    if hit is not None:
        return hit
    _MISS_COUNT += 1
    nanos_cols = _NANOS_TS_COLS.get(name, ())
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _fix_nanos(spark.read.parquet(f"{sf_dir}/{name}.parquet"), nanos_cols)
    _CACHE[key] = df
    return df
