"""Cross-engine-deterministic numeric aggregation helpers.

Floating-point SUM/AVG are addition-order dependent, so a distributed
Spark aggregate and a single-threaded DuckDB oracle can disagree in the
last bits. Every aggregate here goes through DECIMAL (exact, hence
order-independent) and casts the final value back to DOUBLE — the same
decimal value converts to the same IEEE double in both engines, so
results are bitwise identical AND independent of parallelism. This is
also the right behavior at 100 TB: decimal partial aggregates are
Tungsten-native and commutative, no precision drift across 1000
executors.

The synthetic data is 2-dp money and ≤2-dp rates, so DECIMAL(18,2) /
DECIMAL(4,2) casts are lossless.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY = "decimal(18,2)"
RATE = "decimal(4,2)"


def dsum(col: Column, typ: str = MONEY) -> Column:
    """Order-independent SUM(double) → exact decimal → double."""
    return F.sum(col.cast(typ)).cast("double")


def davg(col: Column, typ: str = MONEY) -> Column:
    """AVG as exact-sum / count — double division of identical operands
    is deterministic in both engines."""
    return F.sum(col.cast(typ)).cast("double") / F.count(col)


def duck_dsum(expr: str, typ: str = "DECIMAL(18,2)") -> str:
    return f"CAST(SUM(CAST({expr} AS {typ})) AS DOUBLE)"


def duck_davg(expr: str, typ: str = "DECIMAL(18,2)") -> str:
    return f"CAST(SUM(CAST({expr} AS {typ})) AS DOUBLE) / COUNT({expr})"


# Revenue expression used across the TPC-H-class queries:
# extendedprice * (1 - discount), computed exactly.
def revenue() -> Column:
    return F.sum(
        F.col("l_extendedprice").cast(MONEY)
        * (F.lit(1).cast(RATE) - F.col("l_discount").cast(RATE))
    ).cast("double")


def duck_revenue() -> str:
    return (
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * "
        "(CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)"
    )
