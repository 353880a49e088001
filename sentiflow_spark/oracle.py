"""Local DuckDB oracle harness — driver-identical pandas comparison.

Mirrors the external driver's correctness gate: run a registered
query's Spark implementation and its ANSI-SQL oracle over the same
parquet tables and compare row count, schema (column names), and an
order-insensitive canonical value hash.  Used by tests/test_parity.py.

The driver compares through *pandas* (``spark_df.toPandas()`` vs
``duckdb_rel.df()``), sorts columns by name, ``sort_values`` over all
columns, then hashes cell values dtype-sensitively.  Round 3 proved
that a ``.collect()``/``.fetchall()``-based comparison is NOT
equivalent: DuckDB HUGEINT sums coerce to float64 in pandas (``0.0``
hashed against Spark's ``0``), Spark DECIMAL outputs survive as
``Decimal`` objects in object-dtype columns, and list/map cells crash
``sort_values`` — five driver rows went red on value-identical
results.  This module therefore routes BOTH sides through pandas and
formats cells dtype-sensitively, so that class of divergence fails
locally first.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import duckdb
import pandas as pd
from pyspark.sql import DataFrame

from sentiflow_spark.tables import TABLE_NAMES


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _fmt_cell(v: object, kind: str) -> str:
    """Dtype-sensitive formatting: int64 0 and float64 0.0 must format
    DIFFERENTLY (the driver's HUGEINT→float64 class), and exotic
    object-dtype cells (Decimal, list) must be loud, not coerced."""
    if v is None or v is pd.NaT or (isinstance(v, float) and v != v):
        return "<null>"
    try:
        if pd.isna(v):
            return "<null>"
    except (TypeError, ValueError):
        pass  # arrays/lists: not NA, fall through to repr
    if kind == "f":
        return repr(float(v))
    if kind in ("i", "u"):
        return repr(int(v))
    if kind == "b":
        return repr(bool(v))
    if kind == "M":
        return v.isoformat()
    return f"{type(v).__name__}:{v!r}"


def canon_pdf(pdf: pd.DataFrame) -> tuple[list[str], dict[str, str], list[str]]:
    """Driver-style canonicalization of a pandas frame: columns sorted
    by name, rows sorted by all columns (raises on unhashable cells,
    exactly like the driver's ``sort_values`` canon), every cell
    formatted dtype-sensitively.  Returns (cols, dtype_kinds, rows)."""
    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(
        drop=True
    )
    kinds = {c: pdf[c].dtype.kind for c in pdf.columns}
    rows = [
        "\x1f".join(_fmt_cell(row[c], kinds[c]) for c in pdf.columns)
        for row in pdf.to_dict("records")
    ]
    return list(pdf.columns), kinds, rows


def _hash(cols: list[str], rows: list[str]) -> str:
    h = hashlib.sha256()
    h.update("\x1e".join(cols).encode())
    for line in rows:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


@dataclass
class ParityReport:
    name: str
    spark_rows: int
    oracle_rows: int
    spark_cols: list[str]
    oracle_cols: list[str]
    spark_hash: str
    oracle_hash: str
    sample_diff: list[str]

    # dtype-kind mismatches (e.g. Spark int64 vs oracle float64) and
    # canonicalization crashes (unhashable list/map cells) — each is a
    # driver red row even when values are equal
    type_mismatch: list[str] | None = None
    canon_err: str | None = None

    @property
    def ok(self) -> bool:
        return (
            self.canon_err is None
            and self.spark_rows == self.oracle_rows
            and self.spark_cols == self.oracle_cols
            and self.spark_hash == self.oracle_hash
            and not self.type_mismatch
        )


def compare(
    name: str, spark_df: DataFrame, oracle_sql: str, sf_dir: str
) -> ParityReport:
    spdf = spark_df.toPandas()
    con = duck_connect(sf_dir)
    try:
        opdf = con.execute(oracle_sql).df()
    finally:
        con.close()

    def bad(stage: str, exc: Exception) -> ParityReport:
        return ParityReport(
            name=name,
            spark_rows=len(spdf),
            oracle_rows=len(opdf),
            spark_cols=sorted(spdf.columns),
            oracle_cols=sorted(opdf.columns),
            spark_hash="",
            oracle_hash="",
            sample_diff=[],
            canon_err=f"{stage}: {type(exc).__name__}: {exc}",
        )

    try:
        sc, sk, srows = canon_pdf(spdf)
    except Exception as exc:  # noqa: BLE001 - the driver would crash here too
        return bad("spark canon", exc)
    try:
        oc, okk, orows = canon_pdf(opdf)
    except Exception as exc:  # noqa: BLE001
        return bad("oracle canon", exc)

    diff: list[str] = []
    if srows != orows:
        for a, b in zip(srows, orows):
            if a != b:
                diff.append(f"spark={a[:160]}")
                diff.append(f"duck ={b[:160]}")
                if len(diff) >= 6:
                    break
        if not diff:
            diff.append(
                f"row count differs: spark={len(srows)} duck={len(orows)}"
            )
            extra = srows[len(orows):] or orows[len(srows):]
            diff.extend(r[:160] for r in extra[:3])
    mismatches = [
        f"{c}: spark={sk[c]} duck={okk[c]}"
        for c in sorted(set(sk) & set(okk))
        if sk[c] != okk[c]
    ]
    return ParityReport(
        name=name,
        spark_rows=len(srows),
        oracle_rows=len(orows),
        spark_cols=sc,
        oracle_cols=oc,
        spark_hash=_hash(sc, srows),
        oracle_hash=_hash(oc, orows),
        sample_diff=diff,
        type_mismatch=mismatches or None,
    )
