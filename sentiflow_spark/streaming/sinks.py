"""Serving-store sinks (SURVEY §2.2 K2/K3, §2.7 W2).

The reference batch-upserts into DynamoDB (25-row chunks, retry loops,
PK-overwrite = upsert; ``internal/db/dynamodb.go:28-103,135-189``) with
24h TTL attributes. Spark-side equivalent: a ``foreachBatch`` MERGE
into a keyed table. Without a Delta/Iceberg runtime in this
environment the merge is realized as a **bucket-scoped parquet
partition overwrite**: the table is laid out as
``table/_bucket=<pmod(hash(key), N)>/...``; each merge reads ONLY the
buckets the batch (and any expired rows) touch, resolves first-wins by
(key, new-batch-preferred), and rewrites ONLY those partitions via
dynamic partition overwrite. Per-batch I/O is O(touched buckets), not
O(table) — at 100 TB serving scale with N sized so a bucket fits an
executor, a micro-batch rewrites a few buckets instead of the world.
The logic is identical to ``MERGE WHEN MATCHED UPDATE WHEN NOT MATCHED
INSERT`` and is **idempotent per batch** (replaying a batch converges
to the same table state), which together with checkpointing gives the
end-to-end exactly-once the reference approximates with Kafka
transactions. (With a Delta/Iceberg runtime this function becomes a
single ``MERGE INTO`` — the bucket layout maps 1:1 onto their
clustered-write story.)

Execution: the batch's plan runs once per merge — one eager pin of
the incoming rows whose ``observe`` names the touched buckets, then an
in-place dynamic-overwrite write straight from the merge plan whose own
``observe`` names the buckets still holding rows. Into an existing
table that is 3 Spark jobs: the pin, and the write's shuffle map and
result stages. The table is read with the batch's own columns (checked
against one stored parquet footer on the driver), so no job infers its
schema, and its bucket directories are listed on the driver (see
``merge_upsert`` and ``session.get_spark``).

TTL (W2): rows are stamped ``created_at``/``ttl`` on write
(dynamodb.go:34,200-201 parity) and a retention sweep drops expired
rows on each merge — DynamoDB-TTL semantics without a background
scanner.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sentiflow_spark.sources.files import TableDir

TTL_HOURS = 24


def stamp_ttl(df: DataFrame, now_expr: str = "current_timestamp()") -> DataFrame:
    """K3/W2: add created_at + ttl columns. ``now_expr`` is injectable
    so tests can use a fixed literal timestamp."""
    now = F.expr(now_expr)
    return df.withColumn("created_at", now).withColumn(
        "ttl", now + F.expr(f"INTERVAL {TTL_HOURS} HOURS")
    )


N_BUCKETS = 64


def _bucket_of(key: str, n_buckets: int):
    """Stable bucket id for a key: pmod(murmur3, N). Deterministic
    across batches/sessions, so a key always lives in one partition."""
    return F.pmod(F.hash(F.col(key)), F.lit(n_buckets))


def merge_upsert(
    spark: SparkSession,
    new_rows: DataFrame,
    table_path: str,
    key: str,
    retention_cutoff_expr: str | None = None,
    n_buckets: int = N_BUCKETS,
    partition_col: str | None = None,
) -> None:
    """Keyed upsert into a partition-clustered parquet table: new rows
    win over current by key; optionally drop rows past retention.
    Deterministic + idempotent: applying the same batch twice yields
    the same table.

    By default the table is clustered on a derived hash bucket of the
    key (``_bucket = pmod(hash(key), n_buckets)``). Pass
    ``partition_col`` to cluster on a DOMAIN column the rows already
    carry instead — e.g. the IVF coarse-bucket ``label`` for
    incremental ANN-index maintenance (sim_ivf_upsert) — with
    identical touched-partition semantics.

    CONTRACT: the partition value must be a FIXED function of the key
    across the table's lifetime (the derived hash bucket is, by
    construction). If a key re-sent in a delta carried a DIFFERENT
    partition value than its stored row, the merge would only read the
    new partition and the stale row would survive in the old one —
    a duplicate key across partitions. This is the standard clustered-
    MERGE constraint (Delta/Iceberg clustered writes share it); for the
    IVF index it means coarse re-assignment (centroid retraining) is a
    REBUILD, not an upsert — appends and same-bucket updates are the
    incremental path. Pinned by
    tests/test_sinks.py::test_merge_upsert_partition_col_converges_to_fold.

    COLUMN CONTRACT: a batch merged into an existing table carries
    exactly the table's columns (compared as a set, the partition
    column aside). The table is read with the batch's schema, which
    would silently drop a stored column or null-fill a new one, so the
    merge checks first: the column names stored in one parquet footer
    are compared with the batch's, and a difference raises
    ``ValueError`` naming both lists before anything is pinned or
    written. Pinned by
    tests/test_sinks.py::test_merge_upsert_column_mismatch_raises.

    Execution: ``new_rows`` runs exactly once. Into an existing
    bucketed table the incoming batch is pinned with one eager
    ``localCheckpoint`` whose ``observe`` yields the touched partition
    set; the merged plan (pinned batch ∪ touched partitions, first row
    per key) is written in place by dynamic partition overwrite, and
    an ``observe`` on that write yields the surviving partitions, so a
    touched partition left empty can be deleted. No other scan runs
    apart from the retention probe, so a merge runs 3 Spark jobs (pin,
    shuffle map, result): the table's schema is declared and its
    directories are listed on the driver. A new table or a
    one-time legacy migration (whose flat table is read with schema
    inference) is written straight from ``new_rows`` with no pin.

    Scale shape: only buckets present in the batch (plus buckets
    holding expired rows during a retention sweep) are read and
    rewritten — partition pruning keeps the read side to those
    directories and dynamic partition overwrite keeps the write side
    to the same set. Untouched bucket files are never opened or
    re-written. The retention probe scans only the ``ttl`` column and
    parquet min/max stats skip files with no expired rows.
    """
    pcol = partition_col or "_bucket"
    rows = (
        new_rows
        if partition_col
        else new_rows.withColumn("_bucket", _bucket_of(key, n_buckets))
    )
    incoming = rows.withColumn("_pri", F.lit(0))
    table = TableDir(spark, table_path)
    stored = table.partition_file_columns(pcol)
    touched: set[int] = set()
    migrating = False
    # A directory holding no parquet file (what a zero-row first merge
    # leaves) is merged into as a new table.
    if stored is not None or table.has_parquet():
        if stored is None:
            # no partition directory yet: a legacy table, inferred
            current = spark.read.parquet(table_path)
        else:
            want = set(rows.columns) - {pcol}
            if set(stored) - {pcol} != want:
                raise ValueError(
                    f"merge into {table_path}: the table stores columns "
                    f"{sorted(stored)} but the batch has {sorted(want)}"
                )
            # The batch's columns are the table's, so the read needs no
            # schema-inference job.
            current = spark.read.schema(rows.schema).parquet(table_path)
        if pcol not in current.columns:
            if partition_col:
                # a domain partition column cannot be derived here —
                # the caller owns its computation
                raise ValueError(
                    f"existing table at {table_path} lacks partition "
                    f"column {pcol!r}"
                )
            # One-time migration of a legacy unbucketed table: every
            # row is "touched" this merge; subsequent merges are
            # bucket-scoped. O(table) exactly once, by design.
            migrating = True
            cur_touched = current.withColumn(
                "_bucket", _bucket_of(key, n_buckets)
            ).withColumn("_pri", F.lit(1))
        else:
            # One job runs the batch's plan: the pin keeps its rows for
            # the write below and the observation names the partitions
            # they land in.
            seen = Observation()
            incoming = incoming.observe(
                seen, F.collect_set(pcol).alias("p")
            ).localCheckpoint(eager=True)
            touched = set(seen.get["p"])
            if retention_cutoff_expr:
                expired = (
                    current.filter(F.col("ttl") < F.expr(retention_cutoff_expr))
                    .select(pcol)
                    .distinct()
                    .collect()
                )
                touched |= {r[pcol] for r in expired}
            cur_touched = current.filter(
                F.col(pcol).isin(sorted(touched))
            ).withColumn("_pri", F.lit(1))
        union = incoming.unionByName(cur_touched)
    else:
        union = incoming
    w = W.partitionBy(key).orderBy("_pri")
    merged = (
        union.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_pri")
    )
    if retention_cutoff_expr:
        merged = merged.filter(F.col("ttl") >= F.expr(retention_cutoff_expr))
    if touched:
        written = Observation()
        merged = merged.observe(written, F.collect_set(pcol).alias("p"))
    # The plan reads the partitions this write replaces, yet needs no
    # materialized copy: the key window's exchange makes every read of
    # the old files happen in the shuffle map stage, and the dynamic-
    # overwrite commit writes into a staging directory and swaps the
    # partitions in only at job commit, after that stage has finished.
    # A retried write task re-reads shuffle output; a lost map output
    # is recomputed from old files still in place until that commit.
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(pcol)
        .parquet(table_path)
    )
    if migrating:
        # The legacy table's flat part-files live at the table root;
        # dynamic overwrite only replaced _bucket=* partitions, so
        # remove the old files or reads would double-count.
        table.delete("part-*")
    elif touched:
        # A touched bucket whose merged content is now empty produces
        # no output rows, so dynamic overwrite leaves its stale files
        # in place — clear those partitions explicitly.
        for p in sorted(touched - set(written.get["p"])):
            table.delete(f"{pcol}={p}")


def results_sink(table_path: str):
    """foreachBatch callable for writeStream: MERGE each micro-batch
    into the serving table (K2) by ``content_id``, idempotent per
    batchId."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert(
            batch_df.sparkSession,
            stamp_ttl(batch_df),
            table_path,
            "content_id",
        )

    return _write


def curation_manifest_sink(table_path: str, n_buckets: int = N_BUCKETS):
    """foreachBatch callable: MERGE each micro-batch of ADMITTED
    (fp, n_words) curation rows into the corpus-manifest table keyed
    by fingerprint — the tail of the reference ingest loop (dedup-mark
    then persist; J5→K1→K4 ordering, internal/producer/fetch.go:146-176)
    on the curation path. Upstream dropDuplicatesWithinWatermark
    guarantees at most one row per fp per batch; the keyed MERGE makes
    REPLAYED batches converge to the same table (fp-wins-by-key), so
    checkpoint + this sink is exactly-once manifest maintenance. Rows
    are TTL-stamped on write (K3/W2 parity with the results sink)."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert(
            batch_df.sparkSession,
            stamp_ttl(batch_df),
            table_path,
            "fp",
            n_buckets=n_buckets,
        )

    return _write
