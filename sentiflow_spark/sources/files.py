"""Small-file compaction for file-backed tables.

Small files are the classic lakehouse failure mode (NameNode/listing
pressure, per-file open cost dominating scans). ``compact`` rewrites a
directory to size-targeted files, optionally sorted for min/max
row-group skipping; ``jobs compact`` runs it.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import SparkSession


def dir_bytes(spark: SparkSession, path: str) -> int:
    """Total byte size of a data directory via the Hadoop FS API (works
    for any scheme Spark can read: file://, hdfs://, s3a://...)."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(hconf)
    return fs.getContentSummary(p).getLength()


def compact(
    spark: SparkSession,
    src: str,
    dest: str,
    target_file_mb: int = 128,
    sort_by: Sequence[str] = (),
) -> int:
    """Rewrite a (possibly many-small-files) parquet directory into
    size-targeted files; returns the output file count.

    - File count = ceil(bytes / target_file_mb), so output files land
      near the target regardless of input fragmentation.
    - With ``sort_by``: repartitionByRange + sortWithinPartitions on
      those keys, giving each output file a tight min/max range —
      predicate scans then skip whole files/row groups (poor-man's
      Z-order for a single key prefix).
    - Without: a plain repartition (round-robin) that only fixes
      sizing.

    Writes to ``dest`` (never in place: a failed in-place rewrite
    loses data; callers swap directories after success — the same
    reason the reference's DynamoDB writer batches then commits,
    ``internal/db/dynamodb.go:36``).
    """
    df = spark.read.parquet(src)
    n_files = max(1, math.ceil(dir_bytes(spark, src) / (target_file_mb * 1024**2)))
    if sort_by:
        df = df.repartitionByRange(n_files, *sort_by).sortWithinPartitions(*sort_by)
    else:
        df = df.repartition(n_files)
    df.write.mode("overwrite").parquet(dest)
    return n_files
