"""Hadoop-FileSystem access to table directories, and small-file
compaction for file-backed tables.

``TableDir`` is the one place the engine asks the filesystem about a
table path, so every caller behaves the same on a plain local path, a
``file://`` URI or any other scheme Spark can read.

Small files are the classic lakehouse failure mode (NameNode/listing
pressure, per-file open cost dominating scans). ``compact`` rewrites a
directory to size-targeted files, optionally sorted for min/max
row-group skipping; ``jobs compact`` runs it.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import SparkSession


class TableDir:
    """A table's root path on its Hadoop FileSystem. Existence checks,
    sizes and deletes go through the FileSystem API, never ``os.path``
    (which knows nothing of URIs: ``os.path.isdir("file:///t")`` is
    false for an existing directory)."""

    def __init__(self, spark: SparkSession, table_path: str) -> None:
        self._jvm = spark._jvm
        self._path = spark._jvm.org.apache.hadoop.fs.Path
        self._root = self._path(table_path)
        self._conf = spark._jsc.hadoopConfiguration()
        self._fs = self._root.getFileSystem(self._conf)

    def exists(self) -> bool:
        """True when the path is a directory (a directory-of-parts table)."""
        return self._fs.isDirectory(self._root)

    def partition_file_columns(self, partition_col: str) -> list[str] | None:
        """Column names stored in one parquet file of the table's
        ``<partition_col>=*`` directories (the partition column itself
        lives in the path, not the file), or None when the table has no
        such file. Reads one footer on the driver: no Spark job."""
        files = self._fs.globStatus(
            self._path(self._root, f"{partition_col}=*/*.parquet")
        )
        if not files:
            return None
        parquet = self._jvm.org.apache.parquet.hadoop
        reader = parquet.ParquetFileReader.open(
            parquet.util.HadoopInputFile.fromPath(files[0].getPath(), self._conf)
        )
        try:
            fields = reader.getFooter().getFileMetaData().getSchema().getFields()
            return [f.getName() for f in fields]
        finally:
            reader.close()

    def has_parquet(self) -> bool:
        """True when a parquet file lies at the root or one directory
        down. A zero-row partitioned write leaves a directory holding
        none, which a schema-inferring read cannot open. Lists on the
        driver: no Spark job."""
        return any(
            self._fs.globStatus(self._path(self._root, pattern))
            for pattern in ("*.parquet", "*/*.parquet")
        )

    def size_bytes(self) -> int:
        """Total byte size of everything under the path."""
        return self._fs.getContentSummary(self._root).getLength()

    def delete(self, pattern: str) -> None:
        """Recursively delete every root entry matching glob ``pattern``."""
        for status in self._fs.globStatus(self._path(self._root, pattern)) or []:
            self._fs.delete(status.getPath(), True)


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
    src_bytes = TableDir(spark, src).size_bytes()
    n_files = max(1, math.ceil(src_bytes / (target_file_mb * 1024**2)))
    if sort_by:
        df = df.repartitionByRange(n_files, *sort_by).sortWithinPartitions(*sort_by)
    else:
        df = df.repartition(n_files)
    df.write.mode("overwrite").parquet(dest)
    return n_files
