"""Sinks (SURVEY.md §2a S5-S8).

The reference writes parquet staging files (/root/reference/python/
scd_implementation.py:123-132) then loads BigQuery with WRITE_TRUNCATE and
clustering fields (/root/reference/python/load.py:92-113). Spark-native
equivalents:

- write_parquet: mode("overwrite") = WRITE_TRUNCATE.
- write_clustered: partitionBy(...) + sortWithinPartitions(...) — the
  clustering analog; readers get partition pruning + locality on the sort
  keys. At 100 TB this is the difference between scanning one partition and
  scanning the lake.
- Sink-side DATE coercion (S7) is ``plans.load.bind_schema``'s try_cast.
- write_versioned: the SCD2 read-modify-write barrier (SURVEY.md §3):
  parquet can't be overwritten while being read, so each run writes
  ``<path>/v=<n+1>`` and promotes via a _CURRENT marker file.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_parquet(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def write_clustered(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    cluster_by: list[str] | None = None,
) -> None:
    """Partitioned + sorted-within-partitions parquet (clustering analog of
    load.py:100-103). repartition on the partition columns first so each
    output partition is written by few tasks (no small-file explosion)."""
    out = df
    if partition_by:
        out = out.repartition(*[F.col(c) for c in partition_by])
    if cluster_by:
        out = out.sortWithinPartitions(*[F.col(c) for c in cluster_by])
    writer = out.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def _fs_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the Hadoop FileSystem API — the
    marker I/O below works on any Hadoop-supported store (local, HDFS,
    s3a/gcs connectors), not just the driver's local filesystem."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def path_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe via the Hadoop FS API — the portable way to ask
    'is there a dataset here yet?' (matching exception message strings from
    a failed read is brittle across Spark versions)."""
    fs, p = _fs_path(spark, path)
    return bool(fs.exists(p))


def read_text_marker(spark: SparkSession, path: str, default: str) -> str:
    """Read a small text marker file via the Hadoop FS API (works on any
    Hadoop-supported store). Shared by the versioned-sink _CURRENT marker
    and the streaming _EPOCH replay gates."""
    fs, marker = _fs_path(spark, path)
    if not fs.exists(marker):
        return default
    stream = fs.open(marker)
    try:
        data = []
        b = stream.read()
        while b != -1 and len(data) < 256:
            data.append(b)
            b = stream.read()
    finally:
        stream.close()
    return bytes(data).decode().strip() or default


def write_text_marker(spark: SparkSession, path: str, value: str) -> None:
    """Atomically-ish advance a marker: write to ``.tmp`` then
    delete+rename. (A crash between delete and rename loses the marker —
    callers treat a missing marker as 'default', which for both _CURRENT
    and _EPOCH means re-applying idempotent work, never corruption.)"""
    fs, tmp = _fs_path(spark, path + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(value.encode()))
    finally:
        out.close()
    _, cur = _fs_path(spark, path)
    fs.delete(cur, False)
    fs.rename(tmp, cur)


def read_int_marker(spark: SparkSession, path: str, default: int) -> int:
    return int(read_text_marker(spark, path, str(default)))


def write_int_marker(spark: SparkSession, path: str, value: int) -> None:
    write_text_marker(spark, path, str(value))


def _current_version(spark: SparkSession, base: str) -> int:
    return read_int_marker(spark, os.path.join(base, "_CURRENT"), 0)


def read_versioned(spark: SparkSession, base: str) -> DataFrame | None:
    """Read the promoted version of a versioned dataset, None if absent."""
    v = _current_version(spark, base)
    if v == 0:
        return None
    return spark.read.parquet(os.path.join(base, f"v={v}"))


def write_versioned(df: DataFrame, base: str) -> int:
    """Write the next version and promote it via the _CURRENT marker (SCD2
    read-modify-write barrier).

    Concurrency contract: SINGLE WRITER per dataset — two concurrent writers
    can read the same version and race the promotion (last rename wins). The
    promotion rename is atomic on local FS and HDFS; object stores without
    atomic rename (raw S3) get delete+rename, so a reader can observe a
    missing marker for an instant — run one writer and retry reads, or front
    the dataset with a table format (Delta/Iceberg) for multi-writer needs.
    """
    spark = df.sparkSession
    v = _current_version(spark, base) + 1
    df.write.mode("overwrite").parquet(os.path.join(base, f"v={v}"))
    write_int_marker(spark, os.path.join(base, "_CURRENT"), v)
    return v


def rowcount_reconcile(spark: SparkSession, df: DataFrame, path: str) -> bool:
    """Post-load row-count validation (S8) — load.py:115-119."""
    return df.count() == spark.read.parquet(path).count()
