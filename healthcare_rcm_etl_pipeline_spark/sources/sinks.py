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
- coerce_dates / normalize nulls at the edge (S7) — Spark nulls are native.
- write_versioned: the SCD2 read-modify-write barrier (SURVEY.md §3):
  parquet can't be overwritten while being read, so each run writes
  ``<path>/v=<n+1>`` and promotes via a _CURRENT marker file.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def coerce_dates(df: DataFrame, date_cols: list[str]) -> DataFrame:
    """Sink-side DATE coercion (S7) — load.py:105-109. try_cast: malformed
    values coerce to null (pandas errors='coerce' parity) instead of raising
    under Spark 4's default ANSI mode."""
    out = df
    for c in date_cols:
        out = out.withColumn(c, F.col(c).try_cast("date"))
    return out


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


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
) -> None:
    """Hash-bucketed managed table (CLUSTERED BY ... INTO n BUCKETS).

    Both sides of a join bucketed on the join key with the same bucket count
    join WITHOUT a shuffle — the pre-partitioning substitutes for the
    exchange. At 100 TB this converts every fact⋈fact or fact⋈big-dim join
    from a full-network shuffle into a local merge; asserted in
    tests/test_bucketing.py via the physical plan (no Exchange).
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


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


def zorder_value(cols: list[str], bits: int = 8, bounds: dict[str, tuple[float, float]] | None = None):
    """Morton (z-order) interleave expression over numeric columns.

    Each column is scaled to a ``bits``-bit integer via its (min, max)
    bounds — pass them from ``df.agg(min, max)`` or approxQuantile; driver
    holds only 2 floats per column — then the bit-planes are interleaved so
    nearby (x, y) pairs get nearby z values. Pure column arithmetic,
    codegen'd.
    """
    n = len(cols)
    parts = []
    for j, c in enumerate(cols):
        lo, hi = (bounds or {}).get(c, (0.0, 1.0))
        span = (hi - lo) or 1.0
        scaled = F.least(
            F.lit((1 << bits) - 1),
            F.greatest(
                F.lit(0),
                ((F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * F.lit((1 << bits) - 1))
                .cast("bigint"),
            ),
        )
        for i in range(bits):
            parts.append(
                F.shiftleft(F.shiftrightunsigned(scaled, i).bitwiseAND(F.lit(1)), i * n + j)
            )
    z = parts[0]
    for p in parts[1:]:
        z = z.bitwiseOR(p)
    return z


def write_zordered(
    df: DataFrame, path: str, cols: list[str], n_files: int, bits: int = 8
) -> None:
    """Z-order clustered parquet write: rows are range-partitioned and
    sorted by the Morton interleave of ``cols``, so EVERY clustered
    column's min/max footprint per file is narrow — a point/range predicate
    on ANY of them prunes most files via row-group stats. A linear sort
    gives that property to its leading column only; at 100 TB the second
    predicate column otherwise reads the whole table. (Same layout device
    as Delta/Iceberg OPTIMIZE ZORDER, expressed with plain Spark ops.)

    Column bounds come from one tiny min/max aggregate (2 doubles per
    column to the driver).
    """
    bounds_row = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"{c}__lo") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"{c}__hi") for c in cols],
    ).collect()[0]
    bounds = {c: (bounds_row[f"{c}__lo"], bounds_row[f"{c}__hi"]) for c in cols}
    z = zorder_value(cols, bits=bits, bounds=bounds)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_versioned(
    spark: SparkSession, base: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """Small-files compaction for a versioned dataset: rewrite the current
    version into ~``total_bytes / target_file_bytes`` evenly-sized files as
    the NEXT version (readers flip atomically via the _CURRENT marker, so
    compaction never blocks or corrupts concurrent reads).

    Incremental/streaming sinks accrete a file per micro-batch per
    partition; at 100 TB the resulting millions of tiny files dominate scan
    cost (footer reads + task scheduling) long before data volume does —
    periodic compaction is maintenance, not optimization. Sizes come from a
    Hadoop FS listing (works on HDFS/object stores); the rewrite is a plain
    round-robin ``repartition(n)`` so output files are even with no skew
    from any data column.
    """
    import math

    v = _current_version(spark, base)
    if v == 0:
        raise ValueError(f"no promoted version under {base}")
    fs, p = _fs_path(spark, os.path.join(base, f"v={v}"))
    total = 0
    it = fs.listFiles(p, True)
    while it.hasNext():
        f = it.next()
        if f.getPath().getName().endswith(".parquet"):
            total += f.getLen()
    n = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(os.path.join(base, f"v={v}"))
    return write_versioned(df.repartition(n), base)


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
