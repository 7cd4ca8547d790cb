"""Schema'd readers (SURVEY.md §2a S1-S4).

- CSV with explicit schema + permissive date parsing (S2/S3; glob paths go
  straight into spark.read).
- Parquet for the driver testdata (S4); prior-dimension state is read by
  ``sinks.read_versioned``.
- JDBC reader (S1): the reference pulls 5 tables × 2 MySQL DBs with
  SELECT * (/root/reference/python/extraction.py:30-41); the same tables
  ship as CSVs, which the e2e tests use. The JDBC path takes partitioning
  options so a real cluster scan parallelizes (numPartitions/
  partitionColumn bounds) and is exercised live by tests/test_jdbc.py
  against Derby's embedded driver (bundled with PySpark): row parity,
  4-way partitioned range read, and predicate pushdown (PushedFilters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TESTDATA_TABLES = [
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
]


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """CSV scan with explicit schema; malformed cells coerce to null
    (PERMISSIVE), matching pandas errors='coerce' semantics."""
    return (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("dateFormat", "yyyy-MM-dd")
        .schema(schema)
        .csv(path)
    )


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
) -> DataFrame:
    """JDBC table scan (S1). With partition_column + bounds the read is
    split into num_partitions parallel range queries — required for any
    non-toy table; a single-connection SELECT * does not scale."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", num_partitions)
            .option("lowerBound", lower_bound or 0)
            .option("upperBound", upper_bound or 1_000_000)
        )
    return reader.load()


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet readers have seen two physical encodings of ``ts``:

    - TIMESTAMP(NANOS), which Spark's parquet reader rejects outright: read
      nanos as long (legacy conf) and convert with exact integer division to
      microseconds — matching DuckDB's read-time ns->us truncation
      bit-for-bit (double division would round up near ms boundaries).
    - timestamp[us] with no timezone (isAdjustedToUTC=false), which Spark 4
      infers as TIMESTAMP_NTZ. NTZ is rejected by ``unix_millis`` and by
      ``withWatermark`` (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), so the whole
      event surface would break downstream. Cast to TIMESTAMP here, under
      the UTC session timezone, so the stored micros are reinterpreted as
      UTC instants — exactly how DuckDB's naive-timestamp oracle reads them.

    Normalizing once at this boundary keeps every downstream operator
    (range join, windows, watermarks, as-of) on plain TIMESTAMP.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to TIMESTAMP. Parquet timestamps
    written without a timezone (isAdjustedToUTC=false) arrive as NTZ, which
    half the timestamp surface rejects (unix_millis, withWatermark) — under
    a UTC session the cast reinterprets the stored micros as UTC instants,
    exactly how a naive-timestamp SQL oracle reads the same file. Applied
    at every table-load boundary so a testdata regeneration can never flip
    the engine's timestamp type out from under the operators again."""
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One driver testdata table (TESTDATA.md).

    The session timezone is pinned to UTC: ntz->timestamp conversions and
    window/date_trunc rendering otherwise follow whatever zone the calling
    session happens to have, which would silently skew results against a
    UTC-reading oracle."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        return load_events(spark, sf_dir)
    return normalize_ntz(spark.read.parquet(f"{sf_dir}/{name}.parquet"))

