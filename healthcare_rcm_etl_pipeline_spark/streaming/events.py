"""Event-stream operators: windowed aggregation, sessionization, JSON props.

The reference has no streaming surface (SURVEY.md §2n); these are the
beyond-reference operators over the driver's ``events`` table. Each transform
is written against a plain DataFrame so the SAME function body runs in batch
(tests, oracles) and under Structured Streaming (``readStream`` + watermark):
Spark's ``window``/``session_window`` aggregations are identical in both
modes — streaming just adds incremental state + late-data eviction.

Money-style sums go through DECIMAL for order-insensitive determinism (see
functions.cleanse.money_sum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_rcm_etl_pipeline_spark.functions.cleanse import money_sum


def parse_props(events: DataFrame, key: str = "k") -> DataFrame:
    """JSON prop extraction: props is a JSON string column."""
    return events.withColumn(
        key, F.get_json_object(F.col("props"), f"$.{key}").cast("int")
    )


def tumbling_window_agg(events: DataFrame, duration: str = "1 hour") -> DataFrame:
    """Tumbling-window counts/sums per window.

    Distinct-user counting switches to approx_count_distinct under
    streaming (exact distinct aggs are unsupported on streams) — the
    documented batch-vs-stream semantic difference."""
    n_users = (
        F.approx_count_distinct("user_id") if events.isStreaming else F.countDistinct("user_id")
    )
    return (
        events.groupBy(F.window("ts", duration).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            money_sum("value").alias("total_value"),
            n_users.alias("n_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_events",
            "total_value",
            "n_users",
        )
    )


def sliding_window_agg(
    events: DataFrame, duration: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Sliding-window aggregation (each event lands in duration/slide windows)."""
    return (
        events.groupBy(F.window("ts", duration, slide).alias("w"))
        .agg(F.count("*").alias("n_events"), money_sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


def sessionize(events: DataFrame, gap: str = "15 minutes") -> DataFrame:
    """Session-window aggregation per user: sessions close after ``gap`` of
    inactivity; session end = last event + gap (Spark session_window
    semantics, identical in batch and streaming)."""
    return (
        events.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            money_sum("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def stream_from_files(
    spark: SparkSession,
    path: str,
    schema,
    watermark: str = "10 minutes",
) -> DataFrame:
    """File-source stream with a watermark — the late-data policy: events
    older than max(event time) - watermark are dropped from open windows.

    ``ts`` is normalized to TIMESTAMP before the watermark: a parquet source
    whose timestamps carry no timezone is inferred as TIMESTAMP_NTZ, which
    ``withWatermark`` rejects (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). The
    cast reinterprets the stored micros under the session timezone (pinned
    UTC by the session factory), matching the batch reader boundary."""
    df = spark.readStream.schema(schema).parquet(path)
    if dict(df.dtypes).get("ts") == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df.withWatermark("ts", watermark)


def run_stream_to_memory(
    windowed: DataFrame, query_name: str, output_mode: str = "append"
):
    """Drive a windowed stream into an in-memory sink (test/demo harness)."""
    return (
        windowed.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def view_purchase_join(
    events: DataFrame, within: str = "30 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Stream-stream interval join: each 'view' joined to the same user's
    'purchase' events landing within ``within`` AFTER the view — the
    impression-attribution shape. The SAME body runs in batch (tests,
    oracle) and streaming.

    Streaming state stays bounded: the join key is an equi-condition on
    user_id (state partitioned by user, no broadcast of either stream) and
    the two-sided time-range condition plus both watermarks lets Spark evict
    a buffered row once event-time passes view_ts + within + watermark —
    without the range bound, stream-stream inner join state grows forever.
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    v = src.filter(F.col("event_type") == "view").select(
        F.col("user_id"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = src.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("__p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    joined = v.join(
        p,
        (F.col("user_id") == F.col("__p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {within}")),
    )
    return joined.select(
        "user_id", "view_id", "purchase_id", "view_ts", "purchase_ts", "purchase_value"
    )
