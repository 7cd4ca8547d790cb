"""Structured Streaming smoke tests: the SAME transform functions used by the
batch queries run under readStream with a watermark, proving the operators
are streaming-clean (no batch-only constructs)."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from healthcare_rcm_etl_pipeline_spark.sources.readers import load_events
from healthcare_rcm_etl_pipeline_spark.streaming import events as ev


@pytest.fixture(scope="module")
def event_dir(spark, sf_dir):
    # re-materialize events as a micro-batch file source (ts already micros)
    d = tempfile.mkdtemp(prefix="hrcm_stream_")
    load_events(spark, sf_dir).write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_stream(spark, stream_df, name, mode):
    q = ev.run_stream_to_memory(stream_df, name, mode)
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_tumbling_window_streaming_matches_batch(spark, sf_dir, event_dir):
    batch = ev.tumbling_window_agg(load_events(spark, sf_dir), "1 hour")
    schema = spark.read.parquet(event_dir).schema
    stream = ev.stream_from_files(spark, event_dir, schema, watermark="10 minutes")
    out = _run_stream(spark, ev.tumbling_window_agg(stream, "1 hour"), "t_tumble", "append")
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in out.collect()}
    # availableNow processes everything; watermark only finalizes windows,
    # so every emitted window must equal its batch twin
    assert s <= b
    assert len(s) >= len(b) - 1  # the last open window may be withheld


def test_watermark_drops_late_events(spark):
    """Late-data policy: with a 10-minute watermark, an event arriving a
    micro-batch later but hours behind the stream's max event time must NOT
    reopen its (already finalized) window."""
    import datetime
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="hrcm_late_")
    data, ckpt = os.path.join(d, "data"), os.path.join(d, "ckpt")
    TS = datetime.datetime.fromisoformat
    schema = "user_id long, ts timestamp, value double"

    out_dir = os.path.join(d, "out")

    def run(_name):
        stream = (
            spark.readStream.schema(schema).parquet(data).withWatermark("ts", "10 minutes")
        )
        agg = ev.tumbling_window_agg(stream, "1 hour")
        q = (
            agg.writeStream.format("parquet").outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        rows = spark.read.parquet(out_dir).collect()
        out: dict[str, list[int]] = {}
        for r in rows:  # keep duplicates visible: re-emission would be a bug
            out.setdefault(str(r["window_start"]), []).append(r["n_events"])
        return out

    # run 1: events at 10:05 and 12:00 -> watermark advances to 11:50,
    # the 10:00-11:00 window finalizes with exactly 1 event
    rows1 = [(1, TS("2024-01-01T10:05:00"), 1.0), (2, TS("2024-01-01T12:00:00"), 1.0)]
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(data)
    out1 = run("t_late1")
    assert out1.get("2024-01-01 10:00:00") == [1], out1

    # run 2 (same checkpoint -> watermark state restored): a 10:20 straggler
    # must be DROPPED — its window is already finalized and never re-emitted
    rows2 = [(3, TS("2024-01-01T10:20:00"), 99.0), (4, TS("2024-01-01T12:30:00"), 1.0)]
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(data)
    out2 = run("t_late2")
    # cumulative file-sink output: the finalized window still shows exactly
    # the one original emission — the straggler neither re-emitted nor
    # updated it
    assert out2.get("2024-01-01 10:00:00") == [1], out2

    import shutil

    shutil.rmtree(d, ignore_errors=True)


def test_sessionize_streaming_runs(spark, event_dir):
    schema = spark.read.parquet(event_dir).schema
    stream = ev.stream_from_files(spark, event_dir, schema, watermark="30 minutes")
    out = _run_stream(spark, ev.sessionize(stream, "15 minutes"), "t_sess", "append")
    assert out.count() > 0
    cols = set(out.columns)
    assert {"user_id", "session_start", "session_end", "n_events", "total_value"} <= cols


def test_stream_stream_join_matches_batch(spark, event_dir):
    batch = {
        tuple(r)
        for r in ev.view_purchase_join(spark.read.parquet(event_dir)).collect()
    }
    schema = spark.read.parquet(event_dir).schema
    stream = spark.readStream.schema(schema).parquet(event_dir)
    out = _run_stream(spark, ev.view_purchase_join(stream), "t_ssjoin", "append")
    got = {tuple(r) for r in out.collect()}
    assert got == batch and len(batch) > 0


def test_pattern_conversion_query_same_ts_ties(spark, tmp_path):
    """Constructed same-user same-timestamp ties AT THE PURCHASE, a case
    absent from the sf events data. The registered RANGE-frame window
    query's semantics are purely timestamp-based: an error sharing the
    purchase's ts vetoes and a view sharing it witnesses, regardless of
    event_id order."""
    from datetime import datetime

    from healthcare_rcm_etl_pipeline_spark.plans.queries import QUERIES

    t = lambda m: datetime(2026, 1, 1, 12, m, 0)
    rows = [
        # user 1: view, then error SHARING the purchase ts with a HIGHER
        # event_id (a ROWS frame would miss it) -> vetoed
        (100, t(0), 1, "view", 0.0, None),
        (102, t(5), 1, "purchase", 9.0, None),
        (103, t(5), 1, "error", 0.0, None),
        # user 2: view SHARING the purchase ts, higher event_id -> converts
        (201, t(5), 2, "purchase", 9.0, None),
        (202, t(5), 2, "view", 0.0, None),
        # user 3: error sharing the LAST VIEW's ts -> vetoed
        (300, t(0), 3, "view", 0.0, None),
        (301, t(0), 3, "error", 0.0, None),
        (302, t(5), 3, "purchase", 9.0, None),
        # user 4: clean control -> converts
        (400, t(0), 4, "view", 0.0, None),
        (401, t(5), 4, "purchase", 9.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))

    window_form = {
        (r["user_id"], r["n_conversions"])
        for r in QUERIES["events_pattern_conversion"](spark, str(tmp_path)).collect()
    }
    assert window_form == {(2, 1), (4, 1)}


def test_windowed_drift_streaming_matches_batch(spark, sf_dir, event_dir):
    """windowed_distribution_drift is single-aggregation by construction,
    so the SAME body runs under Structured Streaming: the pinned static
    reference broadcasts into the stream, per-window PSI/KS emit in
    append mode, and every finalized window must equal its batch twin
    bit-for-bit (the PSI/KS arithmetic is fixed-shape, so stream
    micro-batching cannot reorder it)."""
    from healthcare_rcm_etl_pipeline_spark.operators import quality

    ref = load_events(spark, sf_dir).filter("event_id % 2 = 0")
    batch = quality.windowed_distribution_drift(
        ref,
        load_events(spark, sf_dir).filter("event_id % 2 = 1"),
        "value",
        "ts",
        "1 hour",
        ["event_type"],
    )
    schema = spark.read.parquet(event_dir).schema
    stream = ev.stream_from_files(spark, event_dir, schema, watermark="0 seconds")
    out = _run_stream(
        spark,
        quality.windowed_distribution_drift(
            ref,
            stream.filter("event_id % 2 = 1"),
            "value",
            "ts",
            "1 hour",
            ["event_type"],
        ),
        "t_wdrift",
        "append",
    )
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in out.collect()}
    n_types = load_events(spark, sf_dir).select("event_type").distinct().count()
    # append emits only watermark-finalized windows: the window containing
    # max(ts) may be withheld, once per event_type
    assert s <= b
    assert len(s) >= len(b) - n_types
    assert len(s) > 0


def test_windowed_centroid_drift_streaming_matches_batch(spark, sf_dir):
    """windowed_embedding_centroid_drift is single-aggregation by
    construction (per-dim integer sums, no explode), so the SAME body runs
    under Structured Streaming: the pinned reference centroid grid
    broadcasts into the stream and every finalized (label, window) must
    equal its batch twin bit-for-bit (the integerized sums make the window
    aggregate exactly micro-batch-order-insensitive)."""
    from pyspark.sql import functions as F

    from healthcare_rcm_etl_pipeline_spark.operators import quality
    from healthcare_rcm_etl_pipeline_spark.sources.readers import load_table

    e = load_table(spark, sf_dir, "embeddings")
    ref = e.filter("vec_id % 2 = 0")
    cur = e.filter("vec_id % 2 = 1").withColumn(
        "ts",
        F.expr(
            "timestamp'2025-01-01 00:00:00'"
            " + make_interval(0, 0, 0, 0, CAST(vec_id % 8 AS INT), 0, 0)"
        ),
    )
    batch = quality.windowed_embedding_centroid_drift(
        ref, cur, "embedding", "label", "ts", "1 hour", dim=64
    )

    d = tempfile.mkdtemp(prefix="hrcm_vstream_")
    try:
        cur.write.mode("overwrite").parquet(d)
        schema = spark.read.parquet(d).schema
        stream = ev.stream_from_files(spark, d, schema, watermark="0 seconds")
        out = _run_stream(
            spark,
            quality.windowed_embedding_centroid_drift(
                ref, stream, "embedding", "label", "ts", "1 hour", dim=64
            ),
            "t_vdrift",
            "append",
        )
        b = {tuple(r) for r in batch.collect()}
        s = {tuple(r) for r in out.collect()}
        n_labels = e.select("label").distinct().count()
        # append emits only watermark-finalized windows: the window holding
        # max(ts) may be withheld, once per label
        assert s <= b
        assert len(s) >= len(b) - n_labels
        assert len(s) > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)
