"""Warehouse-load contract: schema binding produces exactly the declared
types, clustering fields applied, row counts reconcile (load.py parity)."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from healthcare_rcm_etl_pipeline_spark.plans import load as wload
from healthcare_rcm_etl_pipeline_spark.plans.pipeline import run_pipeline


@pytest.fixture(scope="module")
def warehouse(spark, hospital_sources):
    """The first night's star on the ``hospital_sources`` tree (the reference
    seed, else the generated one), loaded into a temporary warehouse."""
    d = tempfile.mkdtemp(prefix="hrcm_wh_")
    star = run_pipeline(spark, run_date="2025-08-03")
    results = wload.load_warehouse(spark, star, d)
    yield spark, d, results
    shutil.rmtree(d, ignore_errors=True)


def test_all_tables_loaded_and_reconciled(warehouse):
    _, _, results = warehouse
    assert set(results) == set(wload.TARGET_SCHEMAS)
    assert all(results.values()), results


def test_loaded_schemas_match_declared(warehouse):
    spark, d, _ = warehouse
    for name, schema in wload.TARGET_SCHEMAS.items():
        got = spark.read.parquet(f"{d}/{name}")
        declared = [(f.name, f.dataType.simpleString()) for f in schema.fields]
        actual = [(f.name, f.dataType.simpleString()) for f in got.schema.fields]
        assert actual == declared, f"{name}: {actual} != {declared}"


def test_bind_schema_try_casts_malformed_dates(spark):
    """Sink-side DATE coercion (SURVEY S7): a malformed value becomes NULL
    instead of failing the load under Spark 4's ANSI mode."""
    from pyspark.sql import types as T

    df = spark.createDataFrame([("2024-01-05",), ("not-a-date",)], ["d"])
    schema = T.StructType([T.StructField("d", T.DateType())])
    vals = [r[0] for r in wload.bind_schema(df, schema).collect()]
    assert str(vals[0]) == "2024-01-05" and vals[1] is None


def test_normalize_ntz_casts_all_ntz_columns(spark, tmp_path):
    """A parquet file whose timestamps carry no timezone is read as
    TIMESTAMP_NTZ; normalize_ntz must flip every such column to TIMESTAMP
    under the UTC session preserving the stored wall-clock micros — the
    guard that keeps a testdata regeneration from breaking unix_millis /
    withWatermark consumers (it did, in round 3)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from healthcare_rcm_etl_pipeline_spark.sources.readers import normalize_ntz

    p = str(tmp_path / "ntz.parquet")
    ts = [datetime.datetime(2026, 1, 2, 3, 4, 5, 123456)]
    pq.write_table(
        pa.table(
            {
                "a": pa.array(ts, type=pa.timestamp("us")),  # NTZ
                "b": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
                "k": pa.array([7], type=pa.int64()),
            }
        ),
        p,
    )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = spark.read.parquet(p)
    assert dict(raw.dtypes)["a"] == "timestamp_ntz"
    out = normalize_ntz(raw)
    assert dict(out.dtypes) == {"a": "timestamp", "b": "timestamp", "k": "bigint"}
    r = out.collect()[0]
    assert r["a"] == r["b"] == ts[0]  # wall-clock preserved, byte-equal epochs
    from pyspark.sql import functions as F

    ms = out.select(F.unix_millis("a").alias("m")).collect()[0]["m"]
    assert ms == int(ts[0].replace(tzinfo=datetime.timezone.utc).timestamp() * 1000)
