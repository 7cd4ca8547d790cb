"""Sink behaviors (SURVEY.md §2a S5, S6, S8): clustered writes, versioned SCD2
barrier with atomic promote, row-count reconciliation."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from healthcare_rcm_etl_pipeline_spark.sources import sinks


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="hrcm_sink_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_write_clustered_partitions_and_sorts(spark, tmpdir):
    df = spark.range(1000).withColumn("part", (F.col("id") % 4).cast("int"))
    path = os.path.join(tmpdir, "clustered")
    sinks.write_clustered(df, path, partition_by=["part"], cluster_by=["id"])
    assert sorted(os.listdir(path))[:1] != []  # partition dirs exist
    back = spark.read.parquet(path)
    assert back.count() == 1000
    assert {r[0] for r in back.select("part").distinct().collect()} == {0, 1, 2, 3}
    # partition pruning: reading one partition touches one directory
    one = spark.read.parquet(path).filter(F.col("part") == 2)
    assert one.count() == 250


def test_versioned_write_promote_and_readback(spark, tmpdir):
    base = os.path.join(tmpdir, "dim")
    assert sinks.read_versioned(spark, base) is None
    v1 = sinks.write_versioned(spark.range(5), base)
    assert v1 == 1
    assert sinks.read_versioned(spark, base).count() == 5
    v2 = sinks.write_versioned(spark.range(9), base)
    assert v2 == 2
    assert sinks.read_versioned(spark, base).count() == 9
    # prior version still readable (read-modify-write barrier intact)
    assert spark.read.parquet(os.path.join(base, "v=1")).count() == 5


def test_rowcount_reconcile(spark, tmpdir):
    df = spark.range(100)
    path = os.path.join(tmpdir, "out")
    sinks.write_parquet(df, path)
    assert sinks.rowcount_reconcile(spark, df, path)
