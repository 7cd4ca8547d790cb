"""Multi-run SCD2 through the versioned staging barrier: run the pipeline
twice against the same staging dir and confirm the second run reads v=1,
detects no changes (same inputs), and promotes v=2 identical in content."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from healthcare_rcm_etl_pipeline_spark.plans.pipeline import run_pipeline
from healthcare_rcm_etl_pipeline_spark.sources import sinks
from rcmbench.gen import HospitalSources


@pytest.fixture(scope="module")
def staging(spark):
    d = tempfile.mkdtemp(prefix="hrcm_staging_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_two_runs_promote_versions(spark, staging):
    run_pipeline(spark, staging_dir=staging, run_date="2025-08-03")
    v1 = sinks.read_versioned(spark, f"{staging}/dim_patients")
    assert v1.count() == 10000

    run_pipeline(spark, staging_dir=staging, run_date="2025-08-10")
    v2 = sinks.read_versioned(spark, f"{staging}/dim_patients")
    # identical input -> no SCD churn: still one current v1 row per key
    assert v2.count() == 10000
    assert v2.filter(~F.col("is_current")).count() == 0
    assert {r[0] for r in v2.select("version").distinct().collect()} == {1}
    # effective dates kept from the first run (unchanged rows pass through)
    assert {str(r[0]) for r in v2.select("effective_date").distinct().collect()} == {
        "2025-08-03"
    }
    # both physical versions remain readable (barrier semantics)
    assert spark.read.parquet(f"{staging}/dim_patients/v=1").count() == 10000
    assert spark.read.parquet(f"{staging}/dim_patients/v=2").count() == 10000


def test_two_runs_on_generated_sources_from_env(spark, tmp_path, monkeypatch):
    """The same two-run contract on generated hospital inputs (0.02x the
    reference's rows), read through ``$HRCM_REFERENCE_ROOT``: no
    ``reference_root`` argument is passed."""
    src = HospitalSources(5, 0.02)
    src.write(str(tmp_path / "reference"))
    monkeypatch.setenv("HRCM_REFERENCE_ROOT", str(tmp_path / "reference"))
    stage = str(tmp_path / "staging")
    n = src.expected()["current_patients"]

    run_pipeline(spark, staging_dir=stage, run_date="2025-08-03")
    assert sinks.read_versioned(spark, f"{stage}/dim_patients").count() == n
    run_pipeline(spark, staging_dir=stage, run_date="2025-08-10")
    v2 = sinks.read_versioned(spark, f"{stage}/dim_patients")
    assert v2.count() == n
    assert v2.filter(~F.col("is_current")).count() == 0
    assert {str(r[0]) for r in v2.select("effective_date").distinct().collect()} == {
        "2025-08-03"
    }
    assert spark.read.parquet(f"{stage}/dim_patients/v=1").count() == n
