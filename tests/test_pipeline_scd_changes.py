"""E2E SCD2 with real attribute changes: run the pipeline, mutate source
addresses for a known subset, run again against the v1 staging — changed
patients get expired v1 + open v2, untouched patients pass through."""

from __future__ import annotations

import csv
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from healthcare_rcm_etl_pipeline_spark.plans.pipeline import run_pipeline
from healthcare_rcm_etl_pipeline_spark.sources import sinks
from rcmbench.gen import HospitalSources

# the reference seed checkout the real-change night copies
REFERENCE_SEED = "/root/reference"


@pytest.fixture(scope="module")
def mutated_source():
    """Copy the reference seed tree; change Address for patients whose
    PatientID ends in '01' in hospital1 only."""
    d = tempfile.mkdtemp(prefix="hrcm_mut_")
    src = REFERENCE_SEED
    for sub in ["SQL", "Data"]:
        shutil.copytree(os.path.join(src, sub), os.path.join(d, sub))
    path = os.path.join(d, "SQL", "hospital_dbs", "hospital1_db", "patients.csv")
    with open(path, newline="") as f:
        rows = list(csv.reader(f))
    header, body = rows[0], rows[1:]
    pid_i, addr_i = header.index("PatientID"), header.index("Address")
    changed = 0
    for r in body:
        if r[pid_i].endswith("01"):
            r[addr_i] = "999 Changed Street"
            changed += 1
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(body)
    yield d, changed
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.skipif(not os.path.isdir(REFERENCE_SEED), reason=f"no reference seed at {REFERENCE_SEED}")
def test_scd2_detects_real_changes(spark, mutated_source):
    mutated_root, n_changed = mutated_source
    assert n_changed > 0
    staging = tempfile.mkdtemp(prefix="hrcm_scd_stage_")
    try:
        run_pipeline(spark, staging_dir=staging, run_date="2025-08-03")
        run_pipeline(
            spark,
            reference_root=mutated_root,
            staging_dir=staging,
            run_date="2025-09-01",
        )
        dim = sinks.read_versioned(spark, os.path.join(staging, "dim_patients"))

        expired = dim.filter(~F.col("is_current"))
        v2 = dim.filter(F.col("version") == 2)
        assert expired.count() == n_changed
        assert v2.count() == n_changed
        # expired rows carry old address + correct expiry; v2 carries the new
        assert expired.filter(F.col("Address") == "999 Changed Street").count() == 0
        assert v2.filter(F.col("Address") != "999 Changed Street").count() == 0
        assert {str(r[0]) for r in expired.select("expiry_date").distinct().collect()} == {
            "2025-08-31"
        }
        # total rows = 10000 originals + n_changed new versions
        assert dim.count() == 10000 + n_changed
        # unchanged rows kept their original effective date
        unchanged_current = dim.filter(F.col("is_current") & (F.col("version") == 1))
        assert {
            str(r[0]) for r in unchanged_current.select("effective_date").distinct().collect()
        } == {"2025-08-03"}

        # --- fact⋈dim consistency after the change run (stable sks) ---
        # the reference's positional re-key shifts every sk once version-2
        # rows exist, silently attributing claims to the wrong patients;
        # stable_sk must keep fact FKs pointing at the right natural key.
        from healthcare_rcm_etl_pipeline_spark.plans.pipeline import extract
        from healthcare_rcm_etl_pipeline_spark.plans.standardize import add_unified_patient_id

        fact = spark.read.parquet(os.path.join(staging, "fact_transactions"))
        dim_cur = dim.filter(F.col("is_current"))
        # every fact FK resolves against a current dim row
        assert fact.join(dim_cur, "patient_sk", "left_anti").count() == 0
        # and resolves to the RIGHT patient: recompute each transaction's
        # unified id from the raw source and compare through the sk
        db_raw, _ = extract(spark, mutated_root)
        expected = add_unified_patient_id(db_raw["transactions"]).select(
            "TransactionID", "source_hospital", "unified_patient_id"
        )
        got = fact.select("TransactionID", "source_hospital", "patient_sk").join(
            dim_cur.select("patient_sk", F.col("unified_patient_id").alias("dim_upid")),
            "patient_sk",
        )
        mismatches = (
            got.join(expected, ["TransactionID", "source_hospital"])
            .filter(F.col("dim_upid") != F.col("unified_patient_id"))
            .count()
        )
        assert mismatches == 0
        # version-2 patients with transactions: their fact rows must see the
        # NEW address through the current row
        changed_with_facts = (
            fact.join(dim.filter(F.col("version") == 2), "patient_sk").select("patient_sk").distinct()
        )
        stale = (
            changed_with_facts.join(dim_cur, "patient_sk")
            .filter(F.col("Address") != "999 Changed Street")
            .count()
        )
        assert stale == 0
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def test_scd2_detects_generated_changes(spark, tmp_path):
    """A change night on generated hospital inputs (0.02x the reference's
    rows): every changed patient gets an expired v1 row and an open v2 row,
    and every fact FK resolves against a current dim row."""
    src = HospitalSources(5, 0.02)
    stage, root = str(tmp_path / "staging"), str(tmp_path / "reference")
    src.write_staged_dim_patients(stage, "2025-08-01")
    src.advance()
    src.write(root)
    expected = src.expected()
    run_pipeline(spark, reference_root=root, staging_dir=stage, run_date="2025-08-02")

    dim = sinks.read_versioned(spark, os.path.join(stage, "dim_patients"))
    expired = dim.filter(~F.col("is_current"))
    assert expired.count() == expected["expired"] > 0
    assert dim.filter(F.col("version") == 2).count() == expected["expired"]
    assert {str(r[0]) for r in expired.select("expiry_date").distinct().collect()} == {
        "2025-08-01"
    }
    assert dim.count() == expected["dim_patients"]
    fact = spark.read.parquet(os.path.join(stage, "fact_transactions"))
    assert fact.join(dim.filter(F.col("is_current")), "patient_sk", "left_anti").count() == 0
