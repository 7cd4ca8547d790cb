"""The benchmark's own tests: ``python -m pytest rcmbench -q`` from the root.

A tiny-size run of each workload, untraced and traced, must emit every metric
BENCHMARK.json names with its unit and pass every output check. The
generator must be deterministic, and its staged prior night must equal what
``run_pipeline`` stages itself.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from rcmbench import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "rcmbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_emits_every_metric_and_passes_checks(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stdout[-3000:]
    assert result["attempted"] >= 1
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in wanted)


def test_no_package_means_no_result(tmp_path):
    """Where only BENCHMARK.json and the benchmark's files exist, the run
    fails without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p)
    proc = _run(SPEC["workloads"][0]["name"], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_generators_are_deterministic(tmp_path):
    for name in ("a", "b"):
        src = gen.HospitalSources(7, 0.02)
        src.advance()
        src.write(str(tmp_path / name))
        gen.write_corpus(str(tmp_path / name / "corpus"), 7, 0.002)
    for dirpath, _, files in os.walk(tmp_path / "a"):
        for f in files:
            if f.endswith(".csv"):
                rel = os.path.relpath(os.path.join(dirpath, f), tmp_path / "a")
                assert open(tmp_path / "a" / rel).read() == open(tmp_path / "b" / rel).read()
    import pyarrow.parquet as pq

    for t in ("documents", "embeddings", "lineitem"):
        a = pq.read_table(tmp_path / "a" / "corpus" / f"{t}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / "corpus" / f"{t}.parquet"))


def test_hospital_sources_keep_the_reference_properties(tmp_path):
    src = gen.HospitalSources(3, 0.05)
    src.write(str(tmp_path))
    h2 = open(tmp_path / "SQL/hospital_dbs/hospital2_db/patients.csv").readline()
    assert h2.startswith("ID,F_Name,L_Name,M_Name") and h2.strip().endswith("Updated_Date")
    import duckdb

    con = duckdb.connect()
    p1 = f"read_csv('{tmp_path}/SQL/hospital_dbs/hospital1_db/patients.csv', all_varchar=true)"
    assert con.execute(f"SELECT count(*) - count(DISTINCT PatientID) FROM {p1}").fetchone()[0] > 0
    assert {r[0] for r in con.execute(f"SELECT DISTINCT Gender FROM {p1}").fetchall()} == {
        "Male", "Female"}
    tx = f"read_csv('{tmp_path}/SQL/hospital_dbs/hospital1_db/transactions.csv', all_varchar=true)"
    assert con.execute(
        f"SELECT bool_and(regexp_matches(ProviderID, '^PROV[0-9]{{4}}$')) FROM {tx}").fetchone()[0]
    cl = f"read_csv('{tmp_path}/Data/claims/hospital1_claim_data.csv', all_varchar=true)"
    neg = con.execute(
        f"SELECT avg(CASE WHEN ModifiedDate::DATE < ServiceDate::DATE THEN 1 ELSE 0 END) "
        f"FROM {cl}").fetchone()[0]
    assert 0.8 < neg < 1.0
    unresolved = con.execute(
        f"SELECT count(*) FROM {cl} c LEFT JOIN {tx} t USING (TransactionID) "
        "WHERE t.TransactionID IS NULL").fetchone()[0]
    assert unresolved == 0


def test_staged_prior_night_equals_the_pipelines_load_night(tmp_path):
    """The change night starts from staging the generator writes; it must be
    row-for-row what run_pipeline's own load night stages."""
    import duckdb

    from healthcare_rcm_etl_pipeline_spark.plans.pipeline import run_pipeline
    from healthcare_rcm_etl_pipeline_spark.session import get_spark

    src = gen.HospitalSources(11, 0.02)
    src.write(str(tmp_path / "ref"))
    src.write_staged_dim_patients(str(tmp_path / "generated"), "2025-08-01")
    spark = get_spark(cpus=2)
    run_pipeline(spark, reference_root=str(tmp_path / "ref"),
                 staging_dir=str(tmp_path / "program"), run_date="2025-08-01")
    con = duckdb.connect()
    a = f"read_parquet('{tmp_path}/generated/dim_patients/v=1/*.parquet')"
    b = f"read_parquet('{tmp_path}/program/dim_patients/v=1/*.parquet')"
    cols = "unified_patient_id, FirstName, LastName, Gender, age, Address, source_hospital, " \
           "version, effective_date, expiry_date, is_current, patient_sk"
    for x, y in ((a, b), (b, a)):
        assert con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM {x} EXCEPT ALL SELECT {cols} FROM {y})"
        ).fetchone()[0] == 0
