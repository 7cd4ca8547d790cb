"""The nightly star is computed once (plans/pipeline.py ``run_pipeline``):
each star table is an eager checkpoint that the quality checks, the staging
writes and the returned frames all read, instead of each of them replaying
the CSV graph; the SCD2 merge and every surrogate-key rank are checkpoints
too, so the night caches nothing. Pinned on one SCD2 change night over
generated two-hospital inputs (rcmbench.gen.HospitalSources, 0.02x the
reference's rows)."""

from __future__ import annotations

import logging
import os
import sys

from healthcare_rcm_etl_pipeline_spark.plans.pipeline import run_pipeline

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rcmbench.gen import HospitalSources  # noqa: E402

SEED, SCALE = 5, 0.02
# staged parquet files per table (local[8], 8 shuffle partitions, this seed
# and scale). A cached star skips AQE's final partition coalescing and would
# write more, smaller files. Until the ranks were checkpoints the layout was
# 5/2/2/6/6/1/1: a persisted rank relation is a cached plan, which AQE does
# not coalesce, so its 8 shuffle partitions reached dim_patients,
# dim_procedures and dim_date; a checkpointed rank is coalesced to one.
STAGED_FILES = {
    "dim_patients": 1,
    "dim_providers": 2,
    "dim_departments": 2,
    "dim_procedures": 1,
    "dim_date": 1,
    "fact_transactions": 1,
    "fact_claims": 1,
}
# Spark jobs of the night: 223 when every action replayed the graph, 112
# with the checkpointed star, 95 once the SCD2 merge is checkpointed and the
# dead patient rank is gone; the budget is 95 plus 15%
JOB_BUDGET = 109


def _jobs(spark) -> dict[int, str | None]:
    """{job id: description} of every Spark job the status store holds, once
    it has seen every job event posted so far."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    listed = jsc.statusStore().jobsList(None)
    jobs = [listed.apply(i) for i in range(listed.size())]
    return {j.jobId(): j.description().get() if j.description().isDefined() else None
            for j in jobs}


def test_change_night_computes_the_star_once(spark, tmp_path, caplog):
    src = HospitalSources(SEED, SCALE)
    stage, root = str(tmp_path / "staging"), str(tmp_path / "reference")
    src.write_staged_dim_patients(stage, "2025-08-01")
    src.advance()
    src.write(root)
    expected = src.expected()

    # the night caches nothing, and another caller's cached frame survives it
    cache = spark._jsparkSession.sharedState().cacheManager()
    theirs = spark.createDataFrame([(2,), (1,)], ["k"]).persist()
    theirs.count()
    cached_on_entry = cache.numCachedEntries()
    sc = spark.sparkContext
    sc.setJobDescription("outer")
    try:
        first_job = max(_jobs(spark), default=-1) + 1
        with caplog.at_level(logging.INFO, logger="healthcare_rcm_etl_pipeline_spark"):
            star = run_pipeline(spark, reference_root=root, staging_dir=stage,
                                run_date="2025-08-02")
        labels = [d for j, d in _jobs(spark).items() if j >= first_job]
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        sc.setLocalProperty("spark.job.description", None)

    assert cache.numCachedEntries() == cached_on_entry
    assert cache.lookupCachedData(theirs._jdf).isDefined()
    theirs.unpersist()

    # the night fires a bounded number of jobs, every one labelled
    assert len(labels) < JOB_BUDGET, len(labels)
    assert all(lb and lb.startswith("pipeline.") for lb in labels), set(labels)
    for table in STAGED_FILES:
        for step in ("checkpoint", "write"):
            assert f"pipeline.{table}.{step}" in labels, (table, step)
    for fact in ("fact_transactions", "fact_claims"):
        assert f"pipeline.{fact}.check" in labels
    assert "pipeline.dim_patients.scd2" in labels

    # every returned star table reads its checkpoint, never the CSVs
    tables = {k: v for k, v in star.items() if k in STAGED_FILES}
    assert set(tables) == set(STAGED_FILES)
    for name, df in tables.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FileScan csv" not in plan, (name, plan)
    assert star["fact_transactions"].count() == expected["fact_transactions"]
    assert star["fact_claims"].count() == expected["fact_claims"]
    assert star["dim_patients"].count() == expected["dim_patients"]

    # the staged layout is the one the uncached night wrote
    files = {}
    for name in STAGED_FILES:
        base = os.path.join(stage, name, "v=2" if name == "dim_patients" else "")
        files[name] = sum(
            f.endswith(".parquet") for _, _, fs in os.walk(base) for f in fs
        )
    assert files == STAGED_FILES

    # the quality reports are logged, not discarded
    logged = {r.getMessage() for r in caplog.records}
    for fact, check, n in (
        ("fact_transactions", "orphaned_fact_patients", expected["orphan_transactions"]),
        ("fact_transactions", "non_positive_amounts", expected["non_positive_amounts"]),
    ):
        assert f"{fact} check {check}: {n} violations" in logged, logged
    assert any("fact_claims check orphaned_claim_patients" in m for m in logged)
