"""Plan-construction cost guard (round-9 advice): queries.py holds 170+
registrations and the heaviest ones build large unrolled plans (k MMR
stages, BFS rounds, BPE merge rounds, PageRank iterations) — the repo has
already been bitten once by quadratic plan construction
(operators/similarity.py history: py4j tree building + Janino blowup).
This test times CONSTRUCTION (the QUERIES[name] call, which includes the
eager localCheckpoints those plans pin their stages with, at sf0.001 where
data cost is negligible) plus one analyzer pass for the five largest
plans.

Budgets are RELATIVE (round-10 advice): each run first times a fixed
synthetic plan-construction sentinel (60 chained selectExpr/drop hops —
py4j round-trips + analyzer passes, the same cost profile as the guarded
plans, with no IO and no engine code), and every budget is a multiple of
that sentinel. A slower or contended machine slows the sentinel and the
plans alike, so the guard measures plan STRUCTURE, not machine speed.
Multiples are ~4x the warm uncontended ratio (2026-08, round 11, min of 3
vs min-of-6 sentinel: mmr_ivf 9.5x, blast_radius 7.2x, bpe_train 4.3x,
pagerank 4.7x, chunks_incremental 8.2x) — loose enough for residual
jitter, tight enough that a structural blowup (the observed failure mode
was 6x+) still trips. Re-measured 2026-10 on a 4-core host (same method,
two runs) once PageRank, BFS and the BPE merges iterate on the driver
under the driver row bound: blast_radius 3.4-4.3x (was 5.7x on the same
host), bpe_train 0.7-0.9x (was 4.1x), pagerank 1.5-1.6x (was 4.3x); their
multiples were tightened from 29/17/19 to 15/3/6. Analysis is forced via the public ``df.schema``
(which materializes the analyzed plan), not the private
``_jdf.queryExecution()`` API a Spark upgrade can break.
"""

from __future__ import annotations

import time

import pytest

from healthcare_rcm_etl_pipeline_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"

PLAN_BUDGET_MULTIPLES = {
    "mmr_diverse_topk_ivf": 38.0,
    "decontaminate_blast_radius": 15.0,
    "corpus_bpe_train": 3.0,
    "q49_copurchase_pagerank": 6.0,
    "dedup_chunks_incremental": 33.0,
}

_sentinel_cache: list[float] = []


def _sentinel_sec(spark) -> float:
    """Warm min of the fixed construction sentinel, measured once per
    session (first run pays py4j/analyzer warm-up and is discarded by the
    min, same as the guarded plans' warm pass)."""
    if _sentinel_cache:
        return _sentinel_cache[0]
    best = float("inf")
    for _ in range(6):
        t0 = time.perf_counter()
        df = spark.range(1)
        for i in range(60):
            df = df.selectExpr("id", f"id + {i} as c{i}").drop(f"c{i}")
        df.schema
        best = min(best, time.perf_counter() - t0)
    _sentinel_cache.append(best)
    return best


@pytest.mark.parametrize("name", sorted(PLAN_BUDGET_MULTIPLES))
def test_plan_construction_within_budget(spark, name):
    base = _sentinel_sec(spark)
    # warm pass: JVM/codegen/analyzer caches and the first parquet-footer
    # reads are session startup cost, not plan-construction cost
    QUERIES[name](spark, SF).schema
    t0 = time.perf_counter()
    df = QUERIES[name](spark, SF)
    df.schema
    dt = time.perf_counter() - t0
    budget = PLAN_BUDGET_MULTIPLES[name] * base
    assert dt < budget, (
        f"{name}: plan construction took {dt:.2f}s = {dt / base:.1f}x the "
        f"{base:.2f}s sentinel (budget {PLAN_BUDGET_MULTIPLES[name]}x) — a "
        "structural plan-cost regression (unrolled stages re-deriving "
        "lineage?); see operators/similarity.py plan-construction notes"
    )
