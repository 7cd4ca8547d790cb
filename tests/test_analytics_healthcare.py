"""Triple-parity for the healthcare-native Q1-Q11 (SURVEY.md §2o): the
DataFrame implementation, the spark.sql portable text, and DuckDB running the
SAME SQL text over the staged parquet must all agree (order-insensitive
value compare)."""

from __future__ import annotations

import math
import os
import shutil
import tempfile

import duckdb
import pytest

from healthcare_rcm_etl_pipeline_spark.plans import analytics
from healthcare_rcm_etl_pipeline_spark.plans.pipeline import run_pipeline


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, int):
        return repr(float(v)) if abs(v) < 1e15 else repr(v)
    return str(v)


def _rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon(r[i]) for i in idx) for r in rows)


@pytest.fixture(scope="module")
def star_env(spark, hospital_sources):
    """The first night's star on the ``hospital_sources`` tree (the reference
    seed, else the generated one), staged, registered as Spark views and
    read by DuckDB from the same staged files."""
    d = tempfile.mkdtemp(prefix="hrcm_analytics_")
    star = run_pipeline(spark, staging_dir=d, run_date="2025-08-03")
    # r14: a STAGED pipeline run attaches the staging-time stats itself
    # (footer-metadata counts of the just-written parquet)
    assert analytics.STAR_STATS_KEY in star
    assert star[analytics.STAR_STATS_KEY]["dim_patients"] == (
        star["dim_patients"].count()
    )
    # read back from staging so all three engines see identical bits
    staged = {}
    for name in analytics.STAR_TABLES:
        path = os.path.join(d, name)
        if name == "dim_patients":
            from healthcare_rcm_etl_pipeline_spark.sources import sinks

            staged[name] = sinks.read_versioned(spark, path)
        else:
            staged[name] = spark.read.parquet(path)
    analytics.register_star_views(staged)
    con = duckdb.connect()
    for name in analytics.STAR_TABLES:
        sub = "/v=1" if name == "dim_patients" else ""
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{d}/{name}{sub}/*.parquet'"
        )
    yield staged, con
    con.close()
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("name", sorted(analytics.HEALTHCARE_QUERIES))
def test_triple_parity(name, spark, star_env):
    star, con = star_env
    df_api = analytics.HEALTHCARE_QUERIES[name](star)
    df_sql = analytics.run_sql(spark, name)
    res = con.execute(analytics.SQL[name])
    dcols = [c[0] for c in res.description]
    drows = res.fetchall()

    a_cols, a_rows = df_api.columns, [tuple(r) for r in df_api.collect()]
    s_cols, s_rows = df_sql.columns, [tuple(r) for r in df_sql.collect()]

    assert sorted(a_cols) == sorted(s_cols) == sorted(dcols), f"{name} columns"
    a, s, d = _rowset(a_cols, a_rows), _rowset(s_cols, s_rows), _rowset(dcols, drows)
    assert a == s, f"{name}: DataFrame vs spark.sql mismatch"
    assert a == d, f"{name}: Spark vs DuckDB mismatch"


class TestScaledLookupCliff:
    """The broadcast cliff (SCALE.md r12/r13): hq2/hq9's patient lookup
    picks its join strategy from the dimension's ACTUAL row count via
    analytics.scaled_lookup — broadcast at every genuinely-small scale,
    merge above _BROADCAST_MAX_DIM_ROWS, with NO manual forcing. The r12
    probe measured the default (compressed-bytes-estimated) broadcast 2.9x
    slower than sort-merge at 1M dim rows; this pins the mechanism that
    makes the fast plan the default."""

    def _executed(self, df) -> str:
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString()

    def test_small_dim_still_broadcasts(self, spark, star_env):
        star, _ = star_env
        plan = self._executed(analytics.hq2(star))
        # hq2 has exactly one join (fact x patient lookup)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_grown_dim_defaults_to_sort_merge(self, spark):
        n = analytics._BROADCAST_MAX_DIM_ROWS + 1
        p = spark.range(n).selectExpr(
            "id AS patient_sk",
            "true AS is_current",
            "concat('H', id % 7) AS source_hospital",
            "concat('F', id) AS FirstName",
            "concat('L', id) AS LastName",
        )
        fc = spark.range(5000).selectExpr(
            f"id % {n} AS patient_sk",
            "CAST(10.5 AS DOUBLE) AS ClaimAmount",
            "CAST(4.5 AS DOUBLE) AS PaidAmount",
            "CAST(id % 30 AS INT) AS days_to_payment",
            "concat('C', id) AS ClaimID",
        )
        star = {"fact_claims": fc, "dim_patients": p}
        for q in (analytics.hq2, analytics.hq9):
            plan = self._executed(q(star))
            assert "SortMergeJoin" in plan, q.__name__
            assert "BroadcastHashJoin" not in plan, q.__name__

    def test_threshold_boundary(self, spark):
        from pyspark.sql import functions as F

        small = spark.range(10).selectExpr("id", "id AS v")
        lk = analytics.scaled_lookup(small, ["id", "v"])
        # explicit broadcast hint under the bound
        assert "ResolvedHint" in lk._jdf.queryExecution().analyzed().toString()

    def _grown_star(self, spark):
        n = analytics._BROADCAST_MAX_DIM_ROWS + 1
        p = spark.range(n).selectExpr(
            "id AS patient_sk",
            "true AS is_current",
            "concat('H', id % 7) AS source_hospital",
            "concat('F', id) AS FirstName",
            "concat('L', id) AS LastName",
        )
        fc = spark.range(5000).selectExpr(
            f"id % {n} AS patient_sk",
            "CAST(10.5 AS DOUBLE) AS ClaimAmount",
            "CAST(4.5 AS DOUBLE) AS PaidAmount",
            "CAST(id % 30 AS INT) AS days_to_payment",
            "concat('C', id) AS ClaimID",
        )
        return {"fact_claims": fc, "dim_patients": p}, n

    def test_staging_stat_builds_with_zero_count_jobs(self, spark, monkeypatch):
        """r14: a star carrying the staging-time stat (STAR_STATS_KEY) must
        build hq2/hq9 WITHOUT any count job — the r13 shape ran an eager
        dim.count() per query build (one Spark job per build, unboundedly
        repeated in a server setting). Pinned by making count() explode."""
        from pyspark.sql import DataFrame

        star, n = self._grown_star(spark)
        star[analytics.STAR_STATS_KEY] = {"dim_patients": n}

        def _boom(self):
            raise AssertionError("count job ran during a stats-backed query build")

        monkeypatch.setattr(DataFrame, "count", _boom)
        for q in (analytics.hq2, analytics.hq9):
            df = q(star)  # must not touch DataFrame.count
            plan = df._jdf.queryExecution().analyzed().toString()
            assert "patient_sk" in plan

    def test_stat_drives_strategy_both_ways(self, spark):
        """The threaded stat IS the decision axis: the same grown dim plans
        sort-merge under its true count and broadcast under a (synthetic)
        small stat — no fallback count runs when the stat is present."""
        star, n = self._grown_star(spark)
        star[analytics.STAR_STATS_KEY] = {"dim_patients": n}
        plan = self._executed(analytics.hq2(star))
        assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan
        star[analytics.STAR_STATS_KEY] = {"dim_patients": 10}
        plan = self._executed(analytics.hq2(star))
        assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan

    def test_sql_twin_plans_sort_merge_at_cliff(self, spark, star_env):
        """r14 (closes the r13 honest-scope gap): the portable SQL text must
        plan the fast join at the cliff too, with NO manual session
        forcing — register_star_views bakes a merge hint into a grown
        dim's view (join-strategy hints survive createOrReplaceTempView),
        so spark.sql(SQL[hq2]) executes as SortMergeJoin above the bound
        and still broadcasts at genuinely-small scale."""
        staged, _ = star_env
        star, n = self._grown_star(spark)
        star[analytics.STAR_STATS_KEY] = {"dim_patients": n}
        try:
            analytics.register_star_views(star)
            df = spark.sql(analytics.SQL["hq2_revenue_by_hospital"])
            plan = self._executed(df)
            assert "SortMergeJoin" in plan
            assert "BroadcastHashJoin" not in plan
            # small-scale star WITH stats attached: views stay unhinted,
            # the planner's broadcast is preserved
            small = dict(staged)
            analytics.attach_star_stats(small)
            assert small[analytics.STAR_STATS_KEY]["dim_patients"] <= (
                analytics._BROADCAST_MAX_DIM_ROWS
            )
            analytics.register_star_views(small)
            plan = self._executed(
                spark.sql(analytics.SQL["hq2_revenue_by_hospital"])
            )
            assert "BroadcastHashJoin" in plan
            assert "SortMergeJoin" not in plan
        finally:
            # restore the module fixture's unhinted views for later tests
            analytics.register_star_views(staged)
