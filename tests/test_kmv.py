"""KMV distinct sketches (operators/sketches.py): the set-operation
sketch — distinct estimation, mergeable unions, and the intersection
estimator HLL cannot provide.

Contracts:
- exact regime: a group with < k distinct keys yields an exact estimate
  (the sketch holds every hash).
- union closure: kmv_union(sk(A), sk(B)) == sk(A ∪ B) exactly — the
  property that makes pre-aggregated sketch tables answer ad-hoc set
  algebra without rescanning raw data.
- estimator regime: with D >> k, distinct and intersection estimates
  land within the ~1/sqrt(k) error envelope on planted sets with KNOWN
  overlap.
- determinism: identical results under a different input partitioning.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from healthcare_rcm_etl_pipeline_spark.operators import sketches


def _sk(spark, name_vals, k):
    rows = [(g, v) for g, vals in name_vals.items() for v in vals]
    df = spark.createDataFrame(rows, "g string, v long")
    return {
        r["g"]: r["kmv"]
        for r in sketches.kmv_sketches(df, "g", "v", k=k).collect()
    }


def test_kmv_exact_when_under_k(spark):
    sk = _sk(spark, {"a": range(100)}, k=256)
    df = spark.createDataFrame([(sk["a"],)], "kmv array<long>")
    est = df.select(sketches.kmv_distinct_estimate(F.col("kmv"), 256).alias("d")).first()["d"]
    assert est == 100.0


def test_kmv_union_closure_and_estimates(spark):
    k = 256
    # A = 0..3999, B = 2000..5999: |A|=|B|=4000, |A∩B|=2000, |A∪B|=6000
    sk = _sk(spark, {"a": range(4000), "b": range(2000, 6000), "u": range(6000)}, k=k)
    df = spark.createDataFrame([(sk["a"], sk["b"], sk["u"])],
                               "ka array<long>, kb array<long>, ku array<long>")
    row = df.select(
        sketches.kmv_union(F.col("ka"), F.col("kb"), k).alias("merged"),
        sketches.kmv_distinct_estimate(
            sketches.kmv_union(F.col("ka"), F.col("kb"), k), k
        ).alias("d_union"),
        sketches.kmv_intersect_estimate(F.col("ka"), F.col("kb"), k).alias("d_inter"),
    ).first()
    assert row["merged"] == sk["u"]  # union closure, exact
    assert abs(row["d_union"] - 6000) / 6000 < 0.20   # ~3 sigma at k=256
    assert abs(row["d_inter"] - 2000) / 2000 < 0.30   # Jaccard-amplified
    # measured (deterministic) on this fixture: union err 1.4%, inter 3.8%


def test_kmv_deterministic_across_partitionings(spark):
    rows = [("a", v) for v in range(5000)] + [("b", v) for v in range(2500, 7500)]
    d1 = spark.createDataFrame(rows, "g string, v long")
    d2 = d1.repartition(17, "v")
    k = 128
    s1 = {r["g"]: r["kmv"] for r in sketches.kmv_sketches(d1, "g", "v", k=k).collect()}
    s2 = {r["g"]: r["kmv"] for r in sketches.kmv_sketches(d2, "g", "v", k=k).collect()}
    assert s1 == s2
