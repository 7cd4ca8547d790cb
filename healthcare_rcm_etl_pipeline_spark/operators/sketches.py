"""Mergeable-sketch operators for 100 TB aggregates.

The percentile (KLL) and distinct (HLL++) sketch paths are registered as
tolerance twins in plans/queries.py via Spark's built-in
``percentile_approx`` / ``approx_count_distinct``. This module adds the
frequency sketch: Count-Min over a key column (Cormode & Muthukrishnan,
J. Algorithms 2005) through Spark's ``count_min_sketch`` aggregate.

Workflow shape (the standard sketch deployment): the sketch is BUILT
distributed — count_min_sketch partials are mergeable, so the aggregate
map-side combines and the exchange moves kilobyte sketches, never keys —
and then POINT-QUERIED on the driver for a bounded candidate set. Only the
~KB sketch and the k candidate rows ever reach the driver.

Guarantee checked by the tolerance query: a CMS estimate never
underestimates, and overestimates by at most eps * N with probability
1 - confidence; with seeded hash functions and counter-addition merges the
estimate is deterministic across partitionings, so the bound booleans are
stable driver-oracle material.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from healthcare_rcm_etl_pipeline_spark.session import local_frame


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    k: int = 10,
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 42,
) -> DataFrame:
    """Exact top-k heavy hitters with their Count-Min bound check.

    Returns (key string, exact_n, cms_within_bound): the k most frequent
    keys by exact count (total order: count desc, key asc), each flagged
    with whether the CMS point estimate respects the sketch guarantee
    ``exact <= estimate <= exact + ceil(eps * N)``.

    Keys are cast to string before sketching so build-side and query-side
    hashing agree (CMS hashes strings and integral types differently; the
    cast pins one representation end-to-end).
    """
    spark = df.sparkSession
    keyed = df.select(F.col(key_col).cast("string").alias("key"))
    agg = keyed.agg(
        F.count_min_sketch("key", F.lit(eps), F.lit(confidence), F.lit(seed)).alias(
            "sk"
        ),
        F.count("*").alias("n_total"),
    ).collect()[0]
    n_total = agg["n_total"]
    bound = math.ceil(eps * n_total)
    cms = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        bytes(agg["sk"])
    )
    topk = (
        keyed.groupBy("key")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("key"))
        .limit(k)
        .collect()
    )
    rows = []
    for r in topk:
        est = cms.estimateCount(r["key"])
        rows.append(
            (r["key"], r["exact_n"], r["exact_n"] <= est <= r["exact_n"] + bound)
        )
    return local_frame(spark, rows, "key string, exact_n bigint, cms_within_bound boolean")


def kmv_sketches(
    df: DataFrame, group_col: str, key_col: str, k: int = 1024
) -> DataFrame:
    """(group, kmv) — the k MINIMUM distinct hash VALUES of the group's
    keys (Beyer et al., "On synopses for distinct-value estimation under
    multiset operations", SIGMOD 2007), as a sorted long array.

    KMV is the mergeable distinct sketch that, unlike HLL, also supports
    set INTERSECTION estimation: the union sketch is just merge-and-keep-
    k-smallest, and the Jaccard fraction of shared values inside the
    union sketch unbiasedly estimates the true Jaccard, so
    |A ∩ B| ≈ ρ(union-k) × D(union-k). Error ~ 1/sqrt(k) on the union,
    amplified by 1/J for small overlaps — the query contract uses a
    high-overlap pair and pins a several-sigma tolerance.

    Shuffle shape: per-(group, hash) distinct, then a row_number window
    keeps only the k smallest hashes BEFORE the bounded collect (same
    spill-safe exchange as ``bounded_bucket_collect`` — a group's full
    key set never sits in an aggregation buffer), then one ≤k-element
    sorted array per group. Deterministic: xxhash64 + total-order mins.
    """
    from pyspark.sql import Window

    hashes = df.select(
        F.col(group_col).alias("g"), F.xxhash64(F.col(key_col)).alias("h")
    ).distinct()
    w = Window.partitionBy("g").orderBy("h")
    return (
        hashes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .groupBy("g")
        .agg(F.sort_array(F.collect_list("h")).alias("kmv"))
    )


def _kmv_u(h: F.Column) -> F.Column:
    """Map a signed 64-bit hash to (0, 1]: rank position of the hash on
    the number line — the KMV estimator's uniform variate. The raw affine
    map sends Long.MIN_VALUE to exactly 0.0, which would divide-by-zero in
    ``kmv_distinct_estimate``; clamping to 2^-64 (the smallest nonzero
    value the map can otherwise produce) keeps the advertised (0, 1]
    range with distortion only on that single 2^-64-probability hash."""
    return F.greatest(
        (h.cast("double") / F.lit(float(2**64))) + F.lit(0.5),
        F.lit(2.0**-64),
    )


def kmv_distinct_estimate(kmv: F.Column, k: int) -> F.Column:
    """D ≈ (k - 1) / u(kth smallest); exact |sketch| when the group had
    fewer than k distinct keys (the sketch then holds every hash)."""
    size = F.size(kmv)
    kth = _kmv_u(F.element_at(kmv, size))
    return F.when(size < k, size.cast("double")).otherwise(
        F.lit(float(k - 1)) / kth
    )


def kmv_union(a: F.Column, b: F.Column, k: int) -> F.Column:
    """Union sketch: merged distinct hashes, k smallest — closed under
    merge, so union estimates need only the two sketches."""
    return F.slice(F.array_sort(F.array_distinct(F.concat(a, b))), 1, k)


def kmv_intersect_estimate(a: F.Column, b: F.Column, k: int) -> F.Column:
    """|A ∩ B| ≈ (shared fraction of the union sketch) × D(union sketch).
    Membership tests are array_contains over ≤k-element arrays — O(k²)
    per PAIR of sketches, driver-free and constant in the data size."""
    u = kmv_union(a, b, k)
    shared = F.size(
        F.filter(u, lambda x: F.array_contains(a, x) & F.array_contains(b, x))
    )
    return (
        shared.cast("double") / F.size(u).cast("double")
    ) * kmv_distinct_estimate(u, k)
