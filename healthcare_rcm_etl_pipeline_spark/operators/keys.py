"""Deterministic dense surrogate keys (SURVEY.md §2h, K1-K3).

The reference assigns surrogate keys positionally from the pandas index after
drop_duplicates (/root/reference/python/transform.py:46-56,
dimensional_modeling.py:33,40, scd_implementation.py:96-98). That contract —
dense 0..n-1 ids in a defined order — is re-expressed here two ways:

- ``dense_sk``: dense ordinal over (optionally deduped) key columns. Since
  round 4 it delegates to the scalable two-pass rank below — NO query plans
  an unpartitioned window anywhere (pinned by
  tests/test_plans.py::test_no_unpartitioned_window_anywhere).
- ``dense_sk_scalable``: range-repartition by the ordering key, sort within
  partitions, per-partition row_number + broadcast cumulative offsets. Fully
  parallel, still produces the exact global-sort rank, safe at 100 TB. The
  only driver-side data is one row count per partition.

``monotonically_increasing_id`` is never used: it is non-dense and
partition-layout-dependent, so ids would change under AQE/repartitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from healthcare_rcm_etl_pipeline_spark.session import eager_checkpoint


def dense_sk(
    df: DataFrame,
    key_cols: list[str],
    sk_col: str = "sk",
    start: int = 0,
    dedup: bool = True,
    materialize: str = "persist",
) -> DataFrame:
    """Dense ordinal surrogate key over (optionally deduped) key columns.

    Deterministic: ordering is the key columns themselves (a total order
    once deduped). Delegates to ``dense_sk_scalable`` — the naive
    ``row_number() over (order by keys)`` formulation would funnel the whole
    relation through one task (Exchange SinglePartition); the two-pass rank
    produces the identical ids fully in parallel, at the cost of one bounded
    driver round-trip (a row count per partition)."""
    out = df.dropDuplicates(key_cols) if dedup else df
    return dense_sk_scalable(
        out, order_cols=key_cols, sk_col=sk_col, start=start, materialize=materialize
    )


def stable_sk(
    df: DataFrame,
    key_cols: list[str],
    sk_col: str,
    existing: DataFrame | None = None,
) -> DataFrame:
    """Warehouse-stable surrogate keys: keys present in ``existing`` KEEP
    their sk; genuinely new keys get dense ids starting at max(existing)+1,
    ordered by the natural key. First run (existing None) degenerates to
    ``dense_sk`` over the distinct keys.

    All rows of a key share the sk (SCD2 version rows included) — consumers
    resolve attributes via ``is_current`` rows. This is the fix for the
    reference's positional re-key hazard (scd_implementation.py:96-98),
    which shifts every sk after any change run and silently breaks fact FKs.

    The offset is attached with a broadcast crossJoin of a 1-row aggregate;
    the new-key rank is a dense_sk (two-pass parallel rank) sized by the
    NEW keys per run, not the full dimension.
    """
    keys = df.select(*key_cols).distinct()
    if existing is None:
        key_map = dense_sk(keys, key_cols, sk_col=sk_col, dedup=False)
    else:
        old_map = existing.select(*key_cols, sk_col).dropDuplicates(key_cols)
        new_keys = keys.join(old_map.select(*key_cols), key_cols, "left_anti")
        offset = old_map.agg((F.max(sk_col) + 1).alias("__off"))
        new_map = (
            dense_sk(new_keys, key_cols, sk_col="__rank", dedup=False)
            .crossJoin(F.broadcast(offset))
            .select(
                *key_cols,
                (F.col("__rank") + F.coalesce(F.col("__off"), F.lit(0)))
                .cast("long")
                .alias(sk_col),
            )
        )
        key_map = old_map.unionByName(new_map)
    return df.join(key_map, key_cols, "left")


def first_row_per_key(
    df: DataFrame, key_cols: list[str], order_cols: list[str] | None = None
) -> DataFrame:
    """Deterministic one-row-per-key dedup: row_number over an explicit
    within-key ordering (all non-key columns by default). Unlike
    ``dropDuplicates``, the surviving row does not depend on partition
    layout — required wherever results must be reproducible (SCD2 incoming
    batches, dimension builds)."""
    order_cols = order_cols or [c for c in df.columns if c not in key_cols]
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).asc_nulls_last() for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# persist-mode relations awaiting release (see release_sk_caches)
_SK_CACHES: list[DataFrame] = []


def release_sk_caches(since: int = 0) -> None:
    """Unpersist the relations cached by persist-mode ``dense_sk_scalable``
    calls, those registered after the first ``since`` (a caller records
    ``len(_SK_CACHES)`` on entry and releases only its own; the default
    releases all). Call AFTER the terminal action over the sk outputs, or
    once they are checkpointed — unpersisting earlier would re-sample range
    boundaries on recomputation and corrupt ids. ``run_pipeline`` releases
    its own after checkpointing the star; other sk-heavy callers (many id
    assignments per session) should call this between stages or pass
    ``materialize='checkpoint'``."""
    while len(_SK_CACHES) > since:
        _SK_CACHES.pop().unpersist()


def dense_sk_scalable(
    df: DataFrame,
    order_cols: list[str],
    sk_col: str = "sk",
    start: int = 0,
    num_partitions: int | None = None,
    materialize: str = "persist",
) -> DataFrame:
    """Dense global-sort-rank ids without a single-task global window.

    Two-pass: (1) range partition + local sort + local row_number,
    (2) count rows per partition (tiny driver-side list), broadcast the
    cumulative offsets back as a literal map. Result equals
    ``row_number() over (order by order_cols) - 1 + start`` for any
    partitioning, as long as ``order_cols`` is a total order (unique keys).

    The offsets job and the output job must see the SAME range boundaries
    (repartitionByRange samples, so recomputation could differ), so the
    ranked relation is materialized. ``materialize`` picks the lifetime:

    - ``'persist'`` (default): cached and registered in ``_SK_CACHES``; the
      cache must outlive the caller's action or checkpoint (unpersisting
      earlier would re-sample boundaries and corrupt ids), so the caller
      releases it after with ``release_sk_caches(since=<len on entry>)``.
      Spark's LRU eviction bounds the damage of a caller that never does.
    - ``'checkpoint'``: lineage is TRUNCATED at the ranked relation
      (``session.eager_checkpoint``). Ids are stable across any later
      re-execution and no cache registration is needed; the right mode for
      sk-heavy pipelines that would otherwise accumulate LRU pressure.
    """
    if materialize not in ("persist", "checkpoint"):
        raise ValueError(f"materialize must be persist|checkpoint, got {materialize!r}")
    n_part = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    order_exprs = [F.col(c) for c in order_cols]
    parted = df.repartitionByRange(n_part, *order_exprs).sortWithinPartitions(*order_exprs)
    with_pid = parted.withColumn("__pid", F.spark_partition_id())
    w = Window.partitionBy("__pid").orderBy(*order_exprs)
    local = with_pid.withColumn("__local_rn", F.row_number().over(w) - 1)
    if materialize == "checkpoint":
        local = eager_checkpoint(local)
    else:
        local = local.persist()
        _SK_CACHES.append(local)

    # partition sizes: one long per partition — bounded driver traffic
    sizes = {
        r["__pid"]: r["cnt"]
        for r in local.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = {}, start
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    offset_expr = F.element_at(
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]), F.col("__pid")
    )
    return (
        local.withColumn(sk_col, (F.col("__local_rn") + offset_expr).cast("long"))
        .drop("__pid", "__local_rn")
    )
