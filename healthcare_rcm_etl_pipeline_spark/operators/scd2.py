"""SCD Type 2 merge, pure-DataFrame (SURVEY.md §2l).

Re-expresses ``apply_scd_type2`` from the reference
(/root/reference/python/scd_implementation.py:16-100) Spark-first:

1. First run: stamp version=1, effective_date=run_date, expiry_date=NULL,
   is_current=True (scd_implementation.py:21-30).
2. Else: full-outer join current rows vs incoming on the natural key
   (scd_implementation.py:33-40); change iff any tracked attribute differs
   under null→'' normalization (scd_implementation.py:45-49).
3. Changed: emit expired old row (is_current=False, expiry=run_date-1,
   scd_implementation.py:56-61) + new version (version+1, effective=run_date,
   scd_implementation.py:63-68).
4. New keys: version 1 (scd_implementation.py:71-80).
5. Unchanged current rows and ALL history rows pass through
   (scd_implementation.py:83-86); reassembled with a union
   (scd_implementation.py:89-94).

Scale notes: the join is keyed on the natural key (shuffle-partitioned both
sides; broadcast if incoming is small); no collects; the 4-way reassembly is
a union of narrow transforms. ``run_date`` is an explicit parameter — no
``current_date()`` — so runs are reproducible.

Surrogate keys: the reference re-keys the whole dimension positionally each
run (scd_implementation.py:96-98), silently invalidating fact FKs from prior
runs. ``rekey="literal"`` replicates that; the default ``rekey="none"``
leaves key assignment to the caller (stable keys via operators.keys).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from healthcare_rcm_etl_pipeline_spark.operators.keys import dense_sk

SCD_COLS = ["version", "effective_date", "expiry_date", "is_current"]


def _norm(c: F.Column) -> F.Column:
    # pandas-parity: fillna('') before compare (scd_implementation.py:49)
    return F.coalesce(c.cast("string"), F.lit(""))


def stamp_first_version(incoming: DataFrame, run_date: str) -> DataFrame:
    return (
        incoming.withColumn("version", F.lit(1))
        .withColumn("effective_date", F.to_date(F.lit(run_date)))
        .withColumn("expiry_date", F.lit(None).cast("date"))
        .withColumn("is_current", F.lit(True))
    )


def apply_scd_type2(
    incoming: DataFrame,
    existing: DataFrame | None,
    key: str,
    tracked: list[str],
    run_date: str,
    rekey: str = "none",
    sk_col: str | None = None,
) -> DataFrame:
    """Merge ``incoming`` (natural key + attributes) into SCD2 ``existing``.

    ``incoming`` columns: key + attribute columns (no SCD bookkeeping).
    ``existing`` columns: incoming's columns + SCD_COLS (+ optional sk).
    Returns the new full dimension (history preserved).
    """
    attr_cols = [c for c in incoming.columns if c != key]

    if existing is None or len(existing.columns) == 0:
        out = stamp_first_version(incoming, run_date)
    else:
        current = existing.filter(F.col("is_current"))
        history = existing.filter(~F.col("is_current"))

        old = current.select(
            F.col(key),
            *[F.col(c).alias(f"__old_{c}") for c in attr_cols],
            F.col("version").alias("__old_version"),
            F.col("effective_date").alias("__old_effective_date"),
        )
        new = incoming.select(F.col(key), *attr_cols).withColumn("__is_new", F.lit(True))
        joined = old.join(new, key, "full_outer")

        changed_pred = reduce(
            lambda a, b: a | b,
            [
                _norm(F.col(f"__old_{c}")) != _norm(F.col(c))
                for c in tracked
            ],
        )
        in_both = F.col("__is_new").isNotNull() & F.col("__old_version").isNotNull()

        run_d = F.to_date(F.lit(run_date))

        # unchanged = current rows with an identical incoming match, OR current
        # rows absent from this batch (left_only keeps its open-ended row —
        # scd_implementation.py:83-86 keeps untouched keys intact)
        old_present = F.col("__old_version").isNotNull()
        unchanged = joined.filter(
            old_present & (F.col("__is_new").isNull() | ~changed_pred)
        ).select(
            F.col(key),
            *[F.col(f"__old_{c}").alias(c) for c in attr_cols],
            F.col("__old_version").alias("version"),
            F.col("__old_effective_date").alias("effective_date"),
            F.lit(None).cast("date").alias("expiry_date"),
            F.lit(True).alias("is_current"),
        )
        expired = joined.filter(in_both & changed_pred).select(
            F.col(key),
            *[F.col(f"__old_{c}").alias(c) for c in attr_cols],
            F.col("__old_version").alias("version"),
            F.col("__old_effective_date").alias("effective_date"),
            F.date_sub(run_d, 1).alias("expiry_date"),
            F.lit(False).alias("is_current"),
        )
        new_version = joined.filter(in_both & changed_pred).select(
            F.col(key),
            *[F.col(c) for c in attr_cols],
            (F.col("__old_version") + 1).alias("version"),
            run_d.alias("effective_date"),
            F.lit(None).cast("date").alias("expiry_date"),
            F.lit(True).alias("is_current"),
        )
        brand_new = joined.filter(F.col("__old_version").isNull()).select(
            F.col(key),
            *[F.col(c) for c in attr_cols],
            F.lit(1).alias("version"),
            run_d.alias("effective_date"),
            F.lit(None).cast("date").alias("expiry_date"),
            F.lit(True).alias("is_current"),
        )
        history_slim = history.select(key, *attr_cols, *SCD_COLS)
        out = reduce(
            lambda a, b: a.unionByName(b),
            [history_slim, unchanged, expired, new_version, brand_new],
        )

    if rekey == "literal" and sk_col:
        # reference parity: positional re-key of the FULL dimension each run
        # (scd_implementation.py:96-98) — documented hazard, not the default
        out = dense_sk(out, [key, "version"], sk_col=sk_col, dedup=False)
    return out


def point_in_time_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    ts_col: str,
    eff_col: str = "effective_date",
    exp_col: str = "expiry_date",
) -> DataFrame:
    """Join each fact row to the SCD2 dimension version valid AT the fact's
    timestamp: ``dim.eff <= fact.ts`` and (``dim.exp`` is null OR
    ``fact.ts <= dim.exp``). This is the correctness-critical lookup the
    reference's analytics skip by always joining ``is_current`` rows
    (Analysis/Big query/*.sql join the latest dim row regardless of claim
    date) — historical facts there silently take on today's attributes.

    Scale: the version intervals of one key never overlap, so each fact
    matches at most one dim row — output cardinality == facts, minus the
    facts outside all versions (e.g. before the key first appeared), which
    the inner join drops.
    A dimension is bounded (patients/customers), facts are not, so the dim
    is broadcast and the fact table never shuffles.
    """
    d = dim.select(
        F.col(key), *[F.col(c) for c in dim.columns if c != key]
    ).alias("__d")
    f = facts.alias("__f")
    ts = F.col(f"__f.{ts_col}")
    cond = (
        (F.col(f"__f.{key}") == F.col(f"__d.{key}"))
        & (ts >= F.col(f"__d.{eff_col}"))
        & (F.col(f"__d.{exp_col}").isNull() | (ts <= F.col(f"__d.{exp_col}")))
    )
    dim_attrs = [c for c in dim.columns if c != key]
    return f.join(F.broadcast(d), cond, "inner").select(
        "__f.*", *[F.col(f"__d.{c}").alias(c) for c in dim_attrs]
    )
