"""Fuzzy key matching via deletion-neighborhood blocking (the SymSpell /
symmetric-delete idea, re-expressed as Spark equi-joins).

Two strings are within Levenshtein distance 1 iff their deletion
neighborhoods intersect, where neighborhood(s) = {s} ∪ {s minus one char}:
a substitution at position i makes both sides share the delete-at-i
variant; an insertion/deletion makes the longer side's delete equal the
shorter side verbatim. So candidate generation is an exact equi-join on
variant strings — linear in Σ|s| postings, never a cross join — and an
exact ``levenshtein`` check verifies candidates (the blocking is complete
for distance ≤ 1, so recall is exactly 1.0 by construction; the verify
only removes false candidates like "aa"~"ab" sharing variant "a" at
distance... which IS 1 — false candidates are pairs at distance 2 that
collide, e.g. "ab"~"ba" sharing "a").

Scale shape: |s|+1 postings per key (keys are short identifiers — names,
codes, URLs — not documents), hashed to 8-byte longs for the shuffle;
per-variant posting lists pair within buckets like the shingle ops, with
the same optional hot-variant cap. At 100 TB of rows with bounded key
length this is one shuffle on the variant hash + one verify projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from healthcare_rcm_etl_pipeline_spark.operators.buckets import bounded_bucket_collect


def deletion_variants(col: F.Column) -> F.Column:
    """array<string>: the string plus every delete-one-char variant,
    distinct. Pure JVM expressions (transform over char positions)."""
    dels = F.transform(
        F.sequence(F.lit(1), F.length(col)),
        lambda i: F.concat(
            F.substring(col, F.lit(1), i - 1),
            F.substring(col, i + 1, F.length(col)),
        ),
    )
    return F.array_distinct(F.concat(F.array(col), dels))


def edit1_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str,
    max_bucket: int | None = None,
    max_key_len: int = 128,
    agree_cols: list[str] | None = None,
) -> DataFrame:
    """All (id_a < id_b) row pairs whose ``key_col`` strings are within
    Levenshtein distance 1 (0 = exact duplicates included — callers filter
    ``lev = 1`` for near-matches only). The entity-resolution primitive:
    typo'd natural keys, OCR'd codes, off-by-one identifiers.

    ``max_bucket`` drops over-shared variants before pair emission (a
    variant shared by d keys emits d(d-1)/2 candidates — same hazard and
    same cap as the shingle posting lists; real duplicate pile-ups on one
    key are better handled by exact dedup first).

    ``max_key_len`` bounds the deletion neighborhood: a key of length L
    posts L+1 variants of ~L bytes each — O(L²) bytes per key, which is
    fine for identifiers and catastrophic for document-length strings.
    Keys longer than the cap are EXCLUDED (they are not identifiers; use
    the shingle/minhash ops for text) — raising instead would let one bad
    row kill a 100 TB job.

    ``agree_cols``: record-linkage agreement attributes folded INTO the
    blocking key — two rows pair only if their fuzzy keys collide AND
    every agreement column matches exactly (null never matches, like a
    join key). This is multi-attribute blocking, not a post-filter: the
    posting buckets themselves shrink (bucket = (variant, nation,
    segment, …)), so candidate generation — the quadratic stage — never
    sees cross-attribute pairs. The standard linkage recipe (name within
    one typo AND same DOB/region) therefore costs LESS than the plain
    name match, not more.

    Returns (id_a, id_b, key_a, key_b, lev).
    """
    agree_cols = list(agree_cols or [])
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(key_col).cast("string").alias("__key"),
        *[F.col(c) for c in agree_cols],
    ).filter(F.length("__key") <= max_key_len)
    if agree_cols:
        base = base.dropna(subset=agree_cols)
    post = base.select(
        "__id",
        "__key",
        *agree_cols,
        F.explode(deletion_variants(F.col("__key"))).alias("__var"),
    ).withColumn("__vh", F.xxhash64("__var")).drop("__var")
    grouped = bounded_bucket_collect(
        post, ["__vh", *agree_cols], F.struct("__id", "__key"), max_bucket
    )
    pairs = grouped.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ds"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                        lambda y: F.struct(
                            x["__id"].alias("id_a"),
                            y["__id"].alias("id_b"),
                            x["__key"].alias("key_a"),
                            y["__key"].alias("key_b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.*").filter(F.col("id_a") != F.col("id_b"))
    # normalize orientation, dedup across variants, verify exactly
    oriented = pairs.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        F.when(F.col("id_a") < F.col("id_b"), F.col("key_a"))
        .otherwise(F.col("key_b"))
        .alias("key_a"),
        F.when(F.col("id_a") < F.col("id_b"), F.col("key_b"))
        .otherwise(F.col("key_a"))
        .alias("key_b"),
    ).distinct()
    return oriented.withColumn("lev", F.levenshtein("key_a", "key_b")).filter(
        F.col("lev") <= 1
    )


def deletion_postings(
    df: DataFrame,
    key_col: str,
    id_col: str,
    agree_cols: list[str] | None = None,
    max_key_len: int = 128,
) -> DataFrame:
    """The PERSISTABLE half of ``edit1_pairs``' blocking: one posting row
    per (row, deletion variant) — (doc, key, *agree_cols, vh) with vh the
    xxhash64 of the variant string. An ingest stream appends these as its
    variant index (range-sorted on vh), and later batches find cross-
    corpus candidates by joining their own postings against it on
    (vh, *agree_cols) — the agreement attributes stay separate columns
    (folding them into the hash would let a hash collision pair rows with
    DIFFERENT agreement values, which the levenshtein verify cannot
    catch). Same ``max_key_len`` exclusion contract as ``edit1_pairs``."""
    agree_cols = list(agree_cols or [])
    base = df.select(
        F.col(id_col).alias("doc"),
        F.col(key_col).cast("string").alias("key"),
        *[F.col(c) for c in agree_cols],
    ).filter(F.length("key") <= max_key_len)
    if agree_cols:
        base = base.dropna(subset=agree_cols)
    return base.select(
        "doc",
        "key",
        *agree_cols,
        F.explode(deletion_variants(F.col("key"))).alias("__var"),
    ).select("doc", "key", *agree_cols, F.xxhash64("__var").alias("vh"))


def edit1_pairs_from_postings(
    post_a: DataFrame,
    post_b: DataFrame,
    agree_cols: list[str] | None = None,
) -> DataFrame:
    """Cross-set edit-distance-1 pairs from two ``deletion_postings``
    relations (the incremental twin of ``edit1_pairs``' within-set
    bucketing): candidates are the equi-join on (vh, *agree_cols) —
    complete for distance <= 1 because matching strings share a deletion
    variant, hence a vh — oriented (id_a < id_b), deduped across shared
    variants, and verified with an exact levenshtein. Returns
    (id_a, id_b, key_a, key_b, lev), same shape as ``edit1_pairs``."""
    agree_cols = list(agree_cols or [])
    a = post_a.select(
        F.col("vh"),
        *agree_cols,
        F.col("doc").alias("__ia"),
        F.col("key").alias("__ka"),
    )
    b = post_b.select(
        F.col("vh"),
        *agree_cols,
        F.col("doc").alias("__ib"),
        F.col("key").alias("__kb"),
    )
    cand = (
        a.join(b, ["vh", *agree_cols])
        .filter(F.col("__ia") != F.col("__ib"))
        .select(
            F.least("__ia", "__ib").alias("id_a"),
            F.greatest("__ia", "__ib").alias("id_b"),
            F.when(F.col("__ia") < F.col("__ib"), F.col("__ka"))
            .otherwise(F.col("__kb"))
            .alias("key_a"),
            F.when(F.col("__ia") < F.col("__ib"), F.col("__kb"))
            .otherwise(F.col("__ka"))
            .alias("key_b"),
        )
        .distinct()
    )
    return cand.withColumn("lev", F.levenshtein("key_a", "key_b")).filter(
        F.col("lev") <= 1
    )


def golden_from_labels(
    df: DataFrame,
    labels: DataFrame,
    id_col: str,
    attrs: dict[str, str],
) -> DataFrame:
    """One golden record per entity from a SERVED label relation
    (doc, component) — the join + aggregate half of ``resolve_entities``,
    split out so an ingest stream's persisted entity-label state serves
    golden records without re-running match + CC. Rows without a label
    row are their own singleton entity (coalesce to own id). Same
    survivorship policies and preconditions as ``resolve_entities``."""
    members = df.join(
        labels.withColumnRenamed("doc", id_col), id_col, "left"
    ).withColumn("__entity", F.coalesce("component", F.col(id_col)))
    aggs = [F.count(F.lit(1)).alias("n_members")]
    for attr, policy in attrs.items():
        if policy == "anchor":
            aggs.append(F.min_by(attr, F.col(id_col)).alias(attr))
        elif policy == "min":
            aggs.append(F.min(attr).alias(attr))
        elif policy == "max":
            aggs.append(F.max(attr).alias(attr))
        else:
            raise ValueError(f"unknown survivorship policy {policy!r}")
    return (
        members.groupBy("__entity")
        .agg(*aggs)
        .select(F.col("__entity").alias("entity_id"), "n_members", *attrs.keys())
    )


def resolve_entities(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    attrs: dict[str, str],
) -> DataFrame:
    """Golden-record construction: match pairs -> entity clusters -> ONE
    survivor row per real-world entity (master-data management / patient
    matching — the step after ``edit1_pairs`` in a record-linkage
    pipeline).

    Clusters are connected components over the (id_a, id_b) match graph
    (min-member-id label, ``graph.connected_components``); rows matching
    nothing are their own singleton entity, so the output covers EVERY
    input row exactly once. ``attrs`` maps attribute -> survivorship
    policy:

    - ``"anchor"``: the value on the entity's anchor member (lowest id —
      the stable, reproducible default);
    - ``"min"`` / ``"max"``: cross-member extremal survivorship (e.g.
      most recent timestamp, highest balance) — one map-side-combinable
      min/max, never a sort.

    Everything after pair generation is one join + one groupBy on the
    entity label: no per-cluster iteration, no collect — at 100 TB the
    cost is the match-pair CC (bounded by the blocking) plus a single
    hash aggregation of the corpus.

    Preconditions (callers that derive ``pairs`` from ``df`` itself, like
    ``entity_resolution_golden``, satisfy both by construction):

    - ``df[id_col]`` is unique — duplicate ids would multi-count
      ``n_members`` and make "anchor" ambiguous;
    - every id appearing in ``pairs`` exists in ``df`` — the component
      label is the MIN member id, so an id known only to ``pairs`` could
      become an ``entity_id`` that matches no input row, with anchor/
      min/max survivorship drawn only from the members actually present.
      Ids in ``df`` but absent from ``pairs`` are fine (singletons).

    Returns (entity_id, n_members, *attrs) — entity_id typed like
    ``id_col``.
    """
    from healthcare_rcm_etl_pipeline_spark.operators import graph

    # labels from the driver union-find are hinted as the build side of
    # golden_from_labels' join (they are bounded by
    # session._DRIVER_ROWS_MAX); above the bound AQE picks the strategy
    # from the runtime size.
    comp = graph.broadcast_if_local(
        graph.connected_components(pairs, src_col="id_a", dst_col="id_b")
    )
    return golden_from_labels(df, comp, id_col, attrs)
