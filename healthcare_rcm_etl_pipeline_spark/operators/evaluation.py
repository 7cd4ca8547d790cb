"""Retrieval-quality evaluation: graded nDCG@k, recall@k, MRR@k computed
DISTRIBUTED over (query, result) relations — the standard closing primitive
for a retrieval stack (BM25 / TF-IDF / RRF / MMR / ANN all emit the shared
(query_id, neighbor_id, rank) contract this consumes).

No reference counterpart (the reference ships no retrieval or evaluation
code); this is the beyond-reference LLM-pipeline surface.

Determinism (the oracle-exactness devices used across this repo):

- The nDCG discount table ``1/log2(rank+1)`` is computed ONCE in Python,
  rounded to 9 dp, and injected as LITERALS into both the Spark plan and
  the generated oracle SQL — so no engine's ``log2`` is ever on the value
  path and each per-rank term is an exact (integer gain) x (9-dp literal)
  product, bit-identical in any IEEE engine.
- Gains are exact integers ``2^grade - 1`` via shiftleft — no float pow.
- Per-query sums fold the <= k terms in ASCENDING RANK ORDER on both
  sides (Spark: F.aggregate over an array_sort'ed struct list; SQL:
  list_sum over ``list(term ORDER BY rank)``) — fixed summation order, so
  the float sums are bit-identical, not merely close.
- The single division per metric (dcg/idcg, 1/first_rel) happens once on
  bit-identical operands and is rounded to 6 dp.

Scale shape: everything is one equi-join of results against qrels plus two
per-query aggregates over <= k rows each — candidate-list bounded, never
corpus-sized; both aggregates are map-side combinable after the per-query
grouping shuffle (the same shuffle key retrieval already used).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def ndcg_discounts(k: int) -> list[float]:
    """The shared 9-dp discount literals: position r gets 1/log2(r+1)."""
    return [round(1.0 / math.log2(r + 1), 9) for r in range(1, k + 1)]


def retrieval_eval(
    results: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "neighbor_id",
    rank_col: str = "rank",
    grade_col: str = "grade",
) -> DataFrame:
    """Per-query graded retrieval metrics at cutoff ``k``.

    ``results``: (query_col, doc_col, rank_col) with rank 1-based — any
    retrieval operator's output (rows past ``k`` are ignored).
    ``qrels``: (query_col, doc_col, grade_col) graded relevance, integer
    grades >= 0 (0 == judged irrelevant; unjudged retrieved docs count 0).

    Returns one row per query that appears in ``results``:
    (query_col, ndcg BIGDOUBLE 6dp, recall DOUBLE 6dp, mrr DOUBLE 6dp,
    n_hits BIGINT) where recall's denominator is the query's count of
    grade>0 qrels and idcg is the query's own ideal ordering (grade DESC,
    doc ASC) truncated at k. Queries with no positive qrels get
    ndcg/recall/mrr = 0.0 (a judged-empty query scores zero, it does not
    divide by zero). Result rows with a NULL or sub-1 rank are excluded,
    so a query whose every result row is malformed does not appear.
    """
    disc = ndcg_discounts(k)
    darr = F.array(*[F.lit(d) for d in disc])

    # rank domain is 1..k: rows past k are ignored per the contract, and
    # rows with rank < 1 (malformed caller input) are excluded rather
    # than crashing the ANSI element_at(darr, 0) lookup below
    r = results.filter((F.col(rank_col) >= 1) & (F.col(rank_col) <= k)).select(
        F.col(query_col).alias("qid"),
        F.col(doc_col).alias("did"),
        F.col(rank_col).cast("int").alias("rnk"),
    )
    g = qrels.select(
        F.col(query_col).alias("qid"),
        F.col(doc_col).alias("did"),
        F.col(grade_col).cast("int").alias("grade"),
    )

    def _fold_terms(struct_list):  # fixed ascending-position summation
        return F.aggregate(
            F.transform(F.array_sort(struct_list), lambda s: s["term"]),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    hits = (
        r.join(g, ["qid", "did"], "left")
        .withColumn("grade", F.coalesce("grade", F.lit(0)))
        .withColumn(
            "term",
            F.expr("cast(shiftleft(1, grade) - 1 as double)")
            * F.element_at(darr, F.col("rnk")),
        )
    )
    per_q = hits.groupBy("qid").agg(
        _fold_terms(F.collect_list(F.struct(F.col("rnk").alias("pos"), "term"))).alias(
            "dcg"
        ),
        F.sum(F.when(F.col("grade") > 0, 1).otherwise(0)).cast("bigint").alias(
            "n_hits"
        ),
        F.min(F.when(F.col("grade") > 0, F.col("rnk"))).alias("first_rel"),
    )

    iw = Window.partitionBy("qid").orderBy(F.desc("grade"), F.asc("did"))
    ideal = (
        g.withColumn("irank", F.row_number().over(iw))
        .filter((F.col("irank") <= k) & (F.col("grade") > 0))
        .withColumn(
            "term",
            F.expr("cast(shiftleft(1, grade) - 1 as double)")
            * F.element_at(darr, F.col("irank")),
        )
    )
    per_q_ideal = ideal.groupBy("qid").agg(
        _fold_terms(
            F.collect_list(F.struct(F.col("irank").alias("pos"), "term"))
        ).alias("idcg")
    )
    n_rel = (
        g.filter(F.col("grade") > 0)
        .groupBy("qid")
        .agg(F.count("*").cast("bigint").alias("n_rel"))
    )

    return (
        per_q.join(per_q_ideal, "qid", "left")
        .join(n_rel, "qid", "left")
        .select(
            F.col("qid").alias(query_col),
            F.when(
                F.col("idcg").isNotNull() & (F.col("idcg") > 0),
                F.round(F.col("dcg") / F.col("idcg"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("ndcg"),
            F.when(
                F.col("n_rel").isNotNull() & (F.col("n_rel") > 0),
                F.round(F.col("n_hits") / F.col("n_rel"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("recall"),
            F.when(
                F.col("first_rel").isNotNull(),
                F.round(F.lit(1.0) / F.col("first_rel"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("mrr"),
            "n_hits",
        )
    )
