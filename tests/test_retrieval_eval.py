"""retrieval_eval behavioral tests: hand-computed nDCG/recall/MRR on tiny
fixtures (independent float path — plain math.log2, no shared discount
table), edge cases (no relevant docs, unjudged retrieved docs, rank cutoff),
and the contract that any retrieval operator's (query_id, neighbor_id,
rank) output plugs in. Full oracle parity runs in test_queries_oracle via
retrieval_quality_ndcg."""

from __future__ import annotations

import math

import pytest

from healthcare_rcm_etl_pipeline_spark.operators.evaluation import retrieval_eval


def _dcg(grades_by_rank):
    return sum(
        (2**g - 1) / math.log2(r + 1) for r, g in grades_by_rank.items() if g > 0
    )


def test_hand_computed_metrics(spark):
    # query 1: retrieved ranks 1..3 with grades 3, 0 (unjudged), 1
    results = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "query_id long, neighbor_id long, rank int",
    )
    qrels = spark.createDataFrame(
        [(1, 10, 3), (1, 12, 1), (1, 99, 2)],  # doc 99 relevant but missed
        "query_id long, neighbor_id long, grade int",
    )
    (row,) = retrieval_eval(results, qrels, k=3).collect()
    dcg = _dcg({1: 3, 3: 1})
    idcg = _dcg({1: 3, 2: 2, 3: 1})  # ideal: grades 3,2,1 at ranks 1,2,3
    assert row["ndcg"] == pytest.approx(dcg / idcg, abs=2e-6)
    assert row["recall"] == pytest.approx(2 / 3, abs=1e-6)  # hit 2 of 3 relevant
    assert row["mrr"] == 1.0  # first relevant at rank 1
    assert row["n_hits"] == 2


def test_no_relevant_docs_scores_zero_not_crash(spark):
    results = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id long, neighbor_id long, rank int"
    )
    qrels = spark.createDataFrame(
        [(1, 10, 0)], "query_id long, neighbor_id long, grade int"
    )
    (row,) = retrieval_eval(results, qrels, k=5).collect()
    assert (row["ndcg"], row["recall"], row["mrr"], row["n_hits"]) == (0.0, 0.0, 0.0, 0)


def test_rank_cutoff_excludes_deep_hits(spark):
    # the only relevant doc sits at rank 4; k=3 must not see it
    results = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3), (1, 13, 4)],
        "query_id long, neighbor_id long, rank int",
    )
    qrels = spark.createDataFrame(
        [(1, 13, 2)], "query_id long, neighbor_id long, grade int"
    )
    (at3,) = retrieval_eval(results, qrels, k=3).collect()
    (at4,) = retrieval_eval(results, qrels, k=4).collect()
    assert at3["n_hits"] == 0 and at3["ndcg"] == 0.0
    # one relevant doc: ideal puts it at rank 1, actual has it at rank 4,
    # so ndcg = disc[4]/disc[1] = log2(2)/log2(5)
    assert at4["n_hits"] == 1
    assert at4["ndcg"] == pytest.approx(math.log2(2) / math.log2(5), abs=2e-6)
    # below the domain: NULL and sub-1 ranks are excluded, and a query whose
    # every result row is malformed does not appear
    bad = spark.createDataFrame(
        [(1, 13, 1), (1, 11, 0), (1, 12, None), (2, 20, -3), (2, 21, None)],
        "query_id long, neighbor_id long, rank int",
    )
    out = retrieval_eval(bad, qrels, k=3)
    assert out.columns == ["query_id", "ndcg", "recall", "mrr", "n_hits"]
    assert [(r["query_id"], r["ndcg"], r["n_hits"]) for r in out.collect()] == [
        (1, 1.0, 1)
    ]


def test_mrr_uses_first_relevant_rank(spark):
    results = spark.createDataFrame(
        [(7, 1, 1), (7, 2, 2), (7, 3, 3)],
        "query_id long, neighbor_id long, rank int",
    )
    qrels = spark.createDataFrame(
        [(7, 2, 1), (7, 3, 3)], "query_id long, neighbor_id long, grade int"
    )
    (row,) = retrieval_eval(results, qrels, k=3).collect()
    assert row["mrr"] == 0.5
