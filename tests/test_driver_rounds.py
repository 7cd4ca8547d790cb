"""The driver rounds of the operators with a driver path
(connected_components, pagerank_fixed_point, bfs_hops, bpe_train, mmr_topk)
against their distributed rounds, on generated corpus tables (and the test
customers for entity resolution): both sides of ``session._DRIVER_ROWS_MAX``
must give the same rows and schema for every registered query that reaches
them, and every Spark job the operators launch carries an
``<module>.<op>.<step>`` label."""

from __future__ import annotations

import pytest

from healthcare_rcm_etl_pipeline_spark import session
from healthcare_rcm_etl_pipeline_spark.operators import graph, similarity
from healthcare_rcm_etl_pipeline_spark.plans.queries import QUERIES
from rcmbench.gen import write_corpus

DRIVER_ROUND_QUERIES = [
    "q49_copurchase_pagerank",
    "decontaminate_blast_radius",
    "q50_copurchase_reach",
    "corpus_bpe_train",
    "dedup_clusters",
    "dedup_keep_survivors",
    "split_leakage_safe",
    "dedup_keep_best",
    "dedup_clusters_incremental",
    "dedup_keep_priority",
    "mmr_diverse_topk",
    "mmr_diverse_topk_ivf",
    "entity_resolution_golden",
]
# queries over tables the generated corpus does not hold (customer)
TESTDATA_QUERIES = {"entity_resolution_golden"}


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("corpus"))
    write_corpus(root, seed=5, sf=0.004)
    return root


def _jobs(spark, first: int = 0) -> dict[int, str | None]:
    """{job id: description} of the jobs numbered >= first, once the status
    store has seen every job event posted so far."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    listed = jsc.statusStore().jobsList(None)
    jobs = [listed.apply(i) for i in range(listed.size())]
    return {
        j.jobId(): j.description().get() if j.description().isDefined() else None
        for j in jobs
        if j.jobId() >= first
    }


def test_collect_bounded(spark, monkeypatch):
    df = spark.range(5)
    monkeypatch.setattr(session, "_DRIVER_ROWS_MAX", 5)
    table = session.collect_bounded(df)
    assert table.column("id").to_pylist() == [0, 1, 2, 3, 4]
    assert table.num_rows == 5
    monkeypatch.setattr(session, "_DRIVER_ROWS_MAX", 4)
    assert session.collect_bounded(df) is None


@pytest.mark.parametrize("name", DRIVER_ROUND_QUERIES)
def test_driver_and_distributed_rounds_agree(
    spark, monkeypatch, corpus_dir, sf_dir, name
):
    root = sf_dir if name in TESTDATA_QUERIES else corpus_dir
    out = []
    for bound in (session._DRIVER_ROWS_MAX, 0):
        monkeypatch.setattr(session, "_DRIVER_ROWS_MAX", bound)
        df = QUERIES[name](spark, root)
        out.append((sorted(map(tuple, df.collect())), df.schema))
    (driver_rows, driver_schema), (dist_rows, dist_schema) = out
    assert driver_rows, name
    assert driver_rows == dist_rows
    assert driver_schema == dist_schema


def _op_labels(spark, monkeypatch, module, op, query, root):
    """The job descriptions of every Spark job ``module.op`` launches during
    its one call while ``query`` builds under the caller description
    ``outer``, which must be restored after; the ``outer > <module>.<op>.``
    prefix is stripped."""
    spans = []
    fn = getattr(module, op)

    def spy(*args, **kwargs):
        first = max(_jobs(spark), default=-1) + 1
        out = fn(*args, **kwargs)
        spans.append((first, max(_jobs(spark), default=-1) + 1))
        return out

    monkeypatch.setattr(module, op, spy)
    sc = spark.sparkContext
    sc.setJobDescription("outer")
    try:
        QUERIES[query](spark, root)
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    [(first, end)] = spans
    labels = {lb for j, lb in _jobs(spark, first).items() if j < end}
    prefix = f"outer > {module.__name__.rsplit('.', 1)[1]}.{op}."
    assert all(lb and lb.startswith(prefix) for lb in labels), labels
    return {lb.removeprefix(prefix) for lb in labels}


@pytest.mark.parametrize(
    "bound, steps",
    [
        (None, {"edges", "collect"}),
        (0, {"edges", "collect", "nodes", "degrees", "step"}),
    ],
    ids=["driver", "distributed"],
)
def test_q49_jobs_carry_graph_labels(spark, monkeypatch, corpus_dir, bound, steps):
    """Every job PageRank launches while q49 builds is labelled
    ``graph.pagerank_fixed_point.<step>``, nested under the caller's own
    description, which is restored after."""
    if bound is not None:
        monkeypatch.setattr(session, "_DRIVER_ROWS_MAX", bound)
    got = _op_labels(
        spark, monkeypatch, graph, "pagerank_fixed_point",
        "q49_copurchase_pagerank", corpus_dir,
    )
    assert got == steps


@pytest.mark.parametrize(
    "query, module, op, bound, steps",
    [
        ("dedup_clusters", graph, "connected_components", None,
         {"edges", "collect"}),
        ("dedup_clusters", graph, "connected_components", 0,
         {"edges", "collect", "round"}),
        ("mmr_diverse_topk", similarity, "mmr_topk", None,
         {"candidates", "pairs", "collect"}),
        ("mmr_diverse_topk", similarity, "mmr_topk", 0,
         {"candidates", "pairs", "collect"}),
    ],
    ids=["cc-driver", "cc-distributed", "mmr-driver", "mmr-distributed"],
)
def test_cc_and_mmr_jobs_carry_labels(
    spark, monkeypatch, corpus_dir, query, module, op, bound, steps
):
    """Every job connected_components and mmr_topk launch is labelled
    ``graph.connected_components.<step>`` / ``similarity.mmr_topk.<step>``,
    nested under the caller's own description, which is restored after."""
    if bound is not None:
        monkeypatch.setattr(session, "_DRIVER_ROWS_MAX", bound)
    assert _op_labels(spark, monkeypatch, module, op, query, corpus_dir) == steps
