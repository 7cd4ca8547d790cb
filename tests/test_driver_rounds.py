"""The driver rounds of the iterative operators (pagerank_fixed_point,
bfs_hops, bpe_train) against their distributed rounds, on generated corpus
tables: both sides of ``session._DRIVER_ROWS_MAX`` must give the same rows and
schema for every registered query that reaches them, and every Spark job the
operators launch carries a ``graph.<op>.<step>`` label."""

from __future__ import annotations

import pytest

from healthcare_rcm_etl_pipeline_spark import session
from healthcare_rcm_etl_pipeline_spark.plans.queries import QUERIES
from rcmbench.gen import write_corpus

DRIVER_ROUND_QUERIES = [
    "q49_copurchase_pagerank",
    "decontaminate_blast_radius",
    "q50_copurchase_reach",
    "corpus_bpe_train",
]


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


def test_collect_bounded(spark):
    df = spark.range(5)
    assert session.collect_bounded(df, 5).column("id").to_pylist() == [0, 1, 2, 3, 4]
    assert session.collect_bounded(df, 4) is None
    assert session.collect_bounded(df, 5, count_first=True).num_rows == 5
    assert session.collect_bounded(df, 4, count_first=True) is None


@pytest.mark.parametrize("name", DRIVER_ROUND_QUERIES)
def test_driver_and_distributed_rounds_agree(spark, monkeypatch, corpus_dir, name):
    out = []
    for bound in (session._DRIVER_ROWS_MAX, 0):
        monkeypatch.setattr(session, "_DRIVER_ROWS_MAX", bound)
        df = QUERIES[name](spark, corpus_dir)
        out.append((sorted(map(tuple, df.collect())), df.schema))
    (driver_rows, driver_schema), (dist_rows, dist_schema) = out
    assert driver_rows, name
    assert driver_rows == dist_rows
    assert driver_schema == dist_schema


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
    from healthcare_rcm_etl_pipeline_spark.operators import graph

    if bound is not None:
        monkeypatch.setattr(session, "_DRIVER_ROWS_MAX", bound)
    spans = []
    pagerank = graph.pagerank_fixed_point

    def spy(*args, **kwargs):
        first = max(_jobs(spark), default=-1) + 1
        out = pagerank(*args, **kwargs)
        spans.append((first, max(_jobs(spark), default=-1) + 1))
        return out

    monkeypatch.setattr(graph, "pagerank_fixed_point", spy)
    sc = spark.sparkContext
    sc.setJobDescription("outer")
    try:
        QUERIES["q49_copurchase_pagerank"](spark, corpus_dir)
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    [(first, end)] = spans
    labels = {lb for j, lb in _jobs(spark, first).items() if j < end}
    prefix = "outer > graph.pagerank_fixed_point."
    assert all(lb and lb.startswith(prefix) for lb in labels), labels
    assert {lb.removeprefix(prefix) for lb in labels} == steps
