"""Physical-plan regression tests: the plans we designed for are the plans
Catalyst actually produces — predicate pushdown into parquet scans, column
pruning, broadcast joins for bounded dims, TakeOrderedAndProject for top-k.
A silent regression here is invisible at sf0.1 but fatal at 100 TB."""

from __future__ import annotations

import pytest

from healthcare_rcm_etl_pipeline_spark.plans.queries import QUERIES


def _plan(spark, name, sf_dir) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, "q08_writeoffs", sf_dir)
    assert "PushedFilters" in plan
    assert "o_orderstatus" in plan.split("PushedFilters")[1][:200]


def test_column_pruning_in_scan(spark, sf_dir):
    plan = _plan(spark, "q03_monthly_revenue", sf_dir)
    read = plan.split("ReadSchema")[1][:200]
    assert "o_orderdate" in read and "o_totalprice" in read
    assert "o_orderpriority" not in read  # unused column must not be read


def test_bounded_dim_join_broadcasts(spark, sf_dir):
    plan = _plan(spark, "q02_revenue_by_nation", sf_dir)
    assert "BroadcastHashJoin" in plan


def test_topk_plans_take_ordered(spark, sf_dir):
    plan = _plan(spark, "q09_top20_customers", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_no_cartesian_anywhere(spark, sf_dir, hospital_sources):
    for name in QUERIES:
        plan = _plan(spark, name, sf_dir)
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


def _logical_nodes(node):
    yield node
    it = node.children().iterator()
    while it.hasNext():
        yield from _logical_nodes(it.next())


def test_no_unpartitioned_window_anywhere(spark, sf_dir, hospital_sources):
    """Sweep every registered query: a Window with an empty partitionSpec
    funnels the ENTIRE relation through one task (Exchange SinglePartition
    + single sort) — invisible at sf0.1, fatal at 100 TB. Checked on the
    optimized logical plan so AQE wrapping can't hide nodes; zero
    allow-list entries."""
    offenders = []
    for name in QUERIES:
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan()
        for node in _logical_nodes(plan):
            if node.getClass().getSimpleName() == "Window" and node.partitionSpec().isEmpty():
                offenders.append(name)
                break
    assert not offenders, f"unpartitioned Window in: {offenders}"


def test_no_python_row_udf_anywhere(spark, sf_dir, hospital_sources):
    """Zero-UDF policy sweep: no registered query may plan a Python
    evaluation node. BatchEvalPython (row-at-a-time, ~10-100x slower than
    codegen) is banned outright; ArrowEvalPython (pandas UDF) is banned
    from the QUERY surface too — the one sanctioned Python path is the
    multimodal mapInPandas decode, which plans as MapInPandas and is
    allowed."""
    offenders = []
    for name in QUERIES:
        plan = _plan(spark, name, sf_dir)
        if "BatchEvalPython" in plan or "ArrowEvalPython" in plan:
            offenders.append(name)
    assert not offenders, f"Python eval nodes in: {offenders}"


def test_aggregates_are_partial_final(spark, sf_dir):
    # map-side combine: grouped aggregation appears as partial+final pairs
    plan = _plan(spark, "q10_part_profitability", sf_dir)
    assert plan.count("HashAggregate") >= 2


def test_runtime_bloom_filter_on_shuffle_join(spark, sf_dir):
    """At 100 TB neither join side broadcasts; Spark's runtime bloom-filter
    injection then builds a bloom filter from the selective (filtered) side
    and applies it to the big side's scan, pruning shuffle input rows. This
    pins the knob working: with broadcast disabled (emulating
    too-big-to-broadcast sides) the optimizer injects BloomFilter into the
    lineitem side of a selective orders join."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # sf-sized test files are below the default 10GB application-side
        # threshold; zero it so the plan shape is observable at test scale
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        j = l.join(o, l["l_orderkey"] == o["o_orderkey"])
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom" in plan.lower()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_minhash_signatures_shuffle_free(spark, sf_dir):
    """Signature computation is per-row array math — any Exchange before
    banding means someone reintroduced the explode+groupBy formulation
    (1.55x slower and a full posting shuffle at 100 TB)."""
    from healthcare_rcm_etl_pipeline_spark.operators.dedup import minhash_signatures
    from healthcare_rcm_etl_pipeline_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents")
    plan = minhash_signatures(d, "text", "doc_id")._jdf.queryExecution().executedPlan().toString()
    # the only allowed exchange is _fan_out's explicit repartition (local
    # few-files spread); no aggregation exchange may appear
    assert plan.count("Exchange") == plan.count("REPARTITION_BY_NUM")
    # and the shingle pipeline must not be duplicated into a pushed filter:
    # exactly one array_distinct(zip_with...) — in the Project, not a Filter
    assert plan.count("array_distinct") == 1


def test_chunking_shuffle_free(spark, sf_dir):
    plan = QUERIES["chunk_documents"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_contamination_broadcasts_benchmark(spark, sf_dir):
    plan = _plan(spark, "contamination_ngram_overlap", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_snowflake_chain_broadcasts_bounded_dims(spark, sf_dir):
    """q27: nation/region attach via broadcast; the fact must reach the
    final aggregate through at most one exchange of its own."""
    plan = _plan(spark, "q27_region_revenue", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_quality_classifier_shuffle_free(spark, sf_dir):
    # hashing-trick scoring is per-row expressions only: any Exchange means
    # the tokenize/score pipeline regressed into a wide plan
    plan = QUERIES["quality_classifier"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_semantic_dedup_joins_on_cell_only(spark, sf_dir):
    # the within-cell scan must be an equi-join on the cell id (plus the
    # survivor anti-join) — never a cartesian, and norms are precomputed so
    # the join condition folds only the dot product
    plan = _plan(spark, "semantic_dedup", sf_dir)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_entity_resolution_blocking_is_equi_join(spark, sf_dir):
    """Record linkage candidates come from the (variant-hash, agreement)
    posting buckets — hash aggregations and equi-joins only; a
    nested-loop pair scan would mean blocking failed."""
    plan = _plan(spark, "entity_resolution_golden", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_filtered_ann_predicate_applies_before_window(spark, sf_dir):
    """The hard-negative label predicate must drop candidates BEFORE the
    per-query ranking window (pre-filter semantics). Asserted on the
    optimized logical TREE (one node per line, children printed after
    parents with deeper indentation), not on substring windows of the
    formatted plan: the label predicate node — a Filter, or the Join it
    gets folded into when Catalyst pushes it all the way into the join
    condition — must sit INSIDE the ranking Window's subtree, and no
    label predicate may mention the rank column (labels are never
    applied post-rank)."""
    qe = QUERIES["ann_hard_negatives"](spark, sf_dir)._jdf.queryExecution()
    lines = qe.optimizedPlan().toString().splitlines()

    def _node(ln: str) -> str:
        return ln.lstrip(" +-:")

    def _depth(ln: str) -> int:
        return len(ln) - len(_node(ln))

    windows = [i for i, ln in enumerate(lines) if _node(ln).startswith("Window")]
    ranking = [i for i in windows if "row_number" in lines[i]] or windows
    label_filters = [
        i
        for i, ln in enumerate(lines)
        if _node(ln).startswith(("Filter", "Join")) and "q_label" in ln
    ]
    assert ranking, "plan lost its per-query ranking Window"
    assert label_filters, "plan lost the label-predicate Filter/Join"
    # the Window's subtree = contiguous deeper-indented lines below it
    wi = ranking[0]
    wd = _depth(lines[wi])
    subtree = set()
    for j in range(wi + 1, len(lines)):
        if lines[j].strip() and _depth(lines[j]) <= wd:
            break
        subtree.add(j)
    assert any(i in subtree for i in label_filters), (
        "label Filter is not below the ranking Window — predicate no "
        "longer pre-filters the candidate set"
    )
    assert all("rank" not in lines[i] for i in label_filters)


def test_sized_broadcast_flips_above_row_bound(spark):
    """The TPC-H-surface sized-broadcast device (queries._sized_broadcast):
    under the row bound the lookup is explicitly broadcast; above it the
    merge hint wins and the join executes as sort-merge — part/customer/
    supplier GROW with SF, so an unconditional broadcast hint would be the
    r12 cliff. The decision is memoized per (sf_dir, key)."""
    from healthcare_rcm_etl_pipeline_spark.plans import queries as Q

    small = Q._sized_broadcast(spark.range(10), "/tmp/szb", "t_small")
    assert "ResolvedHint" in small._jdf.queryExecution().analyzed().toString()

    big = Q._sized_broadcast(
        spark.range(Q._SIZED_BCAST_MAX_ROWS + 1), "/tmp/szb", "t_big"
    )
    j = spark.range(1000).join(big, "id")
    j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan
    assert Q._SIZED_BCAST_MEMO["/tmp/szb:t_big"] is False
    assert Q._SIZED_BCAST_MEMO["/tmp/szb:t_small"] is True


def test_sized_broadcast_part_still_broadcasts_at_test_scale(spark, sf_dir):
    """At every tested SF the part/customer lookups stay under the row
    bound, so the sized device must preserve the fast broadcast plan."""
    for name in ("q40_trimmed_mean_price", "q43_all_priority_customers"):
        plan = _plan(spark, name, sf_dir)
        assert "BroadcastHashJoin" in plan, name
