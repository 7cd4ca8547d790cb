"""Connected components: min-label propagation vs hand-computed components."""

from __future__ import annotations

import pytest

from healthcare_rcm_etl_pipeline_spark.operators.graph import connected_components


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    return {
        r["doc"]: r["component"]
        for r in connected_components(df, **kw).collect()
    }


def test_two_components_and_chain(spark):
    # component {1,2,3} as a chain, component {10,11} as an edge
    got = _cc(spark, [(2, 1), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_cycle_and_isolated_pair(spark):
    got = _cc(spark, [(5, 6), (6, 7), (7, 5), (100, 42)])
    assert got == {5: 5, 6: 5, 7: 5, 42: 42, 100: 42}


def test_long_path_converges_and_label_is_min(spark):
    n = 12
    got = _cc(spark, [(i, i + 1) for i in range(1, n)])
    assert got == {i: 1 for i in range(1, n + 1)}


def test_non_convergence_raises(spark):
    with pytest.raises(RuntimeError, match="did not converge"):
        _cc(spark, [(i, i + 1) for i in range(1, 10)], max_iters=2)


def test_empty_pairs(spark):
    assert _cc(spark, []) == {}


def test_diameter_stress_chain_converges_in_log_rounds(spark):
    """A 1000-link duplicate chain (diameter 1000) — the worst shape for
    plain min-label propagation, which would need ~1000 rounds. Pointer
    jumping must converge within the default 20 (2^20 >> 1000) and the
    labels must still be the component min."""
    from healthcare_rcm_etl_pipeline_spark.operators.graph import cc_rounds

    n = 1000
    edges = [(i, i + 1) for i in range(1, n)]
    got = _cc(spark, edges)
    assert got == {i: 1 for i in range(1, n + 1)}
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    rounds = cc_rounds(df)
    assert rounds <= 14  # ~log2(1000) + detection overhead


def test_compression_off_needs_diameter_rounds(spark):
    """Control for the stress test: without compression the same chain
    needs ~diameter rounds — pinning that the log-round behavior really
    comes from the pointer-jumping step."""
    from healthcare_rcm_etl_pipeline_spark.operators.graph import cc_rounds

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 25)], "doc_a long, doc_b long"
    )
    assert cc_rounds(edges, max_iters=40, compress=False) >= 23
    assert cc_rounds(edges, max_iters=40, compress=True) <= 8


class TestIncrementalCC:
    def _cc(self, spark, pairs_rows):
        from healthcare_rcm_etl_pipeline_spark.operators import graph

        pairs = spark.createDataFrame(pairs_rows, "doc_a long, doc_b long")
        return graph.connected_components(pairs)

    def test_equals_full_recompute_on_random_merges(self, spark):
        import random

        from healthcare_rcm_etl_pipeline_spark.operators import graph

        rng = random.Random(7)
        all_pairs = [
            (a, b)
            for a, b in ((rng.randrange(60), rng.randrange(60)) for _ in range(80))
            if a != b
        ]
        all_pairs = [(min(a, b), max(a, b)) for a, b in all_pairs]
        base = [(a, b) for a, b in all_pairs if a % 3 != 0 and b % 3 != 0]
        new = [(a, b) for a, b in all_pairs if a % 3 == 0 or b % 3 == 0]
        prev = self._cc(spark, base)
        inc = graph.connected_components_incremental(
            prev, spark.createDataFrame(new, "doc_a long, doc_b long")
        )
        full = self._cc(spark, all_pairs)
        assert sorted(map(tuple, inc.collect())) == sorted(map(tuple, full.collect()))

    def test_untouched_components_pass_through(self, spark):
        from healthcare_rcm_etl_pipeline_spark.operators import graph

        prev = self._cc(spark, [(1, 2), (2, 3), (10, 11)])
        new = spark.createDataFrame([(10, 20)], "doc_a long, doc_b long")
        got = {r["doc"]: r["component"] for r in
               graph.connected_components_incremental(prev, new).collect()}
        # {1,2,3} untouched; {10,11} absorbs 20
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 10}

    def test_new_min_id_relabels_old_cluster(self, spark):
        from healthcare_rcm_etl_pipeline_spark.operators import graph

        prev = self._cc(spark, [(5, 6)])
        new = spark.createDataFrame([(1, 6)], "doc_a long, doc_b long")
        got = {r["doc"]: r["component"] for r in
               graph.connected_components_incremental(prev, new).collect()}
        assert got == {1: 1, 5: 1, 6: 1}

    def test_bridge_merges_two_old_components(self, spark):
        from healthcare_rcm_etl_pipeline_spark.operators import graph

        prev = self._cc(spark, [(1, 2), (7, 8)])
        new = spark.createDataFrame([(2, 7)], "doc_a long, doc_b long")
        got = {r["doc"]: r["component"] for r in
               graph.connected_components_incremental(prev, new).collect()}
        assert got == {1: 1, 2: 1, 7: 1, 8: 1}


def test_pagerank_fixed_point_deterministic_and_sane(spark):
    """The integer fixed-point claim: ranks are EXACTLY identical under
    different partitionings (a float PageRank differs in last bits when
    per-node sums reduce in different orders), and the ranking itself is
    sane — on an undirected star the hub outranks every leaf, leaves tie
    exactly; total mass stays ~scale (floors only leak downward)."""
    from healthcare_rcm_etl_pipeline_spark.operators.graph import pagerank_fixed_point
    from pyspark.sql import Row

    star = [Row(src=0, dst=i) for i in range(1, 7)] + [
        Row(src=i, dst=0) for i in range(1, 7)
    ]
    e = spark.createDataFrame(star)
    r1 = {r.node: r.rank_scaled for r in pagerank_fixed_point(e, iters=8).collect()}
    r2 = {
        r.node: r.rank_scaled
        for r in pagerank_fixed_point(e.repartition(7, "dst"), iters=8).collect()
    }
    assert r1 == r2  # exact, not approximate
    hub, leaves = r1[0], [r1[i] for i in range(1, 7)]
    assert len(set(leaves)) == 1  # symmetric leaves tie exactly
    assert hub > leaves[0] * 3  # the hub dominates
    total = sum(r1.values())
    assert 0.9 * 10**12 < total <= 10**12  # floors leak mass, never add


def test_pagerank_fixed_point_distributed_rounds(spark, forced_distributed):
    """The same claims with the power steps in Spark; the plain run above
    takes the driver's NumPy steps."""
    test_pagerank_fixed_point_deterministic_and_sane(spark)


def test_bfs_isolated_seeds_and_early_empty_frontier(spark, monkeypatch):
    """bfs_hops on both sides of the driver row bound: every distinct seed
    sits at hop 0, an isolated seed included; only seeds with an edge
    expand; the search ends at the first empty frontier (hop 4 of 6), and
    the node type is the seed/edge union's (int seeds, long edges -> long).
    Both paths return the same rows and schema."""
    from healthcare_rcm_etl_pipeline_spark import session
    from healthcare_rcm_etl_pipeline_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (3, 2), (3, 4), (10, 11)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (1,), (99,), (10,)], "node int")
    want = {1: 0, 99: 0, 10: 0, 2: 1, 11: 1, 3: 2, 4: 3}
    out = {}
    for bound in (session._DRIVER_ROWS_MAX, 0):
        monkeypatch.setattr(session, "_DRIVER_ROWS_MAX", bound)
        df = bfs_hops(edges, seeds, max_hops=6)
        rows = df.collect()
        assert len(rows) == len(want)
        assert {r.node: r.hops for r in rows} == want
        out[bound] = df.schema
    driver, distributed = out.values()
    assert driver == distributed
    assert driver.simpleString() == "struct<node:bigint,hops:int>"


def test_bounded_cc_equals_distributed_both_branches(spark):
    """connected_components_bounded (round-12 per-batch job-floor cut):
    the driver union-find fast path and the collect_limit=0 distributed
    fallback must both equal connected_components exactly — the min-label
    fixed point is unique, so the device is a cost choice, never a
    semantics choice."""
    from healthcare_rcm_etl_pipeline_spark.operators.graph import (
        connected_components_bounded,
    )

    edges = [(2, 1), (2, 3), (10, 11), (7, 5), (5, 6), (6, 7), (20, 21), (21, 22),
             (22, 23), (23, 20), (40, 41)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    want = sorted(map(tuple, connected_components(df).collect()))
    fast = sorted(map(tuple, connected_components_bounded(df).collect()))
    fallback = sorted(
        map(tuple, connected_components_bounded(df, collect_limit=0).collect())
    )
    assert fast == want == fallback
    # schema parity: downstream unions require identical field names/types
    assert connected_components_bounded(df).schema == connected_components(df).schema

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components_bounded(empty).collect() == []


def test_bounded_cc_union_find_matches_bfs_reference():
    """Property check of the driver union-find inside
    connected_components_bounded (no Spark in the loop): against an
    independent BFS labeling over random edge lists, every node's label
    must be its component's MINIMUM id — the contract the distributed
    min-label iteration guarantees, and the reason the fast path can
    substitute for it. Exercises the path-compression + union-by-min
    invariant (the root of a merged set is always the min of the two
    roots) across many shapes: chains, cliques, stars, self-loops,
    duplicates."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    ids = st.integers(min_value=0, max_value=60)
    edge_lists = st.lists(st.tuples(ids, ids), min_size=0, max_size=120)

    from healthcare_rcm_etl_pipeline_spark.operators.graph import (
        _union_find_min_labels as union_find,
    )

    def bfs_min_labels(rows):
        adj = {}
        for a, b in rows:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        labels, seen = {}, set()
        for start in adj:
            if start in seen:
                continue
            comp, frontier = [], [start]
            seen.add(start)
            while frontier:
                n = frontier.pop()
                comp.append(n)
                for m in adj[n]:
                    if m not in seen:
                        seen.add(m)
                        frontier.append(m)
            lab = min(comp)
            for n in comp:
                labels[n] = lab
        return labels

    @settings(max_examples=300, deadline=None)
    @given(edge_lists)
    def check(rows):
        assert union_find(rows) == bfs_min_labels(rows)

    check()


def test_bounded_cc_fast_path_labels_broadcast_downstream(spark):
    """r15: the union-find fast path's local relation must carry a
    broadcast hint — createDataFrame arrives as an ExistingRDD with no
    stats, and without the hint a corpus-sized join against 50 label rows
    was planned sort-merge (the r15 before-plans show it). Pin the join
    strategy, not just the values."""
    from pyspark.sql import functions as F

    from healthcare_rcm_etl_pipeline_spark.operators.graph import (
        connected_components_bounded,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    labels = connected_components_bounded(pairs, collect_limit=4096)
    corpus = spark.range(0, 1000).withColumnRenamed("id", "doc")
    joined = corpus.join(labels, "doc", "left")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
