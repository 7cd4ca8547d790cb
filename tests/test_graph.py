"""Connected components: the driver union-find and the Spark min-label
rounds vs hand-computed components. Every CC check runs on both sides of the
driver row bound through the ``both_rounds`` fixture."""

from __future__ import annotations

import pytest

from healthcare_rcm_etl_pipeline_spark import session
from healthcare_rcm_etl_pipeline_spark.operators.graph import connected_components


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    return {
        r["doc"]: r["component"]
        for r in connected_components(df, **kw).collect()
    }


def test_two_components_and_chain(spark, both_rounds):
    # component {1,2,3} as a chain, component {10,11} as an edge
    got = both_rounds(lambda: _cc(spark, [(2, 1), (2, 3), (10, 11)]))
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_cycle_and_isolated_pair(spark, both_rounds):
    got = both_rounds(lambda: _cc(spark, [(5, 6), (6, 7), (7, 5), (100, 42)]))
    assert got == {5: 5, 6: 5, 7: 5, 42: 42, 100: 42}


def test_long_path_converges_and_label_is_min(spark, both_rounds):
    n = 12
    got = both_rounds(lambda: _cc(spark, [(i, i + 1) for i in range(1, n)]))
    assert got == {i: 1 for i in range(1, n + 1)}


def test_non_convergence_raises(spark, monkeypatch):
    """``max_iters`` bounds the Spark rounds only: they raise once it runs
    out, while the driver union-find, which has no rounds, labels the same
    chain."""
    chain = [(i, i + 1) for i in range(1, 10)]
    assert _cc(spark, chain, max_iters=2) == {i: 1 for i in range(1, 11)}
    monkeypatch.setattr(session, "_DRIVER_ROWS_MAX", 0)
    with pytest.raises(
        RuntimeError, match=r"did not converge in 2 rounds; raise max_iters$"
    ):
        _cc(spark, chain, max_iters=2)


def test_empty_pairs(spark, both_rounds):
    assert both_rounds(lambda: _cc(spark, [])) == {}


def test_diameter_stress_chain_converges_in_log_rounds(spark, both_rounds):
    """A 1000-link duplicate chain (diameter 1000) — the worst shape for
    plain min-label propagation, which would need ~1000 rounds. Pointer
    jumping must converge within the default 20 and the labels must still
    be the component min."""
    from healthcare_rcm_etl_pipeline_spark.operators.graph import cc_rounds

    n = 1000
    edges = [(i, i + 1) for i in range(1, n)]
    got = both_rounds(lambda: _cc(spark, edges))
    assert got == {i: 1 for i in range(1, n + 1)}
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    rounds = cc_rounds(df)
    assert rounds <= 14  # ~log2(1000) + detection overhead


class TestIncrementalCC:
    def _cc(self, spark, pairs_rows):
        from healthcare_rcm_etl_pipeline_spark.operators import graph

        pairs = spark.createDataFrame(pairs_rows, "doc_a long, doc_b long")
        return graph.connected_components(pairs)

    def test_equals_full_recompute_on_random_merges(self, spark, both_rounds):
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
        def run():
            prev = self._cc(spark, base)
            inc = graph.connected_components_incremental(
                prev, spark.createDataFrame(new, "doc_a long, doc_b long")
            )
            full = self._cc(spark, all_pairs)
            return sorted(map(tuple, inc.collect())), sorted(map(tuple, full.collect()))

        inc, full = both_rounds(run)
        assert inc == full

    def _merged(self, spark, old_pairs, new_pairs):
        """{doc: component} after merging ``new_pairs`` into the labels of
        ``old_pairs``."""
        from healthcare_rcm_etl_pipeline_spark.operators import graph

        prev = self._cc(spark, old_pairs)
        new = spark.createDataFrame(new_pairs, "doc_a long, doc_b long")
        return {r["doc"]: r["component"] for r in
                graph.connected_components_incremental(prev, new).collect()}

    def test_untouched_components_pass_through(self, spark, both_rounds):
        got = both_rounds(
            lambda: self._merged(spark, [(1, 2), (2, 3), (10, 11)], [(10, 20)])
        )
        # {1,2,3} untouched; {10,11} absorbs 20
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 10}

    def test_new_min_id_relabels_old_cluster(self, spark, both_rounds):
        got = both_rounds(lambda: self._merged(spark, [(5, 6)], [(1, 6)]))
        assert got == {1: 1, 5: 1, 6: 1}

    def test_bridge_merges_two_old_components(self, spark, both_rounds):
        got = both_rounds(lambda: self._merged(spark, [(1, 2), (7, 8)], [(2, 7)]))
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


def test_bfs_isolated_seeds_and_early_empty_frontier(spark, both_rounds, monkeypatch):
    """bfs_hops on both sides of the driver row bound: every distinct seed
    sits at hop 0, an isolated seed included; only seeds with an edge
    expand; the search ends at the first empty frontier (hop 4 of 6), and
    the node type is the seed/edge union's (int seeds, long edges -> long).
    Both paths return the same rows and schema, also for raw edges with
    duplicate pairs, reversed pairs, self-loops and mixed int/long id
    columns; an edge with a NULL id never reaches the driver rounds, and
    the Spark rounds drop it."""
    from healthcare_rcm_etl_pipeline_spark.operators import graph

    def hops(edges, seeds, max_hops):
        df = graph.bfs_hops(edges, seeds, max_hops=max_hops)
        rows = sorted(map(tuple, df.collect()), key=lambda r: (r[0] is None, r))
        return rows, df.schema

    cases = [
        ([(1, 2), (3, 2), (3, 4), (10, 11)], "src long, dst long",
         [(1, 0), (2, 1), (3, 2), (4, 3), (10, 0), (11, 1), (99, 0)]),
    ] + [
        ([(1, 2), (1, 2), (2, 1), (2, 2), (3, 2), (3, 3), (4, 3), (4, 3),
          (10, 11), (11, 10), (99, 99)], ddl,
         [(1, 0), (2, 1), (3, 2), (4, 3), (10, 0), (11, 1), (99, 0)])
        for ddl in ("src long, dst long", "src int, dst long", "src long, dst int")
    ]
    seeds = spark.createDataFrame([(1,), (1,), (99,), (10,)], "node int")
    for edges, ddl, want in cases:
        rows, schema = both_rounds(lambda: hops(spark.createDataFrame(edges, ddl), seeds, 6))
        assert rows == want, ddl
        assert schema.simpleString() == "struct<node:bigint,hops:int>", ddl

    def no_driver(*args):
        raise AssertionError("a NULL-id edge reached the driver rounds")

    monkeypatch.setattr(graph, "_bfs_levels", no_driver)
    null_edges = spark.createDataFrame(
        [(1, 2), (2, None), (None, 3), (2, 3)], "src long, dst long"
    )
    rows, _ = both_rounds(lambda: hops(null_edges, seeds, 3))
    # an edge with a NULL end is no edge: NULL is never reached (it would
    # never match the visited anti-join, so it would repeat every hop)
    assert rows == [(1, 0), (2, 1), (3, 2), (10, 0), (99, 0)]


def test_bounded_cc_equals_distributed_both_branches(spark, both_rounds, monkeypatch):
    """connected_components' driver union-find and its Spark rounds (bound
    0) must return the same rows and schema — the min-label fixed point is
    unique, so the bound is a cost choice, never a semantics choice. The
    schema must match for nullable and non-nullable ids alike (downstream
    unions require identical field names/types)."""
    from pyspark.sql import functions as F

    from healthcare_rcm_etl_pipeline_spark.operators import graph

    def labelled(df):
        out = connected_components(df)
        return sorted(map(tuple, out.collect())), out.schema

    edges = [(2, 1), (2, 3), (10, 11), (7, 5), (5, 6), (6, 7), (20, 21), (21, 22),
             (22, 23), (23, 20), (40, 41)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    rows, schema = both_rounds(lambda: labelled(df))
    want = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 5: 5, 6: 5, 7: 5, 20: 20, 21: 20,
            22: 20, 23: 20, 40: 40, 41: 40}
    assert rows == sorted(want.items())
    assert schema.simpleString() == "struct<doc:bigint,component:bigint>"

    not_null = spark.range(9).select(
        F.col("id").alias("doc_a"), F.least("id", F.lit(2)).alias("doc_b")
    )
    rows, schema = both_rounds(lambda: labelled(not_null))
    assert rows == [(0, 0), (1, 1)] + [(i, 2) for i in range(2, 9)]
    assert not any(f.nullable for f in schema.fields)

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert both_rounds(lambda: connected_components(empty).collect()) == []

    # the union-find takes the raw pairs as they are: duplicate pairs,
    # reversed pairs and self-loops, with mixed int/long id columns
    shapes = [(1, 2), (1, 2), (2, 1), (3, 3), (4, 5), (5, 4), (5, 5), (2, 6),
              (6, 2), (6, 6)]
    for ddl in ("doc_a long, doc_b long", "doc_a int, doc_b long",
                "doc_a long, doc_b int"):
        rows, schema = both_rounds(lambda: labelled(spark.createDataFrame(shapes, ddl)))
        assert rows == [(1, 1), (2, 1), (3, 3), (4, 4), (5, 4), (6, 1)], ddl
        assert schema.simpleString() == "struct<doc:bigint,component:bigint>"

    # a NULL-id pair never reaches the driver union-find, whatever the bound
    def no_driver(edges):
        raise AssertionError("NULL-id pairs reached the driver union-find")

    monkeypatch.setattr(graph, "_union_find_min_labels", no_driver)
    with_null = spark.createDataFrame(
        [(1, 2), (2, None), (None, 3), (3, 4)], "doc_a long, doc_b long"
    )
    rows = both_rounds(lambda: sorted(
        map(tuple, connected_components(with_null).collect()),
        key=lambda r: (r[0] is None, r),
    ))
    # the NULL end is one node of its own, labelled NULL
    assert rows == [(1, 1), (2, 1), (3, 3), (4, 3), (None, None)]


def test_bounded_cc_union_find_matches_bfs_reference():
    """Property check of the driver union-find inside
    connected_components (no Spark in the loop): against an
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


def test_bounded_cc_fast_path_labels_broadcast_downstream(spark, monkeypatch):
    """The union-find's local relation (pairs under the driver row bound)
    carries no broadcast hint of its own: Spark logs a hint as unusable
    on an unjoined return or on the left of a semi/anti join, as in
    connected_components_incremental. A corpus-sized join against it still
    broadcasts, on the local relation's exact size statistics, and
    ``broadcast_if_local`` hints it for a build side too large for them.
    The Spark rounds' labels are never hinted. Pin the join strategy, not
    just the values."""
    from healthcare_rcm_etl_pipeline_spark import session
    from healthcare_rcm_etl_pipeline_spark.operators import graph

    def hinted(df):
        return "ResolvedHint" in df._jdf.queryExecution().analyzed().toString()

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    labels = connected_components(pairs)
    assert labels.isLocal() and not hinted(labels)
    assert hinted(graph.broadcast_if_local(labels))
    corpus = spark.range(0, 1000).withColumnRenamed("id", "doc")
    joined = corpus.join(labels, "doc", "left")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    new = spark.createDataFrame([(3, 10)], "doc_a long, doc_b long")
    assert not hinted(graph.connected_components_incremental(labels, new))

    monkeypatch.setattr(session, "_DRIVER_ROWS_MAX", 0)
    spark_labels = connected_components(pairs)
    assert not spark_labels.isLocal()
    assert not hinted(graph.broadcast_if_local(spark_labels))
