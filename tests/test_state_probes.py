"""Point-lookup serving over the persisted ingest state (round-10 verdict
item 6): the band index and keeper-chunk state are range-sorted on their
probe keys at write time, and the probe readers apply the collected keys as
LITERAL predicates — so the scan is pruned by parquet pushdown + footer
stats instead of reading the whole state. Pinned here: (a) the pruned
probes are output-EXACT vs the full-scan paths, (b) the literal predicate
actually reaches the scan (PushedFilters in the executed plan)."""

from __future__ import annotations

from pyspark.sql import Row

from healthcare_rcm_etl_pipeline_spark.operators import dedup
from healthcare_rcm_etl_pipeline_spark.operators.corpus import (
    chunk_dedup_rewrite_incremental,
)
from healthcare_rcm_etl_pipeline_spark.streaming import ingest

_T = [f"t{i}" for i in range(40)]
A = " ".join(_T)
A2 = " ".join(_T[:39] + ["zz"])
LONER = " ".join(f"q{i}" for i in range(40))
C1 = " ".join(f"a{i}" for i in range(15))
C2 = " ".join(f"b{i}" for i in range(15))
C3 = " ".join(f"c{i}" for i in range(15))


def _df(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


def _ingest_base(spark, tmp_path, rows):
    base = str(tmp_path / "corpus")
    fn = ingest.make_component_ingest_batch_fn(base)
    fn(_df(spark, rows), 0)
    return base


def test_probe_near_dups_equals_full_scan(spark, tmp_path):
    base = _ingest_base(spark, tmp_path, [(1, A), (5, LONER)])
    probe = _df(spark, [(100, A2), (101, " ".join(f"x{i}" for i in range(40)))])

    got = ingest.probe_near_dups(spark, base, probe)
    full = dedup.minhash_lsh_pairs_incremental(
        probe, ingest.read_corpus(spark, base), "text", "doc_id"
    )
    keyf = lambda r: (r["doc_base"], r["doc_new"], r["n_common"], r["jaccard"])
    assert sorted(map(keyf, got.collect())) == sorted(map(keyf, full.collect()))
    assert {(r["doc_base"], r["doc_new"]) for r in got.collect()} == {(1, 100)}


def test_probe_band_index_scan_is_pushed_down(spark, tmp_path):
    base = _ingest_base(spark, tmp_path, [(1, A), (5, LONER)])
    probe = _df(spark, [(100, A2)])
    pb = dedup.minhash_band_table(probe, "text", "doc_id")
    idx = ingest.read_band_index_for(spark, base, pb)
    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(bh" in plan, plan


def test_probes_on_empty_base(spark, tmp_path):
    """Serving before the first commit: the near-dup probe reports the
    no-index state as None; the chunk probe degrades to the batch-local
    rewrite (nothing claimed yet)."""
    base = str(tmp_path / "never_written")
    probe = _df(spark, [(1, A)])
    assert ingest.probe_near_dups(spark, base, probe) is None
    row = ingest.probe_chunk_rewrite(
        spark, base, _df(spark, [(1, f"{C1} {C2}")])
    ).collect()[0]
    assert (row["n_chunks"], row["n_kept"]) == (2, 2)


def test_ingest_literal_prune_fallback_is_equivalent(spark, tmp_path, monkeypatch):
    """Both branches of the batch-path index prune must ingest identically:
    with the literal bound forced to 0 every batch takes the join-based
    fallback, and the resulting corpus must equal the literal-pruned run's
    (the prune is a scan optimization, never a semantics change)."""
    rows1 = [(1, A), (5, LONER)]
    rows2 = [(100, A2), (101, " ".join(f"y{i}" for i in range(40)))]

    def run(base):
        fn = ingest.make_dedup_ingest_batch_fn(base)
        fn(_df(spark, rows1), 0)
        fn(_df(spark, rows2), 1)
        return sorted(
            tuple(r) for r in ingest.read_corpus(spark, base).collect()
        )

    literal = run(str(tmp_path / "lit"))
    monkeypatch.setattr(ingest, "_PROBE_LITERAL_MAX", 0)
    fallback = run(str(tmp_path / "fb"))
    assert literal == fallback
    # the cross-corpus near-dup (100 vs 1) was dropped either way
    assert all(r[0] != 100 for r in literal)


def test_probe_chunk_rewrite_equals_full_state(spark, tmp_path):
    base = str(tmp_path / "corpus")
    fn = ingest.make_chunk_ingest_batch_fn(base)
    fn(_df(spark, [(1, f"{C1} {C2}"), (2, f"{C2} {C3}")]), 0)

    probe = _df(spark, [(100, f"{C1} {C3} {' '.join(f'z{i}' for i in range(15))}")])
    got = ingest.probe_chunk_rewrite(spark, base, probe)
    full, _ = chunk_dedup_rewrite_incremental(
        probe, ingest.read_chunk_state(spark, base), "text", "doc_id"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, full.collect()))
    row = got.collect()[0]
    # C1 and C3 are claimed by the corpus; only the fresh z-chunk survives
    assert (row["n_chunks"], row["n_kept"]) == (3, 1)

    st = ingest.read_chunk_state_for(spark, base, [C1, C2])
    plan = st._jdf.queryExecution().executedPlan().toString()
    # Catalyst folds a 1-key isin to EqualTo; either way it must be PUSHED
    assert "PushedFilters" in plan and (
        "In(chunk" in plan or "EqualTo(chunk" in plan
    ), plan


def test_component_state_scan_one_is_pushed_down(spark, tmp_path):
    """The incremental-CC state read's scan ONE (live labels of the batch's
    pair nodes) is a point lookup: node ids inline as a pushed-down literal
    over the doc-range-sorted components state."""
    from pyspark.sql import Row, functions as F

    base = _ingest_base(spark, tmp_path, [(1, A), (2, A2)])
    state = spark.read.parquet(f"{base}/components")
    nodes = spark.createDataFrame([Row(doc=1)])
    pruned = ingest._literal_pruned(state, nodes, "doc")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and (
        "In(doc" in plan or "EqualTo(doc" in plan
    ), plan
    # the slice itself is exact: node 1's component {1, 2} comes back whole
    got = sorted(
        map(tuple, ingest._affected_component_slice(state, nodes).collect())
    )
    assert got == [(1, 1), (2, 1)]


def test_component_state_scan_two_is_pushed_down_on_twin(spark, tmp_path):
    """Scan TWO (every state row of the touched components) is a point
    lookup over the COMPONENT-sorted state twin since r13: the bounded
    touched-label set inlines as a pushed-down In(component, ...) literal,
    so footer stats prune FILES — per-batch state I/O tracks the touched
    neighborhood, not the accumulated label state. Pinned: (a) the twin
    exists and holds the same delta rows as the main state, (b) the
    literal reaches the twin's scan, (c) the twin-served slice equals the
    legacy main-state semi-join slice, including after a label-changing
    merge, (d) a base without a twin (pre-r13 layout) still serves via
    the fallback."""
    from pyspark.sql import Row, functions as F

    base = str(tmp_path / "corpus")
    fn = ingest.make_component_ingest_batch_fn(base)
    fn(_df(spark, [(1, A), (2, A2), (5, LONER)]), 0)
    fn(_df(spark, [(10, A)]), 1)  # merges into {1, 2}: label stays 1

    state = spark.read.parquet(f"{base}/components")
    twin = spark.read.parquet(f"{base}/components_by_label")
    # (a) same rows, different sort
    assert sorted(map(tuple, state.collect())) == sorted(map(tuple, twin.collect()))

    # (b) the component literal reaches the twin scan
    touched = spark.createDataFrame([Row(component=1)])
    pruned = ingest._literal_pruned(twin, touched, "component")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and (
        "In(component" in plan or "EqualTo(component" in plan
    ), plan

    # (c) twin-served slice == legacy slice (and correct membership)
    nodes = spark.createDataFrame([Row(doc=10)])
    via_twin = sorted(
        map(tuple, ingest._affected_component_slice(state, nodes, twin).collect())
    )
    legacy = sorted(
        map(tuple, ingest._affected_component_slice(state, nodes).collect())
    )
    assert via_twin == legacy == [(1, 1), (2, 1), (10, 1)]

    # (d) pre-twin layout: fallback path used by the batch fn
    assert (
        ingest._affected_component_slice(state, nodes, None).count() == 3
    )


def test_read_components_for_point_lookup(spark, tmp_path):
    """Label serving as a point lookup: read_labels(.., ids=...) returns the
    LIVE label of exactly the probed ids via a pushed-down literal over
    the doc-range-sorted state, and equals the full-scan read_labels
    restricted to those ids — including after a label-changing merge
    (latest-epoch-wins must survive the prune)."""
    from pyspark.sql import Row

    base = str(tmp_path / "corpus")
    fn = ingest.make_component_ingest_batch_fn(base)
    fn(_df(spark, [(1, A), (2, A2), (5, LONER)]), 0)
    fn(_df(spark, [(10, A)]), 1)  # merges into {1, 2}: doc 10 labeled 1

    got = ingest.read_labels(spark, base, "components", [2, 10, 5])
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(doc" in plan, plan
    rows = {r["doc"]: r["component"] for r in got.collect()}
    assert rows == {2: 1, 10: 1}  # 5 is unpaired: no state row
    full = {
        r["doc"]: r["component"]
        for r in ingest.read_labels(spark, base, "components").collect()
        if r["doc"] in (2, 10, 5)
    }
    assert rows == full
    assert ingest.read_labels(spark, str(tmp_path / "never"), "components", [1]) is None


def test_twin_coverage_guard_and_backfill(spark, tmp_path, monkeypatch):
    """r14 (ADVICE): a PARTIAL twin — a base created before the twin
    existed, so only post-upgrade epochs are double-written — must never
    serve scan TWO: past the size gate it would silently omit pre-upgrade
    members of touched components and incremental CC would merge on an
    incomplete slice (stale/split served labels). Pinned: (a) the partial
    twin is detected (_TWIN_SINCE marker) and the merge falls back to the
    exact semi-join — the relabel reaches the pre-upgrade member; (b) the
    recreated twin self-describes as partial; (c) backfill_label_twin
    copies the missing epochs, stamps complete, and the twin then serves
    the full slice."""
    import shutil as _sh

    from pyspark.sql import Row

    monkeypatch.setattr(ingest, "_TWIN_MIN_BYTES", 0)
    monkeypatch.setattr(ingest, "_TWIN_MIN_MEAN_FILE_BYTES", 0)  # force the gate open
    ingest._reset_twin_caches()
    base = str(tmp_path / "mdm")

    # epoch 0: docs {1, 2} share component 1 (written by the r14 writer,
    # then the twin is deleted to simulate a pre-twin base)
    d0 = spark.createDataFrame([Row(doc=1, component=1), Row(doc=2, component=1)])
    ingest._write_label_delta(d0, base, "components", 0)
    ingest._write_marker(spark, base, "", 0, 0)
    _sh.rmtree(f"{base}/components_by_label")
    ingest._reset_twin_caches()

    # (a) merge that RELABELS the component (new min-id 0 joins via doc 1
    # only): doc 2 is reachable ONLY through scan TWO — a partial/absent
    # twin past the gate must fall back to the semi-join, not drop it
    assert ingest._twin_complete(spark, base, "components") is False
    pairs = spark.createDataFrame([Row(doc_a=0, doc_b=1)])
    delta1 = ingest._merge_label_state(spark, base, "components", pairs, 0)
    got = {(r["doc"], r["component"]) for r in delta1.collect()}
    assert {(0, 0), (1, 0), (2, 0)} <= got  # doc 2 relabeled: full slice seen

    # (b) persisting the delta recreates the twin — marked PARTIAL (the
    # main state pre-existed), so scan TWO still refuses it
    ingest._write_label_delta(delta1, base, "components", 1)
    ingest._write_marker(spark, base, "", 0, 1)
    marker = ingest.sinks.read_text_marker(
        spark, f"{base}/components_by_label/{ingest._TWIN_SINCE}", ""
    )
    assert marker == "partial 1"
    assert ingest._twin_complete(spark, base, "components") is False

    # (c) backfill copies the missing epoch 0, stamps complete, and the
    # twin-served slice is whole
    assert ingest.backfill_label_twin(spark, base, "components") == 1
    assert ingest._twin_complete(spark, base, "components") is True
    state = spark.read.parquet(f"{base}/components")
    twin = spark.read.parquet(f"{base}/components_by_label")
    assert sorted(map(tuple, state.collect())) == sorted(map(tuple, twin.collect()))
    pairs2 = spark.createDataFrame([Row(doc_a=5, doc_b=0)])
    delta2 = ingest._merge_label_state(spark, base, "components", pairs2, 1)
    got2 = {(r["doc"], r["component"]) for r in delta2.collect()}
    assert {(0, 0), (1, 0), (2, 0), (5, 0)} <= got2
    ingest._reset_twin_caches()


def test_fresh_base_twin_marks_complete(spark, tmp_path):
    """A twin born together with its state (every post-r14 base) is
    complete by construction and self-describes so."""
    from pyspark.sql import Row

    base = str(tmp_path / "fresh")
    d0 = spark.createDataFrame([Row(doc=1, component=1)])
    ingest._write_label_delta(d0, base, "components", 0)
    marker = ingest.sinks.read_text_marker(
        spark, f"{base}/components_by_label/{ingest._TWIN_SINCE}", ""
    )
    assert marker == "complete"
    assert ingest._twin_complete(spark, base, "components") is True


def test_twin_gate_probe_is_cached(spark, tmp_path, monkeypatch):
    """r14 (ADVICE): the size-gate probe must not run a recursive
    O(files) listing per micro-batch — below the gate it re-checks every
    _TWIN_RECHECK_EVERY calls, and once crossed it is sticky until a
    maintenance op clears the cache."""
    from pyspark.sql import Row

    ingest._reset_twin_caches()
    calls = {"n": 0}
    real = ingest.sinks.path_exists

    def counting(s, p):
        calls["n"] += 1
        return real(s, p)

    monkeypatch.setattr(ingest.sinks, "path_exists", counting)

    # below the gate (default 8 GiB): 2 full recheck windows -> 2 listings
    base = str(tmp_path / "gate")
    d0 = spark.createDataFrame([Row(doc=1, component=1)])
    ingest._write_label_delta(d0, base, "components", 0)
    calls["n"] = 0
    twin = f"{base}/components_by_label"
    for _ in range(2 * ingest._TWIN_RECHECK_EVERY):
        assert ingest._twin_worth_probing(spark, twin) is False
    assert calls["n"] == 2

    # crossing the gate: sticky True, zero further probes
    monkeypatch.setattr(ingest, "_TWIN_MIN_BYTES", 0)
    monkeypatch.setattr(ingest, "_TWIN_MIN_MEAN_FILE_BYTES", 0)
    ingest._reset_twin_caches()
    calls["n"] = 0
    for _ in range(10):
        assert ingest._twin_worth_probing(spark, twin) is True
    assert calls["n"] == 1

    # maintenance clears the cache (purge rewrites under the gate)
    ingest._reset_twin_caches()
    assert ingest._twin_worth_probing(spark, twin) is True
    assert calls["n"] == 2
    ingest._reset_twin_caches()


def test_in_literals_matches_isin_semantics(spark):
    """r16: integer point-lookup predicates are built as one parsed SQL
    expression (ingest._in_literals) instead of a py4j-marshalled isin
    list (~0.6 ms/element of pure driver time). Pin row-identity against
    isin on ints (incl. negatives / int64 extremes), the string fallback,
    and the empty-key edge; bools must NOT take the SQL path."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1,), (-5,), (9223372036854775807,), (0,), (42,)], "bh long"
    )
    keys = [1, -5, 9223372036854775807]
    got = sorted(r[0] for r in df.filter(ingest._in_literals("bh", keys)).collect())
    ref = sorted(r[0] for r in df.filter(F.col("bh").isin(keys)).collect())
    assert got == ref == [-5, 1, 9223372036854775807]
    # empty keys: all-false either way
    assert df.filter(ingest._in_literals("bh", [])).count() == 0
    # string fallback path
    sdf = spark.createDataFrame([("a",), ("b'c",)], "chunk string")
    skeys = ["b'c", "nope"]
    got_s = sorted(r[0] for r in sdf.filter(ingest._in_literals("chunk", skeys)).collect())
    assert got_s == ["b'c"]
    # bools are int subclasses but must use the isin path (render as True/False)
    bdf = spark.createDataFrame([(True,), (False,)], "flag boolean")
    assert sorted(
        r[0] for r in bdf.filter(ingest._in_literals("flag", [True])).collect()
    ) == [True]
