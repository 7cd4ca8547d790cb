"""Point-lookup reads of the persisted ingest state: the band index and
label states are range-sorted on their probe keys at write time, and the
ingest batches apply the collected keys as LITERAL predicates — so the scan
is pruned by parquet pushdown + footer stats instead of reading the whole
state. Pinned here: (a) the pruned reads are output-EXACT vs the full-scan
paths, (b) the literal predicate actually reaches the scan (PushedFilters
in the executed plan)."""

from __future__ import annotations

from pyspark.sql import Row

from healthcare_rcm_etl_pipeline_spark.operators import dedup
from healthcare_rcm_etl_pipeline_spark.streaming import ingest

_T = [f"t{i}" for i in range(40)]
A = " ".join(_T)
A2 = " ".join(_T[:39] + ["zz"])
LONER = " ".join(f"q{i}" for i in range(40))


def _df(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


def _ingest_base(spark, tmp_path, rows):
    base = str(tmp_path / "corpus")
    fn = ingest.make_component_ingest_batch_fn(base)
    fn(_df(spark, rows), 0)
    return base


def test_probe_band_index_scan_is_pushed_down(spark, tmp_path):
    base = _ingest_base(spark, tmp_path, [(1, A), (5, LONER)])
    probe = _df(spark, [(100, A2)])
    pb = dedup.minhash_band_table(probe, "text", "doc_id")
    idx = ingest._literal_pruned(ingest.read_band_index(spark, base), pb, "bh")
    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(bh" in plan, plan


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

    probe = _df(spark, [(200, A2), (201, LONER)])
    pb = dedup.minhash_band_table(probe, "text", "doc_id")
    idx = ingest.read_band_index(spark, str(tmp_path / "fb"))
    plan = ingest._literal_pruned(idx, pb, "bh")._jdf.queryExecution()
    assert "In(bh" not in plan.executedPlan().toString()  # fallback taken


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


def test_component_state_scan_two_slice_membership(spark, tmp_path):
    """Scan TWO (every state row of the touched components) returns the
    whole component of a node, across epochs: after a label-preserving
    merge in epoch 1, probing the new node brings back the epoch-0
    members too."""
    base = str(tmp_path / "corpus")
    fn = ingest.make_component_ingest_batch_fn(base)
    fn(_df(spark, [(1, A), (2, A2), (5, LONER)]), 0)
    fn(_df(spark, [(10, A)]), 1)  # merges into {1, 2}: label stays 1

    state = spark.read.parquet(f"{base}/components")
    nodes = spark.createDataFrame([Row(doc=10)])
    got = sorted(map(tuple, ingest._affected_component_slice(state, nodes).collect()))
    assert got == [(1, 1), (2, 1), (10, 1)]


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
