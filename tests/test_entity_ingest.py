"""Incremental entity resolution (streaming MDM): the entity ingest path
composes the record-linkage operators (deletion-variant blocking + agreement
attributes + levenshtein verify) with the component-labeling ingest
machinery (persisted posting index, affected-slice incremental CC, epoch/
marker exactly-once, purge/compact maintenance).

Fold invariant pinned here: after ANY prefix of batches, golden records
served from the persisted state (golden_from_labels over read_entity_rows +
read_labels(.., "entities")) equal the one-shot resolve_entities over
everything ingested, exactly — the split_leakage_safe_served device applied to MDM."""

from __future__ import annotations

from pyspark.sql import functions as F

from healthcare_rcm_etl_pipeline_spark.operators import fuzzy
from healthcare_rcm_etl_pipeline_spark.streaming import ingest

SCHEMA = "id long, name string, nation int, seg string, bal double"
ATTRS = {"name": "anchor", "seg": "anchor", "bal": "max"}

# cluster {1, 2, 3} spans batches (smith/smyth/smitt all within one edit,
# same agreement attrs); 6 shares the name but disagrees on nation; 5 and 4
# are singletons
BATCH1 = [
    (1, "john smith", 1, "A", 10.0),
    (2, "john smyth", 1, "A", 25.0),
    (5, "alice", 2, "A", 3.0),
    (6, "john smith", 9, "A", 99.0),
]
BATCH2 = [
    (3, "john smitt", 1, "A", 7.0),
    (4, "bob", 1, "A", 1.0),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _oneshot(spark, rows):
    df = _df(spark, rows)
    pairs = fuzzy.edit1_pairs(df, "name", "id", agree_cols=["nation", "seg"])
    return sorted(
        map(tuple, fuzzy.resolve_entities(df, pairs, "id", ATTRS).collect())
    )


def _served(spark, base):
    rows = ingest.read_entity_rows(spark, base).select(
        "id", "name", "nation", "seg", "bal"
    )
    labels = ingest.read_labels(spark, base, "entities")
    if labels is None:
        labels = rows.sparkSession.createDataFrame([], "doc long, component long")
    return sorted(
        map(tuple, fuzzy.golden_from_labels(rows, labels, "id", ATTRS).collect())
    )


def test_fold_invariance_after_each_prefix(spark, tmp_path):
    base = str(tmp_path / "mdm")
    fn = ingest.make_entity_ingest_batch_fn(
        base, "name", "id", agree_cols=["nation", "seg"]
    )
    fn(_df(spark, BATCH1), 0)
    assert _served(spark, base) == _oneshot(spark, BATCH1)
    fn(_df(spark, BATCH2), 1)
    assert _served(spark, base) == _oneshot(spark, BATCH1 + BATCH2)


def test_cross_batch_merge_and_agreement_blocking(spark, tmp_path):
    base = str(tmp_path / "mdm")
    fn = ingest.make_entity_ingest_batch_fn(
        base, "name", "id", agree_cols=["nation", "seg"]
    )
    fn(_df(spark, BATCH1), 0)
    fn(_df(spark, BATCH2), 1)
    labels = {
        r["doc"]: r["component"]
        for r in ingest.read_labels(spark, base, "entities").collect()
    }
    # the cross-batch typo chain merged: 3 joined {1, 2} via the persisted
    # variant index, min-id label
    assert labels[1] == labels[2] == labels[3] == 1
    # agreement blocking: same name, different nation -> never a pair
    assert 6 not in labels
    golden = {r[0]: r for r in map(tuple, _served(spark, base))}
    # survivorship: anchor name from id 1, max balance from id 2
    assert golden[1][1:] == (3, "john smith", "A", 25.0)
    assert golden[6][1:] == (1, "john smith", "A", 99.0)


def test_single_vs_multi_batch_fold_identical(spark, tmp_path):
    one = str(tmp_path / "one")
    fn1 = ingest.make_entity_ingest_batch_fn(
        one, "name", "id", agree_cols=["nation", "seg"]
    )
    fn1(_df(spark, BATCH1 + BATCH2), 0)
    many = str(tmp_path / "many")
    fn2 = ingest.make_entity_ingest_batch_fn(
        many, "name", "id", agree_cols=["nation", "seg"]
    )
    fn2(_df(spark, BATCH1), 0)
    fn2(_df(spark, BATCH2), 1)
    assert _served(spark, one) == _served(spark, many)


def test_variant_index_probe_is_pushed_down(spark, tmp_path):
    """Cross-corpus candidate generation probes the persisted variant
    index with the batch's bounded vh set as a pushed-down literal over
    the vh-range-sorted state — the band-index literal-prune device."""
    base = str(tmp_path / "mdm")
    fn = ingest.make_entity_ingest_batch_fn(
        base, "name", "id", agree_cols=["nation", "seg"]
    )
    fn(_df(spark, BATCH1), 0)
    index = ingest.read_variant_index(spark, base)
    probe = fuzzy.deletion_postings(
        _df(spark, BATCH2), "name", "id", ["nation", "seg"]
    )
    pruned = ingest._literal_pruned(index, probe, "vh")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and (
        "In(vh" in plan or "EqualTo(vh" in plan
    ), plan


def test_purge_forgets_entity_member(spark, tmp_path):
    base = str(tmp_path / "mdm")
    fn = ingest.make_entity_ingest_batch_fn(
        base, "name", "id", agree_cols=["nation", "seg"]
    )
    fn(_df(spark, BATCH1), 0)
    fn(_df(spark, BATCH2), 1)
    rewritten = ingest.purge_ids(spark, base, [2], id_col="id")
    assert rewritten["rows"] >= 1 and rewritten["variants"] >= 1
    assert rewritten["entities"] >= 1
    served = {r[0]: r for r in map(tuple, _served(spark, base))}
    # the purged row contributes nothing: its max balance is gone, the
    # surviving members stay co-labeled
    assert all(r[2] != "john smyth" for r in served.values())
    assert served[1][1:] == (2, "john smith", "A", 10.0)
    labels = {
        r["doc"]: r["component"]
        for r in ingest.read_labels(spark, base, "entities").collect()
    }
    assert 2 not in labels and labels[1] == labels[3]


def test_compact_preserves_served_golden(spark, tmp_path):
    base = str(tmp_path / "mdm")
    fn = ingest.make_entity_ingest_batch_fn(
        base, "name", "id", agree_cols=["nation", "seg"]
    )
    fn(_df(spark, BATCH1), 0)
    fn(_df(spark, BATCH2), 1)
    before = _served(spark, base)
    folded = ingest.compact_epochs(spark, base)
    assert folded["entities"] >= 2 and folded["rows"] >= 2
    assert _served(spark, base) == before
    # tiered mode skips the label state
    tiered = ingest.compact_epochs(spark, base, small_bytes=1 << 30)
    assert tiered["entities"] == 0


def test_read_entities_for_point_lookup(spark, tmp_path):
    """Entity-label serving as a point lookup: read_labels(.., ids=...) returns
    the LIVE label of exactly the probed ids via a pushed-down literal
    over the doc-range-sorted state, equal to the full-scan read_labels
    restricted to those ids — including after the cross-batch merge."""
    base = str(tmp_path / "mdm")
    fn = ingest.make_entity_ingest_batch_fn(
        base, "name", "id", agree_cols=["nation", "seg"]
    )
    fn(_df(spark, BATCH1), 0)
    fn(_df(spark, BATCH2), 1)
    got = ingest.read_labels(spark, base, "entities", [2, 3, 5])
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(doc" in plan, plan
    rows = {r["doc"]: r["component"] for r in got.collect()}
    assert rows == {2: 1, 3: 1}  # 5 is a singleton: no state row
    full = {
        r["doc"]: r["component"]
        for r in ingest.read_labels(spark, base, "entities").collect()
        if r["doc"] in (2, 3, 5)
    }
    assert rows == full
    assert ingest.read_labels(spark, str(tmp_path / "never"), "entities", [1]) is None


def test_entity_ingest_stream_end_to_end(spark, tmp_path):
    """The writeStream driver (ingest_stream) drives the same
    batch fn through a real file-source stream with checkpointing: served
    golden records equal the one-shot resolve_entities, and a replayed
    run with nothing new changes nothing (run-token replay gate)."""
    src = str(tmp_path / "src")
    base = str(tmp_path / "mdm")
    ckpt = str(tmp_path / "ckpt")

    def _run_once():
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        q = ingest.ingest_stream(
            ingest.make_entity_ingest_batch_fn, stream, ckpt, base,
            "name", "id", agree_cols=["nation", "seg"],
        )
        q.awaitTermination(120)

    _df(spark, BATCH1).coalesce(1).write.mode("append").parquet(src)
    _run_once()
    assert _served(spark, base) == _oneshot(spark, BATCH1)
    _df(spark, BATCH2).coalesce(1).write.mode("append").parquet(src)
    _run_once()
    expected = _oneshot(spark, BATCH1 + BATCH2)
    assert _served(spark, base) == expected
    _run_once()  # replay with nothing new
    assert _served(spark, base) == expected
