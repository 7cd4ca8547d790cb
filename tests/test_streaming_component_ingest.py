"""Component-labeling streaming ingestion (streaming/ingest.py:
make_component_ingest_batch_fn): every micro-batch's near-dup pairs merge
into a persisted component labeling via incremental CC, and the stream
RETAINS all docs (labels, not drops). The invariant under test: after any
prefix of batches, ``read_labels(.., "components")`` equals one-shot
``connected_components(minhash_lsh_pairs(everything ingested))`` exactly —
including the two-existing-components merge case star contraction must get
right — and the leakage-safe split served from the state equals the
recompute-everything ``leakage_safe_split``.

Pair geometry: families share token prefixes so a later BRIDGE doc is a
near-dup (jaccard >= 0.5) of BOTH families while the families themselves
stay below threshold (A∩B 3-shingles: 18/58 = 0.31) — so the bridge batch
must merge two committed components. bands=32 (rows=2) keeps the LSH
collision probability ~1 at these jaccards, so the pair set is stable.

Old bases: a base written when every label epoch was also stored
component-sorted (``components_by_label/`` plus its ``_TWIN_SINCE``
coverage marker) keeps ingesting, purging and compacting, and serves
exactly what a fresh base serves; the leftover ``components_by_label/`` is
simply ignored (``test_old_base_with_label_twin_keeps_working``).
"""

from __future__ import annotations

from pyspark.sql import Row

from healthcare_rcm_etl_pipeline_spark.operators import dedup, graph
from healthcare_rcm_etl_pipeline_spark.streaming import ingest

LSH = dict(k=64, bands=32, n=3, verify_threshold=0.5)

_T = [f"t{i}" for i in range(40)]
_U = [f"u{i}" for i in range(21, 41)]
A = " ".join(_T)                                   # t0..t39
A2 = " ".join(_T[:39] + ["zz"])                    # near-dup of A
B = " ".join(_T[:20] + _U)                         # shares t0..t19 with A
B2 = " ".join(_T[:20] + _U[:19] + ["yy"])          # near-dup of B
BRIDGE = " ".join(_T[:30] + _U[:10])               # near-dup of BOTH A and B
LONER = " ".join(f"q{i}" for i in range(40))


def _write_docs(spark, path, rows):
    spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows]).coalesce(
        1
    ).write.mode("append").parquet(path)


def _run_once(spark, src, base, ckpt):
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = ingest.ingest_stream(
        ingest.make_component_ingest_batch_fn, stream, ckpt, base, **LSH
    )
    q.awaitTermination(120)


def _served(spark, base):
    return sorted(
        tuple(r) for r in ingest.read_labels(spark, base, "components").collect()
    )


def _oneshot(spark, rows):
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])
    pairs = dedup.minhash_lsh_pairs(df, "text", "doc_id", **LSH)
    return sorted(tuple(r) for r in graph.connected_components(pairs).collect())


def test_component_ingest_equals_oneshot_cc(spark, tmp_path):
    src = str(tmp_path / "src")
    base = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    # day 1: one within-batch pair (A family), one loner
    day1 = [(1, A), (2, A2), (5, LONER)]
    _write_docs(spark, src, day1)
    _run_once(spark, src, base, ckpt)
    assert _served(spark, base) == _oneshot(spark, day1)
    # loner has no pair -> no state row (pair-graph-sized state)
    assert all(doc in (1, 2) for doc, _ in _served(spark, base))

    # day 2: B family arrives as a cross-batch pair (3 then nothing else
    # pairs with it yet), plus a cross-corpus near-dup of A
    day2 = [(3, B), (4, B2), (10, A)]
    _write_docs(spark, src, day2)
    _run_once(spark, src, base, ckpt)
    assert _served(spark, base) == _oneshot(spark, day1 + day2)

    # day 3: the bridge merges the TWO committed components {1,2,10} and
    # {3,4} into one — the star-contraction path with real prior state
    day3 = [(20, BRIDGE)]
    _write_docs(spark, src, day3)
    _run_once(spark, src, base, ckpt)
    served = _served(spark, base)
    assert served == _oneshot(spark, day1 + day2 + day3)
    labels = {c for _, c in served}
    assert labels == {1}, labels  # everything paired collapsed to min id 1

    # re-run with nothing new: no change (replay gate)
    _run_once(spark, src, base, ckpt)
    assert served == _served(spark, base)

    # all docs retained (labeling, not dropping)
    corpus_ids = sorted(
        r["doc_id"] for r in ingest.read_corpus(spark, base).collect()
    )
    assert corpus_ids == [1, 2, 3, 4, 5, 10, 20]


def test_component_state_purge_and_compact(spark, tmp_path):
    """Maintenance over the label state: purge removes the doc's
    MEMBERSHIP rows (surviving members keep their label as an opaque group
    key — conservative, never splits); full compaction folds the
    multi-epoch state into one resolved latest-per-doc partition without
    changing the served view; tiered compaction skips components (a
    non-contiguous fold could hoist stale labels past a skipped epoch)."""
    src = str(tmp_path / "src")
    base = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    _write_docs(spark, src, [(1, A), (2, A2), (5, LONER)])
    _run_once(spark, src, base, ckpt)
    _write_docs(spark, src, [(3, B), (4, B2), (10, A)])
    _run_once(spark, src, base, ckpt)

    rewritten = ingest.purge_ids(spark, base, [2])
    assert rewritten["components"] >= 1
    served = _served(spark, base)
    assert all(doc != 2 for doc, _ in served)
    # survivors keep their cluster (1, 10 still co-labeled)
    labels = dict(served)
    assert labels[10] == labels[1]

    before = _served(spark, base)
    folded = ingest.compact_epochs(spark, base)
    assert folded["components"] >= 2
    assert _served(spark, base) == before
    # folded state is fully resolved: one row per doc
    raw = spark.read.parquet(f"{base}/components")
    assert raw.count() == raw.select("doc").distinct().count()

    # tiered mode must not touch components
    tiered = ingest.compact_epochs(spark, base, small_bytes=1 << 30)
    assert tiered["components"] == 0


def test_served_split_equals_recompute(spark, tmp_path):
    src = str(tmp_path / "src")
    base = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    day1 = [(1, A), (2, A2), (5, LONER)]
    day2 = [(3, B), (4, B2), (10, A), (20, BRIDGE)]
    _write_docs(spark, src, day1)
    _run_once(spark, src, base, ckpt)
    _write_docs(spark, src, day2)
    _run_once(spark, src, base, ckpt)

    rows = day1 + day2
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    recomputed = dedup.leakage_safe_split(
        df, dedup.minhash_lsh_pairs(df, "text", "doc_id", **LSH), "doc_id", fr
    )
    served = dedup.leakage_safe_split_from_components(
        df, ingest.read_labels(spark, base, "components"), "doc_id", fr
    )
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, recomputed.collect())
    )
    # near-dups land in the SAME split, always
    by_doc = {r["doc_id"]: r["split"] for r in served.collect()}
    assert len({by_doc[d] for d in (1, 2, 3, 4, 10, 20)}) == 1


def test_purged_label_id_not_resurrected(spark, tmp_path):
    """Purge deletes a doc's membership rows, but its id can survive as
    other members' component VALUE (labels are opaque group keys).
    Incremental CC treats label values as graph nodes — the next batch
    touching the cluster must NOT write a (doc=<purged id>, ...) row back
    into the state, or read_labels would serve the purged doc again
    (round-11 ADVICE)."""
    base = str(tmp_path / "corpus")
    fn = ingest.make_component_ingest_batch_fn(base, **LSH)
    fn(
        _mkdf(spark, [(1, A), (2, A2), (10, A)]), 0
    )  # component {1, 2, 10}, label = min id 1
    assert dict(_served(spark, base)) == {1: 1, 2: 1, 10: 1}

    ingest.purge_ids(spark, base, [1])
    assert 1 not in dict(_served(spark, base))

    # next batch touches the cluster: 11 near-dups the survivors
    fn(_mkdf(spark, [(11, A)]), 1)
    served = dict(_served(spark, base))
    assert 1 not in served, served  # the purged doc must stay forgotten
    # survivors and the newcomer stay co-labeled (label value may remain
    # the purged id — an opaque group key, documented in purge_ids)
    assert served[2] == served[10] == served[11]
    # and the corpus itself still excludes the purged doc
    assert sorted(
        r["doc_id"] for r in ingest.read_corpus(spark, base).collect()
    ) == [2, 10, 11]


def _mkdf(spark, rows):
    from pyspark.sql import Row as _Row

    return spark.createDataFrame([_Row(doc_id=i, text=t) for i, t in rows])


def test_compact_datasets_subset_folds_only_label_states(spark, tmp_path):
    """`compact_epochs(datasets=...)` folds ONLY the named datasets — the
    O(state) label-state fold that bounds its file count WITHOUT the
    O(corpus) full fold. The docs and bands epochs stay untouched; the
    served labeling is unchanged; unknown dataset names are rejected."""
    import pytest as _pytest

    base = str(tmp_path / "corpus")
    fn = ingest.make_component_ingest_batch_fn(base, **LSH)
    fn(_mkdf(spark, [(1, A), (2, A2), (5, LONER)]), 0)
    fn(_mkdf(spark, [(3, B), (4, B2)]), 1)
    fn(_mkdf(spark, [(10, A), (20, BRIDGE)]), 2)

    before = _served(spark, base)

    def _epoch_dirs(sub):
        import os as _os

        return sorted(
            d for d in _os.listdir(f"{base}/{sub}") if d.startswith("epoch=")
        )

    docs_before = _epoch_dirs("docs")
    folded = ingest.compact_epochs(spark, base, datasets=("components",))
    assert list(folded) == ["components"] and folded["components"] >= 2
    assert _epoch_dirs("docs") == docs_before  # corpus untouched
    assert len(_epoch_dirs("components")) == 1
    assert _served(spark, base) == before

    with _pytest.raises(ValueError):
        ingest.compact_epochs(spark, base, datasets=("nope",))


def test_component_ingest_auto_label_fold(spark, tmp_path):
    """r14: `compact_labels_every` makes the stream maintain its own label
    state — every N epochs it folds in-loop (under the maintenance lock),
    bounding its file count, and the fold invariant still holds: the
    auto-folding run serves EXACTLY the labels of an unfolded run."""
    import os as _os

    base_a = str(tmp_path / "auto")
    base_b = str(tmp_path / "plain")
    fn_a = ingest.make_component_ingest_batch_fn(
        base_a, compact_labels_every=2, **LSH
    )
    fn_b = ingest.make_component_ingest_batch_fn(base_b, **LSH)
    days = [
        [(1, A), (2, A2), (5, LONER)],
        [(3, B), (4, B2)],
        [(10, A)],
        [(20, BRIDGE)],
    ]
    for ep, rows in enumerate(days):
        fn_a(_mkdf(spark, rows), ep)
        fn_b(_mkdf(spark, rows), ep)

    assert _served(spark, base_a) == _served(spark, base_b)
    comp_dirs = [
        d for d in _os.listdir(f"{base_a}/components") if d.startswith("epoch=")
    ]
    # 4 epochs with folds after 2 and 4: at most the 2 fold targets remain
    assert len(comp_dirs) <= 2
    # docs keep their per-epoch dirs (auto-fold touches label states only)
    assert (
        len([d for d in _os.listdir(f"{base_a}/docs") if d.startswith("epoch=")])
        == 4
    )


def test_crash_midfold_selfheals_on_next_batch(spark, tmp_path):
    """r14 ADVICE (high), end to end: a crash INSIDE the in-loop cadence
    fold — mid-way through the components trash-moves — orphans the
    run-token-stamped maintenance lock with the state's epochs parked in
    .compact_trash. The restarted stream's next batch must steal its own
    orphan, roll the state back, and serve the exact one-shot labeling;
    before the fix the lock suppressed healing and the merge read a
    state missing components.
    """
    import os as _os
    import shutil as _shutil

    import pytest as _pytest

    base = str(tmp_path / "corpus")
    tok = "tok-stream-a"
    fn = ingest.make_component_ingest_batch_fn(
        base, run_token=tok, compact_labels_every=2, **LSH
    )
    days = [[(1, A), (2, A2), (5, LONER)], [(3, B), (4, B2)]]
    fn(_mkdf(spark, days[0]), 0)
    fn(_mkdf(spark, days[1]), 1)  # cadence fold ran here

    # fabricate the mid-fold crash: state epochs moved aside, tmp present,
    # lock orphaned with this stream's token
    root = f"{base}/components"
    trash = f"{root}/.compact_trash"
    _os.makedirs(trash)
    for d in [x for x in _os.listdir(root) if x.startswith("epoch=")]:
        _shutil.move(f"{root}/{d}", f"{trash}/{d}")
    _os.makedirs(f"{root}/.compact_tmp")
    with open(f"{base}/{ingest._MAINT_LOCK}", "w") as f:
        f.write(tok)

    day3 = [(10, A), (20, BRIDGE)]
    with _pytest.warns(RuntimeWarning, match="stealing own orphaned"):
        fn(_mkdf(spark, day3), 2)

    assert not _os.path.exists(f"{base}/{ingest._MAINT_LOCK}")
    assert not _os.path.exists(trash)
    assert not _os.path.exists(f"{root}/.compact_tmp")
    assert _served(spark, base) == _oneshot(spark, days[0] + days[1] + day3)


def test_inloop_fold_defers_on_foreign_lock(spark, tmp_path):
    """r14 ADVICE (medium): a cadence fold that finds the maintenance lock
    held by a FOREIGN owner (concurrent operator op, or an orphan only an
    operator may steal) must WARN and defer — not raise out of
    foreachBatch and kill the streaming query. The batch's own commit
    already happened; the fold re-arms at the next cadence epoch."""
    import os as _os

    import pytest as _pytest

    base = str(tmp_path / "corpus")
    fn = ingest.make_component_ingest_batch_fn(
        base, run_token="tok-a", compact_labels_every=2, **LSH
    )
    fn(_mkdf(spark, [(1, A), (2, A2), (5, LONER)]), 0)
    # foreign (unstamped operator) lock present when epoch 1's fold fires
    lock = f"{base}/{ingest._MAINT_LOCK}"
    open(lock, "w").close()
    with _pytest.warns(RuntimeWarning, match="cadence label fold deferred"):
        fn(_mkdf(spark, [(3, B), (4, B2)]), 1)
    assert _os.path.exists(lock)  # foreign lock untouched
    # batch itself committed; labels served correctly despite the deferral
    assert _served(spark, base) == _oneshot(
        spark, [(1, A), (2, A2), (5, LONER), (3, B), (4, B2)]
    )
    comp_dirs = [
        d for d in _os.listdir(f"{base}/components") if d.startswith("epoch=")
    ]
    assert len(comp_dirs) == 2  # fold deferred: nothing folded

    _os.remove(lock)
    fn(_mkdf(spark, [(10, A)]), 2)
    fn(_mkdf(spark, [(20, BRIDGE)]), 3)  # next cadence: fold succeeds
    assert _served(spark, base) == _oneshot(
        spark,
        [(1, A), (2, A2), (5, LONER), (3, B), (4, B2), (10, A), (20, BRIDGE)],
    )
    comp_dirs = [
        d for d in _os.listdir(f"{base}/components") if d.startswith("epoch=")
    ]
    assert len(comp_dirs) == 1  # the re-armed fold caught up


def test_old_base_with_label_twin_keeps_working(spark, tmp_path):
    """The label twin is made by hand, as the two-copy writer left it:
    each committed label epoch re-sorted on component under
    components_by_label/epoch=N, and a "complete" _TWIN_SINCE marker.
    Ingest, purge and full compaction then run on that base and on a
    fresh one; served labels stay identical at every step, and nothing
    reads or rewrites the leftover dir."""
    import os as _os

    old = str(tmp_path / "old")
    fresh = str(tmp_path / "fresh")
    fn_old = ingest.make_component_ingest_batch_fn(old, **LSH)
    fn_fresh = ingest.make_component_ingest_batch_fn(fresh, **LSH)
    days = [
        [(1, A), (2, A2), (5, LONER)],
        [(3, B), (4, B2)],
        [(10, A)],
        [(20, BRIDGE)],
    ]
    for ep, rows in enumerate(days[:2]):
        fn_old(_mkdf(spark, rows), ep)
        fn_fresh(_mkdf(spark, rows), ep)

    twin = f"{old}/components_by_label"
    for ep in range(2):
        spark.read.parquet(f"{old}/components/epoch={ep}").repartitionByRange(
            "component"
        ).sortWithinPartitions("component").write.parquet(f"{twin}/epoch={ep}")
    with open(f"{twin}/_TWIN_SINCE", "w") as f:
        f.write("complete")
    leftover = sorted((d, sorted(fs)) for d, _, fs in _os.walk(twin))

    for ep, rows in enumerate(days[2:], start=2):
        fn_old(_mkdf(spark, rows), ep)
        fn_fresh(_mkdf(spark, rows), ep)
        assert _served(spark, old) == _served(spark, fresh)
    assert _served(spark, old) == _oneshot(spark, [r for d in days for r in d])

    purged = ingest.purge_ids(spark, old, [2])
    assert purged == ingest.purge_ids(spark, fresh, [2])
    assert _served(spark, old) == _served(spark, fresh)

    folded = ingest.compact_epochs(spark, old)
    assert folded == ingest.compact_epochs(spark, fresh)
    assert folded["components"] >= 2
    assert _served(spark, old) == _served(spark, fresh)

    fn_old(_mkdf(spark, [(30, B)]), 4)
    fn_fresh(_mkdf(spark, [(30, B)]), 4)
    assert _served(spark, old) == _served(spark, fresh)
    assert sorted((d, sorted(fs)) for d, _, fs in _os.walk(twin)) == leftover
