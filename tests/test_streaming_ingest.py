"""Near-dup-gated streaming corpus ingestion (streaming/ingest.py):
within-batch exact + LSH dedup, cross-corpus probe of the persisted band
index, per-epoch idempotent appends. Drives a real file-source stream with
availableNow triggers across three 'days' of arrivals."""

from __future__ import annotations

from pyspark.sql import Row

from healthcare_rcm_etl_pipeline_spark.streaming import ingest

LONG_A = " ".join(f"w{i}" for i in range(30))
LONG_B = " ".join(f"x{i}" for i in range(25))
LONG_C = " ".join(f"y{i}" for i in range(28))


def _write_docs(spark, path, rows):
    spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows]).coalesce(
        1
    ).write.mode("append").parquet(path)


def _run_once(spark, src, base, ckpt):
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = ingest.ingest_stream(ingest.make_dedup_ingest_batch_fn, stream, ckpt, base)
    q.awaitTermination(120)
    return q


def _corpus_ids(spark, base):
    return sorted(
        r.doc_id for r in ingest.read_corpus(spark, base).select("doc_id").collect()
    )


def test_gated_ingestion_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    base = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    # day 1: exact dup (2), near dup of 1 (3), one genuinely new doc (4)
    _write_docs(
        spark,
        src,
        [(1, LONG_A), (2, LONG_A), (3, LONG_A + " extra"), (4, LONG_B)],
    )
    _run_once(spark, src, base, ckpt)
    assert _corpus_ids(spark, base) == [1, 4]
    idx = ingest.read_band_index(spark, base)
    assert {r.doc for r in idx.select("doc").distinct().collect()} == {1, 4}

    # day 2: cross-corpus near dup (10 ~ 1) dropped, new doc kept (11),
    # within-batch exact dup of the new doc (12) dropped
    _write_docs(spark, src, [(10, LONG_A), (11, LONG_C), (12, LONG_C)])
    _run_once(spark, src, base, ckpt)
    assert _corpus_ids(spark, base) == [1, 4, 11]
    idx = ingest.read_band_index(spark, base)
    assert {r.doc for r in idx.select("doc").distinct().collect()} == {1, 4, 11}

    # day 3: nothing new arrived — a re-run must change nothing
    _run_once(spark, src, base, ckpt)
    assert _corpus_ids(spark, base) == [1, 4, 11]


def test_replayed_epoch_is_skipped(spark, tmp_path):
    """Simulate foreachBatch replay: applying the same epoch twice must be
    a no-op the second time (marker gate), and re-applying a LOWER epoch
    must also be skipped."""
    base = str(tmp_path / "corpus")
    fn = ingest.make_dedup_ingest_batch_fn(base)
    b1 = spark.createDataFrame([Row(doc_id=1, text=LONG_A), Row(doc_id=2, text=LONG_B)])
    fn(b1, 0)
    assert _corpus_ids(spark, base) == [1, 2]
    # replay epoch 0 with DIFFERENT content: must be ignored entirely
    fn(spark.createDataFrame([Row(doc_id=9, text=LONG_C)]), 0)
    assert _corpus_ids(spark, base) == [1, 2]
    # next epoch applies normally
    fn(spark.createDataFrame([Row(doc_id=9, text=LONG_C)]), 1)
    assert _corpus_ids(spark, base) == [1, 2, 9]


def test_replay_of_partially_committed_epoch_keeps_batch(spark, tmp_path):
    """Crash-window regression: epoch N wrote its files but died before the
    marker advanced. The replay must NOT see those ghost files as corpus —
    otherwise the batch collides with its own partial write at jaccard 1.0
    and the anti-join silently drops every doc."""
    from healthcare_rcm_etl_pipeline_spark.operators import dedup

    base = str(tmp_path / "corpus")
    fn = ingest.make_dedup_ingest_batch_fn(base)
    fn(spark.createDataFrame([Row(doc_id=1, text=LONG_A)]), 0)

    # simulate the partial commit of epoch 1: files on disk, marker still 0
    ghost = spark.createDataFrame([Row(doc_id=5, text=LONG_B)])
    ghost.write.parquet(f"{base}/docs/epoch=1")
    dedup.minhash_band_table(ghost, "text", "doc_id").write.parquet(
        f"{base}/bands/epoch=1"
    )
    assert ingest._read_epoch(spark, base) == 0

    # replay epoch 1 with the same content: doc 5 must survive
    fn(spark.createDataFrame([Row(doc_id=5, text=LONG_B)]), 1)
    assert _corpus_ids(spark, base) == [1, 5]
    assert ingest._read_epoch(spark, base) == 1


def test_fresh_checkpoint_rebinds_instead_of_dropping(spark, tmp_path):
    """A FRESH checkpoint dir against an existing base restarts stream
    epoch ids at 0; the run-token marker must REBIND (continue at the next
    physical epoch) rather than misread epoch 0 as an already-applied
    replay and silently drop every new batch."""
    src1 = str(tmp_path / "src1")
    src2 = str(tmp_path / "src2")
    base = str(tmp_path / "corpus")

    _write_docs(spark, src1, [(1, LONG_A), (2, LONG_B)])
    _run_once(spark, src1, base, str(tmp_path / "ckpt1"))
    assert _corpus_ids(spark, base) == [1, 2]
    assert ingest._read_epoch(spark, base) == 0

    # new checkpoint, new source: epoch_id restarts at 0 but data must land
    _write_docs(spark, src2, [(10, LONG_C), (11, LONG_A)])  # 11 ~ corpus 1
    _run_once(spark, src2, base, str(tmp_path / "ckpt2"))
    assert _corpus_ids(spark, base) == [1, 2, 10]  # 10 in, near-dup 11 out
    assert ingest._read_epoch(spark, base) == 1  # rebound to next physical

    # replay WITHIN the rebound run (same token, same epoch) still skips
    tok = ingest.checkpoint_run_token(spark, str(tmp_path / "ckpt2"))
    fn = ingest.make_dedup_ingest_batch_fn(base, run_token=tok)
    fn(spark.createDataFrame([Row(doc_id=99, text=LONG_C + " zz")]), 0)
    assert _corpus_ids(spark, base) == [1, 2, 10]


def test_purge_ids_removes_docs_and_band_rows(spark, tmp_path):
    src = str(tmp_path / "src")
    base = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    _write_docs(spark, src, [(1, LONG_A), (4, LONG_B)])
    _run_once(spark, src, base, ckpt)
    _write_docs(spark, src, [(11, LONG_C)])
    _run_once(spark, src, base, ckpt)
    assert _corpus_ids(spark, base) == [1, 4, 11]

    got = ingest.purge_ids(spark, base, [4, 999])
    # doc 4 lives in epoch 0 only; epoch 1 untouched; 999 unknown -> no-op
    assert got == {"docs": 1, "bands": 1}
    assert _corpus_ids(spark, base) == [1, 11]
    idx = ingest.read_band_index(spark, base)
    assert {r.doc for r in idx.select("doc").distinct().collect()} == {1, 11}

    # purge is re-runnable (idempotent) and ingestion continues after it
    assert ingest.purge_ids(spark, base, [4]) == {"docs": 0, "bands": 0}
    _write_docs(spark, src, [(20, LONG_B + " tail tail")])
    _run_once(spark, src, base, ckpt)
    assert _corpus_ids(spark, base) == [1, 11, 20]


def test_purged_doc_can_be_reingested(spark, tmp_path):
    # after a purge the corpus must treat the content as new again —
    # the index rows are gone, so nothing blocks re-ingestion
    src = str(tmp_path / "src")
    base = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    _write_docs(spark, src, [(1, LONG_A)])
    _run_once(spark, src, base, ckpt)
    ingest.purge_ids(spark, base, [1])
    assert ingest.read_corpus(spark, base).count() == 0
    _write_docs(spark, src, [(2, LONG_A)])
    _run_once(spark, src, base, ckpt)
    assert _corpus_ids(spark, base) == [2]


def test_compact_epochs_folds_committed_partitions(spark, tmp_path):
    import os

    src = str(tmp_path / "src")
    base = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    _write_docs(spark, src, [(1, LONG_A)])
    _run_once(spark, src, base, ckpt)
    _write_docs(spark, src, [(11, LONG_B)])
    _run_once(spark, src, base, ckpt)
    _write_docs(spark, src, [(21, LONG_C)])
    _run_once(spark, src, base, ckpt)
    assert _corpus_ids(spark, base) == [1, 11, 21]
    assert len(os.listdir(f"{base}/docs")) >= 3

    got = ingest.compact_epochs(spark, base)
    assert got == {"docs": 3, "bands": 3}
    # one partition left, content identical, marker untouched
    assert [d for d in os.listdir(f"{base}/docs") if d.startswith("epoch=")] == ["epoch=2"]
    assert _corpus_ids(spark, base) == [1, 11, 21]
    assert ingest._read_epoch(spark, base) == 2

    # re-run is a no-op; ingestion (incl. cross-corpus dedup) continues
    assert ingest.compact_epochs(spark, base) == {"docs": 0, "bands": 0}
    fresh = " ".join(f"z{i}" for i in range(26))
    _write_docs(spark, src, [(30, LONG_A), (31, fresh)])
    _run_once(spark, src, base, ckpt)
    # 30 near-dups compacted corpus doc 1 (dropped); 31 is genuinely new
    assert _corpus_ids(spark, base) == [1, 11, 21, 31]


def test_tiered_compaction_folds_only_small_epochs(spark, tmp_path):
    """Size-tiered compaction (small_bytes=N): only epoch dirs at or below
    the threshold fold — into the highest folded epoch — while a large
    compacted partition is never rewritten again. This bounds each
    maintenance run's write cost by the small-dir total instead of the
    corpus (the full fold is O(corpus) per run)."""
    import os

    base = str(tmp_path / "corpus")
    fn = ingest.make_dedup_ingest_batch_fn(base)
    fn(spark.createDataFrame([Row(doc_id=1, text=LONG_A)]), 0)  # tiny epoch 0
    big = [
        Row(doc_id=1000 + i, text=" ".join(f"u{i}t{j}" for j in range(25)))
        for i in range(3000)
    ]
    fn(spark.createDataFrame(big), 1)  # large epoch 1
    fn(spark.createDataFrame([Row(doc_id=5000, text=LONG_B)]), 2)  # tiny epoch 2
    n_before = ingest.read_corpus(spark, base).count()
    assert n_before == 3002

    got = ingest.compact_epochs(spark, base, small_bytes=20_000)
    # the two tiny dirs folded into epoch=2; the big epoch 1 untouched
    assert got["docs"] == 2
    assert sorted(
        d for d in os.listdir(f"{base}/docs") if d.startswith("epoch=")
    ) == ["epoch=1", "epoch=2"]
    assert ingest.read_corpus(spark, base).count() == n_before
    assert sorted(
        r.doc_id
        for r in ingest.read_corpus(spark, base)
        .filter("doc_id in (1, 5000)")
        .collect()
    ) == [1, 5000]
    assert ingest._read_epoch(spark, base) == 2  # marker untouched

    # re-run: the folded tiny pair is now ONE small dir -> nothing to fold
    assert ingest.compact_epochs(spark, base, small_bytes=20_000) == {
        "docs": 0,
        "bands": 0,
    }

    # ingestion (incl. cross-corpus dedup against folded rows) continues
    fn(
        spark.createDataFrame(
            [Row(doc_id=9000, text=LONG_A), Row(doc_id=9001, text=LONG_C)]
        ),
        3,
    )
    ids = {
        r.doc_id
        for r in ingest.read_corpus(spark, base)
        .filter("doc_id >= 9000")
        .collect()
    }
    assert ids == {9001}  # 9000 near-dups folded doc 1 -> dropped
