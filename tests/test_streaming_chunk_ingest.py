"""Chunk-dedup-rewriting streaming ingestion (streaming/ingest.py:
make_chunk_ingest_batch_fn): each micro-batch is rewritten against the
accumulated keeper-chunk state before landing. The invariant under test is
the one the batch oracle pins for the underlying op: an ascending-doc_id
file-stream fold must equal chunk_dedup_rewrite over the full corpus,
hash-exactly — plus the epoch-replay gate and the GDPR purge semantics of
the keeper-provenance chunk state."""

from __future__ import annotations

from pyspark.sql import Row

from healthcare_rcm_etl_pipeline_spark.operators.corpus import chunk_dedup_rewrite
from healthcare_rcm_etl_pipeline_spark.streaming import ingest

C1 = " ".join(f"a{i}" for i in range(15))
C2 = " ".join(f"b{i}" for i in range(15))
C3 = " ".join(f"c{i}" for i in range(15))
C4 = " ".join(f"d{i}" for i in range(15))


def _write_docs(spark, path, rows):
    spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows]).coalesce(
        1
    ).write.mode("append").parquet(path)


def _run_once(spark, src, base, ckpt):
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = ingest.ingest_stream(ingest.make_chunk_ingest_batch_fn, stream, ckpt, base)
    q.awaitTermination(120)


def _ingested(spark, base):
    return sorted(
        tuple(r)
        for r in ingest.read_corpus(spark, base)
        .select("doc_id", "n_chunks", "n_kept", "clean_text")
        .collect()
    )


def _batch_rewrite(spark, rows):
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])
    return sorted(tuple(r) for r in chunk_dedup_rewrite(df, "text", "doc_id").collect())


def test_chunk_ingest_equals_batch_rewrite(spark, tmp_path):
    """Three days of ascending-id arrivals through the real file stream:
    after every availableNow run the ingested corpus must equal the
    one-shot batch rewrite of everything that has arrived so far."""
    src = str(tmp_path / "src")
    base = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    day1 = [(1, f"{C1} {C2}"), (2, f"{C2} {C3}")]
    _write_docs(spark, src, day1)
    _run_once(spark, src, base, ckpt)
    assert _ingested(spark, base) == _batch_rewrite(spark, day1)

    # day 2: cross-corpus duplicated chunk (C1 claimed by doc 1) cut;
    # fresh chunk C4 kept
    day2 = [(10, f"{C1} {C4}")]
    _write_docs(spark, src, day2)
    _run_once(spark, src, base, ckpt)
    assert _ingested(spark, base) == _batch_rewrite(spark, day1 + day2)

    # day 3: nothing new arrived — a re-run must change nothing
    _run_once(spark, src, base, ckpt)
    assert _ingested(spark, base) == _batch_rewrite(spark, day1 + day2)

    state = ingest.read_chunk_state(spark, base)
    assert sorted(tuple(r) for r in state.collect()) == [
        (C1, 1),
        (C2, 1),
        (C3, 2),
        (C4, 10),
    ]


def test_chunk_replayed_epoch_is_skipped(spark, tmp_path):
    """foreachBatch replay: re-applying an already-committed epoch (even
    with different content) must be a no-op — the _resolve_epoch gate."""
    base = str(tmp_path / "corpus")
    fn = ingest.make_chunk_ingest_batch_fn(base)
    fn(spark.createDataFrame([Row(doc_id=1, text=C1)]), 0)
    before = _ingested(spark, base)
    fn(spark.createDataFrame([Row(doc_id=9, text=C4)]), 0)
    assert _ingested(spark, base) == before
    fn(spark.createDataFrame([Row(doc_id=9, text=C4)]), 1)
    assert len(_ingested(spark, base)) == 2


def test_chunk_replay_of_partial_commit_keeps_batch(spark, tmp_path):
    """Epoch N wrote its chunk-state files but died before the marker
    advanced: the replay must not probe its own ghost rows (every batch
    chunk would anti-join away against itself)."""
    base = str(tmp_path / "corpus")
    fn = ingest.make_chunk_ingest_batch_fn(base)
    fn(spark.createDataFrame([Row(doc_id=1, text=C1)]), 0)

    ghost = spark.createDataFrame([Row(chunk=C4, keeper_doc=5)])
    ghost.write.parquet(f"{base}/chunks/epoch=1")
    spark.createDataFrame(
        [Row(doc_id=5, n_chunks=1, n_kept=1, clean_text=C4)]
    ).write.parquet(f"{base}/docs/epoch=1")
    assert ingest._read_epoch(spark, base) == 0

    fn(spark.createDataFrame([Row(doc_id=5, text=C4)]), 1)
    rows = {r.doc_id: r.n_kept for r in ingest.read_corpus(spark, base).collect()}
    assert rows == {1: 1, 5: 1}  # doc 5 survived its own ghost
    assert ingest._read_epoch(spark, base) == 1


def test_purge_forgets_claimed_chunk_texts(spark, tmp_path):
    """purge_ids on a chunk-dedup base removes the purged doc's rows AND
    the chunk-state rows it claimed (the state stores the doc's TEXT); a
    later arrival of the same text re-claims it instead of being cut
    against forgotten content."""
    base = str(tmp_path / "corpus")
    fn = ingest.make_chunk_ingest_batch_fn(base)
    fn(spark.createDataFrame([Row(doc_id=1, text=f"{C1} {C2}")]), 0)
    fn(spark.createDataFrame([Row(doc_id=2, text=f"{C2} {C3}")]), 1)

    out = ingest.purge_ids(spark, base, [1])
    assert out["docs"] == 1 and out["chunks"] == 1
    assert [r.doc_id for r in ingest.read_corpus(spark, base).collect()] == [2]
    state = {(r.chunk, r.keeper_doc) for r in ingest.read_chunk_state(spark, base).collect()}
    assert state == {(C3, 2)}  # C1/C2 (claimed by doc 1) forgotten with it

    # the same text arriving later re-claims the forgotten chunks
    fn(spark.createDataFrame([Row(doc_id=20, text=f"{C1} {C2}")]), 2)
    state = {(r.chunk, r.keeper_doc) for r in ingest.read_chunk_state(spark, base).collect()}
    assert state == {(C3, 2), (C1, 20), (C2, 20)}
