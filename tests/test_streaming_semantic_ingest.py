"""Semantic-dedup-gated EMBEDDING stream ingestion (streaming/ingest.py):
within-batch sign-sketch-cell dedup, cross-corpus probe of the persisted
(cell, id, vector) index, per-epoch idempotent appends — the vector twin
of the text ingestion suite."""

from __future__ import annotations

import math

from pyspark.sql import Row

from healthcare_rcm_etl_pipeline_spark.streaming import ingest

DIM = 64


def _vec(axis: int, jitter: float = 0.0, jitter_axis: int = 1) -> list[float]:
    v = [0.0] * DIM
    v[axis] = 1.0
    if jitter:
        v[jitter_axis] = jitter
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def _write_vecs(spark, path, rows):
    spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in rows],
        "vec_id long, embedding array<double>",
    ).coalesce(1).write.mode("append").parquet(path)


def _run_once(spark, src, base, ckpt):
    stream = spark.readStream.schema("vec_id long, embedding array<double>").parquet(src)
    q = ingest.ingest_stream(
        ingest.make_semantic_ingest_batch_fn, stream, ckpt, base, threshold=0.9
    )
    q.awaitTermination(120)
    return q


def _ids(spark, base):
    return sorted(
        r.vec_id for r in ingest.read_vectors(spark, base).select("vec_id").collect()
    )


def test_semantic_gated_ingestion_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    base = str(tmp_path / "vbase")
    ckpt = str(tmp_path / "vckpt")

    # epoch 1: 2 is an exact copy of 1, 3 is a near-dup (cos ~0.995),
    # 4 points along a different axis
    _write_vecs(
        spark,
        src,
        [
            (1, _vec(0)),
            (2, _vec(0)),
            (3, _vec(0, jitter=0.1)),
            (4, _vec(7)),
        ],
    )
    _run_once(spark, src, base, ckpt)
    assert _ids(spark, base) == [1, 4]

    # epoch 2: 10 duplicates corpus vector 1 (dropped cross-corpus),
    # 11 is new, 12 near-dups 11 within the batch
    _write_vecs(
        spark,
        src,
        [(10, _vec(0)), (11, _vec(20)), (12, _vec(20, jitter=0.05, jitter_axis=21))],
    )
    _run_once(spark, src, base, ckpt)
    assert _ids(spark, base) == [1, 4, 11]

    # epoch 3: replay with nothing new — unchanged
    _run_once(spark, src, base, ckpt)
    assert _ids(spark, base) == [1, 4, 11]

    # survivors carry their cell for index probing
    cols = set(ingest.read_vectors(spark, base).columns)
    assert cols == {"vec_id", "cell", "embedding"}


def test_semantic_orthogonal_vectors_all_kept(spark, tmp_path):
    src = str(tmp_path / "src")
    base = str(tmp_path / "vbase")
    ckpt = str(tmp_path / "vckpt")
    _write_vecs(spark, src, [(i, _vec(i)) for i in range(6)])
    _run_once(spark, src, base, ckpt)
    assert _ids(spark, base) == [0, 1, 2, 3, 4, 5]


def test_semantic_fresh_checkpoint_rebinds(spark, tmp_path):
    import shutil

    src = str(tmp_path / "src")
    base = str(tmp_path / "vbase")
    ckpt = str(tmp_path / "vckpt")
    _write_vecs(spark, src, [(1, _vec(0))])
    _run_once(spark, src, base, ckpt)
    assert _ids(spark, base) == [1]

    # fresh checkpoint + fresh source against the EXISTING base: epoch ids
    # restart at 0 but the run token rebinds — the batch must not be
    # silently skipped as a replay, and cross-corpus dedup still applies
    shutil.rmtree(ckpt)
    src2 = str(tmp_path / "src2")
    _write_vecs(spark, src2, [(30, _vec(0)), (31, _vec(40))])
    stream = spark.readStream.schema("vec_id long, embedding array<double>").parquet(src2)
    q = ingest.ingest_stream(
        ingest.make_semantic_ingest_batch_fn, stream, str(tmp_path / "vckpt2"), base,
        threshold=0.9,
    )
    q.awaitTermination(120)
    assert _ids(spark, base) == [1, 31]


def test_semantic_literal_prune_fallback_is_equivalent(spark, tmp_path, monkeypatch):
    """Both branches of the vector-index cell prune must ingest
    identically: with the literal bound forced to 0 every batch takes the
    broadcast-semi-join fallback (the guard against a huge micro-batch
    inlining thousands of cell literals — round-11 ADVICE), and the
    resulting survivor set must equal the literal-pruned run's."""

    def _df(rows):
        return spark.createDataFrame(
            [Row(vec_id=i, embedding=v) for i, v in rows],
            "vec_id long, embedding array<double>",
        )

    rows1 = [(1, _vec(0)), (4, _vec(7))]
    rows2 = [(10, _vec(0)), (11, _vec(20)), (12, _vec(20, jitter=0.05, jitter_axis=21))]

    def run(base):
        fn = ingest.make_semantic_ingest_batch_fn(base, threshold=0.9)
        fn(_df(rows1), 0)
        fn(_df(rows2), 1)
        return _ids(spark, base)

    literal = run(str(tmp_path / "lit"))
    monkeypatch.setattr(ingest, "_PROBE_LITERAL_MAX", 0)
    fallback = run(str(tmp_path / "fb"))
    assert literal == fallback == [1, 4, 11]
