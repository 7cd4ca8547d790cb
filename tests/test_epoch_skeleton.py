"""The exactly-once epoch skeleton every streaming ingest family runs on
(streaming/ingest.py ``_epoch_batch_fn``), pinned once over all five
families on tiny inline frames: re-applying a committed epoch id changes
nothing, a new run token against an existing base commits at the next
physical epoch, and every family reports the same per-step timings."""

from __future__ import annotations

import os

import pytest

from healthcare_rcm_etl_pipeline_spark.streaming import ingest

TEXT = "doc_id long, text string"
VECS = "vec_id long, embedding array<double>"
ROWS = "id long, name string, nation int, seg string"
A = " ".join(f"w{i}" for i in range(30))
B = " ".join(f"x{i}" for i in range(25))
C = " ".join(f"y{i}" for i in range(28))
STEPS = {"resolve", "heal", "delta", "write", "commit"}


def _vec(axis: int) -> list[float]:
    return [1.0 if i == axis else 0.0 for i in range(64)]


# family -> (batch fn factory, schema, epoch-0 rows, next rows, first dataset)
FAMILIES = {
    "dedup": (
        ingest.make_dedup_ingest_batch_fn,
        TEXT, [(1, A), (2, A), (3, B)], [(10, C)], "docs",
    ),
    "semantic": (
        ingest.make_semantic_ingest_batch_fn,
        VECS, [(1, _vec(0)), (2, _vec(40))], [(10, _vec(20))], "vectors",
    ),
    "chunk": (
        ingest.make_chunk_ingest_batch_fn,
        TEXT, [(1, f"{A} {B}"), (2, B)], [(10, f"{B} {C}")], "docs",
    ),
    "component": (
        ingest.make_component_ingest_batch_fn,
        TEXT, [(1, A), (2, A + " extra"), (3, B)], [(10, C), (11, A)], "docs",
    ),
    "entity": (
        lambda base, **kw: ingest.make_entity_ingest_batch_fn(
            base, "name", "id", agree_cols=["nation", "seg"], **kw
        ),
        ROWS,
        [(1, "john smith", 1, "A"), (2, "john smyth", 1, "A"), (3, "alice", 2, "A")],
        [(10, "john smitt", 1, "A")],
        "rows",
    ),
}


def _snapshot(base: str) -> dict[str, tuple[int, int]]:
    """Every file under the base with its size and mtime."""
    out = {}
    for root, _, files in os.walk(base):
        for f in files:
            path = os.path.join(root, f)
            st = os.stat(path)
            out[os.path.relpath(path, base)] = (st.st_size, st.st_mtime_ns)
    return out


def _job_labels(spark, first_job: int) -> tuple[int, set]:
    """(next job id, descriptions of the Spark jobs numbered >= first_job),
    once the status store has seen every job event posted so far."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    jobs = jsc.statusStore().jobsList(None)
    nxt, labels = 0, set()
    for i in range(jobs.size()):
        job = jobs.apply(i)
        nxt = max(nxt, job.jobId() + 1)
        if job.jobId() >= first_job:
            d = job.description()
            labels.add(d.get() if d.isDefined() else None)
    return nxt, labels


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_epoch_protocol_per_family(spark, tmp_path, family):
    make, schema, rows0, rows1, first = FAMILIES[family]
    base = str(tmp_path / "base")
    sc = spark.sparkContext
    sc.setJobDescription("outer")
    try:
        fn = make(base, run_token="tok-a")
        first_job, _ = _job_labels(spark, 0)
        fn(spark.createDataFrame(rows0, schema), 0)
        # every Spark job of the batch carries its step's label
        labels = _job_labels(spark, first_job)[1]
        assert f"ingest.{family}.write" in labels
        assert all(lb and lb.startswith(f"ingest.{family}.") for lb in labels), labels
        # (c) every family times the same skeleton steps, and the caller's
        # job description survives the per-step labels
        assert set(fn.last_steps) == STEPS
        assert all(s >= 0 for s in fn.last_steps.values())
        assert sc.getLocalProperty("spark.job.description") == "outer"
        assert ingest._read_marker(spark, base) == ("tok-a", 0, 0)
        committed = _snapshot(base)

        # (a) a replay of the committed epoch id, even with other content,
        # is a no-op: same files, same marker, nothing past resolve
        fn(spark.createDataFrame(rows1, schema), 0)
        assert _snapshot(base) == committed
        assert ingest._read_marker(spark, base) == ("tok-a", 0, 0)
        assert set(fn.last_steps) == {"resolve"}

        # (b) a new run token (fresh checkpoint) restarts epoch ids at 0
        # but rebinds to the next physical epoch instead of skipping
        fn2 = make(base, run_token="tok-b")
        fn2(spark.createDataFrame(rows1, schema), 0)
        assert ingest._read_marker(spark, base) == ("tok-b", 1, 1)
        assert os.path.isdir(f"{base}/{first}/epoch=1")
        assert set(fn2.last_steps) == STEPS
    finally:
        sc.setLocalProperty("spark.job.description", None)
