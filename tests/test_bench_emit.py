"""The bench stdout contract: ONE JSON line, <= 1900 chars (driver keeps the
last 2000 chars of output), with the per-query map PRESENT. Through r15 the
emit path popped `queries` whenever the line outgrew the window, leaving the
driver per-query blind (PERF_r15 per_query empty — VERDICT r15 item 3)."""

from __future__ import annotations

import json
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def _fake_out(n_extra: float = 0.0) -> dict:
    timings = {name: round(1.234 + n_extra, 3) for name in bench.HEADLINE}
    timings["streaming_ingest_batch"] = 5.241
    timings["semantic_ingest_batch"] = 2.02
    timings["ann_topk_pq"] = 1.582
    timings["ann_topk_ivf_pq"] = 3.634
    return {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
        "sentinel": {
            "before_sec": 0.115,
            "after_sec": 0.099,
            "drift": 0.86,
            "contended": False,
            "vs_prev_round": 1.0,
            "env_shifted": False,
        },
        "detail": "BENCH_DETAIL.json",
        "materialize": "noop-write",
        "deltas_vs": "r15",
        "comparable_total": 124.455,
    }


def test_stdout_line_fits_and_keeps_queries():
    line = bench._render_stdout_line(_fake_out())
    assert len(line) <= 1900, len(line)
    doc = json.loads(line)
    # contract keys
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert k in doc, k
    # every benched path present under its full (unrenamed) name
    assert set(bench.HEADLINE) <= set(doc["queries"])
    for extra in ("streaming_ingest_batch", "semantic_ingest_batch",
                  "ann_topk_pq", "ann_topk_ivf_pq"):
        assert extra in doc["queries"]
    # values stay seconds (2 dp floor), not centiseconds or other units
    assert abs(doc["queries"]["streaming_ingest_batch"] - 5.24) < 0.011


def test_stdout_line_degrades_before_dropping_queries():
    # even with every query 10x slower (3 extra digits each) the map survives
    line = bench._render_stdout_line(_fake_out(n_extra=100.0))
    doc = json.loads(line)
    assert len(line) <= 1900, len(line)
    assert set(bench.HEADLINE) <= set(doc.get("queries", {}))


def test_small_line_is_passed_through_verbatim():
    out = {"metric": "m", "value": 1.0, "unit": "sec", "queries": {"a": 0.5}, "sf": 0.1}
    assert json.loads(bench._render_stdout_line(out)) == out


def test_long_line_without_queries_gets_no_queries_key():
    # too long with the default separators, short enough once compacted:
    # the degrade steps touch `queries` only when the input carries it
    out = {f"k{i:03d}": 1 for i in range(200)}
    assert len(json.dumps(out)) > 1900
    assert json.loads(bench._render_stdout_line(out)) == out


def test_detail_path_is_never_the_tracked_artifact(monkeypatch, tmp_path):
    # a plain run writes a git-ignored file, never the tracked BENCH_DETAIL.json
    import subprocess

    here = os.path.dirname(os.path.abspath(bench.__file__))
    monkeypatch.delenv("BENCH_DETAIL_PATH", raising=False)
    default = bench._detail_path()
    assert default != os.path.join(here, "BENCH_DETAIL.json")
    assert subprocess.run(["git", "-C", here, "check-ignore", "-q", default]).returncode == 0
    # $BENCH_DETAIL_PATH wins
    monkeypatch.setenv("BENCH_DETAIL_PATH", str(tmp_path / "run.json"))
    assert bench._detail_path() == str(tmp_path / "run.json")


def test_streaming_ingest_reports_step_medians(monkeypatch):
    # the ingest bench copies each batch's last_steps into per-step medians;
    # Spark, the reader and the batch fn are stand-ins
    from healthcare_rcm_etl_pipeline_spark.sources import readers
    from healthcare_rcm_etl_pipeline_spark.streaming import ingest

    class Frame:
        doc_id = 0

        def select(self, *cols):
            return self

        def filter(self, cond):
            return self

        def count(self):
            return 4

    def make_fn(base):
        seconds = iter([{"resolve": 0.1, "write": 1.0},
                        {"resolve": 0.3, "write": 2.0, "fold": 5.0},
                        {"resolve": 0.2, "write": 4.0}])

        def fn(batch, epoch):
            fn.last_steps = next(seconds)

        return fn

    monkeypatch.setattr(readers, "load_table", lambda spark, sf_dir, name: Frame())
    monkeypatch.setattr(ingest, "make_dedup_ingest_batch_fn", make_fn)
    monkeypatch.setattr(ingest, "read_band_index", lambda spark, base: Frame())
    stats = bench._bench_streaming_ingest(None, "unused", n_batches=3)
    assert stats["step_median_sec"] == {"resolve": 0.2, "write": 2.0, "fold": 5.0}
