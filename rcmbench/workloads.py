"""The benchmark's workloads and the per-layer metrics of a traced run.

Both workloads are a fresh Spark application doing one job, the way a
nightly batch or a corpus job runs in production:

- ``setup()`` generates the inputs (three times; the median is the
  generation part of ``setup_s``);
- ``round()`` runs one fixed round of work, starting in the fresh session,
  and returns its ops (``(name, seconds)``, the first being the cold op) and
  its wall time;
- ``finish()`` runs the remaining output checks and returns the failed ones
  plus report fields.

Checks never run inside a timed op.
"""

from __future__ import annotations

import contextlib
import statistics
import time
from collections import defaultdict

from rcmbench.corpus import Corpus
from rcmbench.counters import plan_phases_ms, tree_bytes
from rcmbench.hospital import Hospital

GENERATIONS = 3


class Workload:
    max_rounds = 1_000

    def __init__(self, spark, work: str, seed: int, size: dict, tracer):
        self.spark, self.work, self.seed, self.size = spark, work, seed, size
        self.tracer = tracer
        self.failed_ops = 0
        self.fails: list[str] = []
        self.bytes_in = self.bytes_out = 0  # input consumed / bytes written, timed region
        self.checks_s = 0.0
        self._phases: dict[str, float] = defaultdict(float)

    def setup(self) -> float:
        """Generate the inputs GENERATIONS times; median seconds."""
        took = []
        for _ in range(GENERATIONS):
            t0 = time.perf_counter()
            self.prepare()
            took.append(time.perf_counter() - t0)
        return statistics.median(took)

    def span(self, name: str, layer: str):
        return self.tracer.span(name, layer) if self.tracer else contextlib.nullcontext()

    def _on_query(self, df) -> None:
        """Traced runs: add the Catalyst phases of a query we hold."""
        if self.tracer:
            for phase, ms in plan_phases_ms(df).items():
                self._phases[phase] += ms / 1000.0

    def take_phases(self) -> dict[str, float]:
        out, self._phases = dict(self._phases), defaultdict(float)
        return out


class EtlNightly(Workload):
    """One night of the paper's lifecycle: the SCD2 change run against the
    staging the previous night left, then the morning dashboard (hq1-hq11,
    each through the DataFrame API or its SQL text) over the star that
    night staged."""

    def prepare(self) -> None:
        self.h = Hospital(self.spark, self.work, self.seed, self.size["scale"])
        self.h.prepare()
        self.input_bytes = self.h.input_bytes
        self.nights = 0

    def round(self) -> dict:
        if self.nights:  # a later round is the next night
            self.h.src.advance()
            self.input_bytes = self.h.input_bytes = self.h.src.write(self.h.root)
        self.nights += 1
        start = time.time()
        read0 = self.tracer.counters.executor_totals() if self.tracer else None
        night = self.h.run_night()
        # input bytes of the night alone: the dashboard's parquet scans and
        # the read of the staged dim_patients come later or are not CSV
        read = (self.tracer.counters.executor_totals()["input_bytes"]
                - read0["input_bytes"]) if self.tracer else 0
        written = tree_bytes(self.h.stage, since=start)
        t0 = time.perf_counter()
        ops = [("night", night)] + self.h.dashboard(self._on_query)
        wall = night + time.perf_counter() - t0
        t1 = time.perf_counter()
        self.fails += self.h.check_star() + self.h.check_dashboard()
        self.checks_s += time.perf_counter() - t1
        self.bytes_in += self.input_bytes
        self.bytes_out += written[0]
        return {"ops": ops, "wall": wall, "phases": self.take_phases(),
                "sinks_written": written, "night_input_bytes": read}

    def finish(self) -> tuple[list[str], dict]:
        return self.fails, {"nights": self.nights}


class CorpusJob(Workload):
    """One seeded micro-batch of gated ingest (half the documents, into a
    fresh base), then one pass over the five iterative operator queries in
    a seeded order. A later round ingests the next batch against the index
    the earlier ones wrote."""

    def prepare(self) -> None:
        s = self.size
        self.c = Corpus(self.spark, self.work, self.seed, s["corpus_sf"], s["n_batches"])
        self.c.prepare()
        self.input_bytes = self.c.input_bytes
        self.max_rounds = s["n_batches"]

    def round(self) -> dict:
        job_id = self.tracer.counters.job_id if self.tracer else None
        start, j0 = time.time(), job_id() if job_id else 0
        with self.span("streaming.ingest.batch", "streaming.ingest"):
            ops = [("ingest_batch", self.c.ingest_batch())]
        batch_jobs = job_id() - j0 if job_id else 0
        written = tree_bytes(self.c.base, since=start)
        self.bytes_in += self.c.batch_input_bytes()
        ops += self.c.operators(self.span, self._on_query)
        self.bytes_out += written[0]
        return {"ops": ops, "wall": sum(t for _, t in ops), "phases": self.take_phases(),
                "ingest_batch_jobs": batch_jobs, "ingest_written": written,
                "index_rows": self.c.index_rows() if self.tracer else 0}

    def finish(self) -> tuple[list[str], dict]:
        fails, kept = self.c.check_ingest()
        return self.fails + fails + self.c.check_operators(), {"kept_ids_sha1": kept}


WORKLOADS = {"etl_nightly": EtlNightly, "corpus": CorpusJob}

# per-layer metric -> (unit, the end-to-end metric and workload it should move)
ETL, CORPUS, BOTH = "etl_nightly", "corpus", "both workloads"
PER_LAYER = {
    "session.start_s": ("s", f"setup_s, {BOTH}"),
    "sources.readers.call_s": ("s", f"cpu_s, {ETL}"),
    "spark.input_bytes_per_source_byte": ("ratio", f"cpu_s, {ETL} (input re-reads)"),
    "sources.sinks.write_s": ("s", f"cpu_s, {ETL}; flat on {CORPUS}"),
    "sources.sinks.jobs": ("count", f"cpu_s, {ETL}"),
    "sources.sinks.bytes_written": ("B", f"bytes_written_per_input_byte, {ETL}"),
    "sources.sinks.files_written": ("count", f"cpu_s and bytes_written_per_input_byte, {ETL}"),
    "plans.pipeline.build_s": ("s", f"cpu_s, {ETL}"),
    "plans.model.build_s": ("s", f"cpu_s, {ETL}"),
    "plans.model.jobs": ("count", f"cpu_s, {ETL}"),
    "operators.quality.s": ("s", f"cpu_s, {ETL}"),
    "operators.quality.jobs": ("count", f"cpu_s, {ETL}"),
    "operators.keys.s": ("s", f"cpu_s, {ETL}"),
    "operators.keys.jobs": ("count", f"cpu_s, {ETL}"),
    "operators.scd2.build_s": ("s", f"cpu_s, {ETL}"),
    "plans.analytics.build_s": ("s", f"cpu_s, {ETL} (the dashboard queries)"),
    "spark.analysis_s": ("s", f"cpu_s, {BOTH}"),
    "spark.optimization_s": ("s", f"cpu_s, {BOTH}"),
    "spark.planning_s": ("s", f"cpu_s, {BOTH}"),
    "spark.codegen_compiles": ("count", f"cpu_s, {BOTH} (every round is cold)"),
    "plans.queries.build_s": ("s", f"cpu_s, {CORPUS}"),
    "plans.queries.build_jobs": ("count", f"cpu_s, {CORPUS}"),
    "plans.queries.execute_s": ("s", f"cpu_s, {CORPUS}"),
    **{f"operators.{m}.{k}": (u, f"cpu_s, {CORPUS}")
       for m in ("clustering", "graph", "dedup", "corpus")
       for k, u in (("s", "s"), ("jobs", "count"))},
    "streaming.ingest.s": ("s", f"cpu_s, {CORPUS}"),
    "streaming.ingest.batch_jobs": ("count", f"cpu_s, {CORPUS}"),
    "streaming.ingest.bytes_written": ("B", f"bytes_written_per_input_byte, {CORPUS}"),
    "streaming.ingest.files_written": ("count", f"cpu_s and bytes_written_per_input_byte, {CORPUS}"),
    "streaming.ingest.index_rows": ("count", f"cpu_s, {CORPUS} (state size)"),
    "spark.jobs": ("count", f"cpu_s, {BOTH}"),
    "spark.tasks": ("count", f"cpu_s, {BOTH}"),
    "spark.task_s": ("s", f"cpu_s, {BOTH}"),
    "spark.gc_s": ("s", f"cpu_s, {BOTH}"),
    "spark.shuffle_write_bytes": ("B", f"cpu_s, {BOTH}; heaviest on {CORPUS}"),
    "spark.shuffle_read_bytes": ("B", f"cpu_s, {BOTH}; heaviest on {CORPUS}"),
    "spark.failed_tasks": ("count", f"cpu_s, {BOTH}"),
    "spark.driver_only_s": ("s", f"cpu_s, {BOTH}"),
    "spark.jvm_peak_rss_mb": ("MB", "none: a diagnostic"),
    "trace.overhead_s": ("s", "none: the tracing cost per round"),
}


def per_layer_metrics(rounds: list[dict], wl: Workload, session_s: float,
                      peak_rss_mb: float) -> dict[str, tuple[float, str]]:
    """Mean per round of every per-layer metric (0 where a workload does not
    reach the layer)."""
    def mean(fn) -> float:
        return statistics.mean(fn(r) for r in rounds)

    def layer(r, name, key="s"):
        return r["layers"].get(name, {}).get(key, 0)

    values = {
        "session.start_s": session_s,
        "sources.readers.call_s": mean(lambda r: layer(r, "sources.readers")),
        "spark.input_bytes_per_source_byte":
            mean(lambda r: r.get("night_input_bytes", 0)) / wl.input_bytes,
        "sources.sinks.write_s": mean(lambda r: layer(r, "sources.sinks")),
        "sources.sinks.jobs": mean(lambda r: layer(r, "sources.sinks", "jobs")),
        "sources.sinks.bytes_written": mean(lambda r: r.get("sinks_written", (0, 0))[0]),
        "sources.sinks.files_written": mean(lambda r: r.get("sinks_written", (0, 0))[1]),
        "plans.pipeline.build_s": mean(
            lambda r: layer(r, "plans.pipeline") + layer(r, "plans.standardize")),
        "plans.model.build_s": mean(lambda r: layer(r, "plans.model")),
        "plans.model.jobs": mean(lambda r: layer(r, "plans.model", "jobs")),
        "operators.quality.s": mean(lambda r: layer(r, "operators.quality")),
        "operators.quality.jobs": mean(lambda r: layer(r, "operators.quality", "jobs")),
        "operators.keys.s": mean(lambda r: layer(r, "operators.keys")),
        "operators.keys.jobs": mean(lambda r: layer(r, "operators.keys", "jobs")),
        "operators.scd2.build_s": mean(lambda r: layer(r, "operators.scd2")),
        "plans.analytics.build_s": mean(lambda r: layer(r, "plans.analytics")),
        "spark.analysis_s": mean(lambda r: r.get("phases", {}).get("analysis", 0.0)),
        "spark.optimization_s": mean(lambda r: r.get("phases", {}).get("optimization", 0.0)),
        "spark.planning_s": mean(lambda r: r.get("phases", {}).get("planning", 0.0)),
        "spark.codegen_compiles": mean(lambda r: r["spark"]["codegen"]),
        "plans.queries.build_s": mean(lambda r: layer(r, "plans.queries")),
        "plans.queries.build_jobs": mean(lambda r: layer(r, "plans.queries", "jobs")),
        "plans.queries.execute_s": mean(lambda r: layer(r, "spark.execute")),
        "streaming.ingest.s": mean(lambda r: layer(r, "streaming.ingest")),
        "streaming.ingest.batch_jobs": mean(lambda r: r.get("ingest_batch_jobs", 0)),
        "streaming.ingest.bytes_written": mean(lambda r: r.get("ingest_written", (0, 0))[0]),
        "streaming.ingest.files_written": mean(lambda r: r.get("ingest_written", (0, 0))[1]),
        "streaming.ingest.index_rows": mean(lambda r: r.get("index_rows", 0)),
        "spark.jobs": mean(lambda r: r["spark"]["jobs"]),
        "spark.tasks": mean(lambda r: r["spark"]["tasks"]),
        "spark.task_s": mean(lambda r: r["spark"]["task_ms"] / 1000.0),
        "spark.gc_s": mean(lambda r: r["spark"]["gc_ms"] / 1000.0),
        "spark.shuffle_write_bytes": mean(lambda r: r["spark"]["shuffle_write"]),
        "spark.shuffle_read_bytes": mean(lambda r: r["spark"]["shuffle_read"]),
        "spark.failed_tasks": mean(lambda r: r["spark"]["failed_tasks"]),
        "spark.driver_only_s": mean(lambda r: r["driver_only_s"]),
        "spark.jvm_peak_rss_mb": peak_rss_mb,
        "trace.overhead_s": mean(lambda r: r["trace_overhead_s"]),
    }
    for m in ("clustering", "graph", "dedup", "corpus"):
        values[f"operators.{m}.s"] = mean(lambda r, m=m: layer(r, f"operators.{m}"))
        values[f"operators.{m}.jobs"] = mean(lambda r, m=m: layer(r, f"operators.{m}", "jobs"))
    return {name: (values[name], unit) for name, (unit, _) in PER_LAYER.items()}
