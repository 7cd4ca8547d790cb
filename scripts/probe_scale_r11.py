"""Round-11 scale probes (the round-10 verdict's item 4): the healthcare
star — the reference-parity surface — was the only query family with no
10x/100x evidence anywhere in BENCH/SCALE. This probe scales the star's
GROWING axes (patients, claims, transactions) 10x and 100x while the
conventionally-small dimensions (providers, procedures, dates) stay fixed,
then measures hq1-hq11 wall time and inspects the join strategy the
optimizer actually picks at each scale.

Method: one real pipeline run (the reference's own seed CSVs through
plans/pipeline.run_pipeline) produces the 1x star; replicas are id-offset
copies (patient_sk strided so keys stay unique and join fan-out is
preserved; ClaimID/TransactionID suffixed per replica so COUNT DISTINCT
cardinalities scale) written to PARQUET and read back — so Spark sees real
file-size statistics and the broadcast-vs-shuffle decision is the one a
production cluster would make, not an in-memory-plan artifact. That makes
the interesting cliff measurable: dim_patients at 100x (~1M rows) outgrows
spark.sql.autoBroadcastJoinThreshold (10 MB), so hq2/hq9 — the two queries
that join the fact against the PATIENT dimension with no broadcast hint on
purpose (plans/analytics.py "# scales" comments) — must flip from broadcast
to a shuffle join and keep near-linear wall time.

Usage: python scripts/probe_scale_r11.py   (writes /tmp/probe_r11.json,
rows summarized into SCALE.md round-11 section)
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from healthcare_rcm_etl_pipeline_spark.plans import analytics  # noqa: E402
from healthcare_rcm_etl_pipeline_spark.plans.pipeline import run_pipeline  # noqa: E402
from healthcare_rcm_etl_pipeline_spark.session import get_spark  # noqa: E402

SCALES = [1, 10, 100]
GROWING = {"dim_patients", "fact_claims", "fact_transactions"}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _replicate(df, k: int, sk_stride: int, uniquify: list[str]):
    """k id-offset copies: patient_sk strided (join keys stay unique, the
    fact->patient fan-out per key is preserved), free-text ids suffixed so
    distinct counts scale. k=1 returns the input unchanged."""
    if k == 1:
        return df
    r = df.withColumn("__r", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
    if "patient_sk" in df.columns:
        r = r.withColumn(
            "patient_sk", F.col("patient_sk") + F.col("__r") * F.lit(sk_stride)
        )
    for c in uniquify:
        if c in df.columns:
            r = r.withColumn(
                c, F.concat_ws("_", F.col(c).cast("string"), F.col("__r"))
            )
    return r.drop("__r")


def _join_strategy(df, dim_substr: str) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "BroadcastHashJoin" in plan:
        return "broadcast"
    if "SortMergeJoin" in plan:
        return "sort-merge"
    if "ShuffledHashJoin" in plan:
        return "shuffled-hash"
    return "none"


def probe_component_ingest(spark, n_batches: int = 8) -> dict:
    """Per-batch cost of the component-labeling ingestion
    (streaming/ingest.py:make_component_ingest_batch_fn) over the sf0.01
    documents table: the label state and band index grow across batches,
    and per-batch cost must stay FLAT (the state is probed via pruned
    scans, never re-clustered). Batches over the OBSERVED [lo, hi] id
    range (the round-10 advice fix: 0-based widths collapse on offset id
    spaces)."""
    import shutil
    import tempfile

    from healthcare_rcm_etl_pipeline_spark.streaming.ingest import (
        make_component_ingest_batch_fn,
        read_labels,
    )

    tmp = tempfile.mkdtemp(prefix="hrcm_r11_cingest_")
    try:
        d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
            "doc_id", "text"
        )
        lo, hi = d.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
        width = (hi - lo + n_batches) // n_batches
        fn = make_component_ingest_batch_fn(f"{tmp}/base")
        per_batch, state_rows = [], []
        for b in range(n_batches):
            batch = d.filter(
                (F.col("doc_id") >= lo + b * width)
                & (F.col("doc_id") < lo + (b + 1) * width)
            )
            t0 = time.perf_counter()
            fn(batch, b)
            per_batch.append(round(time.perf_counter() - t0, 3))
            comp = read_labels(spark, f"{tmp}/base", "components")
            state_rows.append(comp.count() if comp is not None else 0)
        # post-warmup slope normalized by the median batch (batch 0 is
        # structurally cheaper: empty base, no cross probe) — the same
        # methodology as bench.py's streaming-ingest trend
        import statistics

        steady = per_batch[1:]
        xbar, ybar = (len(steady) - 1) / 2.0, sum(steady) / len(steady)
        slope = sum((i - xbar) * (y - ybar) for i, y in enumerate(steady)) / sum(
            (i - xbar) ** 2 for i in range(len(steady))
        )
        return {
            "per_batch_sec": per_batch,
            "labeled_docs": state_rows,
            "per_batch_slope": round(slope / statistics.median(steady), 4),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def probe_point_lookup(spark) -> dict:
    """Point-lookup latency vs state size: ingest the sf0.01 and sf0.1
    documents tables into two bases (range-sorted state), then time
    ``probe_near_dups`` for a 2-doc probe against each. The claim under
    test: probe cost tracks the PROBE's key count (literal-pushdown
    pruned scans), so a 10x state must not cost ~10x to probe."""
    import shutil
    import tempfile

    from healthcare_rcm_etl_pipeline_spark.streaming.ingest import (
        make_dedup_ingest_batch_fn,
        probe_near_dups,
        read_corpus,
    )

    out = {}
    for sf in ("0.01", "0.1"):
        tmp = tempfile.mkdtemp(prefix=f"hrcm_r11_probe_{sf}_")
        try:
            d = spark.read.parquet(f"/root/testdata/sf{sf}/documents.parquet").select(
                "doc_id", "text"
            )
            fn = make_dedup_ingest_batch_fn(f"{tmp}/base")
            t0 = time.perf_counter()
            fn(d, 0)
            ingest_sec = round(time.perf_counter() - t0, 3)
            n_docs = read_corpus(spark, f"{tmp}/base").count()
            probe = (
                d.orderBy("doc_id")
                .limit(2)
                .select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
            )
            probe = spark.createDataFrame(probe.collect(), probe.schema)
            runs = []
            for _ in range(4):
                t0 = time.perf_counter()
                res = probe_near_dups(spark, f"{tmp}/base", probe)
                n = res.count() if res is not None else 0
                runs.append(round(time.perf_counter() - t0, 3))
            out[f"sf{sf}"] = {
                "state_docs": n_docs,
                "ingest_sec": ingest_sec,
                "probe_sec_runs": runs,
                "probe_sec": min(runs),
                "probe_pairs": n,
            }
            print(f"point_lookup sf{sf}: {out[f'sf{sf}']}", flush=True)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    out["probe_ratio_10x_state"] = round(
        out["sf0.1"]["probe_sec"] / out["sf0.01"]["probe_sec"], 2
    )
    return out


def main() -> None:
    spark = get_spark(cpus=32, driver_memory="24g", app_name="hrcm-probe-r11")
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="hrcm_r11_star_")
    out: dict = {"scales": {}}
    try:
        star1 = run_pipeline(spark)
        sk_stride = (
            star1["dim_patients"].agg(F.max("patient_sk")).collect()[0][0] + 1
        )
        for name, df in star1.items():
            df.write.mode("overwrite").parquet(f"{base}/x1/{name}")
        for k in SCALES:
            star = {}
            for name in star1:
                src = spark.read.parquet(f"{base}/x1/{name}")
                if k > 1 and name in GROWING:
                    _replicate(
                        src, k, sk_stride, ["ClaimID", "TransactionID", "EncounterID"]
                    ).write.mode("overwrite").parquet(f"{base}/x{k}/{name}")
                    star[name] = spark.read.parquet(f"{base}/x{k}/{name}")
                else:
                    star[name] = src
            rows = {n: star[n].count() for n in sorted(GROWING)}
            timings, strategies = {}, {}
            for qname, fn in analytics.HEALTHCARE_QUERIES.items():
                df = fn(star)
                _noop(df)  # warm (codegen + first-read footers)
                best = min(
                    (lambda t0: (_noop(fn(star)), time.perf_counter() - t0)[1])(
                        time.perf_counter()
                    )
                    for _ in range(3)
                )
                timings[qname] = round(best, 3)
                if qname in (
                    "hq2_revenue_by_hospital",
                    "hq9_patient_lifetime_value",
                ):
                    strategies[qname] = _join_strategy(fn(star), "dim_patients")
            out["scales"][f"x{k}"] = {
                "rows": rows,
                "hq_sec": timings,
                "hq_total_sec": round(sum(timings.values()), 3),
                "patient_dim_join": strategies,
            }
            print(f"x{k}: {out['scales'][f'x{k}']}", flush=True)
        out["component_ingest"] = probe_component_ingest(spark)
        print(f"component_ingest: {out['component_ingest']}", flush=True)
        out["point_lookup"] = probe_point_lookup(spark)
        with open("/tmp/probe_r11.json", "w") as f:
            json.dump(out, f, indent=1)
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
