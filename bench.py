"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is timed end-to-end (plan + execute + materialize via count/
collect of the final small result). The SparkSession is created once —
JVM startup is excluded, matching how a long-lived cluster runs queries.

Contention guard: a fixed-cost calibration sentinel (pure JVM range-sum,
independent of SF and of any engine code) is timed before and after the
query loop. If the machine got busier mid-run the sentinel drifts, and the
run is flagged "contended" — so an environment wobble can never masquerade
as a code regression. Per-query dispersion (min/median/max over the timed
iterations) is reported alongside the headline min for the same reason.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import sys
import time

from healthcare_rcm_etl_pipeline_spark.plans.queries import QUERIES
from healthcare_rcm_etl_pipeline_spark.session import get_spark

# explanations for expected round-over-round deltas (emitted with the JSON
# so a regression vs the PREVIOUS round is never silent). Keyed per query;
# entries are purged each round once the delta they explain is no longer
# live in the prev-round comparison (r1-r6 notes removed in r10 — they
# described deltas between rounds no longer being compared).
DELTA_NOTES: dict[str, str] = {
    # r16 optimization round — intentional plan changes (full evidence in
    # OPTIMIZATION_r16.md; values identical, sweep-verified):
    "dedup_minhash_lsh": (
        "r16: minhash permutation minima in ONE mapInArrow NumPy kernel, "
        "bit-exact vs the expression form (was 64 interpreted "
        "transform+array_min passes per row)"
    ),
    "streaming_ingest_batch": (
        "r16: per-batch band builds ride the mapInArrow minhash kernel; "
        "point-lookup In() predicates built as one parsed SQL expr "
        "(py4j isin marshalling was ~0.6 ms/literal of driver time); "
        "r17: the streaming_ingest detail also carries step_median_sec, the "
        "batch fn's per-step seconds, copied outside the timed region"
    ),
    "ann_topk_ivf_pq": (
        "r16: candidate build fused into the ADC scoring stage; plan "
        "unchanged at this SF (candidates broadcast either way), changes "
        "the at-scale degradation from a pair-sized shuffle to a "
        "corpus-sized co-partitioned join"
    ),
}

# round-10 methodology change, affecting EVERY per-query number at once
# (so it is emitted as a single top-level note, not per-query): timed runs
# now materialize through the noop sink instead of count() — see the
# comment at the timed loop. Queries whose count() Catalyst could prune
# (final unique-keyed left joins, computed output columns, global aggs)
# read HIGHER this round; that is the honest cost, not a regression.
MATERIALIZE_NOTE = (
    "r10+: timed runs use df.write.format('noop') (full-output "
    "materialization); count()-based rounds <= r9 under-measured "
    "Catalyst-prunable queries"
)


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _recover_from_tail(tail: str) -> tuple[dict[str, float], float | None]:
    """The driver keeps only the LAST 2000 chars of bench stdout; if the
    JSON line outgrew that window (round 4 did), "parsed" is null and only
    a suffix survives. The per-query [min, median, max] spread entries that
    fall inside the window still carry the headline min — recover those,
    plus the sentinel, by regex. (The compact-stdout format below keeps
    this from recurring; this path only rescues old rounds.)"""
    queries = {
        m.group(1): float(m.group(2))
        for m in re.finditer(r'"(\w+)": \[([\d.]+), [\d.]+, [\d.]+\]', tail)
    }
    sent = re.search(r'"before_sec": ([\d.]+)', tail)
    return queries, float(sent.group(1)) if sent else None


def _round_detail_from_git(here: str, n: int) -> tuple[dict, dict]:
    """Per-query numbers for round N recovered from git history: the
    driver commit that added BENCH_r{N}.json sits on a tree whose
    committed BENCH_DETAIL.json is that round's close-out numbers (the
    close-out contract commits it each round). This is the fallback for
    rounds whose compact stdout line outgrew the driver's 2000-char
    window and had per-query timings popped (r9 onward: 60+ HEADLINE
    entries no longer fit), which otherwise silently pins every delta
    comparison to the last small-enough round. Returns
    (queries, sentinel) or ({}, {})."""
    import subprocess

    try:
        commits = subprocess.run(
            ["git", "-C", here, "log", "--diff-filter=A", "--format=%H",
             "--", f"BENCH_r{n:02d}.json"],
            capture_output=True, text=True, timeout=10,
        ).stdout.split()
        if not commits:
            return {}, {}
        blob = subprocess.run(
            ["git", "-C", here, "show", f"{commits[0]}:BENCH_DETAIL.json"],
            capture_output=True, text=True, timeout=10,
        ).stdout
        doc = json.loads(blob)
        # Round-stamp validation: the detail file written since r11 carries
        # the round it measured. If the commit that added BENCH_r{N}.json
        # carries a BENCH_DETAIL.json stamped with a DIFFERENT round (the
        # two files committed separately, or the detail amended later), the
        # recovered numbers belong to some other round — reject them so
        # _prev_round walks on instead of silently keying deltas against
        # the wrong round. Legacy (pre-r11) details have no stamp and are
        # trusted as before.
        stamped = doc.get("round")
        if stamped is not None and stamped != n:
            return {}, {}
        return doc.get("queries") or {}, doc.get("sentinel") or {}
    except Exception:
        return {}, {}


def _current_round() -> int | None:
    """The round this bench run measures: one past the newest recorded
    BENCH_r{N}.json (the driver records round N's artifact after the
    round's bench runs, so during round N only rounds < N exist on disk).
    Overridable via SPARK_GRAFT_ROUND for out-of-band runs."""
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env and env.isdigit():
        return int(env)
    here = os.path.dirname(__file__) or "."
    ns = [
        int(m.group(1))
        for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    return (max(ns) + 1) if ns else None


def _detail_path() -> str:
    """Where a run writes its detail: ``$BENCH_DETAIL_PATH``, else the
    git-ignored ``.bench/BENCH_DETAIL.json``. A bench run never edits the
    tracked ``BENCH_DETAIL.json``; close-out copies a run's detail into it
    with ``scripts/stamp_bench_note.py --from <path>``."""
    here = os.path.dirname(os.path.abspath(__file__))
    return os.path.abspath(
        os.environ.get("BENCH_DETAIL_PATH") or os.path.join(here, ".bench", "BENCH_DETAIL.json")
    )


def _prev_round() -> tuple[str | None, dict[str, float], float | None]:
    """Newest BENCH_r{N}.json with recoverable per-query numbers:
    (name, per-query secs, sentinel). Recovery order per round: parsed
    stdout JSON -> tail regex -> that round's committed BENCH_DETAIL.json
    from git history; walks older rounds only if all three fail."""
    here = os.path.dirname(__file__) or "."
    rounds = sorted(
        (
            (int(m.group(1)), p)
            for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
            if (m := re.search(r"BENCH_r(\d+)\.json$", p))
        ),
        reverse=True,
    )
    for n, p in rounds:
        try:
            with open(p) as f:
                doc = json.load(f)
        except Exception:
            continue
        parsed = doc.get("parsed", doc) or {}
        queries = parsed.get("queries", {})
        # Compare converged-min to converged-min: older rounds' before_sec
        # was measured on a partly-JIT-compiled JVM (min of 5 early runs),
        # while after_sec follows the full bench and is converged — taking
        # the min of both sides keeps the cross-round env ratio from
        # reading JIT warm-up depth as an environment shift.
        prev = parsed.get("sentinel") or {}
        cands = [v for v in (prev.get("before_sec"), prev.get("after_sec")) if v]
        prev_sent = min(cands) if cands else None
        if not queries and doc.get("tail"):
            queries, prev_sent = _recover_from_tail(doc["tail"])
        if queries:
            return f"r{n:02d}", queries, prev_sent
        gq, gs = _round_detail_from_git(here, n)
        if gq:
            cands = [v for v in (gs.get("before_sec"), gs.get("after_sec")) if v]
            return f"r{n:02d}", gq, (min(cands) if cands else prev_sent)
    return None, {}, None

HEADLINE = [
    "q01_collection_rate",
    "q02_revenue_by_nation",
    "q03_monthly_revenue",
    "q04_status_rates",
    "q07_avg_ship_delay",
    "q09_top20_customers",
    "q10_part_profitability",
    "q11_volume_trends",
    "sk_dense_scalable",
    "scd2_type2_merge",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "ann_topk_bruteforce",
    "text_quality",
    "json_extract_events",
    "events_sessionize",
    # round-2 surface additions
    "chunk_documents",
    "repetition_quality",
    "incremental_agg_maintenance",
    "embedding_quantize",
    "q21_customer_deciles",
    "semantic_dedup",
    "quality_classifier",
    # round-4 surface additions
    "events_range_join",
    "ann_topk_ivf",
    "oov_rate",
    "dedup_keep_survivors",
    # round-5 surface additions
    "dedup_exact_substring",
    "chunk_dedup_rate",
    "corpus_bigram_lm",
    "decontaminate_bloom",
    # round-6 surface additions (join-heavy round-5 analytics patterns,
    # then the round's own: bitmap distinct, EWMA fold; ann_topk_pq is
    # appended by _bench_pq with fit/encode reported alongside)
    "q40_trimmed_mean_price",
    "q44_top_parts_listagg",
    "q46_bitmap_distinct",
    "q47_ewma_revenue",
    "q48_copurchase_pairs",
    "q49_copurchase_pagerank",
    "sketch_set_intersection",
    # round-7 surface additions (retrieval, sampling, pattern detection,
    # containment dedup, survivor policy, clustering, BFS reach)
    "bm25_topk",
    "weighted_sample_es",
    "events_pattern_conversion",
    "dedup_containment",
    "dedup_containment_capped",
    "dedup_keep_priority",
    "kmeans_lloyd",
    "q50_copurchase_reach",
    # round-8 surface additions
    "corpus_bpe_train",
    "decontaminate_blast_radius",
    "hybrid_rrf_topk",
    # round-8 snapshot-commit queries (benched from r9 — the r8 verdict's
    # close-out gap; tests/test_closeout.py now guards artifact totals)
    "mmr_diverse_topk",
    "q51_copurchase_triangles",
    "dedup_chunks_rewrite",
    # round-9 surface additions
    "mmr_diverse_topk_ivf",
    "dedup_chunks_incremental",
    "retrieval_quality_ndcg",
    # round-10 surface additions
    "dedup_chunks_rewrite_hashed",
    "retrieval_quality_bm25",
    "split_leakage_safe",
    # round-12 surface additions (drift monitoring, record linkage,
    # filtered ANN / hard-negative mining)
    "drift_psi_events",
    "entity_resolution_golden",
    "ann_hard_negatives",
    # round-15 surface addition (drift-gated ANN index maintenance)
    "ann_ivf_drift_refresh",
]


def _bench_streaming_ingest(spark, sf_dir: str, n_batches: int = 8) -> dict:
    """Per-batch latency of the near-dup-gated ingestion path
    (streaming/ingest.py): the documents table split into n_batches
    micro-batches driven through the foreachBatch body, the persisted band
    index growing across batches. The trend matters more than the level —
    per-batch cost must stay FLAT as the corpus accumulates (the index is
    probed, never rebuilt; since r6 the probe is also PRUNED to the
    batch's band-key set before the bucket shuffle); a rising trend would
    mean ingestion cost scales with corpus size and the recipe is wrong
    at scale. The per-batch INDEX SIZE is logged alongside so cost can be
    read against index growth (the round-5 verdict's ask): 8 batches, and
    the trend is the fit of post-warmup per-batch cost, not just
    last/second."""
    import shutil
    import tempfile

    from healthcare_rcm_etl_pipeline_spark.sources.readers import load_table
    from healthcare_rcm_etl_pipeline_spark.streaming.ingest import (
        make_dedup_ingest_batch_fn,
        read_band_index,
    )

    base = tempfile.mkdtemp(prefix="hrcm_bench_ingest_")
    try:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        n_docs = docs.count()
        fn = make_dedup_ingest_batch_fn(base)
        per_batch: list[float] = []
        index_rows: list[int] = []
        steps: dict[str, list[float]] = {}
        for b in range(n_batches):
            batch = docs.filter((docs.doc_id % n_batches) == b)
            t0 = time.perf_counter()
            fn(batch, b)
            per_batch.append(round(time.perf_counter() - t0, 3))
            for step, sec in fn.last_steps.items():
                steps.setdefault(step, []).append(sec)
            index_rows.append(read_band_index(spark, base).count())
        total = round(sum(per_batch), 3)
        # slope of post-warmup per-batch cost per BATCH, normalized by the
        # median batch cost: 0 == flat; 0.05 == +5% of a median batch per
        # batch. Least squares over batches 1..n-1 (batch 0 is structurally
        # cheaper: empty base, no cross-corpus probe).
        steady = per_batch[1:]
        slope = None
        if len(steady) >= 2:
            nm = len(steady)
            xbar = (nm - 1) / 2
            ybar = sum(steady) / nm
            num = sum((i - xbar) * (y - ybar) for i, y in enumerate(steady))
            den = sum((i - xbar) ** 2 for i in range(nm))
            med = statistics.median(steady)
            slope = round((num / den) / med, 3) if med else None
        return {
            "batches": n_batches,
            "docs": n_docs,
            "per_batch_sec": per_batch,
            "index_rows": index_rows,
            "total_sec": total,
            "docs_per_sec": round(n_docs / total, 1) if total else None,
            # last batch probes the largest index: ratio ~1 == flat trend
            "steady_trend": round(per_batch[-1] / per_batch[1], 2)
            if len(per_batch) > 1 and per_batch[1]
            else None,
            "per_batch_slope": slope,
            # the batch fn's own per-step seconds (resolve, delta, write,
            # ...), median over the batches that ran the step
            "step_median_sec": {
                k: round(statistics.median(v), 3) for k, v in steps.items()
            },
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _bench_semantic_ingest(spark, sf_dir: str, n_batches: int = 8) -> dict:
    """Per-batch latency of the SEMANTIC-gated embedding ingestion path
    (streaming/ingest.py:make_semantic_ingest_batch_fn): the embeddings
    table in n_batches micro-batches, the persisted (cell, id, vector)
    index growing across batches. Same flatness contract as the text
    path: the probe reads only the batch's cells, so per-batch cost must
    not grow with the accumulated corpus.

    Benched in the SELECTIVE regime (round-11 verdict #2): the cell space
    is sized ≥16x the expected batch (production adaptive_n_planes
    semantics — cells track the corpus, batches are a sliver of it), so
    the literal cell probe actually prunes the index scan. The committed
    round-11 evidence ran the 64-cell default, where a 250-vector batch
    touches every cell, the probe prunes nothing, and per-batch cost
    tracked the index (steady_trend 1.27) — that non-selective fallback
    regime is documented in the batch fn's docstring; per-batch
    ``cells_probed``/``cells_space`` stats are emitted so the artifact
    proves which regime was measured."""
    import math
    import shutil
    import tempfile

    from healthcare_rcm_etl_pipeline_spark.sources.readers import load_table
    from healthcare_rcm_etl_pipeline_spark.streaming.ingest import (
        make_semantic_ingest_batch_fn,
    )

    base = tempfile.mkdtemp(prefix="hrcm_bench_semingest_")
    try:
        from healthcare_rcm_etl_pipeline_spark.streaming.ingest import read_vectors

        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        n_vecs = emb.count()
        n_planes = max(
            6, min(24, math.ceil(math.log2(max(16 * n_vecs / n_batches, 64))))
        )
        fn = make_semantic_ingest_batch_fn(base, threshold=0.9, n_planes=n_planes)
        per_batch: list[float] = []
        index_rows: list[int] = []
        cells_probed: list[int | None] = []
        for b in range(n_batches):
            batch = emb.filter((emb.vec_id % n_batches) == b)
            t0 = time.perf_counter()
            fn(batch, b)
            per_batch.append(round(time.perf_counter() - t0, 3))
            index_rows.append(read_vectors(spark, base).count())
            probe = fn.last_probe
            cells_probed.append(probe["cells_probed"] if probe else None)
        total = round(sum(per_batch), 3)
        steady = per_batch[1:]
        slope = None
        if len(steady) >= 2:
            nm = len(steady)
            xbar = (nm - 1) / 2
            ybar = sum(steady) / nm
            num = sum((i - xbar) * (y - ybar) for i, y in enumerate(steady))
            den = sum((i - xbar) ** 2 for i in range(nm))
            med = statistics.median(steady)
            slope = round((num / den) / med, 3) if med else None
        return {
            "batches": n_batches,
            "vectors": n_vecs,
            "n_planes": n_planes,
            "cells_space": 2 ** n_planes,
            "cells_probed": cells_probed,
            "per_batch_sec": per_batch,
            "index_rows": index_rows,
            "total_sec": total,
            "vecs_per_sec": round(n_vecs / total, 1) if total else None,
            "steady_trend": round(per_batch[-1] / per_batch[1], 2)
            if len(per_batch) > 1 and per_batch[1]
            else None,
            "per_batch_slope": slope,
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _bench_pq(spark, sf_dir: str) -> dict:
    """PQ ANN path (operators/similarity.py) at the REGISTERED oracle
    config (plans/queries.py ann_topk_pq / ann_topk_ivf_pq): fit + encode
    once (ingestion-time costs, reported separately — a production corpus
    is encoded at write time, not per query), then the ADC probe with
    exact top-200 rerank, and the IVF×PQ composed probe — the query-time
    numbers that ride the delta machinery. The probes scan the CODE
    relation (m logical bytes/vector), not the float vectors; exactness
    for this config is hash-checked by the oracle sweep and the
    recall/compression trades pinned in tests/test_pq.py."""
    from healthcare_rcm_etl_pipeline_spark.operators import similarity
    from healthcare_rcm_etl_pipeline_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(emb.vec_id % 40 == 0)
    t0 = time.perf_counter()
    books = similarity.pq_fit(emb, m=32, k_cb=16, iters=1)
    fit_sec = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    codes = similarity.pq_encode(emb, books)
    codes.cache().count()
    encode_sec = round(time.perf_counter() - t0, 3)
    probe_runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        _materialize(
            similarity.pq_topk(codes, q, books, k=5, rerank=200, corpus=emb)
        )
        probe_runs.append(round(time.perf_counter() - t0, 3))
    cents = similarity.ivf_fit(emb, n_cells=8, iters=0)
    index = similarity.ivf_index(emb, cents)
    ivf_pq_runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        _materialize(
            similarity.ivf_pq_topk(
                index, codes, q, cents, books, k=5, n_probe=8, rerank=200,
                corpus=emb,
            )
        )
        ivf_pq_runs.append(round(time.perf_counter() - t0, 3))
    stats = {
        "fit_sec": fit_sec,
        "encode_sec": encode_sec,
        "probe_runs": probe_runs,
        "ivf_pq_probe_runs": ivf_pq_runs,
    }
    # codes stay cached for _bench_ann_production's rerank-50 probe;
    # main() unpersists after both benches ran
    return stats, codes, books


def _bench_ann_production(spark, sf_dir: str, codes, books) -> dict:
    """Latency AND measured recall of the PRODUCTION ANN configs (round-12
    verdict #2): the registered/benched shapes above are the full-probe /
    rerank-200 ORACLE DEVICES (exact by construction, hash-checked by the
    sweep — they deliberately scan more than a user would); these rows
    bench what a user actually runs — partial-probe IVF (n_probe =
    n_cells/2), the 6-table multiprobe LSH default, rerank-50 PQ — with
    top-5 row recall measured against the brute-force exact set AT THIS
    SF in the same run, so the committed artifact carries the
    latency/recall trade, not latency alone. Larger-scale recall curves:
    AUDIT_SF1 (20k vectors, 10x) measured 6-table LSH row recall 0.9824
    and PQ m32 rerank-50 0.8908 / rerank-200 0.9844."""
    from healthcare_rcm_etl_pipeline_spark.operators import similarity
    from healthcare_rcm_etl_pipeline_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(emb.vec_id % 40 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(emb, q, k=5).collect()
    }

    def _run(mk, extra=None) -> dict:
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            _materialize(mk())
            runs.append(round(time.perf_counter() - t0, 3))
        approx = {
            (r["query_id"], r["neighbor_id"]) for r in mk().collect()
        }
        rec = {
            "runs": runs,
            "best_sec": min(runs),
            "recall_top5": round(len(exact & approx) / len(exact), 4),
        }
        rec.update(extra or {})
        return rec

    t0 = time.perf_counter()
    cents = similarity.ivf_fit(emb, n_cells=8, iters=0)
    fit_sec = round(time.perf_counter() - t0, 3)
    out = {
        "note": (
            "production configs (approximate by design) — the registered "
            "ann_topk_* rows are the exact oracle devices; recall_top5 "
            "measured vs brute force at this SF in this run"
        ),
        "n_exact_pairs": len(exact),
        "ivf_partial_probe_4of8": _run(
            lambda: similarity.ivf_topk(emb, q, cents, k=5, n_probe=4),
            {"fit_sec": fit_sec},
        ),
        "lsh_6tables_multiprobe": _run(
            lambda: similarity.lsh_bucket_topk(emb, q, k=5)
        ),
        "pq_m32_rerank50": _run(
            lambda: similarity.pq_topk(codes, q, books, k=5, rerank=50, corpus=emb)
        ),
    }

    # drift-gated refresh (r15): encoder-shift scenario — labels 0-2
    # re-embedded through x -> 0.5x + 0.25; the drift gate fires for
    # exactly those groups and one Lloyd step re-centers the md5-seeded
    # stale centroids over the drifted slice. Row records the refresh
    # cost plus stale-vs-refreshed top-5 recall at the production
    # partial probe (4 of 8 cells) against brute force on the drifted
    # corpus — the staleness trade the r14 verdict flagged as unmanaged.
    from pyspark.sql import functions as F

    from healthcare_rcm_etl_pipeline_spark.functions.vector import as_double_vec

    ev = as_double_vec("embedding")
    cur = emb.withColumn(
        "embedding",
        F.when(
            F.col("label") < 3,
            F.transform(ev, lambda x: F.round(x * F.lit(0.5) + F.lit(0.25), 6)),
        ).otherwise(ev),
    )
    t0 = time.perf_counter()
    refreshed = similarity.ivf_refresh_centroids(
        similarity.ivf_drift_refresh(emb, cur, n_cells=8, drift_threshold=0.9)
    )
    refresh_sec = round(time.perf_counter() - t0, 3)
    stale_c = similarity.ivf_seed_centroids_md5(emb)
    qd = cur.filter(cur.vec_id % 40 == 0)
    exact_d = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(cur, qd, k=5).collect()
    }
    recalls = {}
    for nm, cc in (("stale", stale_c), ("refreshed", refreshed)):
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.ivf_topk(cur, qd, cc, k=5, n_probe=4).collect()
        }
        recalls[f"recall_{nm}"] = round(len(exact_d & approx) / len(exact_d), 4)
    out["ivf_drift_refresh"] = {
        "refresh_sec": refresh_sec,
        "changed_cells": sum(1 for a, b in zip(stale_c, refreshed) if a != b),
        **recalls,
    }
    return out


def _sentinel_sec(spark, max_iters: int = 30, patience: int = 5) -> float:
    """Converged min wall-clock of a fixed-cost JVM-side job: 50M-row range
    sum over 32 partitions. No IO, no engine code — its only variable is
    machine load, which is exactly what it exists to measure. Converged:
    iterate until the best time stops improving for `patience` consecutive
    runs (capped at max_iters), because the first few runs also measure C2
    JIT depth — a fixed 5-iteration min read ~2x slower BEFORE the bench
    than after it on an otherwise idle machine, flagging JIT warm-up as
    contention (round-8 false positive)."""
    best = float("inf")
    stale = 0
    for _ in range(max_iters):
        t0 = time.perf_counter()
        spark.range(0, 50_000_000, 1, 32).selectExpr("sum(id * 3 + 1)").collect()
        took = time.perf_counter() - t0
        if took < best * 0.98:
            best, stale = min(best, took), 0
        else:
            best = min(best, took)
            stale += 1
            if stale >= patience:
                break
    return best


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark(app_name="hrcm-bench")

    # Warm-up: run every headline query once at the smallest SF. Generated
    # classes are keyed by plan shape, not data size, and get_spark sizes
    # Spark's codegen cache to 4000 classes (session._CODEGEN_CACHE_MAX; the
    # default 100 is smaller than one change night), so the timed runs below
    # reuse them instead of compiling. HotSpot compiles a method with C2
    # only past 10x the JDK's tier-4 thresholds (session._JIT_FLAGS): hot
    # loops still reach C2 within the warm pass, lukewarm code stays at C1.
    warm_dir = os.environ.get("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    if os.path.isdir(warm_dir):
        for name in HEADLINE:
            try:
                _materialize(QUERIES[name](spark, warm_dir))
            except Exception as e:  # warm-up must never fail the bench
                print(f"  warmup {name} failed: {e}", file=sys.stderr)

    # min of N runs: steady-state latency, robust to background-load noise.
    # Sub-second queries get extra iterations — their min is dominated by
    # scheduler/GC jitter, so a deeper min tightens round-over-round deltas
    # at negligible added wall-clock.
    iters = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3")))
    extra = max(0, int(os.environ.get("SPARK_GRAFT_BENCH_EXTRA", "3")))
    sentinel_before = _sentinel_sec(spark)
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for name in HEADLINE:
        runs: list[float] = []
        # row count reported untimed (and doubles as the per-SF first-read
        # warm); the TIMED materialization is a noop-sink write — count()
        # under-measured through round 9: Catalyst prunes whatever a count
        # doesn't need (a unique-keyed final left join, expensive computed
        # columns, even the sums under a 1-row global agg), so e.g.
        # dedup_chunks_rewrite "ran" without ever building clean_text and
        # q01 without computing its ratio. The noop write computes every
        # output column at full cardinality with no driver transfer
        # (measured ~= collect cost, minus the transfer).
        n = QUERIES[name](spark, sf_dir).count()
        for i in range(iters + extra):
            if i >= iters and min(runs) >= 1.0:
                break
            t0 = time.perf_counter()
            _materialize(QUERIES[name](spark, sf_dir))
            runs.append(time.perf_counter() - t0)
        timings[name] = round(min(runs), 3)
        spread[name] = [
            round(min(runs), 3),
            round(statistics.median(runs), 3),
            round(max(runs), 3),
        ]
        print(f"  {name}: {timings[name]:.3f}s ({n} rows)", file=sys.stderr)
    ingest_stats = _bench_streaming_ingest(spark, sf_dir)
    # median per-batch latency rides the per-query delta machinery; the
    # full per-batch trend (must stay flat) is attached alongside
    timings["streaming_ingest_batch"] = round(
        statistics.median(ingest_stats["per_batch_sec"]), 3
    )
    spread["streaming_ingest_batch"] = [
        min(ingest_stats["per_batch_sec"]),
        timings["streaming_ingest_batch"],
        max(ingest_stats["per_batch_sec"]),
    ]
    print(f"  streaming_ingest: {ingest_stats}", file=sys.stderr)
    sem_stats = _bench_semantic_ingest(spark, sf_dir)
    timings["semantic_ingest_batch"] = round(
        statistics.median(sem_stats["per_batch_sec"]), 3
    )
    spread["semantic_ingest_batch"] = [
        min(sem_stats["per_batch_sec"]),
        timings["semantic_ingest_batch"],
        max(sem_stats["per_batch_sec"]),
    ]
    print(f"  semantic_ingest: {sem_stats}", file=sys.stderr)
    pq_stats, pq_codes, pq_books = _bench_pq(spark, sf_dir)
    for nm, runs in (
        ("ann_topk_pq", pq_stats["probe_runs"]),
        ("ann_topk_ivf_pq", pq_stats["ivf_pq_probe_runs"]),
    ):
        timings[nm] = min(runs)
        spread[nm] = [
            min(runs),
            round(statistics.median(runs), 3),
            max(runs),
        ]
    print(f"  ann_topk_pq: {pq_stats}", file=sys.stderr)
    ann_prod = _bench_ann_production(spark, sf_dir, pq_codes, pq_books)
    pq_codes.unpersist()
    print(f"  ann_production: {ann_prod}", file=sys.stderr)
    sentinel_after = _sentinel_sec(spark)

    drift = round(sentinel_after / sentinel_before, 2) if sentinel_before > 0 else 1.0
    total = round(sum(timings.values()), 3)
    # The driver records only the LAST 2000 chars of stdout; the printed
    # JSON line must stay comfortably inside that window or it arrives
    # unparseable (round 4's did). So stdout carries the compact headline
    # document, and everything bulky — spread, per-query deltas, notes,
    # the streaming-ingest trend — goes to the run's detail file
    # (_detail_path), never to the tracked BENCH_DETAIL.json.
    sentinel = {
        "before_sec": round(sentinel_before, 3),
        "after_sec": round(sentinel_after, 3),
        "drift": drift,
        # machine load changed >1.5x during the run: treat per-query
        # numbers as unreliable for round-over-round comparison
        "contended": bool(drift > 1.5 or drift < 1 / 1.5),
    }
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "sentinel": sentinel,
        "detail": _detail_path(),
        "materialize": "noop-write",
    }
    detail = {
        "round": _current_round(),  # validated by _round_detail_from_git
        "spread": spread,  # per-query [min, median, max] over timed iters
        "streaming_ingest": ingest_stats,  # per-batch trend must stay flat
        "semantic_ingest": sem_stats,  # same flatness contract, vector path
        "pq": pq_stats,  # fit/encode (ingestion-time) next to the probe
        # production-config ANN rows (latency + measured recall) — NOT in
        # `queries`: approximate by design, so they carry no oracle hash
        # and ride outside the per-query delta machinery
        "ann_production": ann_prod,
        "sentinel": sentinel,
        "queries": timings,
        "sf": out["sf"],
        "materialize_note": MATERIALIZE_NOTE,
    }
    prev_name, prev, prev_sentinel = _prev_round()
    if prev_sentinel:
        # before/after drift only catches load CHANGES during the run; the
        # cross-round sentinel ratio catches a uniformly slower/faster
        # environment (the r02->r03 2x machine shift) — per-query deltas
        # should be read relative to it
        env = round(min(sentinel_before, sentinel_after) / prev_sentinel, 2)
        sentinel["vs_prev_round"] = env
        sentinel["env_shifted"] = bool(env > 1.5 or env < 1 / 1.5)
    if prev:
        deltas = {
            name: round(timings[name] / prev[name], 2)
            for name in timings
            if name in prev and prev[name] > 0
        }
        out["deltas_vs"] = prev_name
        # total over only the queries the previous round also benched —
        # the honest round-over-round number when HEADLINE grows
        out["comparable_total"] = round(
            sum(t for n, t in timings.items() if n in prev), 3
        )
        detail["deltas_vs"] = prev_name
        detail["deltas"] = deltas  # ratio this-round / prev-round per query
        detail["comparable_total"] = out["comparable_total"]
        # always-on: every intentionally-changed plan carries its note AND
        # the measured ratio, whatever the magnitude — an expected
        # regression below the old 1.5x gate must still surface in the
        # artifact, not only in the git log
        detail["delta_notes"] = {
            k: {"ratio": deltas.get(k), "note": v}
            for k, v in DELTA_NOTES.items()
            if k in timings
        }
    os.makedirs(os.path.dirname(out["detail"]), exist_ok=True)
    with open(out["detail"], "w") as f:
        json.dump(detail, f, indent=1)
    print(_render_stdout_line(out), flush=True)
    spark.stop()


def _render_stdout_line(out: dict) -> str:
    """One JSON line for the driver, with the per-query map ALWAYS present.

    Through r15 the emit path popped `queries` whenever the pretty-printed
    line exceeded 1900 chars — with 67 benched paths that was every round
    since r9, leaving the driver per-query blind (PERF per_query empty, no
    geomean, no low-core scaling ratios; r15 VERDICT item 3). Fix, in order
    of information lost (full precision + every field stays in
    BENCH_DETAIL.json):

    1. compact separators (no spaces);
    2. per-query seconds at 2 decimals (3 dp lives in the detail file);
    3. move non-essential metadata (sentinel, materialize note, deltas_vs,
       comparable_total, detail pointer) to ONE stderr line — the driver's
       window captures interleaved stderr, and the contract keys
       (metric/value/unit/queries/sf) keep the stdout line self-contained;
    4. 1 decimal for queries >= 10 s;
    5. only then pop `queries` (never reached at the current 67 entries:
       measured 1858 chars at step 3; >=100 s values fall back to ints).
    """
    line = json.dumps(out)
    if len(line) <= 1900:
        return line
    out = dict(out)
    if "queries" in out:
        out["queries"] = {k: round(v, 2) for k, v in out["queries"].items()}
    line = json.dumps(out, separators=(",", ":"))
    if len(line) <= 1900:
        return line
    # sentinel last: the driver keeps the LAST 2000 chars of output, so the
    # tail of this stderr line is what survives next to the stdout line
    spill = {
        k: out.pop(k)
        for k in ("materialize", "deltas_vs", "detail", "comparable_total", "sentinel")
        if k in out
    }
    print("bench meta: " + json.dumps(spill, separators=(",", ":")), file=sys.stderr)
    line = json.dumps(out, separators=(",", ":"))
    if len(line) <= 1900:
        return line
    if "queries" in out:
        out["queries"] = {
            k: (int(round(v)) if v >= 100 else round(v, 1) if v >= 10 else v)
            for k, v in out["queries"].items()
        }
        line = json.dumps(out, separators=(",", ":"))
        if len(line) <= 1900:
            return line
    out.pop("queries", None)
    return json.dumps(out, separators=(",", ":"))


if __name__ == "__main__":
    main()
