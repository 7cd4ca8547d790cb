"""Behavioral tests for the dedup/similarity operators: constructed
duplicates are found, LSH candidates cover true near-dups, simhash Hamming
blocking is exact, ANN recall is measured against brute force."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from healthcare_rcm_etl_pipeline_spark.operators import dedup, similarity
from healthcare_rcm_etl_pipeline_spark.operators.multimodal import (
    decode_stub,
    extract_features,
    with_binary_payload,
)

BASE = "the quick brown fox jumps over the lazy dog again and again today"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),                                  # exact dup of 0
        (2, BASE.replace("lazy", "sleepy")),        # near dup of 0
        (3, "completely different content about spark query engines at scale"),
        (4, "  The   QUICK brown fox jumps over the lazy dog again and again today "),  # dup after normalize
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(docs):
    out = {r["keep_id"]: r["n_docs"] for r in dedup.exact_dedup(docs, "text", "doc_id").collect()}
    # 0,1,4 share a canonical form; 2 and 3 are singletons
    assert out[0] == 3 and out[2] == 1 and out[3] == 1


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.4).collect()
    }
    assert pairs[(0, 1)] == 1.0 and pairs[(0, 4)] == 1.0
    assert 0.4 <= pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


def test_max_df_cap_bounds_hot_shingle_pairs(spark):
    # 1000 docs sharing ONE stop-shingle ("common filler phrase pad") but
    # otherwise unique: uncapped, that shingle alone contributes ~500k
    # candidate pairs out of one collect_list row; with max_df the posting
    # list is dropped and only real near-dups survive.
    rows = [(i, f"unique token run {i} alpha{i} beta{i} common filler phrase pad") for i in range(1000)]
    rows.append((1000, rows[0][1]))  # one true exact dup of doc 0
    d = spark.createDataFrame(rows, "doc_id long, text string")

    capped = dedup.ngram_jaccard_pairs(d, "text", "doc_id", threshold=0.3, max_df=100)
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert got == {(0, 1000)}

    # the pre-threshold candidate volume is what the cap bounds: count the
    # emitted pairs before the jaccard filter by lowering threshold to 0
    all_pairs = dedup.ngram_jaccard_pairs(d, "text", "doc_id", threshold=0.0, max_df=100).count()
    assert all_pairs < 5000  # uncapped would be >= C(1000,2) ~ 500k

    # single-pass filter mode enforces the same cap semantics
    filtered = dedup.ngram_jaccard_pairs(
        d, "text", "doc_id", threshold=0.3, max_df=100, cap_mode="filter"
    )
    assert {(r["doc_a"], r["doc_b"]) for r in filtered.collect()} == {(0, 1000)}


def test_minhash_lsh_candidates_cover_true_pairs(docs):
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, "text", "doc_id", k=64, bands=16, verify_threshold=0.4
        ).collect()
    }
    assert {(0, 1), (0, 4), (1, 4)} <= got
    assert (0, 3) not in got


def test_minhash_lsh_equals_exact_jaccard_on_testdata(spark):
    # evidence for the rows-only driver check: on the driver corpus the
    # verified-LSH output is IDENTICAL to the exact-Jaccard pair set
    # (recall 1.0 at k=64/bands=16 for j>=0.5 pairs) at both SFs
    for sf in ["sf0.001", "sf0.01"]:
        d = spark.read.parquet(f"/root/testdata/{sf}/documents.parquet")
        exact = {
            (r["doc_a"], r["doc_b"], r["n_common"])
            for r in dedup.ngram_jaccard_pairs(d, "text", "doc_id", threshold=0.5).collect()
        }
        lsh = {
            (r["doc_a"], r["doc_b"], r["n_common"])
            for r in dedup.minhash_lsh_pairs(
                d, "text", "doc_id", k=64, bands=16, verify_threshold=0.5
            ).collect()
        }
        assert lsh == exact, f"{sf}: LSH missed {len(exact - lsh)} pairs"


def test_simhash_hamming(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_pairs(docs, "text", "doc_id", max_hamming=10).collect()
    }
    assert pairs[(0, 1)] == 0 and pairs[(0, 4)] == 0
    assert (0, 3) not in pairs


def test_embedding_near_dup_blocked(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.999, 0.04, 0.0], 0),   # near dup of 0, same block
        (2, [0.0, 1.0, 0.0], 0),      # orthogonal, same block
        (3, [1.0, 0.0, 0.0], 1),      # identical to 0 but different block
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs(
            df, "embedding", "vec_id", block_col="label", threshold=0.95
        ).collect()
    }
    assert got == {(0, 1)}  # (0,3) blocked away, (0,2) below threshold


def test_embedding_near_dup_label_free_lsh(spark):
    rows = [
        (0, [1.0, 0.0, 0.0] + [0.0] * 61),
        (1, [0.999, 0.04, 0.0] + [0.0] * 61),  # near dup of 0
        (2, [0.0, 1.0, 0.0] + [0.0] * 61),     # orthogonal
        (3, [1.0, 0.0, 0.0] + [0.0] * 61),     # identical to 0 — no label to hide behind
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs(
            df, "embedding", "vec_id", threshold=0.95, dim=64
        ).collect()
    }
    # LSH blocking finds the cross-"label" duplicate the blocked variant cannot
    assert got == {(0, 1), (0, 3), (1, 3)}


def test_ann_lsh_recall_vs_bruteforce(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 40 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(emb, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.lsh_bucket_topk(emb, q, k=5, dim=64).collect()
    }
    recall = len(exact & approx) / len(exact)
    # random near-orthogonal vectors are LSH's worst case; the 6-table
    # multiprobe OR-construction measured ~0.9 here
    assert recall >= 0.5, f"LSH recall {recall:.2f}"


def test_ivf_fit_deterministic_and_assign_total(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    c1 = similarity.ivf_fit(emb, n_cells=8, iters=2)
    c2 = similarity.ivf_fit(emb, n_cells=8, iters=2)
    assert c1 == c2  # hash-sampled seeds + rounded Lloyd means: reproducible
    assert len(c1) == 8 and all(len(c) == len(c1[0]) for c in c1)
    # full probe == brute force: every corpus vector lives in exactly one
    # cell, so probing all cells must recover the exact top-k
    q = emb.filter(F.col("vec_id") % 40 == 0)
    exact = sorted(
        map(tuple, similarity.brute_force_topk(emb, q, k=5).collect())
    )
    full = sorted(
        map(tuple, similarity.ivf_topk(emb, q, c1, k=5, n_probe=8).collect())
    )
    assert full == exact


def test_ivf_persisted_index_probe_equals_recompute(spark, tmp_path):
    """The production shape: assign cells ONCE (ivf_index), persist
    partitioned by cell, then probe the on-disk index — identical results
    to the one-shot recompute path, and the probe's scan carries a
    partition filter on cell (dynamic partition pruning from the broadcast
    query side), so only probed cells are read."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 40 == 0)
    cents = similarity.ivf_fit(emb, n_cells=8, iters=2)

    path = str(tmp_path / "ivf_index")
    similarity.ivf_index(emb, cents).write.partitionBy("cell").parquet(path)
    idx = spark.read.parquet(path)

    probed = similarity.ivf_topk_indexed(idx, q, cents, k=5, n_probe=4)
    recomputed = similarity.ivf_topk(emb, q, cents, k=5, n_probe=4)
    assert sorted(map(tuple, probed.collect())) == sorted(
        map(tuple, recomputed.collect())
    )
    # the on-disk index scan is pruned to the probed cells, not read in full
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_ivf_partial_probe_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 40 == 0)
    cents = similarity.ivf_fit(emb, n_cells=8, iters=2)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(emb, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(emb, q, cents, k=5, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    # near-uniform synthetic vectors scatter true neighbors across cells —
    # half-probe measured ~0.8 here (real embedding corpora cluster much
    # harder and probe far fewer cells)
    assert recall >= 0.5, f"IVF recall {recall:.2f}"


def test_multimodal_stub_strict_raises():
    with pytest.raises(NotImplementedError):
        decode_stub(b"payload", strict=True)


def test_multimodal_features_deterministic(spark):
    df = with_binary_payload(
        spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    )
    r1 = extract_features(df).collect()[0]
    r2 = extract_features(df).collect()[0]
    assert r1 == r2
    assert r1["n_bytes"] == 11
    assert 16 <= r1["width"] <= 255 and 16 <= r1["height"] <= 255


def test_stratified_sample_deterministic_and_proportional(spark):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    s1 = dedup.stratified_sample(docs, "lang", "doc_id", {"en": 0.5})
    s2 = dedup.stratified_sample(docs, "lang", "doc_id", {"en": 0.5})
    ids1 = {r["doc_id"] for r in s1.select("doc_id").collect()}
    ids2 = {r["doc_id"] for r in s2.select("doc_id").collect()}
    assert ids1 == ids2  # same keys survive every run
    before = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    after = {r["lang"]: r["n"] for r in s1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # unlisted strata kept whole; en roughly halved (md5 buckets, not exact)
    for lang in before:
        if lang == "en":
            assert 0.3 * before["en"] <= after["en"] <= 0.7 * before["en"]
        else:
            assert after[lang] == before[lang]


def test_jaccard_cap_modes_agree(spark, sf_dir):
    """All three max_df enforcement modes must produce the identical pair
    set — the mode choice is a cost/skew decision, never a semantic one."""
    from healthcare_rcm_etl_pipeline_spark.operators import dedup as dd
    from healthcare_rcm_etl_pipeline_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents")
    out = {
        mode: sorted(
            map(tuple, dd.ngram_jaccard_pairs(
                d, "text", "doc_id", n=3, threshold=0.5, max_df=20, cap_mode=mode
            ).collect())
        )
        for mode in ("window", "antijoin", "filter")
    }
    assert out["window"] == out["antijoin"] == out["filter"]


def test_keep_priority_junk_source(spark, tmp_path):
    """dedup_keep_priority on a source that does NOT parse as 'srcN': the
    junk-source copy must LOSE to any well-formed source (priority 2^62),
    and the engine must not crash — Spark 4 runs ANSI mode by default, so
    a plain CAST on junk raises CAST_INVALID_INPUT; the query uses
    try_cast so the coalesce-to-2^62 actually fires. Pins the exact
    engine/oracle divergence the r8 advice flagged (crash vs value)."""
    import duckdb

    from healthcare_rcm_etl_pipeline_spark.plans.queries import ORACLES, QUERIES

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        # near-dup cluster: junk source has the LOWER doc_id — under a
        # NULLs-first min_by it would (wrongly) win; under the 2^62
        # policy src9 wins despite the higher id
        (10, base, "en", "web-crawl", len(base)),
        (11, base, "en", "src9", len(base)),
        (12, "completely unrelated text about spark engines at scale", "en", None, 55),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    out = QUERIES["dedup_keep_priority"](spark, str(tmp_path))
    got = {r["doc_id"]: r["source"] for r in out.collect()}
    assert got == {11: "src9", 12: None}

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet/*.parquet'"
    )
    oracle = sorted(map(tuple, con.execute(ORACLES["dedup_keep_priority"]).fetchall()))
    con.close()
    assert oracle == sorted(got.items())


def test_mmr_over_ivf_partial_probe(spark, sf_dir):
    """Production-shaped MMR ∘ ANN composition: IVF with a PARTIAL probe
    (n_probe=4 of 8 Lloyd-refined cells) feeds mmr_topk via the shared
    (query_id, neighbor_id, cos) candidates contract. Checks the
    composition is well-formed (k picks per query, positions 1..k, no
    repeats) and behaviorally sane: the greedy first pick must be the
    IVF pool's own top-1 (stage 1 is a pure relevance argmax), and the
    diversified set must overlap the brute-force MMR set (recall floor,
    not exactness — a partial probe legitimately misses neighbors)."""
    from healthcare_rcm_etl_pipeline_spark.sources.readers import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 40 == 0)
    cents = similarity.ivf_fit(e, n_cells=8, iters=1)
    cand = similarity.ivf_topk(e, q, cents, k=20, n_probe=4)
    out = similarity.mmr_topk(e, q, k=5, pool=20, candidates=cand).collect()

    n_queries = q.count()
    per_q: dict[int, list] = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r)
    assert len(per_q) == n_queries
    for qid, rows in per_q.items():
        assert sorted(r["pos"] for r in rows) == [1, 2, 3, 4, 5]
        assert len({r["neighbor_id"] for r in rows}) == 5
    # stage-1 pick == candidate pool's rank-1 (relevance argmax)
    top1 = {r["query_id"]: r["neighbor_id"] for r in cand.filter("rank = 1").collect()}
    for qid, rows in per_q.items():
        first = next(r["neighbor_id"] for r in rows if r["pos"] == 1)
        assert first == top1[qid]
    # recall floor vs the exact-pool MMR
    exact = similarity.mmr_topk(e, q, k=5, pool=20)
    eset = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    aset = {(r["query_id"], r["neighbor_id"]) for r in out}
    recall = len(eset & aset) / len(eset)
    assert recall >= 0.5, f"MMR-over-IVF recall {recall:.2f} vs exact pool"


def test_leakage_safe_split_keys_on_component(spark):
    """Cluster members must share one split (keyed on the component's
    min id), a doc whose per-doc bucket differs is actually MOVED, and a
    singleton reduces to plain deterministic_split exactly."""
    import hashlib

    def bucket(i: int) -> int:
        return int(hashlib.md5(f"split-v1{i}".encode()).hexdigest()[:12], 16) % 10000

    def split_of(i: int) -> str:
        b = bucket(i)
        return "train" if b < 8000 else ("val" if b < 9000 else "test")

    a = next(i for i in range(1000) if split_of(i) == "train")
    b = next(i for i in range(1000) if split_of(i) == "test" and i != a)
    c = next(i for i in range(1000) if split_of(i) == "val" and i not in (a, b))
    docs = spark.createDataFrame([(a,), (b,), (c,)], "doc_id long")
    pairs = spark.createDataFrame([(min(a, b), max(a, b))], "doc_a long, doc_b long")
    out = {
        r["doc_id"]: (r["component"], r["split"])
        for r in dedup.leakage_safe_split(
            docs, pairs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
        ).collect()
    }
    comp = min(a, b)
    assert out[a] == (comp, split_of(comp))
    assert out[b] == (comp, split_of(comp))  # moved out of its per-doc 'test'
    assert split_of(b) != out[b][1]          # the move actually happened
    assert out[c] == (c, split_of(c))        # singleton == plain split


def test_filtered_ann_prefilter_semantics(spark):
    """Filtered top-k = brute force over the QUALIFYING set — never a
    post-filter of the unfiltered shortlist (which can return < k)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 40 == 0)
    pred = F.col("q_label") != F.col("n_label")
    got = similarity.brute_force_topk(
        emb, q, k=5, attr_cols=("label",), pair_predicate=pred
    )
    rows = got.collect()
    # every query returns a full k (cross-label candidates are plentiful)
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
    assert all(len(v) == 5 for v in per_q.values())
    # pre-filter reference: restrict the corpus per query label, brute force
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    for r in rows:
        assert labels[r["query_id"]] != labels[r["neighbor_id"]]
    # full-probe IVF with the same predicate must equal the filtered brute force
    cents = similarity.ivf_fit(emb, n_cells=4, iters=0)
    ivf = similarity.ivf_topk(
        emb, q, cents, k=5, n_probe=4, attr_cols=("label",), pair_predicate=pred
    )
    assert {tuple(r) for r in ivf.collect()} == {tuple(r) for r in rows}


def test_filtered_ann_beats_postfilter_when_head_crowded(spark):
    """Construct a corpus where the unfiltered top-k head is all same-label:
    post-filtering the shortlist would starve; pre-filter returns k rows."""
    import math as _m

    rows = []
    # query 0 at angle 0, label 0; 6 near-identical label-0 vectors crowd
    # the head; label-1 vectors sit farther out
    rows.append((0, [1.0, 0.0], 0))
    for i in range(1, 7):
        rows.append((i, [_m.cos(0.01 * i), _m.sin(0.01 * i)], 0))
    for i in range(7, 12):
        rows.append((i, [_m.cos(0.5 + 0.1 * i), _m.sin(0.5 + 0.1 * i)], 1))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    q = df.filter(F.col("vec_id") == 0)
    got = similarity.brute_force_topk(
        df, q, k=5, attr_cols=("label",),
        pair_predicate=F.col("q_label") != F.col("n_label"),
    ).collect()
    assert len(got) == 5
    assert {r["neighbor_id"] for r in got} == {7, 8, 9, 10, 11}


def test_mmr_driver_greedy_equals_distributed(spark, both_rounds):
    """The driver-side MMR greedy (candidate and pair sets under the driver
    row bound) must be bit-equal to the distributed unrolled loop (bound
    0). Covers the brute-force candidate path, the external-candidate
    (IVF) path, and a query with fewer candidates than k."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 40 == 0)

    def topk(corpus, queries, **kw):
        return sorted(
            tuple(r) for r in similarity.mmr_topk(corpus, queries, **kw).collect()
        )

    a = both_rounds(lambda: topk(emb, q, k=5, pool=12))
    assert len(a) > 0
    cents = similarity.ivf_fit(emb, n_cells=4, iters=0)
    ca = similarity.ivf_topk(emb, q, cents, k=12, n_probe=4)
    both_rounds(lambda: topk(emb, q, k=5, pool=12, candidates=ca))
    # fewer candidates than k: a 3-vector corpus, k=5 — both paths stop early
    tiny = emb.limit(3)
    tq = tiny.limit(1)
    a3 = both_rounds(lambda: topk(tiny, tq, k=5, pool=10))
    assert 0 < len(a3) < 5


def _drifted_cur(emb):
    """The drift-refresh scenario: labels 0-2 re-embedded through a
    deterministically shifted encoder (x -> 0.5x + 0.25, 6-dp)."""
    from healthcare_rcm_etl_pipeline_spark.functions.vector import as_double_vec

    ev = as_double_vec("embedding")
    return emb.withColumn(
        "embedding",
        F.when(
            F.col("label") < 3,
            F.transform(ev, lambda x: F.round(x * F.lit(0.5) + F.lit(0.25), 6)),
        ).otherwise(ev),
    )


def test_ivf_drift_refresh_gate_and_determinism(spark):
    """r15: the drift gate feeds ONLY the drifted groups' current vectors
    into the Lloyd step, the relation is deterministic across runs, and
    empty cells keep their stale centroid through the helper."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cur = _drifted_cur(emb)
    r1 = similarity.ivf_drift_refresh(emb, cur, n_cells=8, drift_threshold=0.9)
    rows = sorted(map(tuple, r1.collect()))
    assert rows == sorted(
        map(
            tuple,
            similarity.ivf_drift_refresh(
                emb, cur, n_cells=8, drift_threshold=0.9
            ).collect(),
        )
    )
    assert len(rows) == 8 * 64
    # gate: total assigned count == drifted population (labels 0-2), on
    # every dim position
    n_drifted = cur.filter(F.col("label") < 3).count()
    by_pos = {}
    for cell, pos, _stale, n, _s in rows:
        by_pos[pos] = by_pos.get(pos, 0) + n
    assert set(by_pos.values()) == {n_drifted}

    # helper: cells with n == 0 keep the stale centroid verbatim
    stale = similarity.ivf_seed_centroids_md5(emb)
    refreshed = similarity.ivf_refresh_centroids(r1)
    assert len(refreshed) == 8 and all(len(c) == 64 for c in refreshed)
    empty_cells = {
        cell
        for cell in range(8)
        if all(n == 0 for c, _p, _st, n, _s in rows if c == cell)
    }
    for cell in empty_cells:
        assert refreshed[cell] == stale[cell]
    changed = [c for c in range(8) if refreshed[c] != stale[c]]
    assert changed, "drifted slice must move at least one centroid"


def test_ivf_drift_refresh_undrifted_is_noop(spark):
    """With ref == cur every group's centroid cosine is exactly 1, the
    gate passes nothing, and the refresh relation is all-empty cells —
    the monitor-to-maintenance wiring must not churn a healthy index."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    r = similarity.ivf_drift_refresh(emb, emb, n_cells=8, drift_threshold=0.9)
    assert all(row["n"] == 0 and row["sum_scaled"] is None for row in r.collect())
    stale = similarity.ivf_seed_centroids_md5(emb)
    assert similarity.ivf_refresh_centroids(r) == [
        [s for s in c] for c in stale
    ] or similarity.ivf_refresh_centroids(r) == stale


def test_ivf_drift_refresh_recall_and_balance(spark):
    """Production posture: after the encoder shift the drifted cluster
    crowds ONE stale cell (near-linear probe cost for drifted queries);
    the refreshed centroids must not regress recall at the production
    partial probe and must not worsen the hot-cell crowding. Fully
    deterministic scenario — no host-noise tolerance needed."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cur = _drifted_cur(emb)
    stale = similarity.ivf_seed_centroids_md5(emb)
    refreshed = similarity.ivf_refresh_centroids(
        similarity.ivf_drift_refresh(emb, cur, n_cells=8, drift_threshold=0.9)
    )
    # full probe stays exact with EITHER centroid set (assignment is
    # total): the invariance device holds through maintenance
    q = cur.filter((F.col("vec_id") % 20 == 0) & (F.col("label") < 3))
    exact = sorted(map(tuple, similarity.brute_force_topk(cur, q, k=5).collect()))
    assert (
        sorted(map(tuple, similarity.ivf_topk(cur, q, refreshed, k=5, n_probe=8).collect()))
        == exact
    )
    exact_set = {(a, b) for a, b, *_ in exact}

    def _recall(cents, n_probe):
        ap = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.ivf_topk(cur, q, cents, k=5, n_probe=n_probe).collect()
        }
        return len(exact_set & ap) / len(exact_set)

    assert _recall(refreshed, 2) >= _recall(stale, 2)

    def _hot_cell(cents):
        idx = similarity.ivf_index(cur.filter(F.col("label") < 3), cents)
        return max(
            r["n"] for r in idx.groupBy("cell").agg(F.count("*").alias("n")).collect()
        )

    assert _hot_cell(refreshed) <= _hot_cell(stale)


class TestMinhashArrowParity:
    """r16: minhash_signatures moved to a mapInArrow NumPy kernel
    (functions/hash64.py). Every minhash-derived oracle hash rides on these
    longs, so the Arrow path must be BIT-identical to the expression
    reference (minhash_signatures_expr) — pinned here on real testdata and
    on constructed edge cases (doc with exactly n tokens, repeated shingles,
    unicode, many docs spanning multiple rows per partition)."""

    def _assert_identical(self, fast, ref):
        f = {r["doc"]: r for r in fast.collect()}
        e = {r["doc"]: r for r in ref.collect()}
        assert set(f) == set(e)
        for doc, row in e.items():
            assert f[doc].asDict() == row.asDict(), f"doc {doc} differs"

    def test_parity_constructed_edges(self, spark):
        rows = [
            (0, "a b c"),                    # exactly n tokens -> 1 shingle
            (1, "a b c a b c a b c"),        # repeated shingles
            (2, "x y"),                      # too short -> no row
            (3, "päällekkäisyys olisi löydettävä täältä myös"),  # unicode
            (4, " ".join(f"tok{i % 7}" for i in range(500))),    # long doc
            (5, ""),                          # empty
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        self._assert_identical(
            dedup.minhash_signatures(df, "text", "doc_id", k=64, n=3),
            dedup.minhash_signatures_expr(df, "text", "doc_id", k=64, n=3),
        )

    def _assert_signatures_and_bands_identical(self, docs):
        sig = dedup.minhash_signatures_expr(docs, "text", "doc_id", k=64, n=3)
        self._assert_identical(
            dedup.minhash_signatures(docs, "text", "doc_id", k=64, n=3), sig
        )
        # band hashes chain the signature longs: parity must survive them
        bands = {
            (r["doc"], r["band"]): r["bh"]
            for r in dedup.minhash_band_table(docs, "text", "doc_id").collect()
        }
        ref_bands = {
            (r["doc"], r["band"]): r["bh"]
            for r in sig.select(
                "doc",
                F.explode(
                    F.array(*[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.xxhash64(*[F.col(f"mh{b * 4 + i}") for i in range(4)]).alias("bh"),
                        )
                        for b in range(16)
                    ])
                ).alias("bb"),
            ).select("doc", "bb.band", "bb.bh").collect()
        }
        assert bands == ref_bands

    def test_parity_testdata_and_band_table(self, spark, sf_dir):
        from healthcare_rcm_etl_pipeline_spark.sources.readers import load_table

        self._assert_signatures_and_bands_identical(load_table(spark, sf_dir, "documents"))

    def test_parity_testdata_first_docs(self, spark, sf_dir):
        """Fast-tier slice of the real-data parity test above: the first 40
        documents, signatures plus band hashes."""
        from healthcare_rcm_etl_pipeline_spark.sources.readers import load_table

        docs = load_table(spark, sf_dir, "documents").orderBy("doc_id").limit(40)
        self._assert_signatures_and_bands_identical(docs)

    def test_parity_nonstandard_k(self, spark):
        rows = [(i, f"alpha beta gamma delta tok{i} epsilon zeta") for i in range(20)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        self._assert_identical(
            dedup.minhash_signatures(df, "text", "doc_id", k=16, n=2),
            dedup.minhash_signatures_expr(df, "text", "doc_id", k=16, n=2),
        )
