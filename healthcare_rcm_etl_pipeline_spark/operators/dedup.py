"""Deduplication operators for training-data pipelines, Spark-first.

Five strategies, all expressed as shuffles Catalyst can plan (groupBy /
explode / equi-join) — no driver-side pairwise loops, no O(n^2) unless
bucketed first:

- exact_dedup: canonical-text md5 -> groupBy fingerprint, keep min id.
- ngram_jaccard_pairs: exact Jaccard over distinct word shingles via a
  shared-shingle equi-join (posting-list style) — O(sum of posting-list^2),
  the classic exact near-dup verifier.
- minhash_lsh_pairs: k minhashes from 2-universal (a*h+b mod p) permutations
  over xxhash64 shingle hashes, banded LSH bucketing, candidate pairs from
  bucket joins, optional exact-Jaccard verification. The 100 TB path: cost is
  linear in corpus size + bucket collisions.
- simhash_pairs: 64-bit simhash by summing per-token hash bit-vectors,
  near-dup = Hamming distance <= k via band-rotation blocking.
- embedding_near_dup_pairs: cosine >= tau pairs, blocked (by a label/bucket
  column) to avoid the full cross product.

All hashing uses Spark-internal xxhash64 — deterministic across runs and
partitionings, engine-internal (documented as not portable to SQL oracles).
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from healthcare_rcm_etl_pipeline_spark.functions.text import fingerprint_md5
from healthcare_rcm_etl_pipeline_spark.functions.vector import cosine, dot, norm
from healthcare_rcm_etl_pipeline_spark.operators.buckets import bounded_bucket_collect
from healthcare_rcm_etl_pipeline_spark.operators.similarity import (
    hyperplanes,
    lsh_candidate_pairs,
    sign_sketch,
)

def deterministic_split(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float],
    salt: str = "split-v1",
    out_col: str = "split",
) -> DataFrame:
    """Stable train/val/test assignment: bucket = md5(salt || key) mod 10000,
    ranges assigned by cumulative fractions. Same key -> same split on every
    run, every engine, any partitioning — the property rand()-based
    splitting lacks (and the reason eval sets stay uncontaminated when the
    corpus is re-processed). md5 (not xxhash) so external SQL engines
    reproduce the assignment exactly.
    """
    # first 12 hex chars -> 48-bit int: exact in double/bigint everywhere
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), 1, 12), 16, 10)
        .cast("bigint")
        % 10000
    )
    expr = None
    acc = 0.0
    for name, frac in fractions.items():
        acc += frac
        cond = bucket < int(round(acc * 10000))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return df.withColumn(out_col, expr.otherwise(F.lit("rest")))


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    key_col: str,
    fractions: dict[str, float],
    salt: str = "split-v1",
    out_col: str = "split",
) -> DataFrame:
    """Near-dup-aware train/val/test split: every member of a near-dup
    CLUSTER receives the SAME assignment — the split buckets on the
    cluster's connected-component label (min member id), never the doc's
    own id, so a test document's near-duplicate cannot land in train.
    Plain per-doc splitting leaks evaluation data through duplicates (the
    classic contamination bug ``deterministic_split`` alone cannot
    prevent: two near-identical docs hash to independent buckets);
    keying on the component makes the leak structurally impossible, and
    unpaired docs fall back to their own id, so the assignment reduces to
    ``deterministic_split`` exactly on duplicate-free data.

    ``pairs`` is any near-dup pair relation (doc_a, doc_b) — Jaccard,
    MinHash-LSH, SimHash, embedding near-dup all emit it. Scale shape:
    one connected-components pass over the PAIR graph (pairs-sized, not
    corpus-sized), one left join back to the corpus keyed on ids, then
    the same pure-expression md5 bucketing as ``deterministic_split``.

    Returns ``df``'s rows as (key_col, component, out_col).
    """
    from healthcare_rcm_etl_pipeline_spark.operators import graph

    comp = graph.broadcast_if_local(graph.connected_components(pairs))
    comp = comp.withColumnRenamed("doc", key_col)
    return leakage_safe_split_from_components(
        df, comp, key_col, fractions, salt, out_col
    )


def leakage_safe_split_from_components(
    df: DataFrame,
    components: DataFrame,
    key_col: str,
    fractions: dict[str, float],
    salt: str = "split-v1",
    out_col: str = "split",
) -> DataFrame:
    """``leakage_safe_split`` served from a PRECOMPUTED component labeling
    (key_col/``component`` rows — e.g. the persisted ``components/epoch=N``
    state a component-labeling ingestion stream maintains,
    ``streaming/ingest.py:make_component_ingest_batch_fn``): the split is
    one left join + pure-expression bucketing, no pair generation and no
    CC iteration per call — the production shape when splits/survivors are
    served repeatedly over a growing corpus. Docs absent from
    ``components`` fall back to their own id (same contract as
    ``leakage_safe_split``: unpaired docs reduce to deterministic_split).
    """
    comp = components.select(
        F.col(key_col) if key_col in components.columns else F.col("doc").alias(key_col),
        "component",
    )
    keyed = df.select(key_col).join(comp, key_col, "left").select(
        key_col, F.coalesce("component", F.col(key_col)).alias("component")
    )
    return deterministic_split(keyed, "component", fractions, salt, out_col)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    fractions: dict[str, float],
    salt: str = "strata-v1",
) -> DataFrame:
    """Deterministic stratified sampling: per-stratum keep fractions via the
    same md5-bucket device as deterministic_split — a row is kept iff
    ``md5(salt || key) mod 10000 < fraction * 10000`` for its stratum's
    fraction. Corpus rebalancing (e.g. downsample over-represented
    languages/domains) with properties ``sampleBy``'s RNG lacks: the same
    key survives on every run, engine, and partitioning, and the sample is
    reproducible in plain SQL for oracles. Strata absent from ``fractions``
    are kept whole (fraction 1.0). Pure narrow ops — no shuffle.
    """
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), 1, 12),
            16,
            10,
        ).cast("bigint")
        % 10000
    )
    thresh = None
    for name, frac in fractions.items():
        cut = F.lit(int(round(frac * 10000)))
        thresh = (
            F.when(F.col(strata_col) == name, cut)
            if thresh is None
            else thresh.when(F.col(strata_col) == name, cut)
        )
    thresh = F.lit(10000) if thresh is None else thresh.otherwise(F.lit(10000))
    return df.filter(bucket < thresh)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicates by canonical md5: one survivor (min id) per group.

    No _fan_out here: the per-row hash is cheap (unlike shingling), and the
    groupBy's own exchange already redistributes — a pre-shuffle of the full
    text would only add cost."""
    return (
        df.select(F.col(id_col), fingerprint_md5(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_docs"),
        )
    )


def _fan_out(df: DataFrame, id_col: str) -> DataFrame:
    """Repartition by id before explode-heavy work: a corpus read from few
    parquet files would otherwise run the whole shingle/hash pipeline in as
    few tasks (observed: 1 task = 20s for a 1.3s job). Hash-partitioning on
    the doc id spreads rows evenly and is exactly the layout the downstream
    groupBy(doc) wants.

    Skipped when the input already has >= parallelism partitions: a 100 TB
    corpus arrives in thousands of scan partitions, and an unconditional
    repartition there would shuffle the full document text for nothing."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= parallelism:
        return df
    return df.repartition(parallelism, id_col)


def _shingle_arrays(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(doc, shingles) with tokens materialized in their own projection —
    see shingles_from_tokens: inlining tokens() into the shingle lambda
    re-tokenizes once per position (~10× slower)."""
    from healthcare_rcm_etl_pipeline_spark.functions.text import (
        shingles_from_tokens,
        tokens,
    )

    return (
        _fan_out(df, id_col)
        .select(F.col(id_col).alias("doc"), tokens(text_col).alias("__toks"))
        .select("doc", shingles_from_tokens(F.col("__toks"), n).alias("shingles"))
    )


def _shingle_posting(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    return (
        _shingle_arrays(df, text_col, id_col, n)
        .withColumn("n_shingles", F.size("shingles"))
        .withColumn("shingle", F.explode("shingles"))
        .drop("shingles")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs, posting-list style without a
    self-join: group docs per shingle, emit each shingle's doc-pair
    combinations with array expressions, then count co-occurrences per pair.
    One pass over the corpus, two shuffles total (vs. the naive self-join
    that shuffles — and recomputes — the whole shingling pipeline twice).

    jaccard = |A∩B| / (|A|+|B|-|A∩B|); pairs with doc_a < doc_b.
    Skew note: a shingle shared by d docs emits d(d-1)/2 pairs; for web-scale
    corpora drop stop-shingles first via ``max_df`` (they carry no near-dup
    signal and dominate cost).

    The cap is a single pass: a partition-count window over __sh tags
    each posting with its shingle's df and filters before collect_list;
    the downstream groupBy(__sh) REUSES the window's hash partitioning, so
    the cap costs no extra exchange. The window buffers each shingle's
    postings spillably but never materializes an array — safe until a
    single stop-shingle's postings dwarf one task's spill budget. (An
    anti-join of the hot set and a post-aggregation size filter gave
    identical output and measured slower; SCALE.md keeps the numbers.)
    """
    cooc = _posting_cooccurrence(
        _shingle_posting(df, text_col, id_col, n), max_df
    )
    return (
        cooc.withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def _hashed_window_posting(
    df: DataFrame, text_col: str, id_col: str, w: int
) -> DataFrame:
    """(doc, n_shingles, shingle) postings for w-token windows, built with
    a per-doc LEAD window instead of array expressions: posexplode the
    tokens, take w-1 LEADs over (doc, pos), and fingerprint the w columns
    with one multi-arg xxhash64. Higher-order array functions (zip_with /
    transform lambdas) are NOT whole-stage-codegen'd — the w-1 interpreted
    array passes of the ngram_array form cost 4.7s at sf0.1/w=20 where
    this fully-codegen'd window form costs 1.0s. The per-doc window sorts
    only within a document (bounded length — never a global sort) and the
    downstream distinct reuses small (doc, long) rows.

    The crossover is w-dependent: the LEAD form pays a fixed
    posexplode + per-doc-sort + distinct cost, the array form pays w-1
    interpreted passes — measured at sf0.1, w=3 favors arrays (2.2s vs
    5.2s) while w=20 favors LEAD (1.0s vs 4.7s), which is why
    ngram_jaccard_pairs keeps _shingle_posting and only the long-window
    substring op routes here.

    Output contract matches _shingle_posting (distinct windows per doc)
    except 'shingle' is a long — _posting_cooccurrence re-hashes it, a
    cheap long->long step that keeps the two posting sources drop-in
    compatible. Docs shorter than w tokens emit no postings (same as the
    string form)."""
    from pyspark.sql import Window

    from healthcare_rcm_etl_pipeline_spark.functions.text import tokens

    toks = _fan_out(df, id_col).select(
        F.col(id_col).alias("doc"), tokens(text_col).alias("__toks")
    )
    pos = toks.select("doc", F.posexplode("__toks").alias("pos", "tok"))
    wspec = Window.partitionBy("doc").orderBy("pos")
    cols = [F.col("tok")] + [F.lead("tok", i).over(wspec) for i in range(1, w)]
    # contiguous positions: the last lead is null iff the window runs off
    # the document end (then every longer lead is null too)
    hashed = pos.select(
        "doc", F.when(cols[-1].isNotNull(), F.xxhash64(*cols)).alias("__h")
    ).filter(F.col("__h").isNotNull())
    dist = hashed.distinct()
    wcount = Window.partitionBy("doc")
    return dist.select(
        "doc",
        F.count("*").over(wcount).alias("n_shingles"),
        F.col("__h").alias("shingle"),
    )


def _posting_cooccurrence(post: DataFrame, max_df: int | None) -> DataFrame:
    """Shared core of the posting-list pair ops: (doc, n_shingles, shingle)
    postings -> (doc_a, doc_b, n_a, n_b, n_common) co-occurrence counts,
    with the stop-shingle skew cap applied (see ngram_jaccard_pairs)."""
    # hash the shingle string ONCE to a 64-bit key: all downstream shuffles
    # (df cap + pair grouping) move 8-byte longs, never the strings; a
    # cross-shingle collision (~n²/2^64) would merge two posting lists —
    # negligible for any real corpus
    post = post.withColumn("__sh", F.xxhash64("shingle")).drop("shingle")
    if max_df is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("__sh")
        post = (
            post.withColumn("__df", F.count("*").over(w))
            .filter(F.col("__df") <= max_df)
            .drop("__df")
        )
    grouped = post.groupBy(F.col("__sh")).agg(
        F.sort_array(F.collect_list(F.struct("doc", "n_shingles"))).alias("ds")
    )
    # all (i<j) combinations of each shingle's posting list
    pairs = grouped.select(F.explode(_pairs_in_array(F.col("ds"))).alias("p")).select(
        F.col("p.a.doc").alias("doc_a"),
        F.col("p.b.doc").alias("doc_b"),
        F.col("p.a.n_shingles").alias("n_a"),
        F.col("p.b.n_shingles").alias("n_b"),
    )
    return pairs.groupBy("doc_a", "doc_b", "n_a", "n_b").agg(
        F.count("*").alias("n_common")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold_pct: int = 70,
    max_df: int | None = None,
) -> DataFrame:
    """Shingle-CONTAINMENT near-dup pairs: C(A→B) = |A∩B| / |A| — the
    asymmetric cousin of Jaccard (Broder's resemblance vs containment,
    "On the resemblance and containment of documents", SEQUENCES'97).
    Jaccard misses SUBSET duplicates: a paragraph quoted inside a much
    longer document scores |A∩B|/|A∪B| ≈ |A|/|B| → 0, yet its containment
    is ≈ 1. This is the partial-copy / quotation / excerpt detector a
    training-corpus pipeline needs alongside symmetric near-dup.

    Emits (doc_a < doc_b) pairs where max(C(A→B), C(B→A)) =
    n_common / min(n_a, n_b) clears ``threshold_pct``. The filter is
    INTEGER arithmetic (100·n_common ≥ pct·min) so engine and oracle agree
    exactly; the reported ``containment`` double is a single IEEE division
    computed identically on both sides.

    Same posting-list core (and therefore the same scale story) as
    ``ngram_jaccard_pairs``: one pass, two shuffles, ``max_df`` stop-
    shingle cap. Containment is MORE cap-sensitive than Jaccard — a
    dropped stop-shingle removes intersection mass from small docs
    disproportionately — so size max_df above the largest doc's shingle
    count when subset recall matters.
    """
    cooc = _posting_cooccurrence(
        _shingle_posting(df, text_col, id_col, n), max_df
    )
    min_sz = F.least(F.col("n_a"), F.col("n_b"))
    return (
        cooc.filter(F.lit(100) * F.col("n_common") >= F.lit(threshold_pct) * min_sz)
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            "n_common",
            (F.col("n_common") / min_sz.cast("double")).alias("containment"),
        )
    )


def exact_substring_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 20,
    min_windows: int = 1,
    max_df: int | None = None,
) -> DataFrame:
    """Exact-substring duplication detection, the Spark-shaped analog of the
    suffix-array dedup in Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better"): two docs are substring-duplicates when
    they share at least ``min_windows`` DISTINCT exact runs of ``window``
    consecutive tokens. Any shared run of >= window tokens is caught (a run
    of length L >= window contributes L - window + 1 shared windows), which
    is the suffix-array criterion discretized to a slide-by-one window —
    expressible as the same posting-list equi-join the n-gram ops use, so
    Catalyst plans it with two shuffles and no self-join.

    Differs from ngram_jaccard_pairs in what it flags: Jaccard needs
    whole-document similarity; this fires on a single long verbatim span
    (boilerplate, license blocks, quoted articles) even when the rest of
    the two docs is unrelated — the duplication class n-gram Jaccard is
    blind to at realistic thresholds.

    Returns (doc_a, doc_b, n_shared, dup_frac) where n_shared counts the
    distinct shared windows and dup_frac = n_shared / min(n_a, n_b) — an
    upper-bound estimate of the smaller doc's duplicated fraction. Skew:
    same stop-shingle hazard as the n-gram ops (a window shared by d docs
    emits d(d-1)/2 pairs) — ``max_df`` applies unchanged, though
    at window >= 20 natural stop-windows are rare; caps matter for
    machine-generated boilerplate corpora."""
    cooc = _posting_cooccurrence(
        _hashed_window_posting(df, text_col, id_col, window), max_df
    )
    return (
        cooc.filter(F.col("n_common") >= min_windows)
        .withColumn(
            "dup_frac",
            F.col("n_common") / F.least("n_a", "n_b").cast("double"),
        )
        .select(
            "doc_a", "doc_b", F.col("n_common").alias("n_shared"), "dup_frac"
        )
    )


def _pairs_in_array(ds: F.Column) -> F.Column:
    """All (i < j) element pairs of a sorted array column, as an array of
    structs (a, b) — the posting-list pair emitter. Array expressions only:
    the bucket's combinations are produced inside one projection, no
    self-join, so the bucket's lineage is computed ONCE (a self-join
    recomputes it per side — measured 2x the whole upstream pipeline)."""
    return F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + 2, F.size(ds)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def _minhash_shingle_hashes(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(doc, n_shingles, __hs): per-doc array of 64-bit shingle hashes —
    the shared front half of both minhash paths. The shingle string is
    hashed ONCE to a long; docs with no shingles (shorter than n tokens)
    produce no row, enforced as a TOKEN-COUNT filter on the raw text
    (cheap to recompute when Catalyst pushes it to the scan); filtering
    on size(shingles) instead pushes the whole shingle expression into
    the Filter node and runs the pipeline twice per row (seen in the
    plan)."""
    from healthcare_rcm_etl_pipeline_spark.functions.text import tokens as _tokens

    return _shingle_arrays(
        df.filter(F.size(_tokens(text_col)) >= n), text_col, id_col, n
    ).select(
        "doc",
        F.size("shingles").alias("n_shingles"),
        F.transform("shingles", lambda s: F.xxhash64(s)).alias("__hs"),
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, k: int = 64, n: int = 3
) -> DataFrame:
    """k-minhash signature per doc: the shingle string is hashed ONCE to a
    long, then the k 'permutations' are cheap long-hashes of (h, seed_i) —
    hashing the string k times would cost k× the bytes.

    r16: the k per-permutation mins run in ONE mapInArrow pass (guide §4.2):
    vectorized uint64 NumPy reproduces Spark's xxhash64-over-long bit
    exactly (functions/hash64.py; parity pinned in tests), with the
    (h, 42) inner hash computed once per shingle and reused by all k seeds
    — the expression form re-derived it k times. The pre-r16 form (kept
    below as minhash_signatures_expr, the parity test's reference) ran k
    interpreted transform+array_min passes per row: higher-order lambdas
    are not whole-stage-codegen'd, and they dominated every band-table
    build (~2.3 s/ingest batch at sf0.1). Still zero shuffle — signatures
    stay embarrassingly parallel at 100 TB; only (doc, n_shingles, __hs)
    crosses the Python boundary (explicit select, guide §4.1)."""
    return _minhash_mins_arrow(_minhash_shingle_hashes(df, text_col, id_col, n), k)


def minhash_signatures_expr(
    df: DataFrame, text_col: str, id_col: str, k: int = 64, n: int = 3
) -> DataFrame:
    """Pure-expression reference implementation (pre-r16 main path): k
    array_min(transform(__hs, h -> xxhash64(h, i))) column expressions.
    Kept as the bit-parity oracle for the Arrow path and as the fallback
    for environments without NumPy/Arrow workers."""
    base = _minhash_shingle_hashes(df, text_col, id_col, n)
    mins = [
        F.array_min(F.transform("__hs", lambda h: F.xxhash64(h, F.lit(i)))).alias(f"mh{i}")
        for i in range(k)
    ]
    return base.select("doc", "n_shingles", *mins)


def _minhash_mins_arrow(base: DataFrame, k: int) -> DataFrame:
    """mapInArrow kernel: per-doc k-permutation minima over the shingle
    hash arrays, bit-identical to array_min(transform(__hs, h ->
    xxhash64(h, i))).

    Per batch: flatten the list column (absolute offsets into the child
    values, valid even for sliced arrays), hash every shingle long once
    with seed 42 (the inner hash is seed-independent), then for each
    permutation i apply the remaining ~6 uint64 vector ops and take
    per-document minima with np.minimum.reduceat over the int64 view
    (Spark longs compare signed). Empty docs (impossible via the token
    filter, but cheap to honor) yield NULL like array_min(empty)."""
    import numpy as np

    from healthcare_rcm_etl_pipeline_spark.functions import hash64 as hx

    out_fields = ["doc", "n_shingles"] + [f"mh{i}" for i in range(k)]
    doc_t = base.schema["doc"].dataType.simpleString()
    schema = f"doc {doc_t}, n_shingles int, " + ", ".join(
        f"mh{i} bigint" for i in range(k)
    )

    def gen(batches):
        import pyarrow as pa

        # the i-th 'permutation' is xxhash64(h, lit(i)) with lit(i) an INT
        # literal — Catalyst's 4-byte hashInt path, whose per-i term is
        # (i & 0xffffffff) * P1, precomputable for all k seeds
        ki = (np.arange(k, dtype=np.uint64) & hx._M32) * hx._P1
        for b in batches:
            if b.num_rows == 0:
                continue
            col = b.column(b.schema.get_field_index("__hs"))
            offsets = col.offsets.to_numpy().astype(np.intp, copy=False)
            # a sliced array's child may run past offsets[-1]: hash only
            # the values its rows cover
            values = col.values.to_numpy(zero_copy_only=False)[: offsets[-1]]
            inner = hx.xxh64_long(values)  # uint64 (S,): hashLong(h, 42)
            basis = inner + hx._P5 + np.uint64(4)  # hashInt seed-expansion
            lengths = np.diff(offsets)
            empty = lengths == 0
            # reduceat ONLY at non-empty rows' starts: empty rows occupy
            # zero width in `values`, so the j-th segment still covers
            # exactly the j-th non-empty row, the indices stay strictly
            # increasing, and no index can reach len(values)
            ne_starts = offsets[:-1][~empty]
            any_empty = bool(empty.any())
            mask = empty if any_empty else None
            n_rows = len(lengths)
            cols = [b.column(0), b.column(1)]
            for i in range(k):
                h = basis ^ ki[i]
                h = hx._rotl(h, hx._U23) * hx._P2 + hx._P3
                h = hx.fmix(h).view(np.int64)
                if any_empty:
                    m = np.zeros(n_rows, dtype=np.int64)
                    if len(ne_starts):
                        m[~empty] = np.minimum.reduceat(h, ne_starts)
                else:
                    m = np.minimum.reduceat(h, ne_starts)
                cols.append(pa.array(m, type=pa.int64(), mask=mask))
            yield pa.RecordBatch.from_arrays(cols, names=out_fields)

    return base.mapInArrow(gen, schema)


def minhash_band_table(
    df: DataFrame, text_col: str, id_col: str, k: int = 64, bands: int = 16, n: int = 3
) -> DataFrame:
    """(doc, band, bh): the banded-minhash index rows for a corpus — each
    doc appears once per band with the 64-bit hash of that band's signature
    rows. THIS is the table a production pipeline persists (bucketed by
    (band, bh)) as its near-dup index: incremental ingestion probes it
    instead of re-banding history (see minhash_lsh_pairs_incremental's
    ``base_bands``). Pure per-row expressions over the signatures + one
    explode — shuffle-free."""
    rows = k // bands
    sig = minhash_signatures(df, text_col, id_col, k=k, n=n)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col(f"mh{b * rows + r}") for r in range(rows)]).alias("bh"),
        )
        for b in range(bands)
    ]
    return sig.select("doc", F.explode(F.array(*band_cols)).alias("bb")).select(
        "doc", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 64,
    bands: int = 16,
    n: int = 3,
    verify_threshold: float | None = 0.5,
    max_bucket: int | None = 1024,
    prebuilt_bands: DataFrame | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs from minhash signatures.

    bands × rows layout (rows = k/bands); docs colliding on any band's full
    row-hash become candidates. With verify_threshold set, candidates are
    verified with exact Jaccard computed ONLY for the candidate pairs
    (shingle-array intersect on the joined pair — cost scales with the
    candidate count, not the corpus).

    Candidates come from ONE groupBy on (band, band-hash) with in-array pair
    emission — not a banded self-join, which recomputes the whole
    signature pipeline per join side (measured 2x end-to-end).
    ``max_bucket`` drops buckets with more than that many docs BEFORE the
    bucket is ever aggregated (bounded_bucket_collect: a spillable window
    count, not a post-collect size filter — so a degenerate bucket never
    materializes its member array in an agg buffer either): a bucket of d
    docs emits d(d-1)/2 candidates, and at web scale a degenerate band
    value (e.g. empty/boilerplate docs) otherwise turns the linear LSH
    pass quadratic. Near-dup clusters are tiny relative to 1024; set None
    to disable.

    ``prebuilt_bands``: a ``minhash_band_table(df, ...)`` the caller
    already materialized (the streaming ingest paths build one per batch
    for the index probe AND the state write) — passing it through avoids
    re-minhashing the batch here; it must be the band table of THIS df at
    the same k/bands/n (caller contract).
    """
    banded = (
        prebuilt_bands
        if prebuilt_bands is not None
        else minhash_band_table(df, text_col, id_col, k=k, bands=bands, n=n)
    )
    grouped = bounded_bucket_collect(banded, ["band", "bh"], F.col("doc"), max_bucket)
    cand = (
        grouped.select(F.explode(_pairs_in_array(F.col("ds"))).alias("p"))
        .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .dropDuplicates()
    )
    if verify_threshold is None:
        return cand
    # exact-Jaccard verification restricted to candidates, via a MELT join:
    # pairs explode to (doc_a, doc_b, doc) rows, ONE join fetches each doc's
    # hashed-shingle array, a tiny groupBy reassembles the pair. Joining
    # cand twice (once per side) instead would recompute the full shingling
    # lineage per side — one extra corpus pass, verified by counting 'Scan
    # parquet' nodes in the executed plan. Arrays carry 8-byte xxhash64
    # shingle hashes, not strings: same intersect/size semantics (a
    # cross-hash collision inside one pair's union is ~2^-40), far fewer
    # shuffle bytes.
    sh = _shingle_arrays(df, text_col, id_col, n).select(
        "doc", F.transform("shingles", lambda s: F.xxhash64(s)).alias("hs")
    )
    melt = cand.select(
        "doc_a", "doc_b", F.explode(F.array("doc_a", "doc_b")).alias("doc")
    )
    verified = (
        melt.join(sh, "doc")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max(F.when(F.col("doc") == F.col("doc_a"), F.col("hs"))).alias("hs_a"),
            F.max(F.when(F.col("doc") == F.col("doc_b"), F.col("hs"))).alias("hs_b"),
        )
        .withColumn("n_common", F.size(F.array_intersect("hs_a", "hs_b")))
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.size("hs_a") + F.size("hs_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= verify_threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )
    return verified


SIMHASH_BITS = 63          # xxhash64 token hash, sign bit avoided
SIMHASH_PORTABLE_BITS = 60  # md5-prefix token hash, reproducible in ANSI SQL


def simhash64(
    df: DataFrame, text_col: str, id_col: str, portable: bool = False
) -> DataFrame:
    """Simhash: sign of per-bit sums of token-hash bit-vectors.

    Expressed with explode + groupBy over the per-bit conditional sums.
    The groupBy's hash aggregate partial-aggregates MAP-SIDE (a doc's
    exploded tokens are adjacent in their partition), so the exchange moves
    ~one 63-int row per doc, not the tokenized corpus — this shape is both
    the codegen fast path locally (measured 1.3x faster than a pure-map
    higher-order fold, whose lambdas are interpreted and allocate per
    token) and shuffle-light at 100 TB.

    ``portable=False`` (default): 63-bit xxhash64 token hash — the fast path.
    ``portable=True``: 60-bit hash from the first 15 hex chars of md5(token),
    bit-reproducible in any engine with md5 (DuckDB, Trino, BigQuery) — used
    by the driver oracle to recompute the FULL simhash semantics in SQL;
    ~2× slower per token than xxhash64, same shuffle shape.
    """
    nbits = SIMHASH_PORTABLE_BITS if portable else SIMHASH_BITS
    tok_hash = (
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
        if portable
        else F.xxhash64("tok")
    )
    toks = _fan_out(df, id_col).select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.filter(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda t: t != "")
        ).alias("tok"),
    ).withColumn("h", tok_hash)
    bit_sums = [
        F.sum(F.when(F.col("h").bitwiseAND(F.lit(1 << i)) != 0, 1).otherwise(-1)).alias(
            f"b{i}"
        )
        for i in range(nbits)
    ]
    agg = toks.groupBy("doc").agg(*bit_sums)
    return agg.select(
        "doc",
        sum(
            [F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0)) for i in range(nbits)],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    blocks: int = 4,
    portable: bool = False,
    max_bucket: int | None = 1024,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Pigeonhole blocking: split the hash bits into ``blocks`` segments; any
    pair within Hamming k < blocks must agree on >= one full segment. The
    block is ONE explode to (block, segment-value) + ONE groupBy with
    in-array pair emission, each pair carrying both simhashes for the exact
    ``bit_count(xor)`` check — no per-segment self-join (which recomputes
    the simhash aggregation 2 x blocks times) and no rejoin to fetch
    hashes. ``max_bucket`` is the hot-segment guard (a degenerate segment —
    e.g. all-zero bits from near-empty docs — would emit quadratic pairs).
    """
    sim = simhash64(df, text_col, id_col, portable=portable)
    nbits = SIMHASH_PORTABLE_BITS if portable else SIMHASH_BITS
    seg_bits = nbits // blocks
    seg_structs = [
        F.struct(
            F.lit(i).alias("blk"),
            (
                F.shiftrightunsigned(F.col("simhash"), i * seg_bits)
                .bitwiseAND(F.lit((1 << seg_bits) - 1))
            ).alias("seg"),
        )
        for i in range(blocks)
    ]
    exploded = sim.select(
        "doc", "simhash", F.explode(F.array(*seg_structs)).alias("bs")
    ).select("doc", "simhash", F.col("bs.blk").alias("blk"), F.col("bs.seg").alias("seg"))
    grouped = bounded_bucket_collect(
        exploded, ["blk", "seg"], F.struct("doc", "simhash"), max_bucket
    )
    out = (
        grouped.select(F.explode(_pairs_in_array(F.col("ds"))).alias("p"))
        .select(
            F.col("p.a.doc").alias("doc_a"),
            F.col("p.b.doc").alias("doc_b"),
            F.col("p.a.simhash").alias("sh_a"),
            F.col("p.b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
    return out


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    block_col: str | None = None,
    threshold: float = 0.99,
    n_planes: int | str | None = None,
    n_tables: int = 12,
    dim: int = 64,
    seed: int = 42,
    max_bucket: int | None = None,
    target_bucket_rows: int = 256,
) -> DataFrame:
    """Pairs with cosine >= threshold.

    Blocking ladder (no full cross join at any rung):
    - ``block_col`` given: equi-join on the block — cross product only
      within blocks; right when a trustworthy partition key exists.
    - ``block_col=None`` (default): LABEL-FREE — sign-sketch LSH bucket
      blocking (similarity.lsh_candidate_pairs, OR across n_tables with
      Hamming-1 multiprobe) generates linear candidates; exact cosine is
      computed for candidates only. Recall is tuned by (n_planes,
      n_tables); deterministic hyperplanes keep results reproducible.

    ``n_planes=None`` or ``"auto"`` (default) ADAPTS the bucket count to
    the corpus via adaptive_n_planes(count, target_bucket_rows): candidate
    pairs per bucket are quadratic in bucket population, so a FIXED plane
    count that is fine at 2k vectors (2^4 buckets ≈ 125/bucket) emits
    ~200M candidate pairs at 20k vectors and OOMs — caught by the sf1
    tolerance audit (scripts/audit_tolerance_sf1.py, round 5). BEHAVIOR
    CHANGE vs rounds <=4 (old default: fixed 4), chosen deliberately: a
    silent recall shift as the corpus grows beats a guaranteed executor
    OOM, and adaptive sizing needs the corpus size, so the default incurs
    ONE eager ``df.count()`` action per call. Finer buckets trade recall
    (measured in the audit: borderline-threshold pairs are the ones
    missed). For reproducible fixed-bucket runs — byte-stable results and
    no eager count — pass an explicit int; the registered oracle queries
    do, pinning the driver-SF recall-1.0 contract. The chosen plane count
    is logged (INFO) either way so any run is diagnosable from its log.
    ``max_bucket`` stays the emergency bound for degenerate pile-ups (see
    lsh_candidate_pairs).
    """
    if block_col is None:
        if n_planes is None or n_planes == "auto":
            n_planes = adaptive_n_planes(df.count(), target_bucket_rows)
            logging.getLogger(__name__).info(
                "embedding_near_dup_pairs: adaptive n_planes=%d "
                "(target_bucket_rows=%d)", n_planes, target_bucket_rows
            )
        else:
            logging.getLogger(__name__).info(
                "embedding_near_dup_pairs: fixed n_planes=%d", n_planes
            )
        cand = lsh_candidate_pairs(
            df, vec_col, id_col,
            n_planes=n_planes, n_tables=n_tables, dim=dim, seed=seed,
            max_bucket=max_bucket,
        )
        # per-row norms in each side's projection (r15): the verify stage
        # pays one interpreted array fold per candidate (dot) instead of
        # three — norm(a)*norm(b) is the same IEEE expression on the same
        # values, so cos is bit-identical to the cosine() form
        a = df.select(
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("vec_a"),
            norm(F.col(vec_col)).alias("__na"),
        )
        b = df.select(
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("vec_b"),
            norm(F.col(vec_col)).alias("__nb"),
        )
        return (
            cand.join(a, "id_a")
            .join(b, "id_b")
            .withColumn(
                "cos",
                F.round(
                    dot("vec_a", "vec_b")
                    / F.nullif(F.col("__na") * F.col("__nb"), F.lit(0.0)),
                    6,
                ),
            )
            .filter(F.col("cos") >= threshold)
            .select("id_a", "id_b", "cos")
        )
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        norm(F.col(vec_col)).alias("__na"),
        F.col(block_col).alias("__blk"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        norm(F.col(vec_col)).alias("__nb"),
        F.col(block_col).alias("__blk"),
    )
    return (
        a.join(b, "__blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos",
            F.round(
                dot("vec_a", "vec_b")
                / F.nullif(F.col("__na") * F.col("__nb"), F.lit(0.0)),
                6,
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def incremental_exact_dedup(
    new_df: DataFrame, base_df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Dedup a NEW batch against an existing corpus + within itself — the
    production dedup mode at 100 TB: the base corpus is never re-deduped
    (its fingerprint index is a fact you already have; here it is derived
    from the base docs, in production you'd read the persisted index).

    Returns surviving new docs as (id, fingerprint): not exact-duplicates of
    any base doc, and the min-id survivor within each new-batch duplicate
    group. Two hash shuffles over (id, 16-byte md5) — document text never
    shuffles."""
    new_fp = new_df.select(
        F.col(id_col), fingerprint_md5(text_col).alias("fingerprint")
    )
    base_fp = base_df.select(fingerprint_md5(text_col).alias("fingerprint")).distinct()
    fresh = new_fp.join(base_fp, "fingerprint", "left_anti")
    return (
        fresh.groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, "fingerprint")
    )


def prune_bands_to_probe(base_bands: DataFrame, new_bands: DataFrame) -> DataFrame:
    """Restrict a persisted band index to the buckets a probe batch can
    actually collide with: base rows whose (band, bh) matches NO new-batch
    row can never form a cross pair, so a broadcast left-semi join on the
    batch's distinct band keys (O(|batch| x bands) keys — a few MB) drops
    them BEFORE the bucket groupBy.

    This is what keeps per-batch ingestion cost flat as the corpus grows:
    without it, the groupBy shuffles the ENTIRE accumulated index every
    batch — O(corpus) shuffle per batch, a rising per-batch trend measured
    in the round-5 bench (5.5s -> 10.8s over 4 batches). With it the
    shuffle input is O(batch + collisions); the index is only ever
    SCANNED (one pass, no shuffle), mirroring how the semantic ingest
    path prunes its vector index by the batch's cell set."""
    keys = new_bands.select("band", "bh").distinct()
    return base_bands.join(F.broadcast(keys), ["band", "bh"], "left_semi")


def minhash_lsh_pairs_incremental(
    new_df: DataFrame,
    base_df: DataFrame | None,
    text_col: str,
    id_col: str,
    k: int = 64,
    bands: int = 16,
    n: int = 3,
    verify_threshold: float = 0.5,
    max_bucket: int | None = 1024,
    base_bands: DataFrame | None = None,
    base_lookup=None,
    new_bands: DataFrame | None = None,
) -> DataFrame:
    """CROSS-side near-dup: (base doc, new doc) pairs only — base-vs-base
    pairs are never emitted or verified, which is what makes incremental
    ingestion linear in the NEW batch. Ids must be disjoint across sides
    (caller contract).

    ``base_bands``: a prebuilt/persisted ``minhash_band_table`` of the base
    corpus. When given, the base is NOT re-shingled or re-banded — only its
    index rows are read (the production shape: the index is maintained as
    corpora are ingested, so each ingestion pays only for the new batch;
    asserted equivalent to the recompute path in tests). Base document TEXT
    is fetched — and shingled — ONLY for candidate docs during
    verification: the corpus is broadcast-left-semi-joined to the candidate
    doc ids before ``_shingle_arrays``, so ingestion cost is linear in the
    new batch + its collision set, never the base corpus size. (Candidates
    scale with the new batch by construction — bucket pairs are cross-side
    only and ``max_bucket``-capped — so the broadcast stays bounded.)

    ``base_lookup``: optional point-lookup seam replacing the semi-join
    text fetch — a callable taking the COLLECTED candidate base ids (a
    bounded Python list, see above) and returning their (id_col, text_col)
    rows, e.g. a literal ``isin`` filter over a range-sorted parquet
    corpus that parquet row-group stats prune to the matching files
    (streaming/ingest.py:_doc_fetch). With it, ``base_df`` may be
    None (it is otherwise only the text source); requires ``base_bands``
    and ``max_bucket`` (the bound that makes collecting the ids safe).

    Same banded-LSH machinery as minhash_lsh_pairs; the bucket pair emission
    keeps a side tag and drops same-side combinations BEFORE the d²/2
    explosion, so a bucket of b base docs and m new docs emits b·m cross
    pairs, not (b+m)²/2. Verification melts only cross candidates.
    Returns (doc_base, doc_new, n_common, jaccard)."""
    if base_lookup is not None and (base_bands is None or max_bucket is None):
        raise ValueError("base_lookup requires base_bands and max_bucket")
    if base_df is None and (base_bands is None or base_lookup is None):
        raise ValueError("base_df=None requires base_bands and base_lookup")
    # new_bands: like base_bands but for the NEW side — the ingest batch
    # fns already build (and persist) the batch's band table for the index
    # probe and the state write; passing it here keeps the batch from
    # being min-hashed twice per epoch (caller contract: it is the band
    # table of new_df at the same k/bands/n).
    if new_bands is None:
        new_bands = minhash_band_table(
            new_df, text_col, id_col, k=k, bands=bands, n=n
        )
    if base_bands is None:
        base_bands = minhash_band_table(base_df, text_col, id_col, k=k, bands=bands, n=n)
    # flat-cost invariant: only base index rows in buckets the new batch
    # occupies enter the shuffle (bucket sizes — and so the max_bucket
    # semantics — are unchanged: the prune never removes a row from a
    # bucket that survives it). See prune_bands_to_probe.
    base_bands = prune_bands_to_probe(base_bands, new_bands)
    banded = new_bands.withColumn("__is_new", F.lit(True)).unionByName(
        base_bands.withColumn("__is_new", F.lit(False))
    )
    grouped = bounded_bucket_collect(
        banded, ["band", "bh"], F.struct("doc", "__is_new"), max_bucket
    )
    cand = (
        grouped.select(F.explode(_pairs_in_array(F.col("ds"))).alias("p"))
        .filter(F.col("p.a.__is_new") != F.col("p.b.__is_new"))
        .select(
            F.when(F.col("p.a.__is_new"), F.col("p.b.doc"))
            .otherwise(F.col("p.a.doc"))
            .alias("doc_base"),
            F.when(F.col("p.a.__is_new"), F.col("p.a.doc"))
            .otherwise(F.col("p.b.doc"))
            .alias("doc_new"),
        )
        .dropDuplicates()
    )
    if base_lookup is not None:
        # the candidate pipeline feeds BOTH the collected base-id fetch
        # below and the returned plan's melt join; materialize it once so
        # the two reads cannot diverge under any future nondeterministic
        # truncation (and the probe lineage does not execute twice). The
        # frame is bounded by max_bucket (asserted above), so the pin is
        # batch-neighborhood-sized.
        cand = cand.localCheckpoint(eager=True)
    melt = cand.select(
        "doc_base", "doc_new", F.explode(F.array("doc_base", "doc_new")).alias("doc")
    )
    # shingle ONLY candidate docs: without this semi-join the whole base
    # corpus is re-shingled on every ingestion, making it O(corpus) instead
    # of O(new batch). The broadcast hint is safe only while max_bucket
    # bounds the candidate set (<= buckets * cap); with the cap disabled a
    # degenerate collision pattern could exceed broadcast memory, so leave
    # the strategy to AQE in that case.
    cand_ids = melt.select(F.col("doc").alias(id_col)).distinct()
    if base_lookup is not None:
        # point-lookup path: candidate BASE ids are collected (bounded by
        # max_bucket, asserted above) and handed to the caller's pruned
        # fetch; the new side stays the semi-join. Extra rows a loose
        # lookup might return are harmless — the melt join below is inner
        # on the candidate ids.
        base_ids = [r[0] for r in cand.select("doc_base").distinct().collect()]
        relevant = (
            new_df.select(F.col(id_col), F.col(text_col))
            .join(F.broadcast(cand_ids), id_col, "left_semi")
            .unionByName(base_lookup(base_ids).select(F.col(id_col), F.col(text_col)))
        )
    else:
        tagged = new_df.select(F.col(id_col), F.col(text_col)).unionByName(
            base_df.select(F.col(id_col), F.col(text_col))
        )
        if max_bucket is not None:
            cand_ids = F.broadcast(cand_ids)
        relevant = tagged.join(cand_ids, id_col, "left_semi")
    sh = _shingle_arrays(relevant, text_col, id_col, n).select(
        "doc", F.transform("shingles", lambda s: F.xxhash64(s)).alias("hs")
    )
    return (
        melt.join(sh, "doc")
        .groupBy("doc_base", "doc_new")
        .agg(
            F.max(F.when(F.col("doc") == F.col("doc_base"), F.col("hs"))).alias("hs_a"),
            F.max(F.when(F.col("doc") == F.col("doc_new"), F.col("hs"))).alias("hs_b"),
        )
        # Half-pairs (a candidate whose base or new side died upstream —
        # e.g. a CC-dropped batch doc surviving in a superset band table)
        # are dropped EXPLICITLY. They previously relied on size(NULL)=-1
        # making jaccard NULL/negative under the threshold filter — true
        # for every real threshold (>0), but fragile if sizeOfNull
        # semantics or a zero threshold ever change (ADVICE r15).
        .filter(F.col("hs_a").isNotNull() & F.col("hs_b").isNotNull())
        .withColumn("n_common", F.size(F.array_intersect("hs_a", "hs_b")))
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.size("hs_a") + F.size("hs_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= verify_threshold)
        .select("doc_base", "doc_new", "n_common", "jaccard")
    )


def adaptive_n_planes(n_rows: int, target_cell_rows: int = 512) -> int:
    """Plane count that keeps the EXPECTED sign-sketch cell population near
    ``target_cell_rows``: 2^n_planes cells for n rows. Clamped to [6, 24] —
    at least 64 cells so small corpora still shard, at most 16M cells so
    the per-row sketch stays a handful of dot products."""
    ratio = max(n_rows / max(target_cell_rows, 1), 1.0)
    return min(max(math.ceil(math.log2(ratio)), 6), 24)


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    n_planes: int | None = None,
    dim: int = 64,
    seed: int = 7,
    max_cell: int | None = 4096,
    target_cell_rows: int = 512,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): partition the embedding space into cells, compute
    pairwise cosine only WITHIN a cell, and drop every vector that has a
    lower-id cell-mate with cosine >= threshold (min-id survivor — the
    engine-wide convention). Returns surviving (id, cell) rows.

    Cells are deterministic sign-sketch buckets (2^n_planes cells) rather
    than the paper's k-means clusters: the assignment is a pure column
    expression any SQL engine reproduces exactly (so the driver oracle can
    recheck survivors end-to-end).

    Scale policy (the within-cell pair scan is quadratic in cell size, so
    cell population — not corpus size — is what must stay bounded):

    - ``n_planes=None`` (default) adapts cell count to the corpus: one
      count job estimates N, then n_planes = clamp(ceil(log2(N /
      target_cell_rows)), 6, 24) keeps the EXPECTED cell near
      ``target_cell_rows`` regardless of scale. Pass an explicit n_planes
      for reproducible fixed-cell runs (the registered oracle query does).
    - ``max_cell`` is the hot-cell guard, mirroring ``max_bucket`` in the
      LSH paths: cells with more than max_cell members are excluded from
      the pair scan entirely (all their rows survive, a documented recall
      loss on degenerate mass-duplicate cells) — without it one hot cell
      re-introduces the quadratic blowup the cells exist to prevent.

    As in the paper, cross-cell near-dups are missed by design — that
    recall loss is the price of never forming a cross join; raise recall
    with finer cells + a second seed pass, not a bigger join.
    """
    if n_planes is None:
        n_planes = adaptive_n_planes(df.count(), target_cell_rows)
    planes = hyperplanes(dim, n_planes, seed)
    s = sign_sketch(
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")),
        "__vec",
        planes,
        out_col="__cell",
    )
    # norms once per VECTOR, not per pair: the within-cell scan then folds
    # only the dot product (1 array fold/pair instead of 3). Same doubles as
    # cosine() — identical expressions, just materialized before the join.
    n = s.withColumn("__norm", norm("__vec"))
    if max_cell is not None:
        # hot-cell guard: the pair scan only sees cells within the cap.
        # One extra partial-aggregated count shuffle on __cell; the hot-cell
        # relation is tiny (one row per OVER-CAP cell) and broadcasts.
        hot = (
            n.groupBy("__cell")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") > max_cell)
            .select("__cell")
        )
        n = n.join(F.broadcast(hot), "__cell", "left_anti")
    a = n.select(
        F.col("__id").alias("id_a"), F.col("__vec").alias("vec_a"),
        F.col("__norm").alias("__na"), "__cell",
    )
    b = n.select(
        F.col("__id").alias("id_b"), F.col("__vec").alias("vec_b"),
        F.col("__norm").alias("__nb"), "__cell",
    )
    removed = (
        a.join(b, "__cell")
        .filter(F.col("id_b") < F.col("id_a"))
        .filter(
            F.round(
                dot("vec_a", "vec_b")
                / F.nullif(F.col("__na") * F.col("__nb"), F.lit(0.0)),
                6,
            )
            >= threshold
        )
        .select(F.col("id_a").alias("__id"))
        .distinct()
    )
    return s.join(removed, "__id", "left_anti").select(
        F.col("__id").alias(id_col), F.col("__cell").alias("cell")
    )


def best_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    order_col: str,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """Quality-aware dedup survivor selection: instead of the min-id
    convention, keep the cluster member that MAXIMIZES ``order_col``
    (ties -> lower id) — "keep the longest / highest-quality copy", the
    production policy when near-dup copies differ in completeness.

    pairs -> connected components -> one ``max_by`` per component -> losers
    anti-joined out of the corpus. The per-cluster argmax is a map-side-
    combinable aggregate on the component key (never a sort); the loser
    set is a fraction of the corpus and broadcasts.

    Returns surviving corpus rows (id_col, order_col).
    """
    from healthcare_rcm_etl_pipeline_spark.operators import graph

    clusters = graph.broadcast_if_local(
        graph.connected_components(pairs, src_col=src_col, dst_col=dst_col)
    )
    return best_survivors_from_components(docs, clusters, id_col, order_col)


def best_survivors_from_components(
    docs: DataFrame,
    components: DataFrame,
    id_col: str,
    order_col: str,
) -> DataFrame:
    """``best_survivors`` served from a PRECOMPUTED component labeling
    ((doc, component) rows — e.g. the persisted state a component-labeling
    ingestion stream maintains, ``streaming/ingest.py:
    make_component_ingest_batch_fn`` + ``read_labels``): one join +
    one map-side-combinable ``max_by`` per call, no pair generation and no
    CC iteration — the production shape when the survivor policy is
    applied repeatedly over a growing corpus. Docs absent from the
    labeling are unpaired and always survive (the state is
    pair-graph-sized by contract)."""
    members = components.select("doc", "component").join(
        docs.select(F.col(id_col).alias("doc"), F.col(order_col)), "doc"
    )
    best = members.groupBy("component").agg(
        # max of (order, -id): highest order_col wins, ties -> LOWER id
        F.max_by("doc", F.struct(F.col(order_col), (-F.col("doc")).alias("__nid")))
        .alias("keep_doc")
    )
    losers = members.join(
        best, members["doc"] == best["keep_doc"], "left_anti"
    ).select(F.col("doc").alias(id_col))
    return docs.select(id_col, order_col).join(losers, id_col, "left_anti")


def group_minhash_similarity(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    k: int = 256,
    n: int = 3,
    tolerance: float = 0.15,
    include_estimate: bool = False,
) -> DataFrame:
    """CORPUS-level similarity: pairwise shingle-set Jaccard between GROUPS
    of documents (sources/domains/snapshots) — the planning signal for
    cross-corpus dedup ("how much of source B is already in source A?").

    Two independent measurements per group pair, compared in-engine:

    - EXACT: distinct (group, shingle-hash) postings self-joined at the
      group level — with G groups this is at most G(G-1)/2 count rows, so
      the posting join is cheap no matter the corpus size.
    - MinHash ESTIMATE: the k-minhash signature of each group's shingle
      SET. min is a commutative aggregate, so the signature is one
      map-side-combinable groupBy(group) over k long-hashes — at 100 TB
      THIS is the measurement you can afford (the exact path's distinct
      still shuffles every unique shingle once; signatures summarize each
      group into k longs that then merge across any partitioning). Matches
      per component / k estimates Jaccard with std sqrt(J(1-J)/k).

    ``est_within_tol`` asserts |estimate - exact| <= tolerance in-engine
    (deterministic: hashes, not RNG — same convention as the sketch
    queries; tolerance 0.15 is ~5 sigma at k=256). Returns
    (src_a, src_b, n_a, n_b, n_common, jaccard, est_within_tol);
    ``include_estimate`` appends the raw ``est`` column so audits
    (scripts/audit_tolerance_sf1.py) can measure the actual error rather
    than just the boolean gate.
    """
    post = (
        _shingle_posting(df, text_col, id_col, n)
        .withColumn("__sh", F.xxhash64("shingle"))
        .select(F.col("doc").alias("__doc"), "__sh")
        .join(
            df.select(F.col(id_col).alias("__doc"), F.col(group_col).alias("__g")),
            "__doc",
        )
        .select("__g", "__sh")
        .distinct()
    )
    sizes = post.groupBy("__g").agg(F.count("*").alias("n_sh"))
    inter = (
        post.alias("a")
        .join(post.alias("b"), "__sh")
        .filter(F.col("a.__g") < F.col("b.__g"))
        .groupBy(F.col("a.__g").alias("src_a"), F.col("b.__g").alias("src_b"))
        .agg(F.count("*").alias("n_common"))
    )
    mins = [
        F.min(F.xxhash64(F.col("__sh"), F.lit(i))).alias(f"mh{i}") for i in range(k)
    ]
    sigs = post.groupBy("__g").agg(*mins)
    sig_arr = sigs.select(
        "__g", F.array(*[F.col(f"mh{i}") for i in range(k)]).alias("__sig")
    )
    # G signatures of k longs each — tens of KB for any real group count;
    # broadcast + inequality condition => BroadcastNestedLoopJoin, never a
    # CartesianProduct (the plan sweep bans the latter engine-wide)
    est = (
        sig_arr.alias("a")
        .join(F.broadcast(sig_arr.alias("b")), F.col("a.__g") < F.col("b.__g"))
        .select(
            F.col("a.__g").alias("src_a"),
            F.col("b.__g").alias("src_b"),
            (
                F.size(
                    F.filter(
                        F.zip_with(
                            F.col("a.__sig"), F.col("b.__sig"), lambda x, y: x == y
                        ),
                        lambda m: m,
                    )
                )
                / F.lit(float(k))
            ).alias("__est"),
        )
    )
    a_sz = sizes.select(F.col("__g").alias("src_a"), F.col("n_sh").alias("n_a"))
    b_sz = sizes.select(F.col("__g").alias("src_b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(a_sz, "src_a")
        .join(b_sz, "src_b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .join(est, ["src_a", "src_b"])
    )
    cols = [
        F.col("src_a"),
        F.col("src_b"),
        F.col("n_a"),
        F.col("n_b"),
        F.col("n_common"),
        F.col("jaccard"),
        (F.abs(F.col("__est") - F.col("jaccard")) <= tolerance).alias("est_within_tol"),
    ]
    if include_estimate:
        cols.append(F.col("__est").alias("est"))
    return out.select(*cols)
