"""Corpus-preparation operators for LLM training-data pipelines.

Beyond-reference surface (no analog in the reference's ETL): the operations
that sit between "cleaned documents" and "training shards" in a pre-training
data pipeline —

- :func:`chunk_documents` — split each document into overlapping
  fixed-token-window chunks (context-window preparation).
- :func:`pack_token_shards` — assign documents to fixed token-budget shards
  by running token count within a natural partition (sequence/shard packing).
- :func:`shuffle_shards` — deterministic global shuffle: hash-derived
  pseudo-random total order -> shard + position, reproducible across runs
  and engines (no ``rand()``, stable under task retry).
- :func:`contamination_stats` — benchmark-contamination detection: per
  corpus document, how many distinct word n-grams it shares with a
  (small) benchmark set. The benchmark side is broadcast.
- :func:`repetition_stats` — Gopher-style repetition quality signals
  (Rae et al. 2021, arXiv:2112.11446 §A1.1): fraction of n-gram positions
  occupied by the most frequent n-gram, and by n-grams occurring more than
  once. High values => boilerplate / degenerate text.

All hot paths are pure ``pyspark.sql.functions`` column expressions plus
explode/groupBy — JVM-side, codegen'd, no Python UDFs. Every operator keys
its shuffles on (doc_id) or (doc_id, gram) — never on raw document text —
so shuffled bytes stay small at 100 TB.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from healthcare_rcm_etl_pipeline_spark.functions.text import (
    ngram_array,
    shingles_from_tokens,
    token_count_ws,
    tokens,
)
from healthcare_rcm_etl_pipeline_spark.session import collect_bounded, job_description


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split documents into overlapping token windows (context-window prep).

    Windows start at token positions 1, 1+stride, 1+2*stride, ...; each
    covers ``chunk_tokens`` tokens (the tail windows are shorter). A tail
    window whose content is entirely contained in the previous window
    (length <= chunk_tokens - stride) is dropped as redundant; the first
    window is always kept, so every document yields >= 1 chunk and every
    token appears in >= 1 chunk.

    Per-document pure array expressions (transform over a start-position
    sequence + slice) followed by one explode — no shuffle at all: chunking
    is embarrassingly parallel and stays that way at 100 TB.

    Returns (id_col, chunk_id, chunk_text, n_tokens).
    """
    if stride <= 0 or chunk_tokens <= 0 or stride > chunk_tokens:
        raise ValueError("need 0 < stride <= chunk_tokens")
    toks = tokens(text_col)
    n = F.size(F.col("__toks"))
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(stride))
    windows = F.transform(
        starts,
        lambda s: F.struct(
            F.floor((s - 1) / stride).alias("chunk_id"),
            F.slice(F.col("__toks"), s, chunk_tokens).alias("ctoks"),
        ),
    )
    kept = F.filter(
        windows,
        lambda w: (w["chunk_id"] == 0)
        | (F.size(w["ctoks"]) > chunk_tokens - stride),
    )
    return (
        df.select(id_col, toks.alias("__toks"))
        .select(id_col, F.explode(kept).alias("__w"))
        .select(
            id_col,
            F.col("__w.chunk_id").alias("chunk_id"),
            F.concat_ws(" ", F.col("__w.ctoks")).alias("chunk_text"),
            F.size("__w.ctoks").cast("bigint").alias("n_tokens"),
        )
    )


def pack_token_shards(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    budget: int = 512,
    partition_col: str = "source",
) -> DataFrame:
    """Assign documents to fixed token-budget shards by running token count.

    Documents are ordered deterministically (by ``id_col``) within each
    ``partition_col`` group; each document lands in the shard where its
    running token count starts: ``shard_id = (cumsum - n_tokens) // budget``.
    This is the "fill shards by running token count" packing used when
    materializing pre-training shards — a document may straddle a budget
    boundary (the budget is a fill target, not a hard cap), which keeps the
    assignment a pure prefix-sum: one window per partition group, no
    sequential driver loop.

    At 100 TB you pack within natural partitions (source, date, ...) so no
    single window partition exceeds an executor; a global (un-partitioned)
    pack would serialize into one task and is deliberately not offered.

    Returns (id_col, partition_col, n_tokens, shard_id, shard_pos).
    """
    w = Window.partitionBy(partition_col).orderBy(id_col)
    d = df.select(
        id_col, partition_col, token_count_ws(text_col).cast("bigint").alias("n_tokens")
    )
    cum = F.sum("n_tokens").over(w)
    d = d.withColumn("shard_id", F.floor((cum - F.col("n_tokens")) / budget))
    return d.withColumn(
        "shard_pos",
        F.row_number().over(
            Window.partitionBy(partition_col, "shard_id").orderBy(id_col)
        ).cast("bigint"),
    )


def _md5_long(col: Column) -> Column:
    """60-bit nonnegative long from an md5 prefix — portable pseudo-random
    key (any md5-capable engine reproduces it bit-for-bit)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def shuffle_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 16,
    salt: str = "v1",
) -> DataFrame:
    """Deterministic global shuffle into training shards.

    Order = md5(salt || id) — a reproducible pseudo-random permutation
    (change ``salt`` to re-shuffle between epochs). ``shard_id = key mod
    n_shards``; ``shard_pos`` = rank within the shard. No ``rand()``:
    results are identical under task retry, across runs, and across engines
    (the oracle recomputes the same permutation in SQL).

    One hash-partitioned exchange on shard_id + an in-shard sort — exactly
    the shuffle a shard write requires anyway; rank is per-shard, never a
    global window. Returns (id_col, shard_id, shard_pos).
    """
    key = _md5_long(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    d = df.select(id_col, key.alias("__k"))
    d = d.withColumn("shard_id", F.pmod(F.col("__k"), F.lit(n_shards)).cast("int"))
    w = Window.partitionBy("shard_id").orderBy("__k", id_col)
    return d.select(
        id_col,
        "shard_id",
        F.row_number().over(w).cast("bigint").alias("shard_pos"),
    )


def contamination_stats(
    df: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_overlap: int = 2,
) -> DataFrame:
    """Benchmark-contamination detection via shared word n-grams.

    For every corpus document: how many of its DISTINCT word n-grams appear
    anywhere in the benchmark set (``n_hits``), its total distinct n-grams
    (``n_shingles``), the ratio, and a ``contaminated`` flag at
    ``n_hits >= min_overlap`` — the standard n-gram-overlap decontamination
    check run before training (e.g. GPT-3 appendix C).

    Scale shape: the benchmark side (test sets — MBs, not TBs) collapses to
    a DISTINCT shingle set and is **broadcast**; the corpus side explodes to
    (doc_id, shingle) and semi-joins against it map-side, then re-aggregates
    by doc_id. The 100 TB corpus is never shuffled on text — only the
    (doc_id, count) pairs move.

    Returns (id_col, n_shingles, n_hits, overlap_ratio, contaminated).
    """
    base = df.select(
        id_col,
        shingles_from_tokens(tokens(text_col), n).alias("__sh"),
    ).select(id_col, F.size("__sh").cast("bigint").alias("n_shingles"), "__sh")
    bench_sh = (
        bench.select(F.explode(shingles_from_tokens(tokens(text_col), n)).alias("shingle"))
        .distinct()
    )
    # ONE pass over the corpus (r15): through r14 the hit counts and the
    # per-doc shingle totals were two branches of ``base`` re-joined on id
    # — the corpus was tokenized + shingled TWICE and paid two exchanges
    # plus a join. Here n_shingles rides the exploded postings
    # (explode_outer keeps zero-shingle docs as one NULL-shingle row, which
    # the broadcast left join cannot match), and one partial-aggregated
    # groupBy produces both columns: the exchange moves one row per doc per
    # partition, the corpus text is never shuffled, and the semantics —
    # count of DISTINCT matched shingles (shingles_from_tokens is
    # array_distinct), zero/NULL edge behavior included — are pinned by
    # tests/test_corpus.py.
    marked = base.select(
        id_col, "n_shingles", F.explode_outer("__sh").alias("shingle")
    ).join(F.broadcast(bench_sh.withColumn("__hit", F.lit(1))), "shingle", "left")
    out = marked.groupBy(id_col).agg(
        F.max("n_shingles").alias("n_shingles"),
        F.count("__hit").cast("bigint").alias("n_hits"),
    )
    return out.select(
        id_col,
        "n_shingles",
        "n_hits",
        (F.col("n_hits") / F.nullif(F.col("n_shingles").cast("double"), F.lit(0.0))).alias(
            "overlap_ratio"
        ),
        (F.col("n_hits") >= min_overlap).alias("contaminated"),
    )


def decontaminate(
    df: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_overlap: int = 2,
) -> DataFrame:
    """The removal half of decontamination: returns the CORPUS ROWS (all
    columns) whose documents are NOT contaminated per
    ``contamination_stats`` — i.e. fewer than ``min_overlap`` distinct word
    n-grams shared with the benchmark set. Detection is a broadcast
    semi-join against the benchmark shingle set; removal is one more
    anti-join of the corpus against the flagged ids, so the full pipeline
    still never shuffles the corpus on text."""
    flagged = (
        contamination_stats(df, bench, text_col, id_col, n=n, min_overlap=min_overlap)
        .filter(F.col("contaminated"))
        .select(id_col)
    )
    return df.join(flagged, id_col, "left_anti")


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 2,
    dup_n: int = 3,
    top_frac_max: float = 0.20,
    dup_frac_max: float = 0.30,
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1).

    Per document:
    - ``top_ngram_frac``  — fraction of ``top_n``-gram positions occupied by
      the single most frequent ``top_n``-gram;
    - ``dup_ngram_frac``  — fraction of ``dup_n``-gram positions whose gram
      occurs more than once in the document;
    - ``flagged`` — either fraction over its threshold (boilerplate /
      degenerate-repetition filter).

    Positional (non-distinct) n-grams explode to (doc_id, gram) and count
    with a map-side-combined groupBy — two keyed aggregations re-joined on
    doc_id. Shuffles carry only (id, short gram, count); documents with too
    few tokens for a window produce zero fractions (never null).

    r15 measurement note: a zero-shuffle rewrite (per-row array_sort +
    one sorted-run fold per doc — repetition IS a row-local statistic)
    was tried and REVERTED: the interpreted fold measured ~1.5x SLOWER
    than these two codegen'd partial-aggregated exchanges in an isolated
    same-window A/B (old 1.39 s vs new 2.03 s at sf0.1), and unstable
    in-bench. The values were identical (runs in a sorted array ≡ group
    counts — pinned by tests/test_corpus.py::TestRepetitionRunCounting,
    which outlives the revert); the shuffle-free shape only pays off
    where the gram exchange, not per-row compute, is the wall.

    Returns (id_col, n_tokens, top_ngram_frac, dup_ngram_frac, flagged).
    """
    toks = df.select(id_col, tokens(text_col).alias("__t"))

    def frac(n: int, mode: str, out: str) -> DataFrame:
        grams = toks.select(
            id_col, F.explode(ngram_array(F.col("__t"), n)).alias("g")
        )
        counts = grams.groupBy(id_col, "g").agg(F.count("*").alias("c"))
        per_doc = counts.groupBy(id_col).agg(
            F.sum("c").alias("__total"),
            (F.max("c") if mode == "top" else F.sum(F.when(F.col("c") > 1, F.col("c")))).alias(
                "__part"
            ),
        )
        return per_doc.select(
            id_col,
            (
                F.coalesce(F.col("__part"), F.lit(0)) / F.col("__total").cast("double")
            ).alias(out),
        )

    base = toks.select(id_col, F.size("__t").cast("bigint").alias("n_tokens"))
    out = (
        base.join(frac(top_n, "top", "top_ngram_frac"), id_col, "left")
        .join(frac(dup_n, "dup", "dup_ngram_frac"), id_col, "left")
        .withColumn("top_ngram_frac", F.coalesce("top_ngram_frac", F.lit(0.0)))
        .withColumn("dup_ngram_frac", F.coalesce("dup_ngram_frac", F.lit(0.0)))
    )
    return out.withColumn(
        "flagged",
        (F.col("top_ngram_frac") > top_frac_max) | (F.col("dup_ngram_frac") > dup_frac_max),
    )


def chunk_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 15,
    min_docs: int = 2,
) -> DataFrame:
    """Line/paragraph-level dedup signal (the RefinedWeb / CCNet "duplicated
    lines" stage, adapted to token chunks since the synthetic corpus has no
    newlines): split each doc into NON-overlapping ``chunk_tokens``-token
    chunks (tail partial chunk included), mark a chunk position duplicated
    when its exact text occurs in >= ``min_docs`` DISTINCT documents, and
    report the per-doc duplicated fraction.

    Scale shape — deliberately different from the pair ops: corpus-wide
    chunk frequency is a map-side-combinable groupBy on an 8-byte chunk
    hash (never a posting-list pair emission), so a boilerplate chunk
    shared by 10^8 docs costs one count row, not d(d-1)/2 pairs. Shuffles
    carry (doc_id, hash) only; the hot-chunk set joins back by hash (AQE
    broadcasts it when small). No skew cap needed: frequency is the
    OUTPUT here, not a join fan-out.

    Returns (id_col, n_chunks, n_dup_chunks, dup_chunk_frac).
    """
    c = chunk_tokens
    toks = _repartition_if_narrow(df, id_col).select(
        F.col(id_col).alias("doc"), tokens(text_col).alias("__t")
    )
    n_chunks = F.ceil(F.size("__t") / F.lit(float(c))).cast("int")
    chunks = toks.select(
        "doc",
        F.when(
            F.size("__t") > 0,
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(F.slice("__t", i * c + 1, c), " "),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("__chunks"),
    )
    post = chunks.select(
        "doc",
        F.size("__chunks").cast("bigint").alias("n_chunks"),
        F.explode_outer("__chunks").alias("__chunk"),
    ).withColumn(
        # xxhash64(NULL) yields the SEED, not NULL — guard so the
        # explode_outer placeholder of an empty doc can't form a phantom
        # "duplicated chunk" group with other empty docs
        "__ch",
        F.when(F.col("__chunk").isNotNull(), F.xxhash64("__chunk")),
    ).drop("__chunk")
    # corpus-wide chunk frequency in DISTINCT docs (same chunk repeated
    # within one doc is repetition_stats' job, not cross-doc boilerplate)
    hot = (
        post.filter(F.col("__ch").isNotNull())
        .select("doc", "__ch")
        .distinct()
        .groupBy("__ch")
        .agg(F.count("*").alias("__ndocs"))
        .filter(F.col("__ndocs") >= min_docs)
        .select("__ch")
    )
    dup = (
        post.join(hot, "__ch", "left_semi")
        .groupBy("doc")
        .agg(F.count("*").alias("n_dup_chunks"))
    )
    return (
        post.groupBy("doc", "n_chunks")
        .agg(F.lit(1).alias("__one"))
        .drop("__one")
        .join(dup, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            "n_chunks",
            F.coalesce("n_dup_chunks", F.lit(0)).cast("bigint").alias("n_dup_chunks"),
            (
                F.coalesce("n_dup_chunks", F.lit(0))
                / F.nullif(F.col("n_chunks").cast("double"), F.lit(0.0))
            ).alias("dup_chunk_frac"),
        )
    )


def _repartition_if_narrow(df: DataFrame, id_col: str) -> DataFrame:
    """Spread explode-heavy work when the input arrives in few partitions
    (same rationale as dedup._fan_out; duplicated to keep modules acyclic)."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= parallelism:
        return df
    return df.repartition(parallelism, id_col)


def domain_cap_sample(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    cap: int,
    salt: str = "domcap-v1",
    exact: bool = False,
) -> DataFrame:
    """Per-domain document cap (corpus balancing: no single source/domain
    dominates the training mix). Two modes:

    - ``exact=False`` (default, the 100 TB path): per-domain KEEP FRACTION
      ``min(1, cap / n_domain)`` applied via the deterministic md5-bucket
      device (see deterministic_split) — one map-side-combined count per
      domain, broadcast back, then a narrow filter. Kept count is cap in
      expectation (± binomial noise); NO per-domain sort, so a 10^8-doc hot
      domain costs the same as a cold one. Deterministic: the same doc
      survives on every run/engine/partitioning.
    - ``exact=True``: at most ``cap`` rows per domain exactly, chosen by
      md5-bucket order via a per-domain row_number window. Right when
      domains are known-bounded (the window sorts each domain inside one
      task); wrong for web-scale domain skew.

    Returns the surviving rows (all columns).
    """
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 12
            ),
            16,
            10,
        ).cast("bigint")
        % 1_000_000
    )
    if exact:
        w = Window.partitionBy(domain_col).orderBy(bucket.asc(), F.col(id_col).asc())
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= cap)
            .drop("__rn")
        )
    counts = df.groupBy(domain_col).agg(F.count("*").alias("__n_dom"))
    keep_below = F.least(
        F.lit(1_000_000),
        F.ceil(F.lit(cap) * F.lit(1_000_000) / F.col("__n_dom")).cast("bigint"),
    )
    return (
        df.join(F.broadcast(counts), domain_col)
        .filter(bucket < keep_below)
        .drop("__n_dom")
    )


def bigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style language-model quality scoring (Wenzek et al. 2020 score
    corpora with a KenLM n-gram model; here the model IS the corpus): train
    a maximum-likelihood bigram LM on the whole corpus, then score every
    document by its average negative log-likelihood
    ``avg over positions of  ln C(w1 ·) - ln C(w1 w2)``.
    Low avg_nll = the doc's transitions are corpus-typical; high = atypical
    (noise, boilerplate-free rare text — the tails a perplexity filter
    trims). Self-scoring means every doc bigram has count >= 1, so the MLE
    needs no smoothing and the score is exact.

    Scale shape: bigram/context counts are map-side-combinable groupBys on
    an 8-byte gram hash; the per-position scoring join moves (doc_id, hash)
    against the (hash, nll) model table — an equi-join AQE broadcasts when
    the vocab fits, shuffle-hash otherwise. No posting-list pair emission,
    no window over the corpus.

    Returns (id_col, n_bigrams, avg_nll) with avg_nll rounded to 6 (null
    for docs with < 2 tokens).
    """
    toks = _repartition_if_narrow(df, id_col).select(
        F.col(id_col).alias("doc"), tokens(text_col).alias("__t")
    )
    L = F.greatest(F.size("__t") - 1, F.lit(0))
    pos = toks.select(
        "doc",
        F.explode_outer(
            F.arrays_zip(
                F.slice("__t", 1, L).alias("w1"), F.slice("__t", 2, L).alias("w2")
            )
        ).alias("bg"),
    ).select(
        "doc",
        # xxhash64(NULL) yields the SEED, not NULL — keep the explode_outer
        # placeholder of a <2-token doc out of the model and the counts
        F.when(F.col("bg.w1").isNotNull(), F.xxhash64(F.col("bg.w1"))).alias("__h1"),
        F.when(
            F.col("bg.w1").isNotNull(), F.xxhash64(F.col("bg.w1"), F.col("bg.w2"))
        ).alias("__h12"),
    )
    bg_counts = (
        pos.filter(F.col("__h12").isNotNull())
        .groupBy("__h1", "__h12")
        .agg(F.count("*").alias("__c12"))
    )
    ctx_counts = bg_counts.groupBy("__h1").agg(F.sum("__c12").alias("__c1"))
    model = bg_counts.join(ctx_counts, "__h1").select(
        "__h12", (F.log("__c1") - F.log("__c12")).alias("__nll")
    )
    scored = pos.join(model, "__h12", "left")
    return (
        scored.groupBy("doc")
        .agg(
            F.count("__h12").alias("n_bigrams"),
            F.round(F.avg("__nll"), 6).alias("avg_nll"),
        )
        .select(F.col("doc").alias(id_col), "n_bigrams", "avg_nll")
    )


def bloom_positions(col: Column, m_bits: int, k: int) -> Column:
    """The k bit positions of a value in an m_bits bloom filter, as an
    array<bigint> — k independent xxhash64 draws (seed folded into the
    input), each reduced mod m_bits. Pure JVM expressions."""
    return F.array(
        *[F.pmod(F.xxhash64(F.lit(f"bloom{i}:"), col), F.lit(m_bits)) for i in range(k)]
    )


def bloom_build_mask(keys: DataFrame, key_col: str, m_bits: int, k: int) -> list[int]:
    """Driver-side bloom bitmask (list of m_bits/64 longs) from a SMALL key
    set (benchmark shingles — MBs by definition; the corpus side never
    touches the driver). The distinct bit positions are computed
    distributed and only the <= |keys|*k position ints are collected."""
    rows = (
        keys.select(F.explode(bloom_positions(F.col(key_col), m_bits, k)).alias("p"))
        .distinct()
        .collect()
    )
    mask = [0] * ((m_bits + 63) // 64)
    for r in rows:
        p = r["p"]
        mask[p // 64] |= 1 << (p % 64)
    # to signed 64-bit for Spark LongType
    return [x - (1 << 64) if x >= (1 << 63) else x for x in mask]


def bloom_might_contain(col: Column, mask_col: Column, m_bits: int, k: int) -> Column:
    """Membership test against a bitmask array column: true iff ALL k bit
    positions of ``col`` are set. One-sided: never false for a member
    (no false negatives), occasionally true for a non-member (fp rate
    ~ (1 - e^{-kn/m})^k)."""
    cond = None
    for i in range(k):
        p = F.pmod(F.xxhash64(F.lit(f"bloom{i}:"), col), F.lit(m_bits))
        bit = (
            F.getbit(
                F.element_at(mask_col, F.floor(p / 64).cast("int") + 1), p % 64
            )
            == 1
        )
        cond = bit if cond is None else (cond & bit)
    return cond


def decontaminate_bloom(
    df: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_overlap: int = 2,
    m_bits: int = 1 << 18,
    k: int = 3,
) -> DataFrame:
    """Bloom-prefiltered decontamination: byte-identical output to
    :func:`decontaminate`, with a broadcast bloom BITMASK (m_bits/8 bytes —
    32 KB at the default, vs the benchmark shingle hash table's MBs)
    screening corpus shingles MAP-SIDE before the exact semi-join probe.
    At 100 TB the prefilter drops the overwhelming majority of corpus
    shingles with a few arithmetic ops per shingle and no join at all; the
    exact broadcast semi-join then runs only on bloom survivors, so its
    probe cost scales with true+false positives, not the corpus. The bloom
    is one-sided (no false negatives), so exactness is preserved by
    construction; false positives are removed by the exact probe.

    The mask rides a broadcast single-row cross join (not a 4096-literal
    array expression, which would blow past codegen's method-size limit
    and fall back to interpreted eval row-by-row).
    """
    spark = df.sparkSession
    bench_sh = (
        bench.select(
            F.explode(shingles_from_tokens(tokens(text_col), n)).alias("shingle")
        )
        .distinct()
    )
    mask = bloom_build_mask(bench_sh, "shingle", m_bits, k)
    mask_df = spark.createDataFrame([(mask,)], "__bloom_mask array<bigint>")

    base = df.select(
        id_col, shingles_from_tokens(tokens(text_col), n).alias("__sh")
    ).select(id_col, F.explode("__sh").alias("shingle"))
    candidates = (
        base.join(F.broadcast(mask_df))
        .filter(bloom_might_contain(F.col("shingle"), F.col("__bloom_mask"), m_bits, k))
        .drop("__bloom_mask")
    )
    flagged = (
        candidates.join(F.broadcast(bench_sh), "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("__hits"))
        .filter(F.col("__hits") >= min_overlap)
        .select(id_col)
    )
    return df.join(flagged, id_col, "left_anti")


def bigram_lm_heldout_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_frac: float = 0.8,
    salt: str = "split-v1",
) -> DataFrame:
    """The production form of LM quality scoring (CCNet trains KenLM on a
    reference corpus and scores the TARGET corpus): split deterministically
    (md5-bucket, same device as deterministic_split), train an add-one-
    smoothed bigram model on the TRAIN docs only, score the HELD-OUT docs:

        nll(w1 w2) = ln(C_train(w1 ·) + V) - ln(C_train(w1 w2) + 1)

    where V is the distinct next-token (w2) vocabulary size of the train
    corpus — textbook add-one smoothing over the next-token alphabet, so
    held-out bigrams with unseen contexts score ln(V) (uniform). All log
    arguments are exact integers, so the score is bit-reproducible in any
    SQL engine.

    Scale shape: identical to bigram_lm_scores (map-side-combinable count
    aggs + hash-keyed model join); the split adds one narrow filter. The
    held-out/train separation is what makes the score usable as a quality
    FILTER — self-scored MLE assigns its own artifacts zero surprise.

    Returns held-out (id_col, n_bigrams, avg_nll), avg_nll rounded to 6.
    """
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 12
            ),
            16,
            10,
        ).cast("bigint")
        % 10000
    )
    cut = int(round(train_frac * 10000))
    train = df.filter(bucket < cut)
    held = df.filter(bucket >= cut)

    def _pos(d: DataFrame) -> DataFrame:
        toks = _repartition_if_narrow(d, id_col).select(
            F.col(id_col).alias("doc"), tokens(text_col).alias("__t")
        )
        L = F.greatest(F.size("__t") - 1, F.lit(0))
        return toks.select(
            "doc",
            F.explode_outer(
                F.arrays_zip(
                    F.slice("__t", 1, L).alias("w1"), F.slice("__t", 2, L).alias("w2")
                )
            ).alias("bg"),
        ).select(
            "doc",
            F.col("bg.w1").alias("w1"),
            F.col("bg.w2").alias("w2"),
            F.when(F.col("bg.w1").isNotNull(), F.xxhash64(F.col("bg.w1"))).alias("__h1"),
            F.when(
                F.col("bg.w1").isNotNull(), F.xxhash64(F.col("bg.w1"), F.col("bg.w2"))
            ).alias("__h12"),
        )

    tr = _pos(train)
    bg = tr.filter(F.col("__h12").isNotNull()).groupBy("__h1", "__h12").agg(
        F.count("*").alias("__c12")
    )
    ctx = bg.groupBy("__h1").agg(F.sum("__c12").alias("__c1"))
    v_row = (
        tr.filter(F.col("w2").isNotNull())
        .agg(F.countDistinct("w2").alias("__v"))
    )
    hp = _pos(held)
    scored = (
        hp.join(bg.select("__h12", "__c12"), "__h12", "left")
        .join(ctx, "__h1", "left")
        .join(F.broadcast(v_row))
        .withColumn(
            "__nll",
            F.when(
                F.col("__h12").isNotNull(),
                F.log(F.coalesce("__c1", F.lit(0)) + F.col("__v"))
                - F.log(F.coalesce("__c12", F.lit(0)) + 1),
            ),
        )
    )
    return (
        scored.groupBy("doc")
        .agg(
            F.count("__h12").alias("n_bigrams"),
            F.round(F.avg("__nll"), 6).alias("avg_nll"),
        )
        .select(F.col("doc").alias(id_col), "n_bigrams", "avg_nll")
    )


def mixture_upsample(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    weights: dict[str, float],
    salt: str = "mix-v1",
) -> DataFrame:
    """Training-mixture construction: realize per-domain sampling WEIGHTS
    (e.g. wiki 3.5x, web 0.8x — the epoch-mixing step of every pre-training
    recipe) as deterministic per-document repeat counts:

        n_copies = floor(w) + (md5_bucket(id) < frac(w) * 10000)

    so a weight of 3.5 repeats every doc 3 times and HALF the docs (chosen
    by the stable md5 bucket, not RNG) a 4th time — the realized mix
    converges to the weights exactly in expectation while staying
    reproducible across runs, engines, and partitionings (same property as
    deterministic_split). Weights < 1 downsample (n_copies ∈ {0, 1});
    domains absent from ``weights`` keep weight 1.0.

    Pure narrow ops + one explode of a ``sequence`` — no shuffle; emitted
    rows carry ``repeat_ix`` (0-based) so shard writers can salt the
    copies apart. Returns (id_col, domain_col, repeat_ix).
    """
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 12
            ),
            16,
            10,
        ).cast("bigint")
        % 10000
    )
    w_expr = None
    for name, w in weights.items():
        c = F.col(domain_col) == name
        w_expr = F.when(c, F.lit(float(w))) if w_expr is None else w_expr.when(c, F.lit(float(w)))
    w_expr = F.lit(1.0) if w_expr is None else w_expr.otherwise(F.lit(1.0))
    base = F.floor(w_expr).cast("int")
    extra = (bucket < F.round((w_expr - F.floor(w_expr)) * 10000).cast("bigint")).cast("int")
    n_copies = base + extra
    return (
        df.select(id_col, domain_col, n_copies.alias("__n"))
        .filter(F.col("__n") > 0)
        .select(
            id_col,
            domain_col,
            F.explode(F.sequence(F.lit(0), F.col("__n") - 1)).alias("repeat_ix"),
        )
    )


def cooccurrence_pairs(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_support: int = 2,
    max_group: int | None = None,
) -> DataFrame:
    """Item pairs co-occurring in at least ``min_support`` groups —
    the pairwise core of frequent-itemset / co-purchase / co-mention
    mining over any (group, item) relation (orders x parts, docs x
    entities, sessions x pages).

    (item_a < item_b, support) via: per-group distinct -> self-equi-join
    ON THE GROUP KEY (pairs explode only within a group — C(n,2) per
    group, never a cartesian) with a < b to canonicalize and halve the
    output -> partial-aggregated support count on one pair shuffle.

    r16 negative result (kept as the r15 reverts were): a one-exchange
    rewrite — groupBy(collect_set) then in-array pair emission via
    dedup._pairs_in_array — measured consistently 1.2-1.4x SLOWER at
    sf0.1/32 cores across three interleaved A/B pairs (q49 9.4 -> 11.5 s,
    q48 2.0 -> 2.5 s isolated min-of-4): the interpreted higher-order
    flatten/transform pair emitter costs more than the whole-stage-codegen
    SortMergeJoin it replaces when the upstream (a distinct over two
    narrow columns) is this cheap to recompute — the same lesson as r15's
    reverted repetition_stats fold. _pairs_in_array wins inside
    minhash_lsh_pairs only because there the join sides would recompute an
    expensive signature pipeline. NULL semantics pinned in
    tests/test_corpus.py::test_cooccurrence_pairs_null_group_and_item_excluded
    (the join predicates reject NULL groups and NULL items).

    ``max_group`` is the degenerate-group guard, same trade as the dedup
    family's ``max_bucket``: one million-item group would emit ~10^12
    pairs from a single key, so groups with more distinct items than the
    cap are DROPPED (a spillable count window on the same exchange as
    the distinct — not a collect) at the cost of their pairs. Off by
    default: TPC-H baskets are <= 7 items, and the registered oracle is
    exact."""
    items = df.select(
        F.col(group_col).alias("__g"), F.col(item_col).alias("__i")
    ).distinct()
    if max_group is not None:
        w = Window.partitionBy("__g")
        items = items.withColumn("__n", F.count("*").over(w)).filter(
            F.col("__n") <= max_group
        ).drop("__n")
    a = items.alias("a")
    b = items.alias("b")
    pairs = a.join(
        b,
        (F.col("a.__g") == F.col("b.__g")) & (F.col("a.__i") < F.col("b.__i")),
    ).select(F.col("a.__i").alias("item_a"), F.col("b.__i").alias("item_b"))
    return (
        pairs.groupBy("item_a", "item_b")
        .agg(F.count("*").cast("bigint").alias("support"))
        .filter(F.col("support") >= min_support)
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (Sennrich et al. 2016, "Neural Machine Translation
# of Rare Words with Subword Units") — the vocabulary-learning primitive a
# training-data pipeline needs alongside tokenize->pack. Reference repo has
# no tokenizer surface; this is beyond-reference LLM-pipeline coverage.
# ---------------------------------------------------------------------------

_BPE_EOW = "</w>"  # Sennrich end-of-word marker: its own symbol, never a char


def bpe_initial_words(df: DataFrame, text_col: str) -> DataFrame:
    """(word, w, cnt): corpus word frequencies with each word expanded to
    its initial symbol string — characters plus the ``</w>`` marker,
    joined by TWO spaces and wrapped in single spaces (``' h  i  </w> '``).

    The double-space separator is what makes the merge step a plain
    string ``replace``: replacing ``' a  b '`` with ``' ab '`` consumes
    one space of each flanking separator, so the wrapped-double-space
    invariant survives every merge AND adjacent occurrences stay
    replaceable (with single spaces, ``' a b a b '`` loses its second
    match to the consumed boundary space). Both Spark's and DuckDB's
    ``replace`` scan left-to-right non-overlapping — exactly greedy BPE
    application order — so engine and oracle rewrite identically.

    This corpus-wide word count is the ONLY corpus-scale shuffle in BPE
    training; everything after runs on the distinct-word table, which is
    Heaps-law bounded (~1M rows at 100 TB), not corpus-sized.
    """
    words = (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    chars = F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
    wrapped = F.concat(
        F.lit(" "),
        F.array_join(F.concat(chars, F.array(F.lit(_BPE_EOW))), "  "),
        F.lit(" "),
    )
    return words.select("word", wrapped.alias("w"), "cnt")


def _bpe_pairs(words: DataFrame) -> DataFrame:
    """Adjacent-symbol pair frequencies over the current word table,
    weighted by word count — a combinable integer aggregate (map-side
    partials; the pair keyspace is vocab-bounded)."""
    pair_structs = F.expr(
        "zip_with(slice(split(trim(w), '  '), 1, size(split(trim(w), '  ')) - 1), "
        "slice(split(trim(w), '  '), 2, size(split(trim(w), '  ')) - 1), "
        "(x, y) -> named_struct('a', x, 'b', y))"
    )
    return (
        words.select(F.col("cnt"), F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("cnt").cast("bigint").alias("pair_count"))
    )


def bpe_train(
    df: DataFrame, text_col: str, n_merges: int = 8, require_full: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Learn ``n_merges`` BPE merges over the corpus. Returns
    ``(merges, words)``: the merge table (step, left_sym, right_sym,
    merged, pair_count) in learned order, and the final word table
    (word, w, cnt) with every learned merge applied.

    Iterative and DETERMINISTIC: per round, (1) adjacent-pair counts —
    integer sums, order-free; (2) the winner = top-1 by (pair_count DESC,
    left_sym ASC, right_sym ASC) — a total tie-break, so every engine picks
    the same merge; (3) the rewrite — one string ``replace`` per word
    (greedy left-to-right, see ``bpe_initial_words``). The corpus is
    touched once, in ``bpe_initial_words``, whose word table is
    checkpointed; every round after is O(vocab), not O(corpus).

    When the word table fits ``session._DRIVER_ROWS_MAX`` rows, the rounds
    run on the driver (a count, then one bounded collect; Python pair
    counts kept current across merges and ``str.replace``, which is the
    same left-to-right, non-overlapping replace, and Python's code-point
    string order equals Spark's UTF-8 binary order), and both tables
    return as local relations. Above the bound each round runs in Spark:
    a vocab-bounded pair count, a 1-row TakeOrderedAndProject, and the
    winner broadcast-cross-joined onto the word table (whole-stage
    codegen), with a ``localCheckpoint`` per round. Both paths return the
    same rows and schemas. Jobs are labelled
    ``corpus.bpe_train.<words|collect|winner|rewrite>``.

    Stops early if no pair remains (every word collapsed to one symbol),
    which cannot happen at realistic ``n_merges`` << vocab size.
    ``require_full=True`` turns that early stop into a loud ValueError
    instead — callers whose oracle SQL unrolls exactly ``n_merges`` stages
    (the registered corpus_bpe_* queries) MUST set it: the oracle's
    ``FROM w{k-1} t, m{k} m`` cross join with an empty m{k} cascades every
    later stage to empty, so a silent short schedule would diverge (engine
    returns counts, oracle returns zero rows) rather than fail.
    """
    spark = df.sparkSession
    with _bpe_step(spark, "words"):
        words = bpe_initial_words(df, text_col).localCheckpoint(eager=True)
    with _bpe_step(spark, "collect"):
        local = collect_bounded(words)
    if local is not None:
        return _bpe_train_local(spark, local, words.schema, n_merges, require_full)
    merges = spark.createDataFrame([], _BPE_MERGES_DDL)
    for step in range(1, n_merges + 1):
        with _bpe_step(spark, "winner"):
            winner = (
                _bpe_pairs(words)
                .orderBy(F.desc("pair_count"), F.asc("a"), F.asc("b"))
                .limit(1)
                .select(
                    F.lit(step).alias("step"),
                    F.col("a").alias("left_sym"),
                    F.col("b").alias("right_sym"),
                    F.concat("a", "b").alias("merged"),
                    "pair_count",
                )
                .localCheckpoint(eager=True)
            )
            exhausted = winner.isEmpty()
        if exhausted:
            _bpe_exhausted(step, n_merges, require_full)
            break
        merges = merges.unionByName(winner)
        # measured r15: keeping the rewrite lazy (replace chain truncated
        # every 8 rounds) read as the cheaper plan but ran 1.4x SLOWER —
        # round k's pair-count job rebuilds k one-row broadcasts, and the
        # sequential broadcast-build waits dominate. The per-round eager
        # checkpoint stays.
        with _bpe_step(spark, "rewrite"):
            words = (
                words.crossJoin(F.broadcast(winner))
                .select(
                    "word",
                    F.replace(
                        F.col("w"),
                        F.concat(
                            F.lit(" "), "left_sym", F.lit("  "), "right_sym", F.lit(" ")
                        ),
                        F.concat(F.lit(" "), "merged", F.lit(" ")),
                    ).alias("w"),
                    "cnt",
                )
                .localCheckpoint(eager=True)
            )
    return merges, words


_BPE_MERGES_DDL = (
    "step int, left_sym string, right_sym string, merged string, pair_count bigint"
)


def _bpe_step(spark, step: str):
    """Label the Spark jobs of one ``bpe_train`` step
    ``corpus.bpe_train.<step>``, nested under the caller's own label."""
    return job_description(spark, f"corpus.bpe_train.{step}", nest=True)


def _bpe_exhausted(step: int, n_merges: int, require_full: bool) -> None:
    if require_full:
        raise ValueError(
            f"bpe_train exhausted mergeable pairs at step {step} "
            f"(< n_merges={n_merges}); the unrolled oracle assumes "
            "the full merge schedule — lower n_merges or use "
            "require_full=False"
        )


def _bpe_train_local(spark, local, words_schema, n_merges, require_full):
    """The driver rounds of ``bpe_train`` over the collected word table:
    the same pair counts, winner order and rewrite as the Spark rounds.
    The pair counts are taken once and then kept current: a merge
    re-counts only the words that hold the winning pair (a substring scan
    finds them), so a round costs the words it rewrites, not the table."""
    ws = local.column("w").to_pylist()
    cnts = local.column("cnt").to_pylist()
    counts: dict[tuple[str, str], int] = {}

    def tally(w: str, c: int) -> None:
        syms = w.strip(" ").split("  ")
        for pair in zip(syms, syms[1:]):
            n = counts.get(pair, 0) + c
            if n:
                counts[pair] = n
            else:
                del counts[pair]

    for w, c in zip(ws, cnts):
        tally(w, c)
    merges = []
    for step in range(1, n_merges + 1):
        if not counts:
            _bpe_exhausted(step, n_merges, require_full)
            break
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, a, b, a + b, n))
        old, new = f" {a}  {b} ", f" {a}{b} "
        for i, w in enumerate(ws):
            if old in w:
                tally(w, -cnts[i])
                ws[i] = w.replace(old, new)
                tally(ws[i], cnts[i])
    # the Spark rewrite's `w` is nullable once a merge has been applied
    words_schema = StructType([
        StructField(f.name, f.dataType, f.nullable or (f.name == "w" and bool(merges)))
        for f in words_schema
    ])
    words = local.set_column(local.schema.get_field_index("w"), "w", pa.array(ws, pa.string()))
    return (
        spark.createDataFrame(merges, _BPE_MERGES_DDL),
        spark.createDataFrame(words, words_schema),
    )


def bpe_token_counts(
    df: DataFrame, text_col: str, group_col: str, n_merges: int = 8,
    require_full: bool = False,
) -> DataFrame:
    """Per-group token statistics under a corpus-trained BPE vocabulary:
    (group, n_words, n_tokens_char, n_tokens_bpe) — the compression
    measurement that tells a data pipeline how a vocab candidate prices
    each source/language slice. Trains on the WHOLE corpus (one shared
    vocab, the production shape), then joins the final per-word
    segmentation back onto per-group word counts — the words table is
    vocab-sized, so the join broadcasts; the corpus is scanned twice
    (train counts + group counts), never more.
    """
    _, words = bpe_train(df, text_col, n_merges, require_full=require_full)
    seg = words.select(
        "word", F.size(F.split(F.trim("w"), "  ")).alias("n_syms")
    )
    per_group = (
        df.select(F.col(group_col).alias("grp"), F.explode(tokens(text_col)).alias("word"))
        .groupBy("grp", "word")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    return (
        per_group.join(F.broadcast(seg), "word")
        .groupBy("grp")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_words"),
            F.sum(F.col("cnt") * (F.length("word") + 1)).cast("bigint").alias(
                "n_tokens_char"
            ),
            F.sum(F.col("cnt") * F.col("n_syms")).cast("bigint").alias("n_tokens_bpe"),
        )
        .select(F.col("grp").alias(group_col), "n_words", "n_tokens_char", "n_tokens_bpe")
    )


def chunk_dedup_rewrite(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 15,
    key_mode: str = "text",
    hash_expr=None,
) -> DataFrame:
    """Cross-document chunk dedup as an actual corpus REWRITE — the
    companion to ``chunk_dedup_stats``, which only measures. This is the
    CCNet/RefinedWeb "remove duplicated lines" stage (adapted to
    non-overlapping token chunks, as the synthetic corpus has no
    newlines): a chunk occurrence survives iff its document is the
    canonical keeper (minimum ``id_col``) among the distinct documents
    containing that exact chunk text — so each duplicated chunk keeps
    exactly one home (content is never lost from the corpus), every other
    copy is cut, and within-doc repeats in the keeper survive (within-doc
    repetition is ``repetition_stats``' concern, not cross-doc
    boilerplate).

    Plan (``key_mode="text"``, the oracle registration): chunking is the
    same pure array expression as the stats op (no shuffle); the keeper
    table is ONE map-side-combinable ``min(doc)`` groupBy keyed on the
    chunk TEXT; survivors come from one equi-join back on the text.

    ``key_mode="hash"`` keys the keeper aggregate on an 8-byte xxhash64
    (the wide text column never enters the combinable agg's shuffle),
    implemented COLLISION-CORRECT (a naive hash key would silently DELETE
    innocent text on a collision — unacceptable for a destructive op):
    the keeper's actual chunk text is fetched hash-keyed (one row per
    distinct hash) and a RECHECK compares each occurrence's text to its
    hash's keeper text — matches follow the fast path; mismatches
    (collision victims, ~0 rows in practice) fall back to a text-keyed
    keeper pass over just that set. The output is EQUAL to the text-keyed
    mode for ANY hash function — every occurrence of a colliding text
    fails the recheck, so its fallback min(doc) is its true global keeper
    (pinned by a forced-collision test with a degenerate 1-bit hash,
    tests/test_corpus.py::test_chunk_rewrite_hash_mode*, and end-to-end
    by the ``dedup_chunks_rewrite_hashed`` oracle — text-mode SQL
    verbatim). ``hash_expr`` overrides the hash column for such tests.

    MEASURED (scripts/probe_scale_r10.py, last present at 2cde84b;
    SCALE.md round-10): hash mode
    does NOT reduce total shuffle at probed chunk widths — the recheck
    moves the chunk text through extra occurrence-sized joins, and at
    100x sf0.1 it shuffles 2.09x the bytes and takes 2.5x the wall time
    of text mode (wider 45-token chunks: still ~2x). Text mode is the
    default and the measured-better plan; hash mode is retained as the
    collision-proofed narrow-AGGREGATE variant for regimes where the
    keeper aggregate dominates total shuffle (heavy within-partition
    chunk repetition collapsing the map-side combine), not as a general
    100 TB recommendation.

    Reassembly sorts each doc's surviving chunks by original position
    inside an array aggregate — per-doc bounded, no window.

    Returns (id_col, n_chunks, n_kept, clean_text) with chunks re-joined
    by single spaces; a fully-deduped doc yields the empty string.
    """
    occ = _chunk_occurrences(df, text_col, id_col, chunk_tokens)
    nn = occ.filter(F.col("__chunk").isNotNull())
    if key_mode == "text":
        keeper = nn.groupBy("__chunk").agg(F.min("doc").alias("__keep_doc"))
        kept = nn.join(keeper, "__chunk").filter(
            F.col("doc") == F.col("__keep_doc")
        )
    elif key_mode == "hash":
        hx = hash_expr if hash_expr is not None else F.xxhash64("__chunk")
        h = nn.withColumn("__h", hx)
        khash = h.groupBy("__h").agg(F.min("doc").alias("__keep_doc"))
        ktext = (
            h.join(khash, "__h")
            .filter(F.col("doc") == F.col("__keep_doc"))
            .groupBy("__h")
            .agg(F.min("__chunk").alias("__keep_chunk"))
            .join(khash, "__h")
        )
        checked = h.join(ktext, "__h")
        kept_fast = checked.filter(
            (F.col("doc") == F.col("__keep_doc"))
            & (F.col("__chunk") == F.col("__keep_chunk"))
        )
        fallback = checked.filter(F.col("__chunk") != F.col("__keep_chunk"))
        fb_keeper = fallback.groupBy("__chunk").agg(
            F.min("doc").alias("__fb_keep")
        )
        kept_fb = fallback.join(fb_keeper, "__chunk").filter(
            F.col("doc") == F.col("__fb_keep")
        )
        cols = ["doc", "n_chunks", "pos", "__chunk"]
        kept = kept_fast.select(*cols).unionByName(kept_fb.select(*cols))
    else:
        raise ValueError(f"unknown key_mode {key_mode!r}")
    return _rewrite_from_kept(occ, kept, id_col)


def _chunk_occurrences(
    df: DataFrame, text_col: str, id_col: str, chunk_tokens: int
) -> DataFrame:
    """Shared chunking stage of the rewrite family: one pure array
    expression per doc (no shuffle), posexploded to
    (doc, n_chunks, pos, __chunk) occurrence rows; an empty doc yields a
    single NULL-chunk row so it survives into the output frame."""
    c = chunk_tokens
    toks = _repartition_if_narrow(df, id_col).select(
        F.col(id_col).alias("doc"), tokens(text_col).alias("__t")
    )
    n_chunks = F.ceil(F.size("__t") / F.lit(float(c))).cast("int")
    chunks = toks.select(
        "doc",
        F.when(
            F.size("__t") > 0,
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(F.slice("__t", i * c + 1, c), " "),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("__chunks"),
    )
    return chunks.select(
        "doc",
        F.size("__chunks").cast("bigint").alias("n_chunks"),
        F.posexplode_outer("__chunks").alias("pos", "__chunk"),
    )


def _rewrite_from_kept(occ: DataFrame, kept: DataFrame, id_col: str) -> DataFrame:
    """Shared reassembly stage: surviving occurrences back to
    (id, n_chunks, n_kept, clean_text), original order restored inside a
    per-doc bounded array aggregate (no window)."""
    rebuilt = kept.groupBy("doc").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("__chunk")))
                ),
                lambda s: s["__chunk"],
            ),
            " ",
        ).alias("clean_text"),
    )
    base = occ.select("doc", "n_chunks").distinct()
    return base.join(rebuilt, "doc", "left").select(
        F.col("doc").alias(id_col),
        "n_chunks",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def chunk_dedup_rewrite_incremental(
    batch: DataFrame,
    seen_chunks: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 15,
    keeper_col: str | None = None,
    checkpoint_shared: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Incremental/streaming form of ``chunk_dedup_rewrite``: rewrite ONE
    arriving batch against the accumulated keeper-chunk state, the way
    ``dedup.minhash_lsh_pairs_incremental`` probes the accumulated band
    index — so a long-running ingest pipeline can cut cross-corpus chunk
    boilerplate per micro-batch instead of recomputing keepers globally.

    ``seen_chunks`` is the state relation: one column ``chunk`` holding
    every chunk text already claimed by an earlier batch (None/empty ==
    first batch). A batch occurrence survives iff its text is NOT in the
    accumulated state (anti-join — the only cross-corpus op, an equi-join
    on the chunk key, no scan of prior text) AND its doc is the min-id
    keeper within the batch. Returns ``(rewritten, new_chunks)``:
    the rewritten batch in chunk_dedup_rewrite's exact output schema, and
    the batch's newly-claimed chunk texts for the caller to append to the
    state (a persisted parquet in the ingest pipeline, a unioned
    localCheckpoint in a driver loop).

    EQUIVALENCE to the batch rewrite: when batches arrive in ascending
    ``id_col`` order (the append-only ingest case), folding this op over
    the batches reproduces ``chunk_dedup_rewrite`` on the full corpus
    EXACTLY — the first batch containing a chunk holds its global min-id
    doc, so the incremental keeper is the global keeper. Pinned hash-exact
    by the ``dedup_chunks_incremental`` registered query (oracle = the
    batch rewrite's SQL) and tests/test_incremental_dedup.py. Out-of-order
    batches keep the one-home-per-chunk invariant (no text is ever lost)
    but the keeper becomes first-seen rather than global-min — the
    standard incremental-dedup relaxation, same as the LSH ingest path.

    State at 100 TB: the chunk state grows with DISTINCT corpus chunks —
    the same order as the persisted LSH band index, partitionable by
    chunk hash; the probe is one anti-join keyed on the chunk text.

    ``keeper_col``: when set, ``new_chunks`` also carries the claiming
    doc's id under that name — the provenance the streaming ingest path's
    GDPR purge needs (a purged doc's claimed chunk TEXTS must leave the
    state too; a later re-arrival of the same text then re-claims it).
    ``checkpoint_shared=True`` localCheckpoints BOTH shared roots — the
    chunk-occurrence relation ``occ`` (consumed by the anti-join AND
    directly as the reassembly base) and the post-anti-join set ``fresh``
    (consumed by the keeper aggregate and the state output) — so a caller
    running two separate actions over the returned frames (the ingest
    batch fn writes docs and chunk state as two parquet writes) executes
    the chunking once and the state probe once, not twice each. Both
    checkpoints are batch-sized, not corpus-sized.
    """
    occ = _chunk_occurrences(batch, text_col, id_col, chunk_tokens)
    if checkpoint_shared:
        occ = occ.localCheckpoint(eager=True)
    fresh = occ.filter(F.col("__chunk").isNotNull())
    if seen_chunks is not None:
        fresh = fresh.join(
            seen_chunks.select(F.col("chunk").alias("__chunk")), "__chunk", "left_anti"
        )
    if checkpoint_shared:
        fresh = fresh.localCheckpoint(eager=True)
    keeper = fresh.groupBy("__chunk").agg(F.min("doc").alias("__keep_doc"))
    kept = fresh.join(keeper, "__chunk").filter(F.col("doc") == F.col("__keep_doc"))
    state_cols = [F.col("__chunk").alias("chunk")] + (
        [F.col("__keep_doc").alias(keeper_col)] if keeper_col else []
    )
    new_chunks = keeper.select(*state_cols)
    return _rewrite_from_kept(occ, kept, id_col), new_chunks
