"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k for a set of query vectors — the
  correctness baseline. queries × corpus join keyed for broadcast (queries
  are small); ranking via per-query window, which Spark plans as a
  partitioned TakeOrdered — no global sort.
- lsh_bucket_topk: random-hyperplane LSH (sign sketch) — corpus is hashed
  into 2^n_planes buckets; each query probes its own bucket (plus optional
  multi-probe neighbors at Hamming distance 1). Linear scan per bucket, the
  100 TB scale path. Recall < 1 by construction; verified against the brute
  force in tests.
- ivf_fit / ivf_index / ivf_topk*: coarse-quantizer cells cut the
  CANDIDATES per query; pq_fit / pq_encode / pq_topk (product
  quantization) cut the BYTES per candidate; ivf_pq_topk composes both —
  see the PQ section below for the measured recall/compression trades.

Hyperplanes are generated deterministically from a seed via a splitmix-style
integer mix — no RNG state, reproducible across runs and engines.
"""

from __future__ import annotations

import math

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from healthcare_rcm_etl_pipeline_spark.functions.vector import (
    as_double_vec,
    dot,
    norm,
)
from healthcare_rcm_etl_pipeline_spark.operators.buckets import bounded_bucket_collect
from healthcare_rcm_etl_pipeline_spark.session import collect_bounded, job_description


def _splitmix(x: int) -> int:
    # public-domain splitmix64 mixer (Steele et al., JDK SplittableRandom)
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    z = x
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return z ^ (z >> 31)


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-gaussian hyperplanes via Box-Muller over splitmix."""
    planes = []
    state = seed
    for _ in range(n_planes):
        plane = []
        for _ in range(0, dim, 2):
            state = _splitmix(state)
            u1 = (state >> 11) / float(1 << 53) or 1e-12
            state = _splitmix(state)
            u2 = (state >> 11) / float(1 << 53)
            r = math.sqrt(-2.0 * math.log(u1))
            plane.append(r * math.cos(2 * math.pi * u2))
            plane.append(r * math.sin(2 * math.pi * u2))
        planes.append(plane[:dim])
    return planes


def sign_sketch(df: DataFrame, vec_col: str, planes: list[list[float]], out_col: str = "bucket") -> DataFrame:
    """Bucket id = bit-packed signs of dot(vec, plane_i) — pure expressions."""
    v = as_double_vec(vec_col)
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        d = F.aggregate(F.zip_with(v, p, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x)
        bucket = bucket + F.when(d >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return df.withColumn(out_col, bucket)


def lsh_candidate_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_planes: int = 4,
    n_tables: int = 12,
    dim: int = 64,
    seed: int = 42,
    multiprobe: bool = True,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate (id_a < id_b) pairs colliding in ANY table's sign-sketch
    bucket (OR-construction; multiprobe additionally matches buckets at
    Hamming distance 1 per table). Linear in the corpus: each vector lands
    in n_tables buckets (× (1+n_planes) probes), pairs are emitted only
    within buckets — never a full cross join. Callers verify candidates
    with the exact measure; recall is tuned by (n_planes, n_tables).

    One explode carries every (table, bucket, is_base) entry, ONE groupBy
    per-bucket emits pairs where at least one side is a base entry — the
    Hamming-1 XOR relation is symmetric (x_base = y_base ^ e_i iff
    y_base = x_base ^ e_i), so this equals the base ⋈ probe equi-join
    while computing the sign sketches ONCE instead of once per join side.

    ``max_bucket`` (opt-in) drops over-full buckets before pair emission.
    Unlike the jaccard ``max_df`` stop-shingle cap, a hot LSH bucket holds
    REAL neighbors — the principled fix is more planes (finer buckets);
    the cap is the emergency bound for adversarial/degenerate inputs
    (e.g. a zero-vector pile-up), so it defaults off.
    """
    v = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"))
    for t in range(n_tables):
        planes = hyperplanes(dim, n_planes, seed + 7919 * t)
        v = sign_sketch(v, "__vec", planes, out_col=f"__b{t}")

    def _entries(t: int) -> list[F.Column]:
        base = F.col(f"__b{t}")
        out = [
            F.struct(
                F.lit(t).alias("tbl"), base.alias("bkt"), F.lit(True).alias("is_base")
            )
        ]
        if multiprobe:
            out += [
                F.struct(
                    F.lit(t).alias("tbl"),
                    base.bitwiseXOR(F.lit(1 << i)).alias("bkt"),
                    F.lit(False).alias("is_base"),
                )
                for i in range(n_planes)
            ]
        return out

    entries = v.select(
        "__id",
        F.explode(F.array(*[s for t in range(n_tables) for s in _entries(t)])).alias("tb"),
    ).select(
        "__id",
        F.col("tb.tbl").alias("tbl"),
        F.col("tb.bkt").alias("bkt"),
        F.col("tb.is_base").alias("is_base"),
    )
    grouped = bounded_bucket_collect(
        entries, ["tbl", "bkt"], F.struct("__id", "is_base"), max_bucket
    )
    # i<j pairs within each bucket where at least one side is a base entry
    pairs = grouped.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ds"),
                    lambda x, i: F.filter(
                        F.transform(
                            F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                            lambda y: F.struct(
                                x["__id"].alias("id_a"),
                                y["__id"].alias("id_b"),
                                (x["is_base"] | y["is_base"]).alias("ok"),
                            ),
                        ),
                        lambda p: p["ok"],
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select("p.id_a", "p.id_b").filter(F.col("id_a") < F.col("id_b")).dropDuplicates()


def _lit_vec(vec: list[float]) -> F.Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def _dot_lit(v: F.Column, vec: list[float]) -> F.Column:
    return F.aggregate(
        F.zip_with(v, _lit_vec(vec), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cell_scores(v: F.Column, centroids: list[list[float]]) -> list[F.Column]:
    """struct(score, cell) per centroid — cosine(v, c) with the vector's own
    norm computed once by the caller and centroid norms folded as literals."""
    norm_v = F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    out = []
    for i, c in enumerate(centroids):
        nc = math.sqrt(sum(x * x for x in c)) or 1e-12
        score = _dot_lit(v, c) / (norm_v * F.lit(nc) + F.lit(1e-12))
        out.append(F.struct(score.alias("s"), F.lit(i).alias("cell")))
    return out


def ivf_fit(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    iters: int = 1,
    seed: int = 42,
) -> list[list[float]]:
    """Deterministic IVF centroid fit (k-means lite).

    Seeds: the ``n_cells`` corpus vectors with the smallest
    ``xxhash64(id, seed)`` — a uniform deterministic sample that needs no RNG
    state and lands on the data manifold (TakeOrdered, no global sort).
    ``iters`` Lloyd steps refine them: assign every vector to its nearest
    cell (pure expressions), then per-cell means via one groupBy with
    ``dim`` avg aggregates (partial-aggregated map-side — the shuffle moves
    one row per cell per partition, never vectors). Centroid coords are
    rounded to 9 dp after each collect so the float summation order inside
    avg() cannot leak into downstream plans.

    Only the centroid table (n_cells x dim floats) ever reaches the driver —
    same footprint class as the LSH hyperplanes.
    """
    v = as_double_vec(vec_col)
    seeds = (
        corpus.select(
            v.alias("__v"),
            F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)).alias("__h"),
        )
        .orderBy("__h")
        .limit(n_cells)
        .collect()
    )
    cents = [[float(x) for x in r["__v"]] for r in seeds]
    if not cents:
        raise ValueError("empty corpus")
    dim = len(cents[0])
    for _ in range(iters):
        assigned = corpus.select(
            v.alias("__v"),
            F.array_max(F.array(*_cell_scores(v, cents)))["cell"].alias("__cell"),
        )
        rows = (
            assigned.groupBy("__cell")
            .agg(*[F.avg(F.element_at("__v", i + 1)).alias(f"c{i}") for i in range(dim)])
            .collect()
        )
        for r in rows:  # cells that attracted no vectors keep their seed
            cents[r["__cell"]] = [round(float(r[f"c{i}"]), 9) for i in range(dim)]
    return cents


def ivf_index(
    corpus: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    attr_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The IVF index RELATION: (id, vec, cell[, *attr_cols]) with every
    corpus vector assigned to its single nearest centroid. Persist it once
    per corpus — ``df.write.partitionBy("cell").parquet(path)`` — and
    probes then read only the probed cells' partitions (mirrors the
    persisted minhash band table: fit/assign is paid at ingestion, probe
    cost is per-query). ``attr_cols`` embeds filter metadata in the index
    rows so filtered probes never join back to the corpus."""
    cv = as_double_vec(vec_col)
    return corpus.select(
        F.col(id_col),
        cv.alias(vec_col),
        F.array_max(F.array(*_cell_scores(cv, centroids)))["cell"].alias("cell"),
        *attr_cols,
    )


def ivf_topk_indexed(
    index: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_probe: int = 4,
    attr_cols: tuple[str, ...] = (),
    pair_predicate: F.Column | None = None,
) -> DataFrame:
    """Probe a prebuilt ``ivf_index`` relation (in-memory or read back from
    a cell-partitioned parquet layout): each query expands to its
    ``n_probe`` closest cells, the index is equi-joined on cell (query side
    broadcast — a cell-partitioned on-disk index is then pruned to the
    probed cells via dynamic partition pruning), per-query window top-k.
    Candidate cost ≈ n_probe/n_cells of the corpus per query; the corpus is
    never re-assigned at probe time.

    ``attr_cols`` / ``pair_predicate``: filtered (pre-filter) search — see
    ``brute_force_topk``. The predicate lands on the cell-join output, so
    Catalyst pushes any neighbor-only conjunct (``n_<attr>`` refs) below
    the join into the index scan, where it prunes files of a
    metadata-sorted index; query-dependent conjuncts filter the bounded
    candidate set before the window."""
    # per-row norms hoisted out of the per-candidate cosine — same device
    # (and same bit-identical argument) as brute_force_topk
    c = index.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_vec(vec_col).alias("__cvec"),
        norm(F.col(vec_col)).alias("__cn"),
        F.col("cell"),
        *[F.col(a).alias(f"n_{a}") for a in attr_cols],
    )
    qv = as_double_vec(vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        qv.alias("__qvec"),
        norm(F.col(vec_col)).alias("__qn"),
        *[F.col(a).alias(f"q_{a}") for a in attr_cols],
        F.explode(
            F.transform(
                F.slice(
                    F.sort_array(F.array(*_cell_scores(qv, centroids)), asc=False),
                    1,
                    n_probe,
                ),
                lambda s: s["cell"],
            )
        ).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            F.round(
                dot("__qvec", "__cvec")
                / F.nullif(F.col("__qn") * F.col("__cn"), F.lit(0.0)),
                6,
            ),
        )
    )
    if pair_predicate is not None:
        scored = scored.filter(pair_predicate)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_probe: int = 4,
    attr_cols: tuple[str, ...] = (),
    pair_predicate: F.Column | None = None,
) -> DataFrame:
    """Approximate top-k via IVF cells: every corpus vector lives in exactly
    ONE cell (nearest centroid); each query probes its ``n_probe``
    closest cells. Candidate cost ≈ n_probe/n_cells of the corpus per
    query — the other classic ANN scale path next to LSH (same shape as a
    FAISS IVF-flat probe, re-expressed as a cell equi-join Catalyst can
    plan: small query side broadcast, corpus scanned once, per-query
    window top-k, no global sort).

    One-shot convenience: assigns cells inline (``ivf_index``) then probes
    (``ivf_topk_indexed``) — a single shared code path, so the persisted
    index is equivalent by construction (and pinned by test)."""
    idx = ivf_index(
        corpus.repartition(
            corpus.sparkSession.sparkContext.defaultParallelism, id_col
        ),
        centroids,
        vec_col,
        id_col,
        attr_cols=attr_cols,
    )
    return ivf_topk_indexed(
        idx,
        queries,
        centroids,
        vec_col,
        id_col,
        k=k,
        n_probe=n_probe,
        attr_cols=attr_cols,
        pair_predicate=pair_predicate,
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    exclude_self: bool = True,
    attr_cols: tuple[str, ...] = (),
    pair_predicate: F.Column | None = None,
) -> DataFrame:
    """Exact cosine top-k per query. Queries are broadcast (small side).

    Filtered (pre-filter) search: ``attr_cols`` carries metadata columns
    through both sides as ``q_<attr>`` / ``n_<attr>``; ``pair_predicate``
    (a Column over those names) drops candidates BEFORE ranking, so the
    top-k is taken over the qualifying set — the filtered-ANN semantics
    (hard-negative mining, tenant isolation, recency windows), not a
    post-filter that can return < k rows from a k-sized shortlist."""
    # norms are per-ROW properties: computing them in each side's
    # projection (once per vector) instead of inside a per-pair cosine
    # cuts the interpreted array folds per candidate from 3 (dot + both
    # norms) to 1 (dot). norm(a)*norm(b) is the same IEEE expression on
    # the same values, so cos is bit-identical to cosine("__qvec","__cvec").
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        norm(F.col(vec_col)).alias("__qn"),
        *[F.col(a).alias(f"q_{a}") for a in attr_cols],
    )
    # spread the corpus scan across cores even when it arrives as one file
    par = corpus.sparkSession.sparkContext.defaultParallelism
    c = corpus.repartition(par, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        norm(F.col(vec_col)).alias("__cn"),
        *[F.col(a).alias(f"n_{a}") for a in attr_cols],
    )
    scored = c.join(F.broadcast(q)).withColumn(
        "cos",
        F.round(
            dot("__qvec", "__cvec")
            / F.nullif(F.col("__qn") * F.col("__cn"), F.lit(0.0)),
            6,
        ),
    )
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    if pair_predicate is not None:
        scored = scored.filter(pair_predicate)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_planes: int | None = 5,
    n_tables: int = 6,
    dim: int = 64,
    seed: int = 42,
    multiprobe: bool = True,
    target_bucket_rows: int = 256,
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH with OR-construction:
    ``n_tables`` independent plane sets, each bucketing into 2^n_planes
    buckets; a corpus vector is a candidate if it collides with the query in
    ANY table (multiprobe additionally probes all Hamming-1 buckets).

    Candidate cost ≈ n_tables × (1 + n_planes) × bucket size — linear in the
    corpus, tunable recall/cost. Recall vs brute force is asserted in tests.

    ``n_planes=None`` adapts the bucket count to the corpus (bucket
    population n/2^planes is the per-query probe cost — a fixed plane
    count degrades to a near-full scan as the corpus grows; the sf1 audit
    measures the recall trade). Default stays 5: the registered oracle
    query pins its driver-SF exact-match contract on it."""
    if n_planes is None:
        from healthcare_rcm_etl_pipeline_spark.operators.dedup import adaptive_n_planes

        n_planes = adaptive_n_planes(corpus.count(), target_bucket_rows)
    par = corpus.sparkSession.sparkContext.defaultParallelism
    # per-row norms hoisted out of the per-candidate cosine (see
    # brute_force_topk): computed once per vector here, reused across every
    # (table, bucket) collision the row participates in
    c = corpus.repartition(par, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        norm(F.col(vec_col)).alias("__cn"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        norm(F.col(vec_col)).alias("__qn"),
    )
    for t in range(n_tables):
        planes = hyperplanes(dim, n_planes, seed + 7919 * t)
        c = sign_sketch(c, "__cvec", planes, out_col=f"__b{t}")
        q = sign_sketch(q, "__qvec", planes, out_col=f"__b{t}")

    # explode each side to (table, bucket) pairs; query side optionally
    # fans out to the Hamming-1 neighborhood of its bucket per table
    c_kv = c.select(
        "neighbor_id",
        "__cvec",
        "__cn",
        F.explode(
            F.array(*[
                F.struct(F.lit(t).alias("tbl"), F.col(f"__b{t}").alias("bkt"))
                for t in range(n_tables)
            ])
        ).alias("tb"),
    ).select(
        "neighbor_id",
        "__cvec",
        "__cn",
        F.col("tb.tbl").alias("tbl"),
        F.col("tb.bkt").alias("bkt"),
    )

    def _probes(t: F.Column) -> list[F.Column]:
        base = F.col(f"__b{t}")
        probes = [base]
        if multiprobe:
            probes += [base.bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
        return [F.struct(F.lit(t).alias("tbl"), p.alias("bkt")) for p in probes]

    q_kv = q.select(
        "query_id",
        "__qvec",
        "__qn",
        F.explode(F.array(*[s for t in range(n_tables) for s in _probes(t)])).alias("tb"),
    ).select(
        "query_id",
        "__qvec",
        "__qn",
        F.col("tb.tbl").alias("tbl"),
        F.col("tb.bkt").alias("bkt"),
    )

    joined = c_kv.join(F.broadcast(q_kv), ["tbl", "bkt"]).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = joined.dropDuplicates(["query_id", "neighbor_id"]).withColumn(
        "cos",
        F.round(
            dot("__qvec", "__cvec")
            / F.nullif(F.col("__qn") * F.col("__cn"), F.lit(0.0)),
            6,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-compression ANN path
# ---------------------------------------------------------------------------
#
# IVF and LSH cut the CANDIDATE count per query; PQ cuts the BYTES per
# candidate. The vector is split into ``m`` contiguous subvectors, each
# quantized to its nearest centroid in a per-subspace codebook of ``k_cb``
# entries (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
# Search", IEEE TPAMI 2011 — the FAISS IVF-PQ recipe). A 64-d float32
# vector (256 B) becomes m=8 codes (8 B logical): a 100 TB embedding store
# scans as ~3 TB of codes, and distance against a candidate is m table
# lookups instead of a dim-length dot product. Asymmetric distance
# computation (ADC): each QUERY precomputes its m×k_cb lookup table of
# exact subspace distances once (broadcast side — queries are few), so
# corpus-side cost per candidate is m array gets, pure codegen'd
# expressions, no UDF. Optional exact re-rank fetches original vectors for
# only the top-``rerank`` ADC candidates (two-stage retrieval).
#
# Everything is deterministic: codebook seeding reuses the xxhash64
# smallest-hash sample (no RNG state), Lloyd refinement is the same
# bounded-collect per-cell mean as ``ivf_fit``, ties break to the lowest
# code / neighbor id.
#
# Measured recall@10 vs exact cosine on the sf0.001 embeddings (500
# near-uniform unit 64-d vectors — PQ's worst case: isotropic cells, tiny
# rank-10 margins; real embedding corpora cluster and fare better):
#
#   m=8  k_cb=16  (32-bit codes):  ADC 0.21
#   m=8  k_cb=64  (48-bit):        ADC 0.41   rerank 0.81
#   m=16 k_cb=16  (64-bit):        ADC 0.41   rerank 0.85
#   m=16 k_cb=32  (80-bit):        ADC 0.49   rerank 0.91
#   m=8  k_cb=128 (56-bit):        ADC 0.47   rerank 0.91
#   m=32 k_cb=16  (128-bit, 16x):  ADC 0.56   rerank 0.96   <- pinned in tests
#
# Rule of thumb from the sweep: budget ~1-2 code bits per input dimension
# and spend them on MORE SUBSPACES before bigger codebooks; recover the
# tail with an exact rerank of a short ADC list (the standard two-stage).


# max total multiply-add terms (m x k_cb x sub_dim) to UNROLL into plain
# codegen'd arithmetic: the recommended code budgets (~1-2 bits/dim, e.g.
# 32x16x2 or 16x16x4 = 1024 terms) compile fast and run ~20x quicker than
# the interpreted lambda form, but a degenerate codebook (k_cb ~ corpus
# size) unrolls to tens of thousands of terms and Janino OOMs the driver
# compiling the projection — those fall back to the compact
# zip_with/aggregate form (interpreted per evaluation, but correctness
# configs like that only appear in tests/audits).
_UNROLL_MAX_TERMS = 2048


def _dlit(x: float) -> str:
    # exact double literal for SQL text: repr round-trips, the string cast
    # parses it back to the identical double in Spark and DuckDB alike
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _sq_dist_sql(
    col: str, centroid: list[float], offset: int = 0, unroll: bool = True
) -> str:
    """SQL text for the squared L2 distance between
    col[offset : offset+len(centroid)] and a literal centroid.

    SQL TEXT, not Column objects, on purpose: a PQ plan holds m × k_cb of
    these (hundreds), and building them as Column expressions costs one
    py4j round-trip per operator node — measured 7.6 s of pure
    driver-side plan construction for a 16×16×4 lookup-table projection
    (the data itself was 20 rows). One ``F.expr`` per projection column
    parses JVM-side in milliseconds and yields the identical tree.

    ``unroll=True``: plain multiply-adds over element_at — whole-stage
    codegen'd. ``unroll=False``: the compact zip_with/aggregate lambda
    form (interpreted per evaluation, but its generated code is tiny) for
    oversized codebooks — Janino OOMs compiling tens of thousands of
    unrolled terms (see _UNROLL_MAX_TERMS). Both forms fold terms
    left-to-right and cast elements individually, so they produce
    bit-identical doubles. ``col`` must name a materialized array column
    (raw float vector is fine)."""
    if not unroll:
        lits = ", ".join(_dlit(x) for x in centroid)
        sub = f"slice(`{col}`, {offset + 1}, {len(centroid)})"
        return (
            f"aggregate(zip_with({sub}, array({lits}), "
            "(a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
    terms = " + ".join(
        f"(CAST(element_at(`{col}`, {offset + i + 1}) AS DOUBLE) - {_dlit(x)}) * "
        f"(CAST(element_at(`{col}`, {offset + i + 1}) AS DOUBLE) - {_dlit(x)})"
        for i, x in enumerate(centroid)
    )
    return f"({terms})"


def _argmin_sql(
    col: str, codebook: list[list[float]], offset: int = 0, unroll: bool = True
) -> str:
    """SQL text for the index of the nearest codebook centroid (ties ->
    lowest code). array_max over (negated-distance, negated-code) structs
    compares field-wise, so the max struct is the min distance, then the
    min code — the same device as ``_cell_scores``."""
    structs = ", ".join(
        f"struct(round(-{_sq_dist_sql(col, c, offset, unroll)}, 9) AS negd, "
        f"{-ci} AS negc)"
        for ci, c in enumerate(codebook)
    )
    return f"CAST(-(array_max(array({structs})).negc) AS INT)"


def _pq_unroll(codebooks: list[list[list[float]]]) -> bool:
    m = len(codebooks)
    k_cb = len(codebooks[0])
    sub_dim = len(codebooks[0][0])
    return m * k_cb * sub_dim <= _UNROLL_MAX_TERMS


# Seed-candidate oversampling factor: the hash-threshold prefilter in
# pq_fit keeps an expected _SEED_OVERSAMPLE × k_cb rows per subspace before
# the exact take-k window. xxhash64 is uniform over int64, so with 8×
# oversampling the probability a subspace keeps fewer than k_cb survivors
# is a Chernoff tail below e^-40 for any k_cb >= 4; the escalation loop
# widens the threshold 16× (at most ~5 times, then full scan) on the
# astronomically-rare miss, so the selected seeds are ALWAYS exactly the
# k_cb smallest hashes — identical to a full sort.
_SEED_OVERSAMPLE = 8


def _pq_seed_frame(exploded: DataFrame, k_cb: int, n: int, frac: float) -> DataFrame:
    """The bounded seed-selection plan: hash-threshold prefilter (keep
    ``h`` below the ``frac`` quantile of uniform int64) THEN the exact
    per-subspace take-k window. The window's input is ~OVERSAMPLE × k_cb
    rows per subspace — independent of corpus size — so no corpus-wide
    single-partition sort exists in the fit plan (the round-10 audit's one
    scale flag: ``row_number() OVER (PARTITION BY j)`` previously sorted
    the FULL corpus inside each of m partitions). Because the k_cb
    smallest hashes are each below any threshold that keeps >= k_cb rows,
    the filtered selection is bit-identical to the unfiltered one
    (pinned in tests/test_pq.py::test_pq_seed_prefilter_matches_full_sort).
    """
    cand = exploded
    if frac < 1.0:
        thresh = int(frac * 2**64) - 2**63
        cand = exploded.filter(F.col("h") < F.lit(thresh))
    w = Window.partitionBy("j").orderBy("h")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k_cb)
        .select("j", "rn", "s")
    )


def pq_fit(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k_cb: int = 16,
    iters: int = 2,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Deterministic PQ codebook fit: ``m`` independent k-means-lite runs,
    one per subspace, batched into 2 + ``iters`` Spark jobs TOTAL via a
    subspace explode (not m × iters jobs).

    Seeding mirrors ``ivf_fit``: per subspace j, the ``k_cb`` subvectors
    with the smallest ``xxhash64(id, seed + 31 j)`` — a deterministic
    uniform sample on the data manifold. Selection is a take-k-smallest,
    NOT a sort: a hash-threshold prefilter keeps an expected
    ``_SEED_OVERSAMPLE × k_cb`` rows per subspace (uniform hash ⇒ the
    threshold is a quantile), then an exact window ranks only the
    survivors; an escalation loop widens the threshold on the
    ~e^-40-probability undershoot, so the result is always identical to
    the full sort while the window's input stays O(k_cb) at ANY corpus
    size. Each Lloyd step assigns every exploded (j, subvector) row to
    its nearest centroid (a CASE over the m per-subspace argmin
    expressions) and recomputes per-(j, cell) means with one
    partial-aggregated groupBy; only the m × k_cb × (dim/m) centroid
    floats ever reach the driver. Means are rounded to 9 dp so avg()'s
    summation order cannot leak downstream.

    Returns ``codebooks[j][c] = centroid`` (length dim/m each).
    """
    first = corpus.select(F.col(vec_col)).first()
    if first is None:
        raise ValueError("empty corpus")
    n = corpus.count()
    dim = len(first[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub_dim = dim // m
    exploded = corpus.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.slice(F.col(vec_col), j * sub_dim + 1, sub_dim).alias("s"),
                        F.xxhash64(
                            F.col(id_col).cast("string"), F.lit(seed + 31 * j)
                        ).alias("h"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("e")
    ).select("e.*")
    frac = min(1.0, (_SEED_OVERSAMPLE * k_cb) / max(n, 1))
    need = min(k_cb, n)
    while True:
        seeds = _pq_seed_frame(exploded, k_cb, n, frac).collect()
        per_j = [0] * m
        for r in seeds:
            per_j[r["j"]] += 1
        if frac >= 1.0 or all(c >= need for c in per_j):
            break
        frac = min(1.0, frac * 16)
    books: list[list[list[float]]] = [[] for _ in range(m)]
    for r in sorted(seeds, key=lambda r: (r["j"], r["rn"])):
        books[r["j"]].append([float(x) for x in r["s"]])
    for j, b in enumerate(books):
        if len(b) < k_cb:  # corpus smaller than k_cb: pad by repeating
            books[j] = (b * k_cb)[:k_cb]
    unroll = m * k_cb * sub_dim <= _UNROLL_MAX_TERMS
    for _ in range(iters):
        case = "CASE " + " ".join(
            f"WHEN j = {j} THEN {_argmin_sql('s', books[j], unroll=unroll)}"
            for j in range(m)
        ) + " END"
        rows = (
            exploded.select("j", "s", F.expr(case).alias("c"))
            .groupBy("j", "c")
            .agg(
                *[
                    F.avg(F.element_at("s", i + 1)).alias(f"c{i}")
                    for i in range(sub_dim)
                ]
            )
            .collect()
        )
        for r in rows:  # cells that attracted no vectors keep their seed
            books[r["j"]][r["c"]] = [
                round(float(r[f"c{i}"]), 9) for i in range(sub_dim)
            ]
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    code_col: str = "codes",
) -> DataFrame:
    """The PQ index RELATION: (id, codes) with ``codes[j]`` = nearest
    centroid of subspace j. Per-row pure expressions — encoding is
    shuffle-free (pinned in tests) and streams at scan speed; persist the
    result next to the corpus and the ADC probe never touches the original
    vectors. ``array<int>`` is the relational form; at rest the m codes
    are a byte each (k_cb <= 256), so a parquet/dictionary page stores
    them at ~m bytes/vector — the 100 TB story is the probe SCANS this
    relation instead of the float vectors."""
    m = len(codebooks)
    sub_dim = len(codebooks[0][0])
    unroll = _pq_unroll(codebooks)
    codes = F.expr(
        "array("
        + ", ".join(
            _argmin_sql(vec_col, codebooks[j], offset=j * sub_dim, unroll=unroll)
            for j in range(m)
        )
        + ")"
    )
    return corpus.select(F.col(id_col), codes.alias(code_col))


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    rerank: int | None = None,
    corpus: DataFrame | None = None,
    code_col: str = "codes",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k by asymmetric distance over a PQ code relation.

    Each query row precomputes its m lookup-table arrays (exact squared-L2
    from the query subvector to every centroid — m × k_cb doubles, built
    once on the broadcast side); a candidate's ADC distance is then
    ``sum_j lut_j[codes_j]`` — m array gets per candidate, no dot product,
    no UDF. Ranking is the family's per-query window top-k (ascending
    distance; for unit-norm vectors squared-L2 order == cosine order).

    ``rerank=r`` adds the standard second stage: the top-r ADC candidates
    (r >= k) re-join the ORIGINAL vectors (``corpus`` required) and are
    re-ranked by exact cosine — output schema then matches the other topk
    ops (query_id, neighbor_id, rank, cos); without rerank the score
    column is ``adc``. The join fetches r × |queries| vectors, not the
    corpus.

    ``candidates`` (a (query_id, neighbor_id) relation) restricts the ADC
    scan to those pairs instead of every query × corpus code — the hook
    that composes PQ with a candidate generator (``ivf_pq_topk``: IVF
    cells cut the candidates, PQ cuts the bytes per candidate — the two
    axes are independent)."""
    m = len(codebooks)
    spark = codes.sparkSession
    par = spark.sparkContext.defaultParallelism
    q = _pq_lut_frame(queries, codebooks, vec_col, id_col)
    c = codes.repartition(par, id_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(code_col).alias("__codes")
    )
    if candidates is not None:
        c = c.join(
            candidates.select("query_id", "neighbor_id"), "neighbor_id"
        ).join(F.broadcast(q), "query_id")
    else:
        c = c.join(F.broadcast(q))
    return _pq_adc_rank(c, m, k, rerank, corpus, queries, vec_col, id_col)


def _pq_lut_frame(
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """(query_id, __lut0..__lut{m-1}): per-query ADC lookup tables.

    Computed DRIVER-SIDE: queries are the bounded small side by contract
    (same as brute_force_topk's broadcast side and ivf_fit's centroid
    collect), and a |queries| × m × k_cb table of doubles is
    metadata-scale. Doing this as a giant per-row projection instead
    costs ~2 s of plan analysis/codegen PER CALL (m × k_cb unrolled
    distance expressions) for work the driver finishes in microseconds —
    the plan the executors then run is a tiny local relation broadcast
    into the code-relation scan, which is where the actual data volume
    lives. Python float arithmetic is IEEE double with the same
    left-to-right fold, so the LUT values are bit-identical to the
    expression form."""
    m = len(codebooks)
    sub_dim = len(codebooks[0][0])
    qrows = queries.select(F.col(id_col), F.col(vec_col)).collect()
    lut_rows = []
    for r in qrows:
        v = [float(x) for x in r[1]]
        luts = []
        for j in range(m):
            off = j * sub_dim
            col = []
            for c in codebooks[j]:
                d = None
                for i, x in enumerate(c):
                    t = (v[off + i] - x) * (v[off + i] - x)
                    d = t if d is None else d + t
                col.append(d)
            luts.append(col)
        lut_rows.append((r[0], *luts))
    schema = T.StructType(
        [T.StructField("query_id", queries.schema[id_col].dataType)]
        + [
            T.StructField(f"__lut{j}", T.ArrayType(T.DoubleType()))
            for j in range(m)
        ]
    )
    return queries.sparkSession.createDataFrame(lut_rows, schema)


def _pq_adc_rank(
    c: DataFrame,
    m: int,
    k: int,
    rerank: int | None,
    corpus: DataFrame | None,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Shared ADC scoring + top-k tail of the PQ family: ``c`` carries
    (query_id, neighbor_id, __codes, __lut0..__lut{m-1}) however the
    caller assembled the candidates."""
    adc = F.lit(0.0)
    for j in range(m):
        adc = adc + F.get(F.col(f"__lut{j}"), F.element_at("__codes", j + 1))
    scored = c.filter(F.col("query_id") != F.col("neighbor_id")).withColumn(
        "adc", F.round(adc, 9)
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    ranked = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= (rerank or k))
        .select("query_id", "neighbor_id", "rank", "adc")
    )
    if rerank is None:
        return ranked
    if corpus is None:
        raise ValueError("rerank requires the original-vector corpus")
    if rerank < k:
        raise ValueError(f"rerank={rerank} < k={k}")
    # per-row norms hoisted out of the per-candidate cosine (see
    # brute_force_topk) — the rerank joins fetch r × |queries| vectors, and
    # each one's norm is computed once in its projection, not per pair
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        norm(F.col(vec_col)).alias("__cn"),
    )
    qq = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        norm(F.col(vec_col)).alias("__qn"),
    )
    exact = (
        ranked.select("query_id", "neighbor_id")
        .join(cv, "neighbor_id")
        .join(F.broadcast(qq), "query_id")
        .withColumn(
            "cos",
            F.round(
                dot("__qvec", "__cvec")
                / F.nullif(F.col("__qn") * F.col("__cn"), F.lit(0.0)),
                6,
            ),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def ivf_pq_topk(
    index: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_probe: int = 4,
    rerank: int | None = None,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """IVF × PQ: candidates from the query's ``n_probe`` nearest IVF cells
    (the persisted ``ivf_index`` relation, same gating as
    ``ivf_topk_indexed``), ranked by ADC over the PQ code relation —
    the FAISS IVF-PQ shape as two composed relational ops. The two
    approximations cut INDEPENDENT costs: cells bound how many candidates
    each query touches (≈ n_probe/n_cells of the corpus), codes bound the
    bytes per candidate (m logical bytes, no float vectors in the scan);
    ``rerank`` then restores exact ordering on the short list. Total
    recall ≈ cell recall × ADC recall — both factors measured separately
    in tests.

    r16 plan shape (guide §2.3 "shuffle fewer bytes"): through r15 this
    built the (query_id, neighbor_id) candidate-pair relation first and
    shuffled IT by neighbor_id to meet the code relation — an exchange of
    |queries| × n_probe/n_cells × |corpus| rows before any scoring. Now
    the two CORPUS-sized relations join first (codes ⋈ index on the id,
    reusing the parallelism repartition's partitioning), and the
    query-multiplication happens via two BROADCAST joins (probed cells,
    then LUTs) inside the same stage as the ADC scoring — the only
    pair-sized exchange left is the per-query top-k window's, which is
    fundamental to the ranking. Candidate set, ADC expression, window
    ordering and rerank are unchanged, so the result is bit-identical."""
    qv = as_double_vec(vec_col)
    q_cells = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(
            F.transform(
                F.slice(
                    F.sort_array(F.array(*_cell_scores(qv, centroids)), asc=False),
                    1,
                    n_probe,
                ),
                lambda s: s["cell"],
            )
        ).alias("cell"),
    )
    m = len(codebooks)
    par = codes.sparkSession.sparkContext.defaultParallelism
    q = _pq_lut_frame(queries, codebooks, vec_col, id_col)
    cc = (
        codes.repartition(par, id_col)
        .select(F.col(id_col).alias("neighbor_id"), F.col("codes").alias("__codes"))
        .join(index.select(F.col(id_col).alias("neighbor_id"), "cell"), "neighbor_id")
    )
    scored_c = (
        cc.join(F.broadcast(q_cells), "cell")
        .drop("cell")
        .join(F.broadcast(q), "query_id")
    )
    return _pq_adc_rank(scored_c, m, k, rerank, corpus, queries, vec_col, id_col)


def _mmr_greedy_driver(
    cand: DataFrame,
    local_cand: pa.Table,
    local_pairs: pa.Table,
    k: int,
    lam_num: int,
    lam_den: int,
    scale: float,
) -> DataFrame:
    """Driver-side exact MMR greedy over the collected pool-bounded
    candidate/pair tables (see the bound check in ``mmr_topk``). Mirrors
    the distributed unrolled loop operation-for-operation: integer
    fixed-point scores, (score_i, -cid) argmax tie-break, inner-join
    penalty semantics (a candidate with no pair row to any selected member
    is excluded from that round, exactly like the distributed
    ``cand ⋈ pen`` inner join), and the single exact double division for
    the reported score."""
    rel: dict = {}
    for qid, cid, ri in zip(*(c.to_pylist() for c in local_cand.columns)):
        rel.setdefault(qid, []).append((cid, ri))
    sim: dict = {}
    for qid, a, b, si in zip(*(c.to_pylist() for c in local_pairs.columns)):
        sim.setdefault((qid, a), {})[b] = si
    lam_pen = lam_den - lam_num
    rows = []
    for qid, cands in rel.items():
        best = max(cands, key=lambda c: (lam_num * c[1], -c[0]))
        selected = [best[0]]
        rows.append((qid, 1, best[0], (lam_num * best[1]) / scale))
        remaining = {cid: ri for cid, ri in cands if cid != best[0]}
        for pos in range(2, k + 1):
            best_entry = None
            for cid, ri in remaining.items():
                pens = [
                    sim.get((qid, cid), {})[b]
                    for b in selected
                    if b in sim.get((qid, cid), {})
                ]
                if not pens:
                    continue  # inner-join semantics: no pen row, no score row
                score_i = lam_num * ri - lam_pen * max(pens)
                key = (score_i, -cid)
                if best_entry is None or key > best_entry[0]:
                    best_entry = (key, cid, score_i)
            if best_entry is None:
                break
            _, cid, score_i = best_entry
            selected.append(cid)
            del remaining[cid]
            rows.append((qid, pos, cid, score_i / scale))
    # the unrolled loop's schema: its pos is a literal, its neighbor and
    # score come out of a max_by and a division
    qid = cand.schema["query_id"]
    schema = T.StructType(
        [
            T.StructField("query_id", qid.dataType, qid.nullable),
            T.StructField("pos", T.IntegerType(), False),
            T.StructField("neighbor_id", cand.schema["cid"].dataType, True),
            T.StructField("score", T.DoubleType(), True),
        ]
    )
    return cand.sparkSession.createDataFrame(rows, schema)


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    pool: int = 20,
    lam_num: int = 7,
    lam_den: int = 10,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance diverse top-k (Carbonell & Goldstein,
    SIGIR'98): greedily pick k results maximizing
    ``lam * rel(q, d) - (1 - lam) * max sim(d, selected)`` — the standard
    redundancy-killing rerank for retrieval (RAG context packing, dedup-
    aware search) that plain cosine top-k lacks. ``lam`` is the rational
    ``lam_num / lam_den`` (default 7/10): see the fixed-point note below
    for why it is NOT a float parameter.

    Set-based greedy: the selection loop is unrolled into k dataflow
    stages that run for ALL queries simultaneously — stage i is one join
    of the candidate-pair sims against the selected-so-far set, a
    map-side-combinable max (the penalty), and a per-query ``max_by``
    argmax; no driver-side per-query loop, no collect. The greedy
    recursion is inherently sequential in k, but k is a user constant
    (5-20) while the query set is the scale axis — and that axis is fully
    parallel. When the checkpointed candidate and pair sets each fit
    ``session._DRIVER_ROWS_MAX`` rows (a count, then one collect each), an
    integer Python greedy on the driver replaces the k stages with the
    same arithmetic and tie-breaks (bit-equal output). Jobs are labelled
    ``similarity.mmr_topk.<candidates|pairs|collect>``, nested under the
    caller's job description.

    Cost shape at 100 TB: the only corpus-sized work is the relevance
    scan — ``brute_force_topk`` by default, or ANY ANN path passed via
    ``candidates`` in the shared top-k contract
    (query_id, neighbor_id, cos): ``ivf_topk``/``ivf_topk_indexed``/
    ``lsh_bucket_topk`` all emit it, so the scale path drops in without
    touching the rerank (registered: ``mmr_diverse_topk_ivf``; partial-
    probe composition pinned in tests/test_dedup_similarity.py).
    Everything after operates on pool-bounded sets: pool^2 pair sims per
    query, computed ONCE and reused by every stage (localCheckpoint pins
    them — the re-analysis cost of re-deriving the scan per stage is the
    trap, not the data).

    Determinism (oracle-exact, integer fixed-point): rel and pair sims
    are cosines rounded at 6 dp, then scaled to exact BIGINTs (x * 1e6 is
    within ~1e-9 of an integer, so the int cast is unambiguous). The
    greedy objective is computed ENTIRELY in integers:
    ``score_i = lam_num * rel_i - (lam_den - lam_num) * pen_i`` — the
    same device as the PageRank fixed-point oracle. A float formulation
    (``round(0.7*rel - 0.3*pen, 6)``) is structurally unsafe here: the
    exact product of a 1-dp coefficient and a 6-dp value has 7 decimals,
    so roughly every other score sits EXACTLY on a 6-dp round-half
    boundary, where engines' round() implementations disagree based on
    which side of the boundary the nearest double lands (observed: one
    flipped digit at sf0.01 on the first run of the float form). Integer
    argmax has no boundaries; ties break on lowest candidate id via the
    (score_i, -id) ``max_by`` struct. The reported ``score`` is the
    single exact division score_i / (lam_den * 1e6), bit-identical in
    any IEEE engine.

    Returns (query_id, pos 1..k, neighbor_id, score).
    """
    if not (0 < lam_num < lam_den):
        raise ValueError("need 0 < lam_num < lam_den")
    if candidates is None:
        candidates = brute_force_topk(corpus, queries, vec_col, id_col, k=pool)
    else:
        # Enforce the documented pool bound on external candidate sets: the
        # pair-sim stage is pool^2 per query, so an oversized caller pool
        # must be truncated (top-`pool` by cos, ties on lowest neighbor_id)
        # rather than silently inflating that stage. A caller passing
        # <= pool rows per query (every ANN path invoked with k=pool) is
        # unchanged — the filter is the identity there.
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos").desc(), F.col("neighbor_id").asc()
        )
        candidates = (
            candidates.withColumn("__pr", F.row_number().over(w))
            .filter(F.col("__pr") <= pool)
            .drop("__pr")
        )
    cand = candidates.select(
        "query_id",
        F.col("neighbor_id").alias("cid"),
        F.round(F.col("cos") * 1e6, 0).cast("bigint").alias("rel_i"),
    )
    vecs = corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("__v"))
    # norm stored per candidate row (computed once, after the pool join
    # pruned the corpus): the pool^2 pair-sim stage below then pays one
    # interpreted array fold per pair (dot) instead of three —
    # norm(a)*norm(b) is the same IEEE expression on the same values, so
    # sim_i is bit-identical to the cosine() form.
    spark = corpus.sparkSession
    with job_description(spark, "similarity.mmr_topk.candidates", nest=True):
        cw = (
            cand.join(vecs, "cid")
            .withColumn("__n", norm(F.col("__v")))
            .localCheckpoint(eager=True)
        )
    side_a = cw.select(
        "query_id",
        F.col("cid").alias("a"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    side_b = cw.select(
        "query_id",
        F.col("cid").alias("b"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    with job_description(spark, "similarity.mmr_topk.pairs", nest=True):
        pairs = (
            side_a.join(side_b, "query_id")
            .filter(F.col("a") != F.col("b"))
            .select(
                "query_id",
                "a",
                "b",
                F.round(
                    F.round(
                        dot("__va", "__vb")
                        / F.nullif(F.col("__na") * F.col("__nb"), F.lit(0.0)),
                        6,
                    )
                    * 1e6,
                    0,
                )
                .cast("bigint")
                .alias("sim_i"),
            )
            .localCheckpoint(eager=True)
        )
    cand = cw.select("query_id", "cid", "rel_i")
    scale = float(lam_den * 1_000_000)

    # Everything past the relevance scan is pool-bounded (pool candidates
    # and pool^2 pair sims per query, exact BIGINTs pinned by the
    # checkpoints above), so under the driver row bound the greedy runs on
    # the driver; at 100 TB the query-set axis is unbounded and the
    # unrolled loop below runs.
    with job_description(spark, "similarity.mmr_topk.collect", nest=True):
        local_cand = collect_bounded(cand)
        local_pairs = collect_bounded(pairs) if local_cand is not None else None
    if local_pairs is not None:
        return _mmr_greedy_driver(
            cand, local_cand, local_pairs, k, lam_num, lam_den, scale
        )

    def _argmax(scored: DataFrame, pos: int) -> DataFrame:
        return (
            scored.groupBy("query_id")
            .agg(
                F.max_by(
                    F.struct(F.col("cid"), F.col("score_i")),
                    F.struct(F.col("score_i"), (-F.col("cid")).alias("nid")),
                ).alias("s")
            )
            .select(
                "query_id",
                F.col("s.cid").alias("cid"),
                F.lit(pos).cast("int").alias("pos"),
                F.col("s.score_i").alias("score_i"),
            )
        )

    selected = _argmax(
        cand.withColumn("score_i", F.lit(lam_num) * F.col("rel_i")), 1
    )
    for pos in range(2, k + 1):
        pen = (
            pairs.join(
                selected.select("query_id", F.col("cid").alias("b")),
                ["query_id", "b"],
            )
            .groupBy("query_id", F.col("a").alias("cid"))
            .agg(F.max("sim_i").alias("pen_i"))
        )
        scored = (
            cand.join(selected.select("query_id", "cid"), ["query_id", "cid"], "left_anti")
            .join(pen, ["query_id", "cid"])
            .withColumn(
                "score_i",
                F.lit(lam_num) * F.col("rel_i")
                - F.lit(lam_den - lam_num) * F.col("pen_i"),
            )
        )
        selected = selected.unionByName(_argmax(scored, pos))
    return selected.select(
        "query_id",
        "pos",
        F.col("cid").alias("neighbor_id"),
        (F.col("score_i") / F.lit(scale)).alias("score"),
    )


# ---------------------------------------------------------------------------
# Drift-gated IVF maintenance (r14 verdict #3): the centroid-drift monitor
# and the IVF index live in the same engine — wire them, so a drifting
# embedding distribution (encoder update, domain shift) triggers an
# incremental centroid refresh instead of silently degrading recall until
# someone notices and refits from scratch.
# ---------------------------------------------------------------------------

#: fixed-point scale shared with quality.embedding_centroid_drift — the
#: refresh sums are exact BIGINTs so the oracle reproduces them bit-for-bit
_REFRESH_SCALE = 1_000_000.0


def ivf_seed_centroids_md5(
    ref: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 8,
    salt: str = "ivf-seed-v1",
) -> list[list[float]]:
    """Cross-engine-reproducible IVF seeding: the ``n_cells`` corpus
    vectors with the smallest 48-bit ``md5(salt || id)`` bucket (id
    tiebreak), components quantized at 6 dp. Same selection device as
    ``dedup.deterministic_split`` — md5, not xxhash64, precisely so an
    external SQL engine can rebuild the SAME stale centroids, which is
    what makes ``ivf_drift_refresh``'s oracle possible. ``ivf_fit``'s
    xxhash64 seeding stays the in-engine default (one fewer md5 per row).

    Only n_cells × dim floats reach the driver (documented bound — the
    same footprint class as ivf_fit's seed collect)."""
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 12
            ),
            16,
            10,
        ).cast("bigint")
    )
    rows = (
        ref.select(as_double_vec(vec_col).alias("__v"), bucket.alias("__b"), id_col)
        .orderBy("__b", id_col)
        .limit(n_cells)
        .collect()
    )
    if not rows:
        raise ValueError("empty reference corpus")
    return [[round(float(x), 6) for x in r["__v"]] for r in rows]


def _cell_scores_rounded(v: F.Column, centroids: list[list[float]]) -> list[F.Column]:
    """``_cell_scores`` with the score rounded at 6 dp BEFORE the argmax:
    cross-engine assignment must not hinge on sub-1e-6 float-fold noise
    (ties after rounding break to the HIGHEST cell in both engines —
    array_max on struct(s, cell) here, ORDER BY s DESC, cell DESC in the
    oracle)."""
    norm_v = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    out = []
    for i, c in enumerate(centroids):
        nc = math.sqrt(sum(x * x for x in c)) or 1e-12
        score = F.round(
            _dot_lit(v, c) / (norm_v * F.lit(nc) + F.lit(1e-12)), 6
        )
        out.append(F.struct(score.alias("s"), F.lit(i).alias("cell")))
    return out


def ivf_drift_refresh(
    ref: DataFrame,
    cur: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    group_col: str = "label",
    n_cells: int = 8,
    drift_threshold: float = 0.9,
    salt: str = "ivf-seed-v1",
) -> DataFrame:
    """Drift-GATED incremental IVF centroid refresh — the maintenance loop
    the r14 verdict called the real production-ANN failure mode: IVF/PQ
    structures are fit once, and an encoder update or domain shift
    silently degrades recall with no signal wired to repair.

    1. GATE — ``quality.embedding_centroid_drift(ref, cur)`` per group;
       groups whose 6-dp centroid cosine drops below ``drift_threshold``
       are DRIFTED. The gate compares identical integer-sum cosines in
       any engine, so the threshold decision is reproducible exactly
       (no float-boundary hazard).
    2. SLICE — only the drifted groups' CURRENT vectors feed the refresh
       (broadcast semi-join on the ≤|groups| drifted keys): cost tracks
       the drifted population, not the corpus.
    3. REFRESH — one Lloyd step seeded from the STALE centroids
       (``ivf_seed_centroids_md5`` over the reference snapshot): each
       drifted vector (6-dp quantized) is assigned to its nearest stale
       centroid (rounded-cosine argmax, deterministic tie-break), then
       per-(cell, dim) sums accumulate as exact BIGINTs — the fixed-point
       device of ``embedding_centroid_drift``, so the refreshed centroid
       numerators are order-insensitive and engine-exact.

    Returns one row per (cell, pos): ``(cell, pos, stale_scaled, n,
    sum_scaled)`` — the stale centroid component (scaled 1e6), the
    assigned-vector count, and the exact component sum (NULL for cells
    that attracted no drifted vectors — those cells keep their stale
    centroid). ``ivf_refresh_centroids`` converts this relation to the
    ``list[list[float]]`` the probe functions take; recall re-measured
    stale-vs-refreshed is pinned in tests/test_similarity.py and benched
    in BENCH_DETAIL's ann_production rows.

    100 TB shape: the gate is two corpus scans shuffling |groups| × dim
    integer partial sums (map-side combined); the refresh scans only the
    drifted slice once, shuffles n_cells × dim partial sums. Driver
    materialization: n_cells seed vectors + the final n_cells × dim
    relation — both bounded.
    """
    from healthcare_rcm_etl_pipeline_spark.operators import quality

    stale = ivf_seed_centroids_md5(ref, vec_col, id_col, n_cells, salt)
    dim = len(stale[0])

    gate = quality.embedding_centroid_drift(ref, cur, vec_col, group_col)
    drifted = gate.filter(F.col("centroid_cos") < drift_threshold).select(group_col)
    v6 = F.transform(as_double_vec(vec_col), lambda x: F.round(x, 6))
    sliced = cur.join(F.broadcast(drifted), group_col, "left_semi").select(
        v6.alias("__v")
    )
    # two selects: a generator (posexplode) sharing a projection with
    # lambda-function structs strips the struct field names in Spark's
    # analyzer (FIELD_NOT_FOUND col1/col2) — assign first, then explode
    assigned = sliced.select(
        F.array_max(F.array(*_cell_scores_rounded(F.col("__v"), stale)))[
            "cell"
        ].alias("cell"),
        "__v",
    ).select("cell", F.posexplode("__v").alias("pos", "__c"))
    sums = assigned.groupBy("cell", "pos").agg(
        F.sum(
            F.round(F.col("__c") * F.lit(_REFRESH_SCALE), 0).cast("bigint")
        ).alias("sum_scaled"),
        F.count(F.lit(1)).alias("n"),
    )
    spark = ref.sparkSession
    stale_rows = [
        (cell, pos, int(round(c[pos] * _REFRESH_SCALE)))
        for cell, c in enumerate(stale)
        for pos in range(dim)
    ]
    stale_df = spark.createDataFrame(
        stale_rows, "cell int, pos int, stale_scaled bigint"
    )
    # broadcast the aggregated side (n_cells x dim rows, bounded): the
    # left/build side of a left-outer join cannot be the broadcast side
    return (
        stale_df.join(F.broadcast(sums), ["cell", "pos"], "left")
        .select(
            "cell",
            "pos",
            "stale_scaled",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
            F.col("sum_scaled").cast("bigint").alias("sum_scaled"),
        )
    )


def ivf_refresh_centroids(refresh: DataFrame) -> list[list[float]]:
    """Convert ``ivf_drift_refresh``'s relation into the probe-ready
    centroid list: cells with assigned vectors take the Lloyd mean
    (exact integer numerator / count, rounded at 9 dp like ``ivf_fit``),
    empty cells keep their stale centroid. n_cells × dim rows — the same
    driver-side bound as the fit collects."""
    rows = refresh.collect()
    cells: dict[int, dict[int, tuple[int, int, int | None]]] = {}
    for r in rows:
        cells.setdefault(r["cell"], {})[r["pos"]] = (
            r["stale_scaled"],
            r["n"],
            r["sum_scaled"],
        )
    out = []
    for cell in sorted(cells):
        comp = cells[cell]
        vec = []
        for pos in sorted(comp):
            stale_scaled, n, sum_scaled = comp[pos]
            if n and sum_scaled is not None:
                vec.append(round(sum_scaled / n / _REFRESH_SCALE, 9))
            else:
                vec.append(stale_scaled / _REFRESH_SCALE)
        out.append(vec)
    return out
