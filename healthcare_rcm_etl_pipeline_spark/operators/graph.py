"""Connected components over near-dup pair lists — the step that turns
pairwise dedup output (ngram_jaccard / minhash / simhash / embedding pairs)
into dedup CLUSTERS: every doc labeled with the min doc-id of its component,
so one survivor per cluster can be kept with a single groupBy.

Algorithm: the raw pairs are checkpointed, then labelled either on the
driver (a union-find with union-by-min-id, when they fit
``session._DRIVER_ROWS_MAX`` rows) or by min-label propagation over their
symmetric edges in Spark (the MapReduce-CC shape of Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) plus a per-round
POINTER-JUMPING step
(label <- label(label), the hash-to-min idea of Rastogi et al., "Finding
Connected Components in Map-Reduce in Logarithmic Rounds", ICDE'13): each
node starts labeled with itself; every round each node takes the min of its
own label and its neighbors' labels, then relabels through its label's own
label. On a chain the jump roughly doubles the propagation distance per
round: a duplicate chain of length 1000 converges in ~10 rounds instead of
1000 (pinned by the diameter-stress test). That is no bound for general
graphs: on uniform random pair graphs (4 cores) the Spark rounds took
14-24 s at 65,536 pairs and 88 s and 20 rounds at 524,288 pairs, where a
second draw did not converge in 20 rounds; the driver union-find took
1.2-4.9 s and 4.8-5.6 s at those sizes, and 22 s at 2,097,152 pairs.

The module also holds the other graph operators: ``bfs_hops`` (hop-bounded
reach), ``pagerank_fixed_point`` (integer PageRank) and ``triangle_counts``.

Scale notes (100 TB):
- Each CC round is one equi-join (edges ⋈ labels on src) + one
  groupBy(dst) min — both shuffle on node id; no collect, no driver state
  beyond the per-round changed-count aggregate.
- ``localCheckpoint`` truncates lineage every distributed round: without it
  the plan doubles per iteration and Catalyst analysis time explodes long
  before the data does.
- The Spark rounds hold edges symmetric (a→b and b→a) so propagation
  needs no direction handling; self-loops carry each node's own label.
- Bounded state runs on the driver: ``connected_components``, ``bfs_hops``
  and ``pagerank_fixed_point`` checkpoint their raw edges, count them, and
  when they fit ``session._DRIVER_ROWS_MAX`` rows collect them once through
  ``session.collect_bounded`` and iterate in Python or NumPy. The row bound
  is a driver-memory budget below the measured break-even (see
  ``session``); edges above it never reach the driver and run the
  distributed loops. Both sides return the same rows and schema.
- Every Spark job an operator launches is labelled ``graph.<op>.<step>``,
  nested under the caller's job description.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from healthcare_rcm_etl_pipeline_spark.session import collect_bounded, job_description


def _step(df: DataFrame, op: str, step: str):
    """Label the Spark jobs of one step of a graph operator
    ``graph.<op>.<step>``, nested under the caller's own label."""
    return job_description(df.sparkSession, f"graph.{op}.{step}", nest=True)


def _driver_edges(df: DataFrame) -> pa.Table | None:
    """``df`` (a checkpoint) on the driver if it fits the driver row bound
    and holds no NULL id (NULLs never join, so the driver rounds could not
    mirror the distributed ones); else None."""
    table = collect_bounded(df)
    if table is None or any(c.null_count for c in table.columns):
        return None
    return table


def connected_components(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iters: int = 20,
    out_node: str = "doc",
    out_component: str = "component",
) -> DataFrame:
    """Label every node reachable through ``pairs`` with the minimum node id
    of its connected component. Only nodes appearing in at least one pair
    are returned (callers union singletons back if they need every row).

    Deterministic: min-label is order-independent, so the result does not
    depend on partitioning, iteration scheduling or where the labels are
    computed.

    The raw pairs are checkpointed first (no shuffle). When they fit
    ``session._DRIVER_ROWS_MAX`` rows (a count, then one bounded collect)
    and hold no NULL id, a driver union-find labels them and the labels
    return as a local relation: at most twice the bound's node count
    (~128 MB of two long columns), with exact size statistics. A caller
    that joins them as a build side hints them through
    ``broadcast_if_local``. Above the bound the min-label rounds run in
    Spark on the checkpoint's symmetric edges (``cc_rounds`` times them
    alone). Both paths return the same rows and schema. Jobs are labelled
    ``graph.connected_components.<edges|collect|round>``.
    """
    raw = _raw_edges(pairs, src_col, dst_col, "connected_components")
    with _step(pairs, "connected_components", "collect"):
        local = _driver_edges(raw)
    if local is not None:
        labels = _union_find_min_labels(
            zip(local.column("s").to_pylist(), local.column("t").to_pylist())
        )
        id_type = local.column("s").type
        out = pa.table({
            out_node: pa.array(labels.keys(), id_type),
            out_component: pa.array(labels.values(), id_type),
        })
        node = _symmetric(raw).schema["s"]
        schema = StructType([
            StructField(out_node, node.dataType, node.nullable),
            StructField(out_component, node.dataType, node.nullable),
        ])
        return pairs.sparkSession.createDataFrame(out, schema)
    labels, _ = _cc_rounds(pairs, _symmetric(raw), max_iters)
    return labels.select(
        F.col("node").alias(out_node), F.col("label").alias(out_component)
    )


def broadcast_if_local(labels: DataFrame) -> DataFrame:
    """``connected_components``' labels with a broadcast hint when they are
    the driver's local relation, bounded by the driver row bound; the Spark
    rounds' labels are left to AQE. For a caller that joins the labels as
    the build side: a local relation above the broadcast threshold would
    otherwise be planned sort-merge against the corpus. Spark logs the
    hint as unusable anywhere else (an unjoined return, the left side of a
    semi or anti join)."""
    return F.broadcast(labels) if labels.isLocal() else labels


def cc_rounds(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iters: int = 20,
) -> int:
    """Rounds the Spark min-label loop takes to converge, whatever the
    driver row bound (for scale probes / diameter stress tests)."""
    return _cc_rounds(pairs, _symmetric(pairs, src_col, dst_col), max_iters)[1]


def _raw_edges(df: DataFrame, src_col: str, dst_col: str, op: str) -> DataFrame:
    """The ``(s, t)`` pairs of ``df``, both ids cast to their common type,
    checkpointed: a narrow projection, no shuffle."""
    id_type = df.select(src_col).union(df.select(dst_col)).schema[0].dataType
    with _step(df, op, "edges"):
        return df.select(
            F.col(src_col).cast(id_type).alias("s"),
            F.col(dst_col).cast(id_type).alias("t"),
        ).localCheckpoint(eager=True)


def _symmetric(df: DataFrame, src_col: str = "s", dst_col: str = "t") -> DataFrame:
    """The symmetric, distinct ``(s, t)`` edges of ``df``'s pairs, lazily."""
    return (
        df.select(F.col(src_col).alias("s"), F.col(dst_col).alias("t"))
        .unionByName(df.select(F.col(dst_col).alias("s"), F.col(src_col).alias("t")))
        .distinct()
    )


def _cc_rounds(
    pairs: DataFrame, edges: DataFrame, max_iters: int
) -> tuple[DataFrame, int]:
    """The Spark min-label rounds over the symmetric ``edges``, checkpointed
    first: the (node, label) fixed point and the rounds it took."""
    with _step(pairs, "connected_components", "edges"):
        edges = edges.localCheckpoint(eager=True)
    with _step(pairs, "connected_components", "round"):
        labels = (
            edges.select(F.col("s").alias("node"))
            .distinct()
            .withColumn("label", F.col("node"))
            .localCheckpoint(eager=True)
        )
    for rounds in range(1, max_iters + 1):
        # neighbor-propagated candidate labels, then keep the per-node min
        # of (current label, best neighbor label)
        prop = (
            edges.join(labels, edges["s"] == labels["node"])
            .select(F.col("t").alias("node"), "label")
            .groupBy("node")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(prop, "node", "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias(
                "new_label"
            ),
            "label",
        )
        # pointer jump: relabel through the label's own (new) label.
        # Every label value is a node id, so the lookup always resolves;
        # on a chain the chase roughly doubles propagation distance per
        # round. Labels only decrease and stay inside their component, so
        # the jump never changes the fixed point, only how fast it is
        # reached.
        lookup = stepped.select(
            F.col("node").alias("__ln"), F.col("new_label").alias("__ll")
        )
        stepped = stepped.join(
            lookup, stepped["new_label"] == lookup["__ln"], "left"
        ).select(
            "node", F.coalesce("__ll", "new_label").alias("new_label"), "label"
        )
        with _step(pairs, "connected_components", "round"):
            new_labels = stepped.localCheckpoint(eager=True)
            changed = new_labels.filter(F.col("new_label") != F.col("label")).count()
        labels = new_labels.select("node", F.col("new_label").alias("label"))
        if changed == 0:
            return labels, rounds
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds; "
        "raise max_iters"
    )


def _union_find_min_labels(edges) -> dict:
    """Union-find with path compression and union-by-MIN-id over an
    iterable of (a, b) edges: returns {node: min id of its component}.
    The min-root invariant (a merged set's root is the smaller of the two
    roots, inductively the set minimum) makes the output identical to the
    distributed min-label fixed point — property-tested against an
    independent BFS labeling in tests/test_graph.py."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    for n in parent:  # in place: a resolved entry stays on its root
        parent[n] = find(n)
    return parent


def connected_components_incremental(
    prev_labels: DataFrame,
    new_pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iters: int = 20,
    out_node: str = "doc",
    out_component: str = "component",
) -> DataFrame:
    """Merge a NEW batch of pairs into an existing component labeling
    without re-running CC over the full graph — the incremental-ingestion
    companion to minhash_lsh_pairs_incremental: each ingested batch yields
    cross/new pairs, and the cluster labels must absorb them.

    Correctness rests on star contraction: an old component is fully
    captured by its (member -> label) edges, so CC over
    ``star edges of AFFECTED components ∪ new pairs`` equals CC over the
    whole original edge set restricted to those components. Components
    untouched by any new pair pass through VERBATIM — no join, no
    iteration over them — so per-batch cost scales with the new batch and
    the components it touches, never the accumulated graph:

    1. nodes(new_pairs) -> their old components (one semi-joinable lookup);
    2. prev_labels splits into affected / unaffected by component;
    3. CC runs on (affected star edges ∪ new pairs) — old clusters are
       depth-1 stars, so the iteration count is driven by the NEW merge
       structure only;
    4. unaffected labels union back unchanged.

    Equals the full recompute exactly (min-id labels; pinned in tests).
    Returns (out_node, out_component) for every node in prev_labels or
    new_pairs.
    """
    prev = prev_labels.select(
        F.col(out_node).alias("node"), F.col(out_component).alias("label")
    )
    new_nodes = (
        new_pairs.select(F.col(src_col).alias("node"))
        .unionByName(new_pairs.select(F.col(dst_col).alias("node")))
        .distinct()
    )
    touched = (
        prev.join(new_nodes, "node", "left_semi").select("label").distinct()
    )
    affected = prev.join(touched, "label", "left_semi")
    unaffected = prev.join(touched, "label", "left_anti")
    star = affected.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias(src_col), F.col("label").alias(dst_col)
    )
    merged = connected_components(
        star.unionByName(new_pairs.select(src_col, dst_col)),
        src_col=src_col,
        dst_col=dst_col,
        max_iters=max_iters,
        out_node=out_node,
        out_component=out_component,
    )
    # an affected single-member component whose node appears in new_pairs
    # is already in merged (via its new edges); one that does NOT appear in
    # new_pairs is by definition unaffected. No residue either way.
    return merged.unionByName(
        unaffected.select(
            F.col("node").alias(out_node), F.col("label").alias(out_component)
        )
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_hops: int = 3,
    out_node: str = "node",
    out_hops: str = "hops",
) -> DataFrame:
    """Minimum hop distance from a SEED set over an undirected edge list,
    bounded at ``max_hops`` — the multi-hop reach primitive (related-item
    expansion, contamination blast radius, recall set growth).

    Level-synchronous frontier BFS: the frontier starts as the seeds at
    hop 0; each round expands only the CURRENT frontier (not the full
    visited set) over the edges and drops already-visited nodes, and the
    loop stops early the moment a frontier comes back empty. Determinism:
    hop numbers are structural (min distance), independent of
    partitioning and of where the rounds run.

    The raw edges (no shuffle) and the distinct seeds are checkpointed
    first. When both fit ``session._DRIVER_ROWS_MAX`` rows (a count, then
    one bounded collect each), the rounds run on the driver in NumPy set
    operations per hop over both directions of each edge, and the result
    returns as a local relation: a Spark round costs ~2 jobs whatever the
    frontier size. Above the bound the rounds run in Spark on the
    checkpoint's symmetric edges: each joins the frontier against them and
    anti-joins the visited set, so round cost is O(edges touching the
    frontier) — on a 100 TB graph the work tracks the reached neighborhood
    — with a ``localCheckpoint`` per round (iterative plans otherwise
    double in size per round). Both paths return the same rows and schema.
    Jobs are labelled ``graph.bfs_hops.<edges|seeds|collect|hop>``.

    ``seeds``: one-column DataFrame of node ids. Returns (out_node,
    out_hops) for every node within ``max_hops`` of any seed — ALL
    distinct seeds included at hop 0, even seeds with no incident edge
    (an isolated seed is within 0 hops of itself; for the blast-radius
    use the benchmark hit itself is always in the radius). The
    edges-semi-join is applied only to the EXPANSION frontier, where it
    is a pure optimization: isolated seeds cannot discover neighbors.
    """
    raw = _raw_edges(edges, src_col, dst_col, "bfs_hops")
    with _step(edges, "bfs_hops", "seeds"):
        all_seeds = (
            seeds.select(F.col(seeds.columns[0]).alias("node"))
            .distinct()
            .localCheckpoint(eager=True)
        )
    with _step(edges, "bfs_hops", "collect"):
        local_e = _driver_edges(raw)
        local_seeds = _driver_edges(all_seeds) if local_e is not None else None
    # an edge with a NULL end joins nothing: NULL never matches the visited
    # anti-join, so it would be reported again on every hop
    sym = _symmetric(raw.dropna())
    if local_seeds is not None:
        s, t = (local_e.column(c).to_numpy(zero_copy_only=False) for c in "st")
        levels = _bfs_levels(
            np.concatenate([s, t]),
            np.concatenate([t, s]),
            local_seeds.column("node").to_numpy(zero_copy_only=False),
            max_hops,
        )
        # the distributed result's node type: seeds unioned with edge ends
        ends = sym.select(F.col("t").alias("node"))
        node = all_seeds.unionByName(ends).schema["node"]
        out = pa.table({
            out_node: np.concatenate(levels),
            out_hops: np.repeat(np.arange(len(levels), dtype=np.int32),
                                [len(lv) for lv in levels]),
        })
        schema = StructType([
            StructField(out_node, node.dataType, node.nullable),
            StructField(out_hops, IntegerType(), False),
        ])
        return edges.sparkSession.createDataFrame(out, schema)
    with _step(edges, "bfs_hops", "edges"):
        e = sym.localCheckpoint(eager=True)
    # The expansion frontier's seed semi-join folds into hop 1's job, and
    # ``visited`` is NEVER separately checkpointed: it is a union of
    # already-checkpointed frontiers (all_seeds + nxt_1..h), so its lineage
    # grows LINEARLY with the bounded hop count — the per-round doubling
    # that justifies checkpointing in connected_components does not occur.
    # Through r14 every hop paid 3 jobs (nxt checkpoint, isEmpty, visited
    # checkpoint) plus a frontier pre-checkpoint; now it pays 2.
    frontier = all_seeds.join(
        e.select(F.col("s").alias("node")).distinct(), "node", "left_semi"
    )
    visited = all_seeds.withColumn("hops", F.lit(0))
    for hop in range(1, max_hops + 1):
        with _step(edges, "bfs_hops", "hop"):
            nxt = (
                e.join(frontier.withColumnRenamed("node", "s"), "s")
                .select(F.col("t").alias("node"))
                .distinct()
                .join(visited.select("node"), "node", "left_anti")
                .localCheckpoint(eager=True)
            )
            if nxt.isEmpty():
                break
        visited = visited.unionByName(nxt.withColumn("hops", F.lit(hop)))
        frontier = nxt
    return visited.select(
        F.col("node").alias(out_node), F.col("hops").cast("int").alias(out_hops)
    )


def _bfs_levels(s: np.ndarray, t: np.ndarray, seeds: np.ndarray, max_hops: int):
    """The driver rounds of ``bfs_hops`` over the edge arrays ``s -> t``
    (both directions of each edge, repeats allowed): the per-hop node
    arrays, hop 0 = the distinct ``seeds``. Same frontier rule as the Spark
    rounds: only seeds with an edge expand; an empty frontier ends it."""
    levels = [seeds]
    visited = seeds
    frontier = seeds[np.isin(seeds, s)]
    for _ in range(max_hops):
        nxt = np.unique(t[np.isin(s, frontier)])
        nxt = nxt[~np.isin(nxt, visited)]
        if nxt.size == 0:
            break
        levels.append(nxt)
        visited = np.concatenate([visited, nxt])
        frontier = nxt
    return levels


def pagerank_fixed_point(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 10,
    scale: int = 10**12,
    damp_pct: int = 85,
) -> DataFrame:
    """Fixed-iteration PageRank with INTEGER fixed-point arithmetic —
    (node, rank_scaled) after ``iters`` power steps, rank mass carried as
    BIGINT units of 1/``scale``.

    Why integers: float PageRank sums per-node contributions whose
    addition order differs across partitionings and engines, so no two
    runs (or a Spark run and a SQL oracle) agree bit-for-bit. BIGINT
    sums are exact and order-free and integer division floors
    identically everywhere, so the whole iteration is deterministic and
    cross-engine reproducible — the same device as the decimal money
    sums, applied to an iterative algorithm. The quantization error per
    step is < outdeg/scale of a unit, irrelevant at scale=1e12.

    Per step, each node sends floor(rank / outdeg) along every out-edge,
    and receives damp% of its incoming sum plus the constant teleport
    floor((100-damp)% of scale/N). Overflow-safe by construction: total
    mass stays ~scale, so damp_pct x any incoming sum fits a BIGINT.
    Dangling nodes keep only the teleport term (their mass leaks — the
    standard simple variant; symmetrize the edges for the undirected
    walk, which has none).

    The distinct edge list is checkpointed first. When it fits
    ``session._DRIVER_ROWS_MAX`` rows, the power steps run on the driver
    in NumPy int64 (a count, then one bounded collect; exact
    ``np.add.at`` sums and ``//`` floors, bit-identical to the BIGINT plan
    since every value is non-negative) and the ranks return as a local
    relation. Above the bound each step is one co-partitionable edge-rank
    join plus a partial-aggregated sum — the canonical O(iters) shuffle
    loop — with a ``localCheckpoint`` per step. Both paths return the same
    rows and schema. Jobs are labelled
    ``graph.pagerank_fixed_point.<edges|collect|nodes|degrees|step>``.
    """
    with _step(edges, "pagerank_fixed_point", "edges"):
        e = (
            edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
    with _step(edges, "pagerank_fixed_point", "collect"):
        local = _driver_edges(e)
    if local is not None:
        nodes, ranks = _pagerank_local(
            local.column("src").to_numpy(zero_copy_only=False),
            local.column("dst").to_numpy(zero_copy_only=False),
            iters, scale, damp_pct,
        )
        node = e.select(F.col("src").alias("node")).union(
            e.select(F.col("dst").alias("node"))
        ).schema["node"]
        schema = StructType([
            StructField("node", node.dataType, node.nullable),
            # the Spark steps' `div` is a nullable expression
            StructField("rank_scaled", LongType(), iters > 0),
        ])
        out = pa.table({"node": nodes, "rank_scaled": ranks})
        return edges.sparkSession.createDataFrame(out, schema)
    par = edges.sparkSession.sparkContext.defaultParallelism
    with _step(edges, "pagerank_fixed_point", "nodes"):
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
            .repartition(par, "node")
            .localCheckpoint(eager=True)
        )
        n_nodes = nodes.count()  # one scalar to the driver, like ivf_fit's N
    if n_nodes == 0:
        raise ValueError("empty edge set")
    init = scale // n_nodes
    tele = ((100 - damp_pct) * init) // 100
    # degree-annotated edges, built ONCE: through r14 the e ⋈ deg join (and
    # deg's own groupBy) sat INSIDE the loop and re-executed every power
    # step — one full edge shuffle per iteration carrying no new
    # information. Hoisting it out, hash-partitioned on src, makes each
    # step shuffle only node-sized relations (ranks out, contributions
    # back): localCheckpoint preserves the physical partitioning, so the
    # per-step join re-sorts but never re-exchanges the edge side.
    with _step(edges, "pagerank_fixed_point", "degrees"):
        edeg = (
            e.join(e.groupBy("src").agg(F.count("*").alias("outdeg")), "src")
            .repartition(par, "src")
            .localCheckpoint(eager=True)
        )
    ranks = nodes.select("node", F.lit(init).cast("long").alias("rank"))
    for _ in range(iters):
        contrib = (
            edeg.join(ranks.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank div outdeg").alias("c"),
            )
        )
        summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        with _step(edges, "pagerank_fixed_point", "step"):
            ranks = (
                nodes.join(summed, "node", "left")
                .select(
                    "node",
                    (
                        F.lit(tele)
                        + F.expr(f"({damp_pct} * coalesce(s, 0L)) div 100")
                    ).cast("long").alias("rank"),
                )
                .localCheckpoint(eager=True)
            )
    return ranks.select("node", F.col("rank").alias("rank_scaled"))


def _pagerank_local(
    src: np.ndarray, dst: np.ndarray, iters: int, scale: int, damp_pct: int
) -> tuple[np.ndarray, np.ndarray]:
    """The driver power steps of ``pagerank_fixed_point`` over the distinct
    edge arrays: (sorted node ids, int64 ranks), the same BIGINT arithmetic
    as the Spark steps."""
    nodes, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
    if nodes.size == 0:
        raise ValueError("empty edge set")
    s, d = idx[: src.size], idx[src.size:]
    init = scale // nodes.size
    tele = ((100 - damp_pct) * init) // 100
    outdeg = np.bincount(s, minlength=nodes.size)[s]
    rank = np.full(nodes.size, init, dtype=np.int64)
    for _ in range(iters):
        summed = np.zeros(nodes.size, dtype=np.int64)
        np.add.at(summed, d, rank[s] // outdeg)
        rank = tele + (damp_pct * summed) // 100
    return nodes, rank


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    out_node: str = "node",
    out_tri: str = "n_triangles",
) -> DataFrame:
    """Per-node triangle counts over an undirected edge list via
    degree-ordered orientation (the MapReduce node-iterator++ of Suri &
    Vassilvitskii, "Counting Triangles and the Curse of the Last Reducer",
    WWW'11) — the clustering/cohesion primitive the co-purchase graph
    family (q48 pairs, q49 PageRank, q50 reach) lacked.

    Each edge is oriented from its lower endpoint to its higher endpoint
    under the total order (degree, id); every triangle then has exactly
    one node with out-edges to the other two, and the third edge is
    oriented between them consistently — so each triangle is found exactly
    once as a closed wedge, with no post-hoc 1/3 correction. The payoff is
    the wedge bound: orientation caps out-degree at O(sqrt(m)) for ANY
    degree distribution, so the wedge join generates O(m^{3/2}) candidates
    even when a celebrity node has degree 10^6 (whose naive open-wedge
    count would be 10^12). Plan shape: one groupBy for degrees, one
    self-equi-join on the wedge pivot u, one semi-join on (v, w) to close,
    one explode+groupBy for per-node counts — every shuffle is on node
    ids, every aggregate map-side combinable. No iteration, no driver
    state.

    Determinism: the (degree, id) order and the counts are integers;
    output is partitioning-independent. Self-loops are dropped; parallel
    edges collapse via distinct. Returns (out_node, out_tri) for nodes in
    >= 1 triangle.
    """
    a, b = F.col(src_col), F.col(dst_col)
    e = (
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    ed = (
        e.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    with _step(edges, "triangle_counts", "orient"):
        oriented = ed.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
        ).localCheckpoint(eager=True)
    x, y = oriented.alias("x"), oriented.alias("y")
    wedges = x.join(
        y,
        (F.col("x.u") == F.col("y.u"))
        & (
            (F.col("x.dv") < F.col("y.dv"))
            | ((F.col("x.dv") == F.col("y.dv")) & (F.col("x.v") < F.col("y.v")))
        ),
    ).select(F.col("x.u").alias("u"), F.col("x.v").alias("v"), F.col("y.v").alias("w"))
    closing = oriented.select(F.col("u").alias("v"), F.col("v").alias("w"))
    tri = wedges.join(closing, ["v", "w"], "left_semi")
    return (
        tri.select(F.explode(F.array("u", "v", "w")).alias(out_node))
        .groupBy(out_node)
        .agg(F.count("*").cast("bigint").alias(out_tri))
    )
