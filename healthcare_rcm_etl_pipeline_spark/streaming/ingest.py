"""Streaming corpus ingestion with near-dup gating — the production shape
for a continuously-growing training corpus.

Per micro-batch (foreachBatch):

1. WITHIN-batch dedup: exact (canonical-md5 min-id survivor) then near-dup
   (minhash-LSH pairs -> connected components -> min-id survivor), so a
   batch carrying its own duplicates contributes one copy.
2. CROSS-corpus dedup: the batch survivors probe the PERSISTED band index
   (``minhash_band_table`` rows accumulated from every prior epoch) via
   ``minhash_lsh_pairs_incremental`` — only candidate docs are ever
   shingled on either side (the index is read, never rebuilt; base text is
   fetched just for bucket-colliding candidates). Batch docs with a
   confirmed base near-dup are dropped.
3. APPEND: surviving docs and THEIR band rows land under per-epoch
   partition directories (``docs/epoch=N/``, ``bands/epoch=N/``), then the
   ``_EPOCH`` marker advances.

Exactly-once under replay: foreachBatch re-delivers a failed micro-batch
with the SAME epoch_id; epochs at-or-below the marker are skipped, and a
partially-written epoch is safe because the re-run OVERWRITES the same
``epoch=N`` directories rather than appending — the write is idempotent
per epoch, the marker only gates the skip. (Plain ``mode("append")`` would
double-apply a partially-failed epoch; the per-epoch overwrite is what
upgrades the recipe to exactly-once.)

Checkpoint/base lifecycle: the stream's epoch_id counter lives in the
CHECKPOINT; the replay marker lives in the BASE. If they were coupled only
by the raw epoch number, pointing a FRESH checkpoint at an existing base
would restart epoch ids at 0 and every new batch would be silently skipped
as a 'replay'. The marker therefore carries a RUN TOKEN (minted once per
checkpoint instance and stored inside the checkpoint dir) plus an epoch
OFFSET: same token -> physical epoch = offset + epoch_id, replay gate as
usual; different token (new checkpoint against an existing base) -> the
stream REBINDS, mapping its first batch to the next free physical epoch.
Ingestion continues where the corpus left off instead of dropping data.

All four ingest families (dedup above, semantic, component, entity) run
this protocol through ONE skeleton, ``_epoch_batch_fn``, and supply only
their probe and delta logic; ``ingest_stream`` drives any of them from a
stream.

The label states (``components/``, ``entities/``) are stored once,
range-sorted on ``doc``. Bases written before that still hold
component-sorted ``components_by_label/`` / ``entities_by_label/`` copies;
nothing reads, purges or compacts those dirs, so they are simply ignored.
The same holds for the ``chunks/`` keeper-chunk state of bases written by
the retired chunk-dedup ingest family.
"""

from __future__ import annotations

import contextlib
import time
import uuid
import warnings
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from healthcare_rcm_etl_pipeline_spark.functions.text import fingerprint_md5
from healthcare_rcm_etl_pipeline_spark.operators import dedup, graph
from healthcare_rcm_etl_pipeline_spark.session import job_description, local_frame
from healthcare_rcm_etl_pipeline_spark.sources import sinks


def _read_marker(spark: SparkSession, base: str) -> tuple[str, int, int]:
    """(run_token, epoch_offset, last_physical_epoch). Legacy int-only
    markers parse as token='' offset=0 — behaviorally identical to the
    pre-token recipe."""
    raw = sinks.read_text_marker(spark, f"{base}/_EPOCH", "")
    if not raw:
        return "", 0, -1
    parts = raw.split()
    if len(parts) == 1:
        return "", 0, int(parts[0])
    token = "" if parts[0] == "-" else parts[0]
    return token, int(parts[1]), int(parts[2])


def _write_marker(
    spark: SparkSession, base: str, token: str, offset: int, last: int
) -> None:
    sinks.write_text_marker(spark, f"{base}/_EPOCH", f"{token or '-'} {offset} {last}")


def _read_epoch(spark: SparkSession, base: str) -> int:
    """Last COMMITTED physical epoch (-1 before the first)."""
    return _read_marker(spark, base)[2]


def checkpoint_run_token(spark: SparkSession, checkpoint: str) -> str:
    """The run token for a checkpoint instance: minted on first use, stored
    INSIDE the checkpoint dir so it lives and dies with the stream's own
    epoch counter. A deleted/re-created checkpoint gets a fresh token, which
    is exactly the signal the ingest marker needs to rebind epoch numbering
    instead of misreading restarted epoch ids as replays."""
    path = f"{checkpoint}/_INGEST_RUN_TOKEN"
    token = sinks.read_text_marker(spark, path, "")
    if not token:
        token = uuid.uuid4().hex[:16]
        sinks.write_text_marker(spark, path, token)
    return token


def _read_epoched(
    spark: SparkSession, path: str, max_epoch: int | None, keep_epoch: bool = False
) -> DataFrame | None:
    """Read an epoch-partitioned dataset, None if it doesn't exist yet.

    ``max_epoch`` filters to COMMITTED epochs only (epoch <= marker): a
    crash after writing ``epoch=N`` but before advancing the marker leaves
    ghost files that the replay of epoch N must not see — reading them
    would make the batch collide with its own partial write, verify
    against itself at jaccard 1.0, and dedup the whole batch away.
    Existence is probed via the Hadoop FS API (not by pattern-matching a
    read failure's message, which drifts across Spark versions); any READ
    failure on an existing path (corrupt footer, permissions, transient
    storage error) propagates — silently treating those as 'no corpus yet'
    would skip cross-corpus dedup and ingest duplicates without a trace.
    ``keep_epoch`` keeps the partition column (label states reduce on it)."""
    if not sinks.path_exists(spark, path):
        return None
    df = spark.read.parquet(path)
    if max_epoch is not None:
        df = df.filter(F.col("epoch") <= max_epoch)
    return df if keep_epoch else df.drop("epoch")


def read_corpus(
    spark: SparkSession, base: str, max_epoch: int | None = None
) -> DataFrame | None:
    """All ingested docs across committed epochs (None before the first)."""
    return _read_epoched(spark, f"{base}/docs", max_epoch)


def read_band_index(
    spark: SparkSession, base: str, max_epoch: int | None = None
) -> DataFrame | None:
    """The accumulated minhash band index across committed epochs."""
    return _read_epoched(spark, f"{base}/bands", max_epoch)


def _range_sorted(df: DataFrame, *cols: str) -> DataFrame:
    """Range-partition + sort a state relation on its probe key before the
    epoch write, so every parquet file covers a NARROW key range and a
    later literal point probe (``isin`` over collected keys —
    ``_literal_pruned``) is pruned to the
    matching files/row groups by footer min/max stats instead of scanning
    the whole accumulated state. Costs one sampled range exchange per
    epoch write; buys state-size-independent point lookups."""
    return df.repartitionByRange(*[F.col(c) for c in cols]).sortWithinPartitions(
        *cols
    )


# Batch-path literal-prune bound: an ingest batch whose distinct band-hash
# count is at or below this inlines its keys as an In(bh, ...) predicate on
# the index scan (the point-lookup device); above it, the join-based
# prune_bands_to_probe inside minhash_lsh_pairs_incremental takes over —
# a 4k-literal predicate is where driver-side plan cost and per-row-group
# filter evaluation start to cost more than the scan they save. It bounds
# literal IN predicates only; state the operators hold on the driver is
# bounded by session._DRIVER_ROWS_MAX.
_PROBE_LITERAL_MAX = 4096


def _in_literals(col: str, keys) -> F.Column:
    """``col IN (keys)`` as ONE parsed SQL expression when every key is a
    plain int (the band-hash / doc-id / cell point-lookup cases). py4j
    converts a Python list element-wise, ~0.6 ms per element — measured
    2.3 s of pure DRIVER time to construct a 3300-literal ``isin`` while
    the pruned scan it gates runs in 0.3 s (r16 probe; guide §4: bound
    what crosses the Python boundary). The parsed form is the same
    Catalyst ``In`` — same semantics, same parquet PushedFilter — built
    from one string transfer. Non-int keys keep the isin path; bool is
    excluded from the fast path (it is an int subclass but renders as
    True/False, not SQL)."""
    ks = list(keys)
    if ks and all(type(k) is int for k in ks):
        return F.expr(f"`{col}` IN ({','.join(map(str, ks))})")
    return F.col(col).isin(ks)


def _probe_keys(probe: DataFrame, col: str, limit: int) -> list:
    """The distinct keys of ``probe[col]`` for a literal prune — more than
    ``limit`` of them means "too many to inline".

    Bounded RAW collect first (r15): a narrow CollectLimit job with no
    exchange. When the probe's raw rows fit under 8x the literal bound
    (every micro-batch: bands x batch rows, or a batch's (id, cell) rows),
    the distinct set is computed driver-side — no distinct SHUFFLE job per
    batch. A bigger probe falls back to the distinct+limit path, so the
    over-the-bound decision is unchanged. NULL keys are dropped before
    sorting (None is unorderable): a NULL never matches ``isin`` in the
    fallback path either, so the two paths stay row-identical for
    NULL-bearing probes."""
    raw_cap = 8 * (limit + 1)
    raw = probe.select(col).limit(raw_cap).collect()
    if len(raw) < raw_cap:
        return sorted({r[0] for r in raw if r[0] is not None})
    return [r[0] for r in probe.select(col).distinct().limit(limit + 1).collect()]


def _literal_pruned(
    state: DataFrame, probe: DataFrame, col: str, limit: int | None = None
) -> DataFrame:
    """Prune a state scan to the probe's keys in ``col`` when the key set
    is small enough to inline as literals — the ``In(col, ...)`` predicate
    reaches the parquet scan as a PushedFilter, and the state being
    range-sorted on ``col`` at write time, footer min/max stats prune to
    the matching files/row groups. Otherwise return the state unchanged
    and let the caller's join-based prune handle it (a multi-thousand
    literal predicate costs more in driver plan construction and
    per-row-group filter evaluation than the scan it saves). ``limit``
    defaults to the module's ``_PROBE_LITERAL_MAX`` at CALL time (tests
    pin the fallback branch by patching it). On the band index
    (``col="bh"``) the prune is exact: keeping a same-bh row from a
    different band is harmless (the bucket key downstream is (band, bh)),
    and a row with a non-probe bh can never share a bucket with the
    probe."""
    if limit is None:
        limit = _PROBE_LITERAL_MAX
    keys = _probe_keys(probe, col, limit)
    return state if len(keys) > limit else state.filter(_in_literals(col, keys))


def _doc_fetch(spark: SparkSession, base: str, id_col: str, last: int):
    """The ``base_lookup`` seam of ``minhash_lsh_pairs_incremental``:
    candidate base TEXT by a literal id filter over the range-sorted docs
    state, so footer min/max stats prune to the matching files/row groups
    instead of the verify semi-join scanning the accumulated docs text.
    The collected id list is bounded by max_bucket semantics."""

    def fetch(ids: list) -> DataFrame:
        return read_corpus(spark, base, max_epoch=last).filter(
            _in_literals(id_col, list(ids))
        )

    return fetch


def _resolve_epoch(
    spark: SparkSession, base: str, epoch_id: int, run_token: str | None
) -> tuple[str, int, int, int] | None:
    """Map a stream epoch_id to this base's physical epoch, handling replay
    skip and new-checkpoint rebind (see module docstring). Returns
    (bound_token, offset, physical_epoch, last_committed) or None when the
    epoch is a replay that was already fully applied."""
    token, offset, last = _read_marker(spark, base)
    if run_token is None or run_token == token:
        physical = offset + epoch_id
        if physical <= last:
            return None  # replayed epoch: already fully applied
        return (token if run_token is None else run_token), offset, physical, last
    # new checkpoint instance against an existing base: rebind this
    # stream's epoch numbering to continue after the last commit.
    physical = last + 1
    return run_token, physical - epoch_id, physical, last


class _Delta(NamedTuple):
    """One batch's contribution, as an ingest family hands it to the
    epoch skeleton."""

    # (dataset, df, sort_col): lands range-sorted as {base}/{dataset}/epoch=N
    writes: list
    # label families: the batch's (doc_a, doc_b) pair set to merge
    pairs: DataFrame | None = None
    # persisted around the writes when they share one costly lineage
    pin: DataFrame | None = None


@contextlib.contextmanager
def _step(spark: SparkSession, family: str, name: str, steps: dict):
    """Run one skeleton step with every Spark job it launches labelled
    ``ingest.<family>.<name>`` (the caller's job description is restored
    after) and its wall seconds recorded in ``steps``."""
    t0 = time.perf_counter()
    try:
        with job_description(spark, f"ingest.{family}.{name}"):
            yield
    finally:
        steps[name] = round(time.perf_counter() - t0, 4)


def _epoch_batch_fn(
    base: str,
    run_token: str | None,
    family: str,
    delta_fn,
    labels: str | None = None,
    compact_labels_every: int | None = None,
):
    """The foreachBatch body every ingest family runs: the exactly-once
    epoch protocol of the module docstring around the family's
    ``delta_fn(spark, batch_df, last) -> _Delta``. Steps, in order:

    - ``resolve``: map the epoch id to this base's physical epoch
      (``_resolve_epoch``); a replay of a committed epoch stops here.
    - ``heal``: a maintenance op (purge/compact) that crashed mid-swap
      leaves a trash/tmp leftover; ``recover_base`` resolves it BEFORE any
      state is read, or the batch would probe a half-swapped view.
    - ``delta``: the family probes the state at ``max_epoch=last`` (a
      replay of a partially-written epoch must not see its own ghost
      files) and computes its delta. Label families (``labels`` = the
      label state name) hand back a pair set, which is pinned once and
      merged into the label state here (``_merge_label_state``).
    - ``write``: every delta dataset OVERWRITES its ``epoch=N`` directory,
      range-sorted on its probe key — idempotent on replay — then the
      label delta, doc-sorted (``_write_label_delta``). The delta's
      ``pin`` is persisted around these writes.
    - ``commit``: the marker advances, last.
    - ``fold`` (label families, every ``compact_labels_every`` committed
      epochs): opt-in self-maintenance, ``compact_epochs`` over the label
      state (see ``make_component_ingest_batch_fn``).

    Each step's jobs carry the Spark job description
    ``ingest.<family>.<step>``; the seconds of the steps that ran land on
    ``apply_batch.last_steps``."""

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        steps = apply_batch.last_steps = {}
        with _step(spark, family, "resolve", steps):
            resolved = _resolve_epoch(spark, base, epoch_id, run_token)
        if resolved is None:
            return
        bound, offset, physical, last = resolved
        with _step(spark, family, "heal", steps):
            recover_base(spark, base, own_token=bound)
        with _step(spark, family, "delta", steps):
            delta = delta_fn(spark, batch_df, last)
            if labels:
                # the pair set is re-read several times by the merge
                # (nodes, CC edges); it is batch-neighborhood-sized
                pairs = delta.pairs.localCheckpoint(eager=True)
                label_delta = _merge_label_state(spark, base, labels, pairs, last)
        with _step(spark, family, "write", steps):
            pin = None if delta.pin is None else delta.pin.persist()
            try:
                for name, df, col in delta.writes:
                    _range_sorted(df, col).write.mode("overwrite").parquet(
                        f"{base}/{name}/epoch={physical}"
                    )
                if labels:
                    _write_label_delta(label_delta, base, labels, physical)
            finally:
                if pin is not None:
                    pin.unpersist()
        with _step(spark, family, "commit", steps):
            _write_marker(spark, base, bound, offset, physical)
        if compact_labels_every and (physical + 1) % compact_labels_every == 0:
            # owner=bound: the lock carries this stream's run token so a
            # crash mid-fold is self-healed by the next incarnation's
            # recover_base (r14 ADVICE high). MaintenanceLockHeld — a
            # concurrent operator purge/compact, or an orphan a foreign
            # owner must resolve — defers the fold to the next cadence
            # epoch instead of failing the (already-committed) batch and
            # killing the streaming query (r14 ADVICE medium).
            with _step(spark, family, "fold", steps):
                try:
                    compact_epochs(spark, base, datasets=(labels,), owner=bound)
                except MaintenanceLockHeld as exc:
                    warnings.warn(
                        f"cadence label fold deferred at epoch {physical}: {exc}",
                        RuntimeWarning,
                        stacklevel=2,
                    )

    apply_batch.last_steps = None  # no batch applied yet
    return apply_batch


def ingest_stream(make_batch_fn, stream_df: DataFrame, checkpoint: str, *args, **kwargs):
    """Drive a stream through any ingest family: ``make_batch_fn`` is one
    of the ``make_*_ingest_batch_fn`` factories, called with ``*args``,
    ``**kwargs`` and this checkpoint's run token (minted once, here)."""
    token = checkpoint_run_token(stream_df.sparkSession, checkpoint)
    return (
        stream_df.writeStream.foreachBatch(
            make_batch_fn(*args, run_token=token, **kwargs)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def make_dedup_ingest_batch_fn(
    base: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    bands: int = 16,
    n: int = 3,
    verify_threshold: float = 0.5,
    run_token: str | None = None,
):
    """foreachBatch body implementing the gated ingestion described above,
    on the shared epoch skeleton (``_epoch_batch_fn``).

    ``run_token`` identifies the checkpoint instance driving this stream
    (see module docstring). None keeps raw-epoch semantics — correct only
    when the caller guarantees the checkpoint and base live and die
    together; ``ingest_stream`` always passes a token."""
    lsh = dict(k=k, bands=bands, n=n)

    def delta(spark: SparkSession, batch_df: DataFrame, last: int) -> _Delta:
        # 1. within-batch: exact, then near-dup clusters -> min-id survivor.
        # The exact stage is ONE fingerprint-keyed window (row_number == 1
        # keeps the min-id row per md5 group — the identical survivor set
        # exact_dedup's groupBy + semi-join selects) instead of two
        # exchanges plus a join back on id (r15; the batch operator keeps
        # its groupBy form because its contract also returns group counts).
        w_fp = Window.partitionBy("__fp").orderBy(F.col(id_col))
        batch = (
            batch_df.withColumn("__fp", fingerprint_md5(text_col))
            .withColumn("__rn", F.row_number().over(w_fp))
            .filter(F.col("__rn") == 1)
            .drop("__fp", "__rn")
        )
        # The batch is min-hashed ONCE per epoch (r15): this band table
        # (built on the exact-dedup survivors, i.e. a SUPERSET of the
        # final survivors) feeds the within-batch LSH below via
        # prebuilt_bands, the cross-corpus index prune, the incremental
        # probe's new side AND — restricted to survivors — the state
        # write. Superset rows are provably inert downstream: extra bh
        # keys only make the literal index prune keep more rows
        # (exactness argument unchanged), and a candidate pair whose new
        # doc was dropped by the CC step dies in the verify stage (the
        # shingle join is INNER on the narrowed batch, so its jaccard is
        # NULL and the threshold filter removes it).
        batch_bands = dedup.minhash_band_table(
            batch, text_col, id_col, **lsh
        ).localCheckpoint(eager=True)
        # pin the pair set: connected_components reads it once per edge
        # direction, which would otherwise re-execute the LSH lineage twice
        pairs = dedup.minhash_lsh_pairs(
            batch, text_col, id_col, **lsh,
            verify_threshold=verify_threshold, prebuilt_bands=batch_bands,
        ).localCheckpoint(eager=True)
        # a micro-batch's pair set is batch-sized, so its components come
        # from the driver union-find, not the Spark rounds
        losers = (
            graph.broadcast_if_local(graph.connected_components(pairs))
            .filter(F.col("doc") != F.col("component"))
            .select(F.col("doc").alias(id_col))
        )
        batch = batch.join(losers, id_col, "left_anti")

        # 2. cross-corpus: probe the persisted band index; only candidate
        # docs are shingled (operators/dedup.py semi-join guarantee).
        # Small batches inline their band keys as a pushed-down literal
        # predicate on the index scan — per-batch cost then tracks the
        # batch even when the accumulated index is corpus-sized; big
        # batches fall back to the join-based prune inside the probe.
        corpus = read_corpus(spark, base, max_epoch=last)
        index = read_band_index(spark, base, max_epoch=last)
        if corpus is not None and index is not None:
            dup_new = (
                dedup.minhash_lsh_pairs_incremental(
                    batch, None, text_col, id_col, **lsh,
                    verify_threshold=verify_threshold,
                    base_bands=_literal_pruned(index, batch_bands, "bh"),
                    new_bands=batch_bands,
                    base_lookup=_doc_fetch(spark, base, id_col, last),
                )
                .select(F.col("doc_new").alias(id_col))
                .distinct()
            )
            batch = batch.join(dup_new, id_col, "left_anti")

        # 3. survivors and their band rows (the pinned batch band table
        # restricted to survivors — no re-minhash). pin: the two writes
        # share the whole dedup lineage (LSH + CC + cross probe), which
        # would otherwise execute twice per epoch.
        out_bands = batch_bands.join(
            F.broadcast(batch.select(F.col(id_col).alias("doc"))),
            "doc",
            "left_semi",
        )
        return _Delta([("docs", batch, id_col), ("bands", out_bands, "bh")], pin=batch)

    return _epoch_batch_fn(base, run_token, "dedup", delta)


def read_vectors(
    spark: SparkSession, base: str, max_epoch: int | None = None
) -> DataFrame | None:
    """All ingested (id, cell, vector) rows across committed epochs."""
    return _read_epoched(spark, f"{base}/vectors", max_epoch)


def make_semantic_ingest_batch_fn(
    base: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 7,
    run_token: str | None = None,
):
    """foreachBatch body for EMBEDDING streams: semantic-dedup-gated
    ingestion against a persisted sign-sketch CELL index — the vector twin
    of ``make_dedup_ingest_batch_fn``, on the same epoch skeleton
    (``_epoch_batch_fn``).

    Per micro-batch:

    1. WITHIN-batch: ``semantic_dedup`` (deterministic sign-sketch cells,
       within-cell pair scan, min-id survivor).
    2. CROSS-corpus: base vectors are read ONLY for the batch's cell set —
       the persisted index stores (cell, id, vector), so the probe filters
       on a ~|batch| cell list (parquet row-group stats prune the scan;
       never a full-corpus read) and verifies exact cosine within equal
       cells. Batch vectors with a base cell-mate at/above threshold drop.
    3. APPEND survivors as ``vectors/epoch=N`` rows.

    ``n_planes`` is FIXED (not adaptive): the cell assignment IS the
    persisted index layout, so every epoch must bucket identically — size
    it for the target corpus (adaptive_n_planes(expected_rows)) and
    re-index to change it. Cross-cell near-dups are missed by design,
    exactly as in batch semantic_dedup (SemDeDup semantics).
    """
    from healthcare_rcm_etl_pipeline_spark.functions.vector import dot, norm

    def delta(spark: SparkSession, batch_df: DataFrame, last: int) -> _Delta:
        # 1. within-batch semantic dedup (fixed planes; returns (id, cell))
        surv = dedup.semantic_dedup(
            batch_df, vec_col, id_col,
            threshold=threshold, n_planes=n_planes, dim=dim, seed=seed,
            max_cell=None,
        )
        batch = batch_df.join(surv.select(id_col, "cell"), id_col)

        # 2. cross-corpus: probe ONLY the batch's cells in the persisted index
        index = read_vectors(spark, base, max_epoch=last)
        if index is not None:
            # LITERAL cell filter when the batch's distinct-cell count fits
            # the literal bound: only a literal predicate reaches the
            # parquet scan as a PushedFilter, where the range-sorted
            # state's footer stats actually prune files — a broadcast join
            # scans the whole index every batch. Above the bound
            # (_PROBE_LITERAL_MAX — a huge micro-batch over a fine cell
            # space) fall back to the broadcast semi-join: a many-thousand
            # literal In() is the known driver plan-construction/codegen
            # blowup, and at that width it prunes little anyway.
            # SELECTIVITY: the prune only helps when the cell space is
            # sized for the corpus (2^n_planes ≫ batch cells —
            # adaptive_n_planes semantics); at the 64-cell default a
            # corpus-scale batch touches every cell and the probe scans
            # the whole index (the round-11 upward-trend finding). The
            # per-batch probe stats land on ``apply_batch.last_probe`` so
            # harnesses can verify which regime they measured.
            cells = _probe_keys(batch, "cell", _PROBE_LITERAL_MAX)
            literal = len(cells) <= _PROBE_LITERAL_MAX
            if literal:
                cand = index.filter(_in_literals("cell", cells))
            else:
                cand = index.join(
                    F.broadcast(batch.select("cell").distinct()), "cell", "left_semi"
                )
            apply_batch.last_probe = {
                "cells_probed": len(cells) if literal else None,
                "cells_space": 2 ** n_planes,
                "path": "literal" if literal else "join",
            }
            # per-row norms hoisted out of the per-candidate cosine (r15,
            # same device as similarity.brute_force_topk): one interpreted
            # array fold per cell-mate pair (dot) instead of three —
            # norm(a)*norm(b) is the same IEEE expression on the same
            # values, so the thresholded value is bit-identical
            cand = cand.select(
                "cell",
                F.col(vec_col).alias("__base_vec"),
                norm(F.col(vec_col)).alias("__bn"),
            )
            hit = (
                batch.withColumn("__n", norm(F.col(vec_col)))
                .join(cand, "cell")
                .filter(
                    F.round(
                        dot(vec_col, "__base_vec")
                        / F.nullif(F.col("__n") * F.col("__bn"), F.lit(0.0)),
                        6,
                    )
                    >= threshold
                )
                .select(id_col)
                .distinct()
            )
            batch = batch.join(hit, id_col, "left_anti")
        return _Delta([("vectors", batch.select(id_col, "cell", vec_col), "cell")])

    apply_batch = _epoch_batch_fn(base, run_token, "semantic", delta)
    apply_batch.last_probe = None  # no index probed yet
    return apply_batch


_DATASETS = (
    "docs",
    "bands",
    "vectors",
    "components",
    "rows",
    "variants",
    "entities",
)

# label-state datasets: rows supersede per doc across epochs
# (latest-epoch-wins), compaction resolves + re-sorts, tiered mode skips
_LABEL_STATES = ("components", "entities")
_MAINT_LOCK = "_MAINT_LOCK"


def read_labels(
    spark: SparkSession,
    base: str,
    name: str,
    ids: list | None = None,
    max_epoch: int | None = None,
) -> DataFrame | None:
    """The LIVE label per id of label state ``name`` (``"components"`` or
    ``"entities"``; ``doc`` is the doc / entity row id): each epoch writes
    only the labels the batch created or changed, so the serving view is
    latest-epoch-wins (``max_by(component, epoch)``). Only ids that appear
    in at least one pair carry a row — the state is pair-graph-sized,
    never corpus-sized; consumers coalesce absent ids to their own id
    (``leakage_safe_split_from_components``, ``golden_from_labels``).

    ``ids`` makes it a point lookup ("which cluster / master record is
    this row in?"): the ids apply as a literal ``In(doc, ...)`` predicate
    that reaches the parquet scan as a PushedFilter, and the state being
    range-sorted on ``doc`` at write time, footer min/max stats prune to
    the matching files — the cost tracks the probe's key count, never the
    state size. Latest-epoch-wins AFTER the prune is exact: the reduction
    is per-doc, and every epoch row of a probed doc survives the filter.
    Returns None before the first commit."""
    df = _read_epoched(spark, f"{base}/{name}", max_epoch, keep_epoch=True)
    if df is None:
        return None
    if ids is not None:
        df = df.filter(_in_literals("doc", list(ids)))
    return df.groupBy("doc").agg(F.max_by("component", "epoch").alias("component"))


def _affected_component_slice(state: DataFrame, nodes: DataFrame) -> DataFrame:
    """Every state row of every component touched by ``nodes`` — the slice
    incremental CC needs. Scan ONE (live labels of the node set) is a
    point lookup: the node ids inline as a pushed-down ``In(doc, ...)``
    literal over the doc-range-sorted state (``_literal_pruned`` — file/
    row-group pruning via footer stats; semi-join fallback above the
    literal bound keeps the plan bounded for huge batches). Scan TWO
    (rows of the touched components) is a broadcast semi-join of the
    touched-label set over the state. No ``In(component, ...)`` literal
    is pushed there: the labels are decorrelated from the doc sort, so
    footer min/max cannot prune, and per-row filter evaluation ran 6x
    SLOWER than the bare semi-join at 128M state rows (SCALE.md r13).

    Cross-epoch exactness (why no latest-epoch-wins is needed here): a
    doc's label only changes when its whole component merges, so every
    historical (doc, component) row whose component value is still LIVE
    is current membership; ``touched`` holds only live labels (scan ONE
    reduces latest-epoch-wins first), and the final ``distinct`` folds
    multi-epoch duplicates."""
    live_mine = (
        _literal_pruned(state, nodes, "doc")
        .join(F.broadcast(nodes), "doc", "left_semi")
        .groupBy("doc")
        .agg(F.max_by("component", "epoch").alias("component"))
        # node-bounded by construction; pinning it keeps each re-read of
        # the slice (the CC merge, the known-doc guard) from re-running
        # scan ONE
        .localCheckpoint(eager=True)
    )
    touched = live_mine.select("component").distinct()
    return (
        state.join(F.broadcast(touched), "component", "left_semi")
        .select("doc", "component")
        .distinct()
    )


def _merge_label_state(
    spark: SparkSession,
    base: str,
    name: str,
    pairs: DataFrame,
    last: int,
) -> DataFrame:
    """Merge a micro-batch's pair set into the accumulated label state at
    ``{base}/{name}`` (doc-sorted) and return the epoch's label DELTA
    (doc, component) — the incremental-CC core shared by the
    component-labeling and entity-resolution ingest paths (both states
    carry the generic (doc, component, epoch) schema; for entities,
    ``doc`` is the entity row id).

    Only the AFFECTED slice of the state feeds the merge
    (``_affected_component_slice`` — scan ONE point lookup on doc, scan
    TWO semi-join on the touched labels), and the purged-id resurrection
    guard applies: a purged doc's id can survive as other members'
    component VALUE (labels are opaque group keys), star contraction
    treats label values as graph nodes, so the merge keeps only rows for
    docs known to exist — state members of the affected components plus
    this batch's pair nodes (a LIVE label node always has its own state
    row, so normal runs lose nothing)."""
    nodes = (
        pairs.select(F.col("doc_a").alias("doc"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    state = _read_epoched(spark, f"{base}/{name}", last, keep_epoch=True)
    if state is not None:
        prev_affected = _affected_component_slice(state, nodes)
        delta = graph.connected_components_incremental(prev_affected, pairs)
        known = prev_affected.select("doc").unionByName(nodes).distinct()
        return delta.join(F.broadcast(known), "doc", "left_semi")
    return graph.connected_components(pairs)


def _write_label_delta(delta: DataFrame, base: str, name: str, physical: int) -> None:
    """Append an epoch's label delta as ``{base}/{name}/epoch=N``,
    range-sorted on ``doc`` (label serving and scan ONE prune on it).
    The delta is pinned first: the range exchange samples it before the
    write, and its lineage holds the state scans of the merge."""
    delta = delta.localCheckpoint(eager=True)
    _range_sorted(delta, "doc").write.mode("overwrite").parquet(
        f"{base}/{name}/epoch={physical}"
    )


def make_component_ingest_batch_fn(
    base: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    bands: int = 16,
    n: int = 3,
    verify_threshold: float = 0.5,
    run_token: str | None = None,
    compact_labels_every: int | None = None,
):
    """foreachBatch body maintaining a NEAR-DUP COMPONENT LABELING of the
    full corpus — the state the survivor policies (``dedup_keep_*``),
    ``leakage_safe_split``, and contamination blast-radius all key on,
    which they otherwise recompute (pairs + connected components) per
    call. Unlike ``make_dedup_ingest_batch_fn`` this stream RETAINS every
    document: near-dups are labeled, not dropped, so downstream policy
    (keep-best, co-assign splits, purge a whole cluster) stays a cheap
    join against the served labels. Runs on the shared epoch skeleton
    (``_epoch_batch_fn``) as a label family.

    Per micro-batch:

    1. PAIRS: within-batch minhash-LSH pairs plus cross-corpus pairs from
       the persisted band index (``minhash_lsh_pairs_incremental`` — the
       index is probed, never rebuilt).
    2. INCREMENTAL CC: the batch's pairs merge into the accumulated
       labeling via star contraction (``connected_components_incremental``)
       — but fed only the AFFECTED slice of the state: live labels of the
       pair nodes (latest-epoch-wins, pruned to the pair-node set before
       the reduction), then every state row in those components. Stale
       label VALUES cannot collide with live ones (labels are min-ids and
       only decrease; when a component merges away, its label value
       disappears from every live row at that same epoch), so the
       component-keyed affected scan is exact. Scan ONE (doc-keyed) is a
       point lookup: the pair-node set is bounded, so its ids inline as a
       pushed-down ``In(doc, ...)`` literal over the doc-range-sorted
       state (file/row-group pruning; join-prune fallback above the
       literal bound). Scan TWO (component-keyed) is a broadcast
       semi-join of the touched-label set over the state: it reads the
       whole label state, which is pair-graph-sized (≪ corpus), and was
       measured faster than any component-sorted copy of it up to 512M
       state rows (SCALE.md r13/r14). CC itself runs over (affected
       stars ∪ new pairs) — batch-and-neighborhood-sized, never
       corpus-sized.
    3. APPEND: the full batch lands as ``docs/epoch=N``, its band rows as
       ``bands/epoch=N`` (future probes must see every doc), and the
       created/changed labels as ``components/epoch=N``.

    Fold invariant (pinned in tests/test_streaming_component_ingest.py):
    after any prefix of batches, ``read_labels(.., "components")`` equals
    ``connected_components(minhash_lsh_pairs(everything ingested))``
    exactly, and the served leakage-safe split equals the one-shot
    ``leakage_safe_split``.

    ``compact_labels_every``: opt-in self-maintenance — every N committed
    epochs, fold the label state (``components``) via
    ``compact_epochs(datasets=...)``: an O(state) rewrite (the state is
    pair-graph-sized, ≪ corpus) that bounds its epoch/file count, and so
    the per-file cost of both scans, without waiting for an operator's
    maintenance window. Runs
    inside the batch under the maintenance lock, stamped with this
    stream's run token (this stream is the single writer): a crash
    mid-fold orphans the lock, and the next incarnation's batch-side
    ``recover_base(own_token=...)`` recognizes its own token, steals the
    orphan, and rolls the half-finished swap back/forward BEFORE reading
    state — without the steal, the orphaned lock would have suppressed
    healing while the trash-parked epochs stayed invisible to scans
    (r14 ADVICE high). A lock held by a FOREIGN owner (operator
    purge/compact) defers the fold to the next cadence epoch with a
    warning instead of failing the already-committed batch (r14 ADVICE
    medium).
    """
    lsh = dict(k=k, bands=bands, n=n, verify_threshold=verify_threshold)

    def delta(spark: SparkSession, batch_df: DataFrame, last: int) -> _Delta:
        # ONE band table per batch: it feeds the within-batch LSH, the
        # index prune, the incremental probe's new side and the bands
        # state write — four separate constructions would min-hash the
        # batch four times per epoch
        batch_bands = dedup.minhash_band_table(
            batch_df, text_col, id_col, k=k, bands=bands, n=n
        ).localCheckpoint(eager=True)
        pairs = dedup.minhash_lsh_pairs(
            batch_df, text_col, id_col, **lsh, prebuilt_bands=batch_bands
        ).select("doc_a", "doc_b")
        corpus = read_corpus(spark, base, max_epoch=last)
        index = read_band_index(spark, base, max_epoch=last)
        if corpus is not None and index is not None:
            # same literal-prune device as the dedup path — see there
            cross = dedup.minhash_lsh_pairs_incremental(
                batch_df, corpus, text_col, id_col, **lsh,
                base_bands=_literal_pruned(index, batch_bands, "bh"),
                new_bands=batch_bands,
            ).select(
                F.col("doc_base").alias("doc_a"), F.col("doc_new").alias("doc_b")
            )
            pairs = pairs.unionByName(cross)
        # all docs are retained on this path, so the pinned batch band
        # table IS the bands state delta — no re-minhash, no filter
        return _Delta(
            [("docs", batch_df, id_col), ("bands", batch_bands, "bh")],
            pairs=pairs,
            pin=batch_df,
        )

    return _epoch_batch_fn(
        base, run_token, "component", delta, "components", compact_labels_every
    )


def read_entity_rows(
    spark: SparkSession, base: str, max_epoch: int | None = None
) -> DataFrame | None:
    """The accumulated entity rows (full attribute rows) across committed
    epochs of an entity-resolution ingest base."""
    return _read_epoched(spark, f"{base}/rows", max_epoch)


def read_variant_index(
    spark: SparkSession, base: str, max_epoch: int | None = None
) -> DataFrame | None:
    """The accumulated deletion-variant posting index (vh-range-sorted)."""
    return _read_epoched(spark, f"{base}/variants", max_epoch)


def make_entity_ingest_batch_fn(
    base: str,
    key_col: str,
    id_col: str,
    agree_cols: list[str] | None = None,
    max_key_len: int = 128,
    run_token: str | None = None,
    compact_labels_every: int | None = None,
):
    """foreachBatch body maintaining an INCREMENTAL ENTITY RESOLUTION of a
    row stream — the streaming MDM pipeline (patient matching, customer
    mastering): each batch's rows are matched (name within one edit AND
    exact agreement-attribute match) against the batch itself and the
    whole accumulated corpus, the match pairs merge into a persisted
    entity-label state via incremental CC, and golden records are served
    as ONE join against that state (``golden_from_labels``) instead of a
    full re-match per call. Composition of the record-linkage operators
    (``fuzzy.edit1_pairs`` / ``deletion_postings``) with the
    component-labeling ingest machinery — the same epoch skeleton
    (``_epoch_batch_fn``, label family), the same affected-slice
    incremental CC, the same purge/compact maintenance and
    ``compact_labels_every`` cadence.

    Per micro-batch:

    1. PAIRS: within-batch via ``edit1_pairs`` (agreement attributes
       folded into the posting buckets — blocking, not post-filtering),
       plus cross-corpus candidates from the PERSISTED deletion-variant
       posting index: the batch's bounded vh set inlines as a pushed-down
       ``In(vh, ...)`` literal over the vh-range-sorted index
       (``_literal_pruned`` — the band-index device), then
       ``edit1_pairs_from_postings`` joins on (vh, *agree_cols) and
       levenshtein-verifies. The index is probed, never rebuilt.
    2. INCREMENTAL CC: ``_merge_label_state`` into ``entities/`` —
       affected-slice scans, bounded driver union-find, purged-id guard,
       all shared with the component path.
    3. APPEND: the batch rows land as ``rows/epoch=N`` (id-range-sorted),
       their postings as ``variants/epoch=N`` (vh-range-sorted), the
       label delta as ``entities/epoch=N`` (doc-range-sorted).

    Preconditions: ``id_col`` unique across the stream's lifetime (the
    ``resolve_entities`` contract). Fold invariant (pinned in
    tests/test_entity_ingest.py): after any prefix of batches,
    ``golden_from_labels(read_entity_rows, read_labels(.., "entities"))``
    equals the one-shot ``resolve_entities`` over everything ingested,
    exactly.
    """
    from healthcare_rcm_etl_pipeline_spark.operators import fuzzy

    agree_cols = list(agree_cols or [])

    def delta(spark: SparkSession, batch_df: DataFrame, last: int) -> _Delta:
        batch_post = fuzzy.deletion_postings(
            batch_df, key_col, id_col, agree_cols, max_key_len
        ).localCheckpoint(eager=True)
        pairs = fuzzy.edit1_pairs(
            batch_df, key_col, id_col, agree_cols=agree_cols, max_key_len=max_key_len
        ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
        index = read_variant_index(spark, base, max_epoch=last)
        if index is not None:
            cross = fuzzy.edit1_pairs_from_postings(
                _literal_pruned(index, batch_post, "vh"), batch_post, agree_cols
            ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
            pairs = pairs.unionByName(cross)
        return _Delta(
            [("rows", batch_df, id_col), ("variants", batch_post, "vh")],
            pairs=pairs,
            pin=batch_df,
        )

    return _epoch_batch_fn(
        base, run_token, "entity", delta, "entities", compact_labels_every
    )


def _jpath(spark: SparkSession, path: str):
    return spark._jvm.org.apache.hadoop.fs.Path(path)


def _must_rename(spark: SparkSession, fs, src: str, dst: str) -> None:
    """Hadoop ``FileSystem.rename`` signals most failures (missing source,
    existing destination, cross-FS move) by RETURNING FALSE, not raising.
    Every rename in the maintenance swap protocol is load-bearing — in
    particular the commit rename, after which the trash copy is deleted —
    so a silently-ignored false here would let the cleanup step destroy
    the only surviving copy. Raise instead; the leftover dirs then encode
    the crash point exactly as for a process kill, and ``recover_base``
    heals on the next maintenance entry."""
    if not fs.rename(_jpath(spark, src), _jpath(spark, dst)):
        raise IOError(f"fs.rename returned false: {src} -> {dst}")


def _must_delete(spark: SparkSession, fs, path: str) -> None:
    """``FileSystem.delete`` also returns false instead of raising; a
    missing path is fine (idempotent cleanup), but a present-yet-
    undeletable one is not — it would be misread as a crash leftover by
    the next ``recover_base``."""
    p = _jpath(spark, path)
    if fs.exists(p) and not fs.delete(p, True):
        raise IOError(f"fs.delete returned false: {path}")


class MaintenanceLockHeld(RuntimeError):
    pass


def _stamp_lock_owner(spark: SparkSession, fs, lock: str, owner: str) -> None:
    """Write the owner token INTO the already-held lock file (create with
    overwrite — the path never disappears, unlike write_text_marker's
    delete+rename, which would open a window where a second writer's
    ``createNewFile`` succeeds). Content lands after the atomic create,
    so a reader may briefly see an empty lock: empty/unreadable owner is
    treated as foreign (never stealable by a stream)."""
    out = fs.create(_jpath(spark, lock), True)
    try:
        out.write(bytearray(owner.encode()))
    finally:
        out.close()


def _read_lock_owner(spark: SparkSession, lock: str) -> str:
    """Owner token stamped in the lock file; "" for unstamped (operator)
    locks, pre-owner-era locks, or a read hitting the create/stamp gap —
    all of which read as foreign and are never auto-stolen."""
    try:
        return sinks.read_text_marker(spark, lock, "")
    except Exception:  # noqa: BLE001 — unreadable owner == foreign
        return ""


def _acquire_maintenance_lock(
    spark: SparkSession, base: str, steal: bool, owner: str | None = None
):
    """Single-writer gate for purge_ids/compact_epochs. The swap protocol
    is crash-safe against a KILLED maintenance op, but not against a
    CONCURRENT one: a second writer's recover_base could classify the
    first writer's in-flight ``.purge_tmp`` as stale and delete it between
    its write and its rename. The lock file (atomic ``createNewFile``)
    makes every healer single-writer: maintenance ops hold it for their
    whole swap, and the streaming batch path acquires the SAME lock before
    any heal action (``recover_base`` scans lock-free, locks only when it
    found leftovers) — so a batch can never delete an op's in-flight
    tmp/trash, and an op can never start mid-heal. If a holder crashes
    while locked, the leftovers stay quarantined until an operator
    confirms nothing is running and re-runs with ``steal_lock=True``.

    ``owner``: optional token stamped into the lock file identifying the
    holder. Streams pass their checkpoint run token for in-loop cadence
    folds and batch-side heals, which lets a RESTARTED stream recognize
    (and steal) its own crashed incarnation's orphan in ``recover_base``
    — r14 ADVICE: a crash mid-fold must not leave the stream silently
    reading a half-swapped state. Operator calls leave it None
    (unstamped locks are never stolen automatically)."""
    fs, _ = sinks._fs_path(spark, base)
    lock = f"{base}/{_MAINT_LOCK}"
    if steal:
        _must_delete(spark, fs, lock)
    if not fs.createNewFile(_jpath(spark, lock)):
        raise MaintenanceLockHeld(
            f"maintenance lock held at {lock}: another purge_ids/"
            "compact_epochs is running, a batch-side recover_base is "
            "healing crash leftovers (transient — retry), or a prior "
            "holder crashed. If no maintenance process is alive, re-run "
            "with steal_lock=True (recover_base then heals any "
            "half-finished swap)."
        )
    if owner:
        _stamp_lock_owner(spark, fs, lock, owner)
    return fs, lock


def _release_maintenance_lock(spark: SparkSession, fs, lock: str) -> None:
    """Best-effort: every caller runs this in ``finally``, where raising
    would REPLACE an in-flight maintenance exception with the (strictly
    less interesting) lock-cleanup failure. A lock that could not be
    deleted is left behind and warned about; the next maintenance entry
    then raises ``MaintenanceLockHeld`` until an operator confirms no
    writer is alive and passes ``steal_lock=True`` — the same recovery
    path as a process kill, which also orphans the lock."""
    try:
        _must_delete(spark, fs, lock)
    except Exception as exc:  # noqa: BLE001 — must not mask the body's error
        warnings.warn(
            f"maintenance lock release failed ({lock}): {exc}; the next "
            "purge_ids/compact_epochs must pass steal_lock=True after "
            "confirming no maintenance process is alive",
            RuntimeWarning,
            stacklevel=2,
        )


def recover_base(
    spark: SparkSession,
    base: str,
    ignore_lock: bool = False,
    own_token: str | None = None,
) -> dict[str, int]:
    """Detect and resolve interrupted maintenance swaps (purge_ids /
    compact_epochs) so a crash at ANY point is recoverable without data
    loss. Both maintenance ops rename live directories ASIDE (to a
    ``.purge_trash`` / ``.compact_trash`` sibling) before renaming the
    rewritten copy into place and only then deleting the trash — so at
    every instant a full copy of every row exists under exactly one of
    {live dir, trash, tmp}, and the leftovers identify the crash point:

    - purge: ``.epoch=N.purge_trash`` present
        * live ``epoch=N`` present  -> swap committed, crash before
          cleanup: delete the trash.
        * live absent, ``.epoch=N.purge_tmp`` present -> crash between
          the two renames; the tmp was fully written before any rename,
          so COMPLETE the swap (rename tmp into place, drop trash).
        * live and tmp both absent (defensive; unreachable through the
          documented protocol) -> ROLL BACK (rename trash into place).
    - purge: ``.epoch=N.purge_tmp`` with no trash -> crash before the
      live dir was touched: the tmp is stale, delete it (a re-run
      regenerates it from the intact live dir).
    - compact: ``.compact_trash`` AND ``.compact_tmp`` present -> crash
      mid-move (or after the moves, before the commit rename): ROLL BACK
      every dir still in the trash, then drop trash and tmp — the base
      is back to its pre-compaction state and a re-run starts fresh.
    - compact: ``.compact_trash`` alone -> the commit rename happened
      (the trash is only created after the tmp is fully written, and the
      tmp only disappears via the commit rename, so trash-without-tmp is
      unambiguously post-commit regardless of which epoch the fold
      targeted): delete the trash.
    - compact: ``.compact_tmp`` alone -> crash before any move: stale
      rewrite, delete it.

    Called on entry by both maintenance ops (idempotent, one directory
    listing per dataset) and by every streaming micro-batch. The batch
    path must NOT heal while a maintenance op is mid-swap — its tmp/trash
    dirs are live protocol state, not crash leftovers. Batch-side healing
    is therefore MUTUALLY EXCLUSIVE with maintenance, not merely
    check-then-skip (r7 ADVICE closed the TOCTOU): the default call first
    scans WITHOUT acting; if nothing needs healing (the steady state) it
    returns zero counts with no lock I/O; if leftovers are found it
    atomically acquires the SAME ``_MAINT_LOCK`` the maintenance ops use
    (``createNewFile``), re-scans under the lock — state is now stable,
    no purge/compact can start — heals, and releases. Losing the acquire
    race, or finding the lock already present (a running op, or a crashed
    one awaiting an operator's ``steal_lock=True``), returns {} without
    touching anything. The maintenance ops themselves pass
    ``ignore_lock=True`` after acquiring the lock on entry.
    Returns {dataset: resolved_leftover_count} ({} when skipped).
    """
    fs, _ = sinks._fs_path(spark, base)

    def _sweep_dataset(root: str, names: set[str], apply: bool) -> int:
        n = 0
        for name in sorted(names):
            if name.startswith(".epoch=") and name.endswith(".purge_trash"):
                live = name[1 : -len(".purge_trash")]  # "epoch=N"
                tmp = f".{live}.purge_tmp"
                if apply:
                    if live in names:
                        _must_delete(spark, fs, f"{root}/{name}")
                    elif tmp in names:
                        _must_rename(spark, fs, f"{root}/{tmp}", f"{root}/{live}")
                        _must_delete(spark, fs, f"{root}/{name}")
                    else:
                        _must_rename(spark, fs, f"{root}/{name}", f"{root}/{live}")
                n += 1
            elif name.startswith(".epoch=") and name.endswith(".purge_tmp"):
                trash = name[: -len(".purge_tmp")] + ".purge_trash"
                if trash not in names:  # else: handled with its trash above
                    if apply:
                        _must_delete(spark, fs, f"{root}/{name}")
                    n += 1
        has_trash = ".compact_trash" in names
        has_tmp = ".compact_tmp" in names
        if has_trash and has_tmp:
            if apply:
                for st in fs.listStatus(_jpath(spark, f"{root}/.compact_trash")):
                    nm = st.getPath().getName()
                    if not sinks.path_exists(spark, f"{root}/{nm}"):
                        _must_rename(
                            spark, fs, f"{root}/.compact_trash/{nm}", f"{root}/{nm}"
                        )
                _must_delete(spark, fs, f"{root}/.compact_trash")
                _must_delete(spark, fs, f"{root}/.compact_tmp")
            n += 1
        elif has_trash:
            if apply:
                _must_delete(spark, fs, f"{root}/.compact_trash")
            n += 1
        elif has_tmp:
            if apply:
                _must_delete(spark, fs, f"{root}/.compact_tmp")
            n += 1
        return n

    def _sweep(apply: bool) -> dict[str, int]:
        out: dict[str, int] = {}
        for sub in _DATASETS:
            root = f"{base}/{sub}"
            if not sinks.path_exists(spark, root):
                continue
            names = {
                st.getPath().getName() for st in fs.listStatus(_jpath(spark, root))
            }
            out[sub] = _sweep_dataset(root, names, apply)
        return out

    if ignore_lock:
        return _sweep(apply=True)
    lock = f"{base}/{_MAINT_LOCK}"
    if fs.exists(_jpath(spark, lock)):
        # r14 ADVICE (high): a lock stamped with THIS stream's own run
        # token is an orphan from a crashed prior incarnation — the
        # in-loop cadence fold and the batch-side heal both run
        # synchronously inside a batch, so when a new batch of the same
        # checkpoint instance starts, no hold by this stream can be live
        # (the exactly-once design already excludes two concurrent
        # incarnations of one checkpoint). Steal it and fall through to
        # the heal scan, so the half-finished swap is rolled back/forward
        # BEFORE this batch reads state. Foreign/unstamped owners keep
        # the hands-off contract: return {} without touching anything.
        if not (own_token and _read_lock_owner(spark, lock) == own_token):
            return {}
        warnings.warn(
            f"stealing own orphaned maintenance lock at {lock} (crashed "
            "prior incarnation of this stream); healing leftovers before "
            "reading state",
            RuntimeWarning,
            stacklevel=2,
        )
        _must_delete(spark, fs, lock)
    detected = _sweep(apply=False)
    if not any(detected.values()):
        return detected  # steady state: no leftovers, no lock taken
    if not fs.createNewFile(_jpath(spark, lock)):
        return {}  # a maintenance op took the lock between scan and acquire
    if own_token:
        # stamp the heal hold too: a crash mid-heal must stay stealable
        # by the same stream's next incarnation
        _stamp_lock_owner(spark, fs, lock, own_token)
    try:
        return _sweep(apply=True)  # re-scan under the lock
    finally:
        _release_maintenance_lock(spark, fs, lock)


def purge_ids(
    spark: SparkSession,
    base: str,
    ids: DataFrame | list,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    steal_lock: bool = False,
) -> dict[str, int]:
    """Tombstone deletion ("right to be forgotten") propagated through the
    ingest base AND its derived indexes: the given ids are removed from
    ``docs/``, their band rows from ``bands/``, (for vector bases) their
    rows from ``vectors/``, and their rows from the component, row,
    variant and entity states.

    Cost scales with the AFFECTED epoch partitions, not the corpus: one
    pass finds which ``epoch=N`` directories contain a tombstoned id
    (epoch count is bounded — it is the ingestion cadence), and only those
    partitions are rewritten. Each rewrite is a four-step swap whose
    commit point is a rename, with a FULL copy of the partition alive at
    every instant: (1) write the kept rows to ``.epoch=N.purge_tmp``,
    (2) rename the live partition aside to ``.epoch=N.purge_trash``,
    (3) rename the tmp into place — the commit, (4) delete the trash.
    A crash at any step is resolved by ``recover_base`` (run on entry
    here, so a re-run self-heals): steps 1-2 roll back from the intact
    live dir / trash, step 3-4 leftovers complete forward from the
    fully-written tmp. The old delete-then-rename order lost the
    partition's KEPT rows on a crash between delete and rename.

    Returns {dataset: rewritten_epoch_count}. The _EPOCH marker is
    untouched — purging removes rows, it does not rewind ingestion.

    Maintenance is SINGLE-WRITER: entry takes the ``_MAINT_LOCK`` file
    (atomic create; raises ``MaintenanceLockHeld`` if another purge/
    compact holds it — pass ``steal_lock=True`` only after confirming the
    prior holder is dead), and streaming batches heal only under the SAME
    lock (acquired atomically, never check-then-act), so they cannot
    misread this op's in-flight tmp/trash dirs as crash leftovers at any
    interleaving. Every rename/delete is
    checked (``_must_rename``/``_must_delete``): Hadoop's FileSystem API
    reports failure by returning false, and an unchecked false on the
    commit rename would let the trash cleanup destroy the only copy.
    """
    if isinstance(ids, list):
        ids = local_frame(spark, [(int(i),) for i in ids], "__pid long")
    else:
        ids = ids.select(F.col(ids.columns[0]).alias("__pid"))

    fs, lock = _acquire_maintenance_lock(spark, base, steal_lock)
    try:
        recover_base(spark, base, ignore_lock=True)
        rewritten: dict[str, int] = {}
        # components: the purged doc's MEMBERSHIP rows go; surviving
        # cluster members keep their label value (a min-member id is an
        # opaque group key — the purged doc's content lives in docs/bands,
        # which this purge removes). The labeling never splits on purge
        # (conservative: a bridge doc's removal could disconnect a cluster,
        # but the surviving pair evidence isn't stored); future batches
        # touching the cluster refresh it through incremental CC.
        for sub, col in (
            ("docs", id_col),
            ("bands", "doc"),
            ("vectors", vec_id_col),
            ("components", "doc"),
            ("rows", id_col),
            ("variants", "doc"),
            ("entities", "doc"),
        ):
            root = f"{base}/{sub}"
            if not sinks.path_exists(spark, root):
                continue
            full = spark.read.parquet(root)
            affected = sorted(
                r["epoch"]
                for r in full.join(
                    F.broadcast(ids), full[col] == F.col("__pid"), "left_semi"
                )
                .select("epoch")
                .distinct()
                .collect()
            )
            for ep in affected:
                part = f"{root}/epoch={ep}"
                tmp = f"{root}/.epoch={ep}.purge_tmp"
                trash = f"{root}/.epoch={ep}.purge_trash"
                kept = spark.read.parquet(part).join(
                    F.broadcast(ids), F.col(col) == F.col("__pid"), "left_anti"
                )
                kept.write.mode("overwrite").parquet(tmp)
                if not fs.exists(_jpath(spark, tmp)):
                    raise IOError(f"purge tmp vanished before swap: {tmp}")
                _must_rename(spark, fs, part, trash)
                _must_rename(spark, fs, tmp, part)  # the commit
                _must_delete(spark, fs, trash)
            rewritten[sub] = len(affected)
        return rewritten
    finally:
        _release_maintenance_lock(spark, fs, lock)


def compact_epochs(
    spark: SparkSession,
    base: str,
    small_bytes: int | None = None,
    steal_lock: bool = False,
    datasets: tuple[str, ...] | list[str] | None = None,
    owner: str | None = None,
) -> dict[str, int]:
    """Small-files management for a long-running ingest base: every epoch
    appends its own ``epoch=N`` directory, so after thousands of batches
    the docs/bands/vectors datasets are thousands of tiny partitions —
    death by file listing at 100 TB.

    ``small_bytes=None`` (full compaction) folds all COMMITTED epochs into
    a single ``epoch=last`` partition — an O(corpus) rewrite, right for
    small bases or rare maintenance windows. ``small_bytes=N`` is the
    production shape (size-tiered, the Iceberg/Delta OPTIMIZE idea):
    only committed epoch dirs whose on-disk size is <= N bytes are folded,
    into ``epoch=<max folded epoch>``, so each run's write cost is bounded
    by the small-dir total — repeated runs geometrically merge fresh tiny
    epochs into a growing compacted partition that, once past the
    threshold, is never rewritten again. Epoch monotonicity is preserved
    (rows only ever move to a HIGHER committed epoch), so replay gating
    and ``max_epoch=marker`` reads are unaffected; what coarsens is
    point-in-time history — a ``read_corpus(max_epoch=e)`` for e below a
    fold target no longer sees the folded rows (same property the full
    fold always had; the engine itself only reads at the marker).

    The swap's commit point is a rename, never a delete: (1) the folded
    rewrite lands in ``.compact_tmp`` (reading ONLY the candidate dirs —
    epoch is a partition column, so the isin filter prunes at planning),
    (2) every candidate dir is renamed (atomic per dir) into
    ``.compact_trash/``, (3) the tmp is renamed to the target epoch dir —
    the commit, (4) the trash is deleted. A crash at any step leaves a
    full copy of every row under live dirs, trash, or tmp; ``recover_base``
    (run on entry, so a re-run self-heals) rolls steps 1-2 back to the
    pre-compaction state and resolves step 3-4 leftovers by dropping the
    now-redundant trash. The old delete-then-rename order destroyed the
    deleted epochs' rows if the crash hit between the first delete and
    the rename.

    The _EPOCH marker is untouched. Returns {dataset: folded_dir_count}.

    ``datasets``: optional subset of dataset names to fold (default: all
    of ``_DATASETS``). The practical use is bounding a label state's
    file count without an O(corpus) rewrite: the label states are
    pair-graph-sized (≪ corpus) but only fold in FULL mode, so
    ``compact_epochs(spark, base, datasets=("components",))`` folds JUST
    that state — O(state). The ingest loops expose this as the opt-in
    ``compact_labels_every`` cadence.

    Single-writer + checked-FS-API discipline as in ``purge_ids``: the
    ``_MAINT_LOCK`` gate (which batch-side recover_base must itself
    acquire before acting) keeps a concurrent batch from deleting the
    in-flight ``.compact_tmp`` or ``.compact_trash``, and every rename/delete
    raises on Hadoop's boolean-false failure mode so the trash is only
    dropped after the commit rename is CONFIRMED.
    """
    targets = tuple(datasets) if datasets is not None else _DATASETS
    unknown = sorted(set(targets) - set(_DATASETS))
    if unknown:
        raise ValueError(f"unknown compact_epochs datasets: {unknown}")
    fs, lock = _acquire_maintenance_lock(spark, base, steal_lock, owner=owner)
    try:
        recover_base(spark, base, ignore_lock=True)
        last = _read_epoch(spark, base)
        folded: dict[str, int] = {}
        for sub in targets:
            root = f"{base}/{sub}"
            if not sinks.path_exists(spark, root):
                continue
            if sub in _LABEL_STATES and small_bytes is not None:
                # label rows SUPERSEDE each other across epochs
                # (latest-epoch-wins), so a fold is only correct over a
                # gap-free epoch interval — a tiered selection can skip a
                # big middle epoch and would hoist stale labels past it.
                # The state is pair-graph-sized (≪ corpus), so the FULL
                # fold below stays cheap at any corpus size; tiered runs
                # skip it.
                folded[sub] = 0
                continue
            listing = fs.listStatus(_jpath(spark, root))
            epoch_dirs = [
                st.getPath().getName()
                for st in listing
                if st.isDirectory() and st.getPath().getName().startswith("epoch=")
            ]
            committed = [d for d in epoch_dirs if int(d.split("=")[1]) <= last]
            if small_bytes is not None:
                committed = [
                    d
                    for d in committed
                    if fs.getContentSummary(_jpath(spark, f"{root}/{d}")).getLength()
                    <= small_bytes
                ]
            if len(committed) <= 1:
                folded[sub] = 0
                continue
            epochs = sorted(int(d.split("=")[1]) for d in committed)
            target = epochs[-1]
            tmp = f"{root}/.compact_tmp"
            trash = f"{root}/.compact_trash"
            df = spark.read.parquet(root).filter(F.col("epoch").isin(epochs))
            if sub in _LABEL_STATES:
                # resolve latest-per-doc BEFORE the fold: folded rows all
                # land at epoch=target, so superseded labels must not
                # survive into the merged partition (and the fold doubles
                # as garbage collection of superseded label rows). Re-sort
                # on doc so the point-lookup pruning survives compaction.
                df = _range_sorted(
                    df.groupBy("doc").agg(
                        F.max_by("component", "epoch").alias("component")
                    ),
                    "doc",
                )
            else:
                df = df.drop("epoch")
            df.write.mode("overwrite").parquet(tmp)
            if not fs.exists(_jpath(spark, tmp)):
                raise IOError(f"compact tmp vanished before swap: {tmp}")
            fs.mkdirs(_jpath(spark, trash))
            for d in committed:
                _must_rename(spark, fs, f"{root}/{d}", f"{trash}/{d}")
            _must_rename(spark, fs, tmp, f"{root}/epoch={target}")  # the commit
            _must_delete(spark, fs, trash)
            folded[sub] = len(committed)
        return folded
    finally:
        _release_maintenance_lock(spark, fs, lock)
