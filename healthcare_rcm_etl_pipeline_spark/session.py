"""SparkSession factory tuned for the test harness (local[N]) while keeping
cluster-safe defaults (AQE on, sane shuffle partitioning, UTC, Arrow).

On a real cluster only ``master`` and memory sizing change; everything the
engine does is partitioning-aware and never collects large data to the driver.

Four session-scoped helpers sit next to the factory: ``eager_checkpoint``
(the one lineage barrier that honours the session's checkpoint dir),
``collect_bounded`` (the one bounded collect of a checkpoint to the driver,
under the one driver row bound ``_DRIVER_ROWS_MAX``; every driver-side path
in the package goes through it: connected components, BFS, PageRank, BPE
and the MMR greedy), ``local_frame`` (the way back: driver-side rows as a
frame that starts no Python worker) and ``job_description`` (a labelled
block of Spark jobs).
"""

from __future__ import annotations

import contextlib
import os
import tempfile

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

# Rows an operator may hold on the driver to run its rounds there instead of
# in a distributed loop (graph.connected_components, graph.bfs_hops,
# graph.pagerank_fixed_point, corpus.bpe_train, similarity.mmr_topk).
# Measured on a 4-core host, driver vs Spark rounds: PageRank and BPE are
# 2-4x faster on the driver at every size tried (up to 4.2M edges and 1.6M
# words); BFS (300 seeds, 3 hops, out-degree 8) took 4.6-7.2 vs 18-23 s at
# 4.2M raw edges; CC on uniform random pair graphs took 1.2-4.9 vs 14-24 s
# at 65k pairs, 5 s at 0.5M (where the Spark rounds took 88 s or did not
# converge in 20) and 21 s at 4.2M; the MMR greedy (pool 20) took 5.5 vs
# 10 s at 0.4M candidate+pair rows and 18 vs 19-20 s at 1.6M (even). So the
# bound is a driver-memory budget, below every break-even measured: ~220 B
# of Python heap per BPE word, ~200 B of driver RSS per CC raw pair, ~190 B
# per MMR row and ~130 B per PageRank edge keep one operator under ~1 GB at
# 1 << 22 rows. Read at call time (0 forces the Spark rounds).
_DRIVER_ROWS_MAX = 1 << 22

# HotSpot's C2 (tier-4) thresholds, 10x the JDK 17 defaults (5000 / 15000 /
# 40000), for the driver JVM, which in local mode also runs every task.
# Methods that are only lukewarm in a 25-30 s application are no longer
# recompiled by C2; hot loops still reach it within a fraction of a second.
# Measured on a 4-core host with rcmbench (a fresh app per run): on one cold
# change night plus hq1-hq11, C2 threads burned 41.2 of the JVM's 79.7 CPU-s
# at the defaults and 15.5 of 55.6 at 10x; etl_nightly cpu_s fell from 78.5
# to 55.6 s median over 10 interleaved pairs (seeds 11-20, 10/10 won) and
# corpus from 78.3 to 56.4 s (5/5), with jobs, wall time and output bytes
# unchanged. 3x left half of that saving. C1 only (-XX:TieredStopAtLevel=1)
# burned the least CPU but made rcmbench's hot-loop sentinel 13x slower
# (1.30-1.55 vs 0.08-0.12 s), so C2 stays on. bench.py's headline queries in
# a warm session at sf0.1 measured even.
_JIT_FLAGS = (
    "-XX:Tier4InvocationThreshold=50000"
    " -XX:Tier4CompileThreshold=150000"
    " -XX:Tier4BackEdgeThreshold=400000"
)

# Compiler-floor levers measured against these settings and not taken (4
# cores, rcmbench --seconds 1 --trace 0, a fresh application per run):
# - Tier-4 thresholds 100x: etl_nightly cpu_s 43.9-45.6 -> 35.4-40.5 s and
#   C2 CPU 8.4-9.7 -> 2.4-2.9 s, but on corpus executor-thread CPU rose from
#   10.3-10.8 to 19.4-21.3 s and round wall from 21-22 to 26-27 s, with
#   cpu_s flat.
# - Tier-3 thresholds 10x: C1 CPU 6.1/6.4 -> 3.2/3.3 s, cpu_s even (41.4/47.5
#   -> 42.6/41.4 s). With Tier-4 100x on top, the py4j thread took 3.5-4.7 s
#   and the task threads 3.8-3.9 s more CPU, and round wall rose from
#   20.6/23.2 to 25.9/30.0 s.
# - Whole-stage codegen off: etl_nightly won 8 of 10 pairs, medians 45.2 ->
#   40.6 s, a gap inside the baseline's 5.0 s IQR; corpus flat; the hot-loop
#   sentinel ran 3-4x slower.
# - -XX:+UseSerialGC: etl_nightly won 5 of 5 pairs, medians 46.0 -> 41.9 s,
#   but a single-threaded collector is untested at 32 cores.
# A confirming pair per lever at seed 861 (cpu_s, etl_nightly / corpus;
# baseline 50.8 and 52.5 / 56.4 and 47.6 s) read: Tier-4 100x 45.2 / 47.1,
# Tier-3 10x 53.2 / 51.2, codegen off 45.3 / 51.9, SerialGC 50.3 / 55.2.

# Entries of Spark's JVM-wide codegen cache (spark.sql.codegen.cache.maxEntries,
# a static conf, default 100). LRU over a sequential working set larger than
# the cache misses on every class: at 100 a repeated change night recompiled
# all of its ~260 classes (12.3 s wall) and every dedup ingest batch 173-179;
# at 4000 a second night compiles none (7.9 s). The retained classes cost
# ~3.5 KB of metaspace each: 162.1 vs 161.2 MB used after three nights and a
# full GC, so a full cache holds ~15 MB.
_CODEGEN_CACHE_MAX = 4000


def get_spark(
    app_name: str = "healthcare-rcm-etl-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4)))
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    driver_memory = driver_memory or os.environ.get("HRCM_DRIVER_MEM", "12g")
    # keep session scratch (spark-warehouse/, Derby's derby.log) out of the
    # CWD — a library must not side-effect-write into the caller's repo
    scratch = os.path.join(tempfile.gettempdir(), f"hrcm_spark_{os.getuid()}")
    os.makedirs(scratch, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.warehouse.dir", os.path.join(scratch, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Dderby.system.home={scratch} -Dderby.stream.error.file={scratch}/derby.log"
            f" {_JIT_FLAGS}",
        )
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_MAX))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def eager_checkpoint(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now and truncate its lineage: a reliable
    ``checkpoint()`` when the session has a checkpoint dir, else
    ``localCheckpoint()``. Unlike ``persist()``, the data is computed by the
    AQE plan and keeps its final (coalesced) partitioning, and later actions
    can never recompute it — re-running a range-partitioned rank would
    re-sample its boundaries."""
    try:
        has_dir = df.sparkSession.sparkContext._jsc.sc().getCheckpointDir().isDefined()
    except Exception:
        has_dir = False
    return df.checkpoint(eager=True) if has_dir else df.localCheckpoint(eager=True)


def collect_bounded(df: DataFrame) -> pa.Table | None:
    """``df`` as an Arrow table on the driver if it has at most
    ``_DRIVER_ROWS_MAX`` rows (read at call time), else None. ``df`` is a
    checkpoint, whose count replays no lineage: one count job comes first,
    so a ``df`` above the bound is never moved to the driver, then one
    collect job."""
    if df.count() > _DRIVER_ROWS_MAX:
        return None
    return df.toArrow()


def local_frame(spark: SparkSession, rows: list, schema: StructType | str) -> DataFrame:
    """``rows`` (tuples in ``schema``'s column order) as a frame over an
    Arrow table, which Spark plans as a ``LocalRelation`` with ``schema``'s
    types and nullability. A Python list plans as a ``LogicalRDD`` over
    ``sc.parallelize``: running it starts a pyspark daemon plus a Python
    worker per core just to unpickle the rows."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


@contextlib.contextmanager
def job_description(spark: SparkSession, label: str, nest: bool = False):
    """Label every Spark job launched inside the block with ``label``; the
    caller's job description is restored after. ``nest`` (an operator's
    step) appends the label to the caller's own as ``caller > label``, so an
    ingest or pipeline step keeps its label on the jobs its operators run."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"{prev} > {label}" if nest and prev else label)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)
