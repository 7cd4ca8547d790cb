"""SparkSession factory tuned for the test harness (local[N]) while keeping
cluster-safe defaults (AQE on, sane shuffle partitioning, UTC, Arrow).

On a real cluster only ``master`` and memory sizing change; everything the
engine does is partitioning-aware and never collects large data to the driver.

Two session-scoped helpers sit next to the factory: ``eager_checkpoint``
(the one lineage barrier that honours the session's checkpoint dir) and
``job_description`` (a labelled block of Spark jobs).
"""

from __future__ import annotations

import contextlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession


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
            f"-Dderby.system.home={scratch} -Dderby.stream.error.file={scratch}/derby.log",
        )
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


@contextlib.contextmanager
def job_description(spark: SparkSession, label: str):
    """Label every Spark job launched inside the block with ``label``; the
    caller's job description is restored after."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)
