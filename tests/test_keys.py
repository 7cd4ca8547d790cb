"""Surrogate-key determinism (SURVEY.md §2h): dense, 0-based, stable under
partitioning; the scalable variant must equal the global-sort rank."""

from __future__ import annotations

import pytest

from healthcare_rcm_etl_pipeline_spark.operators.keys import dense_sk, dense_sk_scalable


def test_dense_sk_dedups_and_orders(spark):
    df = spark.createDataFrame([("b",), ("a",), ("b",), ("c",)], ["k"])
    out = {r["k"]: r["sk"] for r in dense_sk(df, ["k"]).collect()}
    assert out == {"a": 0, "b": 1, "c": 2}


def test_dense_sk_scalable_equals_sort_rank(spark):
    data = [(i * 7919 % 1000,) for i in range(1000)]  # shuffled unique keys
    df = spark.createDataFrame(data, ["k"]).repartition(13)
    out = dense_sk_scalable(df, ["k"], sk_col="sk", num_partitions=7)
    rows = sorted((r["k"], r["sk"]) for r in out.collect())
    assert rows == [(k, k) for k in range(1000)]


def test_dense_sk_scalable_start_offset(spark):
    df = spark.createDataFrame([(10,), (20,), (30,)], ["k"])
    out = sorted(r["sk"] for r in dense_sk_scalable(df, ["k"], start=100).collect())
    assert out == [100, 101, 102]


def test_dense_sk_scalable_checkpoint_mode_stable_ids(spark, tmp_path):
    """With a checkpoint dir the ranked relation is a reliable checkpoint:
    ids must be identical across repeated actions (re-execution cannot
    re-sample range boundaries)."""
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    data = [(i * 7919 % 1000,) for i in range(1000)]
    df = spark.createDataFrame(data, ["k"]).repartition(13)
    out = dense_sk_scalable(df, ["k"], num_partitions=7)
    first = sorted((r["k"], r["sk"]) for r in out.collect())
    second = sorted((r["k"], r["sk"]) for r in out.collect())  # re-execution
    assert first == second == [(k, k) for k in range(1000)]


@pytest.fixture
def no_checkpoint_dir(spark):
    """Run without a session checkpoint dir (so eager_checkpoint takes the
    localCheckpoint path), restoring whatever dir was set."""
    sc = spark.sparkContext._jsc.sc()
    saved = sc.checkpointDir()
    set_dir = getattr(sc, "checkpointDir_$eq")
    set_dir(spark.sparkContext._jvm.scala.Option.apply(None))
    yield
    set_dir(saved)


def test_rank_registers_no_cache_and_keeps_ids_on_reexecution(spark, no_checkpoint_dir):
    """The rank is one local checkpoint: nothing enters Spark's cache, the
    lineage holds no range exchange to re-sample, and re-running the output
    returns the same ids."""
    assert not spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    data = [(i * 7919 % 1000,) for i in range(1000)]
    df = spark.createDataFrame(data, ["k"]).repartition(13)
    out = dense_sk_scalable(df, ["k"], num_partitions=7)
    assert cache.numCachedEntries() == before
    plan = out._jdf.queryExecution().executedPlan().toString().lower()
    assert "rangepartitioning" not in plan, plan
    first = sorted((r["k"], r["sk"]) for r in out.collect())
    second = sorted((r["k"], r["sk"]) for r in out.collect())  # re-execution
    assert first == second == [(k, k) for k in range(1000)]


def test_stable_sk_first_run_is_dense(spark):
    from healthcare_rcm_etl_pipeline_spark.operators.keys import stable_sk

    df = spark.createDataFrame([("b", 1), ("a", 2), ("b", 3)], ["k", "v"])
    out = {(r["k"], r["v"]): r["sk"] for r in stable_sk(df, ["k"], "sk").collect()}
    # dense over distinct keys, all rows of a key share the sk
    assert out == {("a", 2): 0, ("b", 1): 1, ("b", 3): 1}


def test_stable_sk_keeps_old_keys_appends_new(spark):
    from healthcare_rcm_etl_pipeline_spark.operators.keys import stable_sk

    existing = spark.createDataFrame(
        [("a", 0), ("m", 1), ("z", 2)], ["k", "sk"]
    )
    # new batch drops 'm', keeps a/z, adds two new keys that sort BEFORE z
    df = spark.createDataFrame([("a",), ("z",), ("b",), ("c",)], ["k"])
    out = {r["k"]: r["sk"] for r in stable_sk(df, ["k"], "sk", existing=existing).collect()}
    # old keys keep their sk (no positional shift), new keys append after max
    assert out == {"a": 0, "z": 2, "b": 3, "c": 4}
