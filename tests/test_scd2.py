"""SCD Type 2 scenario tests (SURVEY.md §5 item 4): first run, no-change
rerun, changed tracked attr, new member, null<->'' transitions, history
preservation, absent-from-batch keys."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from healthcare_rcm_etl_pipeline_spark.operators.scd2 import (
    apply_scd_type2,
    stamp_first_version,
)

D = datetime.date


def _dim(spark, rows):
    return spark.createDataFrame(rows, "pid string, LastName string, Address string")


def _by_key(df):
    return {
        (r["pid"], r["version"]): r
        for r in df.collect()
    }


def test_first_run_stamps_v1(spark):
    inc = _dim(spark, [("p1", "Doe", "1 Main"), ("p2", "Roe", "2 Oak")])
    out = apply_scd_type2(inc, None, "pid", ["Address", "LastName"], "2024-01-01")
    rows = _by_key(out)
    assert len(rows) == 2
    for (_, v), r in rows.items():
        assert v == 1 and r["is_current"] and r["expiry_date"] is None
        assert r["effective_date"] == D(2024, 1, 1)


def test_no_change_rerun_is_identity(spark):
    inc = _dim(spark, [("p1", "Doe", "1 Main")])
    ex = stamp_first_version(inc, "2024-01-01")
    out = apply_scd_type2(inc, ex, "pid", ["Address", "LastName"], "2024-06-01")
    rows = _by_key(out)
    assert set(rows) == {("p1", 1)}
    r = rows[("p1", 1)]
    assert r["is_current"] and r["effective_date"] == D(2024, 1, 1)


def test_changed_address_expires_and_versions(spark):
    ex = stamp_first_version(_dim(spark, [("p1", "Doe", "1 Main")]), "2024-01-01")
    inc = _dim(spark, [("p1", "Doe", "9 New St")])
    out = apply_scd_type2(inc, ex, "pid", ["Address", "LastName"], "2024-06-01")
    rows = _by_key(out)
    assert set(rows) == {("p1", 1), ("p1", 2)}
    old, new = rows[("p1", 1)], rows[("p1", 2)]
    assert not old["is_current"] and old["expiry_date"] == D(2024, 5, 31)
    assert old["Address"] == "1 Main"
    assert new["is_current"] and new["Address"] == "9 New St"
    assert new["effective_date"] == D(2024, 6, 1) and new["expiry_date"] is None


def test_new_member_and_absent_member(spark):
    ex = stamp_first_version(_dim(spark, [("p1", "Doe", "1 Main")]), "2024-01-01")
    inc = _dim(spark, [("p2", "New", "5 Elm")])  # p1 absent from batch
    out = apply_scd_type2(inc, ex, "pid", ["Address", "LastName"], "2024-06-01")
    rows = _by_key(out)
    assert set(rows) == {("p1", 1), ("p2", 1)}
    assert rows[("p1", 1)]["is_current"]  # untouched key keeps its open row
    assert rows[("p2", 1)]["effective_date"] == D(2024, 6, 1)


@pytest.mark.parametrize("old_val,new_val,changed", [(None, "", False), ("", None, False), (None, "x", True)])
def test_null_empty_normalization(spark, old_val, new_val, changed):
    # pandas-parity: fillna('') before compare (scd_implementation.py:49)
    ex = stamp_first_version(_dim(spark, [("p1", "Doe", old_val)]), "2024-01-01")
    inc = _dim(spark, [("p1", "Doe", new_val)])
    out = apply_scd_type2(inc, ex, "pid", ["Address", "LastName"], "2024-06-01")
    versions = sorted(r["version"] for r in out.collect())
    assert versions == ([1, 2] if changed else [1])


def test_history_rows_preserved_verbatim(spark):
    ex = stamp_first_version(_dim(spark, [("p1", "Doe", "1 Main")]), "2024-01-01")
    mid = apply_scd_type2(
        _dim(spark, [("p1", "Doe", "2 Mid")]), ex, "pid", ["Address", "LastName"], "2024-03-01"
    )
    out = apply_scd_type2(
        _dim(spark, [("p1", "Doe", "3 End")]), mid, "pid", ["Address", "LastName"], "2024-06-01"
    )
    rows = _by_key(out)
    assert set(rows) == {("p1", 1), ("p1", 2), ("p1", 3)}
    assert rows[("p1", 1)]["expiry_date"] == D(2024, 2, 29)
    assert rows[("p1", 2)]["expiry_date"] == D(2024, 5, 31)
    assert rows[("p1", 3)]["is_current"]


def test_literal_rekey_mode(spark):
    inc = _dim(spark, [("p2", "B", "x"), ("p1", "A", "y")])
    out = apply_scd_type2(
        inc, None, "pid", ["Address", "LastName"], "2024-01-01",
        rekey="literal", sk_col="patient_sk",
    )
    sks = {r["pid"]: r["patient_sk"] for r in out.collect()}
    assert sks == {"p1": 0, "p2": 1}


# -- point_in_time_join ------------------------------------------------------

from healthcare_rcm_etl_pipeline_spark.operators.scd2 import point_in_time_join


def _pit_dim(spark):
    # p1: v1 [2024-01-01, 2024-05-31], v2 [2024-06-01, open)
    rows = [
        ("p1", 1, "addr-v1", D(2024, 1, 1), D(2024, 5, 31)),
        ("p1", 2, "addr-v2", D(2024, 6, 1), None),
        ("p2", 1, "only", D(2024, 3, 1), None),
    ]
    return spark.createDataFrame(
        rows, "pid string, version int, Address string, effective_date date, expiry_date date"
    )


def _facts(spark, rows):
    return spark.createDataFrame(rows, "fid int, pid string, ts date")


def test_pit_selects_correct_version(spark):
    facts = _facts(spark, [
        (1, "p1", D(2024, 3, 15)),   # inside v1
        (2, "p1", D(2024, 7, 1)),    # inside v2 (open-ended)
        (3, "p2", D(2024, 4, 1)),    # p2 v1
    ])
    out = {r.fid: r.version for r in
           point_in_time_join(facts, _pit_dim(spark), "pid", "ts").collect()}
    assert out == {1: 1, 2: 2, 3: 1}


def test_pit_boundaries_inclusive(spark):
    facts = _facts(spark, [
        (1, "p1", D(2024, 1, 1)),    # ts == effective_date of v1
        (2, "p1", D(2024, 5, 31)),   # ts == expiry_date of v1
        (3, "p1", D(2024, 6, 1)),    # ts == effective_date of v2
    ])
    out = {r.fid: r.version for r in
           point_in_time_join(facts, _pit_dim(spark), "pid", "ts").collect()}
    assert out == {1: 1, 2: 1, 3: 2}


def test_pit_fact_before_first_version(spark):
    facts = _facts(spark, [(1, "p2", D(2024, 1, 1)), (2, "p2", D(2024, 3, 2))])
    inner = point_in_time_join(facts, _pit_dim(spark), "pid", "ts")
    assert [r.fid for r in inner.collect()] == [2]


def test_pit_at_most_one_match_per_fact(spark):
    # every fact row appears exactly once: non-overlapping version intervals
    facts = _facts(spark, [(i, "p1", D(2024, 1, 1) + datetime.timedelta(days=30 * i)) for i in range(8)])
    out = point_in_time_join(facts, _pit_dim(spark), "pid", "ts")
    assert out.count() == facts.count() == 8
    assert out.select("fid").distinct().count() == 8
