"""Mirror of the driver's correctness gate: run every registered query in
Spark AND its DuckDB oracle on the same parquet, compare row count, column
names, and an order-insensitive value hash (values stringified with repr so
float bit-inequality is caught, not papered over)."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from healthcare_rcm_etl_pipeline_spark.plans.queries import ORACLES, QUERIES
from healthcare_rcm_etl_pipeline_spark.sources.readers import TESTDATA_TABLES

# default sf0.001 keeps the sweep fast; override to audit scale-sensitive
# oracle contracts (HLL tolerance, LSH recall, df caps) at bigger SFs —
# the round-4 sf0.1 audit caught four divergences invisible at small SF
SF_DIR = os.environ.get("HRCM_ORACLE_SF_DIR", "/root/testdata/sf0.001")


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return repr(float(v))
        return repr(v)
    if isinstance(v, int):
        return repr(float(v)) if abs(v) < 1e15 else repr(v)
    return str(v)


def _rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon(r[i]) for i in idx) for r in rows)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, duck, hospital_sources):
    # hospital_sources: the hq rows stage their star from run_pipeline's
    # default source lookup (queries._hq_star)
    sdf = QUERIES[name](spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(ORACLES[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs {len(drows)}"
    sset, dset = _rowset(scols, srows), _rowset(dcols, drows)
    mism = [(a, b) for a, b in zip(sset, dset) if a != b][:5]
    assert sset == dset, f"{name}: value mismatch, first diffs: {mism}"


def test_every_registered_query_has_an_oracle():
    # a query without an oracle would only be run, never value-checked
    assert set(QUERIES) - set(ORACLES) == set()


def test_kmeans_inertia_half_way_sum_matches_oracle(spark, tmp_path):
    """On the benchmark's generated corpus at seed 821, cluster 3's exact
    sum of 6-dp distances is 130.160500, a half-way point: both sides must
    round it half-up to 130.161 (a double sum lands on 130.16049999…)."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from rcmbench.gen import write_corpus

    write_corpus(str(tmp_path), 821, 0.01)
    srows = [tuple(r) for r in QUERIES["kmeans_lloyd"](spark, str(tmp_path)).collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet'")
    drows = con.execute(ORACLES["kmeans_lloyd"]).fetchall()
    con.close()
    cols = ["cluster", "n_points", "inertia"]
    assert _rowset(cols, srows) == _rowset(cols, drows)
    assert (3, 135, 130.161) in srows
