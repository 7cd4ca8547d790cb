"""The paper's own surface: the nightly ETL and the hq1-hq11 dashboard.

A night is one ``run_pipeline`` call on a generated two-hospital snapshot
into the staging directory. Night 1 loads empty staging; every later night
is the SCD2 change run against the previous night's staging. The dashboard
runs hq1-hq11 over the star that night staged, each query once through the
DataFrame API or its SQL text (a seeded choice), and collects the small
result.

Outputs are checked outside the timed region with DuckDB over the staged
parquet: the star against the generator's invariants, and every dashboard
result against ``analytics.SQL`` (the DuckDB side of the same text).
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time

import duckdb

from healthcare_rcm_etl_pipeline_spark.plans import analytics, pipeline
from rcmbench.gen import HospitalSources


def run_date(night: int) -> str:
    return f"2025-08-{night:02d}"


class Hospital:
    def __init__(self, spark, work: str, seed: int, scale: float):
        self.spark, self.seed, self.scale = spark, seed, scale
        self.root = os.path.join(work, "reference")
        self.stage = os.path.join(work, "staging")
        self.rng = random.Random(seed)
        self.dashboard_results: list[tuple[str, str, list, list]] = []

    def prepare(self) -> None:
        """Inputs of one change night: staging as night 1 left it, and the
        night-2 source snapshot (changed patients, new patients, appended
        transactions and claims)."""
        for d in (self.root, self.stage):
            shutil.rmtree(d, ignore_errors=True)
        self.src = HospitalSources(self.seed, self.scale)
        self.src.write_staged_dim_patients(self.stage, run_date(self.src.night))
        self.src.advance()
        self.input_bytes = self.src.write(self.root)

    def run_night(self) -> float:
        t0 = time.perf_counter()
        pipeline.run_pipeline(
            self.spark,
            reference_root=self.root,
            staging_dir=self.stage,
            run_date=run_date(self.src.night),
        )
        return time.perf_counter() - t0

    def check_star(self) -> list[str]:
        """Star invariants known from the generator; returns failed checks."""
        exp = self.src.expected()
        con = self._duck()
        fails = []

        def one(sql: str) -> int:
            return con.execute(sql).fetchone()[0]

        counts = {
            "dim_patients": "SELECT count(*) FROM dim_patients",
            "current_patients": "SELECT count(*) FROM dim_patients WHERE is_current",
            "expired": "SELECT count(*) FROM dim_patients WHERE NOT is_current",
            "fact_transactions": "SELECT count(*) FROM fact_transactions",
            "fact_claims": "SELECT count(*) FROM fact_claims",
            "dim_departments": "SELECT count(*) FROM dim_departments",
            "dim_providers": "SELECT count(*) FROM dim_providers",
        }
        for key, sql in counts.items():
            if one(sql) != exp[key]:
                fails.append(f"{key}: {one(sql)} != {exp[key]}")
        if one("SELECT count(*) FROM dim_patients WHERE version = 2") != exp["expired"]:
            fails.append("version-2 rows != changed patients")
        # every fact FK resolves to the current dim row of its source patient
        src_tx = " UNION ALL ".join(
            f"SELECT TransactionID, PatientID, '{s}' AS source_hospital, '{tag}' AS tag "
            f"FROM read_csv('{self.root}/SQL/hospital_dbs/{db}/transactions.csv', "
            "header=true, all_varchar=true)"
            for s, db, tag in [("hospital_a", "hospital1_db", "A"),
                               ("hospital_b", "hospital2_db", "B")]
        )
        wrong = one(f"""
            SELECT count(*) FROM fact_transactions f
            JOIN ({src_tx}) s USING (TransactionID, source_hospital)
            LEFT JOIN (SELECT * FROM dim_patients WHERE is_current) p
              ON f.patient_sk = p.patient_sk
            WHERE f.patient_sk IS NOT NULL
              AND p.unified_patient_id IS DISTINCT FROM s.tag || '-' || s.PatientID
        """)
        if wrong:
            fails.append(f"{wrong} transaction FKs resolve to the wrong patient")
        orphans = one("SELECT count(*) FROM fact_transactions WHERE patient_sk IS NULL")
        if orphans != exp["orphan_transactions"]:
            fails.append(f"orphan transactions {orphans} != {exp['orphan_transactions']}")
        bad = one("SELECT count(*) FROM fact_transactions WHERE Amount <= 0")
        if bad != exp["non_positive_amounts"]:
            fails.append(f"non-positive amounts {bad} != {exp['non_positive_amounts']}")
        if one("SELECT count(*) FROM fact_transactions WHERE provider_sk IS NOT NULL"):
            fails.append("PROV-style provider ids joined the provider dim")
        wrong = one("""
            SELECT count(*) FROM fact_claims c
            LEFT JOIN fact_transactions t USING (TransactionID, source_hospital)
            WHERE c.patient_sk IS DISTINCT FROM t.patient_sk
        """)
        if wrong:
            fails.append(f"{wrong} claims do not resolve through their transaction")
        # SCD2: the current row carries the latest snapshot's Address
        wrong = sum(
            one(f"""
                SELECT count(*) FROM (
                  SELECT DISTINCT {'PatientID' if tag == 'A' else 'ID'} AS pid, Address
                  FROM read_csv('{self.root}/SQL/hospital_dbs/{db}/patients.csv',
                                header=true, all_varchar=true)) s
                LEFT JOIN (SELECT * FROM dim_patients WHERE is_current) p
                  ON p.unified_patient_id = '{tag}-' || s.pid
                WHERE p.Address IS DISTINCT FROM s.Address
            """)
            for db, tag in [("hospital1_db", "A"), ("hospital2_db", "B")]
        )
        if wrong:
            fails.append(f"{wrong} current rows miss the latest Address")
        con.close()
        return fails

    # ---- dashboard -----------------------------------------------------------
    def _star_paths(self) -> dict[str, str]:
        paths = {t: os.path.join(self.stage, t) for t in analytics.STAR_TABLES}
        with open(os.path.join(self.stage, "dim_patients", "_CURRENT")) as f:
            version = f.read().strip()
        paths["dim_patients"] = os.path.join(self.stage, "dim_patients", f"v={version}")
        return paths

    def dashboard(self, on_query=None) -> list[tuple[str, float]]:
        """hq1-hq11 in a seeded order, each once through the DataFrame API
        or its SQL text (a seeded choice, so a run covers both paths at half
        the cost of running every query twice); returns (op name, seconds)
        per query."""
        spark = self.spark
        paths = self._star_paths()
        star = {t: spark.read.parquet(p) for t, p in paths.items()}
        analytics.attach_star_stats(star)
        analytics.register_star_views(star)
        names = list(analytics.HEALTHCARE_QUERIES)
        self.rng.shuffle(names)
        ops = []
        self.dashboard_results = []
        for name in names:
            api = self.rng.choice(("df", "sql"))
            t0 = time.perf_counter()
            if api == "df":
                df = analytics.HEALTHCARE_QUERIES[name](star)
            else:
                df = analytics.run_sql(spark, name)
            rows = df.collect()
            ops.append((f"{name}.{api}", time.perf_counter() - t0))
            if on_query is not None:
                on_query(df)
            self.dashboard_results.append((name, api, [tuple(r) for r in rows], df.columns))
        return ops

    def check_dashboard(self) -> list[str]:
        con = self._duck()
        fails = []
        for name, api, rows, cols in self.dashboard_results:
            res = con.execute(analytics.SQL[name])
            dcols = [d[0] for d in res.description]
            if not same_result(cols, rows, dcols, res.fetchall()):
                fails.append(f"{name} ({api}) differs from DuckDB")
        con.close()
        return fails

    def _duck(self):
        con = duckdb.connect()
        for t, p in self._star_paths().items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        return con


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, int):
        return repr(float(v)) if abs(v) < 1e15 else repr(v)
    return str(v)


def same_result(scols, srows, dcols, drows) -> bool:
    """Row count + column names + order-insensitive value hash: the compare
    the repository's oracle sweep uses."""
    si = sorted(range(len(scols)), key=lambda i: scols[i])
    di = sorted(range(len(dcols)), key=lambda i: dcols[i])
    return (
        sorted(scols) == sorted(dcols)
        and len(srows) == len(drows)
        and sorted("|".join(canon(r[i]) for i in si) for r in srows)
        == sorted("|".join(canon(r[i]) for i in di) for r in drows)
    )

