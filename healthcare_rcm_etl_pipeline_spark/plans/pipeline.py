"""End-to-end batch pipeline (SURVEY.md §3, entry point 1).

Spark-native lifecycle replacing /root/reference/python/scd_implementation.py's
orchestration (:102-132): extract -> standardize/union -> clean/enrich ->
surrogate keys -> star schema -> SCD2 -> parquet staging. Extract, clean and
the dimension builds stay one lazy DataFrame graph up to two kinds of eager
checkpoint (session.eager_checkpoint): each surrogate-key rank, and the SCD2
merge of dim_patients, which stable_sk and the dim_patients checkpoint both
read instead of replaying it. The star tables are checkpoints too, in three
steps: the five dimensions once SCD2 and stable_sk have produced them, then
fact_transactions built against those checkpoints, then fact_claims built
through the checkpointed fact_transactions. The quality checks, the staging
writes and the returned frames all read the checkpoints, so the CSV graph
runs once per table instead of once per action. The other barrier is the
SCD2 read-modify-write of the staged dim_patients (versioned dirs,
sinks.write_versioned). Every Spark job of a run carries a job description:
``pipeline.star.build`` for the surrogate-key ranks of the build,
``pipeline.dim_patients.scd2`` for the SCD2 merge's checkpoint, then
``pipeline.<table>.<checkpoint|check|write>``.

Source layout defaults to the reference repo's own seed CSVs (the same data
its MySQL DDL seeds), so the e2e tests run the real input. ``claims source
inference``: the reference tags claims by filename substring
(extraction.py:103-105); here the filename is mapped explicitly per file.
"""

from __future__ import annotations

import logging
import os
from glob import glob

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_rcm_etl_pipeline_spark.operators import keys
from healthcare_rcm_etl_pipeline_spark.operators.scd2 import apply_scd_type2
from healthcare_rcm_etl_pipeline_spark.plans import model
from healthcare_rcm_etl_pipeline_spark.plans.standardize import (
    PATIENTS_B_RENAMES,
    add_unified_patient_id,
    integrate_sources,
)
from healthcare_rcm_etl_pipeline_spark.session import eager_checkpoint, job_description
from healthcare_rcm_etl_pipeline_spark.sources import readers, schemas, sinks

log = logging.getLogger(__name__)

DB_TABLES = ["departments", "encounters", "patients", "providers", "transactions"]
SCD_TRACKED = ["Address", "LastName"]  # scd_implementation.py:19


def _reference_root(reference_root: str | None) -> str:
    """The source tree to read: ``reference_root`` if given, else
    ``$HRCM_REFERENCE_ROOT``, else the reference checkout's location."""
    return reference_root or os.environ.get("HRCM_REFERENCE_ROOT") or "/root/reference"


def extract(
    spark: SparkSession, reference_root: str | None = None
) -> tuple[dict[str, DataFrame], DataFrame]:
    """extraction.py:53-111 — CSV-backed (same data the MySQL DDL seeds).
    ``reference_root`` defaults to ``$HRCM_REFERENCE_ROOT``, then the
    reference checkout."""
    reference_root = _reference_root(reference_root)
    hosp = os.path.join(reference_root, "SQL", "hospital_dbs")
    out: dict[str, DataFrame] = {}
    for tbl in DB_TABLES:
        per_source = {}
        for src, db in [("hospital_a", "hospital1_db"), ("hospital_b", "hospital2_db")]:
            schema_key = (
                "patients_b" if (tbl == "patients" and src == "hospital_b") else
                "patients_a" if tbl == "patients" else tbl
            )
            df = readers.read_csv(
                spark,
                os.path.join(hosp, db, f"{tbl}.csv"),
                schemas.HOSPITAL_TABLE_SCHEMAS[schema_key],
            )
            per_source[src] = df
        out[tbl] = integrate_sources(
            per_source, renames={"hospital_b": PATIENTS_B_RENAMES if tbl == "patients" else {}}
        )
    out["patients"] = add_unified_patient_id(out["patients"])

    claim_files = sorted(glob(os.path.join(reference_root, "Data", "claims", "*.csv")))
    claim_parts = {}
    for f in claim_files:
        src = "hospital_a" if "hospital1" in os.path.basename(f).lower() else "hospital_b"
        claim_parts[src] = readers.read_csv(spark, f, schemas.HOSPITAL_TABLE_SCHEMAS["claims"])
    claims = integrate_sources(claim_parts)
    return out, claims


def transform(
    db_data: dict[str, DataFrame], claims: DataFrame, run_date: str
) -> tuple[dict[str, DataFrame], DataFrame]:
    """transform.py:58-67."""
    db = dict(db_data)
    db["patients"] = model.clean_patients(db["patients"], run_date)
    claims_t = model.enrich_claims(claims)
    db["providers"] = model.attach_surrogate_key(
        db["providers"], ["ProviderID", "source_hospital"], "provider_sk"
    )
    db["departments"] = model.attach_surrogate_key(
        db["departments"], ["DeptID", "source_hospital"], "department_sk"
    )
    return db, claims_t


def run_pipeline(
    spark: SparkSession,
    reference_root: str | None = None,
    staging_dir: str | None = None,
    run_date: str = "2025-08-03",
    existing_dim_patients: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Full batch run; returns {table_name: DataFrame} of dims + facts,
    each an eager checkpoint (see the module docstring). ``reference_root``
    defaults to ``$HRCM_REFERENCE_ROOT``, then the reference checkout."""
    with job_description(spark, "pipeline.star.build"):
        dims, transactions, claims = _lazy_dims(
            spark, _reference_root(reference_root), staging_dir, run_date,
            existing_dim_patients,
        )

    # The star is computed once: each table is checkpointed (not persisted —
    # a cached plan skips AQE's final partition coalescing, which would
    # change the staged file layout), and everything after reads the
    # checkpoints.
    def checkpoint(name: str, df: DataFrame) -> DataFrame:
        with job_description(spark, f"pipeline.{name}.checkpoint"):
            return eager_checkpoint(df)

    out = {name: checkpoint(name, df) for name, df in dims.items()}
    out["fact_transactions"] = checkpoint(
        "fact_transactions",
        model.build_fact_transactions(
            transactions,
            out["dim_patients"].filter(F.col("is_current")),
            out["dim_providers"],
            out["dim_procedures"],
            out["dim_date"],
        ),
    )
    out["fact_claims"] = checkpoint(
        "fact_claims",
        model.build_fact_claims(claims, out["fact_transactions"], out["dim_date"]),
    )
    # the checks report, they don't fail the night
    for fact in ("fact_transactions", "fact_claims"):
        with job_description(spark, f"pipeline.{fact}.check"):
            reports = model.validate_star({fact: out[fact]}, out)
        for r in reports:
            log.info("%s check %s: %d violations", fact, r.name, r.violation_count)

    if staging_dir:
        # staging-time stats (analytics.STAR_STATS_KEY): counted from the
        # JUST-WRITTEN parquet — a footer-metadata read, not a scan of the
        # checkpoint — so every downstream query build / view registration
        # plans the size-aware join strategy with zero count jobs
        # (scaled_lookup / register_star_views). Unstaged runs attach stats
        # explicitly if wanted (analytics.attach_star_stats).
        from healthcare_rcm_etl_pipeline_spark.plans import analytics as _an

        stats: dict[str, int] = {}
        for name, df in out.items():
            path = os.path.join(staging_dir, name)
            with job_description(spark, f"pipeline.{name}.write"):
                if name == "dim_patients":
                    path = os.path.join(path, f"v={sinks.write_versioned(df, path)}")
                elif name.startswith("fact_"):
                    # clustering analog of load.py:100-103: facts by patient_sk
                    sinks.write_clustered(df, path, cluster_by=["patient_sk"])
                else:
                    sinks.write_parquet(df, path)
                if name in _an.SF_GROWING_DIMS:
                    stats[name] = spark.read.parquet(path).count()
        out[_an.STAR_STATS_KEY] = stats  # type: ignore[assignment]
    return out


def _lazy_dims(
    spark: SparkSession,
    reference_root: str,
    staging_dir: str | None,
    run_date: str,
    existing_dim_patients: DataFrame | None,
) -> tuple[dict[str, DataFrame], DataFrame, DataFrame]:
    """The five dimensions over the CSVs (dim_patients after SCD2 and
    stable_sk), plus the transactions and enriched claims the facts are built
    from. Its Spark jobs are the eager surrogate-key ranks (operators.keys,
    each one checkpoint) and the one checkpoint of the SCD2 merge, labelled
    ``pipeline.dim_patients.scd2``; the rest of the graph stays lazy."""
    db_raw, claims_raw = extract(spark, reference_root)
    db, claims = transform(db_raw, claims_raw, run_date)

    dims = {
        "dim_patients": model.build_dim_patients(db["patients"]),
        "dim_providers": model.build_dim_providers(db["providers"], db["departments"]),
        "dim_departments": model.build_dim_departments(db["departments"]),
        "dim_procedures": model.build_dim_procedures(db["transactions"]),
        "dim_date": model.build_dim_date(db["transactions"], db["encounters"]),
    }

    # SCD2 on dim_patients (scd_implementation.py:16-100) BEFORE fact
    # building, so facts resolve FKs against the merged dimension. incoming =
    # natural key + attrs, one row per key (the seed data carries duplicate
    # patient ids; the reference's golden dim holds distinct keys — 9,985 of
    # 10,000); prior state comes from the versioned staging dir if present.
    #
    # Surrogate keys are STABLE (operators.keys.stable_sk): existing keys
    # keep their sk across runs, new keys append after max(sk). The
    # reference instead re-keys the whole dimension positionally each run
    # (scd_implementation.py:96-98, rekey="literal"), which shifts sks after
    # any change run and silently points fact FKs at the wrong patients —
    # replicated by the scd2_type2_merge query for parity, NOT used here.
    incoming = keys.first_row_per_key(dims["dim_patients"], ["unified_patient_id"])
    existing = existing_dim_patients
    if existing is None and staging_dir:
        existing = sinks.read_versioned(spark, os.path.join(staging_dir, "dim_patients"))
    # The merge is checkpointed once: stable_sk's key derivation and the
    # dim_patients checkpoint both read it, instead of each replaying the
    # extract -> first_row_per_key -> full-outer-join lineage.
    with job_description(spark, "pipeline.dim_patients.scd2"):
        scd = eager_checkpoint(
            apply_scd_type2(
                incoming,
                existing,
                key="unified_patient_id",
                tracked=SCD_TRACKED,
                run_date=run_date,
                rekey="none",
            )
        )
    has_prior_sk = existing is not None and "patient_sk" in existing.columns
    dims["dim_patients"] = keys.stable_sk(
        scd,
        ["unified_patient_id"],
        "patient_sk",
        existing=existing if has_prior_sk else None,
    )
    return dims, db["transactions"], claims
