"""Cleansing, enrichment, and star-schema modeling (SURVEY.md §2, §1).

Spark-first re-expression of /root/reference/python/transform.py and
/root/reference/python/dimensional_modeling.py:

- clean_patients       <- transform.py:18-31 (title-case, gender recode,
  phone strip, DOB parse, birthday-aware age — all Column exprs, no UDF)
- enrich_claims        <- transform.py:33-44 (date coercion, safe-division
  coverage_percentage, days_to_payment, year/month)
- attach_surrogate_key <- transform.py:46-56 (dense ordinal sks joined back;
  providers and departments only — patient_sk is assigned after SCD2, by
  operators.keys.stable_sk in plans/pipeline.py)
- build_dim_*          <- dimensional_modeling.py:12-48 (incl. dim_departments,
  which the reference declares at load.py:55-58 but never builds — gap-fixed;
  build_dim_patients returns the natural key + attributes, without an sk)
- build_fact_*         <- dimensional_modeling.py:50-78 (broadcast FK-resolution
  join chain: dims are small by construction, so every join is a broadcast
  hash join — no shuffle of the fact table at any scale)
- validate_star        <- dimensional_modeling.py:80-100 (distributed checks)

``run_date`` is threaded explicitly (no current_date()) for reproducibility.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from healthcare_rcm_etl_pipeline_spark.functions.cleanse import (
    age_years,
    clean_phone,
    day_name,
    days_between,
    fill_unknown,
    recode_gender,
    safe_pct,
    title_case,
)
from healthcare_rcm_etl_pipeline_spark.operators import quality
from healthcare_rcm_etl_pipeline_spark.operators.keys import dense_sk


def clean_patients(patients: DataFrame, run_date: str) -> DataFrame:
    """transform.py:18-31, with the reference's letters-only gender recode
    (full words -> 'Unknown', the observed output)."""
    out = patients
    for c in ["FirstName", "LastName", "MiddleName"]:
        out = out.withColumn(c, fill_unknown(title_case(F.col(c))))
    return (
        out.withColumn("Gender", recode_gender(F.col("Gender")))
        .withColumn("PhoneNumber", F.coalesce(clean_phone(F.col("PhoneNumber")), F.lit("")))
        .withColumn("DOB", F.col("DOB").cast("date"))
        .withColumn("age", age_years(F.col("DOB"), F.to_date(F.lit(run_date))))
    )


def enrich_claims(claims: DataFrame) -> DataFrame:
    """transform.py:33-44."""
    out = claims
    for c in ["ServiceDate", "ClaimDate", "InsertDate", "ModifiedDate"]:
        if c in out.columns:
            out = out.withColumn(c, F.col(c).cast("date"))
    return (
        out.withColumn("coverage_percentage", safe_pct("PaidAmount", "ClaimAmount"))
        .withColumn("days_to_payment", days_between("ModifiedDate", "ServiceDate"))
        .withColumn("claim_year", F.year("ServiceDate"))
        .withColumn("claim_month", F.month("ServiceDate"))
    )


def attach_surrogate_key(df: DataFrame, natural_key: list[str], sk_col: str) -> DataFrame:
    """transform.py:46-56: dense ordinal sk over distinct natural keys,
    joined back. Key table is small -> broadcast; ordering is the natural key
    itself (deterministic under any partitioning, unlike the reference's
    incidental pandas index order)."""
    keys = dense_sk(df.select(*natural_key), natural_key, sk_col=sk_col)
    return df.join(F.broadcast(keys), natural_key, "left")


def build_dim_patients(patients: DataFrame) -> DataFrame:
    """dimensional_modeling.py:18-20, without the sk: the pipeline keys the
    dimension after its SCD2 merge (operators.keys.stable_sk)."""
    return patients.select(
        "unified_patient_id",
        "FirstName",
        "LastName",
        "Gender",
        "age",
        "Address",
        "source_hospital",
    )


def build_dim_providers(providers_with_sk: DataFrame, departments: DataFrame) -> DataFrame:
    """dimensional_modeling.py:22-27: denormalize DepartmentName via
    composite-key left join (broadcast: departments is tiny)."""
    dept = departments.select("DeptID", F.col("Name").alias("DepartmentName"), "source_hospital")
    return providers_with_sk.join(F.broadcast(dept), ["DeptID", "source_hospital"], "left").select(
        "provider_sk",
        "ProviderID",
        "FirstName",
        "LastName",
        "Specialization",
        "DepartmentName",
        "NPI",
        "source_hospital",
    )


def build_dim_departments(departments_with_sk: DataFrame) -> DataFrame:
    """Gap-fix: declared at load.py:55-58 but never built by the reference."""
    return departments_with_sk.select(
        "department_sk", "DeptID", F.col("Name").alias("DepartmentName"), "source_hospital"
    )


def build_dim_procedures(transactions: DataFrame) -> DataFrame:
    """dimensional_modeling.py:29-35: distinct non-null codes, ordinal sk,
    synthetic description (the reference never reads its CPT lookup)."""
    codes = transactions.select("ProcedureCode").na.drop().distinct()
    dim = dense_sk(codes, ["ProcedureCode"], sk_col="procedure_sk")
    return dim.withColumn(
        "ProcedureDescription",
        F.concat(F.lit("Desc for Code "), F.col("ProcedureCode").cast("string")),
    )


def build_dim_date(transactions: DataFrame, encounters: DataFrame) -> DataFrame:
    """dimensional_modeling.py:37-45: union of date pools -> distinct ->
    calendar attributes; sk = ordinal in date order."""
    dates = (
        transactions.select(F.col("ServiceDate").cast("date").alias("full_date"))
        .unionByName(encounters.select(F.col("EncounterDate").cast("date").alias("full_date")))
        .na.drop()
        .distinct()
    )
    dim = dense_sk(dates, ["full_date"], sk_col="date_sk", dedup=False)
    return (
        dim.withColumn("year", F.year("full_date"))
        .withColumn("month", F.month("full_date"))
        .withColumn("quarter", F.quarter("full_date"))
        .withColumn("day_of_week", day_name(F.col("full_date")))
    )


def build_fact_transactions(
    transactions: DataFrame,
    dim_patients: DataFrame,
    dim_providers: DataFrame,
    dim_procedures: DataFrame,
    dim_date: DataFrame,
) -> DataFrame:
    """dimensional_modeling.py:57-66: FK-resolution chain. All four dim
    lookups broadcast -> the fact never shuffles."""
    from healthcare_rcm_etl_pipeline_spark.plans.standardize import add_unified_patient_id

    trans = add_unified_patient_id(transactions)
    patients_lk = dim_patients.select("unified_patient_id", "patient_sk").dropDuplicates(
        ["unified_patient_id"]
    )
    providers_lk = dim_providers.select("ProviderID", "source_hospital", "provider_sk")
    procedures_lk = dim_procedures.select("ProcedureCode", "procedure_sk")
    date_lk = dim_date.select(F.col("full_date"), "date_sk")

    resolved = (
        trans.join(patients_lk, "unified_patient_id", "left")  # patient dim scales — AQE decides
        .join(F.broadcast(providers_lk), ["ProviderID", "source_hospital"], "left")
        .join(F.broadcast(procedures_lk), "ProcedureCode", "left")
        .join(
            F.broadcast(date_lk),
            F.col("ServiceDate").cast("date") == F.col("full_date"),
            "left",
        )
    )
    return resolved.select(
        "TransactionID",
        "EncounterID",
        "patient_sk",
        "provider_sk",
        "procedure_sk",
        "date_sk",
        "Amount",
        "PaidAmount",
        "source_hospital",
    )


def build_fact_claims(
    claims_enriched: DataFrame,
    fact_transactions: DataFrame,
    dim_date: DataFrame,
) -> DataFrame:
    """dimensional_modeling.py:68-75: claims resolve patient_sk THROUGH the
    transaction fact on (TransactionID, source_hospital), then date_sk."""
    trans_lk = fact_transactions.select("TransactionID", "patient_sk", "source_hospital")
    date_lk = dim_date.select("full_date", "date_sk")
    resolved = claims_enriched.join(
        trans_lk, ["TransactionID", "source_hospital"], "left"
    ).join(
        F.broadcast(date_lk),
        F.col("ServiceDate").cast("date") == F.col("full_date"),
        "left",
    )
    return resolved.select(
        "ClaimID",
        "TransactionID",
        "patient_sk",
        "date_sk",
        "ClaimAmount",
        "PaidAmount",
        "ClaimStatus",
        "PayorType",
        "Deductible",
        "Coinsurance",
        "Copay",
        "days_to_payment",
        "source_hospital",
    )


def validate_star(facts: dict[str, DataFrame], dims: dict[str, DataFrame]) -> list[quality.QualityReport]:
    """dimensional_modeling.py:80-100 as distributed checks. The reference's
    own golden run violates these (36/46 orphans, null provider_sk) — checks
    report, they don't fail the pipeline."""
    reports = []
    ft = facts.get("fact_transactions")
    dp = dims.get("dim_patients")
    if ft is not None and dp is not None:
        reports.append(
            quality.check("orphaned_fact_patients", quality.orphans(ft, dp, "patient_sk"))
        )
        reports.append(
            quality.check("non_positive_amounts", quality.rule_violations(ft, F.col("Amount") <= 0))
        )
    fc = facts.get("fact_claims")
    if fc is not None and dp is not None:
        reports.append(
            quality.check("orphaned_claim_patients", quality.orphans(fc, dp, "patient_sk"))
        )
    return reports
