"""End-to-end pipeline test on the hospital source tree (SURVEY.md §5
items 2-3): run extract -> transform -> model -> SCD2 and assert schema
parity with the reference's golden staging output plus the observed data
invariants (orphan counts, provider_sk mismatch, gender collapse).

The tree is the ``hospital_sources`` fixture's: the reference repo's own
seed data where it is present, else ``rcmbench.gen.HospitalSources(seed=17)``
at the reference's scale, which keeps the FIXTURES.md section A properties.
The real seed's exact counts (BASELINE.md) apply to the real seed only; on
a generated tree the expected counts come from the generator's own rows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from healthcare_rcm_etl_pipeline_spark.operators import quality
from healthcare_rcm_etl_pipeline_spark.plans.pipeline import run_pipeline
from rcmbench.gen import CLAIM_COLS, ENCOUNTER_COLS, PATIENT_COLS_A, TRANSACTION_COLS

GOLDEN_SCHEMAS = {
    # column sets of /root/reference/Analysis/staging/*.parquet (SURVEY §5)
    "dim_patients": {
        "patient_sk", "unified_patient_id", "FirstName", "LastName", "Gender",
        "age", "Address", "source_hospital", "version", "effective_date",
        "expiry_date", "is_current",
    },
    "dim_providers": {
        "provider_sk", "ProviderID", "FirstName", "LastName", "Specialization",
        "DepartmentName", "NPI", "source_hospital",
    },
    "dim_procedures": {"procedure_sk", "ProcedureCode", "ProcedureDescription"},
    "dim_date": {"date_sk", "full_date", "year", "month", "quarter", "day_of_week"},
    "fact_transactions": {
        "TransactionID", "EncounterID", "patient_sk", "provider_sk",
        "procedure_sk", "date_sk", "Amount", "PaidAmount",
    },
    "fact_claims": {
        "ClaimID", "TransactionID", "patient_sk", "date_sk", "ClaimAmount",
        "PaidAmount", "ClaimStatus", "PayorType", "Deductible", "Coinsurance",
        "Copay", "days_to_payment",
    },
}


@pytest.fixture(scope="module")
def star(spark, hospital_sources):
    """The first night's star on the ``hospital_sources`` tree (read through
    ``run_pipeline``'s default lookup)."""
    return run_pipeline(spark, run_date="2025-08-03")


def _generated_counts(gen) -> dict[str, int]:
    """The first night's star row counts on a generated tree, from the
    generator's rows: ``dim_procedures`` holds the distinct transaction
    ProcedureCodes and ``dim_date`` the distinct ServiceDate and
    EncounterDate values (``model.build_dim_procedures``/``build_dim_date``)."""
    hs = gen.hosp.values()
    code = TRANSACTION_COLS.index("ProcedureCode")
    svc = TRANSACTION_COLS.index("ServiceDate")
    enc = ENCOUNTER_COLS.index("EncounterDate")
    exp = gen.expected()
    return {
        "fact_transactions": exp["fact_transactions"],
        "fact_claims": exp["fact_claims"],
        "dim_providers": exp["dim_providers"],
        "dim_patients": exp["current_patients"],
        "dim_procedures": len({t[code] for h in hs for t in h.transactions}),
        "dim_date": len(
            {t[svc] for h in hs for t in h.transactions}
            | {e[enc] for h in hs for e in h.encounters}
        ),
        "dim_departments": exp["dim_departments"],
    }


def test_schema_parity_with_golden(star):
    for name, expected in GOLDEN_SCHEMAS.items():
        got = set(star[name].columns)
        # source_hospital is an intentional extra on facts (provenance)
        missing = expected - got
        assert not missing, f"{name} missing columns: {missing}"


def test_row_counts_match_reference_scale(star, hospital_sources):
    _, gen = hospital_sources
    if gen is not None:
        for name, n in _generated_counts(gen).items():
            assert star[name].count() == n, name
        return
    # reference golden run (BASELINE.md): dim_patients 9,985 / dim_providers
    # 55 / dim_procedures 996 / dim_date 1,772 / facts 20,000 each
    assert star["fact_transactions"].count() == 20000
    assert star["fact_claims"].count() == 20000
    assert star["dim_providers"].count() == 55
    # seed CSVs hold 10,000 unique patient ids; the golden's 9,985 reflects
    # the reference's MySQL instance (15 dup ids there), not these files —
    # key-dedup before SCD2 is applied either way
    assert star["dim_patients"].count() == 10000
    assert star["dim_procedures"].count() == 996
    assert star["dim_date"].count() == 1772
    assert star["dim_departments"].count() == 40  # gap-fix dim (20 + 20)


def test_gender_collapse_parity(star):
    # reference quirk F4: full-word genders + letters-only map -> all Unknown
    vals = {r[0] for r in star["dim_patients"].select("Gender").distinct().collect()}
    assert vals == {"Unknown"}


def test_provider_sk_all_null_parity(star):
    # §2m: transactions carry PROV####-style ids, providers dim holds
    # H1-PROV####-style -> the FK join never matches (real data property)
    n_with_sk = star["fact_transactions"].filter(F.col("provider_sk").isNotNull()).count()
    assert n_with_sk == 0


def test_orphan_counts(star, hospital_sources):
    _, gen = hospital_sources
    orphans_t = quality.orphans(
        star["fact_transactions"], star["dim_patients"], "patient_sk"
    ).count()
    orphans_c = quality.orphans(
        star["fact_claims"], star["dim_patients"], "patient_sk"
    ).count()
    if gen is not None:
        # the generator plants transactions on patients no dim row holds;
        # a claim takes its patient_sk through its transaction
        # (model.build_fact_claims), so it is an orphan where its PatientID
        # is none of its hospital's patients
        pid, cid = PATIENT_COLS_A.index("PatientID"), CLAIM_COLS.index("PatientID")
        orphan_claims = 0
        for h in gen.hosp.values():
            known = {p[pid] for p in h.patients}
            orphan_claims += sum(c[cid] not in known for c in h.claims)
        assert orphans_t == gen.expected()["orphan_transactions"]
        assert orphans_c == orphan_claims
        return
    # The golden run reports 36/46 orphans (README.md:177), but those came
    # from the reference's MySQL instance; on the repo's seed CSVs every
    # transaction PatientID resolves, so the deterministic expectation here
    # is 0/0. The null-FK-counts-as-orphan semantics itself is unit-tested
    # in test_quality_orphans_nulls.
    assert orphans_t == 0
    assert orphans_c == 0


def test_quality_orphans_nulls(spark):
    # NULL FK counts as orphan (reference ~isin semantics, §2m)
    fact = spark.createDataFrame(
        [(1, 10), (2, None), (3, 99)], "id int, patient_sk int"
    )
    dim = spark.createDataFrame([(10,)], "patient_sk int")
    got = sorted(r["id"] for r in quality.orphans(fact, dim, "patient_sk").collect())
    assert got == [2, 3]


def test_scd_first_run_stamping(star):
    dp = star["dim_patients"]
    assert dp.filter(~F.col("is_current")).count() == 0
    assert {r[0] for r in dp.select("version").distinct().collect()} == {1}
