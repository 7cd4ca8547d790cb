"""Explicit StructTypes for every source table (SURVEY.md §1, FIXTURES.md §A).

The reference infers CSV types with pandas (/root/reference/python/
extraction.py:45) and only declares schemas at the BigQuery sink
(/root/reference/python/load.py:31-75). This engine declares schemas at the
SOURCE — explicit schemas skip Spark's inference pass (one fewer full read)
and pin types at 100 TB where inference is both slow and unstable.

Money is DoubleType for reference parity (the reference has no decimals —
SURVEY.md §1 type table); dates parse via a post-read cast so unparseable
strings coerce to null like ``pd.to_datetime(errors='coerce')``.
"""

from __future__ import annotations

from pyspark.sql import types as T


def _s(*names: str) -> list[T.StructField]:
    return [T.StructField(n, T.StringType()) for n in names]


PATIENTS_A = T.StructType(
    _s("PatientID", "FirstName", "LastName", "MiddleName", "SSN", "PhoneNumber", "Gender")
    + [T.StructField("DOB", T.DateType())]
    + _s("Address")
    + [T.StructField("ModifiedDate", T.DateType())]
)

# hospital B drift: renamed id/name cols + Updated_Date instead of ModifiedDate
# (SQL/hospital_dbs/hospital2_db/ddl.sql:28-40 + the CSV's real header)
PATIENTS_B = T.StructType(
    _s("ID", "F_Name", "L_Name", "M_Name", "SSN", "PhoneNumber", "Gender")
    + [T.StructField("DOB", T.DateType())]
    + _s("Address")
    + [T.StructField("Updated_Date", T.DateType())]
)

PROVIDERS = T.StructType(
    _s("ProviderID", "FirstName", "LastName", "Specialization", "DeptID")
    + [T.StructField("NPI", T.LongType())]
)

DEPARTMENTS = T.StructType(_s("DeptID", "Name"))

ENCOUNTERS = T.StructType(
    _s("EncounterID", "PatientID")
    + [T.StructField("EncounterDate", T.DateType())]
    + _s("EncounterType", "ProviderID", "DepartmentID")
    + [
        T.StructField("ProcedureCode", T.IntegerType()),
        T.StructField("InsertedDate", T.DateType()),
        T.StructField("ModifiedDate", T.DateType()),
    ]
)

TRANSACTIONS = T.StructType(
    _s("TransactionID", "EncounterID", "PatientID", "ProviderID", "DeptID")
    + [
        T.StructField("VisitDate", T.DateType()),
        T.StructField("ServiceDate", T.DateType()),
        T.StructField("PaidDate", T.DateType()),
    ]
    + _s("VisitType")
    + [T.StructField("Amount", T.DoubleType())]
    + _s("AmountType")
    + [T.StructField("PaidAmount", T.DoubleType())]
    + _s("ClaimID", "PayorID")
    + [T.StructField("ProcedureCode", T.IntegerType())]
    + _s("ICDCode", "LineOfBusiness", "MedicaidID", "MedicareID")
    + [
        T.StructField("InsertDate", T.DateType()),
        T.StructField("ModifiedDate", T.DateType()),
    ]
)

CLAIMS = T.StructType(
    _s("ClaimID", "TransactionID", "PatientID", "EncounterID", "ProviderID", "DeptID")
    + [
        T.StructField("ServiceDate", T.DateType()),
        T.StructField("ClaimDate", T.DateType()),
    ]
    + _s("PayorID")
    + [
        T.StructField("ClaimAmount", T.DoubleType()),
        T.StructField("PaidAmount", T.DoubleType()),
    ]
    + _s("ClaimStatus", "PayorType")
    + [
        T.StructField("Deductible", T.DoubleType()),
        T.StructField("Coinsurance", T.DoubleType()),
        T.StructField("Copay", T.DoubleType()),
        T.StructField("InsertDate", T.DateType()),
        T.StructField("ModifiedDate", T.DateType()),
    ]
)

HOSPITAL_TABLE_SCHEMAS: dict[str, T.StructType] = {
    "patients_a": PATIENTS_A,
    "patients_b": PATIENTS_B,
    "providers": PROVIDERS,
    "departments": DEPARTMENTS,
    "encounters": ENCOUNTERS,
    "transactions": TRANSACTIONS,
    "claims": CLAIMS,
}
