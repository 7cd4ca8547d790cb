"""Scalar cleansing/enrichment functions (SURVEY.md §2i-§2k, F1-F8 D1-D7 M1-M4).

Every function here is a pure ``Column`` expression — JVM-side, inside
whole-stage codegen, zero Python UDFs. Pandas-parity null semantics from the
reference (fillna-before-compare, divide-by-zero→0) are encoded explicitly
with ``coalesce``/``nullif``.

Reference parity notes (file:line cites are into /root/reference):
- title_case        <- python/transform.py:22 (str.title)
- fill_unknown      <- python/transform.py:22,24,25
- recode_gender     <- python/transform.py:23-24 (M/F/O map after upper();
  the reference's data holds full words so everything lands on "Unknown" —
  replicated as-is)
- clean_phone       <- python/transform.py:25 (strip non-digits)
- unified_source_id <- python/extraction.py:96
- age_years         <- python/transform.py:27-30 (birthday-aware integer age,
  expressed with months_between instead of a row-level Python lambda)
- days_between      <- python/transform.py:41 (days_to_payment; negatives kept)
- safe_pct          <- python/transform.py:40 (x/y*100, /0 -> 0, round 2)

Determinism note: money aggregates everywhere in this engine sum through
DECIMAL (exact, order-insensitive) and cast the final value to DOUBLE, so
results are bit-identical regardless of partitioning/AQE — double summation
order would otherwise differ run-to-run at scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def title_case(col: ColumnOrName) -> Column:
    """Title-case a name column (F1)."""
    return F.initcap(_c(col))


def fill_unknown(col: ColumnOrName, fill: str = "Unknown") -> Column:
    """Null -> constant fill (F2)."""
    return F.coalesce(_c(col), F.lit(fill))


def recode_gender(col: ColumnOrName) -> Column:
    """Dictionary recode of gender (F4).

    Replicates the reference literally: upper() then map of single letters
    M/F/O only — full words become "Unknown" (the observed behavior in the
    reference's golden dim_patients output).
    """
    u = F.upper(F.trim(_c(col)))
    return (
        F.when(u == "M", "Male")
        .when(u == "F", "Female")
        .when(u == "O", "Other")
        .otherwise(F.lit("Unknown"))
    )


def clean_phone(col: ColumnOrName) -> Column:
    """Strip every non-digit from a phone string (F5/F7)."""
    return F.regexp_replace(_c(col).cast("string"), r"\D", "")


def unified_source_id(source_col: ColumnOrName, id_col: ColumnOrName) -> Column:
    """Conformed natural key: upper(source w/o 'hospital_') + '-' + id (K4)."""
    tag = F.upper(F.regexp_replace(_c(source_col), "hospital_", ""))
    return F.concat(tag, F.lit("-"), _c(id_col).cast("string"))


def age_years(dob: ColumnOrName, as_of: Column | None = None) -> Column:
    """Birthday-aware integer age in years (D2) — no Python UDF.

    floor(months_between/12) matches the reference's (month, day) tuple
    comparison exactly, including the birthday-today boundary.
    """
    as_of = as_of if as_of is not None else F.current_date()
    return F.floor(F.months_between(as_of, _c(dob)) / 12).cast("int")


def days_between(end: ColumnOrName, start: ColumnOrName) -> Column:
    """Whole-day difference, negatives preserved (D3)."""
    return F.datediff(_c(end), _c(start))


def safe_div(num: ColumnOrName, den: ColumnOrName) -> Column:
    """num/den with /0 and /null -> null (building block for M1)."""
    return _c(num) / F.nullif(_c(den).cast("double"), F.lit(0.0))


def safe_pct(num: ColumnOrName, den: ColumnOrName, scale: int = 2) -> Column:
    """Percentage with divide-by-zero -> 0.0, rounded (M1/M2)."""
    return F.coalesce(F.round(safe_div(num, den) * 100, scale), F.lit(0.0))


def money_sum(col: ColumnOrName, scale: int = 6) -> Column:
    """Order-insensitive exact SUM for money-ish doubles.

    Sums through DECIMAL(18, scale) (exact, associative) then casts back to
    DOUBLE — deterministic under any partitioning, and reproducible against
    an external SQL oracle doing the same.
    """
    return F.sum(_c(col).cast(f"decimal(18,{scale})")).cast("double")


def day_name(col: ColumnOrName) -> Column:
    """Full day-of-week name (D5)."""
    return F.date_format(_c(col), "EEEE")
