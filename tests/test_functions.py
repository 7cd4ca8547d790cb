"""Unit tests for the scalar-function layer (SURVEY.md §2i-§2k) on tiny
literal DataFrames — one per inventory row where semantics are subtle."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from healthcare_rcm_etl_pipeline_spark.functions import cleanse, text, vector


def test_title_case_and_fill(spark):
    df = spark.createDataFrame([("jOHN",), (None,)], ["name"])
    out = [r[0] for r in df.select(cleanse.fill_unknown(cleanse.title_case("name"))).collect()]
    assert out == ["John", "Unknown"]


def test_recode_gender_strict_vs_tolerant(spark):
    df = spark.createDataFrame([("M",), ("f",), ("Male",), ("x",), (None,)], ["g"])
    strict = [r[0] for r in df.select(cleanse.recode_gender("g")).collect()]
    # reference parity: full words collapse to Unknown (transform.py:23-24)
    assert strict == ["Male", "Female", "Unknown", "Unknown", "Unknown"]


def test_clean_phone(spark):
    df = spark.createDataFrame([("+1-630-829-7585x0769",), ("4902994299",)], ["p"])
    out = [r[0] for r in df.select(cleanse.clean_phone("p")).collect()]
    assert out == ["16308297585" + "0769", "4902994299"]


def test_unified_source_id(spark):
    df = spark.createDataFrame([("hospital_a", "P1")], ["src", "pid"])
    out = df.select(cleanse.unified_source_id("src", "pid")).collect()[0][0]
    assert out == "A-P1"


def test_age_years_birthday_boundary(spark):
    # as_of 2024-06-15; born 2000-06-15 -> 24 (birthday today counts);
    # born 2000-06-16 -> 23 (birthday tomorrow)
    df = spark.createDataFrame(
        [(datetime.date(2000, 6, 15),), (datetime.date(2000, 6, 16),), (None,)], ["dob"]
    )
    out = [
        r[0]
        for r in df.select(
            cleanse.age_years("dob", F.to_date(F.lit("2024-06-15")))
        ).collect()
    ]
    assert out == [24, 23, None]


def test_days_between_negative(spark):
    df = spark.createDataFrame(
        [(datetime.date(2024, 1, 1), datetime.date(2024, 1, 11))], ["mod", "svc"]
    )
    assert df.select(cleanse.days_between("mod", "svc")).collect()[0][0] == -10


def test_safe_pct_divide_by_zero(spark):
    df = spark.createDataFrame([(50.0, 200.0), (10.0, 0.0), (10.0, None)], ["n", "d"])
    out = [r[0] for r in df.select(cleanse.safe_pct("n", "d")).collect()]
    assert out == [25.0, 0.0, 0.0]


def test_money_sum_is_exact(spark):
    # classic float trap: 0.1+0.2 != 0.3 in double; decimal path is exact
    df = spark.createDataFrame([(0.1,), (0.2,)], ["x"])
    assert df.agg(cleanse.money_sum("x")).collect()[0][0] == 0.3


def test_tokens_and_shingles(spark):
    df = spark.createDataFrame([("  The  quick brown fox  ",)], ["t"])
    toks = df.select(text.tokens("t")).collect()[0][0]
    assert toks == ["the", "quick", "brown", "fox"]
    sh = df.select(text.shingles_from_tokens(text.tokens("t"), 3)).collect()[0][0]
    assert sorted(sh) == ["quick brown fox", "the quick brown"]
    assert df.select(text.shingles_from_tokens(text.tokens("t"), 5)).collect()[0][0] == []


def test_langid_markers(spark):
    df = spark.createDataFrame(
        [("the cat and the dog",), ("le chat et la mer les amis",), ("xyz qqq",)], ["t"]
    )
    out = [r[0] for r in df.select(text.langid("t")).collect()]
    assert out == ["en", "fr", "und"]


def test_vector_cosine(spark):
    df = spark.createDataFrame([([1.0, 0.0], [0.0, 1.0]), ([1.0, 2.0], [1.0, 2.0])], ["a", "b"])
    out = [round(r[0], 9) for r in df.select(vector.cosine("a", "b")).collect()]
    assert out == [0.0, 1.0]
    zero = spark.createDataFrame([([0.0, 0.0], [1.0, 1.0])], ["a", "b"])
    assert zero.select(vector.cosine("a", "b")).collect()[0][0] is None


def test_winnow_fingerprints_vs_python_reference(spark):
    import hashlib

    def ref_winnow(s, k=8, w=4):
        t = " ".join(s.lower().split())
        hs = [
            int(hashlib.md5(t[i : i + k].encode()).hexdigest()[:15], 16)
            for i in range(len(t) - k + 1)
        ]
        if not hs:
            return []
        if len(hs) < w:
            return sorted({min(hs)})
        return sorted({min(hs[j : j + w]) for j in range(len(hs) - w + 1)})

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "THE   quick brown fox jumps over the lazy dog"),  # same canon as 1
        (3, "tiny"),        # shorter than k -> empty
        (4, "exactly8!"),   # 9 chars -> 2 grams < w -> single global min
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, t string")
    from pyspark.sql import functions as F

    got = {
        r["doc_id"]: sorted(r["fps"])
        for r in df.select(
            "doc_id", text.kgram_hashes("t").alias("__g")
        ).select("doc_id", text.winnow_minima(F.col("__g")).alias("fps")).collect()
    }
    for doc_id, s in rows:
        assert got[doc_id] == ref_winnow(s), f"doc {doc_id}"
    assert got[1] == got[2] and got[3] == [] and len(got[4]) == 1


def test_profile_table_nulls_and_types(spark):
    from healthcare_rcm_etl_pipeline_spark.operators.quality import profile_table

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, 2.5), (2, "b", None), (None, "b", 4.5)],
        "k int, s string, x double",
    )
    p = {r["column"]: r for r in profile_table(df).collect()}
    assert p["k"]["n_rows"] == 4 and p["k"]["n_nulls"] == 1 and p["k"]["n_distinct"] == 2
    assert p["k"]["min_num"] == 1.0 and p["k"]["max_num"] == 2.0 and p["k"]["min_str"] is None
    assert p["s"]["n_nulls"] == 1 and p["s"]["n_distinct"] == 2
    assert p["s"]["min_str"] == "a" and p["s"]["max_str"] == "b" and p["s"]["max_num"] is None
    assert p["x"]["n_nulls"] == 1 and p["x"]["min_num"] == 1.5 and p["x"]["max_num"] == 4.5


def test_cms_heavy_hitters_skewed(spark):
    from healthcare_rcm_etl_pipeline_spark.operators.sketches import cms_heavy_hitters
    from pyspark.sql import functions as F

    # zipf-ish: key 0 dominates, long tail of singletons
    df = spark.range(2000).select(
        F.when(F.col("id") < 1000, F.lit(0)).otherwise(F.col("id")).alias("k")
    )
    out = cms_heavy_hitters(df, "k", k=5, eps=0.01)
    rows = out.collect()
    assert rows[0]["key"] == "0" and rows[0]["exact_n"] == 1000
    assert all(r["cms_within_bound"] for r in rows)


def test_redact_pii(spark):
    rows = [
        (1, "contact john.doe+x@example.co.uk or call +1 (555) 123-4567 now"),
        (2, "ssn 123-45-6789 inline"),
        (3, "no pii here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, t string")
    got = {r["doc_id"]: r["red"] for r in df.select("doc_id", text.redact_pii("t").alias("red")).collect()}
    assert got[1] == "contact [EMAIL] or call [PHONE] now"
    assert got[2] == "ssn [SSN] inline"
    assert got[3] == "no pii here at all"
