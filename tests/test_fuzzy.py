"""edit-distance-1 fuzzy join (deletion-neighborhood blocking) and
quality-aware dedup survivor selection."""

from __future__ import annotations

from pyspark.sql import functions as F

from healthcare_rcm_etl_pipeline_spark.operators import dedup, fuzzy


def _keys(spark, rows):
    return spark.createDataFrame(rows, "id long, key string")


class TestEdit1Pairs:
    def test_substitution_insertion_deletion_found(self, spark):
        df = _keys(
            spark,
            [
                (1, "abcdef"),
                (2, "abcxef"),   # substitution
                (3, "abcdefg"),  # insertion
                (4, "abcde"),    # deletion
                (5, "zzzzzz"),   # unrelated
            ],
        )
        got = {
            (r["id_a"], r["id_b"]): r["lev"]
            for r in fuzzy.edit1_pairs(df, "key", "id").collect()
        }
        assert got[(1, 2)] == 1 and got[(1, 3)] == 1 and got[(1, 4)] == 1
        assert all(5 not in p for p in got)

    def test_distance2_candidates_verified_away(self, spark):
        # "ab" and "ba" share deletion variant "a" (and "b") but lev = 2
        df = _keys(spark, [(1, "ab"), (2, "ba")])
        assert fuzzy.edit1_pairs(df, "key", "id").count() == 0

    def test_exact_duplicates_reported_at_lev0(self, spark):
        df = _keys(spark, [(1, "same"), (2, "same")])
        got = fuzzy.edit1_pairs(df, "key", "id").collect()
        assert [(r["id_a"], r["id_b"], r["lev"]) for r in got] == [(1, 2, 0)]

    def test_pairs_deduped_across_shared_variants(self, spark):
        # identical strings share EVERY variant — still exactly one pair row
        df = _keys(spark, [(1, "aaaa"), (2, "aaaa")])
        assert fuzzy.edit1_pairs(df, "key", "id").count() == 1

    def test_max_bucket_caps_hot_variant(self, spark):
        rows = [(i, f"k{i}x") for i in range(30)]  # all share variant "kx"?
        # construct a genuinely hot variant: 30 keys "hotN" all length 4
        rows = [(i, "hot" + str(i % 10)) for i in range(30)]
        df = _keys(spark, rows)
        capped = fuzzy.edit1_pairs(df, "key", "id", max_bucket=2).count()
        uncapped = fuzzy.edit1_pairs(df, "key", "id").count()
        assert capped < uncapped


class TestBestSurvivors:
    def test_longest_member_kept_ties_to_lower_id(self, spark, both_rounds):
        docs = spark.createDataFrame(
            [(1, 5), (2, 9), (3, 9), (4, 7)], "doc_id long, n_chars long"
        )
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3)], "doc_a long, doc_b long"
        )
        got = both_rounds(lambda: sorted(
            r["doc_id"]
            for r in dedup.best_survivors(docs, pairs, "doc_id", "n_chars").collect()
        ))
        # cluster {1,2,3}: max n_chars 9 tie between 2 and 3 -> keep 2;
        # unpaired doc 4 always survives
        assert got == [2, 4]

    def test_min_id_convention_differs_when_best_is_not_min(self, spark, both_rounds):
        from healthcare_rcm_etl_pipeline_spark.operators import graph

        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        pairs = dedup.ngram_jaccard_pairs(
            d, "text", "doc_id", n=3, threshold=0.5, max_df=20
        )

        def run():
            best = {
                r["doc_id"]
                for r in dedup.best_survivors(d, pairs, "doc_id", "n_chars").collect()
            }
            clusters = graph.connected_components(pairs)
            losers = clusters.filter(F.col("doc") != F.col("component")).count()
            return best, losers

        best, losers_minid = both_rounds(run)
        # same cardinality as the min-id policy (one survivor per cluster),
        # whatever the picks
        assert len(best) == d.count() - losers_minid


class TestAgreementBlocking:
    def test_agree_cols_required_to_pair(self, spark):
        df = spark.createDataFrame(
            [
                (1, "abcdef", 10, "A"),
                (2, "abcxef", 10, "A"),  # name-close AND agrees -> pair
                (3, "abcdeg", 10, "B"),  # name-close, segment differs -> no
                (4, "abcdez", 99, "A"),  # name-close, nation differs -> no
            ],
            "id long, key string, nation int, seg string",
        )
        got = fuzzy.edit1_pairs(df, "key", "id", agree_cols=["nation", "seg"])
        assert [(r["id_a"], r["id_b"]) for r in got.collect()] == [(1, 2)]

    def test_null_agreement_never_matches(self, spark):
        df = spark.createDataFrame(
            [(1, "abcdef", None), (2, "abcxef", None)],
            "id long, key string, nation string",
        )
        assert fuzzy.edit1_pairs(df, "key", "id", agree_cols=["nation"]).count() == 0

    def test_agreement_is_subset_of_plain_pairs(self, spark):
        df = spark.createDataFrame(
            [(i, "key" + str(i % 7), i % 3) for i in range(40)],
            "id long, key string, grp int",
        )
        plain = {
            (r["id_a"], r["id_b"])
            for r in fuzzy.edit1_pairs(df, "key", "id").collect()
        }
        blocked = {
            (r["id_a"], r["id_b"])
            for r in fuzzy.edit1_pairs(df, "key", "id", agree_cols=["grp"]).collect()
        }
        assert blocked <= plain
        grp = {r["id"]: r["grp"] for r in df.collect()}
        assert blocked == {p for p in plain if grp[p[0]] == grp[p[1]]}


class TestResolveEntities:
    def _df(self, spark):
        return spark.createDataFrame(
            [
                # entity {1,2,3}: chain 1-2, 2-3
                (1, "acme corp", "north", 50.0),
                (2, "acme çorp", "north", 75.0),
                (3, "acme çorpx", "north", 60.0),
                # singleton
                (9, "zzz", "south", 10.0),
            ],
            "id long, name string, region string, bal double",
        )

    def test_golden_records(self, spark, both_rounds):
        df = self._df(spark)
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3)], "id_a long, id_b long"
        )
        got = both_rounds(lambda: {
            r["entity_id"]: r
            for r in fuzzy.resolve_entities(
                df, pairs, "id", {"name": "anchor", "region": "anchor", "bal": "max"}
            ).collect()
        })
        assert set(got) == {1, 9}
        assert got[1]["n_members"] == 3
        assert got[1]["name"] == "acme corp"  # anchor = min-id member
        assert got[1]["bal"] == 75.0          # max survivorship
        assert got[9]["n_members"] == 1 and got[9]["bal"] == 10.0

    def test_covers_every_row_once(self, spark, both_rounds):
        df = self._df(spark)
        pairs = spark.createDataFrame([(1, 3)], "id_a long, id_b long")
        n = both_rounds(
            lambda: fuzzy.resolve_entities(df, pairs, "id", {"bal": "min"})
            .agg(F.sum("n_members"))
            .first()[0]
        )
        assert n == df.count()

    def test_unknown_policy_raises(self, spark):
        df = self._df(spark)
        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        try:
            fuzzy.resolve_entities(df, pairs, "id", {"bal": "mode"})
        except ValueError as e:
            assert "mode" in str(e)
        else:
            raise AssertionError("expected ValueError")
