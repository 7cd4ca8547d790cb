"""distribution_drift: PSI + binned KS between two slices (operators.quality).

Pinned against a plain-Python reference implementation of the exact same
contract (reference-defined fixed-width bins, clamping, Laplace smoothing),
plus behavioral properties: zero drift on identical slices, shift
sensitivity, out-of-range clamping, degenerate constant reference."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from healthcare_rcm_etl_pipeline_spark.operators import quality


def _py_drift(ref_vals, cur_vals, n_bins=10):
    mn, mx = min(ref_vals), max(ref_vals)

    def binify(v):
        if mx == mn:
            return 0
        return int(min(max(math.floor(((v - mn) * float(n_bins)) / (mx - mn)), 0), n_bins - 1))

    rc = [0] * n_bins
    cc = [0] * n_bins
    for v in ref_vals:
        rc[binify(v)] += 1
    for v in cur_vals:
        cc[binify(v)] += 1
    rt, ct = sum(rc), sum(cc)
    half = n_bins / 2.0
    psi = sum(
        ((c + 0.5) / (ct + half) - (r + 0.5) / (rt + half))
        * math.log(((c + 0.5) / (ct + half)) / ((r + 0.5) / (rt + half)))
        for r, c in zip(rc, cc)
    )
    crc = ccc = 0
    ks = 0.0
    for r, c in zip(rc, cc):
        crc += r
        ccc += c
        ks = max(ks, abs(crc / rt - ccc / ct))
    return round(psi, 6), round(ks, 6), rt, ct


def _vals(spark, vals, grp="g"):
    return spark.createDataFrame([(grp, float(v)) for v in vals], "grp string, v double")


class TestDistributionDrift:
    def test_matches_python_reference(self, spark):
        ref = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0, 2.5, 3.5]
        cur = [5.0, 6.0, 7.0, 8.0, 9.0, 10.0, 11.0, 12.0, 6.5]
        row = quality.distribution_drift(
            _vals(spark, ref), _vals(spark, cur), "v", ["grp"]
        ).first()
        psi, ks, rt, ct = _py_drift(ref, cur)
        assert row["psi"] == psi
        assert row["ks"] == ks
        assert (row["n_ref"], row["n_cur"]) == (rt, ct)

    def test_identical_slices_zero_drift(self, spark):
        vals = [float(i) for i in range(50)]
        row = quality.distribution_drift(
            _vals(spark, vals), _vals(spark, vals), "v", ["grp"]
        ).first()
        assert row["psi"] == 0.0 and row["ks"] == 0.0

    def test_shift_increases_psi(self, spark):
        ref = [float(i) for i in range(100)]
        small = [v + 5.0 for v in ref]
        big = [v + 60.0 for v in ref]
        d_small = quality.distribution_drift(
            _vals(spark, ref), _vals(spark, small), "v", ["grp"]
        ).first()["psi"]
        d_big = quality.distribution_drift(
            _vals(spark, ref), _vals(spark, big), "v", ["grp"]
        ).first()["psi"]
        assert 0 < d_small < d_big

    def test_out_of_range_mass_clamps_into_edge_bins(self, spark):
        ref = [float(i) for i in range(10)]
        cur = [-100.0, 1000.0]  # entirely outside the reference ruler
        row = quality.distribution_drift(
            _vals(spark, ref), _vals(spark, cur), "v", ["grp"]
        ).first()
        psi, ks, rt, ct = _py_drift(ref, cur)
        assert row["psi"] == psi and row["n_cur"] == 2

    def test_constant_reference_degenerates_to_one_bin(self, spark):
        # all mass lands in bin 0 on both sides; the CDFs agree exactly
        # (ks = 0) while PSI picks up only the smoothing-vs-total residue
        # (different n -> slightly different smoothed proportions), which
        # the Python reference reproduces exactly
        ref = [3.0] * 8
        cur = [3.0] * 5
        row = quality.distribution_drift(
            _vals(spark, ref), _vals(spark, cur), "v", ["grp"]
        ).first()
        psi, ks, _, _ = _py_drift(ref, cur)
        assert row["psi"] == psi and psi < 0.05
        assert row["ks"] == 0.0 == ks

    def test_per_group_independence(self, spark):
        ref = _vals(spark, [1.0, 2.0, 3.0], "a").union(
            _vals(spark, [10.0, 20.0, 30.0], "b")
        )
        cur = _vals(spark, [1.0, 2.0, 3.0], "a").union(
            _vals(spark, [25.0, 28.0, 30.0], "b")
        )
        rows = {
            r["grp"]: r
            for r in quality.distribution_drift(ref, cur, "v", ["grp"]).collect()
        }
        assert rows["a"]["psi"] == 0.0
        assert rows["b"]["psi"] > 0.0

    def test_nulls_excluded_both_sides(self, spark):
        ref = spark.createDataFrame(
            [("g", 1.0), ("g", None), ("g", 2.0)], "grp string, v double"
        )
        cur = spark.createDataFrame(
            [("g", 1.5), ("g", None)], "grp string, v double"
        )
        row = quality.distribution_drift(ref, cur, "v", ["grp"]).first()
        assert (row["n_ref"], row["n_cur"]) == (2, 1)

    def test_one_sided_group_reports_null_sentinel(self, spark):
        # a group present in only one slice (novel or vanished population)
        # must NOT read as "low drift" through the smoothing-only
        # pseudo-PSI: psi and ks are NULL (the "not comparable" sentinel)
        # and n_ref/n_cur show which side is empty
        ref = _vals(spark, [1.0, 2.0, 3.0], "old").union(
            _vals(spark, [1.0, 2.0], "both")
        )
        cur = _vals(spark, [5.0, 6.0], "new").union(
            _vals(spark, [1.0, 2.0], "both")
        )
        rows = {
            r["grp"]: r
            for r in quality.distribution_drift(ref, cur, "v", ["grp"]).collect()
        }
        assert set(rows) == {"old", "both", "new"}
        assert rows["old"]["psi"] is None and rows["old"]["ks"] is None
        assert (rows["old"]["n_ref"], rows["old"]["n_cur"]) == (3, 0)
        assert rows["new"]["psi"] is None and rows["new"]["ks"] is None
        assert (rows["new"]["n_ref"], rows["new"]["n_cur"]) == (0, 2)
        assert rows["both"]["psi"] is not None and rows["both"]["psi"] == 0.0

    def test_ungrouped_global_drift(self, spark):
        ref = _vals(spark, [1.0, 2.0, 3.0, 4.0])
        cur = _vals(spark, [1.0, 2.0, 3.0, 4.0])
        out = quality.distribution_drift(ref, cur, "v")
        row = out.first()
        assert out.columns == ["psi", "ks", "n_ref", "n_cur"]
        assert row["psi"] == 0.0 and row["n_ref"] == 4


class TestEmbeddingCentroidDrift:
    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "label int, embedding array<double>")

    def test_identical_snapshots_cos_one(self, spark):
        rows = [(0, [1.0, 0.0, 0.0]), (0, [0.0, 1.0, 0.0]), (1, [0.5, 0.5, 0.0])]
        out = quality.embedding_centroid_drift(
            self._df(spark, rows), self._df(spark, rows), "embedding", "label"
        ).collect()
        assert {r["label"]: r["centroid_cos"] for r in out} == {0: 1.0, 1: 1.0}

    def test_orthogonal_rotation_detected(self, spark):
        ref = self._df(spark, [(0, [1.0, 0.0]), (0, [1.0, 0.0])])
        cur = self._df(spark, [(0, [0.0, 1.0])])
        row = quality.embedding_centroid_drift(ref, cur, "embedding", "label").first()
        assert row["centroid_cos"] == 0.0
        assert (row["n_ref"], row["n_cur"]) == (2, 1)

    def test_known_angle(self, spark):
        # ref centroid (1, 0); cur centroid (1, 1)/|..| -> cos = 1/sqrt(2)
        ref = self._df(spark, [(7, [2.0, 0.0])])
        cur = self._df(spark, [(7, [0.0, 2.0]), (7, [2.0, 0.0])])
        row = quality.embedding_centroid_drift(ref, cur, "embedding", "label").first()
        assert abs(row["centroid_cos"] - round(1 / math.sqrt(2), 6)) < 1e-9

    def test_one_sided_group_excluded(self, spark):
        ref = self._df(spark, [(0, [1.0, 0.0]), (1, [1.0, 0.0])])
        cur = self._df(spark, [(0, [1.0, 0.0])])
        out = quality.embedding_centroid_drift(ref, cur, "embedding", "label").collect()
        assert [r["label"] for r in out] == [0]

    def test_partitioning_invariant(self, spark):
        import random

        rnd = random.Random(7)
        rows = [
            (i % 3, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(60)
        ]
        a = quality.embedding_centroid_drift(
            self._df(spark, rows).repartition(1),
            self._df(spark, rows[::-1]).repartition(1),
            "embedding",
            "label",
        ).collect()
        b = quality.embedding_centroid_drift(
            self._df(spark, rows).repartition(13),
            self._df(spark, rows[::-1]).repartition(7),
            "embedding",
            "label",
        ).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        assert all(r["centroid_cos"] == 1.0 for r in a)  # same multiset both sides


def _tvals(spark, vals, grp="g", ts="2024-01-01 00:10:00"):
    return spark.createDataFrame(
        [(grp, ts, float(v)) for v in vals],
        "grp string, ts string, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


class TestWindowedDistributionDrift:
    """windowed_distribution_drift: per-window PSI/KS of the current stream
    against a PINNED static reference — the monitoring twin of
    distribution_drift, single-aggregation (streaming-legal) shape."""

    def test_single_window_matches_distribution_drift(self, spark):
        ref = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0, 2.5, 3.5]
        cur = [5.0, 6.0, 7.0, 8.0, 9.0, 10.0, 11.0, 12.0, 6.5]
        row = quality.windowed_distribution_drift(
            _tvals(spark, ref), _tvals(spark, cur), "v", "ts", "1 hour", ["grp"]
        ).first()
        base = quality.distribution_drift(
            _vals(spark, ref), _vals(spark, cur), "v", ["grp"]
        ).first()
        assert (row["psi"], row["ks"]) == (base["psi"], base["ks"])
        assert (row["n_ref"], row["n_cur"]) == (base["n_ref"], base["n_cur"])
        assert str(row["window_start"]) == "2024-01-01 00:00:00"

    def test_per_window_independence(self, spark):
        ref = _tvals(spark, [float(i) for i in range(100)])
        calm = _tvals(spark, [float(i) for i in range(100)], ts="2024-01-01 01:10:00")
        shifted = _tvals(
            spark,
            [float(i) + 60.0 for i in range(100)],
            ts="2024-01-01 02:10:00",
        )
        out = quality.windowed_distribution_drift(
            ref, calm.union(shifted), "v", "ts", "1 hour", ["grp"]
        ).collect()
        by_w = {str(r["window_start"]): r for r in out}
        assert by_w["2024-01-01 01:00:00"]["psi"] == 0.0
        assert by_w["2024-01-01 02:00:00"]["psi"] > 1.0

    def test_novel_group_null_sentinel(self, spark):
        ref = _tvals(spark, [1.0, 2.0, 3.0], grp="known")
        cur = _tvals(spark, [1.0, 2.0, 3.0], grp="known").union(
            _tvals(spark, [9.0], grp="novel")
        )
        rows = {
            r["grp"]: r
            for r in quality.windowed_distribution_drift(
                ref, cur, "v", "ts", "1 hour", ["grp"]
            ).collect()
        }
        assert rows["novel"]["psi"] is None and rows["novel"]["ks"] is None
        assert rows["novel"]["n_ref"] is None and rows["novel"]["n_cur"] == 1
        assert rows["known"]["psi"] == 0.0

    def test_ungrouped_global(self, spark):
        ref = _tvals(spark, [1.0, 2.0, 3.0, 4.0])
        cur = _tvals(spark, [1.0, 2.0, 3.0, 4.0])
        out = quality.windowed_distribution_drift(ref, cur, "v", "ts", "1 hour")
        assert out.columns == ["window_start", "psi", "ks", "n_ref", "n_cur"]
        row = out.first()
        assert row["psi"] == 0.0 and row["ks"] == 0.0 and row["n_ref"] == 4

    def test_streaming_ref_rejected(self, spark):
        import pytest as _pytest

        ref = _tvals(spark, [1.0])
        with _pytest.raises(ValueError):
            quality.windowed_distribution_drift(
                spark.readStream.format("rate").load(), ref, "v"
            )


def _wvecs(spark, rows, ts="2024-01-01 00:10:00"):
    return spark.createDataFrame(
        [(lbl, ts, v) for lbl, v in rows],
        "label int, ts string, embedding array<double>",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


class TestWindowedEmbeddingCentroidDrift:
    """windowed_embedding_centroid_drift (r14): per-(group, window) cosine
    vs a pinned reference centroid — the vector twin of
    windowed_distribution_drift, single-aggregation (streaming-legal)."""

    def test_single_window_matches_batch_twin(self, spark):
        ref = [(0, [2.0, 0.0, 0.0]), (0, [0.0, 2.0, 0.0]), (1, [0.5, 0.5, 0.0])]
        cur = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
        out = {
            r["label"]: r
            for r in quality.windowed_embedding_centroid_drift(
                _wvecs(spark, ref), _wvecs(spark, cur),
                "embedding", "label", "ts", "1 hour", dim=3,
            ).collect()
        }
        base = {
            r["label"]: r
            for r in quality.embedding_centroid_drift(
                _wvecs(spark, ref).drop("ts"), _wvecs(spark, cur).drop("ts"),
                "embedding", "label",
            ).collect()
        }
        for lbl in (0, 1):
            assert out[lbl]["centroid_cos"] == base[lbl]["centroid_cos"]
            assert out[lbl]["n_ref"] == base[lbl]["n_ref"]
            assert out[lbl]["n_cur"] == base[lbl]["n_cur"]
            assert str(out[lbl]["window_start"]) == "2024-01-01 00:00:00"

    def test_per_window_independence(self, spark):
        ref = _wvecs(spark, [(0, [1.0, 0.0])])
        same = _wvecs(spark, [(0, [2.0, 0.0])], ts="2024-01-01 01:10:00")
        rot = _wvecs(spark, [(0, [0.0, 3.0])], ts="2024-01-01 02:10:00")
        out = quality.windowed_embedding_centroid_drift(
            ref, same.union(rot), "embedding", "label", "ts", "1 hour", dim=2
        ).collect()
        by_w = {str(r["window_start"]): r for r in out}
        assert by_w["2024-01-01 01:00:00"]["centroid_cos"] == 1.0
        assert by_w["2024-01-01 02:00:00"]["centroid_cos"] == 0.0

    def test_novel_group_null_sentinel(self, spark):
        ref = _wvecs(spark, [(0, [1.0, 0.0])])
        cur = _wvecs(spark, [(0, [1.0, 0.0]), (9, [1.0, 1.0])])
        rows = {
            r["label"]: r
            for r in quality.windowed_embedding_centroid_drift(
                ref, cur, "embedding", "label", "ts", "1 hour", dim=2
            ).collect()
        }
        assert rows[9]["centroid_cos"] is None and rows[9]["n_ref"] is None
        assert rows[9]["n_cur"] == 1
        assert rows[0]["centroid_cos"] == 1.0 and rows[0]["n_ref"] == 1

    def test_null_vectors_excluded(self, spark):
        ref = _wvecs(spark, [(0, [1.0, 0.0]), (0, None)])
        cur = _wvecs(spark, [(0, [1.0, 0.0]), (0, None)])
        row = quality.windowed_embedding_centroid_drift(
            ref, cur, "embedding", "label", "ts", "1 hour", dim=2
        ).first()
        assert (row["n_ref"], row["n_cur"]) == (1, 1)
        assert row["centroid_cos"] == 1.0

    def test_wrong_dim_vectors_excluded_not_crash(self, spark):
        """A monitoring stream must survive malformed vectors: under ANSI
        mode a short vector would crash element_at and a long one would
        silently truncate — both are excluded like NULLs (pinned), and a
        mass dim change surfaces as a collapsing n_cur."""
        ref = _wvecs(spark, [(0, [1.0, 0.0])])
        cur = _wvecs(
            spark, [(0, [1.0, 0.0]), (0, [5.0]), (0, [1.0, 0.0, 9.0])]
        )
        row = quality.windowed_embedding_centroid_drift(
            ref, cur, "embedding", "label", "ts", "1 hour", dim=2
        ).first()
        assert row["n_cur"] == 1  # short + long both excluded
        assert row["centroid_cos"] == 1.0  # and neither poisoned the math

    def test_micro_batch_order_invariant(self, spark):
        """The integerized per-dim sums make the window aggregate exactly
        order/partitioning-insensitive — the property micro-batched
        arrival relies on."""
        import random

        rnd = random.Random(11)
        rows = [(i % 3, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
        ref = _wvecs(spark, rows)
        a = quality.windowed_embedding_centroid_drift(
            ref.repartition(1), _wvecs(spark, rows[::-1]).repartition(13),
            "embedding", "label", "ts", "1 hour", dim=8,
        ).collect()
        b = quality.windowed_embedding_centroid_drift(
            ref.repartition(7), _wvecs(spark, rows).repartition(3),
            "embedding", "label", "ts", "1 hour", dim=8,
        ).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        assert all(r["centroid_cos"] == 1.0 for r in a)

    def test_streaming_ref_rejected(self, spark):
        import pytest as _pytest

        cur = _wvecs(spark, [(0, [1.0])])
        with _pytest.raises(ValueError):
            quality.windowed_embedding_centroid_drift(
                spark.readStream.format("rate").load(), cur,
                "embedding", "label", "ts",
            )


class TestWindowedCentroidDriftMalformedCount:
    """The monitor excludes malformed vectors (NULL or wrong-dim) from
    every sum and count, and a window with no valid vector emits no row."""

    def test_default_schema_and_values_unchanged(self, spark):
        """Same columns, same rows, same values as the registered oracle
        surface; malformed rows never reach a sum, an all-malformed window
        drops out."""
        ref = _wvecs(spark, [(0, [2.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 0.0])])
        cur = _wvecs(
            spark,
            [(0, [1.0, 0.0]), (0, [3.0]), (0, None), (1, [0.0, 2.0]),
             (2, [7.0]), (2, None)],
        )
        out = quality.windowed_embedding_centroid_drift(
            ref, cur, "embedding", "label", "ts", "1 hour", dim=2
        )
        assert out.columns == [
            "label", "window_start", "centroid_cos", "n_ref", "n_cur",
        ]
        assert sorted(
            (r["label"], r["centroid_cos"], r["n_ref"], r["n_cur"])
            for r in out.collect()
        ) == [(0, 1.0, 1, 1), (1, 1.0, 1, 1)]

    def test_dim_ceiling_asserted(self, spark):
        import pytest as _pytest

        ref = _wvecs(spark, [(0, [1.0])])
        with _pytest.raises(ValueError, match="measured envelope"):
            quality.windowed_embedding_centroid_drift(
                ref, ref, "embedding", "label", "ts", dim=1537
            )
        with _pytest.raises(ValueError, match="measured envelope"):
            quality.windowed_embedding_centroid_drift(
                ref, ref, "embedding", "label", "ts", dim=0
            )
