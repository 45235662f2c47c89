"""Operator unit tests mirroring the reference's semantics tests
(gap shapes: test/TimeseriesUtility_test.py; NaN-prop average:
test/algorithm_test/AverageAlgorithm_test.py:47-83; dbdt: DbDtAlgorithm;
XYZ identities: test/StreamConverter_test.py) — re-derived fixtures."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from usgs_geomag_algorithms_spark.operators.average import average_across_series
from usgs_geomag_algorithms_spark.operators.convert import (
    adjusted,
    deltaf,
    pivot_channels,
    unpivot_channels,
    xyz_convert,
)
from usgs_geomag_algorithms_spark.operators.dbdt import dbdt
from usgs_geomag_algorithms_spark.operators.gaps import (
    coverage_metrics,
    detect_gaps,
    merge_gap_intervals,
)
from usgs_geomag_algorithms_spark.operators.merge import merge_last_wins
from usgs_geomag_algorithms_spark.operators.spine import pad_to_spine
from usgs_geomag_algorithms_spark.tiers import US

T0 = 1577836800 * US
MIN = 60 * US


def mk(spark, rows):
    return spark.createDataFrame(
        rows, schema="url string, channel string, t_us long, value double"
    )


def series(url, ch, vals, t0=T0, delta=MIN, skip_nan_rows=False):
    out = []
    for i, v in enumerate(vals):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            if skip_nan_rows:
                continue
            out.append((url, ch, t0 + i * delta, None))
        else:
            out.append((url, ch, t0 + i * delta, float(v)))
    return out


class TestGaps:
    def test_interior_gap_shape(self, spark):
        # [1, 1, nan, nan, 0, 1] @60s -> gap [t2, t3, next t4]
        # (ref TimeseriesUtility_test.py:161-171)
        df = mk(spark, series("u", "H", [1, 1, None, None, 0, 1]))
        gaps = detect_gaps(df, 60.0, T0, T0 + 5 * MIN).collect()
        assert len(gaps) == 1
        g = gaps[0]
        assert (g.gap_start_us, g.gap_end_us, g.next_valid_us) == (
            T0 + 2 * MIN,
            T0 + 3 * MIN,
            T0 + 4 * MIN,
        )

    def test_leading_and_trailing_gap(self, spark):
        # [nan, 1, 1, nan, nan] -> leading gap + trailing gap
        # (ref TimeseriesUtility_test.py:110,124-129)
        df = mk(spark, series("u", "H", [None, 1, 1, None, None]))
        gaps = sorted(
            detect_gaps(df, 60.0, T0, T0 + 4 * MIN).collect(),
            key=lambda g: g.gap_start_us,
        )
        assert [(g.gap_start_us, g.gap_end_us) for g in gaps] == [
            (T0, T0),
            (T0 + 3 * MIN, T0 + 4 * MIN),
        ]

    def test_absent_rows_equal_nan_rows(self, spark):
        a = mk(spark, series("u", "H", [1, 1, None, None, 0, 1]))
        b = mk(spark, series("u", "H", [1, 1, None, None, 0, 1], skip_nan_rows=True))
        ga = sorted(map(tuple, detect_gaps(a, 60.0, T0, T0 + 5 * MIN).collect()))
        gb = sorted(map(tuple, detect_gaps(b, 60.0, T0, T0 + 5 * MIN).collect()))
        assert ga == gb

    def test_merged_gaps_across_channels(self, spark):
        # H gap [00:01-00:03], Z gaps [00:00] + [00:05-00:07]
        # -> merged [00:00-00:03], [00:05-00:07]
        # (ref TimeseriesUtility_test.py:174-212)
        h = series("u", "H", [1, None, None, None, 1, 1, 1, 1, 1])
        z = series("u", "Z", [None, 1, 1, 1, 1, None, None, None, 1])
        df = mk(spark, h + z)
        gaps = detect_gaps(df, 60.0, T0, T0 + 8 * MIN)
        merged = sorted(
            merge_gap_intervals(gaps.drop("channel"), group_cols=["url"]).collect(),
            key=lambda g: g.gap_start_us,
        )
        assert [(g.gap_start_us, g.gap_end_us) for g in merged] == [
            (T0, T0 + 3 * MIN),
            (T0 + 5 * MIN, T0 + 7 * MIN),
        ]

    def test_global_merge_two_phase_parity(self, spark):
        # The global (no group key) merge runs two-phase (bucketed window +
        # boundary pass). Its output must equal a naive single-window merge
        # on adversarial inputs: chains spanning many buckets, equality
        # touches (start == prev next_valid merges), and isolated intervals.
        import random

        from usgs_geomag_algorithms_spark.operators.gaps import _merge_runs

        # bucket sizes: boundary-heavy (100/1000) and all-in-one-bucket (1e12)
        for seed, B in ((7, 1000), (8, 100), (9, 10**12)):
            rng = random.Random(seed)
            rows = []
            t = 0
            for _ in range(300):
                t += rng.randint(1, 900)
                length = rng.randint(0, 2500)  # many spans > bucket
                nv = t + length + rng.choice([1, 1, 60])
                rows.append((t, t + length, nv))
                if rng.random() < 0.3:
                    t = nv  # next starts exactly at next_valid -> merges
            df = spark.createDataFrame(
                rows, "gap_start_us long, gap_end_us long, next_valid_us long"
            )
            fast = sorted(map(tuple, merge_gap_intervals(df, bucket_us=B).collect()))
            naive = sorted(map(tuple, _merge_runs(df, []).collect()))
            assert fast == naive, f"mismatch at seed={seed} B={B}"
            assert len(fast) < len(rows)  # merging actually happened

    def test_coverage_metrics(self, spark):
        df = mk(spark, series("u", "H", [1, None, 1, None, 1, 1, 1, 1, 1, 1]))
        m = coverage_metrics(df, 60.0, T0, T0 + 9 * MIN).collect()[0]
        assert m.n_valid == 8 and m.n_slots == 10
        np.testing.assert_almost_equal(m.pct_missing, 20.0)


class TestDbDt:
    def test_diff_round6_and_shift(self, spark):
        df = mk(spark, series("u", "H", [1.0, 1.5000004, 2.0, None, 3.0, 4.5]))
        out = {r.t_us: r.value for r in dbdt(df, 60.0).collect()}
        # first slot dropped; diff rounded to 6 decimals
        assert T0 not in out
        np.testing.assert_almost_equal(out[T0 + MIN], 0.5)
        np.testing.assert_almost_equal(out[T0 + 2 * MIN], 0.5)
        assert out[T0 + 3 * MIN] is None  # NaN row
        assert out[T0 + 4 * MIN] is None  # prev is NaN
        np.testing.assert_almost_equal(out[T0 + 5 * MIN], 1.5)

    def test_missing_row_breaks_adjacency(self, spark):
        rows = series("u", "H", [1.0, 2.0]) + [("u", "H", T0 + 3 * MIN, 5.0)]
        out = {r.t_us: r.value for r in dbdt(df=mk(spark, rows), delta_s=60.0).collect()}
        assert out[T0 + MIN] == 1.0
        assert out[T0 + 3 * MIN] is None  # grid-previous slot missing

    def test_channel_rename(self, spark):
        df = mk(spark, series("u", "H", [1.0, 2.0]))
        assert dbdt(df, 60.0).collect()[0].channel == "H_DT"


class TestAverage:
    def test_nan_propagates(self, spark):
        # (ref AverageAlgorithm_test.py:47-83)
        a = series("u1", "text_len", [1, 1, None, None, 1, 1])
        b = series("u2", "text_len", [1, 1, 1, 1, 1, 1])
        out = average_across_series(mk(spark, a + b), n_series=2)
        got = {r.t_us: r.value for r in out.collect()}
        exp = [1.0, 1.0, None, None, 1.0, 1.0]
        for i, e in enumerate(exp):
            assert got[T0 + i * MIN] == e

    def test_scales(self, spark):
        # 3 series of 1s/3s/5s with unit scales -> 3s (ref :9-44)
        rows = (
            series("u1", "H", [1, 1])
            + series("u2", "H", [3, 3])
            + series("u3", "H", [5, 5])
        )
        out = average_across_series(mk(spark, rows), n_series=3)
        for r in out.collect():
            np.testing.assert_almost_equal(r.value, 3.0)
        out2 = average_across_series(
            mk(spark, rows), n_series=3, scales={"u1": 3.0, "u2": 1.0, "u3": 0.6}
        )
        for r in out2.collect():
            np.testing.assert_almost_equal(r.value, 3.0)

    def test_missing_row_is_gap(self, spark):
        rows = series("u1", "H", [1.0]) + series("u2", "H", [3.0]) + [
            ("u1", "H", T0 + MIN, 2.0)
        ]
        out = {r.t_us: r.value for r in average_across_series(mk(spark, rows), n_series=2).collect()}
        assert out[T0] == 2.0
        assert out[T0 + MIN] is None


class TestMerge:
    def test_last_wins_overlap(self, spark):
        # second stream wins on overlap; NaN does not clobber
        # (ref TimeseriesUtility_test.py:318-376)
        a = series("u", "H", [1, 1, 1, 1])
        b = [("u", "H", T0 + 2 * MIN, 9.0), ("u", "H", T0 + 3 * MIN, None),
             ("u", "H", T0 + 4 * MIN, 9.0)]
        out = {r.t_us: r.value for r in merge_last_wins(mk(spark, a), mk(spark, b)).collect()}
        assert out[T0] == 1.0 and out[T0 + MIN] == 1.0
        assert out[T0 + 2 * MIN] == 9.0  # overwritten
        assert out[T0 + 3 * MIN] == 1.0  # NaN did not clobber
        assert out[T0 + 4 * MIN] == 9.0  # new data appended


class TestPad:
    def test_pad_and_trim(self, spark):
        # pad one delta each side + trim outside range
        # (ref TimeseriesUtility_test.py:379-462)
        df = mk(spark, series("u", "H", [1, 2, 3]))
        out = pad_to_spine(df, T0 - MIN, T0 + 3 * MIN, 60.0)
        got = {r.t_us: r.value for r in out.collect()}
        assert len(got) == 5
        assert got[T0 - MIN] is None and got[T0 + 3 * MIN] is None
        assert got[T0] == 1.0 and got[T0 + 2 * MIN] == 3.0
        trimmed = pad_to_spine(df, T0 + MIN, T0 + 2 * MIN, 60.0)
        assert {r.t_us for r in trimmed.collect()} == {T0 + MIN, T0 + 2 * MIN}

    def test_fill_value_zero(self, spark):
        df = mk(spark, series("u", "H", [1.0]))
        out = pad_to_spine(df, T0, T0 + 2 * MIN, 60.0, fill_value=0.0)
        got = {r.t_us: r.value for r in out.collect()}
        assert got == {T0: 1.0, T0 + MIN: 0.0, T0 + 2 * MIN: 0.0}

    def test_column_order_and_duplicate_slot(self, spark):
        # series, stamp, then every other column in input order; a
        # duplicated (series, t_us) in range keeps both rows
        df = spark.createDataFrame(
            [(1.0, "u", "x", T0, "H"), (2.0, "u", "y", T0 + 5 * MIN, "H")],
            "value double, url string, note string, t_us long, channel string",
        )
        out = pad_to_spine(df, T0, T0 + MIN, 60.0)
        assert out.columns == ["url", "channel", "t_us", "value", "note"]
        assert sorted(map(tuple, out.collect())) == [
            ("u", "H", T0, 1.0, "x"),
            ("u", "H", T0 + MIN, None, None),
        ]
        dup = df.union(df.where(F.col("t_us") == T0).withColumn("note", F.lit("z")))
        assert sorted(map(tuple, pad_to_spine(dup, T0, T0 + MIN, 60.0).collect())) == [
            ("u", "H", T0, 1.0, "x"),
            ("u", "H", T0, 1.0, "z"),
            ("u", "H", T0 + MIN, None, None),
        ]

    def test_matches_naive_grid_walk(self, spark):
        # hour tier (centre stamps), random gaps, duplicates, off-grid and
        # out-of-range stamps, and a series with no row in the range
        hour = 60 * MIN
        start, end = T0 + 10 * MIN, T0 + 40 * hour
        rng = np.random.default_rng(5)
        rows = []
        for k in range(4):
            stamps = T0 + (29 * MIN + 30 * US) + hour * rng.integers(-3, 44, 25)
            stamps = np.concatenate([stamps, stamps[:3], stamps[:2] + 7 * US])
            rows += [(f"u{k}", "H", int(s), float(i)) for i, s in enumerate(stamps)]
        rows += [("far", "H", T0 + 50 * hour, 1.0)]
        df = spark.createDataFrame(rows, "url string, channel string, t_us long, value double")
        got = sorted(map(tuple, pad_to_spine(df, start, end, 3600.0).collect()), key=str)
        grid = range(T0 + 29 * MIN + 30 * US, end + 1, hour)
        want = []
        for u in sorted({r[0] for r in rows if start <= r[2] <= end}):
            for g in grid:
                hits = [r for r in rows if r[0] == u and r[2] == g]
                want += hits or [(u, "H", g, None)]
        assert got == sorted(want, key=str)


class TestConvert:
    def test_xyz_mag_to_geo_identity(self, spark):
        # H=1, D in {15deg, 30deg} -> X=cos D, Y=sin D
        # (ref StreamConverter_test.py:26-40)
        rows = []
        for i, d in enumerate([15.0, 30.0]):
            rows += [
                ("u", "H", T0 + i * MIN, 1.0),
                ("u", "D", T0 + i * MIN, math.radians(d)),
                ("u", "Z", T0 + i * MIN, 0.5),
                ("u", "F", T0 + i * MIN, 1.2),
            ]
        wide = pivot_channels(mk(spark, rows), ["H", "D", "Z", "F"])
        out = xyz_convert(wide, "mag", "geo").orderBy("t_us").collect()
        for i, d in enumerate([15.0, 30.0]):
            np.testing.assert_almost_equal(out[i].X, math.cos(math.radians(d)))
            np.testing.assert_almost_equal(out[i].Y, math.sin(math.radians(d)))

    def test_xyz_roundtrip(self, spark):
        rows = [
            ("u", "H", T0, 20840.0),
            ("u", "E", T0, -74.0),
            ("u", "Z", T0, 47545.0),
            ("u", "F", T0, 52000.0),
        ]
        d0 = math.radians(8.0)
        wide = pivot_channels(mk(spark, rows), ["H", "E", "Z", "F"])
        geo = xyz_convert(wide, "obs", "geo", d0=d0)
        back = xyz_convert(geo, "geo", "obs", d0=d0).collect()[0]
        np.testing.assert_almost_equal(back.H, 20840.0, decimal=6)
        np.testing.assert_almost_equal(back.E, -74.0, decimal=6)

    def test_deltaf(self, spark):
        rows = [
            ("u", "X", T0, 3.0),
            ("u", "Y", T0, 4.0),
            ("u", "Z", T0, 12.0),
            ("u", "F", T0, 12.5),
        ]
        wide = pivot_channels(mk(spark, rows), ["X", "Y", "Z", "F"])
        out = deltaf(wide, "geo").collect()[0]
        np.testing.assert_almost_equal(out.G, 13.0 - 12.5)

    def test_adjusted_affine(self, spark):
        rows = [
            ("u", "H", T0, 2.0),
            ("u", "E", T0, 3.0),
            ("u", "Z", T0, 4.0),
            ("u", "F", T0, 50.0),
        ]
        m = np.array(
            [
                [1.0, 0.0, 0.0, 10.0],
                [0.0, 2.0, 0.0, 0.0],
                [0.0, 0.0, 1.0, -1.0],
                [0.0, 0.0, 0.0, 1.0],
            ]
        )
        wide = pivot_channels(mk(spark, rows), ["H", "E", "Z", "F"])
        out = adjusted(wide, m, pier_correction=-22.0).collect()[0]
        assert (out.X, out.Y, out.Z, out.F) == (12.0, 6.0, 3.0, 28.0)

    def test_reference_verification_data(self, spark):
        # Real-observatory golden vectors from the reference
        # (StreamConverter_test.py:286-344, test_verification_data): the
        # cross-converter check its authors ran against production data.
        h_obs = [20889.55, 20889.57, 20889.74, 20889.86, 20889.91, 20889.81]
        e_obs = [-21.10, -20.89, -20.72, -20.57, -20.39, -20.12]
        rows = []
        for i in range(6):
            rows += [("u", "H", T0 + i * MIN, h_obs[i]), ("u", "E", T0 + i * MIN, e_obs[i])]
        wide = pivot_channels(mk(spark, rows), ["H", "E"])
        # obs -> mag D (d0=0), rendered in arc-minutes as the ref test does
        out = xyz_convert(wide, "obs", "mag").orderBy("t_us").collect()
        d_min = [r.D * 3437.7467707849396 for r in out]
        np.testing.assert_almost_equal(
            d_min, [-3.47, -3.43, -3.40, -3.38, -3.35, -3.31], 2
        )

        h_mag = [20884.04, 20883.45, 20883.38, 20883.43, 20883.07, 20882.76]
        d_mag_min = [556.51, 556.52, 556.56, 556.61, 556.65, 556.64]
        rows = []
        for i in range(6):
            rows += [
                ("u", "H", T0 + i * MIN, h_mag[i]),
                ("u", "D", T0 + i * MIN, d_mag_min[i] / 3437.7467707849396),
            ]
        wide = pivot_channels(mk(spark, rows), ["H", "D"])
        out = xyz_convert(wide, "mag", "geo").orderBy("t_us").collect()
        np.testing.assert_almost_equal(
            [r.X for r in out],
            [20611.00, 20610.40, 20610.30, 20610.30, 20609.90, 20609.60], 2,
        )
        np.testing.assert_almost_equal(
            [r.Y for r in out],
            [3366.00, 3366.00, 3366.20, 3366.50, 3366.70, 3366.60], 1,
        )

    def test_unpivot_roundtrip(self, spark):
        rows = series("u", "H", [1, 2]) + series("u", "E", [3, 4])
        wide = pivot_channels(mk(spark, rows), ["H", "E"])
        back = unpivot_channels(wide, ["H", "E"])
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, mk(spark, rows).collect())
        )


class TestDeadSeriesGap:
    def test_all_invalid_series_is_one_full_range_gap(self, spark):
        # (ref get_trace_gaps on an all-NaN trace: whole trace is the gap)
        rows = series("u", "H", [None, None, None, None])
        rows += series("v", "H", [1, 1, 1, 1])  # healthy control
        df = mk(spark, rows)
        gaps = detect_gaps(df, 60.0, T0, T0 + 3 * MIN).collect()
        by_series = {}
        for g in gaps:
            by_series.setdefault(g.url, []).append(g)
        assert "v" not in by_series
        assert len(by_series["u"]) == 1
        g = by_series["u"][0]
        assert (g.gap_start_us, g.gap_end_us, g.next_valid_us) == (
            T0, T0 + 3 * MIN, T0 + 4 * MIN,
        )


class TestConvertRegression:
    """Chained-withColumn late-binding bugs: conversions must be computed
    from ORIGINAL columns in one select."""

    def test_obs_to_mag_large_e(self, spark):
        # E comparable to H: D must be atan2(e, h) of the ORIGINALS
        rows = [("u", "H", T0, 100.0), ("u", "E", T0, 100.0)]
        wide = pivot_channels(mk(spark, rows), ["H", "E"])
        out = xyz_convert(wide, "obs", "mag").collect()[0]
        np.testing.assert_almost_equal(out.D, math.atan2(100.0, 100.0))
        np.testing.assert_almost_equal(out.H, math.hypot(100.0, 100.0))

    def test_mag_to_obsd_with_declination_base(self, spark):
        d0 = math.radians(8.0)
        d = math.radians(20.0)
        rows = [("u", "H", T0, 100.0), ("u", "D", T0, d)]
        wide = pivot_channels(mk(spark, rows), ["H", "D"])
        out = xyz_convert(wide, "mag", "obsd", d0=d0).collect()[0]
        np.testing.assert_almost_equal(out.H, 100.0 * math.cos(d - d0))
        np.testing.assert_almost_equal(out.D, d - d0)

    def test_no_duplicate_columns(self, spark):
        rows = [
            ("u", "H", T0, 1.0), ("u", "D", T0, 0.1),
            ("u", "Z", T0, 2.0), ("u", "F", T0, 3.0),
        ]
        wide = pivot_channels(mk(spark, rows), ["H", "D", "Z", "F"])
        out = xyz_convert(wide, "mag", "geo")
        assert len(out.columns) == len(set(out.columns))
        assert out.columns.count("Z") == 1 and out.columns.count("F") == 1

    def test_adjusted_inplace_outputs(self, spark):
        # out_channels overlapping in_channels must apply every matrix row
        # to the ORIGINAL inputs
        rows = [
            ("u", "H", T0, 2.0), ("u", "E", T0, 3.0),
            ("u", "Z", T0, 4.0), ("u", "F", T0, 50.0),
        ]
        m = np.array([
            [2.0, 0.0, 0.0, 0.0],
            [1.0, 1.0, 0.0, 0.0],   # E_out = H_orig + E_orig = 5
            [0.0, 0.0, 1.0, 0.0],
            [0.0, 0.0, 0.0, 1.0],
        ])
        wide = pivot_channels(mk(spark, rows), ["H", "E", "Z", "F"])
        out = adjusted(
            wide, m, pier_correction=0.0,
            in_channels=("H", "E", "Z", "F"), out_channels=("H", "E", "Z", "F"),
        ).collect()[0]
        assert out.H == 4.0
        assert out.E == 5.0  # uses ORIGINAL H=2, not the transformed 4

    def test_missing_required_channel_raises(self, spark):
        rows = [("u", "H", T0, 1.0)]
        wide = pivot_channels(mk(spark, rows), ["H"])
        import pytest
        with pytest.raises(ValueError, match="requires channels"):
            xyz_convert(wide, "obs", "mag")


class TestAverageDuplicateGuard:
    def test_duplicate_rows_do_not_mask_missing_series(self, spark):
        rows = [
            ("u1", "H", T0, 1.0),
            ("u1", "H", T0, 1.0),  # duplicate of the same series
            # u2 absent at T0
        ]
        out = average_across_series(mk(spark, rows), n_series=2).collect()
        assert out[0].value is None  # NOT the mean of u1's duplicates
