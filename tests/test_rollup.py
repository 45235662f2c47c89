"""Rollup operator vs the independent NumPy oracle + reference edge cases.

Edge/alignment expectations mirror the reference tests
``test/algorithm_test/FilterAlgorithm_test.py:103-192`` (hour/day stamps),
``:244-333`` (starttime shift / align_trace) and the 10%-bad rule from
``FilterAlgorithm.firfilter`` — re-derived, not copied.
"""

import numpy as np
import pytest

from usgs_geomag_algorithms_spark.tiers import STEPS, US, Step
from usgs_geomag_algorithms_spark.functions import windows
from usgs_geomag_algorithms_spark.operators.rollup import rollup_step
from tests.oracle_numpy import apply_step_oracle, to_rows

SEC_MIN = STEPS[1]  # gaussian-91 firfilter
MIN_HOUR = STEPS[2]  # boxcar 60 average
MIN_DAY = STEPS[3]  # boxcar 1440 average

T0 = 1577836800 * US  # 2020-01-01T00:00:00Z


def run_spark(spark, step, start_us, data, url="u", channel="H", **kw):
    df = spark.createDataFrame(
        to_rows(url, channel, start_us, step.in_us, data),
        schema="url string, channel string, t_us long, value double",
    )
    end_us = start_us + (len(data) - 1) * step.in_us
    out = rollup_step(df, step, range_start_us=start_us, range_end_us=end_us, **kw)
    rows = sorted(out.collect(), key=lambda r: r.t_us)
    stamps = np.array([r.t_us for r in rows], dtype=np.int64)
    vals = np.array([np.nan if r.value is None else r.value for r in rows])
    return stamps, vals


def check_against_oracle(spark, step, start_us, data, decimal=9):
    got_t, got_v = run_spark(spark, step, start_us, data)
    exp_t, exp_v = apply_step_oracle(step, start_us, data)
    exp_mask = np.isnan(exp_v)
    # engine does not emit masked (all-bad) buckets as rows; accept both
    # conventions by aligning on timestamps
    exp_keep = {int(t): v for t, v in zip(exp_t, exp_v)}
    got = {int(t): v for t, v in zip(got_t, got_v)}
    for t in got:
        assert t in exp_keep, f"unexpected output stamp {t}"
    for t, v in exp_keep.items():
        gv = got.get(t, np.nan)
        if np.isnan(v):
            assert t not in got or np.isnan(gv)
        else:
            np.testing.assert_almost_equal(gv, v, decimal=decimal)
    # all non-masked oracle stamps must be present
    for t, v in exp_keep.items():
        if not np.isnan(v):
            assert t in got


class TestHourAverage:
    def test_center_stamp_and_values(self, spark):
        rng = np.random.default_rng(42)
        data = rng.normal(20000, 10, 3 * 60)  # 3 hours of minutes
        got_t, got_v = run_spark(spark, MIN_HOUR, T0, data)
        assert len(got_t) == 3
        # hour samples stamped HH:29:30 (ref TimeseriesUtility.py:49-57)
        assert got_t[0] == T0 + (29 * 60 + 30) * US
        assert (np.diff(got_t) == 3600 * US).all()
        for h in range(3):
            np.testing.assert_almost_equal(got_v[h], data[h * 60 : (h + 1) * 60].mean())

    def test_allowed_bad_rule(self, spark):
        data = np.ones(2 * 60) * 5.0
        data[3:8] = np.nan  # 5 of 60 missing -> still valid
        data[70:77] = np.nan  # 7 of 60 missing -> masked
        got_t, got_v = run_spark(spark, MIN_HOUR, T0, data)
        byt = dict(zip(got_t.tolist(), got_v.tolist()))
        h0 = T0 + (29 * 60 + 30) * US
        np.testing.assert_almost_equal(byt[h0], 5.0)
        # masked bucket emitted as an in-band gap (NULL), matching the
        # reference's NaN-in-band convention
        assert np.isnan(byt[h0 + 3600 * US])

    def test_partial_hours_not_emitted(self, spark):
        # 00:30 .. 02:29 minute data: only hour 01 has its full window
        start = T0 + 30 * 60 * US
        data = np.ones(120)
        got_t, got_v = run_spark(spark, MIN_HOUR, start, data)
        assert got_t.tolist() == [T0 + 3600 * US + (29 * 60 + 30) * US]

    def test_oracle_parity_with_gaps(self, spark):
        rng = np.random.default_rng(7)
        data = rng.normal(0, 1, 5 * 60)
        data[rng.random(len(data)) < 0.08] = np.nan
        check_against_oracle(spark, MIN_HOUR, T0, data)


class TestDayAverage:
    def test_day_stamp(self, spark):
        data = np.arange(2 * 1440, dtype=float)
        got_t, got_v = run_spark(spark, MIN_DAY, T0, data)
        # day stamped 11:59:30 (ref FilterAlgorithm_test.py:189-190)
        assert got_t[0] == T0 + (11 * 3600 + 59 * 60 + 30) * US
        np.testing.assert_almost_equal(got_v[0], np.arange(1440).mean())
        np.testing.assert_almost_equal(got_v[1], np.arange(1440, 2880).mean())


class TestSecMinFir:
    def test_alignment_900s(self, spark):
        # 901 samples 00:00:00..00:15:00 -> minutes 00:01..00:14
        # (ref FilterAlgorithm_test.py:244-262)
        data = np.random.default_rng(1).normal(100, 5, 901)
        got_t, got_v = run_spark(spark, SEC_MIN, T0, data)
        assert got_t[0] == T0 + 60 * US
        assert got_t[-1] == T0 + 14 * 60 * US
        assert len(got_t) == 14
        check_against_oracle(spark, SEC_MIN, T0, data)

    def test_alignment_misaligned_starts(self, spark):
        # start 00:00:15 -> first output 00:01; start 00:00:16 -> 00:02
        # (ref FilterAlgorithm_test.py:263-280)
        data = np.ones(900)
        t15, _ = run_spark(spark, SEC_MIN, T0 + 15 * US, data)
        assert t15[0] == T0 + 60 * US
        t16, _ = run_spark(spark, SEC_MIN, T0 + 16 * US, data)
        assert t16[0] == T0 + 2 * 60 * US

    def test_gaussian_fir_with_gaps_oracle(self, spark):
        rng = np.random.default_rng(3)
        data = rng.normal(20821, 2, 1800) + np.sin(np.arange(1800) / 120) * 5
        data[200:230] = np.nan  # 30s gap: some windows renormalize, some mask
        data[900:1000] = np.nan  # 100s gap: full minutes masked
        check_against_oracle(spark, SEC_MIN, T0, data)

    def test_renormalization_partial_window(self, spark):
        # constant series with a small gap -> renormalized dot == constant
        data = np.full(600, 42.0)
        data[100:104] = np.nan
        got_t, got_v = run_spark(spark, SEC_MIN, T0, data)
        np.testing.assert_allclose(got_v, 42.0, rtol=1e-12)


class TestTenHzFir:
    def test_blackman_123_oracle(self, spark):
        step = STEPS[0]
        rng = np.random.default_rng(11)
        data = rng.normal(0, 1, 3000)  # 300 s at 10 Hz
        data[500:520] = np.nan
        check_against_oracle(spark, step, T0, data)

    def test_custom_step_even_taps_rejected(self):
        with pytest.raises(ValueError):
            Step(
                name="bad",
                data_interval="second",
                input_sample_period=0.1,
                output_sample_period=1.0,
                window=np.ones(10),
                type="firfilter",
            )


class TestQuantileRollup:
    def _sig(self, spark, vals, series="a", t0=0):
        from pyspark.sql import functions as F

        return spark.createDataFrame(
            [(series, t0 + i * 60_000_000, float(v) if v == v else None)
             for i, v in enumerate(vals)],
            "series string, t_us long, value double",
        ).select("series", "t_us",
                 F.coalesce("value", F.lit(float("nan"))).alias("value"))

    def test_matches_numpy_linear(self, spark):
        from usgs_geomag_algorithms_spark.operators.rollup import quantile_rollup

        rng = np.random.default_rng(3)
        vals = rng.normal(50, 10, 60)
        out = quantile_rollup(self._sig(spark, vals), 3_600_000_000).collect()
        assert len(out) == 1
        r = out[0]
        assert r.p50 == pytest.approx(np.percentile(vals, 50), abs=1e-4)
        assert r.p95 == pytest.approx(np.percentile(vals, 95), abs=1e-4)
        assert r.n_values == 60

    def test_nan_and_null_masked(self, spark):
        from usgs_geomag_algorithms_spark.operators.rollup import quantile_rollup

        vals = [1.0, float("nan"), 3.0, 5.0]
        r = quantile_rollup(self._sig(spark, vals), 3_600_000_000).collect()[0]
        assert r.n_values == 3
        assert r.p50 == 3.0

    def test_windows_split(self, spark):
        from usgs_geomag_algorithms_spark.operators.rollup import quantile_rollup

        sig = self._sig(spark, range(120))  # two hours of minutes
        out = {r.t_us: r.p50 for r in quantile_rollup(sig, 3_600_000_000).collect()}
        assert out == {0: 29.5, 3_600_000_000: 89.5}

    def test_approx_percentile_agrees_on_bounded_groups(self, spark):
        # the unbounded-group path recommended in the docstring: sketch
        # result within tolerance of the exact aggregate on tier-sized groups
        from pyspark.sql import functions as F

        rng = np.random.default_rng(9)
        vals = rng.normal(100, 25, 1440)
        sig = self._sig(spark, vals)
        approx = sig.agg(
            F.percentile_approx("value", 0.95, 10_000).alias("a")
        ).first().a
        assert approx == pytest.approx(np.percentile(vals, 95), rel=0.01)


class TestWindowShapes:
    def test_minute_filter_is_the_periodic_gaussian(self):
        """The INTERMAGNET minute filter must be scipy's get_window
        DEFAULT (fftbins=True): the 92-point symmetric gaussian with the
        last sample dropped — asymmetric, w[45]==w[46], effective center
        45.5. The symmetric variant is a half-second shift that the
        reference's own etc/filter fixtures reject (whole-nT errors in
        fast field; see test_reference_fixtures::test_minute)."""
        import numpy as np

        from usgs_geomag_algorithms_spark.functions.windows import (
            gaussian,
            gaussian_periodic,
        )

        w = STEPS[1].window
        assert len(w) == 91
        assert w[45] == w[46]  # the periodic signature
        assert not np.allclose(w, gaussian(91, 15.8734))  # not symmetric
        assert np.array_equal(w, gaussian_periodic(91, 15.8734))
        # exact closed form of the periodic variant: 92 symmetric points
        # centered at 45.5, last dropped
        n = np.arange(92, dtype=np.float64) - 45.5
        expect = np.exp(-0.5 * (n / 15.8734) ** 2)[:-1]
        assert np.array_equal(w, expect)
