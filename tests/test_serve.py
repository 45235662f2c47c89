"""Serving layer + cadence channel end-to-end."""

import json
import re

import pytest
from pyspark.sql import functions as F

from usgs_geomag_algorithms_spark.plans.serve import get_timeseries
from usgs_geomag_algorithms_spark.sources.pages import BASE_EPOCH, generate_pages
from usgs_geomag_algorithms_spark.sources.signals import page_signals
from usgs_geomag_algorithms_spark.sources.store import TierStore
from usgs_geomag_algorithms_spark.tiers import US

T0 = 1577836800 * US
MIN = 60 * US


class TestServe:
    def seed(self, spark, tmp_path):
        store = TierStore(spark, str(tmp_path / "t"), n_buckets=2)
        rows = [("u1", "text_len", T0 + i * MIN, float(i)) for i in range(5)]
        rows += [("u2", "text_len", T0, 9.0)]  # sparse series
        df = spark.createDataFrame(
            rows, schema="url string, channel string, t_us long, value double"
        )
        store.write(df, "minute")
        return store

    def test_padded_read_returns_gap_rows(self, spark, tmp_path):
        store = self.seed(spark, tmp_path)
        out = get_timeseries(store, "minute", T0, T0 + 4 * MIN)
        got = {(r.url, r.t_us): r.value for r in out.collect()}
        assert len(got) == 10  # 2 series x 5 slots, gaps explicit
        assert got[("u2", T0)] == 9.0
        assert got[("u2", T0 + MIN)] is None

    def test_channel_and_url_filters_and_json(self, spark, tmp_path):
        store = self.seed(spark, tmp_path)
        out = get_timeseries(
            store, "minute", T0, T0 + 2 * MIN, urls=["u1"], as_json=True
        )
        rows = out.collect()
        assert len(rows) == 1
        doc = json.loads(rows[0].json)
        assert doc["values"] == [0.0, 1.0, 2.0]

    def test_request_cap(self, spark, tmp_path):
        store = self.seed(spark, tmp_path)
        with pytest.raises(ValueError, match="345600"):
            get_timeseries(store, "minute", T0, T0 + 400_000 * MIN)


class TestCadenceChannel:
    def test_cadence_from_pages(self, spark):
        pages = generate_pages(spark, n_urls=2, hours=0.25, gap_pct=0.0, n_hot=2)
        sig = page_signals(pages, channels=("cadence",))
        rows = [r for r in sig.collect() if r.url.endswith("site0.example/p0")]
        vals = {r.t_us: r.value for r in rows}
        ts = sorted(vals)
        assert vals[ts[0]] is None  # first crawl has no predecessor
        assert all(vals[t] == 1.0 for t in ts[1:])  # 1 s crawl cadence


class TestServeMonthAndPacked:
    JAN1 = 1704067200 * US   # 2024-01-01
    MAR1 = 1709251200 * US   # 2024-03-01
    APR1 = 1711929600 * US   # 2024-04-01

    def test_month_tier_pads_calendar_grid(self, spark, tmp_path):
        from usgs_geomag_algorithms_spark.plans.serve import month_stamps

        store = TierStore(spark, str(tmp_path / "t"), n_buckets=2)
        jan_stamp = self.JAN1 + (43_200 * 31 - 30) * US
        mar_stamp = self.MAR1 + (43_200 * 31 - 30) * US
        df = spark.createDataFrame(
            [("u", "text_len", jan_stamp, 1.0), ("u", "text_len", mar_stamp, 3.0)],
            schema="url string, channel string, t_us long, value double",
        )
        store.write(df, "month")
        out = get_timeseries(store, "month", self.JAN1, self.APR1)
        got = {r.t_us: r.value for r in out.collect()}
        stamps = month_stamps(self.JAN1, self.APR1)
        assert len(stamps) == 3  # Jan, Feb(leap 29d), Mar
        assert got[jan_stamp] == 1.0 and got[mar_stamp] == 3.0
        feb_stamp = [s for s in stamps if s not in (jan_stamp, mar_stamp)][0]
        assert got[feb_stamp] is None  # absent month -> explicit gap row

    def test_packed_serve_equals_plain(self, spark, tmp_path):
        store = TierStore(spark, str(tmp_path / "t"), n_buckets=2)
        rows = [("u1", "text_len", T0 + i * MIN, float(i)) for i in range(120)]
        df = spark.createDataFrame(
            rows, schema="url string, channel string, t_us long, value double"
        )
        store.write(df, "minute")
        store.write_packed(df, "minute", segment_us=3600 * US)
        a = sorted(map(tuple, get_timeseries(
            store, "minute", T0, T0 + 119 * MIN).collect()))
        b = sorted(map(tuple, get_timeseries(
            store, "minute", T0, T0 + 119 * MIN, use_packed=True).collect()))
        assert a == b


class TestServeDerive:
    def test_derive_on_read(self, spark, tmp_path):
        # store holds H and D (mag); request X and Y (geo) -> derived on
        # read like DerivedTimeseriesFactory wrapping the /data endpoint
        import math

        store = TierStore(spark, str(tmp_path / "t"), n_buckets=2)
        d = math.radians(30.0)
        rows = []
        for i in range(3):
            rows += [
                ("u", "H", T0 + i * MIN, 1.0),
                ("u", "D", T0 + i * MIN, d),
            ]
        store.write(
            spark.createDataFrame(
                rows, "url string, channel string, t_us long, value double"
            ),
            "minute",
        )
        out = get_timeseries(
            store, "minute", T0, T0 + 2 * MIN,
            channels=["X", "Y"], derive=True, pad=False,
        ).collect()
        got = {(r.channel, r.t_us): r.value for r in out}
        assert len(got) == 6  # X and Y at 3 slots, H/D filtered out
        import numpy as np

        # H=1, D=d -> X=cos(d), Y=sin(d)
        np.testing.assert_almost_equal(got[("X", T0)], math.cos(d))
        np.testing.assert_almost_equal(got[("Y", T0)], math.sin(d))


class TestShortWindow:
    def test_padded_read_inside_one_hour_no_stamp(self, spark, tmp_path):
        # hour-tier request [06:35, 06:50] contains no :29:30 stamp: the
        # padded read must return an empty frame, not crash on an inverted
        # sequence() (regression)
        store = TierStore(spark, str(tmp_path / "t"), n_buckets=2)
        HOUR = 3600 * US
        stamp = T0 + 6 * HOUR + (29 * 60 + 30) * US
        store.write(
            spark.createDataFrame(
                [("u", "text_len", stamp, 1.0)],
                "url string, channel string, t_us long, value double",
            ),
            "hour",
        )
        out = get_timeseries(
            store, "hour", T0 + 6 * HOUR + 35 * 60 * US,
            T0 + 6 * HOUR + 50 * 60 * US,
        )
        assert out.count() == 0


class TestServeFill:
    def seed(self, spark, tmp_path):
        store = TierStore(spark, str(tmp_path / "tf"), n_buckets=2)
        # u1: observations at slots 0 and 4 only; u2: single obs at slot 2
        rows = [
            ("u1", "text_len", T0, 10.0),
            ("u1", "text_len", T0 + 4 * MIN, 50.0),
            ("u2", "text_len", T0 + 2 * MIN, 7.0),
        ]
        df = spark.createDataFrame(
            rows, schema="url string, channel string, t_us long, value double"
        )
        store.write(df, "minute")
        return store

    def test_locf_fill(self, spark, tmp_path):
        store = self.seed(spark, tmp_path)
        out = get_timeseries(store, "minute", T0, T0 + 4 * MIN, fill="locf")
        got = {(r.url, r.t_us): r.value for r in out.collect()}
        assert got[("u1", T0 + 2 * MIN)] == 10.0  # carried forward
        assert got[("u1", T0 + 4 * MIN)] == 50.0
        assert got[("u2", T0)] is None  # before first observation
        assert got[("u2", T0 + 4 * MIN)] == 7.0

    def test_interp_fill(self, spark, tmp_path):
        store = self.seed(spark, tmp_path)
        out = get_timeseries(store, "minute", T0, T0 + 4 * MIN, fill="interp")
        got = {(r.url, r.t_us): r.value for r in out.collect()}
        # linear walk 10 -> 50 over 4 slots
        assert got[("u1", T0 + MIN)] == 20.0
        assert got[("u1", T0 + 3 * MIN)] == 40.0
        # outside the observed envelope stays NULL
        assert got[("u2", T0)] is None and got[("u2", T0 + 4 * MIN)] is None
        assert got[("u2", T0 + 2 * MIN)] == 7.0

    def test_fill_requires_pad_and_fixed_grid(self, spark, tmp_path):
        store = self.seed(spark, tmp_path)
        with pytest.raises(ValueError):
            get_timeseries(
                store, "minute", T0, T0 + MIN, pad=False, fill="locf"
            )
        with pytest.raises(ValueError):
            get_timeseries(store, "minute", T0, T0 + MIN, fill="nearest")


class TestAutoTier:
    def test_select_tier_picks_finest_under_cap(self):
        from usgs_geomag_algorithms_spark.plans.serve import select_tier

        # 1 hour: second tier fits easily
        assert select_tier(T0, T0 + 3600 * US) == "second"
        # 30 days: 2.6M seconds > cap, 43k minutes fits
        assert select_tier(T0, T0 + 30 * 86400 * US) == "minute"
        # 2 years: minutes exceed the cap, hours fit
        assert select_tier(T0, T0 + 2 * 365 * 86400 * US) == "hour"
        # cap that nothing fits
        import pytest as _pytest

        with _pytest.raises(ValueError):
            select_tier(T0, T0 + 365 * 86400 * US, max_samples=10)

    def test_get_timeseries_auto(self, spark, tmp_path):
        store = TierStore(spark, str(tmp_path / "t"), n_buckets=2)
        rows = [("u1", "text_len", T0 + i * MIN, float(i)) for i in range(5)]
        df = spark.createDataFrame(
            rows, schema="url string, channel string, t_us long, value double"
        )
        store.write(df, "minute")
        # a month-long window auto-selects the minute tier (finest under cap)
        out = get_timeseries(
            store, "auto", T0, T0 + 30 * 86400 * US, pad=False
        )
        got = {(r.url, r.t_us): r.value for r in out.collect()}
        assert got[("u1", T0 + MIN)] == 1.0 and len(got) == 5

    def test_padded_read_of_unheld_tier_is_empty(self, spark, tmp_path):
        # 25 h resolves to the second tier, which no build writes: the
        # read returns no rows, in the serving schema, on both layouts
        store = TierStore(spark, str(tmp_path / "t"), n_buckets=2)
        end = T0 + 25 * 3600 * US - US
        for packed in (False, True):
            out = get_timeseries(
                store, "auto", T0, end, urls=["u1"], use_packed=packed
            )
            assert out.schema.simpleString() == (
                "struct<url:string,channel:string,t_us:bigint,value:double>"
            )
            assert out.toPandas().empty


class TestOneUrlRead:
    """A one-url serving read plans, scans and decodes only that url's
    data, once, and the packed layout returns the long layout's rows."""

    HOUR = 3600 * US
    DAY = 86400 * US
    STAMP = (29 * 60 + 30) * US  # hour-tier centre stamp
    URLS = [f"u{k}" for k in range(6)]
    # starts mid-way through the day-1 segment
    START = T0 + DAY + 6 * HOUR + 10 * MIN
    END = T0 + 2 * DAY + 5 * HOUR

    @pytest.fixture(scope="class")
    def store(self, spark, tmp_path_factory):
        store = TierStore(spark, str(tmp_path_factory.mktemp("one_url")), n_buckets=4)
        rows = [
            (u, "text_len", T0 + h * self.HOUR + self.STAMP, None if h % 5 == 0 else k * 100.0 + h)
            for k, u in enumerate(self.URLS)
            for h in range(60)
        ]
        # "late" has a day-1 segment that overlaps the range, but every
        # point of it lies before the range starts
        rows += [
            ("late", "text_len", T0 + self.DAY + h * self.HOUR + self.STAMP, 1.0)
            for h in range(3)
        ]
        df = spark.createDataFrame(
            rows, "url string, channel string, t_us long, value double"
        )
        store.write(df, "hour")
        store.write_packed(df, "hour")  # one-day segments
        return store

    def read(self, store, urls, packed):
        out = get_timeseries(
            store, "hour", self.START, self.END, urls=urls, use_packed=packed
        )
        return sorted(map(tuple, out.collect()), key=lambda r: r[:3])

    def test_packed_read_decodes_once_in_its_buckets(self, store):
        df = get_timeseries(
            store, "hour", self.START, self.END, urls=["u3"], use_packed=True
        )
        # the segment-start bounds come first in PushedFilters: print the
        # scan metadata untruncated so the url predicate shows
        conf = store.spark.conf
        conf.set("spark.sql.maxMetadataStringLength", "1000")
        try:
            plan = df._jdf.queryExecution().executedPlan().toString()
        finally:
            conf.unset("spark.sql.maxMetadataStringLength")
        assert plan.count("MapInPandas") == 1, plan
        # the plan keeps only u3's bucket files, exactly those the
        # manifest pruning names (the packed read widens its start by one
        # segment: a day-1 segment holds the range's first points), and
        # the url predicate reaches parquet below the decode
        files = df.inputFiles()
        (b,) = store._buckets_of(["u3"])
        assert files and all(f"/p_bucket={b}/" in f for f in files), files
        explained = store.explain_read(
            "hour_packed", self.START - self.DAY + 1, self.END, series=["u3"]
        )
        assert len(files) == explained["scanned"] < explained["files_total"]
        assert re.search(r"PushedFilters: [^\n]*EqualTo\(url,u3\)", plan), plan

    def test_packed_equals_long_row_for_row(self, store):
        for urls in (["u3"], ["late"], ["u1", "late"], None):
            long_rows = self.read(store, urls, packed=False)
            assert self.read(store, urls, packed=True) == long_rows, urls
        # the unfiltered read: every url but "late", on all 23 hour slots
        assert {r[0] for r in long_rows} == set(self.URLS)
        assert len(long_rows) == 23 * len(self.URLS)
        assert any(r[3] is None for r in long_rows)

    def test_one_url_read_plans_only_its_bucket_files(self, store):
        df = get_timeseries(store, "hour", self.START, self.END, urls=["u3"])
        files = df.inputFiles()
        (b,) = store._buckets_of(["u3"])
        assert files and all(f"/p_bucket={b}/" in f for f in files), files
        plan = store.explain_read("hour", self.START, self.END, series=["u3"])
        assert len(files) == plan["scanned"] < plan["files_total"], plan
