"""Manifest file-level column statistics (Iceberg data-file metrics analog):
commits record each new file's (t_us, series) bounds from its parquet
footer; reads prune the file list on those bounds driver-side, so sub-day
range reads and single-series fetches plan only files that can match
(store.py::_collect_file_stats / read). The reference's equivalent user
story is ``TimeseriesFactory.get_timeseries(observatory=..., starttime=...,
endtime=...)`` fetching one observatory's interval without touching the
rest of the archive."""

import json
import os

import pytest
from pyspark.sql import functions as F

from usgs_geomag_algorithms_spark.sources.store import TierStore
from usgs_geomag_algorithms_spark.tiers import US

T0 = 1578268800 * US  # 2020-01-06
MIN = 60 * US
HOUR = 3600 * US


def mk(spark, rows):
    return spark.createDataFrame(
        rows, "url string, channel string, t_us long, value double"
    )


def day_rows(urls, hours=4, url_prefix="u"):
    return [
        (f"{url_prefix}{u:02d}", "text_len", T0 + h * HOUR + i * MIN, float(u * 1000 + h * 60 + i))
        for u in range(urls)
        for h in range(hours)
        for i in range(60)
    ]


def rows_of(df):
    return sorted(map(tuple, df.collect()))


def manifest_path(store, tier):
    """The current snapshot: the newest ``_manifests/v<N>.json``."""
    return os.path.join(
        store.path(tier), "_manifests", f"v{store.versions(tier)[-1]}.json"
    )


def manifest(store, tier):
    with open(manifest_path(store, tier)) as f:
        return json.load(f)


class TestStatsRecorded:
    def test_bounds_and_rowcounts(self, spark, tmp_path):
        store = TierStore(spark, str(tmp_path / "t"), n_buckets=2)
        store.write(mk(spark, day_rows(4, hours=2)), "minute")
        m = manifest(store, "minute")
        assert set(m["stats"]) == set(m["files"])
        total = 0
        for f, st in m["stats"].items():
            t_min, t_max, s_min, s_max, n = st
            assert t_min is not None and T0 <= t_min <= t_max
            assert s_min is not None and s_min <= s_max
            total += n
        assert total == 4 * 2 * 60

    def test_stats_survive_disjoint_commits(self, spark, tmp_path):
        store = TierStore(spark, str(tmp_path / "t"), n_buckets=1)
        store.write(mk(spark, day_rows(2, hours=1)), "minute")
        day1 = manifest(store, "minute")["stats"]
        # a second commit into a DIFFERENT day must carry day 1's entries
        patch = [
            ("u00", "text_len", T0 + 24 * HOUR + i * MIN, 1.0)
            for i in range(60)
        ]
        store.upsert(mk(spark, patch), "minute")
        m = manifest(store, "minute")
        assert set(m["stats"]) == set(m["files"])
        for f, st in day1.items():
            assert m["stats"][f] == st


class TestRangePruning:
    def test_subday_read_skips_files(self, spark, tmp_path):
        store = TierStore(spark, str(tmp_path / "t"), n_buckets=1)
        # range-partition the input on t_us: each write task holds a
        # contiguous hour slice, so the one p_date dir gets 4 files with
        # disjoint t bounds (streaming epochs accrete the same shape)
        df = mk(spark, day_rows(1, hours=4)).repartitionByRange(4, "t_us")
        store.write(df, "minute")
        all_files = set(store.read("minute").inputFiles())
        assert len(all_files) == 4
        got = store.read("minute", start_us=T0, end_us=T0 + HOUR - MIN)
        assert len(set(got.inputFiles())) < len(all_files)
        full = store.read("minute").where(
            (F.col("t_us") >= T0) & (F.col("t_us") <= T0 + HOUR - MIN)
        )
        assert rows_of(got) == rows_of(full)

    def test_out_of_range_read_plans_nothing(self, spark, tmp_path):
        store = TierStore(spark, str(tmp_path / "t"), n_buckets=1)
        store.write(mk(spark, day_rows(1, hours=1)), "minute")
        # same day (so p_date pruning alone cannot help), later hours
        got = store.read(
            "minute", start_us=T0 + 5 * HOUR, end_us=T0 + 6 * HOUR
        )
        assert got.count() == 0
        assert got.inputFiles() == []


class TestSeriesPruning:
    def test_bucket_pruning(self, spark, tmp_path):
        store = TierStore(spark, str(tmp_path / "t"), n_buckets=8)
        store.write(mk(spark, day_rows(16, hours=1)), "minute")
        all_files = set(store.read("minute").inputFiles())
        got = store.read("minute", series="u03")
        assert len(set(got.inputFiles())) < len(all_files)
        full = store.read("minute").where(F.col("url") == "u03")
        assert rows_of(got) == rows_of(full)

    def test_stats_pruning_after_range_compaction(self, spark, tmp_path):
        # one bucket: only the per-file series bounds can prune here
        store = TierStore(spark, str(tmp_path / "t"), n_buckets=1)
        store.write(mk(spark, day_rows(8, hours=1)), "minute")
        store.compact("minute", target_files_per_partition=4)
        all_files = set(store.read("minute").inputFiles())
        assert len(all_files) >= 2
        got = store.read("minute", series="u05")
        assert len(set(got.inputFiles())) < len(all_files)
        full = store.read("minute").where(F.col("url") == "u05")
        assert rows_of(got) == rows_of(full)

    def test_multi_key_and_semi_join_path(self, spark, tmp_path, monkeypatch):
        store = TierStore(spark, str(tmp_path / "t"), n_buckets=2)
        store.write(mk(spark, day_rows(6, hours=1)), "minute")
        keys = ["u01", "u04"]
        expected = rows_of(
            store.read("minute").where(F.col("url").isin(keys))
        )
        assert rows_of(store.read("minute", series=keys)) == expected
        # force the broadcast-semi-join branch (key list above the
        # literal-isin plan-size cap)
        monkeypatch.setattr(TierStore, "MAX_LITERAL_DELETE_KEYS", 1)
        assert rows_of(store.read("minute", series=keys)) == expected

    def test_empty_and_missing_series(self, spark, tmp_path):
        store = TierStore(spark, str(tmp_path / "t"), n_buckets=2)
        store.write(mk(spark, day_rows(2, hours=1)), "minute")
        assert store.read("minute", series=[]).count() == 0
        assert store.read("minute", series="nope").count() == 0


class TestBackwardCompat:
    def test_stats_free_manifest_still_reads(self, spark, tmp_path):
        store = TierStore(spark, str(tmp_path / "t"), n_buckets=2)
        store.write(mk(spark, day_rows(3, hours=1)), "minute")
        expected = rows_of(store.read("minute").where(F.col("url") == "u01"))
        # simulate a manifest written before stats existed
        mp = manifest_path(store, "minute")
        with open(mp) as f:
            m = json.load(f)
        m.pop("stats")
        with open(mp, "w") as f:
            json.dump(m, f)
        got = store.read("minute", series="u01")
        assert rows_of(got) == expected


class TestExplainRead:
    def test_prune_reasons_match_actual_read(self, spark, tmp_path):
        from usgs_geomag_algorithms_spark.sources.store import TierStore

        US = 1_000_000
        DAY = 86_400 * US
        T0 = 1577836800 * US
        s = TierStore(spark, str(tmp_path), n_buckets=4)
        rows = [
            (u, "text_len", T0 + d * DAY + i * 60 * US, float(i))
            for u in ("u0", "u1", "u2")
            for d in range(3)
            for i in range(5)
        ]
        s.write(
            spark.createDataFrame(
                rows, "url string, channel string, t_us long, value double"
            ),
            "minute",
        )
        # full read: everything scanned, nothing pruned
        e = s.explain_read("minute")
        assert e["scanned"] == e["files_total"] > 0
        assert e["pruned_date"] == e["pruned_bucket"] == 0
        # day-restricted: date pruning engages; scan matches read()
        e1 = s.explain_read("minute", start_us=T0 + DAY, end_us=T0 + DAY + 3600 * US)
        assert e1["pruned_date"] > 0
        assert e1["scanned"] + e1["pruned_date"] + e1["pruned_bounds"] == e1["files_total"]
        # series-restricted: bucket pruning engages
        e2 = s.explain_read("minute", series="u0")
        assert e2["pruned_bucket"] + e2["pruned_bounds"] > 0
        assert e2["scanned"] < e2["files_total"]
        # pending delete accounting
        kd = spark.createDataFrame(
            [("u0", "text_len", T0)], "url string, channel string, t_us long"
        )
        s.delete_rows(kd, "minute")
        e3 = s.explain_read("minute")
        assert e3["pending_delete_files"] == 1
        assert e3["masked_scan"] == e3["scanned"]  # all files predate the delete
        s.materialize_deletes("minute")
        e4 = s.explain_read("minute")
        assert e4["pending_delete_files"] == 0 and e4["masked_scan"] == 0
