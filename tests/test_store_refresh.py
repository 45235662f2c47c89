"""Tier store (partitioned parquet, upsert, retention, lineage) and
incremental refresh (run_as_update analog, checkpoint resume) — the F6
scenario from FIXTURES.md (ref Controller.py:326-474 semantics)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from usgs_geomag_algorithms_spark.operators.rollup import rollup_step
from usgs_geomag_algorithms_spark.plans import refresh as R
from usgs_geomag_algorithms_spark.sources.store import TierStore
from usgs_geomag_algorithms_spark.tiers import STEPS, US

MIN_HOUR = STEPS[2]
T0 = 1577836800 * US  # 2020-01-01 00:00
MIN = 60 * US
HOUR = 3600 * US


def minute_rows(n_hours, url="u", ch="text_len"):
    rng = np.random.default_rng(9)
    return [
        (url, ch, T0 + i * MIN, float(rng.normal(100, 5)))
        for i in range(n_hours * 60)
    ]


@pytest.fixture()
def store(spark, tmp_path):
    return TierStore(spark, str(tmp_path / "tiers"), n_buckets=4)


def mk(spark, rows):
    return spark.createDataFrame(
        rows, schema="url string, channel string, t_us long, value double"
    )


def hour_stamp(h):
    return T0 + h * HOUR + (29 * 60 + 30) * US


class TestPackedStore:
    def test_roundtrip_matches_long_layout(self, spark, store):
        rows = minute_rows(4)
        rows[17] = (rows[17][0], rows[17][1], rows[17][2], None)  # a gap
        df = mk(spark, rows)
        store.write(df, "minute")
        store.write_packed(df, "minute", segment_us=HOUR)
        plain = sorted(map(tuple, store.read("minute").collect()))
        packed = sorted(map(tuple, store.read_packed("minute").collect()))
        assert packed == plain  # bit-exact values, NULL gap preserved

    def test_range_read_prunes_segments(self, spark, store):
        df = mk(spark, minute_rows(6))
        store.write_packed(df, "minute", segment_us=HOUR)
        back = store.read_packed("minute", T0 + HOUR + 30 * MIN, T0 + 3 * HOUR - MIN)
        got = sorted(r.t_us for r in back.collect())
        assert got[0] == T0 + HOUR + 30 * MIN and got[-1] == T0 + 3 * HOUR - MIN
        assert len(got) == 90
        # pruning reaches the parquet scan: only segments overlapping the
        # range survive the pushed filters on the segment start (t_us)
        segs = spark.read.parquet(store.path("minute_packed"))
        pruned = segs.where(
            (F.col("t_us") > T0 + 30 * MIN) &
            (F.col("t_us") <= T0 + 3 * HOUR - MIN)
        )
        assert pruned.count() < segs.count()

    def test_packed_tier_is_a_snapshot_tier(self, spark, store):
        rows = minute_rows(2)
        first = sorted(rows)
        changed = [(u, c, t, v + 1.0) for u, c, t, v in rows]
        store.write_packed(mk(spark, rows), "minute", segment_us=HOUR)
        assert len(store.versions("minute_packed")) == 1
        v1 = store.current_version("minute_packed")
        planned = store.read_packed("minute")  # against snapshot v1
        store.write_packed(mk(spark, changed), "minute", segment_us=HOUR)
        assert store.versions("minute_packed") == [v1, v1 + 1]
        # the frame planned before the second write keeps its snapshot
        assert sorted(map(tuple, planned.collect())) == first
        now = sorted(map(tuple, store.read_packed("minute").collect()))
        assert now == sorted(changed)
        store.rollback("minute_packed", v1)
        back = sorted(map(tuple, store.read_packed("minute").collect()))
        assert back == first

    def test_segment_width_is_fixed_per_tier(self, spark, store):
        rows = minute_rows(2)
        store.write_packed(mk(spark, rows), "minute", segment_us=HOUR)
        v1 = store.current_version("minute_packed")
        with pytest.raises(ValueError, match="segments"):
            store.write_packed(mk(spark, rows), "minute", segment_us=12 * HOUR)
        # nothing committed, and every snapshot still reads with its width
        assert store.current_version("minute_packed") == v1
        back = store.read_packed("minute", T0 + 30 * MIN, T0 + 2 * HOUR)
        assert back.count() == 90

    def test_compression_beats_long_layout(self, spark, store):
        import os

        df = mk(spark, minute_rows(12))
        store.write(df, "minute")
        store.write_packed(df, "minute", segment_us=12 * HOUR)

        def du(p):
            return sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(p)
                for f in fs
                if f.endswith(".parquet")
            )

        assert du(store.path("minute_packed")) < du(store.path("minute"))

    def test_missing_packed_tier_reads_empty(self, spark, store):
        assert store.read_packed("nope").count() == 0

    def test_retention_drops_packed_partitions(self, spark, store):
        # packed layout shares the p_date spec, so retention partition
        # drops apply to it unchanged
        rows = minute_rows(30)  # spans two days (T0 + 30h)
        store.write_packed(mk(spark, rows), "minute", segment_us=12 * HOUR)
        before = store.read_packed("minute").count()
        dropped = store.expire_before("minute_packed", T0 + 25 * HOUR)
        assert dropped == ["p_date=2020-01-01"]
        after = store.read_packed("minute").count()
        assert 0 < after < before


class TestStore:
    def test_roundtrip_and_prune(self, spark, store):
        df = mk(spark, minute_rows(4))
        store.write(df, "minute")
        back = store.read("minute", T0 + HOUR, T0 + 2 * HOUR - MIN)
        assert back.count() == 60
        assert {r.t_us for r in back.collect()} == {
            T0 + HOUR + i * MIN for i in range(60)
        }

    def test_upsert_last_wins(self, spark, store):
        store.write(mk(spark, minute_rows(1)), "minute")
        patch = mk(spark, [("u", "text_len", T0 + 5 * MIN, 999.0)])
        store.upsert(patch, "minute")
        back = {r.t_us: r.value for r in store.read("minute").collect()}
        assert back[T0 + 5 * MIN] == 999.0
        assert len(back) == 60  # untouched slots preserved

    def test_retention_drop(self, spark, store):
        rows = [("u", "c", T0 + d * 86400 * US, 1.0) for d in range(4)]
        store.write(mk(spark, rows), "day")
        dropped = store.expire_before("day", T0 + 2 * 86400 * US)
        assert len(dropped) == 2
        assert store.read("day").count() == 2


class TestRefresh:
    def test_fill_hole_and_backfill(self, spark, store):
        # minute tier: 4 hours of data
        store.write(mk(spark, minute_rows(4)), "minute")
        # hour tier pre-populated with hours 0 and 2 only
        full = rollup_step(
            store.read("minute"), MIN_HOUR,
            range_start_us=T0, range_end_us=T0 + 4 * HOUR - MIN,
        )
        pre = full.where(F.col("t_us").isin([hour_stamp(0), hour_stamp(2)]))
        store.write(pre, "hour")

        metrics = R.run_as_update(
            store, "minute", "hour", MIN_HOUR,
            start_us=hour_stamp(1), end_us=hour_stamp(3), update_limit=1,
        )
        assert metrics["gaps_filled"] >= 2
        got = {r.t_us: r.value for r in store.read("hour").collect()}
        exp = {r.t_us: r.value for r in full.collect()}
        assert set(got) == {hour_stamp(h) for h in range(4)}
        for t, v in exp.items():
            np.testing.assert_almost_equal(got[t], v, decimal=9)

    def test_idempotent_rerun(self, spark, store):
        store.write(mk(spark, minute_rows(3)), "minute")
        m1 = R.run_as_update(
            store, "minute", "hour", MIN_HOUR, hour_stamp(0), hour_stamp(2)
        )
        before = sorted(map(tuple, store.read("hour").collect()))
        m2 = R.run_as_update(
            store, "minute", "hour", MIN_HOUR, hour_stamp(0), hour_stamp(2)
        )
        after = sorted(map(tuple, store.read("hour").collect()))
        assert before == after
        assert m2["gaps_filled"] == 0  # everything valid -> no gaps

    def test_checkpoint_resume_skips_completed(self, spark, store):
        store.write(mk(spark, minute_rows(2)), "minute")
        # simulate a prior killed run that completed hour 0 only
        R.save_checkpoint(store, "hour", {"completed": [hour_stamp(0)]})
        metrics = R.run_as_update(
            store, "minute", "hour", MIN_HOUR, hour_stamp(0), hour_stamp(1),
            update_limit=0,
        )
        assert metrics["gaps_filled"] == 1  # only the hour-1 run recomputed
        got = {r.t_us for r in store.read("hour").collect()}
        assert got == {hour_stamp(1)}  # hour 0 skipped per checkpoint

    def test_lineage_records(self, spark, store):
        store.write(mk(spark, minute_rows(2)), "minute")
        R.run_as_update(
            store, "minute", "hour", MIN_HOUR, hour_stamp(0), hour_stamp(1),
            run_id="test-run",
        )
        lineage = store.read_lineage("hour")
        gap_recs = [r for r in lineage if "gap_start_us" in r]
        assert len(gap_recs) >= 1
        assert all(r["run_id"] == "test-run" for r in gap_recs)
        assert all(r["input_start_us"] <= r["gap_start_us"] for r in gap_recs)


class TestCompaction:
    def test_compact_preserves_rows_and_shrinks_files(self, spark, store):
        import glob

        # a many-task write scatters each partition across task files
        # (the accretion mode: upsert rewrites are clean, bulk writes from
        # wide stages are not)
        store.write(mk(spark, minute_rows(4)).repartition(8), "minute")
        base = store.path("minute")
        before_rows = sorted(map(tuple, store.read("minute").collect()))
        before_files = len(store._load_manifest(base)["files"])
        m = store.compact("minute")
        assert m["files_after"] < before_files
        after_rows = sorted(map(tuple, store.read("minute").collect()))
        assert after_rows == before_rows
        # one LIVE file per (p_date, p_bucket) partition at target=1
        # (replaced files linger on disk until trash GC — snapshot grace)
        live = store._load_manifest(base)["files"]
        per_part = {}
        for f in live:
            per_part.setdefault(glob.os.path.dirname(f), []).append(f)
        assert per_part and all(len(v) == 1 for v in per_part.values())

    def test_compact_rejects_packed_tiers(self, spark, store):
        store.write_packed(mk(spark, minute_rows(1)), "minute")
        with pytest.raises(ValueError):
            store.compact("minute_packed")


class TestStats:
    def test_tier_stats(self, spark, store):
        rows = minute_rows(2) + minute_rows(2, url="v")
        rows[3] = (rows[3][0], rows[3][1], rows[3][2], None)
        store.write(mk(spark, rows), "minute")
        s = store.stats("minute")
        assert s["rows"] == 240 and s["valid_rows"] == 239
        assert s["t_min_us"] == T0 and s["t_max_us"] == T0 + 119 * MIN
        assert 1 <= s["approx_series"] <= 3  # HLL estimate of 2 urls


class TestRefreshSemantics:
    def test_per_series_gap_refilled(self, spark, store):
        # hour slot already valid for url 'u' must NOT hide url 'w' whose
        # minute data arrived late (union gap semantics across series)
        store.write(mk(spark, minute_rows(1) + minute_rows(1, url="w")), "minute")
        full = rollup_step(
            store.read("minute"), MIN_HOUR,
            range_start_us=T0, range_end_us=T0 + HOUR - MIN,
        )
        store.write(full.where(F.col("url") == "u"), "hour")  # only u's hour
        m = R.run_as_update(
            store, "minute", "hour", MIN_HOUR, hour_stamp(0), hour_stamp(0),
            update_limit=0,
        )
        assert m["gaps_filled"] == 1
        got = {r.url for r in store.read("hour").collect()}
        assert got == {"u", "w"}

    def test_no_input_slot_retried_after_data_lands(self, spark, store):
        # run before minute data exists: nothing written, but the slot must
        # not be poisoned — once data lands, the next run fills it
        store.write(mk(spark, []), "minute")
        m1 = R.run_as_update(
            store, "minute", "hour", MIN_HOUR, hour_stamp(0), hour_stamp(0),
            update_limit=0,
        )
        assert m1["rows_written"] == 0
        store.write(mk(spark, minute_rows(1)), "minute")
        m2 = R.run_as_update(
            store, "minute", "hour", MIN_HOUR, hour_stamp(0), hour_stamp(0),
            update_limit=0,
        )
        assert m2["rows_written"] >= 1
        assert store.read("hour").count() == 1

    def test_masked_null_slot_not_rechurned(self, spark, store):
        # 30/60 minutes -> hour masked NULL; the NULL ROW counts as
        # computed, so a second run does no work (no recompute loop)
        store.write(mk(spark, minute_rows(1)[:30]), "minute")
        m1 = R.run_as_update(
            store, "minute", "hour", MIN_HOUR, hour_stamp(0), hour_stamp(0),
            update_limit=0,
        )
        assert m1["gaps_filled"] == 1
        rows = store.read("hour").collect()
        assert len(rows) == 1 and rows[0].value is None
        m2 = R.run_as_update(
            store, "minute", "hour", MIN_HOUR, hour_stamp(0), hour_stamp(0),
            update_limit=0,
        )
        assert m2["gaps_filled"] == 0 and m2["rows_written"] == 0

    def test_unaligned_window_still_backfills(self, spark, store):
        # window starting mid-hour: a gap at the first expected slot must
        # still trigger the step-one-window-earlier recursion
        store.write(mk(spark, minute_rows(3)), "minute")
        start = hour_stamp(1) - 10 * MIN  # unaligned (01:19:30)
        m = R.run_as_update(
            store, "minute", "hour", MIN_HOUR, start, hour_stamp(2),
            update_limit=1,
        )
        got = {r.t_us for r in store.read("hour").collect()}
        # hours 1,2 from the window; hour 0 from the backfill recursion
        assert hour_stamp(0) in got and hour_stamp(1) in got and hour_stamp(2) in got


class TestYearScaleRefresh:
    """The wide-window shape: a YEAR of minute->hour refresh (8,784
    expected hour slots; the gap audit spans 527k minute slots) must stay
    bounded on the driver — gap discovery returns merged intervals only,
    the checkpoint is run-length encoded, and each gap's rollup executes
    exactly once (one lineage record per gap, counted)."""

    def test_year_window_two_islands(self, spark, store, tmp_path):
        import json

        YEAR_HOURS = 366 * 24  # 2020 is a leap year
        # two small data islands far apart: day 10 and day 300
        d10 = [
            ("u", "c", T0 + (10 * 24 * 60 + i) * MIN, float(i)) for i in range(180)
        ]
        d300 = [
            ("u", "c", T0 + (300 * 24 * 60 + i) * MIN, float(i)) for i in range(120)
        ]
        store.write(mk(spark, d10 + d300), "minute")

        lo, hi = hour_stamp(0), hour_stamp(YEAR_HOURS - 1)
        gaps = R.find_output_gaps(store, "hour", MIN_HOUR, lo, hi, "minute")
        # the driver sees merged INTERVALS (2 islands -> 2 gaps), never
        # the 8,784-slot expected list
        assert len(gaps) == 2
        assert gaps[0][0] == hour_stamp(10 * 24) and gaps[0][1] == hour_stamp(
            10 * 24 + 2
        )
        assert gaps[1][0] == hour_stamp(300 * 24)

        metrics = R.run_as_update(
            store, "minute", "hour", MIN_HOUR, lo, hi, update_limit=0
        )
        assert metrics["gaps_filled"] == 2
        # exactly one rollup execution per gap: one lineage record each
        recs = [r for r in store.read_lineage("hour") if "gap_start_us" in r]
        assert len(recs) == 2
        got = {r.t_us for r in store.read("hour").collect()}
        assert got == {
            hour_stamp(10 * 24),
            hour_stamp(10 * 24 + 1),
            hour_stamp(10 * 24 + 2),
            hour_stamp(300 * 24),
            hour_stamp(300 * 24 + 1),
        }
        # converged: a re-run over the same year finds nothing
        m2 = R.run_as_update(
            store, "minute", "hour", MIN_HOUR, lo, hi, update_limit=0
        )
        assert m2["gaps_filled"] == 0 and m2["rows_written"] == 0

    def test_checkpoint_is_run_length_encoded(self, spark, store, monkeypatch):
        import json
        import os

        store.write(mk(spark, minute_rows(6)), "minute")
        calls = {"n": 0}
        orig = R.rollup_step

        def failing(*a, **k):
            calls["n"] += 1
            if calls["n"] > 1:
                raise RuntimeError("injected kill")
            return orig(*a, **k)

        monkeypatch.setattr(R, "rollup_step", failing)
        # two separate pre-existing holes -> two gaps; second recompute dies
        full = rollup_step(
            store.read("minute"), MIN_HOUR,
            range_start_us=T0, range_end_us=T0 + 6 * HOUR - MIN,
        )
        pre = full.where(
            F.col("t_us").isin([hour_stamp(1), hour_stamp(4)])
        )
        store.write(pre, "hour")
        with pytest.raises(RuntimeError, match="injected kill"):
            R.run_as_update(
                store, "minute", "hour", MIN_HOUR,
                hour_stamp(0), hour_stamp(5), update_limit=0,
            )
        ckpt = json.load(
            open(os.path.join(store.root, "_checkpoint_hour.json"))
        )
        # killed mid-run: completed work is interval pairs, not slot lists
        assert "completed_runs" in ckpt and "completed" not in ckpt
        assert ckpt["completed_runs"] == [[hour_stamp(0), hour_stamp(0)]]
        monkeypatch.setattr(R, "rollup_step", orig)
        # resume completes the remaining gaps and skips the finished one
        m = R.run_as_update(
            store, "minute", "hour", MIN_HOUR,
            hour_stamp(0), hour_stamp(5), update_limit=0,
        )
        got = {r.t_us for r in store.read("hour").collect()}
        assert got == {hour_stamp(h) for h in range(6)}

    def test_legacy_flat_checkpoint_converts(self, spark, store):
        import json
        import os

        path = os.path.join(store.root, "_checkpoint_hour.json")
        slots = [hour_stamp(h) for h in range(3)] + [hour_stamp(7)]
        with open(path, "w") as f:
            json.dump({"completed": slots}, f)
        ckpt = R.load_checkpoint(store, "hour", MIN_HOUR.out_us)
        assert ckpt["completed_runs"] == [
            [hour_stamp(0), hour_stamp(2)],
            [hour_stamp(7), hour_stamp(7)],
        ]


class TestEpochEdgeAnchors:
    """Anchor arithmetic in find_output_gaps must use floor/ceil semantics,
    not truncate-toward-zero `div` — pre-1970 (negative-epoch) synthetic
    timestamps otherwise mis-enumerate expected slots near t=0."""

    def test_gap_anchors_shift_invariant_across_epoch_zero(self, spark, store):
        step = STEPS[1]  # second->minute firfilter (hw=45s): signed offsets
        SEC = US
        # a data island straddling epoch 0: t in [-180s, +180s)
        rows0 = [("u", "c", (i - 180) * SEC, 1.0) for i in range(360)]
        shift = T0  # multiple of out_us
        rows1 = [(u, c, t + shift, v) for (u, c, t, v) in rows0]
        store.write(mk(spark, rows0), "sec_neg")
        store.write(mk(spark, rows1), "sec_pos")
        g0 = R.find_output_gaps(
            store, "min_neg", step, -180 * SEC, 180 * SEC, "sec_neg"
        )
        g1 = R.find_output_gaps(
            store, "min_pos", step, shift - 180 * SEC, shift + 180 * SEC, "sec_pos"
        )
        assert g0, "expected at least one gap interval"
        assert g0 == [(s - shift, e - shift) for s, e in g1]


class TestRefreshChanged:
    """CDC-driven staleness repair: late-data upserts and deletions under
    EXISTING output rows — the hole gap-driven run_as_update can't see."""

    def _build(self, spark, store, hours=4):
        store.write(mk(spark, minute_rows(hours)), "minute")
        R.run_as_update(
            store, "minute", "hour", MIN_HOUR,
            hour_stamp(0), hour_stamp(hours - 1), update_limit=0,
        )
        return store.versions("minute")[-1]

    def test_late_update_recomputes_only_touched_hours(self, spark, store):
        v = self._build(spark, store)
        stale = {r.t_us: r.value for r in store.read("hour").collect()}
        # late data changes 5 minutes inside hour 2
        patch = mk(spark, [
            ("u", "text_len", T0 + 2 * HOUR + i * MIN, 500.0)
            for i in range(5)
        ])
        store.upsert(patch, "minute")
        # gap-driven update sees nothing (slot exists)
        m_gap = R.run_as_update(
            store, "minute", "hour", MIN_HOUR, hour_stamp(0), hour_stamp(3),
        )
        assert m_gap["gaps_filled"] == 0
        assert store.read("hour").where(
            F.col("t_us") == hour_stamp(2)
        ).first().value == pytest.approx(stale[hour_stamp(2)])
        # CDC refresh recomputes exactly hour 2
        m = R.refresh_changed(store, "minute", "hour", MIN_HOUR, v)
        assert m["runs_recomputed"] == 1
        assert m["rows_retired"] == 0
        got = {r.t_us: r.value for r in store.read("hour").collect()}
        expected = {
            r.t_us: r.value
            for r in rollup_step(
                store.read("minute"), MIN_HOUR,
                range_start_us=T0, range_end_us=T0 + 4 * HOUR - MIN,
            ).collect()
        }
        assert got[hour_stamp(2)] == pytest.approx(expected[hour_stamp(2)])
        assert got[hour_stamp(2)] != pytest.approx(stale[hour_stamp(2)])
        for h in (0, 1, 3):  # untouched hours unchanged
            assert got[hour_stamp(h)] == pytest.approx(stale[hour_stamp(h)])

    def test_series_erasure_retires_output_rows(self, spark, store):
        store.write(
            mk(spark, minute_rows(2, url="u") + minute_rows(2, url="v")),
            "minute",
        )
        R.run_as_update(
            store, "minute", "hour", MIN_HOUR,
            hour_stamp(0), hour_stamp(1), update_limit=0,
        )
        v_ver = store.versions("minute")[-1]
        store.delete_series("minute", ["v"])
        m = R.refresh_changed(store, "minute", "hour", MIN_HOUR, v_ver)
        assert m["rows_retired"] == 2  # v's two hour rows nulled
        rows = store.read("hour").collect()
        u_vals = [r for r in rows if r.url == "u"]
        v_vals = [r for r in rows if r.url == "v"]
        assert len(u_vals) == 2 and all(r.value is not None for r in u_vals)
        assert all(r.value is None for r in v_vals)  # auditable no-data

    def test_no_change_is_noop_and_idempotent(self, spark, store):
        v = self._build(spark, store, hours=2)
        m = R.refresh_changed(store, "minute", "hour", MIN_HOUR, v)
        assert m["runs_recomputed"] == 0
        # after a real refresh, re-running from the new version is a no-op
        store.upsert(mk(spark, [("u", "text_len", T0, 9.0)]), "minute")
        R.refresh_changed(store, "minute", "hour", MIN_HOUR, v)
        v2 = store.versions("minute")[-1]
        m2 = R.refresh_changed(store, "minute", "hour", MIN_HOUR, v2)
        assert m2["runs_recomputed"] == 0

    def test_sync_reads_changelog_once(self, spark, store, monkeypatch):
        from usgs_geomag_algorithms_spark.plans import pipeline as P

        v = self._build(spark, store, hours=2)
        stale = {r.t_us: r.value for r in store.read("hour").collect()}
        store.upsert(mk(spark, [("u", "text_len", T0 + HOUR, 500.0)]), "minute")
        calls = []
        orig = TierStore.changelog

        def counted(self, *a, **kw):
            calls.append(a)
            return orig(self, *a, **kw)

        monkeypatch.setattr(TierStore, "changelog", counted)
        m = P.sync_changed(store, v)
        assert calls == [("minute", v)]
        assert m["hour"]["runs_recomputed"] == 1
        got = {r.t_us: r.value for r in store.read("hour").collect()}
        assert got[hour_stamp(1)] != pytest.approx(stale[hour_stamp(1)])
        assert got[hour_stamp(0)] == pytest.approx(stale[hour_stamp(0)])


class TestSyncCursor:
    """Cursor-managed CDC sync: the store remembers each consumer's
    minute-tier resume pointer so a cron `--mode sync` is stateless."""

    def _build(self, spark, store, hours=3):
        from usgs_geomag_algorithms_spark.plans import pipeline as P

        store.write(mk(spark, minute_rows(hours)), "minute")
        R.run_as_update(
            store, "minute", "hour", MIN_HOUR,
            hour_stamp(0), hour_stamp(hours - 1), update_limit=0,
        )
        return P

    def test_first_poll_baselines_then_sync_advances(self, spark, store):
        P = self._build(spark, store)
        m0 = P.sync_from_cursor(store, consumer="c1")
        v0 = store.current_version("minute")
        assert m0["synced"] is False and m0["baselined_at"] == v0
        assert store.get_cursor("minute", "c1") == v0
        # no-change poll is a no-op
        m1 = P.sync_from_cursor(store, consumer="c1")
        assert m1 == {"consumer": "c1", "synced": False, "cursor": v0}
        # late data inside hour 1 -> poll recomputes exactly that hour
        stale = {r.t_us: r.value for r in store.read("hour").collect()}
        store.upsert(
            mk(spark, [
                ("u", "text_len", T0 + HOUR + i * MIN, 500.0) for i in range(5)
            ]),
            "minute",
        )
        m2 = P.sync_from_cursor(store, consumer="c1")
        assert m2["synced"] is True and m2["from_version"] == v0
        assert store.get_cursor("minute", "c1") == m2["to_version"]
        got = {r.t_us: r.value for r in store.read("hour").collect()}
        assert got[hour_stamp(1)] != pytest.approx(stale[hour_stamp(1)])
        assert got[hour_stamp(0)] == pytest.approx(stale[hour_stamp(0)])
        # acknowledged: the same change is not replayed
        m3 = P.sync_from_cursor(store, consumer="c1")
        assert m3["synced"] is False

    def test_independent_consumers_and_regression_guard(self, spark, store):
        P = self._build(spark, store, hours=2)
        P.sync_from_cursor(store, consumer="a")
        v0 = store.current_version("minute")
        store.upsert(mk(spark, [("u", "text_len", T0, 7.0)]), "minute")
        # consumer b baselines NOW — it never replays a's pending change
        mb = P.sync_from_cursor(store, consumer="b")
        assert mb["synced"] is False
        ma = P.sync_from_cursor(store, consumer="a")
        assert ma["synced"] is True and ma["from_version"] == v0
        assert store.cursors("minute") == {
            "a": store.current_version("minute"),
            "b": store.current_version("minute"),
        }
        with pytest.raises(ValueError, match="regression"):
            store.set_cursor("minute", "a", v0 - 1)
        store.set_cursor("minute", "a", v0 - 1, force=True)  # re-baseline
        assert store.get_cursor("minute", "a") == v0 - 1

    def test_aged_out_cursor_raises_time_travel(self, spark, store):
        from usgs_geomag_algorithms_spark.sources.store import TimeTravelError

        P = self._build(spark, store, hours=1)
        P.sync_from_cursor(store, consumer="slow")
        for i in range(store.GC_GRACE_VERSIONS + 2):
            store.upsert(
                mk(spark, [("u", "text_len", T0 + i * MIN, float(i))]),
                "minute",
            )
        with pytest.raises(TimeTravelError, match="re-baseline"):
            P.sync_from_cursor(store, consumer="slow")

    def test_cli_sync_without_since_version(self, spark, store, capsys):
        import json as _json

        from jobs.run_cascade import main

        self._build(spark, store)
        assert main(["--store", store.root, "--mode", "sync"]) == 0
        m0 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert m0["synced"] is False and "baselined_at" in m0
        store.upsert(mk(spark, [("u", "text_len", T0, 9.0)]), "minute")
        assert main(["--store", store.root, "--mode", "sync"]) == 0
        m1 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert m1["synced"] is True
