"""HLL sketch tier: error bounds, mergeability, storability."""

import pyspark.sql.functions as F

from usgs_geomag_algorithms_spark.operators.sketches import (
    DAY_US,
    HOUR_US,
    approx_users_day,
    hll_hour_sketches,
    hll_rollup,
)


def _events(spark, n_users=700, hours=30, per_hour=50):
    # deterministic synthetic events: user ids cycle with an offset so
    # hours overlap heavily (the case exact hour counts cannot roll up)
    rows = (
        spark.range(hours * per_hour)
        .select(
            F.expr("id % " + str(hours * per_hour)).alias("i"),
            F.expr(f"id div {per_hour}").alias("h"),
        )
        .select(
            F.expr(
                f"timestamp_micros(cast(h * {HOUR_US} + (i % {per_hour})"
                " * 1000000 as bigint))"
            ).alias("ts"),
            F.expr(f"cast((i * 13) % {n_users} as bigint)").alias(
                "user_id"
            ),
        )
    )
    return rows


class TestHllTier:
    def test_estimate_within_hll_error(self, spark):
        ev = _events(spark)
        exact = {
            r["d_us"]: r["n"]
            for r in ev.select(
                F.expr(
                    f"(unix_micros(ts) div {DAY_US}) * {DAY_US}"
                ).alias("d_us"),
                "user_id",
            )
            .groupBy("d_us")
            .agg(F.countDistinct("user_id").alias("n"))
            .collect()
        }
        got = {
            r["d_us"]: r["approx_users"]
            for r in approx_users_day(ev).collect()
        }
        assert set(got) == set(exact)
        for d, est in got.items():
            assert abs(est - exact[d]) / exact[d] < 0.05

    def test_union_matches_direct_day_sketch(self, spark):
        """Unioning 24 hour sketches must estimate like sketching the
        day directly — the property that makes the tier derivable."""
        ev = _events(spark)
        merged = {
            r["d_us"]: r["approx_users"]
            for r in hll_rollup(hll_hour_sketches(ev)).collect()
        }
        direct = {
            r["t_us"]: int(r["est"])
            for r in ev.select(
                F.expr(f"(unix_micros(ts) div {DAY_US}) * {DAY_US}").alias(
                    "t_us"
                ),
                F.col("user_id").cast("string").alias("_k"),
            )
            .groupBy("t_us")
            .agg(
                F.expr(
                    "cast(hll_sketch_estimate(hll_sketch_agg(_k, 12))"
                    " as bigint)"
                ).alias("est")
            )
            .collect()
        }
        assert set(merged) == set(direct)
        for d in merged:
            # identical lg_k and input set: allow only sketch-mode jitter
            assert abs(merged[d] - direct[d]) <= max(2, 0.01 * direct[d])

    def test_n_events_sums_through_rollup(self, spark):
        ev = _events(spark)
        total = (
            hll_rollup(hll_hour_sketches(ev))
            .agg(F.sum("n_events").alias("s"))
            .collect()[0]["s"]
        )
        assert total == ev.count()

    def test_sketch_column_is_bounded_binary(self, spark):
        """The hour tier must be storable: binary column, size bounded by
        the register array (2^12 registers -> ~few KB), independent of
        the hour's event count."""
        ev = _events(spark)
        sk = hll_hour_sketches(ev)
        assert dict(sk.dtypes)["sketch"] == "binary"
        mx = sk.select(
            F.max(F.length("sketch")).alias("m")
        ).collect()[0]["m"]
        assert mx <= 4096 + 64


class TestSketchStore:
    """The sketch tier persists through the snapshot-manifest TierStore
    (value_schema='sketch binary, n_events long') and stays derivable."""

    def test_roundtrip_and_day_rollup_from_store(self, spark, tmp_path):
        from usgs_geomag_algorithms_spark.operators.sketches import (
            read_sketch_tier,
            sketch_store,
            write_sketch_tier,
        )

        ev = _events(spark)
        store = sketch_store(spark, str(tmp_path / "sk"))
        write_sketch_tier(store, hll_hour_sketches(ev))
        back = read_sketch_tier(store)
        direct = {
            r["d_us"]: (r["approx_users"], r["n_events"])
            for r in hll_rollup(hll_hour_sketches(ev)).collect()
        }
        from_store = {
            r["d_us"]: (r["approx_users"], r["n_events"])
            for r in hll_rollup(back).collect()
        }
        assert from_store == direct

    def test_upsert_recompute_replaces_hour(self, spark, tmp_path):
        from usgs_geomag_algorithms_spark.operators.sketches import (
            read_sketch_tier,
            sketch_store,
            write_sketch_tier,
        )

        ev = _events(spark)
        store = sketch_store(spark, str(tmp_path / "sk"))
        write_sketch_tier(store, hll_hour_sketches(ev))
        # recompute hour 0 from HALF the events (late-data correction):
        # the upsert must REPLACE the hour-0 sketch, not union into it
        ev0 = ev.where(
            (F.expr(f"unix_micros(ts) div {HOUR_US}") == 0)
            & (F.col("user_id") % 2 == 0)
        )
        write_sketch_tier(store, hll_hour_sketches(ev0))
        back = read_sketch_tier(store)
        est0 = (
            back.where(F.col("t_us") == 0)
            .select(
                F.expr(
                    "cast(hll_sketch_estimate(sketch) as bigint)"
                ).alias("e"),
                "n_events",
            )
            .collect()[0]
        )
        exact0 = ev0.select("user_id").distinct().count()
        assert abs(est0["e"] - exact0) / exact0 < 0.05
        assert est0["n_events"] == ev0.count()
        # other hours untouched
        assert back.count() == hll_hour_sketches(ev).count()

    def test_packed_layout_rejected_for_sketches(self, spark, tmp_path):
        import pytest

        from usgs_geomag_algorithms_spark.operators.sketches import (
            sketch_store,
        )

        store = sketch_store(spark, str(tmp_path / "sk"))
        with pytest.raises(ValueError, match="double signal shape"):
            store.write_packed(None, "hour_sketch_packed")


class TestSketchStream:
    """Streaming sketch maintenance: per-batch union, replay skip."""

    def _run_stream(self, spark, tmp_path, batches, restart_with=None):
        import os

        from usgs_geomag_algorithms_spark.operators.sketches import (
            sketch_store,
        )
        from usgs_geomag_algorithms_spark.streaming.sketch_stream import (
            streaming_sketch_maintenance,
        )

        src = str(tmp_path / "src")
        os.makedirs(src, exist_ok=True)
        schema = "ts timestamp, user_id bigint"
        for i, df in enumerate(batches):
            df.coalesce(1).write.parquet(str(tmp_path / f"stage{i}"))
            for f in os.listdir(str(tmp_path / f"stage{i}")):
                if f.endswith(".parquet"):
                    os.rename(
                        str(tmp_path / f"stage{i}" / f),
                        f"{src}/b{i}.parquet",
                    )
        store = sketch_store(spark, str(tmp_path / "store"))
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = streaming_sketch_maintenance(
            stream,
            store,
            checkpoint_dir=str(tmp_path / "ck"),
            trigger_available_now=True,
        )
        q.awaitTermination(120)
        q.stop()
        return store

    def test_batches_union_within_hour(self, spark, tmp_path):
        from usgs_geomag_algorithms_spark.operators.sketches import (
            read_sketch_tier,
        )

        ev = _events(spark, hours=3)
        b0 = ev.where(F.col("user_id") % 2 == 0)
        b1 = ev.where(F.col("user_id") % 2 == 1)
        store = self._run_stream(spark, tmp_path, [b0, b1])
        got = {
            r["t_us"]: (r["e"], r["n_events"])
            for r in read_sketch_tier(store)
            .select(
                "t_us",
                F.expr("cast(hll_sketch_estimate(sketch) as bigint)").alias(
                    "e"
                ),
                "n_events",
            )
            .collect()
        }
        exact = {
            r["t_us"]: (r["n"], r["c"])
            for r in ev.select(
                F.expr(f"(unix_micros(ts) div {HOUR_US}) * {HOUR_US}").alias(
                    "t_us"
                ),
                "user_id",
            )
            .groupBy("t_us")
            .agg(
                F.countDistinct("user_id").alias("n"),
                F.count("*").alias("c"),
            )
            .collect()
        }
        assert set(got) == set(exact)
        for t, (est, n_ev) in got.items():
            assert n_ev == exact[t][1]  # event counts exact across batches
            assert abs(est - exact[t][0]) / exact[t][0] < 0.06

    def test_replayed_epoch_skipped(self, spark, tmp_path):
        import os

        from usgs_geomag_algorithms_spark.operators.sketches import (
            read_sketch_tier,
            sketch_store,
        )
        from usgs_geomag_algorithms_spark.streaming.sketch_stream import (
            streaming_sketch_maintenance,
        )

        ev = _events(spark, hours=2)
        store = self._run_stream(spark, tmp_path, [ev])
        before = {
            (r["t_us"], r["n_events"])
            for r in read_sketch_tier(store).collect()
        }
        # wipe the streaming checkpoint (NOT the store): the restarted
        # query re-delivers epoch 0 — the manifest's txns entry must
        # skip it
        import shutil

        shutil.rmtree(str(tmp_path / "ck"))
        stream = (
            spark.readStream.schema("ts timestamp, user_id bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / "src"))
        )
        q = streaming_sketch_maintenance(
            stream,
            store,
            checkpoint_dir=str(tmp_path / "ck2"),
            trigger_available_now=True,
        )
        q.awaitTermination(120)
        q.stop()
        after = {
            (r["t_us"], r["n_events"])
            for r in read_sketch_tier(store).collect()
        }
        assert after == before  # n_events not double-counted


    def test_two_sinks_on_one_tier_both_land(self, spark, tmp_path):
        """A second stream into the same tier under another metric keeps
        its own epoch ledger (``hour_sketch/sessions``): its epochs 0
        and 1 land although the ``users`` stream already committed
        epochs 0 and 1 into that tier."""
        import os

        from usgs_geomag_algorithms_spark.operators.sketches import (
            read_sketch_tier,
        )
        from usgs_geomag_algorithms_spark.streaming.sketch_stream import (
            streaming_sketch_maintenance,
        )

        ev = _events(spark, hours=2)
        users = [ev.where(F.col("user_id") % 4 == k) for k in (0, 1)]
        sessions = [ev.where(F.col("user_id") % 4 == k) for k in (2, 3)]
        store = self._run_stream(spark, tmp_path, users)
        src = str(tmp_path / "src_sessions")
        os.makedirs(src)
        for i, df in enumerate(sessions):
            stage = str(tmp_path / f"stage_sessions{i}")
            df.coalesce(1).write.parquet(stage)
            for f in os.listdir(stage):
                if f.endswith(".parquet"):
                    os.rename(f"{stage}/{f}", f"{src}/b{i}.parquet")
        q = streaming_sketch_maintenance(
            spark.readStream.schema("ts timestamp, user_id bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            store,
            metric="sessions",
            checkpoint_dir=str(tmp_path / "ck_sessions"),
            trigger_available_now=True,
        )
        q.awaitTermination(120)
        q.stop()
        for metric, parts in (("users", users), ("sessions", sessions)):
            got = {
                r["t_us"]: r["n_events"]
                for r in read_sketch_tier(store, metric=metric).collect()
            }
            want = {
                r["t_us"]: r["n_events"]
                for r in hll_hour_sketches(
                    parts[0].unionByName(parts[1])
                ).collect()
            }
            assert got == want, metric


class TestRollingUsers:
    def test_sketch_tracks_exact_sliding_window(self, spark):
        from usgs_geomag_algorithms_spark.operators.sketches import (
            rolling_users_exact,
            rolling_users_sketch,
        )

        ev = _events(spark, hours=40)
        exact = {
            r["t_us"]: (r["n_users"], r["n_events"])
            for r in rolling_users_exact(ev, window_hours=24).collect()
        }
        est = {
            r["t_us"]: (r["approx_users"], r["n_events"])
            for r in rolling_users_sketch(
                hll_hour_sketches(ev), window_hours=24
            ).collect()
        }
        assert set(est) == set(exact)
        for t, (nu, ne) in exact.items():
            assert est[t][1] == ne  # trailing event sums are exact
            assert abs(est[t][0] - nu) / nu < 0.05

    def test_exact_matches_brute_force(self, spark):
        from usgs_geomag_algorithms_spark.operators.sketches import (
            rolling_users_exact,
        )

        ev = _events(spark, hours=6, per_hour=20, n_users=50)
        rows = ev.collect()
        got = {
            r["t_us"]: (r["n_users"], r["n_events"])
            for r in rolling_users_exact(ev, window_hours=3).collect()
        }
        import collections

        by_hour = collections.defaultdict(list)
        for r in rows:
            h = (int(r["ts"].timestamp() * 1_000_000) // HOUR_US) * HOUR_US
            by_hour[h].append(r["user_id"])
        for t in by_hour:
            win = [
                u
                for h in by_hour
                if t - 2 * HOUR_US <= h <= t
                for u in by_hour[h]
            ]
            assert got[t] == (len(set(win)), len(win))
