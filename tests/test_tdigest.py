"""t-digest quantile sketch tier (operators/tdigest.py).

Kernel invariants + rank-error bounds, merge-vs-direct consistency, the
two-phase Spark build, day-from-hour rollup, quantile serving, and
TierStore persistence of the binary digest column.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from usgs_geomag_algorithms_spark.operators.tdigest import (
    DELTA,
    compress,
    digest_of,
    digest_quantile,
    merge_digests,
    pack_digest,
    tdigest_quantiles,
    tdigest_rollup,
    tdigest_store,
    tdigest_tier,
    unpack_digest,
)

HOUR_US = 3_600_000_000
DAY_US = 86_400_000_000


def rank_error(values: np.ndarray, q: float, estimate: float) -> float:
    """|empirical rank of the estimate - q|."""
    v = np.sort(values)
    lo = np.searchsorted(v, estimate, side="left") / len(v)
    hi = np.searchsorted(v, estimate, side="right") / len(v)
    if lo <= q <= hi:
        return 0.0
    return min(abs(lo - q), abs(hi - q))


class TestKernel:
    def test_compress_invariants(self):
        rng = np.random.default_rng(7)
        v = rng.lognormal(0.0, 2.0, 50_000)
        m, w = compress(v, np.ones_like(v), DELTA)
        assert len(m) <= DELTA + 1
        assert w.sum() == pytest.approx(len(v))
        assert m.min() >= v.min() and m.max() <= v.max()
        assert (np.diff(m) >= 0).all()  # sorted centroids

    def test_compress_deterministic_under_permutation(self):
        rng = np.random.default_rng(8)
        v = rng.normal(0, 1, 10_000)
        a = digest_of(v)
        b = digest_of(v[rng.permutation(len(v))])
        assert a == b  # sort-first build: order of rows is irrelevant

    def test_pack_roundtrip(self):
        m = np.array([1.5, 2.5, 9.0])
        w = np.array([3.0, 4.0, 1.0])
        m2, w2, mn, mx = unpack_digest(pack_digest(m, w, 0.5, 9.0))
        np.testing.assert_array_equal(m, m2)
        np.testing.assert_array_equal(w, w2)
        assert (mn, mx) == (0.5, 9.0)

    def test_unpack_rejects_foreign_bytes(self):
        with pytest.raises(ValueError):
            unpack_digest(b"parquet-not-a-digest")
        with pytest.raises(ValueError):
            unpack_digest(pack_digest(np.ones(4), np.ones(4), 0, 1)[:-8])

    @pytest.mark.parametrize("dist", ["normal", "lognormal", "uniform"])
    def test_rank_error_bounds(self, dist):
        rng = np.random.default_rng(11)
        v = {
            "normal": rng.normal(10, 3, 80_000),
            "lognormal": rng.lognormal(0, 1.5, 80_000),
            "uniform": rng.uniform(-5, 5, 80_000),
        }[dist]
        d = digest_of(v)
        for q in (0.01, 0.1, 0.5, 0.9, 0.95, 0.99):
            est = digest_quantile(d, [q])[0]
            err = rank_error(v, q, est)
            # k1 scale: ~1/delta mid-rank error, tighter at the tails
            bound = 0.015 if 0.1 <= q <= 0.9 else 0.005
            assert err <= bound, (q, err)

    def test_extrema_exact(self):
        v = np.array([3.0, -7.5, 2.0, 100.25])
        d = digest_of(v)
        assert digest_quantile(d, [0.0])[0] == -7.5
        assert digest_quantile(d, [1.0])[0] == 100.25

    def test_merge_matches_direct(self):
        rng = np.random.default_rng(13)
        v = rng.gamma(2.0, 3.0, 60_000)
        parts = np.array_split(v, 24)  # 24 "hours"
        merged = merge_digests([digest_of(p) for p in parts])
        for q in (0.05, 0.5, 0.95, 0.99):
            est = digest_quantile(merged, [q])[0]
            assert rank_error(v, q, est) <= 0.02, q

    def test_single_value_and_constant_groups(self):
        d = digest_of(np.array([42.0]))
        assert digest_quantile(d, [0.0, 0.5, 1.0]).tolist() == [42.0] * 3
        d = digest_of(np.full(1000, 3.25))
        assert digest_quantile(d, [0.25, 0.75]).tolist() == [3.25, 3.25]

    def test_digest_of_empty_raises(self):
        with pytest.raises(ValueError):
            digest_of(np.array([np.nan]))


def _signal(spark, n_series=3, hours=30, per_hour=240, seed=5):
    """Deterministic irregular signal: (series, t_us, value)."""
    rng = np.random.default_rng(seed)
    rows = []
    for s in range(n_series):
        for h in range(hours):
            base = h * HOUR_US
            ts = rng.integers(0, HOUR_US, per_hour) + base
            vals = rng.lognormal(s * 0.5, 1.0, per_hour)
            rows += [
                (f"s{s}", int(t), float(v)) for t, v in zip(ts, vals)
            ]
    return (
        spark.createDataFrame(
            rows, schema="series string, t_us long, value double"
        ),
        rows,
    )


class TestSparkTier:
    def test_hour_tier_matches_local(self, spark):
        df, rows = _signal(spark)
        tier = tdigest_tier(
            df.repartition(8), HOUR_US, series_cols=("series",)
        ).collect()
        by_key = {}
        for s, t, v in rows:
            by_key.setdefault((s, (t // HOUR_US) * HOUR_US), []).append(v)
        assert len(tier) == len(by_key)
        for r in tier:
            vals = np.array(by_key[(r["series"], r["t_us"])])
            assert r["n"] == len(vals)
            for q in (0.5, 0.95):
                est = digest_quantile(bytes(r["digest"]), [q])[0]
                # partial-split digests: slightly looser than single-pass
                assert rank_error(vals, q, est) <= 0.03

    def test_partial_mode_shuffles_digests_not_rows(self, spark):
        """partial=True (key-clustered input): the merge stage's input
        relation is the partial-digest frame — no raw value column
        crosses the shuffle."""
        df, _ = _signal(spark, n_series=1, hours=3, per_hour=50)
        tier = tdigest_tier(
            df, HOUR_US, series_cols=("series",), partial=True
        )
        plan = tier._jdf.queryExecution().executedPlan().toString()
        post_shuffle = plan.split("Exchange")[0]
        assert "digest" in post_shuffle and "_v#" not in post_shuffle

    def test_partial_and_single_phase_agree(self, spark):
        """Both build modes digest the same rows; group counts are
        identical and extracted quantiles agree to rank-error level
        (centroid sets differ by partial split, legitimately)."""
        df, rows = _signal(spark, n_series=2, hours=6, per_hour=200)
        one = tdigest_tier(
            df.repartition(8), HOUR_US, series_cols=("series",)
        )
        two = tdigest_tier(
            df.repartition(8), HOUR_US, series_cols=("series",),
            partial=True,
        )
        a = {(r["series"], r["t_us"]): r for r in one.collect()}
        b = {(r["series"], r["t_us"]): r for r in two.collect()}
        assert set(a) == set(b)
        by_key = {}
        for s, t, v in rows:
            by_key.setdefault((s, (t // HOUR_US) * HOUR_US), []).append(v)
        for k in a:
            assert a[k]["n"] == b[k]["n"] == len(by_key[k])
            vals = np.array(by_key[k])
            for q in (0.5, 0.95):
                ea = digest_quantile(bytes(a[k]["digest"]), [q])[0]
                eb = digest_quantile(bytes(b[k]["digest"]), [q])[0]
                assert rank_error(vals, q, ea) <= 0.03
                assert rank_error(vals, q, eb) <= 0.03

    def test_day_rollup_matches_raw_digest(self, spark):
        df, rows = _signal(spark, hours=48)
        hour = tdigest_tier(df, HOUR_US, series_cols=("series",))
        day = tdigest_rollup(hour, DAY_US, series_cols=("series",)).collect()
        by_day = {}
        for s, t, v in rows:
            by_day.setdefault((s, (t // DAY_US) * DAY_US), []).append(v)
        assert len(day) == len(by_day)
        for r in day:
            vals = np.array(by_day[(r["series"], r["t_us"])])
            assert r["n"] == len(vals)
            for q in (0.5, 0.95):
                est = digest_quantile(bytes(r["digest"]), [q])[0]
                assert rank_error(vals, q, est) <= 0.03

    def test_quantile_serving_columns(self, spark):
        df, _ = _signal(spark, n_series=2, hours=4)
        hour = tdigest_tier(df, HOUR_US, series_cols=("series",))
        out = tdigest_quantiles(hour, ps=(0.5, 0.95))
        assert out.columns == ["series", "t_us", "p50", "p95", "n_values"]
        got = {
            (r["series"], r["t_us"]): r for r in out.collect()
        }
        for r in hour.collect():
            exp = digest_quantile(bytes(r["digest"]), [0.5, 0.95])
            row = got[(r["series"], r["t_us"])]
            assert row["p50"] == pytest.approx(round(exp[0], 4))
            assert row["p95"] == pytest.approx(round(exp[1], 4))
            assert row["n_values"] == r["n"]

    def test_store_roundtrip(self, spark, tmp_path):
        df, _ = _signal(spark, n_series=1, hours=5)
        hour = tdigest_tier(df, HOUR_US, series_cols=("series",))
        store = tdigest_store(spark, str(tmp_path), series_col="series")
        store.upsert(hour, "hour_digest")
        back = store.read("hour_digest")
        orig = {r["t_us"]: r for r in hour.collect()}
        for r in back.collect():
            o = orig[r["t_us"]]
            assert bytes(r["digest"]) == bytes(o["digest"])
            assert r["n"] == o["n"]
        # day tier derives from the STORED hour tier
        day = tdigest_rollup(
            back.select("series", "t_us", "digest", "n"),
            DAY_US,
            series_cols=("series",),
        )
        assert day.count() == 1


class TestTdigestStream:
    """Streaming digest maintenance: per-batch merge, replay skip."""

    def _run_stream(self, spark, tmp_path, batches, store=None, ck="ck"):
        import os

        from usgs_geomag_algorithms_spark.streaming.tdigest_stream import (
            streaming_tdigest_maintenance,
        )

        src = str(tmp_path / "src")
        os.makedirs(src, exist_ok=True)
        schema = "t_us long, value double"
        for i, df in enumerate(batches):
            stage = str(tmp_path / f"stage{ck}{i}")
            df.coalesce(1).write.parquet(stage)
            for f in os.listdir(stage):
                if f.endswith(".parquet"):
                    os.rename(f"{stage}/{f}", f"{src}/b{ck}{i}.parquet")
        if store is None:
            store = tdigest_store(
                spark, str(tmp_path / "store"), series_col="series"
            )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = streaming_tdigest_maintenance(
            stream,
            store,
            checkpoint_dir=str(tmp_path / ck),
            trigger_available_now=True,
        )
        q.awaitTermination(120)
        q.stop()
        return store

    def _samples(self, spark, hours=3, per_hour=400, seed=3):
        rng = np.random.default_rng(seed)
        rows = []
        for h in range(hours):
            ts = rng.integers(0, HOUR_US, per_hour) + h * HOUR_US
            vals = rng.lognormal(0.0, 1.0, per_hour)
            rows += [(int(t), float(v)) for t, v in zip(ts, vals)]
        return (
            spark.createDataFrame(rows, "t_us long, value double"),
            rows,
        )

    def test_batches_merge_within_hour(self, spark, tmp_path):
        df, rows = self._samples(spark)
        b0 = df.where(F.col("t_us") % 2 == 0)
        b1 = df.where(F.col("t_us") % 2 == 1)
        store = self._run_stream(spark, tmp_path, [b0, b1])
        by_hour = {}
        for t, v in rows:
            by_hour.setdefault((t // HOUR_US) * HOUR_US, []).append(v)
        got = store.read("hour_digest").collect()
        assert {r["t_us"] for r in got} == set(by_hour)
        for r in got:
            vals = np.array(by_hour[r["t_us"]])
            assert r["n"] == len(vals)  # weights add exactly across batches
            for q in (0.5, 0.95):
                est = digest_quantile(bytes(r["digest"]), [q])[0]
                assert rank_error(vals, q, est) <= 0.04

    def test_replayed_epoch_skipped(self, spark, tmp_path):
        import shutil

        df, _ = self._samples(spark, hours=2)
        store = self._run_stream(spark, tmp_path, [df])
        before = {
            (r["t_us"], r["n"], bytes(r["digest"]))
            for r in store.read("hour_digest").collect()
        }
        # wipe the checkpoint (NOT the store): the restarted query
        # re-delivers epoch 0 — the manifest's txns entry must skip it,
        # else the additive merge would double every weight
        shutil.rmtree(str(tmp_path / "ck"))
        store = self._run_stream(spark, tmp_path, [], store=store, ck="ck2")
        after = {
            (r["t_us"], r["n"], bytes(r["digest"]))
            for r in store.read("hour_digest").collect()
        }
        assert after == before


    def test_crash_after_commit_replays_exactly_once(self, spark, tmp_path):
        """A crash after epoch 0's commit but before the sink returns
        (the lineage append raises) makes Spark replay epoch 0 on restart
        from the same checkpoint. The manifest already records the epoch,
        so every hour's weight must equal its sample count."""
        from unittest import mock

        df, rows = self._samples(spark, hours=2)
        b0 = df.where(F.col("t_us") % 2 == 0)
        b1 = df.where(F.col("t_us") % 2 == 1)
        store = tdigest_store(
            spark, str(tmp_path / "store"), series_col="series"
        )
        real = store.append_lineage

        def crash_in_epoch_0(tier, records):
            if records[0]["run_id"].endswith("-epoch-0"):
                raise RuntimeError("crash after the manifest flip")
            real(tier, records)

        with mock.patch.object(
            store, "append_lineage", side_effect=crash_in_epoch_0
        ):
            with pytest.raises(Exception, match="crash after the manifest"):
                self._run_stream(spark, tmp_path, [b0, b1], store=store)
        self._run_stream(spark, tmp_path, [], store=store)  # same checkpoint
        want = {}
        for t, _ in rows:
            h = (t // HOUR_US) * HOUR_US
            want[h] = want.get(h, 0) + 1
        got = store.read("hour_digest").collect()
        assert {r["t_us"]: r["n"] for r in got} == want
        for r in got:
            _, weights, _, _ = unpack_digest(bytes(r["digest"]))
            assert weights.sum() == r["n"]


class TestRollingDigest:
    def test_rolling_matches_brute_force(self, spark):
        from usgs_geomag_algorithms_spark.operators.tdigest import (
            tdigest_rolling,
        )

        df, rows = _signal(spark, n_series=2, hours=30, per_hour=120)
        hour = tdigest_tier(df, HOUR_US, series_cols=("series",))
        roll = tdigest_rolling(
            hour, window_buckets=24, series_cols=("series",)
        ).collect()
        # brute force: trailing-24h raw values per present hour
        by_hour = {}
        for s, t, v in rows:
            by_hour.setdefault((s, (t // HOUR_US) * HOUR_US), []).append(v)
        got = {(r["series"], r["t_us"]): r for r in roll}
        assert set(got) == set(by_hour)  # only present hours
        for (s, t), r in got.items():
            vals = np.concatenate(
                [
                    by_hour.get((s, t - k * HOUR_US), [])
                    for k in range(24)
                ]
            )
            assert r["n"] == len(vals)
            for q in (0.5, 0.95):
                est = digest_quantile(bytes(r["digest"]), [q])[0]
                assert rank_error(vals, q, est) <= 0.03
