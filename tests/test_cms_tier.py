"""Count-min dense-grid tier (operators/cms.py grid half +
streaming/cms_stream.py): hour grids vs the sparse counters, day
rollup by addition, grid estimates, streaming batch folds and the
replayed-epoch guard (addition is NOT idempotent)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from usgs_geomag_algorithms_spark.operators.cms import (
    CMS_DEPTH,
    CMS_WIDTH,
    HOUR_US,
    cms_counters,
    cms_grid_rollup,
    cms_hour_grids,
    grid_estimate,
)
from usgs_geomag_algorithms_spark.streaming.cms_stream import (
    cms_store,
    streaming_cms_maintenance,
)

EVENTS = [
    # hour 0
    ("2020-01-06 00:10:00", "alpha beta alpha"),
    ("2020-01-06 00:40:00", "gamma alpha"),
    # hour 1
    ("2020-01-06 01:05:00", "beta beta delta"),
    # next day
    ("2020-01-07 03:00:00", "alpha epsilon"),
]


@pytest.fixture(scope="module")
def events(spark):
    return spark.createDataFrame(
        EVENTS, schema="ts_s string, text string"
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "text")


def _dense_from_sparse(spark_rows, depth=CMS_DEPTH, width=CMS_WIDTH):
    g = [0] * (depth * width)
    for r in spark_rows:
        g[r["row"] * width + r["bucket"]] = r["cnt"]
    return g


class TestGridTier:
    def test_hour_grid_matches_sparse_counters(self, spark, events):
        one_hour = events.where(
            F.expr(f"unix_micros(ts) div {HOUR_US}") == F.lit(438408)
        )  # 2020-01-06T00
        grids = {r["t_us"]: r for r in cms_hour_grids(events).collect()}
        t0 = 438408 * HOUR_US
        sparse = cms_counters(one_hour.select("text"))
        assert grids[t0]["grid"] == _dense_from_sparse(sparse.collect())
        assert grids[t0]["n_tokens"] == 5
        assert len(grids) == 3

    def test_day_rollup_is_addition(self, spark, events):
        hours = cms_hour_grids(events)
        days = {r["t_us"]: r for r in cms_grid_rollup(hours).collect()}
        assert len(days) == 2
        day0 = events.where(F.col("ts") < "2020-01-07")
        whole = cms_hour_grids(
            day0.select(F.lit("2020-01-06 00:00:00").cast("timestamp").alias("ts"), "text")
        ).collect()[0]
        d0 = 86400000000 * 18267  # 2020-01-06
        assert days[d0]["grid"] == whole["grid"]
        assert days[d0]["n_tokens"] == 8

    def test_grid_estimate_upper_bounds(self, spark, events):
        grids = cms_hour_grids(events)
        vocab = events.select(
            F.explode(F.split("text", " ")).alias("word")
        ).distinct()
        est = {
            (r["t_us"], r["word"]): r["est_count"]
            for r in grid_estimate(vocab, grids).collect()
        }
        t0 = 438408 * HOUR_US
        assert est[(t0, "alpha")] >= 3
        assert est[(t0, "gamma")] >= 1


class TestCmsStream:
    def _run(self, spark, tmp_path, batches, store=None, ck="ck"):
        src = str(tmp_path / "src")
        os.makedirs(src, exist_ok=True)
        existing = len(os.listdir(src))
        for i, df in enumerate(batches, start=existing):
            stage = str(tmp_path / f"stage{i}")
            df.coalesce(1).write.parquet(stage)
            for f in os.listdir(stage):
                if f.endswith(".parquet"):
                    os.rename(f"{stage}/{f}", f"{src}/b{i}.parquet")
        store = store or cms_store(spark, str(tmp_path / "store"))
        stream = (
            spark.readStream.schema("ts timestamp, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = streaming_cms_maintenance(
            stream,
            store,
            checkpoint_dir=str(tmp_path / ck),
            trigger_available_now=True,
        )
        q.awaitTermination(120)
        q.stop()
        return store

    def test_batches_add_within_hour(self, spark, events, tmp_path):
        b0 = events.where(F.col("text").contains("alpha"))
        b1 = events.where(~F.col("text").contains("alpha"))
        store = self._run(spark, tmp_path, [b0, b1])
        got = {
            r["t_us"]: (r["grid"], r["n_tokens"])
            for r in store.read("hour_cms").collect()
        }
        want = {
            r["t_us"]: (r["grid"], r["n_tokens"])
            for r in cms_hour_grids(events).collect()
        }
        assert got == want

    def test_replayed_epoch_not_reapplied(self, spark, events, tmp_path):
        store = self._run(spark, tmp_path, [events])
        before = {
            r["t_us"]: (r["grid"], r["n_tokens"])
            for r in store.read("hour_cms").collect()
        }
        # wipe the checkpoint, keep the store: the restarted query
        # re-delivers epoch 0, which the manifest's txns already record —
        # addition MUST be skipped
        shutil.rmtree(str(tmp_path / "ck"))
        store2 = self._run(spark, tmp_path, [], store=store, ck="ck2")
        after = {
            r["t_us"]: (r["grid"], r["n_tokens"])
            for r in store2.read("hour_cms").collect()
        }
        assert after == before

    def test_crash_after_commit_replays_exactly_once(
        self, spark, events, tmp_path
    ):
        """A crash after epoch 0's commit but before the sink returns
        (the lineage append raises) makes Spark replay epoch 0 on restart
        from the same checkpoint. The manifest already records the epoch,
        so the additive grids must equal a one-pass build."""
        from unittest import mock

        b0 = events.where(F.col("text").contains("alpha"))
        b1 = events.where(~F.col("text").contains("alpha"))
        store = cms_store(spark, str(tmp_path / "store"))
        real = store.append_lineage

        def crash_in_epoch_0(tier, records):
            if records[0]["run_id"].endswith("-epoch-0"):
                raise RuntimeError("crash after the manifest flip")
            real(tier, records)

        with mock.patch.object(
            store, "append_lineage", side_effect=crash_in_epoch_0
        ):
            with pytest.raises(Exception, match="crash after the manifest"):
                self._run(spark, tmp_path, [b0, b1], store=store)
        self._run(spark, tmp_path, [], store=store)  # same checkpoint
        got = {
            r["t_us"]: (r["grid"], r["n_tokens"])
            for r in store.read("hour_cms").collect()
        }
        want = {
            r["t_us"]: (r["grid"], r["n_tokens"])
            for r in cms_hour_grids(events).collect()
        }
        assert got == want
