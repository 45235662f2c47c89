"""Streaming maintenance of the count-min (frequent-items) grid tier.

The frequency twin of streaming/sketch_stream.py: tokens arrive
incrementally within an hour, so each micro-batch's grid is ADDED into
the stored hour grid (``zip_with(stored, batch, +)``). Addition is not
idempotent, so exactly-once rests on the shared sink
(``tier_sink.merge_into_tier``): the epoch id is committed in the same
manifest flip as the grids, and a replayed epoch is skipped whole.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.cms import CMS_DEPTH, CMS_WIDTH, cms_hour_grids, grid_add
from .tier_sink import merge_into_tier


def cms_store(spark, root: str, metric_col: str = "metric"):
    """A TierStore configured for dense-grid tiers."""
    from ..sources.store import TierStore

    return TierStore(
        spark,
        root,
        series_cols=(metric_col,),
        value_schema="grid array<bigint>, n_tokens bigint",
    )


def streaming_cms_maintenance(
    stream: DataFrame,
    store,
    tier: str = "hour_cms",
    metric: str = "tokens",
    checkpoint_dir: str = "",
    ts_col: str = "ts",
    text_col: str = "text",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    trigger_available_now: bool = False,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Start ``text stream -> per-batch hour grids -> add into the grid
    tier``. Returns the running query; callers own stop()."""
    series_col = store.series_cols[0]

    def delta(batch: DataFrame) -> DataFrame:
        return cms_hour_grids(
            batch, depth, width, ts_col=ts_col, text_col=text_col
        ).select(F.lit(metric).alias(series_col), "t_us", "grid", "n_tokens")

    def merge(rows: DataFrame) -> DataFrame:
        return rows.groupBy(series_col, "t_us").agg(
            F.expr(
                f"aggregate(collect_list(grid),"
                f" array_repeat(0L, {depth * width}),"
                " (acc, g) -> zip_with(acc, g, (a, b) -> a + b))"
            ).alias("grid"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )

    return merge_into_tier(
        stream, store, tier, checkpoint_dir, delta, "cms",
        series=metric, merge=merge,
        trigger_available_now=trigger_available_now,
        processing_time=processing_time,
    )


__all__ = ["cms_store", "streaming_cms_maintenance", "grid_add"]
