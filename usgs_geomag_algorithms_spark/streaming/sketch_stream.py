"""Streaming maintenance of the HLL distinct-count sketch tier.

Events arrive incrementally WITHIN an hour, so the continuous-aggregate
replace-on-upsert rule (continuous.py) would drop earlier micro-batches'
users. The sketch tier instead MERGES each micro-batch: per touched
hour, ``new_sketch = hll_union(stored_sketch, batch_sketch)`` and
``n_events`` add. HLL union is register-max, hence idempotent, but the
``n_events`` sum is not; the shared sink (``tier_sink.merge_into_tier``)
commits the epoch id in the same manifest flip as the rows, so a
replayed epoch is skipped whole and both columns stay exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.sketches import hll_hour_sketches
from .tier_sink import merge_into_tier


def streaming_sketch_maintenance(
    stream: DataFrame,
    store,
    tier: str = "hour_sketch",
    metric: str = "users",
    checkpoint_dir: str = "",
    ts_col: str = "ts",
    key_col: str = "user_id",
    lg_k: int = 12,
    trigger_available_now: bool = False,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Start ``event stream -> per-batch hour sketches -> union into the
    sketch tier``. Returns the running query; callers own stop()."""
    series_col = store.series_cols[0]

    def delta(batch: DataFrame) -> DataFrame:
        return hll_hour_sketches(
            batch, ts_col=ts_col, key_col=key_col, lg_k=lg_k
        ).select(
            F.lit(metric).alias(series_col), "t_us", "sketch", "n_events"
        )

    def merge(rows: DataFrame) -> DataFrame:
        return rows.groupBy(series_col, "t_us").agg(
            F.expr("hll_union_agg(sketch)").alias("sketch"),
            F.sum("n_events").alias("n_events"),
        )

    return merge_into_tier(
        stream, store, tier, checkpoint_dir, delta, "sketch",
        series=metric, merge=merge,
        trigger_available_now=trigger_available_now,
        processing_time=processing_time,
    )
