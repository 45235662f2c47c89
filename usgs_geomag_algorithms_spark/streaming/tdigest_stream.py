"""Streaming maintenance of the t-digest quantile sketch tier.

Samples arrive incrementally WITHIN an hour, so the continuous-aggregate
replace-on-upsert rule (continuous.py) would drop earlier micro-batches'
contribution to the hour's digest. This sink instead MERGES each
micro-batch: per touched hour, ``new_digest = merge(stored_digest,
batch_digest)``; weights add, centroids recompress.

A t-digest merge is weight-ADDITIVE, so re-merging a replayed batch
would double-count its samples. The shared sink
(``tier_sink.merge_into_tier``) commits the epoch id in the same
manifest flip as the digests, and a replayed epoch is skipped before
any read or write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.tdigest import tdigest_rollup, tdigest_tier
from .tier_sink import merge_into_tier

HOUR_US = 3_600_000_000


def streaming_tdigest_maintenance(
    stream: DataFrame,
    store,
    tier: str = "hour_digest",
    series: str = "rate",
    checkpoint_dir: str = "",
    ts_col: str = "t_us",
    value_col: str = "value",
    out_us: int = HOUR_US,
    delta: int = 128,
    trigger_available_now: bool = False,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Start ``sample stream -> per-batch hour digests -> merge into the
    digest tier``. Returns the running query; callers own stop()."""
    series_col = store.series_cols[0]

    def batch_digests(batch: DataFrame) -> DataFrame:
        return tdigest_tier(
            batch.select(
                F.lit(series).alias(series_col),
                F.col(ts_col),
                F.col(value_col),
            ),
            out_us,
            series_cols=(series_col,),
            ts_col=ts_col,
            value_col=value_col,
            delta=delta,
        )

    def merge(rows: DataFrame) -> DataFrame:
        # out_us=1 rekey is the identity: plain per-hour digest merge
        return tdigest_rollup(rows, 1, series_cols=(series_col,), delta=delta)

    return merge_into_tier(
        stream, store, tier, checkpoint_dir, batch_digests, "tdigest",
        series=series, merge=merge,
        trigger_available_now=trigger_available_now,
        processing_time=processing_time,
    )
