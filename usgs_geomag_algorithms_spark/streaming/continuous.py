"""Continuous aggregates: stream the rollup straight into the TierStore.

The materialized end of the streaming path (BASELINE's "continuous
aggregates"): ``streaming_rollup_step`` windows close as the watermark
passes, and each micro-batch of closed windows is upserted into the tier
table via ``foreachBatch`` — last-wins merge, so replays after a failed
epoch are idempotent (Structured Streaming re-delivers the same window
rows; the upsert keys on (series, t_us)). The sink is the shared
``tier_sink.merge_into_tier`` with no merge. Lineage records one row per
epoch: the reference's ``run_as_update`` bookkeeping
(``geomagio/Controller.py:326-474``) carried by the engine's streaming
checkpoint instead of a cron state file.

Late-beyond-watermark data never reaches this path; the batch incremental
refresh (plans/refresh.py) reconciles it — the two share the store and the
merge semantics, so the lambda handoff is just "run the batch job".
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..sources.store import TierStore
from ..tiers import Step
from .rollup_stream import streaming_rollup_step
from .tier_sink import merge_into_tier


def continuous_aggregate(
    stream: DataFrame,
    step: Step,
    store: TierStore,
    tier: str,
    checkpoint_dir: str,
    watermark: str = "2 minutes",
    series_cols: Sequence[str] = ("url", "channel"),
    ts_col: str = "event_ts",
    value_col: str = "value",
    trigger_available_now: bool = False,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Start the continuous aggregate ``stream -> rollup -> tier table``.

    Exactly-once effect via idempotent upsert: an epoch that fails after a
    partial write is re-run by the checkpoint, and re-upserting the same
    (series, t_us) rows is a no-op. Returns the running query; callers own
    ``awaitTermination``/``stop``.
    """
    out = streaming_rollup_step(
        stream,
        step,
        watermark=watermark,
        series_cols=series_cols,
        ts_col=ts_col,
        value_col=value_col,
    )
    return merge_into_tier(
        out, store, tier, checkpoint_dir, lambda batch: batch, "stream",
        trigger_available_now=trigger_available_now,
        processing_time=processing_time,
    )
