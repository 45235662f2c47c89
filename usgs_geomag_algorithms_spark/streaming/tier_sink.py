"""The one ``foreachBatch`` sink into a TierStore tier.

Every tier-maintaining stream (the continuous rollup and the HLL,
count-min and t-digest sketch tiers) runs the same per-epoch skeleton:

1. skip an epoch the tier already holds, and skip empty batches;
2. build the batch's delta rows ``(series, t_us, values...)``;
3. collect the touched ``t_us`` (one small aggregate, which also gives
   the lineage row count);
4. with a ``merge``: read the stored rows of those hours for this sink's
   series, union them with the delta and fold them with the sink's merge;
5. upsert, then append one lineage record.

A merge sink is exactly-once under Structured Streaming's at-least-once
epoch replay. The sink passes ``txn=(sink_id, epoch_id)`` to the
upsert, the store records it in the manifest's ``txns`` map in the same
atomic flip as the data, and a replayed epoch is skipped under the
commit lock. There is no window between "data committed" and "epoch
recorded" for a crash to fall into, which matters because CMS grids and
t-digest weights ADD. ``sink_id`` is ``<tier>/<series>``: stable across
a wiped checkpoint (Spark's query id is not) and distinct for two
streams writing different series into one tier. A checkpoint wipe
restarts Spark's epoch numbering, so the replacement stream's epochs up
to the recorded one are skipped; give it a new series name to start a
fresh ledger.

Without a merge (``continuous_aggregate``) the upsert replaces the
touched rows, which is idempotent on its own, so no txn is recorded.
A crash after the upsert but before the lineage append loses that
epoch's lineage record, never its data.

Scale shape per epoch: O(batch + touched hours), never O(tier); the
stored-row read is pruned to the touched hours' partitions.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery


def start_foreach_batch(
    stream: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    trigger_available_now: bool = False,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Start ``stream`` into ``sink`` with the availableNow or
    processingTime trigger (default: Spark's as-fast-as-possible)."""
    writer = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def merge_into_tier(
    stream: DataFrame,
    store,
    tier: str,
    checkpoint_dir: str,
    delta: Callable[[DataFrame], DataFrame],
    run_prefix: str,
    series: str | None = None,
    merge: Callable[[DataFrame], DataFrame] | None = None,
    trigger_available_now: bool = False,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Start ``stream -> delta(batch) [-> merge(stored ∪ delta)] ->
    upsert into tier``. Returns the running query; callers own stop().

    ``delta`` maps a micro-batch to tier rows. ``merge`` (requires
    ``series``, the one series value the sink writes) folds the stored
    rows of the touched hours together with the delta, keyed on
    (series, t_us). Lineage run ids are ``<run_prefix>-epoch-<id>``."""
    series_col = store.series_cols[0]
    sink_id = None if merge is None else f"{tier}/{series}"

    def sink(batch: DataFrame, epoch_id: int) -> None:
        txn = None if sink_id is None else (sink_id, epoch_id)
        if txn is not None and store.txn_epoch(tier, sink_id) >= epoch_id:
            return  # replayed epoch: the manifest already holds it
        if batch.isEmpty():
            return
        rows = delta(batch)
        per_hour = rows.groupBy("t_us").count().collect()
        if merge is not None and store.exists(tier):
            old = store.read(tier).where(
                (F.col(series_col) == series)
                & F.col("t_us").isin([r["t_us"] for r in per_hour])
            )
            rows = merge(old.select(*rows.columns).unionByName(rows))
        store.upsert(rows, tier, txn=txn)
        store.append_lineage(
            tier,
            [
                {
                    "run_id": f"{run_prefix}-epoch-{epoch_id}",
                    "tier": tier,
                    "rows": sum(r["count"] for r in per_hour),
                    "ts": time.time(),
                }
            ],
        )

    return start_foreach_batch(
        stream, sink, checkpoint_dir, trigger_available_now, processing_time
    )
