"""Streaming maintenance of the persisted LSH near-dup index.

The batch story (``operators/dedup_index.py``) is a daily cron: compute
signatures for the day's increment, append them to the index, probe the
index for near-dups. This module is the same contract as a stream — each
micro-batch of newly crawled documents is

1. probed against the index AS OF the previous batch (near-dup pairs out),
2. appended to the index,

in that order, so a document never matches itself and intra-batch dups are
the batch operator's job (``near_dup_pairs_verified`` on the increment).

``foreachBatch`` is the right Spark construct, not a stateful streaming
operator: the index state is PARQUET (terabytes at crawl scale), not
executor state — no watermark can bound it, and it must outlive the query,
serve batch readers, and survive restarts. foreachBatch gives each
micro-batch a batch-plan view of the stream so the exact batch operators
run unchanged, and Structured Streaming's checkpoint guarantees each
batch_id is retried-or-skipped as a unit.

Idempotence on retry: appends are guarded by a per-batch marker directory
(``_batches/<batch_id>``) INSIDE the index root — a replayed micro-batch
(checkpoint recovery re-delivers the last uncommitted batch) sees its
marker and skips the duplicate append, the same write-once discipline as
the tier store's run ledger (``plans/refresh.py``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ..operators.dedup_index import incremental_near_dups, write_lsh_index
from .tier_sink import start_foreach_batch


def index_maintenance_batch(
    index_path: str,
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 8,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    on_pairs=None,
):
    """Build the ``foreachBatch`` callable: probe-then-append with a
    batch-id marker for exactly-once appends across restarts.

    ``on_pairs(pairs_df, batch_id)`` receives each batch's near-dup pairs
    (against the pre-batch index) — the production sink would write them
    to a pairs table; tests collect them."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(index_path, "_batches", str(batch_id))
        if os.path.exists(marker):
            return  # replayed batch: already probed + appended
        batch_df = batch_df.select(id_col, text_col).localCheckpoint(
            eager=True
        )
        has_index = os.path.exists(os.path.join(index_path, "sigs"))
        if has_index and on_pairs is not None:
            spark = batch_df.sparkSession
            pairs = incremental_near_dups(
                batch_df, spark, index_path, k=k, bands=bands,
                shingle_n=shingle_n, threshold=threshold,
                text_col=text_col, id_col=id_col, seed=seed,
            )
            on_pairs(pairs, batch_id)
        write_lsh_index(
            batch_df, index_path, k=k, bands=bands, shingle_n=shingle_n,
            text_col=text_col, id_col=id_col, seed=seed,
            mode="append" if has_index else "overwrite",
        )
        os.makedirs(marker, exist_ok=True)

    return _process


def streaming_index_maintenance(
    stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    trigger_available_now: bool = False,
    **kwargs,
):
    """Wire a document stream into probe-then-append index maintenance.
    Returns the started StreamingQuery; pass ``on_pairs`` via kwargs to
    receive each batch's near-dup pairs."""
    return start_foreach_batch(
        stream,
        index_maintenance_batch(index_path, **kwargs),
        checkpoint_dir,
        trigger_available_now,
    )
