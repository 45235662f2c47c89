"""End-to-end tier pipeline: pages table -> signal extraction -> materialized
rollup tiers in a TierStore, with lineage, metrics, and retention.

The production-shaped composition of the engine (the reference's
``Controller`` + ``geomag-filter`` cron cascade,
``geomagio/Controller.py:236-324``, ``geomagio/processing/filters.py``):

- bulk build (``build_tiers``): one pass — extract signals, run the cascade,
  write every tier partition-clustered, record lineage
- incremental (``update_tiers``): per-tier ``run_as_update`` gap refresh
  (plans/refresh.py), resumable via slot checkpoints
- retention (``apply_retention``): per-tier partition-drop cutoffs
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame

from .. import tiers
from ..operators.cascade import run_tiers
from ..sources.signals import page_signals
from ..sources.store import TierStore
from . import refresh

#: default retention horizon per tier, microseconds (coarser tiers live longer)
DEFAULT_RETENTION_US = {
    "second": 7 * 86400 * 1_000_000,
    "minute": 90 * 86400 * 1_000_000,
    "hour": 2 * 365 * 86400 * 1_000_000,
    "day": 20 * 365 * 86400 * 1_000_000,
    "month": 100 * 365 * 86400 * 1_000_000,
}


def build_tiers(
    pages: DataFrame,
    store: TierStore,
    scan_start_us: int,
    scan_end_us: int,
    channels=("text_len", "lang_en"),
    input_sample_period: float = 1.0,
    run_id: str | None = None,
    pack_coarse: tuple = (),
    upsert: bool = False,
) -> dict:
    """Bulk-build every tier from a pages frame; returns metrics.

    ``pack_coarse``: tier names additionally persisted Gorilla-packed
    (``TierStore.write_packed``) — the long-term storage format for coarse
    tiers per BASELINE (e.g. ``("hour", "day")``). Packing reads the
    just-materialized long tier back, so the cascade never recomputes.

    ``upsert=True`` merges instead of partition-overwriting — required
    when several builds share (date, bucket) partitions, e.g. the
    per-series fan-out (``run_cascade --series-foreach``): a plain write
    of series B would retire series A's rows in every shared partition."""
    run_id = run_id or f"build-{int(time.time() * 1000)}"
    sig = page_signals(pages, channels=channels)
    tierframes = run_tiers(sig, input_sample_period, scan_start_us, scan_end_us)
    metrics = {"run_id": run_id, "tiers": {}}
    for name, df in tierframes.items():
        (store.upsert if upsert else store.write)(df, name)
        n = store.read(name).count()
        metrics["tiers"][name] = n
        if name in pack_coarse and n:
            store.write_packed(store.read(name), name)
        store.append_lineage(
            name,
            [
                {
                    "run_id": run_id,
                    "tier": name,
                    "input_start_us": scan_start_us,
                    "input_end_us": scan_end_us,
                    "rows": n,
                    "ts": time.time(),
                }
            ],
        )
    return metrics


def update_tiers(
    store: TierStore,
    start_us: int,
    end_us: int,
    update_limit: int = 1,
    run_id: str | None = None,
) -> dict:
    """Incrementally refresh hour+day tiers from the minute tier, then the
    month tier from day (months whose stamps fall in the window)."""
    out = {}
    for step in tiers.STEPS:
        if step.type != "average":
            continue
        out[step.data_interval] = refresh.run_as_update(
            store,
            "minute",
            step.data_interval,
            step,
            start_us,
            end_us,
            update_limit=update_limit,
            run_id=run_id,
        )
    out["month"] = refresh.refresh_month(store, start_us, end_us, run_id=run_id)
    return out


def sync_changed(
    store: TierStore, since_minute_version: int, run_id: str | None = None
) -> dict:
    """CDC-driven cross-tier synchronization: propagate everything that
    changed in the minute tier since ``since_minute_version`` down the
    chain — hour and day via :func:`refresh.refresh_changed` (each
    average step reads the minute tier directly), then the month tier by
    force-recomputing the calendar months the change range touches.

    The consumer contract: a scheduler records the minute tier's version
    after each sync and passes it next time — downstream cost is
    O(changed partitions), never O(table), and a no-change poll is a
    no-op. Complements (does not replace) gap-driven ``update_tiers``:
    gaps are for missing slots, sync is for STALE ones.

    The changelog is evaluated once: one action plans every average
    step's stale runs and the changed range the month repair uses
    (:func:`refresh.plan_changed`)."""
    steps = [step for step in tiers.STEPS if step.type == "average"]
    runs, rng = refresh.plan_changed(
        store.changelog("minute", since_minute_version), steps
    )
    out = {
        step.data_interval: refresh._recompute_changed(
            store,
            "minute",
            step.data_interval,
            step,
            step_runs,
            since_minute_version,
            run_id=run_id,
        )
        for step, step_runs in zip(steps, runs)
    }
    if rng is not None:
        out["month"] = refresh.refresh_month(
            store, rng[0], rng[1], run_id=run_id, force=True
        )
    return out


def sync_from_cursor(
    store: TierStore, consumer: str = "downstream", run_id: str | None = None
) -> dict:
    """Cursor-managed :func:`sync_changed`: the cron-friendly form where
    the STORE remembers the consumer's minute-tier resume pointer
    (:meth:`TierStore.get_cursor` / ``set_cursor``) instead of the
    scheduler threading ``--since-version`` between invocations — the
    same advance-after-work-lands contract as the reference statefile
    (``SqDistAlgorithm.py:122-167``).

    First poll baselines the cursor at the current version and does no
    work (changes before the consumer existed are the backfill's job —
    run ``build``/``update`` first). A no-change poll is a no-op. A
    cursor older than the time-travel window raises
    :class:`TimeTravelError` — re-baseline explicitly (full ``update``
    over the retention window, then ``set_cursor(force=True)``); the
    cursor is only advanced AFTER the sync lands, so a crashed sync
    re-runs from the same version (recomputes are idempotent last-wins
    merges)."""
    v_now = store.current_version("minute")
    v_from = store.get_cursor("minute", consumer)
    if v_from is None:
        store.set_cursor("minute", consumer, v_now)
        return {"consumer": consumer, "synced": False, "baselined_at": v_now}
    if v_from == v_now:
        return {"consumer": consumer, "synced": False, "cursor": v_from}
    if v_from not in store.versions("minute"):
        from ..sources.store import TimeTravelError

        raise TimeTravelError(
            f"cursor {v_from} for consumer {consumer!r} aged out of the "
            f"minute tier's time-travel window {store.versions('minute')} — "
            "re-baseline: run a full update over the retention window, then "
            "set_cursor(force=True)"
        )
    # v_now is pinned BEFORE the sync: an ingest landing mid-sync is not
    # acknowledged and the next poll picks it up.
    out = sync_changed(store, v_from, run_id=run_id)
    store.set_cursor("minute", consumer, v_now)
    return {
        "consumer": consumer,
        "synced": True,
        "from_version": v_from,
        "to_version": v_now,
        "tiers": out,
    }


def apply_retention(
    store: TierStore, now_us: int, retention_us: dict | None = None
) -> dict:
    retention_us = retention_us or DEFAULT_RETENTION_US
    dropped = {}
    for tier, keep in retention_us.items():
        if store.exists(tier):
            dropped[tier] = store.expire_before(tier, now_us - keep)
        # packed siblings share the tier's retention horizon: their
        # segment p_date partitions drop through the same manifest
        # retention commit (write_packed keeps the partition spec)
        if store.exists(f"{tier}_packed"):
            dropped[f"{tier}_packed"] = store.expire_before(
                f"{tier}_packed", now_us - keep
            )
    return dropped


def erase_urls(
    store: TierStore,
    urls: list[str],
    hard: bool = False,
    tiers: tuple = ("minute", "hour", "day", "month"),
) -> dict:
    """Right-to-be-forgotten across the WHOLE cascade: every long-layout
    tier drops the victim series via the bucket-pruned copy-on-write
    delete (``delete_series``), and every packed sibling drops the victim
    SEGMENT rows through the same ``delete_series`` on the store's
    ``packed_view`` — segment filtering, no Gorilla decode. On both
    layouts the default is a soft snapshot commit (the replaced files
    stay in trash for the time-travel grace); ``hard=True`` physically
    unlinks them now, together with the victim-bucket files earlier
    commits had already moved to trash. One entry point so an erasure request cannot miss
    a derived tier — the operational gap audits actually flag."""
    out: dict = {}
    packed = store.packed_view()
    for t in tiers:
        if store.exists(t):
            out[t] = store.delete_series(t, urls, hard=hard)
        if store.exists(f"{t}_packed"):
            out[f"{t}_packed"] = packed.delete_series(
                f"{t}_packed", urls, hard=hard
            )
    return out


def publish_tiers(
    store: TierStore,
    tiers: tuple = ("minute", "hour", "day", "month"),
    ref: str = "published",
) -> dict:
    """Write-audit-publish flip for the whole cascade: move the named
    ref of every existing tier to its current snapshot, after the audit
    ran against the latest-reading store. Consumers constructed with
    ``read_ref=ref`` switch atomically per tier."""
    return {
        t: store.publish(t, ref=ref) for t in tiers if store.exists(t)
    }


def maintain(
    store: TierStore,
    now_us: int,
    retention_us: dict | None = None,
    compact_tiers: tuple = ("minute", "hour", "day", "month"),
) -> dict:
    """Scheduled store maintenance: retention partition drops, then
    small-file compaction of the long-layout tiers (the Iceberg
    ``expire_snapshots`` + ``rewrite_data_files`` housekeeping pair)."""
    out = {"retention": apply_retention(store, now_us, retention_us)}
    out["compaction"] = {
        t: store.compact(t) for t in compact_tiers if store.exists(t)
    }
    return out
