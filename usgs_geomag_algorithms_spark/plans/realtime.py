"""Realtime derived-product updates — ``geomagio/processing`` parity.

The reference ships thin cron entry points that re-run stateless
per-sample algorithms over a trailing realtime window and backfill any
output gaps (``geomagio/processing/derived.py`` — adjusted / average;
``geomagio/processing/efield.py`` — polarity inversion + minute filter;
window arithmetic ``geomagio/Controller.py:639-644``, gap-driven update
``Controller.py:381-474``). Here the same compositions run against the
:class:`~..sources.store.TierStore`:

- gap detection is ONE Spark plan per call: expected slots are the grid
  stamps where every required input channel has a row (the base
  ``Algorithm.can_produce_data`` rule, Algorithm.py:90-118 — all
  channels present), present slots are stamps where every output channel
  exists; the driver materializes only merged gap *intervals* (bounded
  by gap count, never slot count);
- recompute reads just the gap intervals, applies the pure-column
  transform (``operators.convert.adjusted`` / ``xyz_convert`` /
  ``average_across_series``) and upserts — last-wins, idempotent;
- a gap touching the window start widens the window one
  ``realtime_interval`` back, at most ``update_limit`` times
  (Controller.py:427-448 recursion).

Unlike :mod:`.refresh` (FIR cascade steps with window back-propagation
and slot checkpoints), these products are sample-aligned maps: input
interval == output interval, no filter half-width, and recompute is so
cheap that gap intervals — not RLE checkpoints — are the only state.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..operators.average import average_across_series
from ..operators.convert import adjusted, pivot_channels, unpivot_channels
from ..sources.store import TierStore

US = 1_000_000
MINUTE_US = 60 * US


def get_realtime_interval(
    realtime_interval_s: int, now_us: int
) -> tuple[int, int]:
    """(start_us, end_us) of the trailing realtime window: the end is *now*
    floored to the minute, the start one interval earlier
    (ref ``Controller.get_realtime_interval``, Controller.py:639-644).

    ``now_us`` is explicit (no wall-clock read here) so jobs are
    replayable and tests deterministic."""
    end_us = now_us - now_us % MINUTE_US
    return end_us - realtime_interval_s * US, end_us


def find_derived_gaps(
    store: TierStore,
    tier_out: str,
    tier_in: str,
    in_channels: Sequence[str],
    out_channels: Sequence[str],
    interval_us: int,
    start_us: int,
    end_us: int,
    in_store: TierStore | None = None,
    in_series: Sequence[str] | None = None,
    out_series: Sequence[str] | None = None,
    urls: Sequence[str] | None = None,
) -> list[tuple[int, int]]:
    """Merged gap intervals for a sample-aligned derived product.

    A grid stamp is *expected* when every ``in_channels`` channel has an
    on-grid input row there for some series (restricted to ``in_series``
    when given — and when given, ALL listed series must be present, the
    multi-observatory average rule); it is *present* when every
    ``out_channels`` row exists for the matching output series. Gap =
    expected and not present. ``urls`` restricts BOTH sides to the given
    series while keeping per-url keys (the per-observatory calibration
    application), unlike ``in_series``'s all-of-them average rule. Everything runs as one Spark plan; only
    merged run boundaries reach the driver."""
    src_store = in_store or store
    grid0 = start_us + (-start_us) % interval_us
    grid1 = end_us - end_us % interval_us
    if grid1 < grid0:
        return []
    # NaN/NULL input rows are GAPS, not data (the reference's in-band
    # convention: ``can_produce_data`` consults merged gaps, and
    # ``get_trace_gaps`` treats NaN runs as gaps — TimeseriesUtility.py).
    # Counting a masked NULL row as present would flag a slot the
    # NaN-propagating transform can never fill: an every-run retry loop
    # (observed live against a cascade minute tier, whose undercovered
    # slots are materialized NULL rows).
    v = F.col("value")
    src = src_store.read(tier_in, grid0, grid1).where(
        F.col("channel").isin(list(in_channels))
        & (F.pmod(F.col("t_us"), F.lit(interval_us)) == 0)
        & v.isNotNull()
        & ~F.isnan(v)
    )
    if urls is not None:
        src = src.where(F.col("url").isin(list(urls)))
    if in_series is not None:
        src = src.where(F.col("url").isin(list(in_series)))
        # all observatories AND all channels (base can_produce_data:
        # every input trace must cover the stamp)
        need = len(in_series) * len(in_channels)
        expected = (
            src.groupBy("t_us")
            .agg(F.count_distinct("url", "channel").alias("_n"))
            .where(F.col("_n") == need)
            .select("t_us")
        )
        key = ["t_us"]
    else:
        expected = (
            src.groupBy("url", "t_us")
            .agg(F.count_distinct("channel").alias("_n"))
            .where(F.col("_n") == len(in_channels))
            .select("url", "t_us")
        )
        key = ["url", "t_us"]

    if store.exists(tier_out):
        # a NULL/NaN OUTPUT row is not "complete" either: the recompute
        # path never writes one, but a stale NaN (e.g. written before an
        # input correction, or by another writer) must re-flag its slot
        # once the inputs can produce a value — counting it as present
        # would mask the slot forever
        ov = F.col("value")
        out = store.read(tier_out, grid0, grid1).where(
            F.col("channel").isin(list(out_channels))
            & ov.isNotNull()
            & ~F.isnan(ov)
        )
        if out_series is not None:
            out = out.where(F.col("url").isin(list(out_series)))
        if urls is not None:
            out = out.where(F.col("url").isin(list(urls)))
        complete = (
            out.groupBy(*key)
            .agg(F.count_distinct("channel").alias("_m"))
            .where(F.col("_m") == len(out_channels))
            .select(*key)
        )
        missing = expected.join(complete, key, "left_anti")
    else:
        missing = expected
    from ..operators.gaps import slot_runs

    return slot_runs(missing.select("t_us"), interval_us)


def _gap_update_loop(
    store: TierStore,
    tier_out: str,
    find_gaps: Callable[[int], list[tuple[int, int]]],
    recompute: Callable[[int, int], DataFrame],
    interval_us: int,
    start_us: int,
    end_us: int,
    realtime_interval_s: int,
    update_limit: int,
) -> dict:
    """The shared Controller-parity loop (Controller.py:427-448): detect
    gaps in the window, recompute them as ONE unioned upsert commit, and
    when the oldest gap touches the window's first grid slot, slide the
    window one ``realtime_interval`` back — at most ``update_limit``
    times. Each round runs one Spark action for the count and one commit
    (the union is persisted so the upsert does not re-execute the
    transforms)."""
    metrics = {"gaps_filled": 0, "rows_written": 0, "windows_examined": 0}
    win_start = start_us
    for _ in range(max(1, update_limit)):
        metrics["windows_examined"] += 1
        gaps = find_gaps(win_start)
        if not gaps:
            break
        out = None
        for lo, hi in gaps:
            piece = recompute(lo, hi)
            out = piece if out is None else out.unionByName(piece)
        out = out.persist()
        n = out.count()
        if n:
            store.upsert(out, tier_out)
        out.unpersist()
        metrics["gaps_filled"] += len(gaps)
        metrics["rows_written"] += n
        # compare against the window's first GRID slot: win_start itself
        # may be off-grid (e.g. a minute-aligned realtime start with an
        # hourly product), and a gap can never begin before grid0
        grid0 = win_start + (-win_start) % interval_us
        if gaps[0][0] > grid0:
            break  # oldest gap didn't touch the start: window is settled
        win_start -= realtime_interval_s * US
    return metrics


def run_derived_update(
    store: TierStore,
    tier_out: str,
    tier_in: str,
    transform: Callable[[DataFrame], DataFrame],
    in_channels: Sequence[str],
    out_channels: Sequence[str],
    interval_us: int,
    start_us: int,
    end_us: int,
    realtime_interval_s: int = 600,
    update_limit: int = 10,
    in_store: TierStore | None = None,
    urls: Sequence[str] | None = None,
) -> dict:
    """Gap-driven update of a wide->wide channel transform.

    ``transform`` maps a wide frame (one column per ``in_channels``, plus
    ``url``/``t_us``) to a wide frame with ``out_channels`` columns —
    e.g. a closure over :func:`~..operators.convert.adjusted`."""
    src_store = in_store or store

    def find_gaps(win_start: int) -> list[tuple[int, int]]:
        return find_derived_gaps(
            store,
            tier_out,
            tier_in,
            in_channels,
            out_channels,
            interval_us,
            win_start,
            end_us,
            in_store=src_store,
            urls=urls,
        )

    def recompute(lo: int, hi: int) -> DataFrame:
        src = src_store.read(tier_in, lo, hi).where(
            F.col("channel").isin(list(in_channels))
        )
        if urls is not None:
            src = src.where(F.col("url").isin(list(urls)))
        wide = pivot_channels(src, list(in_channels))
        out_wide = transform(wide)
        v = F.col("value")
        # drop NULL *and NaN* outputs: a merged gap interval's read can
        # include series whose input vector is incomplete there (they are
        # not expected); the NaN the transform propagates for them must
        # not be written — with the non-NaN present-side check it would
        # be recomputed every tick, and before that fix it silently
        # masked the slot forever
        return unpivot_channels(out_wide, list(out_channels)).where(
            v.isNotNull() & ~F.isnan(v)
        )

    return _gap_update_loop(
        store,
        tier_out,
        find_gaps,
        recompute,
        interval_us,
        start_us,
        end_us,
        realtime_interval_s,
        update_limit,
    )


def adjusted_update(
    store: TierStore,
    tier_out: str,
    tier_in: str,
    matrix: np.ndarray,
    pier_correction: float = 0.0,
    in_channels: Sequence[str] = ("H", "E", "Z", "F"),
    out_channels: Sequence[str] = ("X", "Y", "Z", "F"),
    interval_us: int = US,
    start_us: int = 0,
    end_us: int = 0,
    realtime_interval_s: int = 600,
    update_limit: int = 10,
    in_store: TierStore | None = None,
    urls: Sequence[str] | None = None,
) -> dict:
    """``processing/derived.py:16-69`` — realtime Adjusted application.
    ``urls`` restricts detection and recompute to the given
    observatories (per-observatory calibration matrices)."""
    m = np.asarray(matrix, dtype=float)
    k = m.shape[0] - 1

    def transform(wide: DataFrame) -> DataFrame:
        return adjusted(
            wide,
            m,
            pier_correction=pier_correction,
            in_channels=list(in_channels)[: k + 1],
            out_channels=list(out_channels)[: k + 1],
        )

    return run_derived_update(
        store,
        tier_out,
        tier_in,
        transform,
        in_channels,
        out_channels,
        interval_us,
        start_us,
        end_us,
        realtime_interval_s=realtime_interval_s,
        update_limit=update_limit,
        in_store=in_store,
        urls=urls,
    )


#: the e-field polarity inversion matrix (``processing/efield.py:33-39``):
#: 1 Hz E-E / E-N are sign-flipped into the adjusted tier.
EFIELD_MATRIX = np.array(
    [[-1.0, 0.0, 0.0], [0.0, -1.0, 0.0], [0.0, 0.0, 1.0]]
)
EFIELD_CHANNELS = ("E-E", "E-N")


def efield_update(
    store: TierStore,
    tier_out: str,
    tier_in: str,
    interval_us: int = US,
    start_us: int = 0,
    end_us: int = 0,
    realtime_interval_s: int = 600,
    update_limit: int = 10,
    in_store: TierStore | None = None,
) -> dict:
    """``processing/efield.py:15-41`` — invert 1 Hz E-E/E-N polarity into
    the adjusted tier. (The reference then minute-filters both tiers; run
    :func:`~.refresh.run_as_update` with the minute step for that leg,
    as ``jobs/run_derived.py`` does.)"""
    return adjusted_update(
        store,
        tier_out,
        tier_in,
        EFIELD_MATRIX,
        in_channels=EFIELD_CHANNELS,
        out_channels=EFIELD_CHANNELS,
        interval_us=interval_us,
        start_us=start_us,
        end_us=end_us,
        realtime_interval_s=realtime_interval_s,
        update_limit=update_limit,
        in_store=in_store,
    )


def average_update(
    store: TierStore,
    tier_out: str,
    tier_in: str,
    observatories: Sequence[str],
    input_channel: str,
    output_observatory: str = "USGS",
    output_channel: str | None = None,
    interval_us: int = US,
    start_us: int = 0,
    end_us: int = 0,
    realtime_interval_s: int = 600,
    update_limit: int = 10,
    in_store: TierStore | None = None,
) -> dict:
    """``processing/derived.py:72-113`` — realtime multi-observatory
    average (Dst-style). Expected slots require EVERY observatory present
    (base ``can_produce_data``); output lands on ``output_observatory``
    under ``output_channel``."""
    out_ch = output_channel or input_channel
    src_store = in_store or store

    def find_gaps(win_start: int) -> list[tuple[int, int]]:
        return find_derived_gaps(
            store,
            tier_out,
            tier_in,
            [input_channel],
            [out_ch],
            interval_us,
            win_start,
            end_us,
            in_store=src_store,
            in_series=list(observatories),
            out_series=[output_observatory],
        )

    def recompute(lo: int, hi: int) -> DataFrame:
        src = src_store.read(tier_in, lo, hi).where(
            F.col("channel").isin([input_channel])
            & F.col("url").isin(list(observatories))
        )
        avg = average_across_series(
            src,
            n_series=len(observatories),
            out_series=output_observatory,
        )
        v = F.col("value")
        return avg.select(
            F.col("url"),
            F.lit(out_ch).alias("channel"),
            F.col("t_us"),
            v,
        ).where(v.isNotNull() & ~F.isnan(v))

    return _gap_update_loop(
        store,
        tier_out,
        find_gaps,
        recompute,
        interval_us,
        start_us,
        end_us,
        realtime_interval_s,
        update_limit,
    )
