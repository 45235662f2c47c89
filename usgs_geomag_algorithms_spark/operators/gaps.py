"""Gap detection and interval merge as window-function plans; slot-run
detection as one aggregate.

Long-format re-expression of the reference's gap model
(``geomagio/TimeseriesUtility.py:184-290``): a gap is a maximal run of
grid slots whose value is NULL/NaN *or absent*. Each detected gap is
``[gap_start, gap_end, next_sample]`` exactly as ``get_trace_gaps`` returns
(next_sample = first valid slot after the gap, or one-past-the-end).
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


def detect_gaps(
    df: DataFrame,
    delta_s: float,
    range_start_us: int,
    range_end_us: int,
    series_cols: Sequence[str] = ("url", "channel"),
    ts_col: str = "t_us",
    value_col: str = "value",
) -> DataFrame:
    """Per-series gap list over the grid [range_start_us, range_end_us].

    Plan shape: keep only *valid* samples, then one window pass per series
    ordered by time — each consecutive-valid pair with a hole between them
    yields a gap, plus edge gaps at range bounds. Missing rows never need
    materializing: gaps fall out of the deltas between valid samples, so
    the operator is O(valid rows), not O(grid slots) — the property that
    makes it usable on a 100 TB sparse tier.

    Output: series_cols + (gap_start_us, gap_end_us, next_valid_us).
    """
    series_cols = list(series_cols)
    delta_us = int(round(delta_s * 1_000_000))
    t = F.col(ts_col)
    v = F.col(value_col)
    valid = df.where(
        t.between(int(range_start_us), int(range_end_us))
        & v.isNotNull()
        & ~F.isnan(v)
    ).select(*series_cols, t.alias("t"))

    w = Window.partitionBy(*series_cols).orderBy("t")
    stepped = valid.select(
        *series_cols,
        F.col("t"),
        F.lag("t").over(w).alias("prev_t"),
    )

    # interior gaps: hole between prev_t and t
    interior = stepped.where(
        F.col("prev_t").isNotNull() & (F.col("t") - F.col("prev_t") > delta_us)
    ).select(
        *series_cols,
        (F.col("prev_t") + delta_us).alias("gap_start_us"),
        (F.col("t") - delta_us).alias("gap_end_us"),
        F.col("t").alias("next_valid_us"),
    )
    # leading gap: range start to first valid
    edges = valid.groupBy(*series_cols).agg(
        F.min("t").alias("first_t"), F.max("t").alias("last_t")
    )
    lead = edges.where(F.col("first_t") > int(range_start_us)).select(
        *series_cols,
        F.lit(int(range_start_us)).alias("gap_start_us"),
        (F.col("first_t") - delta_us).alias("gap_end_us"),
        F.col("first_t").alias("next_valid_us"),
    )
    # trailing gap: last valid to range end; next = one past the end
    trail = edges.where(F.col("last_t") < int(range_end_us)).select(
        *series_cols,
        (F.col("last_t") + delta_us).alias("gap_start_us"),
        F.lit(int(range_end_us)).alias("gap_end_us"),
        (F.lit(int(range_end_us)) + delta_us).alias("next_valid_us"),
    )
    # series present in range but with ZERO valid samples: the whole range
    # is one gap (ref get_trace_gaps on an all-NaN trace) — without this, a
    # fully-dead series would report "no gaps" to every monitoring/refill
    # consumer
    dead = (
        df.where(t.between(int(range_start_us), int(range_end_us)))
        .select(*series_cols)
        .distinct()
        .join(edges.select(*series_cols), series_cols, "left_anti")
        .select(
            *series_cols,
            F.lit(int(range_start_us)).alias("gap_start_us"),
            F.lit(int(range_end_us)).alias("gap_end_us"),
            (F.lit(int(range_end_us)) + delta_us).alias("next_valid_us"),
        )
    )
    return interior.unionByName(lead).unionByName(trail).unionByName(dead)


def _merge_runs(gaps: DataFrame, part_cols: Sequence[str]) -> DataFrame:
    """One interval-merge pass: within each partition key, order by start and
    split runs where start > cumulative max of previous ``next_valid``.

    The ``part_cols=[]`` form is a single-partition global window — legal
    ONLY for the boundary remainder of the two-phase merge (a few rows per
    bucket that span bucket edges), so it carries a :func:`guard_bounded`
    runtime ceiling instead of trusting call sites."""
    part_cols = list(part_cols)
    start = F.col("gap_start_us")
    if part_cols:
        w = Window.partitionBy(*part_cols).orderBy("gap_start_us")
    else:
        from ..functions.winguard import guard_bounded

        w = Window.orderBy("gap_start_us")
        start = guard_bounded(start, what="interval-merge boundary remainder")
    prev_max_next = F.max("next_valid_us").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = gaps.select(
        *part_cols,
        start.alias("gap_start_us"),
        "gap_end_us",
        "next_valid_us",
        F.when(
            prev_max_next.isNull() | (F.col("gap_start_us") > prev_max_next), 1
        )
        .otherwise(0)
        .alias("_new_run"),
    ).withColumn("_run", F.sum("_new_run").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        flagged.groupBy(*part_cols, "_run")
        .agg(
            F.min("gap_start_us").alias("gap_start_us"),
            F.max("gap_end_us").alias("gap_end_us"),
            F.max("next_valid_us").alias("next_valid_us"),
        )
        .drop("_run")
    )


def merge_gap_intervals(
    gaps: DataFrame,
    group_cols: Sequence[str] = (),
    bucket_us: int = 86_400_000_000,
) -> DataFrame:
    """Merge overlapping/adjacent gap intervals across series (the analog of
    ``get_merged_gaps``, TimeseriesUtility.py:249-290: intervals merge when
    the next gap starts at/before the current gap's next_valid sample).

    With ``group_cols`` the window is partitioned by the group key and
    parallelism follows group cardinality. The global case (no group key)
    cannot use one unpartitioned window at 100 TB, so it runs two-phase:

    1. bucket intervals by ``floor(gap_start / bucket_us)`` and merge within
       each bucket (partitioned window — fully parallel);
    2. an in-bucket-merged interval is *final* iff nothing can still merge
       with it across buckets: no earlier bucket reaches its start
       (prefix-max of per-bucket max ``next_valid`` over bucket ids — a
       #buckets-row aggregate) and its own ``next_valid`` stays inside its
       bucket. Only the non-final remainder — boundary-spanning chains,
       normally a tiny fraction — takes the single-partition merge pass.

    Output is identical to a single global merge (parity-tested).
    """
    group_cols = list(group_cols)
    if group_cols:
        return _merge_runs(gaps, group_cols)

    cols = ["gap_start_us", "gap_end_us", "next_valid_us"]
    bucketed = gaps.select(
        F.floor(F.col("gap_start_us") / F.lit(int(bucket_us))).alias("_b"), *cols
    )
    # phase1 feeds three consumers (reach aggregate, final branch,
    # spanning branch). NOT persisted: a persist here would live in the
    # CacheManager until clearCache (a leak in a long-lived session), and
    # the three branches share an identical hash-partition(_b) exchange
    # that ReuseExchange dedupes — only the cheap in-bucket window re-runs
    # per branch, over the already-small gap relation.
    phase1 = _merge_runs(bucketed, ["_b"])

    # Per-bucket reach: the farthest next_valid any earlier bucket attains.
    # #buckets rows — the unpartitioned window here is over a tiny frame.
    from ..functions.winguard import guard_bounded

    wb = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    reach = (
        phase1.groupBy("_b")
        .agg(F.max("next_valid_us").alias("_max_nv"))
        .select(
            "_b",
            guard_bounded(
                F.max("_max_nv").over(wb), what="per-bucket reach prefix"
            ).alias("_reach_left"),
        )
    )
    joined = phase1.join(F.broadcast(reach), "_b", "left")
    final_cond = (
        (F.col("_reach_left").isNull() | (F.col("gap_start_us") > F.col("_reach_left")))
        & (F.col("next_valid_us") < (F.col("_b") + 1) * F.lit(int(bucket_us)))
    )
    final = joined.where(final_cond).select(*cols)
    spanning = joined.where(~final_cond).select(*cols)
    return final.unionByName(_merge_runs(spanning, []))


def slot_run_boundaries(
    slots: DataFrame,
    interval: int | Column,
    t_col: str = "t_us",
    key_cols: Sequence[str] = (),
) -> DataFrame:
    """Spark half of :func:`slot_runs`: the boundary slots of every run, as
    ``(key_cols..., t, bits)`` rows — O(runs), whatever the slot count.

    One hash aggregate, no window: each slot ``t`` votes bit 1 at ``t``,
    bit 2 at ``t + interval`` ("my successor has a predecessor") and bit 4
    at ``t - interval`` ("my predecessor has a successor"); ``bit_or``
    per ``(key_cols..., t)`` then reads 1 = slot present, 2 = slot
    ``t - interval`` present, 4 = slot ``t + interval`` present. A present
    slot lacking 2 starts a run, one lacking 4 ends it, so the boundary
    rows are exactly ``bits`` in {1, 3, 5}. Duplicate slots vote the same
    bits, so callers need no ``distinct``; map-side partial aggregation
    keeps a year of seconds (31.5 M slots) to one exchange.

    ``interval`` may be a column, so one aggregate can plan several grids
    at once (one ``key_cols`` group per grid)."""
    iv = interval if isinstance(interval, Column) else F.lit(int(interval))
    t = F.col(t_col).cast("long")
    votes = slots.select(
        *key_cols,
        F.inline(
            F.array(
                F.struct(t.alias("t"), F.lit(1).alias("b")),
                F.struct((t + iv).alias("t"), F.lit(2).alias("b")),
                F.struct((t - iv).alias("t"), F.lit(4).alias("b")),
            )
        ),
    )
    return (
        votes.groupBy(*key_cols, "t")
        .agg(F.bit_or("b").alias("bits"))
        .where(F.col("bits").isin(1, 3, 5))
    )


def pair_run_boundaries(
    boundaries: Iterable[tuple[int, int]], interval_us: int
) -> list[tuple[int, int]]:
    """Driver half of :func:`slot_runs`: pair ``(t, bits)`` boundary rows
    into sorted ``(s, e)`` runs — the k-th start with the k-th end.

    Sound only on one grid: every slot must share one residue modulo
    ``interval_us`` (not necessarily 0 — stamped grids carry an offset).
    Slots on two residues interleave, and sorted starts no longer meet
    their own ends, so this raises ``ValueError``. The check is complete
    on boundaries alone: every run starts and ends at a boundary, and an
    off-grid slot is a run of its own."""
    rows = list(boundaries)
    residues = {t % interval_us for t, _ in rows}
    if len(residues) > 1:
        raise ValueError(
            f"slot_runs: slots lie on {len(residues)} residues modulo "
            f"{interval_us} (e.g. {sorted(residues)[:4]}); every slot must "
            "sit on one grid"
        )
    starts = sorted(t for t, bits in rows if not bits & 2)
    ends = sorted(t for t, bits in rows if not bits & 4)
    return list(zip(starts, ends))


def slot_runs(
    slots: DataFrame, interval_us: int, t_col: str = "t_us"
) -> list[tuple[int, int]]:
    """Contiguous-run detection over a slot grid: collapse a relation of
    grid timestamps (spacing ``interval_us``) into sorted ``(s, e)`` runs,
    where consecutive slots ``t`` and ``t + interval_us`` belong to one
    run — the refresh planners' missing-slot island detection
    (``run_as_update``'s gap diff).

    One action: :func:`slot_run_boundaries` aggregates the slots to their
    run boundaries, and :func:`pair_run_boundaries` pairs them on the
    driver. Precondition: all slots share one residue modulo
    ``interval_us``; a relation that breaks it raises ``ValueError``."""
    rows = slot_run_boundaries(slots, interval_us, t_col).collect()
    return pair_run_boundaries(((r.t, r.bits) for r in rows), interval_us)


def has_any_channels(
    df: DataFrame,
    channels: Sequence[str],
    range_start_us: int,
    range_end_us: int,
    channel_col: str = "channel",
    ts_col: str = "t_us",
    value_col: str = "value",
) -> bool:
    """True if ANY requested channel has valid data in range — the
    ``can_produce_data`` gate (ref ``TimeseriesUtility.has_any_channels``
    :369-401; used by FilterAlgorithm :211-227). A LIMIT-1 probe so the
    skip-if-empty short circuit never launches a full stage."""
    v = F.col(value_col)
    probe = df.where(
        F.col(channel_col).isin(list(channels))
        & F.col(ts_col).between(int(range_start_us), int(range_end_us))
        & v.isNotNull()
        & ~F.isnan(v)
    ).limit(1)
    return len(probe.take(1)) > 0


def has_all_channels(
    df: DataFrame,
    channels: Sequence[str],
    range_start_us: int,
    range_end_us: int,
    channel_col: str = "channel",
    ts_col: str = "t_us",
    value_col: str = "value",
) -> bool:
    """True if EVERY requested channel has valid data in range (ref
    ``has_all_channels`` :339-366): one distinct-channel aggregate."""
    v = F.col(value_col)
    present = (
        df.where(
            F.col(channel_col).isin(list(channels))
            & F.col(ts_col).between(int(range_start_us), int(range_end_us))
            & v.isNotNull()
            & ~F.isnan(v)
        )
        .select(channel_col)
        .distinct()
        .collect()
    )
    return {r[0] for r in present} >= set(channels)


def coverage_metrics(
    df: DataFrame,
    delta_s: float,
    range_start_us: int,
    range_end_us: int,
    series_cols: Sequence[str] = ("url", "channel"),
    ts_col: str = "t_us",
    value_col: str = "value",
) -> DataFrame:
    """Percent-missing per series over a range — the reference's ``monitor``
    gap metrics (``geomagio/processing/monitor.py``) as one aggregate."""
    series_cols = list(series_cols)
    delta_us = int(round(delta_s * 1_000_000))
    n_slots = (int(range_end_us) - int(range_start_us)) // delta_us + 1
    t, v = F.col(ts_col), F.col(value_col)
    return (
        df.where(t.between(int(range_start_us), int(range_end_us)))
        .groupBy(*series_cols)
        .agg(
            F.count(F.when(v.isNotNull() & ~F.isnan(v), True)).alias("n_valid"),
        )
        .select(
            *series_cols,
            "n_valid",
            F.lit(n_slots).alias("n_slots"),
            (100.0 * (F.lit(n_slots) - F.col("n_valid")) / F.lit(n_slots)).alias(
                "pct_missing"
            ),
        )
    )
