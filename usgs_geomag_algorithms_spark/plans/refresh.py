"""Incremental continuous-aggregate maintenance (the reference's
``Controller.run_as_update`` re-imagined for materialized tier tables).

Reference behavior (``geomagio/Controller.py:326-474``): read the OUTPUT
store over the requested window, find the merged gaps, and for each gap
(oldest first) re-read the widened input interval, recompute, and write;
when a gap touches the window start, recursively step one window earlier,
bounded by ``update_limit``. Stateless algorithms only (``:377-378``).

Engine version:

- output gaps come from one aggregate over the output tier (which output
  grid slots have NO valid value for ANY series — cross-series merged gaps)
- each gap is recomputed via the cascade step with the plan-time widened
  input scan (partition-pruned read from the input tier) and upserted
  (last-wins; deterministic recompute makes re-runs idempotent)
- every completed gap appends a lineage record {run_id, tier, gap, input
  coverage, rows} and advances a checkpoint file; a killed job resumes by
  skipping gaps the checkpoint already covers
- metrics (rows written, gaps filled, wall) are returned and persisted
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, functions as F

from ..operators.gaps import pair_run_boundaries, slot_run_boundaries, slot_runs
from ..operators.rollup import rollup_step
from ..sources.store import TierStore
from ..tiers import Step


def _checkpoint_path(store: TierStore, tier_out: str) -> str:
    return f"{store.root}/_checkpoint_{tier_out}.json"


def load_checkpoint(store: TierStore, tier_out: str, out_us: int | None = None) -> dict:
    p = _checkpoint_path(store, tier_out)
    if os.path.exists(p):
        with open(p) as f:
            state = json.load(f)
        # legacy flat slot lists -> run-length encoding (the checkpoint for
        # a year-long minute backfill is a handful of [start,end] pairs,
        # not 525k integers); slots exactly out_us apart form one run
        if "completed" in state and "completed_runs" not in state:
            gap = out_us if out_us is not None else 1
            slots = sorted(state.pop("completed"))
            runs: list[list[int]] = []
            for s in slots:
                if runs and s - runs[-1][1] <= gap:
                    runs[-1][1] = s
                else:
                    runs.append([s, s])
            state["completed_runs"] = runs
        return state
    return {"completed_runs": []}


def _insert_run(runs: list[list[int]], new: tuple[int, int], out_us: int) -> list[list[int]]:
    """Insert [s,e] into a sorted run list, merging runs that touch
    (adjacent slots are ``out_us`` apart)."""
    out: list[list[int]] = []
    s, e = int(new[0]), int(new[1])
    placed = False
    for rs, re in runs:
        if re + out_us < s or rs > e + out_us:
            if not placed and rs > e + out_us:
                out.append([s, e])
                placed = True
            out.append([rs, re])
        else:
            s, e = min(s, rs), max(e, re)
    if not placed:
        out.append([s, e])
    out.sort()
    return out


def _subtract_runs(
    gap: tuple[int, int], runs: list[list[int]], out_us: int
) -> list[tuple[int, int]]:
    """Slots of ``gap`` not covered by ``runs``, as contiguous [s,e]
    sub-intervals (all on the stamped out_us grid)."""
    s, e = gap
    parts: list[tuple[int, int]] = []
    cur = s
    for rs, re in runs:
        if re < cur or rs > e:
            continue
        if rs > cur:
            parts.append((cur, min(rs - out_us, e)))
        cur = max(cur, re + out_us)
        if cur > e:
            break
    if cur <= e:
        parts.append((cur, e))
    return [p for p in parts if p[0] <= p[1]]


def save_checkpoint(store: TierStore, tier_out: str, state: dict) -> None:
    p = _checkpoint_path(store, tier_out)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f, sort_keys=True)
    os.replace(tmp, p)


def output_grid_bounds(step: Step, start_us: int, end_us: int) -> tuple[int, int]:
    """First/last expected output stamps inside [start_us, end_us]."""
    out_us = step.out_us
    grid0 = -(-(start_us - step.stamp_offset_us) // out_us) * out_us + step.stamp_offset_us
    grid1 = (end_us - step.stamp_offset_us) // out_us * out_us + step.stamp_offset_us
    return grid0, grid1


def _affected_slots(
    rows: DataFrame, step: Step, keep: Sequence[str] = ()
) -> DataFrame:
    """Stamped output slots (``keep`` columns + ``t_us``) whose filter
    window holds an on-grid input row of ``rows``.

    A row at t contributes to output anchors a with a+lo_off <= t <=
    a+hi_off, i.e. a in [t-hi_off, t-lo_off] — a tiny explode
    (window/out ratio, e.g. 2.5 slots/row for Gaussian-91, 1 for
    boxcars). Pure integer arithmetic: epoch-us doubles would round near
    the 2^53 edge, and `div` truncates toward zero — wrong for t_us
    within a filter half-width of epoch 0. pmod is always non-negative,
    so floor(x/d)*d = x - pmod(x,d) and ceil(x/d)*d = (x+d-1) -
    pmod(x+d-1,d) hold for negative x too."""
    out_us = step.out_us
    lo_off, hi_off = step.window_lo_offset_us, step.window_hi_offset_us
    _fx = f"((t_us - {hi_off}) + {out_us - 1})"
    first_a = f"({_fx} - pmod({_fx}, {out_us}))"
    last_a = f"((t_us - {lo_off}) - pmod(t_us - {lo_off}, {out_us}))"
    return (
        # same off-grid guard as rollup_step: a row the rollup cannot see
        # must not flag a slot (it would re-recompute forever)
        rows.where(F.pmod(F.col("t_us"), F.lit(step.in_us)) == 0)
        .where(F.expr(f"{first_a} <= {last_a}"))
        .select(
            *keep,
            F.explode(F.expr(f"sequence({first_a}, {last_a}, {out_us})")).alias("_a"),
        )
        .select(*keep, (F.col("_a") + step.stamp_offset_us).cast("long").alias("t_us"))
    )


def find_output_gaps(
    store: TierStore,
    tier_out: str,
    step: Step,
    start_us: int,
    end_us: int,
    tier_in: str | None = None,
) -> list[tuple[int, int]]:
    """Gap intervals on the output grid within [start_us, end_us].

    Presence = an output ROW exists (even a masked NULL one) — the rollup
    materializes NULL rows for eligible-but-undercovered windows, so
    "computed but masked" is distinguishable from "never computed" and
    legitimately-masked slots are not recomputed on every run.

    With ``tier_in``, presence is checked PER SERIES (union semantics, the
    reference's ``get_merged_gaps`` across channels): a slot is a gap when
    a series with input rows inside THAT slot's filter window lacks an
    output row there. Restricting to the slot's own window (not the whole
    refresh range) means a series covering only part of the window flags
    only its own slots — partial-coverage series don't re-trigger
    recompute of slots they never could produce.

    Everything is computed as one Spark plan; the driver materializes only
    the merged gap INTERVALS (bounded by the number of gaps, never the
    number of slots — a year-long minute window is 525k slots but
    typically a handful of gap runs)."""
    grid0, grid1 = output_grid_bounds(step, start_us, end_us)
    out_us = step.out_us
    if grid1 < grid0:
        return []
    spark = store.spark
    n_slots = (grid1 - grid0) // out_us + 1
    slots = spark.range(n_slots).select(
        (F.lit(grid0) + F.col("id") * out_us).cast("long").alias("t_us")
    )
    have_out = store.exists(tier_out)
    if tier_in is not None and store.exists(tier_in):
        in_lo, in_hi = step.input_interval_us(grid0, grid1)
        src = store.read(tier_in, in_lo, in_hi)
        expected_pairs = (
            _affected_slots(src, step, store.series_cols)
            .where(F.col("t_us").between(grid0, grid1))
            .distinct()
        )
        if have_out:
            out_pairs = (
                store.read(tier_out, grid0, grid1)
                .select(*store.series_cols, "t_us")
                .distinct()
            )
            missing = expected_pairs.join(
                out_pairs, [*store.series_cols, "t_us"], "left_anti"
            )
        else:
            missing = expected_pairs
        missing_slots = missing.select("t_us")
    elif have_out:
        present = store.read(tier_out, grid0, grid1).select("t_us").distinct()
        missing_slots = slots.join(present, "t_us", "left_anti")
    else:
        missing_slots = slots
    # island detection as one aggregate: only run boundaries come back to
    # the driver, however fine the grid
    return slot_runs(missing_slots, out_us)


def run_as_update(
    store: TierStore,
    tier_in: str,
    tier_out: str,
    step: Step,
    start_us: int,
    end_us: int,
    update_limit: int = 1,
    run_id: str | None = None,
) -> dict:
    """Fill output gaps in [start_us, end_us]; when a gap touches the window
    start, step one window earlier (up to ``update_limit`` recursions —
    ref ``Controller.py:427-448``). Oldest gaps fill first. Resumable: gaps
    already in the checkpoint are skipped."""
    run_id = run_id or f"run-{int(time.time() * 1000)}"
    ckpt = load_checkpoint(store, tier_out, step.out_us)
    # checkpoint granularity = run-length-encoded [start,end] slot
    # intervals on the output grid (stable across runs, unlike gap extents
    # which merge/shrink as data lands; bounded by gap COUNT, so a
    # year-long minute backfill checkpoints a few pairs, not 525k slots)
    done_runs: list[list[int]] = [
        [int(a), int(b)] for a, b in ckpt.get("completed_runs", [])
    ]
    metrics = {"run_id": run_id, "gaps_filled": 0, "rows_written": 0, "skipped": 0}

    window_us = end_us - start_us + step.out_us
    out_us = step.out_us

    def recompute_run(gap: tuple[int, int]) -> None:
        nonlocal done_runs
        in_lo, in_hi = step.input_interval_us(gap[0], gap[1])
        src = store.read(tier_in, in_lo, in_hi)
        out = rollup_step(
            src,
            step,
            range_start_us=in_lo,
            range_end_us=in_hi,
            series_cols=store.series_cols,
        ).persist()  # one execution feeds both the count and the upsert
        n = out.count()
        if n > 0:
            store.upsert(out, tier_out)
        out.unpersist()
        store.append_lineage(
            tier_out,
            [
                {
                    "run_id": run_id,
                    "tier": tier_out,
                    "gap_start_us": gap[0],
                    "gap_end_us": gap[1],
                    "input_start_us": in_lo,
                    "input_end_us": in_hi,
                    "rows": n,
                    "ts": time.time(),
                }
            ],
        )
        done_runs = _insert_run(done_runs, gap, out_us)
        ckpt["completed_runs"] = done_runs
        save_checkpoint(store, tier_out, ckpt)
        metrics["gaps_filled"] += 1
        metrics["rows_written"] += n

    def process_window(w_start: int, w_end: int, depth: int) -> None:
        gaps = find_output_gaps(store, tier_out, step, w_start, w_end, tier_in)
        first_slot, _ = output_grid_bounds(step, w_start, w_end)
        for gap in gaps:
            # backfill recursion: a gap at the window's FIRST expected slot
            # means older data may also be missing (ref :427-448) — compare
            # against the slot, not w_start + offset, or unaligned windows
            # never recurse
            if gap[0] <= first_slot and depth < update_limit:
                # earlier window ends at the slot before this window's
                # first slot (equals w_start - out_us when aligned)
                process_window(
                    w_start - window_us, first_slot - step.out_us, depth + 1
                )
            todo = _subtract_runs(gap, done_runs, out_us)
            if not todo:
                metrics["skipped"] += 1
                continue
            for sub in todo:
                recompute_run(sub)

    process_window(start_us, end_us, 0)
    # the slot checkpoint exists to resume a KILLED run; a completed run
    # clears it so the next run re-evaluates gaps fresh (otherwise a slot
    # attempted before its input landed would be skipped forever)
    save_checkpoint(store, tier_out, {"completed_runs": []})
    store.append_lineage(tier_out, [{"run_id": run_id, "metrics": metrics}])
    return metrics


def _months_in_range(start_us: int, end_us: int) -> list[tuple[int, int, int]]:
    from ..operators.month import months_in_range

    return months_in_range(start_us, end_us)


def refresh_month(
    store: TierStore,
    start_us: int,
    end_us: int,
    run_id: str | None = None,
    force: bool = False,
) -> dict:
    """Month-tier ``run_as_update`` analog: recompute calendar months in
    [start_us, end_us] whose stamp is missing from the month tier (or all
    of them with ``force``) from the day tier, and upsert.

    Months are variable-width, so this skips the fixed-grid slot machinery:
    the month list is plan-time driver arithmetic, the recompute is one
    partition-pruned day-tier scan covering the affected months, and the
    upsert is the same last-wins merge — idempotent like the slot path."""
    from ..operators.month import DAY_STAMP_OFF_US, DAY_US, US, rollup_month

    run_id = run_id or f"run-{int(time.time() * 1000)}"
    months = _months_in_range(start_us, end_us)
    metrics = {"run_id": run_id, "gaps_filled": 0, "rows_written": 0, "skipped": 0}
    if not months:
        return metrics
    if force:
        todo = months
    else:
        # union semantics, same as find_output_gaps: a month stamp is todo
        # when ANY series with day data in that month lacks a month-tier
        # row at the stamp — a series whose days land after another series
        # already materialized the month still triggers recompute
        from ..operators.month import month_stamp_col

        all_lo = months[0][0] + DAY_STAMP_OFF_US
        all_hi = months[-1][0] + (months[-1][1] - 1) * DAY_US + DAY_STAMP_OFF_US
        day_rows = store.read("day", all_lo, all_hi)
        expected_pairs = day_rows.select(
            *store.series_cols, month_stamp_col(F.col("t_us")).alias("t_us")
        ).distinct()
        out_pairs = (
            store.read("month", months[0][2], months[-1][2])
            .select(*store.series_cols, "t_us")
            .distinct()
        )
        missing = {
            r.t_us
            for r in expected_pairs.join(
                out_pairs, [*store.series_cols, "t_us"], "left_anti"
            )
            .select("t_us")
            .distinct()
            .collect()
        }
        todo = [m for m in months if m[2] in missing]
        metrics["skipped"] = len(months) - len(todo)
    if not todo:
        store.append_lineage("month", [{"run_id": run_id, "metrics": metrics}])
        return metrics
    # one widened day-tier scan covering every affected month completely
    in_lo = todo[0][0] + DAY_STAMP_OFF_US
    last_m0, last_n, _ = todo[-1]
    in_hi = last_m0 + (last_n - 1) * DAY_US + DAY_STAMP_OFF_US
    day = store.read("day", in_lo, in_hi)
    out = rollup_month(day, in_lo, in_hi, series_cols=store.series_cols)
    stamps = [m[2] for m in todo]
    out = out.where(F.col("t_us").isin(stamps))
    n = out.count()
    if n > 0:
        store.upsert(out, "month")
    metrics["gaps_filled"] = len(todo)
    metrics["rows_written"] = n
    store.append_lineage("month", [{"run_id": run_id, "metrics": metrics}])
    return metrics


def refresh_changed(
    store: TierStore,
    tier_in: str,
    tier_out: str,
    step: Step,
    since_version: int,
    run_id: str | None = None,
) -> dict:
    """CDC-driven staleness repair: recompute exactly the output slots
    whose INPUT rows changed since ``since_version`` of the input tier.

    :func:`run_as_update` is gap-driven (the reference's semantics): it
    fills output slots that are MISSING. A late-data upsert that changes
    already-rolled input values, or a retention/GDPR deletion under an
    existing output row, leaves the slot present-but-stale — invisible
    to the gap audit. This pass closes that hole using the store's
    snapshot diff: ``changelog(tier_in, since_version)`` yields the
    changed rows (O(changed partitions)), the same anchor arithmetic as
    ``find_output_gaps`` maps them to affected output slots, and each
    merged slot run is recomputed from the CURRENT input snapshot.

    Deletion propagation: the recompute emits a row for every series
    with any live input in a window, so an EXISTING output row in an
    affected range that the recompute did not produce means that series
    has no live input there anymore — it is overwritten with a NULL
    value (the tier convention for "no data", same as masked windows),
    keeping the grid row auditable rather than silently stale.

    Metrics: {runs_recomputed, rows_written, rows_retired}. Idempotent:
    recomputes are deterministic and an empty changelog is a no-op.
    :func:`pipeline.sync_changed` plans every tier from one changelog
    evaluation (:func:`plan_changed`) and shares the recompute.
    """
    ch = store.changelog(tier_in, since_version)
    runs = slot_runs(_affected_slots(ch, step), step.out_us)
    return _recompute_changed(
        store, tier_in, tier_out, step, runs, since_version, run_id
    )


def plan_changed(
    ch: DataFrame, steps: Sequence[Step]
) -> tuple[list[list[tuple[int, int]]], tuple[int, int] | None]:
    """Plan a CDC sync from one evaluation of the changelog ``ch``: the
    stale slot runs of every step's output grid, plus the changed range's
    exact ``(min, max)`` of ``t_us`` (None when ``ch`` is empty).

    One Spark action: each step's affected slots carry a step tag into
    one :func:`slot_run_boundaries` aggregate, and a one-row range
    aggregate rides in the same collect under tag -1 (its ``t`` holds
    the min, its ``_x`` the max)."""
    tagged = reduce(
        DataFrame.unionByName,
        [
            _affected_slots(ch, step).select(
                F.lit(i).alias("_step"), "t_us", F.lit(step.out_us).alias("_iv")
            )
            for i, step in enumerate(steps)
        ],
    )
    bounds = slot_run_boundaries(tagged, F.col("_iv"), key_cols=["_step"]).select(
        "_step", "t", F.col("bits").cast("long").alias("_x")
    )
    rng = ch.agg(F.min("t_us").alias("t"), F.max("t_us").alias("_x")).select(
        F.lit(-1).alias("_step"), "t", "_x"
    )
    rows = bounds.unionByName(rng).collect()
    runs = [
        pair_run_boundaries(
            ((r.t, r._x) for r in rows if r._step == i), step.out_us
        )
        for i, step in enumerate(steps)
    ]
    lo, hi = next((r.t, r._x) for r in rows if r._step == -1)
    return runs, (None if lo is None else (int(lo), int(hi)))


def _recompute_changed(
    store: TierStore,
    tier_in: str,
    tier_out: str,
    step: Step,
    runs: list[tuple[int, int]],
    since_version: int,
    run_id: str | None = None,
) -> dict:
    """Recompute each stale output run of :func:`refresh_changed` from the
    current input snapshot, retire output rows the input no longer
    produces, and record lineage; returns the metrics."""
    run_id = run_id or f"cdc-{int(time.time() * 1000)}"
    metrics = {
        "run_id": run_id,
        "since_version": since_version,
        "runs_recomputed": 0,
        "rows_written": 0,
        "rows_retired": 0,
    }
    for gap in runs:
        in_lo, in_hi = step.input_interval_us(gap[0], gap[1])
        src = store.read(tier_in, in_lo, in_hi)
        out = rollup_step(
            src,
            step,
            range_start_us=in_lo,
            range_end_us=in_hi,
            series_cols=store.series_cols,
        ).persist()
        n = out.count()
        if n > 0:
            store.upsert(out, tier_out)
        # retire: existing output rows in the recomputed range the fresh
        # input no longer produces -> NULL values (auditable no-data)
        keys = [*store.series_cols, "t_us"]
        existing = store.read(tier_out, gap[0], gap[1]).select(*keys)
        retire = existing.join(out.select(*keys), keys, "left_anti").select(
            *keys,
            *[
                F.lit(None).cast(t).alias(c)
                for c, t in zip(
                    store.value_cols,
                    [s.strip().split(maxsplit=1)[1] for s in store.value_schema.split(",")],
                )
            ],
        )
        n_ret = retire.count()
        if n_ret > 0:
            store.upsert(retire, tier_out, clobber=True)
        out.unpersist()
        store.append_lineage(
            tier_out,
            [
                {
                    "run_id": run_id,
                    "tier": tier_out,
                    "gap_start_us": gap[0],
                    "gap_end_us": gap[1],
                    "input_start_us": in_lo,
                    "input_end_us": in_hi,
                    "rows": n,
                    "retired": n_ret,
                    "cdc_since": since_version,
                    "ts": time.time(),
                }
            ],
        )
        metrics["runs_recomputed"] += 1
        metrics["rows_written"] += n
        metrics["rows_retired"] += n_ret
    store.append_lineage(tier_out, [{"run_id": run_id, "metrics": metrics}])
    return metrics
