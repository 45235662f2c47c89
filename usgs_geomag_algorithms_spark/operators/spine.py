"""Time-spine generation and pad/trim — the long-format analog of the
reference's ``create_empty_trace`` / ``pad_and_trim_trace``
(``geomagio/TimeseriesUtility.py:12-63,501-570``).

At scale the engine avoids materializing spines (absent row == gap for every
operator); the spine exists for (a) serving layers that must return explicit
gap rows, (b) count-like signals where absence means 0, and (c) parity tests
with the reference's dense-array semantics.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from ..tiers import US


def grid_start_us(start_us: int, delta_s: float) -> int:
    """First valid sample time at/after ``start_us`` on the tier grid, with
    the center-stamp shift for hour/day tiers
    (ref ``create_empty_trace``, TimeseriesUtility.py:49-57).

    The ceil happens in SHIFTED space: the smallest ``k*delta + shift``
    that is ``>= start_us``. Ceiling to the raw grid first and then adding
    the shift would skip a whole interval when ``start_us`` lands between
    an anchor and its center stamp (e.g. hour tier, start 06:10 → the
    valid 06:29:30 sample), silently dropping stored rows from padded
    serving reads."""
    delta_us = int(round(delta_s * US))
    shift = (delta_us - 60 * US) // 2 if delta_s > 60.0 else 0
    return -(-(start_us - shift) // delta_us) * delta_us + shift


def pad_to_spine(
    df: DataFrame,
    start_us: int,
    end_us: int,
    delta_s: float,
    series_cols: Sequence[str] = ("url", "channel"),
    ts_col: str = "t_us",
    value_col: str = "value",
    fill_value=None,
) -> DataFrame:
    """Pad/trim a long frame to the grid over [start_us, end_us]:
    every (series, grid slot) appears exactly once; slots with no data carry
    ``fill_value`` (NULL = gap, or e.g. 0.0 for count semantics). Data
    outside the range is trimmed first, so the padded series are those
    with a row in the range, the series a range read returns (ref
    ``pad_and_trim_trace``, TimeseriesUtility.py:521-570).

    One window pass, and ``df`` is evaluated once: the in-range rows are
    sorted per series, and each row emits itself (when it sits on the
    grid) plus the grid slots between it and the series' next row; a
    series' first row also emits the slots before it. No join and no
    second pass over ``df`` for the series keys, so an expensive input (a
    Python decode) runs a single stage, and the range filter reaches
    ``df``'s scan. The window streams each series' rows (Spark spills its
    buffer), so no per-series state is held in memory. A filter on the
    padded output's stamps does not reach ``df`` (each row needs its
    series' next row), so pass the range the caller needs, not a wider one.

    Output columns: ``series_cols``, ``ts_col``, then every other column
    of ``df`` in its order. Off-grid stamps are dropped. A duplicated
    (series, ``ts_col``) slot yields one output row per input row, as a
    join of the grid with ``df`` would: padding does not pick one."""
    series_cols = list(series_cols)
    rest = [c for c in df.columns if c not in series_cols and c != ts_col]
    delta_us = int(round(delta_s * US))
    t0 = grid_start_us(start_us, delta_s)
    t = F.col(ts_col)
    df = df.where(t.between(int(start_us), int(end_us)))
    if t0 > int(end_us):
        # window too short to contain any stamp of this tier (e.g. an
        # hour-tier request inside one hour that misses :29:30): the grid
        # is legitimately empty
        out = df.select(*series_cols, ts_col, *rest).where(F.lit(False))
    else:
        # each row covers the slots from its own (the first slot at or
        # after its stamp) up to the next row's own; a series' first row
        # also covers the slots before it, and its last row those after it
        t1 = t0 + (int(end_us) - t0) // delta_us * delta_us  # last slot
        d = F.lit(delta_us)
        w = Window.partitionBy(*series_cols).orderBy(t)
        nxt = F.lead(t).over(w)
        own = t + F.pmod(F.lit(t0) - t, d)
        lo = F.when(F.row_number().over(w) == 1, F.lit(t0)).otherwise(own)
        hi = F.greatest(  # exclusive; an on-grid row always covers its own
            F.coalesce(nxt + F.pmod(F.lit(t0) - nxt, d), F.lit(t1 + delta_us)),
            own + F.when(own == t, d).otherwise(0),
        )
        lo_c, hi_c = F.col("_pad_lo"), F.col("_pad_hi")
        slots = F.when(lo_c < hi_c, F.sequence(lo_c, hi_c - d, d))
        on_grid = F.col("_pad_t") == F.col(ts_col)
        out = (
            df.select(
                *series_cols,
                t.alias("_pad_t"),
                *rest,
                lo.alias("_pad_lo"),
                hi.alias("_pad_hi"),
            )
            .select(*series_cols, "_pad_t", *rest, F.explode(slots).alias(ts_col))
            .select(
                *series_cols,
                ts_col,
                *[F.when(on_grid, F.col(c)).alias(c) for c in rest],
            )
        )
    if fill_value is not None:
        out = out.withColumn(
            value_col, F.coalesce(F.col(value_col), F.lit(float(fill_value)))
        )
    return out
