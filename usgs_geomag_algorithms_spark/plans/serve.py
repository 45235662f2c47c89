"""Serving layer: range reads over materialized tiers — the engine's analog
of the reference web service's ``/data`` endpoint
(``geomagio/api/ws/data.py:156-194``), which never recomputes: it reads the
already-materialized tier, derives missing channels, pads explicit gap rows,
and renders.

Composition: partition-pruned store read -> optional derive-on-read ->
spine pad (serving returns explicit gap rows, unlike the bulk path) ->
IMFJSON or wide frame. A request cap mirrors the reference's 345,600-sample
limit (``geomagio/api/ws/DataApiQuery.py:15,121-124``)."""

from __future__ import annotations

from collections.abc import Sequence

from ..operators.spine import pad_to_spine
from ..sources.imfjson import to_imfjson
from ..sources.store import TierStore
from ..tiers import INTERVAL_SECONDS, US

REQUEST_LIMIT_SAMPLES = 345_600


def select_tier(
    start_us: int,
    end_us: int,
    max_samples: int = REQUEST_LIMIT_SAMPLES,
    available: Sequence[str] = ("second", "minute", "hour", "day"),
) -> str:
    """The FINEST materialized tier whose sample count over the window
    fits ``max_samples`` — the reference's sampling-period negotiation
    (``geomagio/api/ws/data.py``: the service picks a coarser
    sampling_period rather than reject a long range) turned automatic:
    ``get_timeseries(tier='auto')`` serves a dashboard zoom-out from the
    day tier and a zoom-in from the minute tier through one call site,
    keeping every response under the request cap by construction.
    Raises if even the coarsest available tier exceeds the cap."""
    best = None
    for name in sorted(
        available, key=lambda n: INTERVAL_SECONDS[n]
    ):
        n_samples = int((end_us - start_us) / (INTERVAL_SECONDS[name] * US)) + 1
        if n_samples <= max_samples:
            best = name
            break
    if best is None:
        raise ValueError(
            f"no tier in {list(available)} fits {max_samples} samples over "
            f"[{start_us}, {end_us}]"
        )
    return best


def month_stamps(start_us: int, end_us: int) -> list[int]:
    """Center stamps of every calendar month whose stamp falls inside the
    range — delegates to the canonical enumeration in operators/month.py."""
    from ..operators.month import months_in_range

    return [stamp for (_m0, _n, stamp) in months_in_range(start_us, end_us)]


def get_timeseries(
    store: TierStore,
    tier: str,
    start_us: int,
    end_us: int,
    urls: Sequence[str] | None = None,
    channels: Sequence[str] | None = None,
    pad: bool = True,
    as_json: bool = False,
    use_packed: bool = False,
    derive: bool = False,
    d0: float = 0.0,
    fill: str | None = None,
):
    """Serve one tier over [start_us, end_us] with explicit gap rows.

    ``fill`` (requires ``pad``, fixed-grid tiers only): ``'locf'`` or
    ``'interp'`` replaces gap-row values via operators/gapfill.py —
    LOCF leaves slots before a series' first observation NULL, linear
    interpolation leaves slots outside the observed envelope NULL (the
    request grid does not invent data beyond what was stored; the
    reference serves NaN pads and never interpolates,
    TimeseriesUtility.py:486-494 — this is the opt-in extension).

    ``urls`` is pushed into the store read as ``series=``: the scan plans
    only the requested urls' bucket files (and, packed, decodes only their
    segments), so a one-url request pays for that url, not for the tier.
    Padding evaluates the read once (``pad_to_spine`` is one window pass).

    ``use_packed`` reads the Gorilla-packed layout (``read_packed``)
    instead of the long layout — same rows, segment-granular pruning.
    The ``month`` tier pads against its variable-width calendar grid.
    ``derive`` computes requested-but-absent channels on read (the
    DerivedTimeseriesFactory wrap of the reference's /data endpoint,
    ``geomagio/api/ws/data.py:21-47``): pivot wide, fixed-point derive,
    unpivot back to the long serving shape."""
    if tier == "auto":
        tier = select_tier(start_us, end_us)
    if tier == "month":
        delta_s = 28 * 86400.0  # cap check lower bound for variable months
    else:
        delta_s = INTERVAL_SECONDS[tier] if tier in INTERVAL_SECONDS else 60.0
    n_samples = int((end_us - start_us) / (delta_s * US)) + 1
    if n_samples > REQUEST_LIMIT_SAMPLES:
        raise ValueError(
            f"request exceeds {REQUEST_LIMIT_SAMPLES} samples ({n_samples})"
        )
    reader = store.read_packed if use_packed else store.read
    df = reader(tier, start_us, end_us, series=list(urls) if urls else None)
    if derive and channels:
        from ..operators.convert import pivot_channels, unpivot_channels
        from ..operators.derived import derive_missing_channels

        present = sorted(
            r[0] for r in df.select("channel").distinct().collect()
        )
        wide = pivot_channels(df, present, series_cols=("url",))
        wide = derive_missing_channels(wide, list(channels), d0=d0)
        out_ch = sorted(set(present) | ({c for c in channels if c in wide.columns}))
        df = unpivot_channels(wide, out_ch, series_cols=("url",))
    if channels:
        df = df.where(df.channel.isin(list(channels)))
    if pad:
        if tier == "month":
            df = _pad_month(df, store, start_us, end_us)
        else:
            df = pad_to_spine(
                df, start_us, end_us, delta_s, series_cols=store.series_cols
            )
    if fill:
        if fill not in ("locf", "interp"):
            raise ValueError(f"fill must be 'locf' or 'interp', got {fill!r}")
        if not pad or tier == "month":
            raise ValueError("fill requires pad=True on a fixed-grid tier")
        from pyspark.sql import functions as F

        from ..operators.gapfill import fill_dense

        # NaN is the in-band gap convention — normalize to NULL so the
        # fill windows skip it like an absent row
        df = df.withColumn(
            "value", F.when(~F.isnan("value"), F.col("value"))
        )
        df = fill_dense(
            df,
            int(round(delta_s * US)),
            series_cols=store.series_cols,
            value_col="value",
        ).select(
            *store.series_cols,
            "t_us",
            F.col(f"value_{'locf' if fill == 'locf' else 'interp'}").alias(
                "value"
            ),
        )
    if as_json:
        return to_imfjson(df, series_cols=store.series_cols)
    return df


def _pad_month(df, store: TierStore, start_us: int, end_us: int):
    """Left-join the month tier onto its calendar-stamp spine so absent
    months surface as explicit NULL rows (serving contract)."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    stamps = month_stamps(start_us, end_us)
    if not stamps:
        return df
    spine_t = spark.createDataFrame([(t,) for t in stamps], "t_us long")
    series = df.select(*store.series_cols).distinct()
    spine = series.crossJoin(F.broadcast(spine_t))
    return spine.join(df, [*store.series_cols, "t_us"], "left").select(
        *store.series_cols, "t_us", "value"
    )


def grouping_levels_report(
    df,
    dims: Sequence[str],
    measures: dict,
):
    """Multi-level subtotal report in ONE aggregate (``ROLLUP``): totals
    at every prefix of ``dims`` plus the grand total, each row labeled
    with its ``lvl`` grouping id (0 = finest; bit i set = dims[i] rolled
    away — disambiguates a genuine NULL dimension value from a subtotal
    row, the classic ROLLUP trap).

    Scale shape: Spark plans one Expand (×(len(dims)+1) row fan-out)
    feeding a single hash aggregate with map-side partials — one shuffle
    total, identical to a plain groupBy. The tempting alternative — one
    groupBy per level unioned — scans the input len(dims)+1 times and
    shuffles each; at 100 TB that is the difference between 1 and N
    passes. ``measures`` maps output name -> aggregate Column; keep the
    aggregates algebraic (sum/count/min/max) so the partials hold.
    """
    from pyspark.sql import functions as F

    aggs = [c.alias(name) for name, c in measures.items()]
    return df.rollup(*dims).agg(*aggs, F.grouping_id().alias("lvl"))


def pivot_report(
    df,
    row_dim: str,
    col_dim: str,
    col_values: Sequence[str],
    measure,
):
    """Wide one-row-per-``row_dim`` report: ``measure`` aggregated into
    one column per declared ``col_values`` entry (SQL ``PIVOT``).

    ``col_values`` MUST be the explicit literal list: Spark's
    two-argument ``pivot(col)`` first runs a distinct() JOB over the
    column to discover values — a full extra scan + shuffle before the
    real aggregate, and a plan whose width depends on the data (schema
    instability downstream).

    Deliberately NOT ``df.groupBy(...).pivot(values, ...)``: even with
    declared values Spark plans pivot as TWO aggregates — a first
    groupBy(row, col) pass, then a PivotFirst re-aggregate on row — i.e.
    two shuffles of the same data. Conditional aggregation (one
    ``agg(measure FILTER col = v)`` per declared value) computes the
    identical result in ONE hash aggregate with map-side partials — one
    shuffle, and each filtered aggregate is codegen'd column math.
    Combinations with no rows surface as NULL in both formulations.

    ``measure`` is a callable ``Column -> Column`` aggregate factory
    applied to a value masked to each pivot column (e.g.
    ``lambda c: F.sum(c)``), or a plain aggregate Column over a value
    column named by ``measure_col`` when given as ``(agg, value_col)``
    — the simple common case is ``pivot_report(df, "day",
    "event_type", types, (F.sum, "v"))``."""
    from pyspark.sql import functions as F

    agg, value_col = measure
    aggs = [
        agg(
            F.when(F.col(col_dim) == F.lit(v), F.col(value_col))
        ).alias(str(v))
        for v in col_values
    ]
    return df.groupBy(row_dim).agg(*aggs)
