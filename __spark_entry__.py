"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one engine operator from SURVEY.md §2
over the driver's synthetic tables; ``oracle_sql()`` holds the equivalent
ANSI SQL for DuckDB. Time columns are exchanged as epoch-microsecond longs
and aggregated doubles are rounded (4-6 decimals) on BOTH sides so the
driver's value-hash comparison is insensitive to summation order.

The time-series queries derive a minute-gridded signal from ``events``
(per event_type: avg(value) per minute — gaps where no events fell in a
minute) and push it through the engine's rollup/gap/diff/average operators;
the reference semantics being checked are the FIR/boxcar cascade rules
(coverage masking, center-stamping), gap detection, NaN-propagating
averages, and grid-adjacent differentiation.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from usgs_geomag_algorithms_spark.operators.average import average_across_series
from usgs_geomag_algorithms_spark.operators.dbdt import dbdt
from usgs_geomag_algorithms_spark.operators.gaps import detect_gaps
from usgs_geomag_algorithms_spark.operators.rollup import rollup_step
from usgs_geomag_algorithms_spark.operators.spine import pad_to_spine
from usgs_geomag_algorithms_spark.tiers import STEPS

MIN_HOUR = STEPS[2]
MIN_DAY = STEPS[3]
MIN_US = 60_000_000
HOUR_US = 3_600_000_000


# ---------------------------------------------------------------- helpers
def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # events.ts is TIMESTAMP_NTZ; the cast to TIMESTAMP (for unix_micros)
    # interprets wall time in the SESSION timezone — pin UTC so epochs match
    # the DuckDB oracle regardless of the harness session's zone
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _minute_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, minute) avg(value); absent minutes are gaps."""
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_type",
        F.expr(f"(unix_micros(cast(ts as timestamp)) div {MIN_US}) * {MIN_US}").alias("t_us"),
        "value",
    ).groupBy("event_type", "t_us").agg(F.avg("value").alias("value"))


def _bounds(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    ev = _events(spark, sf_dir)
    r = ev.select(
        F.expr(f"(min(unix_micros(cast(ts as timestamp))) div {MIN_US}) * {MIN_US}").alias("lo"),
        F.expr(f"(max(unix_micros(cast(ts as timestamp))) div {MIN_US}) * {MIN_US}").alias("hi"),
    ).first()
    return int(r.lo), int(r.hi)


_MINUTE_CTE = f"""
minute AS (
    SELECT event_type,
           (epoch_us(ts) // {MIN_US}) * {MIN_US} AS t_us,
           avg(value) AS v
    FROM events GROUP BY 1, 2
),
bounds AS (
    SELECT (epoch_us(min(ts)) // {MIN_US}) * {MIN_US} AS lo_us,
           (epoch_us(max(ts)) // {MIN_US}) * {MIN_US} AS hi_us
    FROM events
)
"""


# ---------------------------------------------------------------- queries
def q_rollup_hour_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour tier: boxcar-60 of the minute signal, center-stamped HH:29:30,
    masked NULL when <90% of the hour's minutes are present."""
    sig = _minute_signal(spark, sf_dir)
    lo, hi = _bounds(spark, sf_dir)
    out = rollup_step(
        sig, MIN_HOUR, range_start_us=lo, range_end_us=hi,
        series_cols=("event_type",),
    )
    return out.select("event_type", "t_us", F.round("value", 4).alias("value"))


def q_rollup_day_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day tier: boxcar-1440, stamped 11:59:30 (mask semantics dominate at
    sparse coverage — exercises NULL-not-dropped behavior)."""
    sig = _minute_signal(spark, sf_dir)
    lo, hi = _bounds(spark, sf_dir)
    out = rollup_step(
        sig, MIN_DAY, range_start_us=lo, range_end_us=hi,
        series_cols=("event_type",),
    )
    return out.select("event_type", "t_us", F.round("value", 4).alias("value"))


def _padded_minute_counts(spark: SparkSession, sf_dir: str, lo: int, hi: int) -> DataFrame:
    """Per-minute event counts on the 0-filled spine (absence = 0) — the
    count-semantics input shared by the hour and month count rollups."""
    ev = _events(spark, sf_dir)
    counts = ev.select(
        "event_type",
        F.expr(f"(unix_micros(cast(ts as timestamp)) div {MIN_US}) * {MIN_US}").alias("t_us"),
    ).groupBy("event_type", "t_us").agg(F.count("*").cast("double").alias("value"))
    return pad_to_spine(
        counts, lo, hi, 60.0, series_cols=("event_type",), fill_value=0.0
    )


def q_rollup_hour_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour tier over per-minute event *counts* on a 0-filled spine (count
    semantics: absence = 0, so coverage is always complete)."""
    lo, hi = _bounds(spark, sf_dir)
    padded = _padded_minute_counts(spark, sf_dir, lo, hi)
    out = rollup_step(
        padded, MIN_HOUR, range_start_us=lo, range_end_us=hi,
        series_cols=("event_type",),
    )
    return out.select("event_type", "t_us", F.round("value", 4).alias("value"))


def q_rollup_month_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-month tier: day tier (boxcar-1440 over the 0-filled minute
    count spine) rolled into calendar months — variable-width 10% rule and
    the (delta-60)/2 center stamp generalized to month length."""
    import datetime as _dt

    from usgs_geomag_algorithms_spark.operators.month import rollup_month

    lo, hi = _bounds(spark, sf_dir)
    d0 = _dt.datetime.fromtimestamp(lo / 1e6, tz=_dt.timezone.utc)
    m0 = _dt.datetime(d0.year, d0.month, 1, tzinfo=_dt.timezone.utc)
    nxt = _dt.datetime(
        m0.year + (m0.month == 12), m0.month % 12 + 1, 1, tzinfo=_dt.timezone.utc
    )
    m0_us, nxt_us = int(m0.timestamp() * 1e6), int(nxt.timestamp() * 1e6)
    # only the first month is rolled up: pad and roll no minute past it
    hi = min(hi, nxt_us - MIN_US)
    padded = _padded_minute_counts(spark, sf_dir, lo, hi)
    day = rollup_step(
        padded, MIN_DAY, range_start_us=lo, range_end_us=hi,
        series_cols=("event_type",),
    )
    out = rollup_month(day, m0_us, nxt_us, series_cols=("event_type",))
    return out.select("event_type", "t_us", F.round("value", 4).alias("value"))


def q_dbdt_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-adjacent first difference of the minute signal, rounded to 6."""
    sig = _minute_signal(spark, sf_dir)
    out = dbdt(sig, 60.0, series_cols=("event_type",), channel_col=None)
    return out.select("event_type", "t_us", "value")


def q_average_across_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NaN-propagating cross-series average of the minute signal."""
    sig = _minute_signal(spark, sf_dir)
    out = average_across_series(
        sig, series_col="event_type", group_cols=(), out_series="ALL"
    )
    return out.select(
        F.col("event_type"), "t_us", F.round("value", 4).alias("value")
    )


def q_gap_detect_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap runs [start, end, next_valid] per event_type on the minute grid."""
    sig = _minute_signal(spark, sf_dir)
    lo, hi = _bounds(spark, sf_dir)
    return detect_gaps(
        sig, 60.0, lo, hi, series_cols=("event_type",)
    ).select("event_type", "gap_start_us", "gap_end_us", "next_valid_us")


def q_coverage_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-missing per series over the grid (the reference's monitor
    gap metrics, geomagio/processing/monitor.py)."""
    from usgs_geomag_algorithms_spark.operators.gaps import coverage_metrics

    sig = _minute_signal(spark, sf_dir)
    lo, hi = _bounds(spark, sf_dir)
    out = coverage_metrics(sig, 60.0, lo, hi, series_cols=("event_type",))
    return out.select(
        "event_type",
        F.col("n_valid").cast("long").alias("n_valid"),
        F.col("n_slots").cast("long").alias("n_slots"),
        F.round("pct_missing", 4).alias("pct_missing"),
    )


def q_merged_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-series merged gap intervals (get_merged_gaps analog)."""
    from usgs_geomag_algorithms_spark.operators.gaps import (
        detect_gaps,
        merge_gap_intervals,
    )

    sig = _minute_signal(spark, sf_dir)
    lo, hi = _bounds(spark, sf_dir)
    gaps = detect_gaps(sig, 60.0, lo, hi, series_cols=("event_type",)).drop(
        "event_type"
    )
    return merge_gap_intervals(gaps).select(
        "gap_start_us", "gap_end_us", "next_valid_us"
    )


def q_top_minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 minutes by signal value per event_type (rank + limit — the
    §2.8 sort/limit surface; deterministic tie-break on timestamp)."""
    from pyspark.sql import Window

    sig = _minute_signal(spark, sf_dir).withColumn(
        "value", F.round("value", 4)
    )  # round BEFORE ranking: fp summation-order near-ties must not flip
    # the rank-5 boundary between engines
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("t_us").asc()
    )
    return (
        sig.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("event_type", "t_us", "value", "rank")
    )


def _minute_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, minute) event count — the integer rate signal
    shared by the percentile tier and the anomaly monitor (integer inputs
    keep every downstream double bit-identical across engines)."""
    ev = _events(spark, sf_dir)
    return (
        ev.select(
            "event_type",
            F.expr(
                f"(unix_micros(cast(ts as timestamp)) div {MIN_US}) * {MIN_US}"
            ).alias("t_us"),
        )
        .groupBy("event_type", "t_us")
        .agg(F.count("*").alias("v"))
    )


def q_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score spike detection on the per-minute event rate
    (operators/anomaly.py — the declarative analog of SqDist's sigma
    spike gate; exact integer-sum variance, no order-dependent Welford)."""
    from usgs_geomag_algorithms_spark.operators.anomaly import rolling_zscore

    return rolling_zscore(
        _minute_rate(spark, sf_dir),
        window=60,
        min_points=30,
        threshold=3.0,
        series_cols=("event_type",),
    )


#: CUSUM config for changepoint_cusum — baseline minutes / slack / decision
CUSUM_B, CUSUM_K, CUSUM_H = 240, 0, 50


def q_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided tabular CUSUM level-shift detection on the per-minute
    event rate (operators/changepoint.py — prefix-sum closed form of the
    max(0, C+d) recurrence, all-BIGINT n0-scaled arithmetic; the
    sustained-drift complement to rate_anomaly's spike gate)."""
    from usgs_geomag_algorithms_spark.operators.changepoint import (
        cusum_changepoints,
    )

    return cusum_changepoints(
        _minute_rate(spark, sf_dir),
        baseline=CUSUM_B,
        k=CUSUM_K,
        h=CUSUM_H,
        series_cols=("event_type",),
    )


#: candidate seasonal lags (minutes) for the ACF sweep — short cycles
#: through the quarter-day harmonics the sf0.01 events span supports
ACF_LAGS = [1, 2, 3, 5, 10, 15, 30, 60, 120, 180, 360]


def q_acf_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the per-minute event rate at literal
    candidate lags (operators/seasonality.py — exact-timestamp pair join,
    BIGINT sufficient statistics, one int64->double IEEE tree; learns the
    seasonal period SqDist takes as a configured constant)."""
    from usgs_geomag_algorithms_spark.operators.seasonality import acf_lags

    return acf_lags(
        _minute_rate(spark, sf_dir),
        ACF_LAGS,
        MIN_US,
        series_cols=("event_type",),
    )


def q_dominant_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-scoring ACF lag per event_type — the learned seasonal period
    (ties break to the shortest lag: fundamental over harmonics)."""
    from usgs_geomag_algorithms_spark.operators.seasonality import (
        acf_lags,
        dominant_period,
    )

    return dominant_period(
        acf_lags(
            _minute_rate(spark, sf_dir),
            ACF_LAGS,
            MIN_US,
            series_cols=("event_type",),
        ),
        series_cols=("event_type",),
    )


def q_day_over_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day comparison of the hourly event rate
    (operators/stats.py::period_over_period — exact-timestamp self-join,
    gap-robust like acf_lags; BIGINT delta, one int/int double ratio)."""
    from usgs_geomag_algorithms_spark.operators.stats import (
        period_over_period,
    )

    ev = _events(spark, sf_dir)
    rate = (
        ev.select(
            "event_type",
            F.expr(
                f"(unix_micros(cast(ts as timestamp)) div {HOUR_US}) * {HOUR_US}"
            ).alias("t_us"),
        )
        .groupBy("event_type", "t_us")
        .agg(F.count("*").alias("v"))
    )
    return period_over_period(
        rate, 86_400_000_000, series_cols=("event_type",)
    )


#: MAD gate multiplier
MAD_K = 3


def q_mad_outliers_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier gate on the per-minute rate, hourly
    windows (operators/anomaly.py::mad_outliers — integer low-median
    order statistics from ONE collected array, |v−med| > k·mad all in
    BIGINT; the spike-immune complement of rate_anomaly's z-score)."""
    from usgs_geomag_algorithms_spark.operators.anomaly import mad_outliers

    return mad_outliers(
        _minute_rate(spark, sf_dir),
        HOUR_US,
        k=MAD_K,
        series_cols=("event_type",),
    )


def q_session_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large×large point-in-interval enrichment: every purchase event
    joined to its containing user session via the BINNED interval join
    (operators/intervals.py — equi-join on (user, bin) + exact overlap
    filter; no BroadcastNestedLoopJoin, no O(N·M))."""
    from usgs_geomag_algorithms_spark.operators.intervals import (
        interval_point_join,
    )
    from usgs_geomag_algorithms_spark.operators.sessions import sessionize

    ev = _events(spark, sf_dir)
    sessions = sessionize(
        ev.select("user_id", F.col("ts").cast("timestamp").alias("ts")),
        gap=f"{SESSION_GAP_US} microseconds",
        key_col="user_id",
        ts_col="ts",
    ).select(
        "user_id",
        "session_start_us",
        "session_end_us",
        F.col("n_events").alias("session_events"),
        (F.col("session_end_us") + 1).alias("_end_excl"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("t_us"),
        "event_id",
    )
    return interval_point_join(
        sessions,
        purchases,
        bin_us=SESSION_GAP_US,
        keys=("user_id",),
        start_col="session_start_us",
        end_col="_end_excl",
    ).drop("_end_excl")


def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence within (user, day) baskets — market-basket
    lift (operators/basket.py: single distinct scan re-aggregated for
    pairs/marginals/total; one fixed DOUBLE lift tree, same exactness
    discipline as collocations)."""
    from usgs_geomag_algorithms_spark.operators.basket import basket_pairs

    ev = _events(spark, sf_dir)
    be = ev.select(
        "user_id",
        F.expr(
            "(unix_micros(cast(ts as timestamp)) div 86400000000) * 86400000000"
        ).alias("day_us"),
        F.col("event_type").alias("item"),
    )
    return basket_pairs(be, basket_cols=("user_id", "day_us"))


def q_active_users_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-user count per hour (two-phase partial-distinct
    aggregate — Catalyst rewrites count(DISTINCT) into an expand +
    per-(hour,user) partial so no reducer sees a whole hour's raw rows;
    the unbounded-cardinality path is approx_count_distinct, HLL-sketch,
    parity-tested in tests/test_anomaly.py)."""
    ev = _events(spark, sf_dir)
    return (
        ev.select(
            F.expr(
                f"(unix_micros(cast(ts as timestamp)) div {HOUR_US}) * {HOUR_US}"
            ).alias("t_us"),
            "user_id",
        )
        .groupBy("t_us")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )


def q_hll_users_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-tier distinct counting (operators/sketches.py): per-hour
    DataSketches HLL sketches UNIONED into days — the mergeable path
    that derives coarser distinct-count tiers without re-reading raw
    events (exact counts cannot roll up). Approximate by construction ->
    rows-only driver entry; the exact twin of the same plan shape is
    distinct_users_day, and tests/test_sketches.py bounds the relative
    error and checks merge-vs-direct consistency."""
    from usgs_geomag_algorithms_spark.operators.sketches import (
        approx_users_day,
    )

    return approx_users_day(_events(spark, sf_dir))


def q_distinct_users_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact day-level distinct users — the oracle-carrying twin of
    hll_users_day (same grouping, exact countDistinct instead of the
    sketch union)."""
    ev = _events(spark, sf_dir)
    return (
        ev.select(
            F.expr(
                f"(unix_micros(cast(ts as timestamp)) div {DAY_US}) * {DAY_US}"
            ).alias("d_us"),
            "user_id",
        )
        .groupBy("d_us")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )


ROLLING_HOURS = 24


def q_rolling_users_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-24h distinct users per present hour — the expand
    plan (each distinct (hour, user) explodes to the 24 windows it
    feeds, one distinct agg per window end), carrying the oracle for the
    sketch path's 24x-amplification-free alternative."""
    from usgs_geomag_algorithms_spark.operators.sketches import (
        rolling_users_exact,
    )

    return rolling_users_exact(
        _events(spark, sf_dir), window_hours=ROLLING_HOURS
    )


def q_rolling_users_day_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window distinct via the sketch tier: a range-frame
    hll_union_agg over the HOUR-level sketches — the window relation is
    bounded by calendar hours regardless of corpus size, and raw events
    are never re-read (the expand plan's 24x amplification is exactly
    what this avoids). Rows-only (HLL estimate); exact twin
    rolling_users_day carries the oracle."""
    from usgs_geomag_algorithms_spark.operators.sketches import (
        hll_hour_sketches,
        rolling_users_sketch,
    )

    return rolling_users_sketch(
        hll_hour_sketches(_events(spark, sf_dir)),
        window_hours=ROLLING_HOURS,
    )


def q_purchase_asof_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event enriched with the user's most
    recent view event at-or-before it (operators/asof.py union-and-carry
    plan — one shuffle on user_id, no range-join row amplification);
    oracle is DuckDB's native ASOF LEFT JOIN."""
    from usgs_geomag_algorithms_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
    )
    left = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "t_us", "event_id", "value"
    )
    right = ev.where(F.col("event_type") == "view").select(
        "user_id", "t_us", "event_id", "value"
    )
    return asof_join(
        left,
        right,
        on=["user_id"],
        ts_col="t_us",
        right_cols=["event_id", "value"],
        tie_col="event_id",
    )


def q_rollup_hour_pctl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution rollup: exact hourly p50/p95 of the per-minute event
    RATE per event_type — the burstiness monitor
    (operators/rollup.py::quantile_rollup; bounded groups make the exact
    sort-based percentile affordable). The signal is count-based on
    purpose: interpolating INTEGER order statistics keeps every
    intermediate double far from 4-dp rounding boundaries, whereas
    avg-of-2-decimal values times dyadic fracs lands exactly on 5-decimal
    halves where Spark's and DuckDB's round() disagree (probed in round 3)."""
    from usgs_geomag_algorithms_spark.operators.rollup import quantile_rollup

    rate = _minute_rate(spark, sf_dir).select(
        "event_type", "t_us", F.col("v").cast("double").alias("value")
    )
    return quantile_rollup(
        rate, HOUR_US, ps=(0.5, 0.95), series_cols=("event_type",)
    )


def q_rollup_day_pctl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact day-level p50/p95 of the per-minute rate — the
    oracle-carrying twin of rollup_day_pctl_sketch (same grouping and
    output schema, Spark's exact ``percentile`` instead of merged
    t-digests; this is the plan whose per-day re-sort of raw samples
    the digest tier exists to avoid at scale)."""
    from usgs_geomag_algorithms_spark.operators.rollup import quantile_rollup

    rate = _minute_rate(spark, sf_dir).select(
        "event_type", "t_us", F.col("v").cast("double").alias("value")
    )
    return quantile_rollup(
        rate, 86_400_000_000, ps=(0.5, 0.95), series_cols=("event_type",)
    )


def q_rollup_day_pctl_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch tier (operators/tdigest.py): per-hour t-digests of
    the minute rate, MERGED into day digests, quantiles served off the
    digest column — the mergeable path that derives coarser percentile
    tiers without re-sorting raw samples (exact quantiles cannot roll
    up). Build is single-phase here (one skinny raw shuffle keyed
    (series, hour), vectorized per-partition build): the minute rate is
    hash-partitioned on the MINUTE key, so map-side partials would not
    collapse rows (measured 3x slower; the partial=True path exists for
    key-clustered input). Rank-approximate by construction -> rows-only
    driver entry; the exact twin of the same shape is rollup_day_pctl,
    and tests/test_tdigest.py bounds the rank error and checks
    merge-vs-direct consistency."""
    from usgs_geomag_algorithms_spark.operators.tdigest import (
        tdigest_quantiles,
        tdigest_rollup,
        tdigest_tier,
    )

    rate = _minute_rate(spark, sf_dir).select(
        "event_type", "t_us", F.col("v").cast("double").alias("value")
    )
    hour = tdigest_tier(rate, HOUR_US, series_cols=("event_type",))
    day = tdigest_rollup(hour, 86_400_000_000, series_cols=("event_type",))
    return tdigest_quantiles(day, ps=(0.5, 0.95))


def q_rolling_p95_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-24h p50/p95 of the minute rate per present hour —
    the expand plan (each minute row explodes to the 24 hour windows it
    feeds, one exact percentile per window end), carrying the oracle
    for the digest path's amplification-free alternative. The 24x
    amplification here is over RAW minute rows — exactly the cost
    tdigest_rolling's tier-level explode avoids."""
    rate = _minute_rate(spark, sf_dir)
    hour_of = F.expr(f"(t_us div {HOUR_US}) * {HOUR_US}")
    span = 23 * HOUR_US
    exploded = rate.select(
        "event_type",
        F.explode(
            F.expr(
                f"sequence((t_us div {HOUR_US}) * {HOUR_US},"
                f" (t_us div {HOUR_US}) * {HOUR_US} + {span}, {HOUR_US})"
            )
        ).alias("t_us"),
        F.col("v").cast("double").alias("value"),
    )
    present = rate.select(
        "event_type", hour_of.alias("t_us")
    ).distinct()
    grouped = exploded.groupBy("event_type", "t_us").agg(
        F.percentile("value", [0.5, 0.95]).alias("_q"),
        F.count("*").alias("n_values"),
    )
    return grouped.join(present, ["event_type", "t_us"]).select(
        "event_type",
        "t_us",
        F.round(F.element_at("_q", 1), 4).alias("p50"),
        F.round(F.element_at("_q", 2), 4).alias("p95"),
        "n_values",
    )


def q_rolling_p95_day_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window percentiles off the digest tier
    (operators/tdigest.py::tdigest_rolling): each HOUR digest explodes
    to the 24 window ends it feeds and one vectorized merge pass
    combines each window's <=24 digests — the amplified relation is
    bounded by calendar hours, raw minute rows are never re-sorted
    (the expand plan's 24x raw amplification is exactly what this
    avoids). Rows-only (rank estimates); exact twin rolling_p95_day
    carries the oracle."""
    from usgs_geomag_algorithms_spark.operators.tdigest import (
        tdigest_quantiles,
        tdigest_rolling,
        tdigest_tier,
    )

    rate = _minute_rate(spark, sf_dir).select(
        "event_type", "t_us", F.col("v").cast("double").alias("value")
    )
    hour = tdigest_tier(rate, HOUR_US, series_cols=("event_type",))
    roll = tdigest_rolling(
        hour, window_buckets=24, series_cols=("event_type",)
    )
    return tdigest_quantiles(roll, ps=(0.5, 0.95))


#: inactivity gap separating user-activity sessions (30 min, in us)
SESSION_GAP_US = 1_800_000_000


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization of the raw (irregular) event stream per user — the
    islands dual of gap detection, via Spark's native merging
    session-window aggregation (operators/sessions.py)."""
    from usgs_geomag_algorithms_spark.operators.sessions import sessionize

    ev = _events(spark, sf_dir).select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    return sessionize(
        ev, gap=f"{SESSION_GAP_US} microseconds", key_col="user_id", ts_col="ts"
    )


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rollup of the session table (count / events / active time)."""
    from usgs_geomag_algorithms_spark.operators.sessions import (
        session_stats,
        sessionize,
    )

    ev = _events(spark, sf_dir).select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    return session_stats(
        sessionize(
            ev,
            gap=f"{SESSION_GAP_US} microseconds",
            key_col="user_id",
            ts_col="ts",
        ),
        key_col="user_id",
    )


def q_gapfill_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill the sparse per-minute event rate per event_type with
    LOCF + exact-rational linear interpolation (operators/gapfill.py —
    the serving-side densification the reference's NaN-pad merge
    explicitly leaves to consumers, TimeseriesUtility.py:486-494)."""
    from usgs_geomag_algorithms_spark.operators.gapfill import gapfill

    return gapfill(
        _minute_rate(spark, sf_dir),
        MIN_US,
        series_cols=("event_type",),
        value_col="v",
    )


#: counter wrap modulus for the counter_increase_hour query — small
#: enough that the sf0.01 cumulative byte-ish counter wraps (resets)
#: many times, large enough that most samples are plain increments
COUNTER_MOD = 100_000


def _counter_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic cumulative-counter fixture: per event_type, the
    running sum of integer cents wrapped mod COUNTER_MOD — a monotone
    counter with resets, totally ordered by (ts, event_id)."""
    ev = _events(spark, sf_dir)
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    step = F.round(F.col("value") * 100).cast("long")
    return ev.select(
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        F.pmod(F.sum(step).over(w), F.lit(COUNTER_MOD)).alias("counter"),
    )


def q_counter_increase_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly increase of a cumulative counter with reset handling
    (operators/counters.py — PromQL ``increase()`` semantics as one
    lag-window + bucketed aggregation; integer-exact oracle)."""
    from usgs_geomag_algorithms_spark.operators.counters import (
        counter_increase,
    )

    return counter_increase(
        _counter_samples(spark, sf_dir),
        HOUR_US,
        series_cols=("event_type",),
        counter_col="counter",
        order_cols=("event_id",),
    )


def q_ltob_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-triangle-one-bucket visual downsample of the minute rate
    to one point per hour (operators/downsample.py — the parallel LTOB
    variant of LTTB; BIGINT triangle areas make the pick bit-exact)."""
    from usgs_geomag_algorithms_spark.operators.downsample import (
        ltob_downsample,
    )

    return ltob_downsample(
        _minute_rate(spark, sf_dir),
        HOUR_US,
        series_cols=("event_type",),
        value_col="v",
    )


def q_rollup_hour_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram tier: per (event_type, hour), fixed-bin counts of the
    per-minute rate (operators/rollup.py::histogram_rollup — the
    mergeable distribution sketch beside the exact-percentile tier)."""
    from usgs_geomag_algorithms_spark.operators.rollup import (
        histogram_rollup,
    )

    rate = _minute_rate(spark, sf_dir).select(
        "event_type", "t_us", F.col("v").cast("double").alias("value")
    )
    return histogram_rollup(
        rate, HOUR_US, bin_width=2.0, n_bins=8, series_cols=("event_type",)
    )


def q_rollup_day_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day histogram tier built FROM the hour tier by plain addition
    (operators/rollup.py::histogram_merge — the mergeability algebra the
    sketch tiers share: HLL by union, CMS/histograms by addition; raw
    samples are never re-read)."""
    from usgs_geomag_algorithms_spark.operators.rollup import (
        histogram_merge,
    )

    return histogram_merge(
        q_rollup_hour_hist(spark, sf_dir),
        86_400_000_000,
        series_cols=("event_type",),
    )


def q_hist_p95_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p95 per (event_type, hour) estimated from the histogram tier
    (operators/rollup.py::histogram_quantile — integer-fraction q, all-
    BIGINT cumulative walk, bin edges reported as the error bound; the
    sketch-tier answer beside rollup_hour_pctl's exact order
    statistics)."""
    from usgs_geomag_algorithms_spark.operators.rollup import (
        histogram_quantile,
    )

    return histogram_quantile(
        q_rollup_hour_hist(spark, sf_dir),
        19,
        20,
        bin_width=2.0,
        series_cols=("event_type",),
    )


def q_ohlc_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candlestick reduction of the minute rate per hour
    (operators/stats.py::ohlc_rollup — min_by/max_by open/close picks
    inside one map-side-combined aggregation)."""
    from usgs_geomag_algorithms_spark.operators.stats import ohlc_rollup

    return ohlc_rollup(
        _minute_rate(spark, sf_dir), HOUR_US, series_cols=("event_type",)
    )


def _gauge_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Irregular gauge fixture: per event_type, one sample per distinct
    event timestamp (ties resolved to the highest event_id — a total
    order both engines replicate), level = integer cents."""
    ev = _events(spark, sf_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("event_type", "t_us").orderBy(
        F.col("event_id").desc()
    )
    return (
        ev.select(
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
            "event_id",
            F.round(F.col("value") * 100).cast("long").alias("v"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "event_id")
    )


def q_twa_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF time-weighted average of an irregular gauge per hour
    (operators/stats.py::time_weighted_avg — TimescaleDB
    ``time_weight('locf')`` semantics; BIGINT value-microsecond sums,
    one exact int->double division)."""
    from usgs_geomag_algorithms_spark.operators.stats import (
        time_weighted_avg,
    )

    return time_weighted_avg(
        _gauge_samples(spark, sf_dir), HOUR_US, series_cols=("event_type",)
    )


def q_corr_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly Pearson correlation between the click and view minute
    rates (operators/stats.py::window_corr — the cross-channel analytic
    of the Average/DeltaF family; BIGINT sufficient statistics, the
    identical IEEE expression tree on both engines — Spark's corr() is
    an order-dependent streaming moment and can NOT be oracle-matched)."""
    from usgs_geomag_algorithms_spark.operators.stats import window_corr

    rate = _minute_rate(spark, sf_dir)
    click = rate.where(F.col("event_type") == "click").select(
        "t_us", F.col("v").alias("x")
    )
    view = rate.where(F.col("event_type") == "view").select(
        "t_us", F.col("v").alias("y")
    )
    return window_corr(click.join(view, "t_us"), HOUR_US, "x", "y")


#: signed candidate lags (minutes) for the cross-channel lead/lag scan
XCORR_LAGS = [-10, -5, -3, -2, -1, 0, 1, 2, 3, 5, 10]


def q_xcorr_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation of the view vs purchase minute rates at signed
    literal lags (operators/seasonality.py::xcorr_lags — the lead/lag
    detector between channels; exact-timestamp pair join, BIGINT
    sufficient statistics, one int64->double IEEE tree, bit-exact)."""
    from usgs_geomag_algorithms_spark.operators.seasonality import xcorr_lags

    rate = _minute_rate(spark, sf_dir)
    x = rate.where(F.col("event_type") == "view").select("t_us", "v")
    y = rate.where(F.col("event_type") == "purchase").select("t_us", "v")
    return xcorr_lags(x, y, XCORR_LAGS, MIN_US)


def q_lead_lag_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best |xcorr| lag of the view rate against EVERY event type's
    minute rate — which channels the view signal leads/trails, per type
    (operators/seasonality.py::lead_lag; ranking on bit-exact doubles,
    integer tie-breaks: |lag| then lag)."""
    from usgs_geomag_algorithms_spark.operators.seasonality import (
        lead_lag,
        xcorr_lags,
    )

    rate = _minute_rate(spark, sf_dir)
    types = rate.select("event_type").distinct()
    x = (
        rate.where(F.col("event_type") == "view")
        .select("t_us", "v")
        .crossJoin(F.broadcast(types))
    )
    xc = xcorr_lags(x, rate, XCORR_LAGS, MIN_US, series_cols=("event_type",))
    return lead_lag(xc, series_cols=("event_type",))


def q_diurnal_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-harmonic (24 h period) amplitude of each event type's hourly
    rate — the solar-quiet daily-variation strength the reference's
    SqDist models as seasonal state (operators/seasonality.py::
    harmonic_power; literal integer cos/sin weight tables keep the DFT
    sums exact BIGINT; the only doubles are one final IEEE tree)."""
    from usgs_geomag_algorithms_spark.operators.seasonality import (
        harmonic_power,
    )

    ev = _events(spark, sf_dir)
    rate = (
        ev.select(
            "event_type",
            F.expr(
                f"(unix_micros(cast(ts as timestamp)) div {HOUR_US}) * {HOUR_US}"
            ).alias("t_us"),
        )
        .groupBy("event_type", "t_us")
        .agg(F.count("*").alias("v"))
    )
    return harmonic_power(
        rate, 24, HOUR_US, series_cols=("event_type",)
    )


def q_trend_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS drift of the minute event rate (operators/stats.py::
    trend_fit — the SqDist b-term fit directly as one aggregate):
    timestamps rebase to small grid indices so all six sufficient
    statistics stay exact BIGINT; slope/intercept/R² are fixed
    int64→double IEEE trees, bit-exact cross-engine."""
    from usgs_geomag_algorithms_spark.operators.stats import trend_fit

    lo, _hi = _bounds(spark, sf_dir)
    return trend_fit(
        _minute_rate(spark, sf_dir), MIN_US, lo, ("event_type",)
    )


def q_crawl_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed revisit-budget planner: join the measured cadence
    (interarrival_stats per event type) with the measured drift
    (trend_fit) and rank — fast-cadence, fast-drifting channels get the
    budget first. The composition pattern of the engine: two proven
    operators, one broadcastable join on the series key, deterministic
    integer ranks over bit-exact doubles (ties break on the key)."""
    from usgs_geomag_algorithms_spark.operators.stats import (
        interarrival_stats,
        trend_fit,
    )
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select(
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp))").alias("t_us"),
    )
    cadence = interarrival_stats(ev, ("event_type",), "t_us")
    lo, _hi = _bounds(spark, sf_dir)
    trend = trend_fit(_minute_rate(spark, sf_dir), MIN_US, lo, ("event_type",))
    j = cadence.join(trend, "event_type")
    # global ranks over a PER-EVENT-TYPE aggregate: cardinality is the
    # event-type domain (a handful), not data volume — a domain-bounded
    # global window, runtime-guarded (functions/winguard.py)
    from usgs_geomag_algorithms_spark.functions.winguard import guard_bounded

    w_c = Window.orderBy(F.col("med_gap").asc(), F.col("event_type").asc())
    w_d = Window.orderBy(
        F.col("slope_per_step").desc(), F.col("event_type").asc()
    )
    ranked = j.select(
        "event_type",
        "med_gap",
        "slope_per_step",
        F.row_number().over(w_c).cast("long").alias("cadence_rank"),
        F.row_number().over(w_d).cast("long").alias("drift_rank"),
    )
    w_p = Window.orderBy(
        (F.col("cadence_rank") + F.col("drift_rank")).asc(),
        F.col("event_type").asc(),
    )
    return ranked.select(
        "event_type",
        "med_gap",
        "slope_per_step",
        "cadence_rank",
        "drift_rank",
        guard_bounded(
            F.row_number().over(w_p).cast("long"),
            what="crawl planner per-type ranks",
        ).alias("priority"),
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention triangle over events (operators/sessions.py
    ::cohort_retention): one distinct shuffle, cohort anchors derived
    from the same relation, all-integer counts + one exact division."""
    from usgs_geomag_algorithms_spark.operators.sessions import (
        cohort_retention,
    )

    ev = _events(spark, sf_dir).select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("t_us"),
    )
    return cohort_retention(ev, DAY_US)


#: instrument-metadata config for the calculated-channel query: two
#: half-open epochs per input channel (epoch 2 starts at the span
#: midpoint), each with its own (scale, offset) — the reference's
#: volt/bin metadata shape (MiniSeedFactory.py:417-448)
CALC_META = {
    "click": ((100.0, 1.5), (98.5, 2.0)),
    "view": ((0.25, -3.0), (0.26, -2.5)),
}
CALC_COMPONENTS = (
    {"channel": "U_Volt", "scale": 1.0, "offset": 0.0},
    {"channel": "U_Bin", "scale": 0.5, "offset": 0.0},
)


def q_calculated_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calculated channel over interval instrument metadata — the volt/bin
    -> nT path (ref ``MiniSeedFactory.py:231-299`` scaling composed with
    ``:417-448`` per-time-range config): minute signals for two event
    types are scaled by a BROADCAST half-open interval join (no fact-side
    shuffle), pivoted wide, and combined as Σ(channel*scale + offset).

    The input is the per-minute COUNT signal (exact integers in any
    engine), so every downstream double op is bit-deterministic and the
    oracle compares exactly — the avg signal's summation-order ulp noise
    would be amplified ~100× by the volt scale and flip 4-dp roundings."""
    from usgs_geomag_algorithms_spark.operators.misc import (
        apply_instrument_metadata,
        calculated_channel,
    )

    ev = _events(spark, sf_dir)
    sig = (
        ev.where(F.col("event_type").isin("click", "view"))
        .select(
            "event_type",
            F.expr(
                f"(unix_micros(cast(ts as timestamp)) div {MIN_US}) * {MIN_US}"
            ).alias("t_us"),
        )
        .groupBy("event_type", "t_us")
        .agg(F.count("*").cast("double").alias("value"))
    )
    lo, hi = _bounds(spark, sf_dir)
    mid = ((lo + (hi - lo) // 2) // MIN_US) * MIN_US
    meta_rows = []
    for et, ((s1, o1), (s2, o2)) in CALC_META.items():
        meta_rows.append((et, lo, mid, s1, o1))
        meta_rows.append((et, mid, hi + MIN_US, s2, o2))
    meta = spark.createDataFrame(
        meta_rows,
        "event_type string, start_us long, end_us long, scale double, offset double",
    )
    scaled = apply_instrument_metadata(sig, meta, on="event_type")
    wide = scaled.groupBy("t_us").agg(
        F.max(
            F.when(F.col("event_type") == "click", F.col("value"))
        ).alias("U_Volt"),
        F.max(
            F.when(F.col("event_type") == "view", F.col("value"))
        ).alias("U_Bin"),
    )
    out = calculated_channel(wide, "value", CALC_COMPONENTS)
    return out.select(
        "t_us", (F.round("value", 4) + F.lit(0.0)).alias("value")
    )


def q_instrument_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-ended instrument epochs resolved onto minute facts — the
    reference's metadata-epoch semantics (``geomagio/Metadata.py:
    get_instrument``; NULL start/end = "since/until forever", vectors
    ``test/Metadata_test.py:27-99``) applied through the broadcast
    interval join in STRICT mode: 'click' has a NULL-start epoch then a
    NULL-end epoch split at the span midpoint, 'view' one epoch open on
    both sides, and 'purchase' no epoch at all — its rows surface as
    NULL value instead of silently passing at scale 1 (VERDICT r3 §What's
    wrong #1).  Counts are exact integers so every scaled double is
    bit-deterministic for the oracle."""
    from usgs_geomag_algorithms_spark.operators.misc import (
        apply_instrument_metadata,
    )

    ev = _events(spark, sf_dir)
    sig = (
        ev.where(F.col("event_type").isin("click", "view", "purchase"))
        .select(
            "event_type",
            F.expr(
                f"(unix_micros(cast(ts as timestamp)) div {MIN_US}) * {MIN_US}"
            ).alias("t_us"),
        )
        .groupBy("event_type", "t_us")
        .agg(F.count("*").cast("double").alias("value"))
    )
    lo, hi = _bounds(spark, sf_dir)
    mid = ((lo + (hi - lo) // 2) // MIN_US) * MIN_US
    meta = spark.createDataFrame(
        [
            ("click", None, mid, 2.0, 10.0),
            ("click", mid, None, 3.0, -5.0),
            ("view", None, None, 0.5, 1.0),
        ],
        "event_type string, start_us long, end_us long, scale double, offset double",
    )
    out = apply_instrument_metadata(sig, meta, on="event_type", strict=True)
    return out.select(
        "event_type",
        "t_us",
        (F.round("value", 4) + F.lit(0.0)).alias("value"),
    )


def q_edge_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge scaled-int value codec over minute signals — the reference's
    Edge storage encoding (``EdgeFactory.py:238-274``: x1000 truncating
    int on put, /1000.0 on get) applied as a Catalyst column codec
    (``functions/edgeint.py``).  Emits the stored integer AND the
    decoded decimal per (event_type, minute), so the oracle pins both
    the truncation semantics (CAST/trunc parity) and the exact double
    division."""
    from usgs_geomag_algorithms_spark.functions.edgeint import (
        edge_decode,
        edge_encode,
    )

    ev = _events(spark, sf_dir)
    sig = (
        ev.where(F.col("event_type").isin("click", "view", "purchase"))
        .select(
            "event_type",
            F.expr(
                f"(unix_micros(cast(ts as timestamp)) div {MIN_US}) * {MIN_US}"
            ).alias("t_us"),
            "value",
        )
        .groupBy("event_type", "t_us")
        # count/64: exact binary doubles with fractional parts, so the
        # x1000 truncation is bit-determined in any engine (avg() would
        # carry summation-order ulp noise straight into trunc flips)
        .agg((F.count("*") / F.lit(64.0)).alias("v"))
    )
    ch = F.col("event_type")  # no D channel here: the pure x1000 path
    enc = edge_encode(F.col("v"), ch)
    return sig.select(
        "event_type",
        "t_us",
        enc.alias("stored_int"),
        edge_decode(enc, ch).alias("decoded"),
    )


def q_metadata_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The /metadata search predicate set (``MetadataDatabaseFactory.
    get_metadata``, MetadataDatabaseFactory.py:48-81 — LIKE channel
    match, open-bound time overlap, data_valid) run through
    ``filter_metadata`` over a metadata relation derived from the
    ``nation`` table: station = nation name, channels alternate BEU/BEH/
    other, every third row invalid, epochs NULL-bounded at the edges.
    Deterministic content from sf_dir; predicates exercise LIKE + both
    open bounds at once."""
    from usgs_geomag_algorithms_spark.sources.metadata import (
        filter_metadata,
    )

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    HOUR = 3_600_000_000
    md = nation.select(
        F.col("n_nationkey").cast("long").alias("id"),
        F.lit(None).cast("long").alias("metadata_id"),
        F.lit(None).cast("string").alias("created_by"),
        (F.col("n_nationkey") * 1000).cast("long").alias("created_time_us"),
        F.lit(None).cast("string").alias("updated_by"),
        F.lit(None).cast("long").alias("updated_time_us"),
        F.when(F.col("n_nationkey") == 0, F.lit(None))
        .otherwise(F.col("n_nationkey") * HOUR)
        .cast("long")
        .alias("starttime_us"),
        F.when(F.col("n_nationkey") == 24, F.lit(None))
        .otherwise((F.col("n_nationkey") + 1) * HOUR)
        .cast("long")
        .alias("endtime_us"),
        F.lit("NT").alias("network"),
        F.col("n_name").alias("station"),
        F.element_at(
            F.array(F.lit("BEU"), F.lit("BEH"), F.lit("MVH")),
            (F.pmod(F.col("n_nationkey"), F.lit(3)) + 1).cast("int"),
        ).alias("channel"),
        F.lit("R0").alias("location"),
        F.lit("flag").alias("category"),
        F.lit(1).alias("priority"),
        (F.pmod(F.col("n_nationkey"), F.lit(3)) != 2).alias("data_valid"),
        F.lit("new").alias("status"),
        F.lit(None).cast("string").alias("metadata"),
        F.lit(None).cast("string").alias("comment"),
        F.lit(None).cast("string").alias("review_comment"),
    )
    out = filter_metadata(
        md,
        channel="BE%",
        starttime_us=2 * HOUR,
        endtime_us=23 * HOUR,
        data_valid=True,
    )
    return out.select("id", "station", "channel", "starttime_us", "endtime_us")


#: first 15 registry codes (plans/api.py OBSERVATORIES order) targeted by
#: the observatory_dim driver query's deterministic store overrides
_OBS_REG15 = (
    "BDT", "BOU", "TST", "BRW", "BRT", "BSL", "BXX", "CMO", "CMT", "DED",
    "DHT", "FRD", "FDT", "FRN", "GUA",
)


def q_observatory_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The /observatories dimension (plans/api.py::observatory_dim —
    the reference's in-code registry, geomagio/api/ws/Observatory.py,
    merged with live 'observatory'-category metadata-store rows):
    deterministic overrides derived from ``nation`` — nationkey<15 rows
    override registry stations (name/elevation always, agency every 5th,
    orientation every 7th; lat/lon fall back to the registry), ≥15 rows
    add new stations with full coordinates, every (5k+4)th row is
    data_valid=false (ignored), and a second later batch for k<5
    exercises latest-wins.  agency_name and the orientation default
    re-resolve from the FINAL agency (Observatory.py validators)."""
    from usgs_geomag_algorithms_spark.plans.api import observatory_dim

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    k = F.col("n_nationkey").cast("long")
    station = F.when(
        k < 15,
        F.element_at(
            F.array(*[F.lit(s) for s in _OBS_REG15]), (k + 1).cast("int")
        ),
    ).otherwise(F.concat(F.lit("N_"), F.col("n_name")))
    agency = F.when(k % 5 == 0, F.lit("GSC"))
    orient = F.when(k % 7 == 0, F.lit("HEZF"))

    def payload(name_prefix: str, with_coords):
        return F.to_json(
            F.struct(
                F.concat(F.lit(name_prefix), F.col("n_name")).alias("name"),
                agency.alias("agency"),
                (k * 7).cast("int").alias("elevation"),
                (
                    F.when(k >= 15, k.cast("double") * 1.5)
                    if with_coords
                    else F.lit(None).cast("double")
                ).alias("latitude"),
                (
                    F.when(k >= 15, k.cast("double") * 2.5)
                    if with_coords
                    else F.lit(None).cast("double")
                ).alias("longitude"),
                (
                    F.when(k >= 15, (k * 11).cast("int"))
                    if with_coords
                    else F.lit(None).cast("int")
                ).alias("declination_base"),
                orient.alias("sensor_orientation"),
            )
        )

    def md_cols(id_col, ct_col, pay, valid):
        return [
            id_col.cast("long").alias("id"),
            station.alias("station"),
            F.lit("observatory").alias("category"),
            valid.alias("data_valid"),
            pay.alias("metadata"),
            ct_col.cast("long").alias("created_time_us"),
            F.lit(None).cast("long").alias("updated_time_us"),
        ]

    base = nation.select(
        *md_cols(k, k * 1000, payload("OBS ", True), k % 5 != 4)
    )
    # second batch always valid — so k=4 (base row invalid) resolves
    # from its LATER row only, exercising both merge paths at once
    second = nation.where(k < 5).select(
        *md_cols(k + 100, k * 1000 + 5, payload("OBS2 ", False), F.lit(True))
    )
    md = base.unionByName(second)
    return observatory_dim(spark, md)


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style relational sanity over lineitem."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


#: exact integer revenue: prices/discounts are 2-decimal doubles, so
#: floor(x*100 + 0.5) (the engine-exact round-half-up — NOTES.md) lifts
#: them to cents/percent BIGINTs and revenue sums become order-exact
_CENTS = "floor(l_extendedprice * 100 + 0.5)"
_DPCT = "floor(l_discount * 100 + 0.5)"
Q3_CUTOFF = "1996-06-30"
Q5_REGION = "ASIA"
Q5_LO, Q5_HI = "1996-01-01", "1997-01-01"


def q_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style multi-way star join: unshipped-revenue top-10 for
    one market segment. The plan property under test is Catalyst's
    dimensional planning — the filtered customer dim broadcasts (no
    fact-side exchange for it), the orders⨝lineitem equi-join shuffles
    on the key both sides already aggregate on, AQE sizes the rest.
    Revenue is exact BIGINT (cents × (100−disc_pct)) so the top-10
    ordering (revenue desc, orderkey) is deterministic cross-engine."""
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .where(F.col("o_orderdate") < F.lit(Q3_CUTOFF).cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .where(F.col("l_shipdate") > F.lit(Q3_CUTOFF).cast("timestamp"))
        .select(
            "l_orderkey",
            (F.expr(_CENTS) * (F.lit(100) - F.expr(_DPCT))).alias("_rev"),
        )
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            "l_orderkey",
            F.expr("unix_micros(cast(o_orderdate as timestamp))").alias(
                "o_date_us"
            ),
            "o_orderpriority",
        )
        .agg(F.sum("_rev").cast("long").alias("revenue_e4"))
        .orderBy(F.col("revenue_e4").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q_q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style snowflake join: per-nation revenue from LOCAL
    suppliers (supplier nation == customer nation) in one region-year.
    region→nation→customer collapses to ONE broadcast dim before it
    touches the fact side; supplier broadcasts with the locality
    predicate in the join condition. Exact BIGINT revenue."""
    nat = (
        spark.read.parquet(f"{sf_dir}/nation.parquet")
        .join(
            F.broadcast(
                spark.read.parquet(f"{sf_dir}/region.parquet").where(
                    F.col("r_name") == Q5_REGION
                )
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_nationkey", "n_name")
    )
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .where(
            (F.col("o_orderdate") >= F.lit(Q5_LO).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(Q5_HI).cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_nationkey"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey",
        "l_suppkey",
        (F.expr(_CENTS) * (F.lit(100) - F.expr(_DPCT))).alias("_rev"),
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(sup),
            (li.l_suppkey == sup.s_suppkey)
            & (cust.c_nationkey == sup.s_nationkey),
        )
    )
    return j.groupBy("n_name").agg(
        F.count("*").cast("long").alias("n_lineitems"),
        F.sum("_rev").cast("long").alias("revenue_e4"),
    )


def q_revisit_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival cadence stats (operators/stats.py::
    interarrival_stats — the crawl revisit-scheduling primitive): count /
    min / LOW-median / max / mean of the gaps between consecutive event
    timestamps. Integer order statistics, one key exchange reused by
    both windows."""
    from usgs_geomag_algorithms_spark.operators.stats import (
        interarrival_stats,
    )

    ev = _events(spark, sf_dir).select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("t_us"),
    )
    return interarrival_stats(ev, ("user_id",), "t_us")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content hash + first-doc-wins duplicate flag (delegates
    to the engine operator so driver query and operator cannot drift)."""
    from usgs_geomag_algorithms_spark.operators.dedup import exact_dedup

    return exact_dedup(_documents(spark, sf_dir))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality metrics per document (token counts, length)."""
    docs = _documents(spark, sf_dir)
    n_tokens = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    )
    return docs.select(
        "doc_id",
        "n_chars",
        n_tokens.cast("long").alias("n_tokens"),
        F.round(
            (F.length("text") - n_tokens + 1).cast("double")
            / n_tokens.cast("double"),
            4,
        ).alias("avg_token_len"),
    )


def q_rollup_fir_gaussian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIR downsample with the INTERMAGNET Gaussian-91 window applied as a
    custom step over the minute signal (in=60s, out=3600s, 91 taps,
    half-width 2700s): exercises the explode-to-anchor FIR plan — masked
    dot, renormalization, 10% rule — against an exact SQL oracle."""
    from usgs_geomag_algorithms_spark.tiers import Step
    from usgs_geomag_algorithms_spark.functions.windows import gaussian_periodic

    step = Step(
        name="fir-gauss-91-minute",
        data_interval="hour",
        input_sample_period=60.0,
        output_sample_period=3600.0,
        window=gaussian_periodic(91, 15.8734),
        type="firfilter",
    )
    sig = _minute_signal(spark, sf_dir)
    lo, hi = _bounds(spark, sf_dir)
    out = rollup_step(
        sig, step, range_start_us=lo, range_end_us=hi,
        series_cols=("event_type",),
    )
    return out.select("event_type", "t_us", F.round("value", 4).alias("value"))


DS_US = 100_000  # 10 Hz sample period
DAY_US = 86_400_000_000


def _tenhertz_signal(spark: SparkSession, sf_dir: str, lo: int, hi: int) -> DataFrame:
    """Dense deterministic 10 Hz signal derived from the minute signal:
    each present minute fans out to its 600 tenhertz slots with an exact
    integer-arithmetic perturbation, and ~1/37 of slots are dropped as
    gaps — dense enough to exercise the Blackman mask/renorm rules, exact
    enough for a DuckDB oracle (same formula, same doubles)."""
    sig = _minute_signal(spark, sf_dir).where(
        F.col("t_us").between(lo, hi - 59 * 1_000_000 - 900_000)
    )
    return (
        sig.select(
            "event_type",
            F.col("t_us").alias("m_us"),
            "value",
            F.explode(F.expr("sequence(0, 599)")).alias("s"),
        )
        .select(
            "event_type",
            (F.col("m_us") + F.col("s") * DS_US).alias("t_us"),
            (F.col("value") + ((F.col("s") % 7) - 3) * 0.01).alias("value"),
        )
        .where(F.expr(f"(t_us div {DS_US}) % 37 != 0"))
    )


def q_rollup_blackman_second(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cascade's 10 Hz -> 1 s stage (STEPS[0]: Blackman 123-tap,
    cutoff 0.25 Hz — ref geomagio/algorithm/FilterAlgorithm.py:21) over a
    dense deterministic tenhertz signal: exercises the sub-second grid,
    the 123-tap masked dot + renormalization, and the 10% rule against an
    exact SQL oracle (first day of data only — the fan-out is x600)."""
    from usgs_geomag_algorithms_spark.tiers import STEPS

    lo, _ = _bounds(spark, sf_dir)
    hi = lo + DAY_US
    sig10 = _tenhertz_signal(spark, sf_dir, lo, hi)
    out = rollup_step(
        sig10, STEPS[0], range_start_us=lo, range_end_us=hi,
        series_cols=("event_type",),
    )
    return out.select("event_type", "t_us", F.round("value", 4).alias("value"))


#: reference SqDist unit-vector configurations (derived from
#: test/algorithm_test/SQDistAlgorithm_test.py:11-200 — the same four
#: configs pinned at 8 decimals in tests/test_sqdist.py): m=4,
#: s0=sin(linspace(0, 2pi, 5)[:-1]), sigma0=[sqrt(0.5)], 12 samples.
_SQDIST_GOLDEN_CONFIGS = {
    "gap_trend": {"alpha": 1 / 12.0, "beta": 0.0, "gamma": 0.0, "obs": None},
    "gap_seasonal": {"alpha": 0.0, "beta": 0.0, "gamma": 1 / 3.0, "obs": None},
    "zero_level": {"alpha": 1 / 12.0, "beta": 0.0, "gamma": 0.0, "obs": 0.0},
    "zero_seasonal": {"alpha": 0.0, "beta": 0.0, "gamma": 1 / 3.0, "obs": 0.0},
}
_SQDIST_T0 = 1577836800_000_000
_SQDIST_N = 12


def _sqdist_golden_init():
    import numpy as np

    from usgs_geomag_algorithms_spark.operators.sqdist import HWState

    s0 = np.sin(np.linspace(0, 2 * np.pi, 5)[:-1]).tolist()
    return HWState(s0=s0, l0=0.0, b0=0.0, sigma0=[float(np.sqrt(0.5))])


def q_sqdist_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed SqDist over the reference's own unit-vector inputs
    (gap forecasting with sigma growth, spike-free smoothing — ref
    test/algorithm_test/SQDistAlgorithm_test.py): four configurations run
    through the grouped-Arrow kernel; the oracle inlines the expected
    vectors (validated at 8 decimals against the reference's published
    arrays in tests/test_sqdist.py). sf-independent by construction."""
    from usgs_geomag_algorithms_spark.operators.sqdist import (
        HWParams,
        sqdist_apply,
    )

    init = _sqdist_golden_init()
    frames = []
    for name, cfg in _SQDIST_GOLDEN_CONFIGS.items():
        rows = [
            (
                name,
                "X",
                _SQDIST_T0 + i * 60_000_000,
                cfg["obs"],
            )
            for i in range(_SQDIST_N)
        ]
        df = spark.createDataFrame(
            rows, "series string, channel string, t_us long, value double"
        )
        p = HWParams(m=4, alpha=cfg["alpha"], beta=cfg["beta"], gamma=cfg["gamma"])
        out = sqdist_apply(
            df,
            p,
            delta_s=60.0,
            states={f"{name}|X": init.to_json()},
            series_cols=("series", "channel"),
        )
        frames.append(out.where(F.col("state_json").isNull()).drop("state_json"))
    res = frames[0]
    for f_ in frames[1:]:
        res = res.unionByName(f_)
    # engine gap convention: kernel NaN (e.g. Dist over gap slots) -> NULL;
    # + 0.0 folds IEEE -0.0 to +0.0 (engines disagree on the sign of a
    # rounded -1e-16)
    v = F.when(~F.isnan("value"), F.col("value"))
    return res.select(
        "series", "channel", "t_us", (F.round(v, 6) + F.lit(0.0)).alias("value")
    )


def _sqdist_golden_sql() -> str:
    """Inline expected vectors for q_sqdist_golden, produced by the NumPy
    reference recurrence (tests/test_sqdist.py pins the SAME four configs
    to the reference's published 8-decimal arrays, so these literals are
    transitively reference-checked); values are emitted at full precision
    and rounded in SQL, mirroring the Spark side's round(value, 6)."""
    import numpy as np

    from usgs_geomag_algorithms_spark.operators.sqdist import (
        HWParams,
        sqdist_decompose,
    )

    init = _sqdist_golden_init()
    rows = []
    for name, cfg in _SQDIST_GOLDEN_CONFIGS.items():
        y = (
            np.full(_SQDIST_N, np.nan)
            if cfg["obs"] is None
            else np.full(_SQDIST_N, float(cfg["obs"]))
        )
        p = HWParams(m=4, alpha=cfg["alpha"], beta=cfg["beta"], gamma=cfg["gamma"])
        dist, sq, sv, sig, _ = sqdist_decompose(y, p, init)
        for suffix, arr in (
            ("_Dist", dist),
            ("_SQ", sq),
            ("_SV", sv),
            ("_Sigma", sig),
        ):
            for i, val in enumerate(arr):
                t = _SQDIST_T0 + i * 60_000_000
                lit = "NULL" if np.isnan(val) else f"{float(val):.17g}"
                rows.append(f"('{name}', 'X{suffix}', {t}, {lit})")
    values = ",\n".join(rows)
    return f"""
SELECT series, channel, t_us,
       round(CAST(value AS DOUBLE), 6) + 0.0 AS value
FROM (VALUES
{values}
) AS t(series, channel, t_us, value)
"""


def q_sqdist_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters SQ/SV/Dist decomposition per event_type over the
    0-filled minute count signal (stateful sequential kernel; rows-only
    driver check — not SQL-expressible)."""
    from usgs_geomag_algorithms_spark.operators.sqdist import (
        HWParams,
        split_state_rows,
        sqdist_apply,
    )

    ev = _events(spark, sf_dir)
    lo, hi = _bounds(spark, sf_dir)
    counts = ev.select(
        "event_type",
        F.expr(f"(unix_micros(cast(ts as timestamp)) div {MIN_US}) * {MIN_US}").alias("t_us"),
    ).groupBy("event_type", "t_us").agg(F.count("*").cast("double").alias("value"))
    padded = pad_to_spine(
        counts, lo, min(hi, lo + 12 * HOUR_US), 60.0,
        series_cols=("event_type",), fill_value=0.0,
    ).withColumn("channel", F.col("event_type"))
    p = HWParams(m=60, alpha=0.1, beta=0.0, gamma=0.2)
    out = sqdist_apply(
        padded, p, delta_s=60.0, series_cols=("event_type", "channel")
    )
    data = out.where(F.col("state_json").isNull()).drop("state_json")
    return data.select(
        "event_type", "channel", "t_us", F.round("value", 6).alias("value")
    )


#: deterministic calibration fixture: 16 synthetic readings whose
#: ordinates/absolutes are exact small rationals (identical doubles in
#: Spark, NumPy, and SQL literals); the fit MATH is pinned to the
#: reference's own fixtures in tests/test_affine.py / test_residual.py —
#: these queries check the grouped-Arrow Spark fan-out against the same
#: NumPy kernels, driver-visible.
def _affine_fixture():
    n = 16
    h = [20000.0 + (i * 7 % 5) * 0.25 for i in range(n)]
    e = [-50.0 + (i * 3 % 7) * 0.5 for i in range(n)]
    z = [47000.0 + (i * 11 % 13) * 0.125 for i in range(n)]
    # absolutes = rotated/translated ordinates plus a deterministic wobble
    x = [0.99 * h[i] - 0.12 * e[i] + 100.0 + (i % 3) * 0.01 for i in range(n)]
    y = [0.12 * h[i] + 0.99 * e[i] - 40.0 + (i % 4) * 0.01 for i in range(n)]
    zz = [z[i] + 550.0 + (i % 5) * 0.01 for i in range(n)]
    w = [float(1 + (i % 4)) for i in range(n)]
    return (h, e, z), (x, y, zz), w


_AFFINE_KINDS = (
    "least_sq",
    "translate_origins",
    "rescale_3d",
    "rotation_translation_xy",
    "svd",
    "qr_factorization",
)


def q_affine_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration-matrix generation through the Spark fan-out: each
    constrained fit runs as one grouped-Arrow group over the same
    deterministic readings; output one row per (transform, cell)."""
    import pandas as pd

    from usgs_geomag_algorithms_spark.functions.affine import solve_affine

    o, a, w = _affine_fixture()
    rows = []
    for kind in _AFFINE_KINDS:
        for i in range(len(w)):
            rows.append(
                (kind, i, o[0][i], o[1][i], o[2][i], a[0][i], a[1][i], a[2][i], w[i])
            )
    df = spark.createDataFrame(
        rows,
        "kind string, i int, h double, e double, z double, x double, "
        "y double, zz double, w double",
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        # fp summation order must match the oracle's NumPy run exactly:
        # grouped-Arrow delivery order is not guaranteed
        pdf = pdf.sort_values("i")
        m = solve_affine(
            pdf["kind"].iloc[0],
            [pdf["h"], pdf["e"], pdf["z"]],
            [pdf["x"], pdf["y"], pdf["zz"]],
            pdf["w"].to_numpy(),
        )
        flat = m.ravel()
        return pd.DataFrame(
            {
                "kind": pdf["kind"].iloc[0],
                "cell": range(16),
                "value": flat,
            }
        )

    out = df.groupBy("kind").applyInPandas(
        fit, schema="kind string, cell int, value double"
    )
    return out.select(
        "kind", "cell", (F.round("value", 6) + F.lit(0.0)).alias("value")
    )


def _affine_oracle_sql() -> str:
    import numpy as np

    from usgs_geomag_algorithms_spark.functions.affine import solve_affine

    o, a, w = _affine_fixture()
    rows = []
    for kind in _AFFINE_KINDS:
        m = solve_affine(kind, np.array(o), np.array(a), np.array(w))
        for cell, val in enumerate(m.ravel()):
            rows.append(f"('{kind}', {cell}, {float(val):.17g})")
    values = ",\n".join(rows)
    return f"""
SELECT kind, cell, round(CAST(value AS DOUBLE), 6) + 0.0 AS value
FROM (VALUES
{values}
) AS t(kind, cell, value)
"""


def _residual_fixture():
    """Three deterministic theodolite sessions (measurement geometry like
    the reference's BOU sessions; exact-decimal inputs)."""
    sessions = []
    for k in range(3):
        base_angle = 270.5 + k * 0.125
        ms = [
            ("FirstMarkUp", 101.25, 0.0, None, None, None, None),
            ("FirstMarkDown", 281.25, 0.0, None, None, None, None),
            ("SecondMarkUp", 101.25, 0.0, None, None, None, None),
            ("SecondMarkDown", 281.25, 0.0, None, None, None, None),
            ("WestDown", base_angle, 0.5 + k * 0.25, 20830.0 + k, -73.25, 46900.0, 51840.0),
            ("EastDown", base_angle - 180.0, -0.25, 20831.0 + k, -73.5, 46901.0, 51841.0),
            ("WestUp", base_angle + 0.5, 0.125, 20832.0 + k, -73.75, 46902.0, 51842.0),
            ("EastUp", base_angle - 179.5, -0.5, 20833.0 + k, -74.0, 46903.0, 51843.0),
            ("SouthDown", 246.5 + k * 0.25, -0.5, 20830.5, -73.0, 46904.0, 51844.5),
            ("NorthUp", 66.25, 0.25, 20831.5, -73.125, 46905.0, 51845.5),
            ("SouthUp", 113.5, 0.5, 20832.5, -73.25, 46906.0, 51846.5),
            ("NorthDown", 293.75, -0.25, 20833.5, -73.375, 46907.0, 51847.5),
        ]
        sessions.append(
            {
                "id": f"s{k}",
                "azimuth": 199.125 + k * 0.0625,
                "hemisphere": 1,
                "pier_correction": -22.0,
                "measurements": ms,
            }
        )
    return sessions


def q_residual_absolutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-method absolutes through the Spark fan-out: one grouped-
    Arrow group per observation session."""
    from usgs_geomag_algorithms_spark.functions.residual import (
        absolutes_by_session,
    )

    rows = []
    for s in _residual_fixture():
        for seq, m in enumerate(s["measurements"]):
            rows.append(
                (s["id"], seq, s["azimuth"], s["hemisphere"],
                 s["pier_correction"], *m)
            )
    df = spark.createDataFrame(
        rows,
        "session_id string, seq int, azimuth double, hemisphere int, "
        "pier_correction double, mtype string, angle double, residual double, "
        "h double, e double, z double, f double",
    )
    out = absolutes_by_session(df)
    return out.select(
        "session_id",
        "element",
        (F.round("absolute", 6) + F.lit(0.0)).alias("absolute"),
        (F.round("baseline", 6) + F.lit(0.0)).alias("baseline"),
        F.col("shift").cast("double").alias("shift"),
    )


def _residual_oracle_sql() -> str:
    from usgs_geomag_algorithms_spark.functions.residual import (
        Obs,
        calculate_absolutes,
    )

    rows = []
    for s in _residual_fixture():
        res = calculate_absolutes(
            [Obs(m[0], *m[1:]) for m in s["measurements"]],
            azimuth=s["azimuth"],
            hemisphere=s["hemisphere"],
            pier_correction=s["pier_correction"],
        )
        for el, a in res["absolutes"].items():
            rows.append(
                f"('{s['id']}', '{el}', {float(a['absolute']):.17g}, "
                f"{float(a['baseline']):.17g}, {float(a['shift']):.1f})"
            )
    values = ",\n".join(rows)
    return f"""
SELECT session_id, element,
       round(CAST(absolute AS DOUBLE), 6) + 0.0 AS absolute,
       round(CAST(baseline AS DOUBLE), 6) + 0.0 AS baseline,
       CAST(shift AS DOUBLE) AS shift
FROM (VALUES
{values}
) AS t(session_id, element, absolute, baseline, shift)
"""


#: domain shards for churn_day (url→domain analog: user_id % CHURN_DOMAINS)
CHURN_DOMAINS = 50


def _fetch_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-log analog from events: key=user_id (url), digest=event_type
    (content fingerprint — repeats across consecutive fetches often
    enough to exercise both changed and unchanged revisits), tie-broken
    by event_id for a deterministic fetch order."""
    return _events(spark, sf_dir).select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("t_us"),
        "event_id",
        F.col("event_type").alias("digest"),
    )


def q_revision_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC revisit-record dedup (operators/churn.py::revision_dedup):
    keep first fetches + changed revisits, number kept revisions per key."""
    from usgs_geomag_algorithms_spark.operators.churn import revision_dedup

    return revision_dedup(
        _fetch_log(spark, sf_dir),
        key_cols=("user_id",),
        tiebreak_cols=("event_id",),
    ).select("user_id", "t_us", "event_id", "digest", "revision_no")


def q_churn_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (domain, day) content-churn report (churn_rate): fetches,
    revisits, changed revisits, change ratio — the crawl-scheduler's
    refresh-rate signal at domain granularity."""
    from usgs_geomag_algorithms_spark.operators.churn import churn_rate

    return churn_rate(
        _fetch_log(spark, sf_dir),
        DAY_US,
        group_cols=[(F.col("user_id") % CHURN_DOMAINS).alias("domain")],
        key_cols=("user_id",),
        tiebreak_cols=("event_id",),
    )


def q_stale_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key staleness (operators/churn.py::staleness): fetch count,
    kept-revision count, last-change timestamp, trailing unchanged
    streak."""
    from usgs_geomag_algorithms_spark.operators.churn import staleness

    return staleness(
        _fetch_log(spark, sf_dir),
        key_cols=("user_id",),
        tiebreak_cols=("event_id",),
    )


def q_forecast_error_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive skill baseline (operators/forecast.py): score
    v̂(t)=v(t−1day) against the hourly count signal per (event_type, day),
    side by side with the 1-hour naive; mase = seasonal MAE / naive MAE.
    Integer signal → BIGINT-exact sums; three final IEEE divisions."""
    from usgs_geomag_algorithms_spark.operators.forecast import (
        seasonal_naive_error,
    )

    ev = _events(spark, sf_dir)
    sig = (
        ev.select(
            "event_type",
            F.expr(
                f"(unix_micros(cast(ts as timestamp)) div {HOUR_US})"
                f" * {HOUR_US}"
            ).alias("t_us"),
        )
        .groupBy("event_type", "t_us")
        .agg(F.count("*").cast("long").alias("v"))
    )
    seasonal = seasonal_naive_error(
        sig, DAY_US, DAY_US, ("event_type",), "t_us", "v"
    )
    naive1 = seasonal_naive_error(
        sig, HOUR_US, DAY_US, ("event_type",), "t_us", "v", suffix="_n1"
    )
    out = seasonal.join(naive1, ["event_type", "t_us"])
    mase = F.when(
        F.col("sum_abs_err_n1") > 0, F.col("mae") / F.col("mae_n1")
    )
    return out.select("*", mase.alias("mase"))


def q_ewma_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-aware dyadic EWMA (operators/forecast.py::ewma_smooth) over
    the per-(event_type, minute) count signal: per-slot decay 1/2
    truncated at 16 slots, absent slots renormalize the kernel.
    Explode-to-anchor, one shuffle; BIGINT num/den, one IEEE division."""
    from usgs_geomag_algorithms_spark.operators.forecast import ewma_smooth

    ev = _events(spark, sf_dir)
    sig = (
        ev.select(
            "event_type",
            F.expr(
                f"(unix_micros(cast(ts as timestamp)) div {MIN_US})"
                f" * {MIN_US}"
            ).alias("t_us"),
        )
        .groupBy("event_type", "t_us")
        .agg(F.count("*").cast("long").alias("v"))
    )
    return ewma_smooth(
        sig, MIN_US, window=16, series_cols=("event_type",)
    ).orderBy("event_type", "t_us")


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition model of user behavior
    (operators/paths.py::event_transitions): per (state, next_state)
    count + row probability; one key exchange, states²-bounded output."""
    from usgs_geomag_algorithms_spark.operators.paths import (
        event_transitions,
    )

    ev = _events(spark, sf_dir).select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("t_us"),
        "event_id",
        "event_type",
    )
    return event_transitions(
        ev, ("user_id",), "t_us", "event_type", ("event_id",)
    )


def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase conversion latency per signup-day cohort
    (operators/paths.py::conversion_latency): converted counts +
    LOW-median / mean latency; min-aggregates + one join, no per-user
    collect."""
    from usgs_geomag_algorithms_spark.operators.paths import (
        conversion_latency,
    )

    ev = _events(spark, sf_dir).select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("t_us"),
        "event_type",
    )
    return conversion_latency(ev, "signup", "purchase", DAY_US)


def _daily_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, day) event count — the coarse grid the robust
    drift fit runs on (quadratic pair cost wants few points/series)."""
    ev = _events(spark, sf_dir)
    return (
        ev.select(
            "event_type",
            F.expr(
                f"(unix_micros(cast(ts as timestamp)) div {DAY_US})"
                f" * {DAY_US}"
            ).alias("t_us"),
        )
        .groupBy("event_type", "t_us")
        .agg(F.count("*").cast("long").alias("v"))
    )


def q_theilsen_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust Theil–Sen drift of the daily event rate per type
    (operators/robust.py::theilsen_fit — the spike-immune sibling of
    trend_minute's OLS; LOW-median of exact pairwise-slope doubles,
    series-local pair join)."""
    from usgs_geomag_algorithms_spark.operators.robust import theilsen_fit

    rate = _daily_rate(spark, sf_dir)
    g0 = rate.agg(F.min("t_us")).first()[0]
    return theilsen_fit(rate, DAY_US, int(g0), ("event_type",))


def q_spearman_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly Spearman rank correlation of the click vs view minute
    rates (operators/robust.py::spearman_window — corr_hour's
    rank-based sibling; doubled average ranks stay BIGINT, the same
    exact sufficient-statistic Pearson tree)."""
    from usgs_geomag_algorithms_spark.operators.robust import (
        spearman_window,
    )

    rate = _minute_rate(spark, sf_dir)
    click = rate.where(F.col("event_type") == "click").select(
        "t_us", F.col("v").alias("x")
    )
    view = rate.where(F.col("event_type") == "view").select(
        "t_us", F.col("v").alias("y")
    )
    return spearman_window(click.join(view, "t_us"), HOUR_US, "x", "y")


def q_trimmed_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trimmed daily mean of the nonzero-minute event rate per type
    (operators/robust.py::trimmed_rollup — the bounded-influence rollup;
    drop the 6 lowest + 6 highest minute samples of each day, BIGINT sum
    of the rest, one exact division)."""
    from usgs_geomag_algorithms_spark.operators.robust import (
        trimmed_rollup,
    )

    return trimmed_rollup(
        _minute_rate(spark, sf_dir), DAY_US, 6, ("event_type",)
    )


#: pivot_day_report's declared column set — literal so the plan is ONE
#: aggregate (no distinct() discovery pass; see plans/serve.py::pivot_report)
PIVOT_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_rollup_levels_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level subtotal report (plans/serve.py::grouping_levels_report
    — SQL ROLLUP): per (event_type, day) counts and exact integer-cents
    sums, plus per-type totals and the grand total, in ONE Expand-fed
    aggregate (one shuffle — not len(dims)+1 unioned groupBys). ``lvl``
    is the grouping id that tells a subtotal row's NULLs from data
    NULLs."""
    from usgs_geomag_algorithms_spark.plans.serve import (
        grouping_levels_report,
    )

    ev = _events(spark, sf_dir).select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    return grouping_levels_report(
        ev,
        ["event_type", "day"],
        {"n": F.count(F.lit(1)), "cents": F.sum("v")},
    )


def q_pivot_day_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide per-day report, one exact-cents column per event type
    (plans/serve.py::pivot_report — SQL PIVOT semantics as conditional
    aggregation over a DECLARED literal column set: ONE hash aggregate,
    one shuffle; Spark's own .pivot() plans two aggregate passes even
    with declared values, and without them adds a distinct() discovery
    scan)."""
    from usgs_geomag_algorithms_spark.plans.serve import pivot_report

    ev = _events(spark, sf_dir).select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    return pivot_report(
        ev, "day", "event_type", PIVOT_EVENT_TYPES, (F.sum, "v")
    )


def _state_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("t_us"),
        "event_type",
    )


def q_state_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-in-state totals per event_type (operators/states.py::
    state_durations — the state_agg hyperfunction analog: LOCF closed
    segments between consecutive per-user events, all-BIGINT durations,
    one exact division for the mean)."""
    from usgs_geomag_algorithms_spark.operators.states import (
        state_durations,
    )

    return state_durations(_state_events(spark, sf_dir))


def q_state_share_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day state share (operators/states.py::state_share_day —
    midnight-exact BIGINT segment splits; share = ratio of two BIGINT
    sums, one division)."""
    from usgs_geomag_algorithms_spark.operators.states import (
        state_share_day,
    )

    return state_share_day(_state_events(spark, sf_dir))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: hour-tier rollup of the events minute signal at sf0.001."""
    return q_rollup_hour_value(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from usgs_geomag_algorithms_spark.webtext_queries import QUERIES as WQ

    return {
        **WQ,
        "rollup_hour_value": q_rollup_hour_value,
        "rollup_day_value": q_rollup_day_value,
        "rollup_hour_count": q_rollup_hour_count,
        "rollup_month_value": q_rollup_month_value,
        "dbdt_minute": q_dbdt_minute,
        "average_across_types": q_average_across_types,
        "gap_detect_minute": q_gap_detect_minute,
        "q1_pricing_summary": q1_pricing_summary,
        "calculated_channel": q_calculated_channel,
        "instrument_epochs": q_instrument_epochs,
        "edge_codec_roundtrip": q_edge_codec_roundtrip,
        "metadata_search": q_metadata_search,
        "observatory_dim": q_observatory_dim,
        "dedup_exact": q_dedup_exact,
        "text_quality": q_text_quality,
        "rollup_fir_gaussian": q_rollup_fir_gaussian,
        "rollup_blackman_second": q_rollup_blackman_second,
        "sqdist_decompose": q_sqdist_decompose,
        "sqdist_golden": q_sqdist_golden,
        "affine_transforms": q_affine_transforms,
        "residual_absolutes": q_residual_absolutes,
        "coverage_monitor": q_coverage_monitor,
        "merged_gaps": q_merged_gaps,
        "top_minutes": q_top_minutes,
        "user_sessions": q_user_sessions,
        "session_stats": q_session_stats,
        "rollup_hour_pctl": q_rollup_hour_pctl,
        "rollup_day_pctl": q_rollup_day_pctl,
        "rollup_day_pctl_sketch": q_rollup_day_pctl_sketch,
        "rolling_p95_day": q_rolling_p95_day,
        "rolling_p95_day_sketch": q_rolling_p95_day_sketch,
        "purchase_asof_view": q_purchase_asof_view,
        "rate_anomaly": q_rate_anomaly,
        "changepoint_cusum": q_changepoint_cusum,
        "acf_minute": q_acf_minute,
        "dominant_period": q_dominant_period,
        "day_over_day": q_day_over_day,
        "basket_pairs": q_basket_pairs,
        "mad_outliers_hour": q_mad_outliers_hour,
        "session_purchases": q_session_purchases,
        "active_users_hour": q_active_users_hour,
        "hll_users_day": q_hll_users_day,
        "distinct_users_day": q_distinct_users_day,
        "rolling_users_day": q_rolling_users_day,
        "rolling_users_day_sketch": q_rolling_users_day_sketch,
        "gapfill_minute": q_gapfill_minute,
        "counter_increase_hour": q_counter_increase_hour,
        "ltob_hour": q_ltob_hour,
        "rollup_hour_hist": q_rollup_hour_hist,
        "rollup_day_hist": q_rollup_day_hist,
        "hist_p95_hour": q_hist_p95_hour,
        "ohlc_hour": q_ohlc_hour,
        "twa_hour": q_twa_hour,
        "corr_hour": q_corr_hour,
        "xcorr_minute": q_xcorr_minute,
        "lead_lag_minute": q_lead_lag_minute,
        "diurnal_power": q_diurnal_power,
        "q3_shipping_priority": q_q3_shipping_priority,
        "q5_region_revenue": q_q5_region_revenue,
        "revisit_intervals": q_revisit_intervals,
        "trend_minute": q_trend_minute,
        "cohort_retention": q_cohort_retention,
        "crawl_planner": q_crawl_planner,
        "revision_dedup": q_revision_dedup,
        "churn_day": q_churn_day,
        "stale_pages": q_stale_pages,
        "forecast_error_day": q_forecast_error_day,
        "ewma_minute": q_ewma_minute,
        "theilsen_drift": q_theilsen_drift,
        "spearman_hour": q_spearman_hour,
        "trimmed_day": q_trimmed_day,
        "state_durations": q_state_durations,
        "state_share_day": q_state_share_day,
        "event_transitions": q_event_transitions,
        "rollup_levels_report": q_rollup_levels_report,
        "pivot_day_report": q_pivot_day_report,
        "conversion_latency": q_conversion_latency,
    }


def _observatory_dim_oracle_sql() -> str:
    """DuckDB twin of q_observatory_dim: the registry literal is
    generated from the SAME plans/api.py table (data parity by
    construction), the overrides re-derived from nation with plain CASE
    logic (the JSON payload round-trip is a Spark-side mechanism; the
    values are deterministic either way)."""
    from usgs_geomag_algorithms_spark.plans.api import (
        OBSERVATORIES,
        _AGENCY_NAMES,
        _orientation,
    )

    reg_rows = ",\n    ".join(
        f"('{o[0]}', {o[1]}, CAST({o[2]} AS DOUBLE), CAST({o[3]} AS DOUBLE),"
        f" '{o[4]}', '{o[5]}', {o[6]}, '{_orientation(o[5], o[7])}')"
        for o in OBSERVATORIES
    )
    ids_list = ", ".join(f"'{s}'" for s in _OBS_REG15)
    agency_name = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in _AGENCY_NAMES.items()
    )
    return f"""
WITH reg(id, elevation, latitude, longitude, name, agency,
         declination_base, sensor_orientation) AS (VALUES
    {reg_rows}
),
base AS (SELECT CAST(n_nationkey AS BIGINT) AS k, n_name FROM nation),
rows0 AS (
    SELECT k AS rid, k * 1000 AS ct,
           CASE WHEN k < 15 THEN list_extract([{ids_list}], CAST(k + 1 AS INTEGER))
                ELSE 'N_' || n_name END AS station,
           'OBS ' || n_name AS o_name,
           CASE WHEN k % 5 = 0 THEN 'GSC' END AS o_agency,
           CAST(k * 7 AS INTEGER) AS o_elev,
           CASE WHEN k >= 15 THEN CAST(k AS DOUBLE) * 1.5 END AS o_lat,
           CASE WHEN k >= 15 THEN CAST(k AS DOUBLE) * 2.5 END AS o_lon,
           CASE WHEN k >= 15 THEN CAST(k * 11 AS INTEGER) END AS o_dec,
           CASE WHEN k % 7 = 0 THEN 'HEZF' END AS o_orient,
           (k % 5) <> 4 AS valid
    FROM base
    UNION ALL
    SELECT k + 100, k * 1000 + 5,
           list_extract([{ids_list}], CAST(k + 1 AS INTEGER)),
           'OBS2 ' || n_name,
           CASE WHEN k % 5 = 0 THEN 'GSC' END,
           CAST(k * 7 AS INTEGER), NULL, NULL, NULL,
           CASE WHEN k % 7 = 0 THEN 'HEZF' END, true
    FROM base WHERE k < 5
),
live AS (
    SELECT * FROM (
        SELECT r.*, row_number() OVER (
            PARTITION BY station ORDER BY ct DESC, rid DESC) AS rn
        FROM rows0 r WHERE valid
    ) WHERE rn = 1
),
m AS (
    SELECT COALESCE(reg.id, live.station) AS id,
           COALESCE(live.o_elev, reg.elevation) AS elevation,
           COALESCE(live.o_lat, reg.latitude) AS latitude,
           COALESCE(live.o_lon, reg.longitude) AS longitude,
           COALESCE(live.o_name, reg.name) AS name,
           COALESCE(live.o_agency, reg.agency) AS agency,
           COALESCE(live.o_dec, reg.declination_base) AS declination_base,
           COALESCE(live.o_orient, reg.sensor_orientation,
                    CASE WHEN COALESCE(live.o_agency, reg.agency) = 'GSC'
                         THEN 'XYZF' ELSE 'HDZF' END) AS sensor_orientation,
           reg.id IS NOT NULL AS in_registry,
           live.station IS NOT NULL AS overridden
    FROM reg FULL OUTER JOIN live ON reg.id = live.station
)
SELECT id, elevation, latitude, longitude, name, agency,
       CASE agency {agency_name} END AS agency_name,
       declination_base, sensor_orientation, in_registry, overridden
FROM m ORDER BY id
"""


def oracle_sql() -> dict[str, str]:
    crawl_planner = f"""
WITH e AS (SELECT event_type, epoch_us(ts) AS t_us FROM events),
g AS (
    SELECT event_type, t_us,
           t_us - lag(t_us) OVER (PARTITION BY event_type ORDER BY t_us)
               AS gap
    FROM e
),
gg AS (SELECT * FROM g WHERE gap IS NOT NULL),
med AS (
    SELECT event_type, gap AS med_gap
    FROM (
        SELECT event_type, gap,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY gap, t_us) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM gg
    ) WHERE rn = (n + 1) // 2
),
rate AS (
    SELECT event_type,
           (epoch_us(ts) // {MIN_US}) * {MIN_US} AS t_us,
           count(*)::BIGINT AS v
    FROM events GROUP BY 1, 2
),
b AS (SELECT min(t_us) AS lo FROM rate),
st AS (
    SELECT event_type,
           count(*)::BIGINT AS n_points,
           sum((t_us - (SELECT lo FROM b)) // {MIN_US})::BIGINT AS sk,
           sum(v)::BIGINT AS sy,
           sum(((t_us - (SELECT lo FROM b)) // {MIN_US}) * v)::BIGINT AS sky,
           sum(((t_us - (SELECT lo FROM b)) // {MIN_US})
               * ((t_us - (SELECT lo FROM b)) // {MIN_US}))::BIGINT AS skk
    FROM rate GROUP BY 1
),
tr AS (
    SELECT event_type,
           CASE WHEN n_points >= 3
                 AND n_points::DOUBLE * skk::DOUBLE - sk::DOUBLE * sk::DOUBLE > 0
                THEN (n_points::DOUBLE * sky::DOUBLE - sk::DOUBLE * sy::DOUBLE)
                     / (n_points::DOUBLE * skk::DOUBLE - sk::DOUBLE * sk::DOUBLE)
           END AS slope_per_step
    FROM st
),
ranked AS (
    SELECT m.event_type, m.med_gap, t.slope_per_step,
           row_number() OVER (ORDER BY m.med_gap ASC, m.event_type ASC)
               ::BIGINT AS cadence_rank,
           row_number() OVER (ORDER BY t.slope_per_step DESC,
                              m.event_type ASC)::BIGINT AS drift_rank
    FROM med m JOIN tr t USING (event_type)
)
SELECT event_type, med_gap, slope_per_step, cadence_rank, drift_rank,
       row_number() OVER (ORDER BY cadence_rank + drift_rank ASC,
                          event_type ASC)::BIGINT AS priority
FROM ranked
"""
    cohort_retention = f"""
WITH active AS (
    SELECT DISTINCT user_id,
           (epoch_us(ts) // {DAY_US}) * {DAY_US} AS w
    FROM events
),
firsts AS (SELECT user_id, min(w) AS cohort FROM active GROUP BY 1),
joined AS (
    SELECT f.cohort, (a.w - f.cohort) // {DAY_US} AS k
    FROM active a JOIN firsts f USING (user_id)
),
counts AS (
    SELECT cohort, k, count(*)::BIGINT AS n_active
    FROM joined GROUP BY 1, 2
),
sizes AS (
    SELECT cohort, n_active AS cohort_size FROM counts WHERE k = 0
)
SELECT c.cohort AS cohort_us, c.k, c.n_active, s.cohort_size,
       c.n_active::DOUBLE / s.cohort_size::DOUBLE AS retention
FROM counts c JOIN sizes s USING (cohort)
"""
    trend_minute = f"""
WITH rate AS (
    SELECT event_type,
           (epoch_us(ts) // {MIN_US}) * {MIN_US} AS t_us,
           count(*)::BIGINT AS v
    FROM events GROUP BY 1, 2
),
b AS (SELECT min(t_us) AS lo FROM rate),
st AS (
    SELECT event_type,
           count(*)::BIGINT AS n_points,
           sum((t_us - (SELECT lo FROM b)) // {MIN_US})::BIGINT AS sk,
           sum(v)::BIGINT AS sy,
           sum(((t_us - (SELECT lo FROM b)) // {MIN_US}) * v)::BIGINT AS sky,
           sum(((t_us - (SELECT lo FROM b)) // {MIN_US})
               * ((t_us - (SELECT lo FROM b)) // {MIN_US}))::BIGINT AS skk,
           sum(v * v)::BIGINT AS syy
    FROM rate GROUP BY 1
)
SELECT event_type, n_points,
       CASE WHEN n_points >= 3
             AND n_points::DOUBLE * skk::DOUBLE - sk::DOUBLE * sk::DOUBLE > 0
            THEN (n_points::DOUBLE * sky::DOUBLE - sk::DOUBLE * sy::DOUBLE)
                 / (n_points::DOUBLE * skk::DOUBLE - sk::DOUBLE * sk::DOUBLE)
       END AS slope_per_step,
       CASE WHEN n_points >= 3
             AND n_points::DOUBLE * skk::DOUBLE - sk::DOUBLE * sk::DOUBLE > 0
            THEN (sy::DOUBLE
                  - ((n_points::DOUBLE * sky::DOUBLE - sk::DOUBLE * sy::DOUBLE)
                     / (n_points::DOUBLE * skk::DOUBLE - sk::DOUBLE * sk::DOUBLE))
                    * sk::DOUBLE)
                 / n_points::DOUBLE
       END AS intercept,
       CASE WHEN n_points >= 3
             AND n_points::DOUBLE * skk::DOUBLE - sk::DOUBLE * sk::DOUBLE > 0
             AND n_points::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE > 0
            THEN ((n_points::DOUBLE * sky::DOUBLE - sk::DOUBLE * sy::DOUBLE)
                  * (n_points::DOUBLE * sky::DOUBLE - sk::DOUBLE * sy::DOUBLE))
                 / ((n_points::DOUBLE * skk::DOUBLE - sk::DOUBLE * sk::DOUBLE)
                    * (n_points::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
       END AS r2
FROM st
"""
    q3_shipping_priority = f"""
SELECT l.l_orderkey,
       epoch_us(o.o_orderdate) AS o_date_us,
       o.o_orderpriority,
       sum(floor(l.l_extendedprice * 100 + 0.5)::BIGINT
           * (100 - floor(l.l_discount * 100 + 0.5)::BIGINT))::BIGINT
           AS revenue_e4
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '{Q3_CUTOFF} 00:00:00'
  AND l.l_shipdate > TIMESTAMP '{Q3_CUTOFF} 00:00:00'
GROUP BY 1, 2, 3
ORDER BY revenue_e4 DESC, l_orderkey
LIMIT 10
"""

    q5_region_revenue = f"""
SELECT n.n_name,
       count(*)::BIGINT AS n_lineitems,
       sum(floor(l.l_extendedprice * 100 + 0.5)::BIGINT
           * (100 - floor(l.l_discount * 100 + 0.5)::BIGINT))::BIGINT
           AS revenue_e4
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
               AND c.c_nationkey = s.s_nationkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = '{Q5_REGION}'
  AND o.o_orderdate >= TIMESTAMP '{Q5_LO} 00:00:00'
  AND o.o_orderdate < TIMESTAMP '{Q5_HI} 00:00:00'
GROUP BY 1
"""

    revisit_intervals = """
WITH e AS (SELECT user_id, epoch_us(ts) AS t_us FROM events),
g AS (
    SELECT user_id, t_us,
           t_us - lag(t_us) OVER (PARTITION BY user_id ORDER BY t_us)
               AS gap
    FROM e
),
gg AS (SELECT * FROM g WHERE gap IS NOT NULL),
agg AS (
    SELECT user_id, count(*)::BIGINT AS n_gaps,
           min(gap)::BIGINT AS min_gap, max(gap)::BIGINT AS max_gap,
           sum(gap)::BIGINT AS sum_gap
    FROM gg GROUP BY 1
),
med AS (
    SELECT user_id, gap AS med_gap
    FROM (
        SELECT user_id, gap,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY gap, t_us) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n
        FROM gg
    ) WHERE rn = (n + 1) // 2
)
SELECT a.user_id, a.n_gaps, a.min_gap, m.med_gap, a.max_gap,
       a.sum_gap::DOUBLE / a.n_gaps::DOUBLE AS mean_gap
FROM agg a JOIN med m USING (user_id)
"""

    hour_value = f"""
WITH {_MINUTE_CTE},
hour AS (
    SELECT event_type, (t_us // {HOUR_US}) * {HOUR_US} AS h_us,
           sum(v) AS vsum, count(v) AS nv
    FROM minute GROUP BY 1, 2
)
SELECT event_type,
       h_us + 1770000000 AS t_us,
       CASE WHEN nv * 10 >= 540 THEN round(vsum / nv, 4) END AS value
FROM hour, bounds
WHERE h_us >= lo_us AND h_us + {HOUR_US - MIN_US} <= hi_us
"""
    day_us = 86_400_000_000
    day_value = f"""
WITH {_MINUTE_CTE},
day AS (
    SELECT event_type, (t_us // {day_us}) * {day_us} AS d_us,
           sum(v) AS vsum, count(v) AS nv
    FROM minute GROUP BY 1, 2
)
SELECT event_type,
       d_us + 43170000000 AS t_us,
       CASE WHEN nv * 10 >= 12960 THEN round(vsum / nv, 4) END AS value
FROM day, bounds
WHERE d_us >= lo_us AND d_us + {day_us - MIN_US} <= hi_us
"""
    hour_count = f"""
WITH bounds AS (
    SELECT (epoch_us(min(ts)) // {MIN_US}) * {MIN_US} AS lo_us,
           (epoch_us(max(ts)) // {MIN_US}) * {MIN_US} AS hi_us
    FROM events
),
spine AS (
    SELECT et.event_type, gs.t_us
    FROM (SELECT DISTINCT event_type FROM events) et
    CROSS JOIN (
        SELECT unnest(generate_series(lo_us, hi_us, {MIN_US})) AS t_us
        FROM bounds
    ) gs
),
counts AS (
    SELECT event_type, (epoch_us(ts) // {MIN_US}) * {MIN_US} AS t_us,
           count(*)::DOUBLE AS c
    FROM events GROUP BY 1, 2
),
minute AS (
    SELECT s.event_type, s.t_us, coalesce(c.c, 0.0) AS v
    FROM spine s LEFT JOIN counts c
      ON s.event_type = c.event_type AND s.t_us = c.t_us
),
hour AS (
    SELECT event_type, (t_us // {HOUR_US}) * {HOUR_US} AS h_us,
           sum(v) AS vsum, count(v) AS nv
    FROM minute GROUP BY 1, 2
)
SELECT event_type,
       h_us + 1770000000 AS t_us,
       CASE WHEN nv * 10 >= 540 THEN round(vsum / nv, 4) END AS value
FROM hour, bounds
WHERE h_us >= lo_us AND h_us + {HOUR_US - MIN_US} <= hi_us
"""
    month_value = f"""
WITH bounds AS (
    SELECT (epoch_us(min(ts)) // {MIN_US}) * {MIN_US} AS lo_us,
           (epoch_us(max(ts)) // {MIN_US}) * {MIN_US} AS hi_us
    FROM events
),
spine AS (
    SELECT et.event_type, gs.t_us
    FROM (SELECT DISTINCT event_type FROM events) et
    CROSS JOIN (
        SELECT unnest(generate_series(lo_us, hi_us, {MIN_US})) AS t_us
        FROM bounds
    ) gs
),
counts AS (
    SELECT event_type, (epoch_us(ts) // {MIN_US}) * {MIN_US} AS t_us,
           count(*)::DOUBLE AS c
    FROM events GROUP BY 1, 2
),
minute AS (
    SELECT s.event_type, s.t_us, coalesce(c.c, 0.0) AS v
    FROM spine s LEFT JOIN counts c
      ON s.event_type = c.event_type AND s.t_us = c.t_us
),
day AS (
    SELECT event_type, (t_us // {day_us}) * {day_us} AS d_us,
           sum(v) AS vsum, count(v) AS nv
    FROM minute GROUP BY 1, 2
),
dayt AS (
    SELECT event_type, d_us + 43170000000 AS t_us,
           CASE WHEN nv * 10 >= 12960 THEN vsum / nv END AS v
    FROM day, bounds
    WHERE d_us >= lo_us AND d_us + {day_us - MIN_US} <= hi_us
),
mon AS (
    SELECT event_type,
           epoch_us(date_trunc('month', make_timestamp(t_us))) AS m0,
           sum(CASE WHEN v IS NOT NULL THEN v END) AS vsum,
           count(v) AS nv
    FROM dayt GROUP BY 1, 2
)
SELECT event_type,
       m0 + (43200000000::BIGINT * day(last_day(make_timestamp(m0))) - 30000000) AS t_us,
       CASE WHEN nv * 10 >= day(last_day(make_timestamp(m0))) * 9
            THEN round(vsum / nv, 4) END AS value
FROM mon, bounds
WHERE m0 = epoch_us(date_trunc('month', make_timestamp(lo_us)))
"""
    top_minutes = f"""
WITH {_MINUTE_CTE}
SELECT event_type, t_us, value, rank::INT AS rank FROM (
    SELECT event_type, t_us, round(v, 4) AS value,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY round(v, 4) DESC, t_us ASC) AS rank
    FROM minute
) WHERE rank <= 5
"""
    dbdt_minute = f"""
WITH {_MINUTE_CTE}
SELECT event_type, t_us,
       CASE WHEN lag(t_us) OVER w = t_us - {MIN_US}
            THEN round(v - lag(v) OVER w, 6) END AS value
FROM minute
WINDOW w AS (PARTITION BY event_type ORDER BY t_us)
QUALIFY lag(t_us) OVER w IS NOT NULL
"""
    average_across = f"""
WITH {_MINUTE_CTE},
n AS (SELECT count(DISTINCT event_type) AS k FROM events)
SELECT 'ALL' AS event_type, t_us,
       CASE WHEN count(v) = (SELECT k FROM n)
            THEN round(sum(v) / count(v), 4) END AS value
FROM minute GROUP BY t_us
"""
    gap_detect = f"""
WITH {_MINUTE_CTE},
v AS (
    SELECT event_type, t_us,
           lag(t_us) OVER (PARTITION BY event_type ORDER BY t_us) AS prev
    FROM minute
),
interior AS (
    SELECT event_type, prev + {MIN_US} AS gap_start_us,
           t_us - {MIN_US} AS gap_end_us, t_us AS next_valid_us
    FROM v WHERE prev IS NOT NULL AND t_us - prev > {MIN_US}
),
edges AS (
    SELECT event_type, min(t_us) AS f, max(t_us) AS l FROM minute GROUP BY 1
),
lead_gap AS (
    SELECT event_type, lo_us AS gap_start_us, f - {MIN_US} AS gap_end_us,
           f AS next_valid_us
    FROM edges, bounds WHERE f > lo_us
),
trail_gap AS (
    SELECT event_type, l + {MIN_US} AS gap_start_us, hi_us AS gap_end_us,
           hi_us + {MIN_US} AS next_valid_us
    FROM edges, bounds WHERE l < hi_us
)
SELECT * FROM interior
UNION ALL SELECT * FROM lead_gap
UNION ALL SELECT * FROM trail_gap
"""
    coverage_monitor = f"""
WITH {_MINUTE_CTE}
SELECT event_type,
       count(v) AS n_valid,
       (SELECT (hi_us - lo_us) // {MIN_US} + 1 FROM bounds) AS n_slots,
       round(100.0 * ((SELECT (hi_us - lo_us) // {MIN_US} + 1 FROM bounds) - count(v))
             / (SELECT (hi_us - lo_us) // {MIN_US} + 1 FROM bounds), 4) AS pct_missing
FROM minute GROUP BY event_type
"""
    merged_gaps = f"""
WITH {_MINUTE_CTE},
v AS (
    SELECT event_type, t_us,
           lag(t_us) OVER (PARTITION BY event_type ORDER BY t_us) AS prev
    FROM minute
),
interior AS (
    SELECT prev + {MIN_US} AS gap_start_us, t_us - {MIN_US} AS gap_end_us,
           t_us AS next_valid_us
    FROM v WHERE prev IS NOT NULL AND t_us - prev > {MIN_US}
),
edges AS (SELECT event_type, min(t_us) AS f, max(t_us) AS l FROM minute GROUP BY 1),
lead_gap AS (
    SELECT lo_us AS gap_start_us, f - {MIN_US} AS gap_end_us, f AS next_valid_us
    FROM edges, bounds WHERE f > lo_us
),
trail_gap AS (
    SELECT l + {MIN_US} AS gap_start_us, hi_us AS gap_end_us,
           hi_us + {MIN_US} AS next_valid_us
    FROM edges, bounds WHERE l < hi_us
),
gaps AS (
    SELECT * FROM interior UNION ALL SELECT * FROM lead_gap
    UNION ALL SELECT * FROM trail_gap
),
flagged AS (
    SELECT *,
           CASE WHEN max(next_valid_us) OVER (
                    ORDER BY gap_start_us
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) IS NULL
                OR gap_start_us > max(next_valid_us) OVER (
                    ORDER BY gap_start_us
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                )
           THEN 1 ELSE 0 END AS new_run
    FROM gaps
),
runs AS (
    SELECT *, sum(new_run) OVER (
        ORDER BY gap_start_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS run
    FROM flagged
)
SELECT min(gap_start_us) AS gap_start_us, max(gap_end_us) AS gap_end_us,
       max(next_valid_us) AS next_valid_us
FROM runs GROUP BY run
"""
    q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""
    meta_union = "\n    UNION ALL\n".join(
        f"    SELECT '{et}', {bound_lo}, {bound_hi}, {s:.17g}, {o:.17g} FROM mid"
        for et, epochs in CALC_META.items()
        for (bound_lo, bound_hi), (s, o) in zip(
            (("lo_us", "m_us"), ("m_us", f"hi_us + {MIN_US}")), epochs
        )
    )
    calc_scale = {c["channel"]: c for c in CALC_COMPONENTS}
    calculated_channel = f"""
WITH {_MINUTE_CTE},
mid AS (
    SELECT ((lo_us + (hi_us - lo_us) // 2) // {MIN_US}) * {MIN_US} AS m_us,
           lo_us, hi_us
    FROM bounds
),
meta(event_type, start_us, end_us, scale, "off") AS (
{meta_union}
),
mcount AS (
    SELECT event_type,
           (epoch_us(ts) // {MIN_US}) * {MIN_US} AS t_us,
           count(*)::DOUBLE AS v
    FROM events
    WHERE event_type IN ('click', 'view')
    GROUP BY 1, 2
),
scaled AS (
    SELECT mi.event_type, mi.t_us,
           mi.v * coalesce(mt.scale, 1.0) + coalesce(mt."off", 0.0) AS v
    FROM mcount mi
    LEFT JOIN meta mt
      ON mt.event_type = mi.event_type
     AND mi.t_us >= mt.start_us AND mi.t_us < mt.end_us
),
wide AS (
    SELECT t_us,
           max(CASE WHEN event_type = 'click' THEN v END) AS u_volt,
           max(CASE WHEN event_type = 'view' THEN v END) AS u_bin
    FROM scaled GROUP BY 1
)
SELECT t_us,
       round((u_volt * {calc_scale['U_Volt']['scale']:.17g}
              + {calc_scale['U_Volt']['offset']:.17g})
             + (u_bin * {calc_scale['U_Bin']['scale']:.17g}
                + {calc_scale['U_Bin']['offset']:.17g}), 4) + 0.0 AS value
FROM wide
"""
    # NULL epoch bounds coalesce to +/-2^62 sentinels exactly like the
    # Spark-side broadcast join; strict mode = CASE on join-matched
    instrument_epochs = f"""
WITH {_MINUTE_CTE},
mid AS (
    SELECT ((lo_us + (hi_us - lo_us) // 2) // {MIN_US}) * {MIN_US} AS m_us
    FROM bounds
),
meta(event_type, start_us, end_us, scale, "off") AS (
    SELECT 'click', NULL::BIGINT, m_us, 2.0, 10.0 FROM mid
    UNION ALL SELECT 'click', m_us, NULL::BIGINT, 3.0, -5.0 FROM mid
    UNION ALL SELECT 'view', NULL::BIGINT, NULL::BIGINT, 0.5, 1.0 FROM mid
),
mcount AS (
    SELECT event_type,
           (epoch_us(ts) // {MIN_US}) * {MIN_US} AS t_us,
           count(*)::DOUBLE AS v
    FROM events
    WHERE event_type IN ('click', 'view', 'purchase')
    GROUP BY 1, 2
)
SELECT mi.event_type, mi.t_us,
       round(CASE WHEN mt.event_type IS NOT NULL
                  THEN mi.v * mt.scale + mt."off" END, 4) + 0.0 AS value
FROM mcount mi
LEFT JOIN meta mt
  ON mt.event_type = mi.event_type
 AND mi.t_us >= coalesce(mt.start_us, {-(2**62)})
 AND mi.t_us < coalesce(mt.end_us, {2**62})
"""
    # the get_metadata WHERE clause verbatim: LIKE + open-bound overlap
    HOUR = 3_600_000_000
    metadata_search = f"""
WITH md AS (
    SELECT n_nationkey::BIGINT AS id,
           n_name AS station,
           ['BEU', 'BEH', 'MVH'][(n_nationkey % 3) + 1] AS channel,
           CASE WHEN n_nationkey = 0 THEN NULL
                ELSE n_nationkey * {HOUR} END AS starttime_us,
           CASE WHEN n_nationkey = 24 THEN NULL
                ELSE (n_nationkey + 1) * {HOUR} END AS endtime_us,
           (n_nationkey % 3) != 2 AS data_valid
    FROM nation
)
SELECT id, station, channel, starttime_us, endtime_us
FROM md
WHERE channel LIKE 'BE%'
  AND (endtime_us IS NULL OR endtime_us > {2 * HOUR})
  AND (starttime_us IS NULL OR starttime_us < {23 * HOUR})
  AND data_valid = true
"""
    # CAST(trunc(...) AS BIGINT) = Spark's truncating double->long cast =
    # numpy astype(int) — the reference's _convert_trace_to_int
    edge_codec_roundtrip = f"""
WITH mcount AS (
    SELECT event_type,
           (epoch_us(ts) // {MIN_US}) * {MIN_US} AS t_us,
           count(*) / 64.0 AS v
    FROM events
    WHERE event_type IN ('click', 'view', 'purchase')
    GROUP BY 1, 2
)
SELECT event_type, t_us,
       CAST(trunc(v * 1000.0) AS BIGINT) AS stored_int,
       CAST(trunc(v * 1000.0) AS BIGINT) / 1000.0 AS decoded
FROM mcount
"""
    dedup_exact = """
SELECT doc_id, md5(text) AS text_md5,
       doc_id != min(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
FROM documents
"""
    text_quality = """
SELECT doc_id, n_chars,
       (length(text) - length(replace(text, ' ', '')) + 1)::BIGINT AS n_tokens,
       round(
         (length(text) - (length(text) - length(replace(text, ' ', '')) + 1) + 1)::DOUBLE
         / (length(text) - length(replace(text, ' ', '')) + 1)::DOUBLE, 4
       ) AS avg_token_len
FROM documents
"""
    from usgs_geomag_algorithms_spark.webtext_queries import ORACLES as WO

    from usgs_geomag_algorithms_spark.functions.windows import gaussian_periodic

    w = gaussian_periodic(91, 15.8734)
    w = w / w.sum()
    lits = ", ".join(f"{x:.17g}" for x in w)
    HW = 2_700_000_000
    OUT = HOUR_US
    fir_gaussian = f"""
WITH {_MINUTE_CTE},
expl AS (
    SELECT event_type, t_us, v,
           unnest(generate_series(
               (t_us - {HW} + {OUT} - 1) // {OUT},
               (t_us + {HW}) // {OUT})) AS k
    FROM minute
),
tap AS (
    SELECT event_type, k, v,
           ((t_us - (k * {OUT} - {HW})) // {MIN_US}) AS tap
    FROM expl
),
wgt AS (
    SELECT event_type, k, v, ([{lits}])[tap + 1] AS w
    FROM tap WHERE tap BETWEEN 0 AND 90
),
grp AS (
    SELECT event_type, k,
           sum(CASE WHEN v IS NOT NULL THEN w * v END) AS vsum,
           sum(CASE WHEN v IS NOT NULL THEN w END) AS ws
    FROM wgt GROUP BY 1, 2
)
SELECT event_type, k * {OUT} AS t_us,
       CASE WHEN ws >= 0.9 - 1e-9 THEN round(vsum / ws, 4) END AS value
FROM grp, bounds
WHERE k * {OUT} - {HW} >= lo_us AND k * {OUT} + {HW} <= hi_us
"""
    from usgs_geomag_algorithms_spark.tiers import STEPS as _STEPS

    wb = _STEPS[0].normalized_window
    blits = ", ".join(f"{x:.17g}" for x in wb)
    BHW = 6_100_000  # 100_000 us * (123-1)/2
    BOUT = 1_000_000
    blackman_second = f"""
WITH {_MINUTE_CTE},
m1 AS (
    SELECT event_type, t_us AS m_us, v
    FROM minute, bounds
    WHERE t_us BETWEEN lo_us AND lo_us + {DAY_US} - 59900000
),
tenhz AS (
    SELECT event_type, m_us + s.s * {DS_US} AS t_us,
           v + ((s.s % 7) - 3) * 0.01 AS v
    FROM m1, (SELECT unnest(generate_series(0, 599)) AS s) s
    WHERE ((m_us + s.s * {DS_US}) // {DS_US}) % 37 != 0
),
expl AS (
    SELECT event_type, t_us, v,
           unnest(generate_series(
               (t_us - {BHW} + {BOUT} - 1) // {BOUT},
               (t_us + {BHW}) // {BOUT})) AS k
    FROM tenhz
),
tap AS (
    SELECT event_type, k, v,
           ((t_us - (k * {BOUT} - {BHW})) // {DS_US}) AS tap
    FROM expl
),
wgt AS (
    SELECT event_type, k, v, ([{blits}])[tap + 1] AS w
    FROM tap WHERE tap BETWEEN 0 AND 122
),
grp AS (
    SELECT event_type, k,
           sum(CASE WHEN v IS NOT NULL THEN w * v END) AS vsum,
           sum(CASE WHEN v IS NOT NULL THEN w END) AS ws
    FROM wgt GROUP BY 1, 2
)
SELECT event_type, k * {BOUT} AS t_us,
       CASE WHEN ws >= 0.9 - 1e-9 THEN round(vsum / ws, 4) END AS value
FROM grp, bounds
WHERE k * {BOUT} - {BHW} >= lo_us AND k * {BOUT} + {BHW} <= lo_us + {DAY_US}
"""

    sqdist_golden = _sqdist_golden_sql()

    # gaps-and-islands ground truth for the session-window operator:
    # brk marks a new session when the inter-event gap EXCEEDS the gap
    # duration (Spark session_window merges at diff == gap — inclusive
    # boundary, pinned by test_sessions.py); all outputs are integers so
    # the hash compare is exact
    user_sessions = f"""
WITH e AS (
    SELECT user_id, epoch_us(ts) AS t_us FROM events
),
marks AS (
    SELECT user_id, t_us,
           CASE WHEN t_us - lag(t_us)
                    OVER (PARTITION BY user_id ORDER BY t_us)
                    > {SESSION_GAP_US} THEN 1 ELSE 0 END AS brk
    FROM e
),
islands AS (
    SELECT user_id, t_us,
           sum(brk) OVER (PARTITION BY user_id ORDER BY t_us
                          ROWS UNBOUNDED PRECEDING) AS sess
    FROM marks
)
SELECT user_id,
       min(t_us) AS session_start_us,
       max(t_us) AS session_end_us,
       count(*) AS n_events,
       max(t_us) - min(t_us) AS duration_us,
       CASE WHEN count(*) > 1
            THEN (max(t_us) - min(t_us)) // (count(*) - 1) END AS mean_gap_us
FROM islands GROUP BY user_id, sess
"""

    # DuckDB's quantile_cont interpolates lo + (hi-lo)*frac; Spark's exact
    # percentile computes lo*(ceil(pos)-pos) + hi*(pos-floor(pos)) — equal
    # in R but one ulp apart in fp, enough to flip a 4-dp round. The oracle
    # replicates Spark's formula over a sorted list (probed bitwise in this
    # session; integral pos short-circuits to the element itself).
    def _pctl_expr(p: str) -> str:
        # p MUST be cast to DOUBLE: a bare 0.95 literal is DECIMAL in
        # DuckDB and the whole position arithmetic goes exact-decimal
        # (pos = 2.85, not the double 2.849999...96 Spark computes)
        pos = f"({p}::DOUBLE * (n - 1))"
        return f"""round(CASE
           WHEN floor({pos}) = ceil({pos})
           THEN l[{pos}::BIGINT + 1]
           ELSE l[floor({pos})::BIGINT + 1] * (ceil({pos}) - {pos})
                + l[ceil({pos})::BIGINT + 1] * ({pos} - floor({pos}))
           END, 4)"""

    rollup_hour_pctl = f"""
WITH rate AS (
    SELECT event_type,
           (epoch_us(ts) // {MIN_US}) * {MIN_US} AS t_us,
           count(*)::DOUBLE AS v
    FROM events GROUP BY 1, 2
),
sorted AS (
    SELECT event_type,
           (t_us // {HOUR_US}) * {HOUR_US} AS t_us,
           list(v ORDER BY v) AS l,
           count(*) AS n
    FROM rate GROUP BY 1, 2
)
SELECT event_type, t_us,
       {_pctl_expr('0.5')} AS p50,
       {_pctl_expr('0.95')} AS p95,
       n AS n_values
FROM sorted
"""

    rollup_day_pctl = f"""
WITH rate AS (
    SELECT event_type,
           (epoch_us(ts) // {MIN_US}) * {MIN_US} AS t_us,
           count(*)::DOUBLE AS v
    FROM events GROUP BY 1, 2
),
sorted AS (
    SELECT event_type,
           (t_us // {86_400_000_000}) * {86_400_000_000} AS t_us,
           list(v ORDER BY v) AS l,
           count(*) AS n
    FROM rate GROUP BY 1, 2
)
SELECT event_type, t_us,
       {_pctl_expr('0.5')} AS p50,
       {_pctl_expr('0.95')} AS p95,
       n AS n_values
FROM sorted
"""

    rolling_p95_day = f"""
WITH rate AS (
    SELECT event_type,
           (epoch_us(ts) // {MIN_US}) * {MIN_US} AS t_us,
           count(*)::DOUBLE AS v
    FROM events GROUP BY 1, 2
),
exploded AS (
    SELECT r.event_type,
           (r.t_us // {HOUR_US}) * {HOUR_US} + k.k * {HOUR_US} AS t_us,
           r.v
    FROM rate r CROSS JOIN (SELECT range AS k FROM range(0, 24)) k
),
sorted AS (
    SELECT event_type, t_us, list(v ORDER BY v) AS l, count(*) AS n
    FROM exploded GROUP BY 1, 2
),
present AS (
    SELECT DISTINCT event_type,
           (t_us // {HOUR_US}) * {HOUR_US} AS t_us
    FROM rate
)
SELECT s.event_type, s.t_us,
       {_pctl_expr('0.5')} AS p50,
       {_pctl_expr('0.95')} AS p95,
       n AS n_values
FROM sorted s JOIN present p
  ON s.event_type = p.event_type AND s.t_us = p.t_us
"""

    # exact-integer trailing variance: (Σv² − (Σv)²/n)/(n−1) with BIGINT
    # window sums (order-independent), same expression tree as Spark;
    # stddev()/var_samp() on either engine are order-dependent Welford
    # accumulators and can NOT be oracle-matched
    rate_anomaly = f"""
WITH rate AS (
    SELECT event_type,
           (epoch_us(ts) // {MIN_US}) * {MIN_US} AS t_us,
           count(*) AS v
    FROM events GROUP BY 1, 2
),
trail AS (
    SELECT event_type, t_us, v,
           (sum(v) OVER w)::BIGINT AS s1,
           (sum(v * v) OVER w)::BIGINT AS s2,
           count(v) OVER w AS n
    FROM rate
    WINDOW w AS (PARTITION BY event_type ORDER BY t_us
                 ROWS BETWEEN 60 PRECEDING AND 1 PRECEDING)
),
z_t AS (
    SELECT event_type, t_us, v, n,
           CASE WHEN n >= 30 AND (s2 - s1 * s1 / n) / (n - 1) > 0
                THEN round((v - s1 / n)
                           / sqrt((s2 - s1 * s1 / n) / (n - 1)), 4)
           END AS z
    FROM trail
)
SELECT event_type, t_us, v, n AS n_trail, z,
       CASE WHEN z IS NOT NULL THEN abs(z) >= 3.0 END AS is_anomaly
FROM z_t
"""

    # CUSUM closed form: C_i = P_i - min(P_0..P_i) with P_0 = 0 — two
    # cumulative windows over n0-scaled BIGINT deltas (exact; the only
    # doubles are the final single int64/int64 divisions)
    changepoint_cusum = f"""
WITH rate AS (
    SELECT event_type,
           (epoch_us(ts) // {MIN_US}) * {MIN_US} AS t_us,
           count(*)::BIGINT AS v
    FROM events GROUP BY 1, 2
),
ranked AS (
    SELECT event_type, t_us, v,
           row_number() OVER (PARTITION BY event_type ORDER BY t_us) AS rn
    FROM rate
),
base AS (
    SELECT event_type, sum(v)::BIGINT AS s0, count(*)::BIGINT AS n0
    FROM ranked WHERE rn <= {CUSUM_B} GROUP BY 1
    HAVING count(*) = {CUSUM_B}
),
mon AS (
    SELECT r.event_type, r.t_us, r.v, b.n0,
           (b.n0 * (r.v - {CUSUM_K}) - b.s0)::BIGINT AS d_hi,
           (b.s0 - b.n0 * (r.v + {CUSUM_K}))::BIGINT AS d_lo
    FROM ranked r JOIN base b USING (event_type) WHERE r.rn > {CUSUM_B}
),
pre AS (
    SELECT event_type, t_us, v, n0,
           (sum(d_hi) OVER w)::BIGINT AS p_hi,
           (sum(d_lo) OVER w)::BIGINT AS p_lo
    FROM mon
    WINDOW w AS (PARTITION BY event_type ORDER BY t_us
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
st AS (
    SELECT event_type, t_us, v, n0, p_hi, p_lo,
           least(min(p_hi) OVER w, 0)::BIGINT AS m_hi,
           least(min(p_lo) OVER w, 0)::BIGINT AS m_lo
    FROM pre WINDOW w AS (PARTITION BY event_type ORDER BY t_us
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, t_us, v,
       (p_hi - m_hi)::DOUBLE / n0::DOUBLE AS cusum_hi,
       (p_lo - m_lo)::DOUBLE / n0::DOUBLE AS cusum_lo,
       (p_hi - m_hi > {CUSUM_H} * n0) OR (p_lo - m_lo > {CUSUM_H} * n0)
           AS is_change
FROM st
"""

    # ACF: exact-timestamp pair join + BIGINT sufficient statistics; the
    # final tree num/(sqrt(dx)*sqrt(dy)) mirrors Spark token for token
    # (sqrt is IEEE correctly rounded -> bit-identical)
    _acf_stats = f"""
WITH rate AS (
    SELECT event_type,
           (epoch_us(ts) // {MIN_US}) * {MIN_US} AS t_us,
           count(*)::BIGINT AS v
    FROM events GROUP BY 1, 2
),
head AS (
    SELECT r.event_type, l.lag, r.v AS x,
           r.t_us + l.lag * {MIN_US} AS tk
    FROM rate r CROSS JOIN (
        SELECT unnest({ACF_LAGS})::BIGINT AS lag
    ) l
),
stats AS (
    SELECT h.event_type, h.lag,
           count(*)::BIGINT AS n_pairs,
           sum(h.x)::BIGINT AS sx, sum(t.v)::BIGINT AS sy,
           sum(h.x * t.v)::BIGINT AS sxy,
           sum(h.x * h.x)::BIGINT AS sxx,
           sum(t.v * t.v)::BIGINT AS syy
    FROM head h JOIN rate t
      ON h.event_type = t.event_type AND h.tk = t.t_us
    GROUP BY 1, 2
),
acf AS (
    SELECT event_type, lag, n_pairs,
           CASE WHEN n_pairs >= 2
                 AND n_pairs * sxx - sx * sx > 0
                 AND n_pairs * syy - sy * sy > 0
                THEN (n_pairs * sxy - sx * sy)::DOUBLE
                     / (sqrt((n_pairs * sxx - sx * sx)::DOUBLE)
                        * sqrt((n_pairs * syy - sy * sy)::DOUBLE))
           END AS acf
    FROM stats
)
"""

    acf_minute = _acf_stats + "SELECT event_type, lag, n_pairs, acf FROM acf"

    day_over_day = f"""
WITH rate AS (
    SELECT event_type,
           (epoch_us(ts) // {HOUR_US}) * {HOUR_US} AS t_us,
           count(*)::BIGINT AS v
    FROM events GROUP BY 1, 2
)
SELECT c.event_type, c.t_us, c.v, p.v AS v_prev,
       (c.v - p.v)::BIGINT AS delta,
       CASE WHEN p.v != 0 THEN c.v::DOUBLE / p.v::DOUBLE END AS ratio
FROM rate c LEFT JOIN rate p
  ON p.event_type = c.event_type AND p.t_us + 86400000000 = c.t_us
"""

    session_purchases = f"""
WITH e AS (
    SELECT user_id, epoch_us(ts) AS t_us FROM events
),
marks AS (
    SELECT user_id, t_us,
           CASE WHEN t_us - lag(t_us)
                    OVER (PARTITION BY user_id ORDER BY t_us)
                    > {SESSION_GAP_US} THEN 1 ELSE 0 END AS brk
    FROM e
),
islands AS (
    SELECT user_id, t_us,
           sum(brk) OVER (PARTITION BY user_id ORDER BY t_us
                          ROWS UNBOUNDED PRECEDING) AS sess
    FROM marks
),
s AS (
    SELECT user_id,
           min(t_us) AS session_start_us,
           max(t_us) AS session_end_us,
           count(*) AS session_events
    FROM islands GROUP BY user_id, sess
),
p AS (
    SELECT user_id, epoch_us(ts) AS t_us, event_id
    FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id, p.t_us, p.event_id,
       s.session_start_us, s.session_end_us, s.session_events
FROM p JOIN s
  ON s.user_id = p.user_id
 AND p.t_us >= s.session_start_us AND p.t_us < s.session_end_us + 1
"""

    # low-median order statistics: arr[(n+1)//2] is an INTEGER — no
    # interpolated halves, no percentile-ulp trap; med recomputed inline
    # inside the MAD transform (same expression, exact)
    mad_outliers_hour = f"""
WITH rate AS (
    SELECT event_type,
           (epoch_us(ts) // {MIN_US}) * {MIN_US} AS t_us,
           count(*)::BIGINT AS v
    FROM events GROUP BY 1, 2
),
st AS (
    SELECT event_type, (t_us // {HOUR_US}) * {HOUR_US} AS w,
           list_sort(list(v)) AS arr, count(*)::BIGINT AS n
    FROM rate GROUP BY 1, 2
),
sm AS (
    SELECT event_type, w,
           arr[((n + 1) // 2)::INT]::BIGINT AS med,
           list_sort(list_transform(arr,
               x -> abs(x - arr[((n + 1) // 2)::INT])))
               [((n + 1) // 2)::INT]::BIGINT AS mad
    FROM st
)
SELECT r.event_type, r.t_us, r.v, s.med, s.mad,
       abs(r.v - s.med)::BIGINT AS abs_dev,
       abs(r.v - s.med) > {MAD_K} * s.mad AS is_outlier
FROM rate r JOIN sm s
  ON s.event_type = r.event_type
 AND s.w = (r.t_us // {HOUR_US}) * {HOUR_US}
"""

    basket_pairs = """
WITH si AS (
    SELECT DISTINCT user_id,
           (epoch_us(ts) // 86400000000) * 86400000000 AS day_us,
           event_type AS item
    FROM events
),
pairs AS (
    SELECT a.item AS item_a, b.item AS item_b, count(*)::BIGINT AS c_ab
    FROM si a JOIN si b
      ON a.user_id = b.user_id AND a.day_us = b.day_us
     AND a.item < b.item
    GROUP BY 1, 2
),
marg AS (SELECT item, count(*)::BIGINT AS c FROM si GROUP BY 1),
tot AS (
    SELECT count(*)::BIGINT AS n_baskets
    FROM (SELECT DISTINCT user_id, day_us FROM si)
)
SELECT item_a, item_b, c_ab, ma.c AS c_a, mb.c AS c_b, n_baskets,
       (c_ab::DOUBLE * n_baskets::DOUBLE) / (ma.c::DOUBLE * mb.c::DOUBLE)
           AS lift
FROM pairs JOIN marg ma ON ma.item = pairs.item_a
JOIN marg mb ON mb.item = pairs.item_b CROSS JOIN tot
"""

    dominant_period = (
        _acf_stats
        + """
SELECT event_type, lag AS period, n_pairs, acf
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY event_type ORDER BY acf DESC, lag ASC) AS rk
    FROM acf WHERE acf IS NOT NULL
) WHERE rk = 1
"""
    )

    # cross-correlation: identical sufficient-stats discipline to ACF,
    # two channels instead of one, signed lags
    xcorr_minute = f"""
WITH rate AS (
    SELECT event_type,
           (epoch_us(ts) // {MIN_US}) * {MIN_US} AS t_us,
           count(*)::BIGINT AS v
    FROM events GROUP BY 1, 2
),
x AS (SELECT t_us, v FROM rate WHERE event_type = 'view'),
y AS (SELECT t_us, v FROM rate WHERE event_type = 'purchase'),
head AS (
    SELECT l.lag, x.v AS xv, x.t_us + l.lag * {MIN_US} AS tk
    FROM x CROSS JOIN (SELECT unnest({XCORR_LAGS})::BIGINT AS lag) l
),
stats AS (
    SELECT h.lag,
           count(*)::BIGINT AS n_pairs,
           sum(h.xv)::BIGINT AS sx, sum(t.v)::BIGINT AS sy,
           sum(h.xv * t.v)::BIGINT AS sxy,
           sum(h.xv * h.xv)::BIGINT AS sxx,
           sum(t.v * t.v)::BIGINT AS syy
    FROM head h JOIN y t ON h.tk = t.t_us
    GROUP BY 1
)
SELECT lag, n_pairs,
       CASE WHEN n_pairs >= 2
             AND n_pairs * sxx - sx * sx > 0
             AND n_pairs * syy - sy * sy > 0
            THEN (n_pairs * sxy - sx * sy)::DOUBLE
                 / (sqrt((n_pairs * sxx - sx * sx)::DOUBLE)
                    * sqrt((n_pairs * syy - sy * sy)::DOUBLE))
       END AS xcorr
FROM stats
"""

    lead_lag_minute = f"""
WITH rate AS (
    SELECT event_type,
           (epoch_us(ts) // {MIN_US}) * {MIN_US} AS t_us,
           count(*)::BIGINT AS v
    FROM events GROUP BY 1, 2
),
x AS (SELECT t_us, v FROM rate WHERE event_type = 'view'),
head AS (
    SELECT ty.event_type, l.lag, x.v AS xv,
           x.t_us + l.lag * {MIN_US} AS tk
    FROM x
    CROSS JOIN (SELECT DISTINCT event_type FROM rate) ty
    CROSS JOIN (SELECT unnest({XCORR_LAGS})::BIGINT AS lag) l
),
stats AS (
    SELECT h.event_type, h.lag,
           count(*)::BIGINT AS n_pairs,
           sum(h.xv)::BIGINT AS sx, sum(t.v)::BIGINT AS sy,
           sum(h.xv * t.v)::BIGINT AS sxy,
           sum(h.xv * h.xv)::BIGINT AS sxx,
           sum(t.v * t.v)::BIGINT AS syy
    FROM head h JOIN rate t
      ON h.event_type = t.event_type AND h.tk = t.t_us
    GROUP BY 1, 2
),
xc AS (
    SELECT event_type, lag, n_pairs,
           CASE WHEN n_pairs >= 2
                 AND n_pairs * sxx - sx * sx > 0
                 AND n_pairs * syy - sy * sy > 0
                THEN (n_pairs * sxy - sx * sy)::DOUBLE
                     / (sqrt((n_pairs * sxx - sx * sx)::DOUBLE)
                        * sqrt((n_pairs * syy - sy * sy)::DOUBLE))
           END AS xcorr
    FROM stats
)
SELECT event_type, lag AS best_lag, n_pairs, xcorr
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY event_type
        ORDER BY abs(xcorr) DESC, abs(lag) ASC, lag ASC) AS rk
    FROM xc WHERE xcorr IS NOT NULL
) WHERE rk = 1
"""

    # diurnal DFT bin: the SAME integer weight literals the Spark plan
    # folds (harmonic_weights(24)) embed here, so both engines' weighted
    # sums are exact BIGINTs and the one double tree is shared
    from usgs_geomag_algorithms_spark.operators.seasonality import (
        harmonic_weights as _hw,
    )

    _wc24, _ws24 = _hw(24)
    diurnal_power = f"""
WITH rate AS (
    SELECT event_type,
           (epoch_us(ts) // {HOUR_US}) * {HOUR_US} AS t_us,
           count(*)::BIGINT AS v
    FROM events GROUP BY 1, 2
),
proj AS (
    SELECT event_type, v,
           ({_wc24})[((t_us // {HOUR_US}) % 24)::INT + 1] AS wc,
           ({_ws24})[((t_us // {HOUR_US}) % 24)::INT + 1] AS ws
    FROM rate
),
agg AS (
    SELECT event_type,
           count(*)::BIGINT AS n_slots,
           sum(v)::BIGINT AS sum_v,
           sum(v * wc)::BIGINT AS coef_cos,
           sum(v * ws)::BIGINT AS coef_sin
    FROM proj GROUP BY 1
)
SELECT event_type, n_slots, sum_v, coef_cos, coef_sin,
       2.0 * sqrt(coef_cos::DOUBLE * coef_cos::DOUBLE
                  + coef_sin::DOUBLE * coef_sin::DOUBLE)
           / ((n_slots * 1000000)::DOUBLE) AS amplitude
FROM agg
"""

    purchase_asof_view = """
WITH e AS (
    SELECT event_id, user_id, event_type, value, epoch_us(ts) AS t_us
    FROM events
),
l AS (
    SELECT user_id, t_us, event_id, value FROM e
    WHERE event_type = 'purchase'
),
r0 AS (
    SELECT user_id, t_us, event_id, value FROM e
    WHERE event_type = 'view'
),
r AS (
    SELECT user_id, t_us, event_id, value FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id, t_us ORDER BY event_id DESC
        ) AS rn FROM r0
    ) WHERE rn = 1
)
SELECT l.user_id, l.t_us, l.event_id, l.value,
       r.event_id AS event_id_r, r.value AS value_r, r.t_us AS t_us_r
FROM l ASOF LEFT JOIN r
  ON l.user_id = r.user_id AND l.t_us >= r.t_us
"""

    session_stats_sql = f"""
WITH sessions AS ({user_sessions})
SELECT user_id,
       count(*) AS n_sessions,
       sum(n_events)::BIGINT AS total_events,
       sum(duration_us)::BIGINT AS active_us,
       round(sum(n_events) / count(*), 4) AS events_per_session
FROM sessions GROUP BY user_id
"""

    _RATE_CTE = f"""
rate AS (
    SELECT event_type,
           (epoch_us(ts) // {MIN_US}) * {MIN_US} AS t_us,
           count(*) AS v
    FROM events GROUP BY 1, 2
)"""

    # exact-rational interpolation: numerator/denominator are BIGINTs in
    # SLOT units, so the single int->double division is IEEE
    # correctly-rounded and bit-identical on both engines (no rounding)
    gapfill_minute = f"""
WITH {_RATE_CTE},
spans AS (
    SELECT event_type, min(t_us) AS lo, max(t_us) AS hi FROM rate GROUP BY 1
),
spine AS (
    SELECT event_type, unnest(generate_series(lo, hi, {MIN_US})) AS t_us
    FROM spans
),
dense AS (
    SELECT s.event_type, s.t_us, r.v
    FROM spine s LEFT JOIN rate r USING (event_type, t_us)
),
filled AS (
    SELECT event_type, t_us, v,
           last_value(v IGNORE NULLS) OVER wb AS v_locf,
           last_value(CASE WHEN v IS NOT NULL THEN t_us END IGNORE NULLS)
               OVER wb AS prev_t,
           first_value(v IGNORE NULLS) OVER wf AS next_v,
           first_value(CASE WHEN v IS NOT NULL THEN t_us END IGNORE NULLS)
               OVER wf AS next_t
    FROM dense
    WINDOW wb AS (PARTITION BY event_type ORDER BY t_us
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wf AS (PARTITION BY event_type ORDER BY t_us
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, t_us, v, v_locf,
       (t_us - prev_t) // {MIN_US} AS locf_age,
       CASE WHEN (next_t - prev_t) // {MIN_US} = 0 THEN v::DOUBLE
            ELSE (v_locf * ((next_t - prev_t) // {MIN_US}
                            - (t_us - prev_t) // {MIN_US})
                  + next_v * ((t_us - prev_t) // {MIN_US}))::DOUBLE
                 / ((next_t - prev_t) // {MIN_US})::DOUBLE
       END AS v_interp
FROM filled
"""

    counter_increase_hour = f"""
WITH c AS (
    SELECT event_type, event_id, epoch_us(ts) AS raw_us,
           ((sum(round(value * 100)::BIGINT) OVER (
                PARTITION BY event_type ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) % {COUNTER_MOD}) + {COUNTER_MOD}) % {COUNTER_MOD} AS counter
    FROM events
),
d AS (
    SELECT event_type, raw_us, counter,
           counter - lag(counter) OVER (
               PARTITION BY event_type ORDER BY raw_us, event_id
           ) AS delta
    FROM c
),
contrib AS (
    SELECT event_type, (raw_us // {HOUR_US}) * {HOUR_US} AS t_us,
           CASE WHEN delta IS NULL THEN NULL
                WHEN delta < 0 THEN counter ELSE delta END AS inc,
           CASE WHEN delta IS NULL THEN NULL
                ELSE (delta < 0)::INT END AS reset
    FROM d
)
SELECT event_type, t_us,
       coalesce(sum(inc), 0)::BIGINT AS increase,
       count(inc)::BIGINT AS n_samples,
       coalesce(sum(reset), 0)::BIGINT AS n_resets
FROM contrib GROUP BY 1, 2
"""

    ltob_hour = f"""
WITH {_RATE_CTE},
nb AS (
    SELECT event_type, t_us, v,
           lag(t_us) OVER w AS pt, lag(v) OVER w AS pv,
           lead(t_us) OVER w AS nt, lead(v) OVER w AS nv
    FROM rate
    WINDOW w AS (PARTITION BY event_type ORDER BY t_us)
),
cand AS (
    SELECT event_type, (t_us // {HOUR_US}) * {HOUR_US} AS bucket,
           t_us AS pt_us, v,
           coalesce(abs((pt - nt) * (v - pv) - (pt - t_us) * (nv - pv)),
                    -1)::BIGINT AS tri_area2
    FROM nb
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY event_type, bucket
        ORDER BY tri_area2 DESC, pt_us ASC
    ) AS rn FROM cand
)
SELECT event_type, bucket AS t_us, pt_us, v, tri_area2
FROM ranked WHERE rn = 1
"""

    rollup_hour_hist = f"""
WITH {_RATE_CTE}
SELECT event_type,
       (t_us // {HOUR_US}) * {HOUR_US} AS t_us,
       least(greatest(floor(v::DOUBLE / 2.0::DOUBLE), 0), 7)::INT AS bin,
       count(*)::BIGINT AS n
FROM rate GROUP BY 1, 2, 3
"""

    # day tier = hour tier re-aggregated by addition (mirrors
    # histogram_merge reading q_rollup_hour_hist's relation)
    rollup_day_hist = f"""
WITH {_RATE_CTE},
hour_hist AS (
    SELECT event_type,
           (t_us // {HOUR_US}) * {HOUR_US} AS t_us,
           least(greatest(floor(v::DOUBLE / 2.0::DOUBLE), 0), 7)::INT AS bin,
           count(*)::BIGINT AS n
    FROM rate GROUP BY 1, 2, 3
)
SELECT event_type,
       (t_us // 86400000000) * 86400000000 AS t_us,
       bin, sum(n)::BIGINT AS n
FROM hour_hist GROUP BY 1, 2, 3
"""

    # integer-fraction threshold (19*total+19)//20 == Spark's div tree
    hist_p95_hour = f"""
WITH {_RATE_CTE},
hour_hist AS (
    SELECT event_type,
           (t_us // {HOUR_US}) * {HOUR_US} AS t_us,
           least(greatest(floor(v::DOUBLE / 2.0::DOUBLE), 0), 7)::INT AS bin,
           count(*)::BIGINT AS n
    FROM rate GROUP BY 1, 2, 3
),
cum AS (
    SELECT event_type, t_us, bin, n,
           (sum(n) OVER (PARTITION BY event_type, t_us ORDER BY bin
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           )::BIGINT AS c,
           (sum(n) OVER (PARTITION BY event_type, t_us))::BIGINT AS total
    FROM hour_hist
)
SELECT event_type, t_us,
       min(bin)::INT AS bin,
       min_by(total, bin)::BIGINT AS total,
       (min(bin)::DOUBLE * 2.0::DOUBLE) AS value_lo,
       ((min(bin) + 1)::DOUBLE * 2.0::DOUBLE) AS value_hi
FROM cum WHERE c >= (19 * total + 19) // 20
GROUP BY 1, 2
"""

    ohlc_hour = f"""
WITH {_RATE_CTE}
SELECT event_type,
       (t_us // {HOUR_US}) * {HOUR_US} AS t_us,
       min_by(v, t_us) AS open,
       max(v) AS high,
       min(v) AS low,
       max_by(v, t_us) AS close,
       count(*)::BIGINT AS n_samples
FROM rate GROUP BY 1, 2
"""

    twa_hour = f"""
WITH g0 AS (
    SELECT event_type, epoch_us(ts) AS t_us, event_id,
           round(value * 100)::BIGINT AS v,
           row_number() OVER (
               PARTITION BY event_type, epoch_us(ts)
               ORDER BY event_id DESC
           ) AS rn
    FROM events
),
g AS (SELECT event_type, t_us, v FROM g0 WHERE rn = 1),
seg AS (
    SELECT event_type, t_us AS t0,
           lead(t_us) OVER (PARTITION BY event_type ORDER BY t_us) AS t1,
           v
    FROM g
),
clipped AS (
    SELECT event_type, t0, t1, v,
           unnest(generate_series(
               (t0 // {HOUR_US}) * {HOUR_US},
               ((t1 - 1) // {HOUR_US}) * {HOUR_US},
               {HOUR_US})) AS t_us
    FROM seg WHERE t1 IS NOT NULL
)
SELECT event_type, t_us,
       sum(v * (least(t1, t_us + {HOUR_US}) - greatest(t0, t_us)))::BIGINT
           AS weighted_us,
       sum(least(t1, t_us + {HOUR_US}) - greatest(t0, t_us))::BIGINT
           AS covered_us,
       sum(v * (least(t1, t_us + {HOUR_US}) - greatest(t0, t_us)))::DOUBLE
           / sum(least(t1, t_us + {HOUR_US}) - greatest(t0, t_us))::DOUBLE
           AS twa
FROM clipped GROUP BY 1, 2
"""

    corr_hour = f"""
WITH {_RATE_CTE},
xy AS (
    SELECT c.t_us, c.v AS x, w.v AS y
    FROM (SELECT t_us, v FROM rate WHERE event_type = 'click') c
    JOIN (SELECT t_us, v FROM rate WHERE event_type = 'view') w
      USING (t_us)
),
s AS (
    SELECT (t_us // {HOUR_US}) * {HOUR_US} AS t_us,
           count(*)::BIGINT AS n,
           sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
           sum(x * y)::BIGINT AS sxy,
           sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy
    FROM xy GROUP BY 1
)
SELECT t_us, n,
       CASE WHEN n >= 2 AND (n * sxx - sx * sx) > 0
                 AND (n * syy - sy * sy) > 0
            THEN (n * sxy - sx * sy)::DOUBLE
                 / (sqrt((n * sxx - sx * sx)::DOUBLE)
                    * sqrt((n * syy - sy * sy)::DOUBLE))
       END AS r
FROM s
"""

    return {
        **WO,
        "rollup_fir_gaussian": fir_gaussian,
        "rollup_blackman_second": blackman_second,
        "sqdist_golden": sqdist_golden,
        "affine_transforms": _affine_oracle_sql(),
        "residual_absolutes": _residual_oracle_sql(),
        "rollup_hour_value": hour_value,
        "rollup_day_value": day_value,
        "rollup_hour_count": hour_count,
        "rollup_month_value": month_value,
        "dbdt_minute": dbdt_minute,
        "average_across_types": average_across,
        "gap_detect_minute": gap_detect,
        "q1_pricing_summary": q1,
        "calculated_channel": calculated_channel,
        "instrument_epochs": instrument_epochs,
        "edge_codec_roundtrip": edge_codec_roundtrip,
        "metadata_search": metadata_search,
        "observatory_dim": _observatory_dim_oracle_sql(),
        "dedup_exact": dedup_exact,
        "text_quality": text_quality,
        "coverage_monitor": coverage_monitor,
        "merged_gaps": merged_gaps,
        "top_minutes": top_minutes,
        "user_sessions": user_sessions,
        "session_stats": session_stats_sql,
        "rollup_hour_pctl": rollup_hour_pctl,
        "rollup_day_pctl": rollup_day_pctl,
        "rolling_p95_day": rolling_p95_day,
        "purchase_asof_view": purchase_asof_view,
        "rate_anomaly": rate_anomaly,
        "changepoint_cusum": changepoint_cusum,
        "acf_minute": acf_minute,
        "dominant_period": dominant_period,
        "day_over_day": day_over_day,
        "basket_pairs": basket_pairs,
        "mad_outliers_hour": mad_outliers_hour,
        "session_purchases": session_purchases,
        "gapfill_minute": gapfill_minute,
        "counter_increase_hour": counter_increase_hour,
        "ltob_hour": ltob_hour,
        "rollup_hour_hist": rollup_hour_hist,
        "rollup_day_hist": rollup_day_hist,
        "hist_p95_hour": hist_p95_hour,
        "ohlc_hour": ohlc_hour,
        "twa_hour": twa_hour,
        "corr_hour": corr_hour,
        "xcorr_minute": xcorr_minute,
        "lead_lag_minute": lead_lag_minute,
        "diurnal_power": diurnal_power,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_region_revenue": q5_region_revenue,
        "revisit_intervals": revisit_intervals,
        "revision_dedup": f"""
WITH f AS (
    SELECT user_id, epoch_us(ts) AS t_us, event_id,
           event_type AS digest
    FROM events
),
g AS (
    SELECT *, lag(digest) OVER (PARTITION BY user_id
                                ORDER BY t_us, event_id) AS prev
    FROM f
),
k AS (
    SELECT user_id, t_us, event_id, digest,
           (prev IS NULL OR digest != prev) AS is_changed,
           sum(CASE WHEN prev IS NULL OR digest != prev THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY t_us, event_id
                     ROWS UNBOUNDED PRECEDING)::BIGINT AS revision_no
    FROM g
)
SELECT user_id, t_us, event_id, digest, revision_no
FROM k WHERE is_changed
""",
        "churn_day": f"""
WITH f AS (
    SELECT user_id, epoch_us(ts) AS t_us, event_id,
           event_type AS digest
    FROM events
),
g AS (
    SELECT *, lag(digest) OVER (PARTITION BY user_id
                                ORDER BY t_us, event_id) AS prev
    FROM f
),
a AS (
    SELECT user_id % {CHURN_DOMAINS} AS domain,
           (t_us // {DAY_US}) * {DAY_US} AS t_us,
           count(*)::BIGINT AS n_fetches,
           sum(CASE WHEN prev IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_revisits,
           sum(CASE WHEN prev IS NOT NULL AND digest != prev
                    THEN 1 ELSE 0 END)::BIGINT AS n_changed
    FROM g GROUP BY 1, 2
)
SELECT domain, t_us, n_fetches, n_revisits, n_changed,
       CASE WHEN n_revisits > 0
            THEN n_changed::DOUBLE / n_revisits::DOUBLE END AS change_ratio
FROM a
""",
        "stale_pages": f"""
WITH f AS (
    SELECT user_id, epoch_us(ts) AS t_us, event_id,
           event_type AS digest
    FROM events
),
g AS (
    SELECT *, lag(digest) OVER (PARTITION BY user_id
                                ORDER BY t_us, event_id) AS prev
    FROM f
),
c AS (SELECT *, (prev IS NULL OR digest != prev) AS chg FROM g),
l AS (
    SELECT *, max(CASE WHEN chg THEN t_us END)
                  OVER (PARTITION BY user_id) AS last_change
    FROM c
)
SELECT user_id, count(*)::BIGINT AS n_fetches,
       sum(CASE WHEN chg THEN 1 ELSE 0 END)::BIGINT AS n_changes,
       max(last_change)::BIGINT AS last_change_t_us,
       sum(CASE WHEN t_us > last_change THEN 1 ELSE 0 END)::BIGINT
           AS fetches_since_change
FROM l GROUP BY 1
""",
        "ewma_minute": f"""
WITH m AS (
    SELECT event_type, (epoch_us(ts) // {MIN_US}) * {MIN_US} AS t_us,
           count(*)::BIGINT AS v
    FROM events GROUP BY 1, 2
),
c AS (
    SELECT event_type, t_us + j * {MIN_US} AS t_us,
           v * (1::BIGINT << (15 - j)) AS c,
           (1::BIGINT << (15 - j)) AS w
    FROM m CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j)
)
SELECT event_type, t_us,
       sum(c)::BIGINT AS num, sum(w)::BIGINT AS den,
       count(*)::BIGINT AS n_present,
       sum(c)::BIGINT::DOUBLE / sum(w)::BIGINT::DOUBLE AS ewma
FROM c GROUP BY 1, 2 ORDER BY 1, 2
""",
        # Theil–Sen: LOW median of exact pairwise-slope doubles over the
        # daily grid; LOW median residual intercept — row_number-selected
        # order statistics, identical tie orders on both engines
        "theilsen_drift": f"""
WITH rate AS (
    SELECT event_type, (epoch_us(ts) // {DAY_US}) * {DAY_US} AS t_us,
           count(*)::BIGINT AS v
    FROM events GROUP BY 1, 2
),
b AS (SELECT min(t_us) AS g0 FROM rate),
g AS (
    SELECT event_type,
           (t_us - (SELECT g0 FROM b)) // {DAY_US} AS k, v AS y
    FROM rate
),
np AS (SELECT event_type, count(*)::BIGINT AS n_points FROM g GROUP BY 1),
pairs AS (
    SELECT a.event_type, a.k AS ki, b2.k AS kj,
           (b2.y - a.y)::DOUBLE / (b2.k - a.k)::DOUBLE AS m
    FROM g a JOIN g b2 USING (event_type) WHERE a.k < b2.k
),
ms AS (
    SELECT event_type, m AS slope_per_step FROM (
        SELECT event_type, m,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY m, ki, kj) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM pairs)
    WHERE rn = (n + 1) // 2
),
ic AS (
    SELECT event_type, r AS intercept FROM (
        SELECT g.event_type,
               g.y::DOUBLE - ms.slope_per_step * g.k::DOUBLE AS r,
               row_number() OVER (PARTITION BY g.event_type
                                  ORDER BY g.y::DOUBLE
                                           - ms.slope_per_step
                                             * g.k::DOUBLE,
                                           g.k) AS rn,
               count(*) OVER (PARTITION BY g.event_type) AS n
        FROM g JOIN ms USING (event_type))
    WHERE rn = (n + 1) // 2
)
SELECT event_type, n_points, slope_per_step, intercept
FROM np JOIN ms USING (event_type) JOIN ic USING (event_type)
WHERE n_points >= 2
""",
        # Spearman: doubled average ranks (2*min_rank + ties - 1, exact
        # BIGINT), then the corr_hour sufficient-statistic Pearson tree
        "spearman_hour": f"""
WITH {_RATE_CTE},
xy AS (
    SELECT (t_us // {HOUR_US}) * {HOUR_US} AS t_us, c.v AS x, w.v AS y
    FROM (SELECT t_us, v FROM rate WHERE event_type = 'click') c
    JOIN (SELECT t_us, v FROM rate WHERE event_type = 'view') w
      USING (t_us)
),
r AS (
    SELECT t_us,
           (2 * rank() OVER (PARTITION BY t_us ORDER BY x)
            + count(*) OVER (PARTITION BY t_us, x) - 1)::BIGINT AS rx2,
           (2 * rank() OVER (PARTITION BY t_us ORDER BY y)
            + count(*) OVER (PARTITION BY t_us, y) - 1)::BIGINT AS ry2
    FROM xy
),
s AS (
    SELECT t_us, count(*)::BIGINT AS n,
           sum(rx2)::BIGINT AS sx, sum(ry2)::BIGINT AS sy,
           sum(rx2 * ry2)::BIGINT AS sxy,
           sum(rx2 * rx2)::BIGINT AS sxx, sum(ry2 * ry2)::BIGINT AS syy
    FROM r GROUP BY 1
)
SELECT t_us, n,
       CASE WHEN n >= 2 AND (n * sxx - sx * sx) > 0
                 AND (n * syy - sy * sy) > 0
            THEN (n * sxy - sx * sy)::DOUBLE
                 / (sqrt((n * sxx - sx * sx)::DOUBLE)
                    * sqrt((n * syy - sy * sy)::DOUBLE))
       END AS rho
FROM s
""",
        # trimmed mean: double row_number cut on (v, t) total order,
        # BIGINT sum of survivors, one exact division
        "trimmed_day": f"""
WITH {_RATE_CTE},
rk AS (
    SELECT event_type, (t_us // {DAY_US}) * {DAY_US} AS w_us, v,
           row_number() OVER (
               PARTITION BY event_type, (t_us // {DAY_US}) * {DAY_US}
               ORDER BY v ASC, t_us ASC) AS ra,
           row_number() OVER (
               PARTITION BY event_type, (t_us // {DAY_US}) * {DAY_US}
               ORDER BY v DESC, t_us DESC) AS rd
    FROM rate
)
SELECT event_type, w_us AS t_us, count(*)::BIGINT AS n_kept,
       sum(v)::BIGINT::DOUBLE / count(*)::BIGINT::DOUBLE AS trimmed_mean
FROM rk WHERE ra > 6 AND rd > 6 GROUP BY 1, 2
""",
        # time-in-state: LOCF closed segments via lead() with the same
        # (t_us, event_id) tie-break; all-BIGINT durations, one division
        "state_durations": """
WITH e AS (
    SELECT event_id, user_id, epoch_us(ts) AS t_us, event_type FROM events
),
seg AS (
    SELECT event_type AS state, user_id, t_us,
           lead(t_us) OVER (PARTITION BY user_id
                            ORDER BY t_us, event_id) AS nxt_us
    FROM e
)
SELECT state,
       sum(nxt_us - t_us)::BIGINT AS total_us,
       count(*)::BIGINT AS n_segments,
       count(DISTINCT user_id)::BIGINT AS n_entities,
       max(nxt_us - t_us)::BIGINT AS max_us,
       sum(nxt_us - t_us)::BIGINT::DOUBLE / count(*)::BIGINT::DOUBLE
           AS mean_us
FROM seg WHERE nxt_us IS NOT NULL
GROUP BY 1
""",
        # midnight-exact day split of each closed segment; share is a
        # ratio of two BIGINT sums
        "state_share_day": f"""
WITH e AS (
    SELECT event_id, user_id, epoch_us(ts) AS t_us, event_type FROM events
),
seg AS (
    SELECT event_type AS state, t_us,
           lead(t_us) OVER (PARTITION BY user_id
                            ORDER BY t_us, event_id) AS nxt_us
    FROM e
),
days AS (
    SELECT state, t_us, nxt_us,
           unnest(generate_series(t_us // {DAY_US},
                                  (nxt_us - 1) // {DAY_US})) AS day_idx
    FROM seg WHERE nxt_us IS NOT NULL
),
per AS (
    SELECT day_idx * {DAY_US} AS day_us, state,
           sum(least(nxt_us, (day_idx + 1) * {DAY_US})
               - greatest(t_us, day_idx * {DAY_US}))::BIGINT AS covered_us
    FROM days GROUP BY 1, 2
)
SELECT day_us, state, covered_us,
       covered_us::DOUBLE
           / (sum(covered_us) OVER (PARTITION BY day_us))::BIGINT::DOUBLE
           AS share
FROM per
""",
        "forecast_error_day": f"""
WITH h AS (
    SELECT event_type, (epoch_us(ts) // {HOUR_US}) * {HOUR_US} AS t_us,
           count(*)::BIGINT AS v
    FROM events GROUP BY 1, 2
),
sp AS (
    SELECT a.event_type, (a.t_us // {DAY_US}) * {DAY_US} AS t_us,
           a.v - b.v AS err
    FROM h a JOIN h b
      ON a.event_type = b.event_type AND b.t_us = a.t_us - {DAY_US}
),
sa AS (
    SELECT event_type, t_us, count(*)::BIGINT AS n_paired,
           sum(abs(err))::BIGINT AS sum_abs_err,
           sum(err)::BIGINT AS sum_err
    FROM sp GROUP BY 1, 2
),
np AS (
    SELECT a.event_type, (a.t_us // {DAY_US}) * {DAY_US} AS t_us,
           a.v - b.v AS err
    FROM h a JOIN h b
      ON a.event_type = b.event_type AND b.t_us = a.t_us - {HOUR_US}
),
na AS (
    SELECT event_type, t_us, count(*)::BIGINT AS n_paired_n1,
           sum(abs(err))::BIGINT AS sum_abs_err_n1,
           sum(err)::BIGINT AS sum_err_n1
    FROM np GROUP BY 1, 2
)
SELECT s.event_type, s.t_us, s.n_paired, s.sum_abs_err, s.sum_err,
       s.sum_abs_err::DOUBLE / s.n_paired::DOUBLE AS mae,
       n.n_paired_n1, n.sum_abs_err_n1, n.sum_err_n1,
       n.sum_abs_err_n1::DOUBLE / n.n_paired_n1::DOUBLE AS mae_n1,
       CASE WHEN n.sum_abs_err_n1 > 0 THEN
           (s.sum_abs_err::DOUBLE / s.n_paired::DOUBLE)
           / (n.sum_abs_err_n1::DOUBLE / n.n_paired_n1::DOUBLE)
       END AS mase
FROM sa s JOIN na n USING (event_type, t_us)
""",
        "event_transitions": """
WITH e AS (
    SELECT user_id, epoch_us(ts) AS t_us, event_id, event_type
    FROM events
),
g AS (
    SELECT event_type AS state,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY t_us, event_id) AS next_state
    FROM e
),
t AS (
    SELECT state, next_state, count(*)::BIGINT AS n
    FROM g WHERE next_state IS NOT NULL GROUP BY 1, 2
)
SELECT state, next_state, n,
       n::DOUBLE / (sum(n) OVER (PARTITION BY state))::DOUBLE AS p
FROM t
""",
        "rollup_levels_report": """
WITH e AS (
    SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(round(value * 100) AS BIGINT) AS v
    FROM events
)
SELECT event_type, day, count(*) AS n, sum(v) AS cents,
       GROUPING(event_type, day) AS lvl
FROM e GROUP BY ROLLUP(event_type, day)
""",
        "pivot_day_report": """
WITH e AS (
    SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(round(value * 100) AS BIGINT) AS v
    FROM events
)
SELECT day,
       sum(CASE WHEN event_type = 'click' THEN v END) AS click,
       sum(CASE WHEN event_type = 'error' THEN v END) AS error,
       sum(CASE WHEN event_type = 'purchase' THEN v END) AS purchase,
       sum(CASE WHEN event_type = 'signup' THEN v END) AS signup,
       sum(CASE WHEN event_type = 'view' THEN v END) AS view
FROM e GROUP BY day
""",
        "conversion_latency": f"""
WITH e AS (
    SELECT user_id, epoch_us(ts) AS t_us, event_type FROM events
),
firsts AS (
    SELECT user_id, min(t_us) AS t0 FROM e
    WHERE event_type = 'signup' GROUP BY 1
),
conv AS (
    SELECT f.user_id, f.t0,
           min(CASE WHEN p.t_us >= f.t0 THEN p.t_us END) AS tconv
    FROM firsts f
    LEFT JOIN (SELECT user_id, t_us FROM e WHERE event_type = 'purchase') p
      USING (user_id)
    GROUP BY 1, 2
),
cohort AS (
    SELECT user_id, (t0 // {DAY_US}) * {DAY_US} AS cohort_day,
           tconv - t0 AS lat
    FROM conv
),
ranked AS (
    SELECT cohort_day, lat,
           row_number() OVER (PARTITION BY cohort_day
                              ORDER BY lat, user_id) AS rn,
           count(*) OVER (PARTITION BY cohort_day) AS nc
    FROM cohort WHERE lat IS NOT NULL
),
med AS (
    SELECT cohort_day, lat AS med_latency_us
    FROM ranked WHERE rn = (nc + 1) // 2
),
agg AS (
    SELECT cohort_day, count(*)::BIGINT AS n_triggered,
           count(lat)::BIGINT AS n_converted,
           sum(lat)::BIGINT AS sum_latency_us
    FROM cohort GROUP BY 1
)
SELECT a.cohort_day, a.n_triggered, a.n_converted, m.med_latency_us,
       CASE WHEN a.n_converted > 0
            THEN a.sum_latency_us::DOUBLE / a.n_converted::DOUBLE
       END AS mean_latency_us
FROM agg a LEFT JOIN med m USING (cohort_day)
""",
        "trend_minute": trend_minute,
        "cohort_retention": cohort_retention,
        "crawl_planner": crawl_planner,
        "active_users_hour": f"""
SELECT (epoch_us(ts) // {HOUR_US}) * {HOUR_US} AS t_us,
       count(DISTINCT user_id) AS n_users,
       count(*) AS n_events
FROM events GROUP BY 1
""",
        # hll_users_day / rolling_users_day_sketch are rows-only by
        # design: DataSketches HLL estimates are not reproducible in
        # DuckDB; distinct_users_day / rolling_users_day are their exact
        # twins of the same plan shape
        "distinct_users_day": f"""
SELECT (epoch_us(ts) // {DAY_US}) * {DAY_US} AS d_us,
       count(DISTINCT user_id) AS n_users,
       count(*) AS n_events
FROM events GROUP BY 1
""",
        "rolling_users_day": f"""
WITH hu AS (
    SELECT (epoch_us(ts) // {HOUR_US}) * {HOUR_US} AS h_us,
           user_id AS k
    FROM events
),
pairs AS (SELECT DISTINCT h_us, k FROM hu),
counts AS (SELECT h_us, count(*) AS n FROM hu GROUP BY 1),
expl AS (
    SELECT k, unnest(generate_series(
        h_us, h_us + {(ROLLING_HOURS - 1) * HOUR_US}, {HOUR_US})) AS t_us
    FROM pairs
),
users AS (SELECT t_us, count(DISTINCT k) AS n_users FROM expl GROUP BY 1),
evx AS (
    SELECT unnest(generate_series(
        h_us, h_us + {(ROLLING_HOURS - 1) * HOUR_US}, {HOUR_US})) AS t_us, n
    FROM counts
),
ev AS (SELECT t_us, sum(n)::BIGINT AS n_events FROM evx GROUP BY 1)
SELECT u.t_us, u.n_users::BIGINT AS n_users, e.n_events
FROM users u
JOIN ev e USING (t_us)
JOIN (SELECT h_us AS t_us FROM counts) p USING (t_us)
""",
    }
