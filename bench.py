"""Benchmark harness (driver contract).

Runs the headline pipeline — pages → signal extraction → second→minute→
hour→day rollup cascade — plus the per-operator queries from
``__spark_entry__`` at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``, and prints ONE JSON
line with per-query seconds and cascade throughput (rolled-up points/sec —
the BASELINE.json target metric).

Setup (pages parquet generation) is cached in /tmp and untimed: in
production the pages table already exists; the engine's work starts at the
scan.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from usgs_geomag_algorithms_spark.session import get_spark  # noqa: E402
from usgs_geomag_algorithms_spark.operators.cascade import run_tiers  # noqa: E402
from usgs_geomag_algorithms_spark.sources.pages import BASE_EPOCH, generate_pages  # noqa: E402
from usgs_geomag_algorithms_spark.sources.signals import page_signals  # noqa: E402
from usgs_geomag_algorithms_spark.tiers import US  # noqa: E402

BENCH_QUERIES = [
    "rollup_hour_value",
    "rollup_hour_count",
    "rollup_fir_gaussian",
    "rollup_blackman_second",
    "dbdt_minute",
    "average_across_types",
    "gap_detect_minute",
    "q1_pricing_summary",
    "calculated_channel",
    "instrument_epochs",
    "edge_codec_roundtrip",
    "metadata_search",
    "observatory_dim",
    "purchase_asof_view",
    "rollup_levels_report",
    "pivot_day_report",
    "dedup_exact",
    "minhash_signature",
    "simhash",
    "knn_cosine",
    "knn_cosine_int8",
    "knn_int8_rerank",
    "knn_ivf_sq8",
    "knn_pq",
    "knn_ivf_pq",
    "kmeans_cells",
    "knn_ivf_trained",
    "knn_ivf",
    "knn_ivf_bcast",
    "embedding_near_dups_bucketed",
    "rollup_month_value",
    "rollup_hour_pctl",
    "rollup_day_pctl_sketch",
    "rolling_p95_day_sketch",
    "rate_anomaly",
    "mad_outliers_hour",
    "active_users_hour",
    "hll_users_day",
    "distinct_users_day",
    "rolling_users_day",
    "rolling_users_day_sketch",
    "near_dup_verified",
    "lexical_cosine_topk",
    "incremental_near_dups",
    "substring_dup_fraction",
    "chunk_dedup",
    "bpe_merges",
    "bpe_vocab",
    "bpe_tokens",
    "dedup_clusters",
    "leakage_safe_split",
    "domain_cap",
    "upsample_mixture",
    "bm25_topk",
    "hybrid_rrf",
    "tfidf_keywords",
    "curate_corpus",
    "curate_full",
    "pack_sequences",
    "sequence_slices",
    "top_minutes",
    "user_sessions",
    "session_stats",
    "session_purchases",
    "text_quality",
    "canonical_dedup",
    "repetition_signals",
    "contamination",
    "source_overlap",
    "source_overlap_sketch",
    "url_dedup",
    "stratified_sample",
    "dedup_weights",
    "novelty_share",
    "containment_pairs",
    "pii_scrub",
    "corpus_word_stats",
    "lm_bigram_bits",
    "semantic_dedup",
    "html_extract",
    "media_pixel_stats",
    "image_dhash",
    "audio_stats",
    "audio_stats_g711",
    "quality_classifier",
    "heavy_hitters_cms",
    "link_rank",
    "funnel_steps",
    "profile_documents",
    "changepoint_cusum",
    "acf_minute",
    "day_over_day",
    "basket_pairs",
    "collocations",
    "readability",
    "gapfill_minute",
    "counter_increase_hour",
    "ltob_hour",
    "rollup_hour_hist",
    "rollup_day_hist",
    "hist_p95_hour",
    "ohlc_hour",
    "twa_hour",
    "corr_hour",
    "xcorr_minute",
    "lead_lag_minute",
    "diurnal_power",
    "shard_assignment",
    "dsir_weights",
    "q3_shipping_priority",
    "q5_region_revenue",
    "revisit_intervals",
    "trend_minute",
    "theilsen_drift",
    "spearman_hour",
    "trimmed_day",
    "state_durations",
    "state_share_day",
    "cohort_retention",
    "crawl_planner",
    "revision_dedup",
    "churn_day",
    "stale_pages",
    "forecast_error_day",
    "ewma_minute",
    "bloom_contamination",
    "fuzzy_title_pairs",
    "link_triangles",
    "event_transitions",
    "conversion_latency",
]


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def _pages_path(sf: float, n_urls: int, hours: float, n_hot: int | None) -> str:
    hot = "" if n_hot is None else f"_hot{n_hot}"
    return f"/tmp/spark_graft_bench/pages_v3_sf{sf}_u{n_urls}_h{hours}{hot}"


def prepare_pages(spark, sf: float):
    n_urls = int(os.environ.get("SPARK_GRAFT_BENCH_URLS", max(16, int(2560 * sf))))
    hours = float(os.environ.get("SPARK_GRAFT_BENCH_HOURS", 26.0))
    # optional extreme-skew knob (scaling evidence): hottest n urls crawl
    # every second; n_hot=1 with few urls makes ONE series dominate
    n_hot = os.environ.get("SPARK_GRAFT_BENCH_HOT")
    n_hot = int(n_hot) if n_hot else None
    path = _pages_path(sf, n_urls, hours, n_hot)
    if not os.path.exists(path + "/_SUCCESS"):
        # url x time-bucket clustered layout (the Iceberg
        # bucket(url) x days(warc_ts) spec — the north rule's salted
        # repartitioning): one url's rows stay contiguous and
        # (url, warc_ts)-sorted WITHIN each day slice, so map-side
        # partial-agg hash maps stay small (scattering a url round-robin
        # measured 10x slower), while a hot-domain series splits across
        # its day files instead of concentrating in one oversized file
        # whose scan parallelism is capped at maxPartitionBytes splits
        # (measured: the 16-url extreme-skew table at 8 cores lost ~40%
        # throughput to the hot file's straggler tail under url-only
        # clustering).
        from pyspark.sql import functions as F

        n_files = max(64, (os.cpu_count() or 32) * 4)
        (
            generate_pages(spark, n_urls=n_urls, hours=hours, gap_pct=4.0, n_hot=n_hot)
            .repartition(n_files, "url", F.to_date(F.col("warc_ts")))
            .sortWithinPartitions("url", "warc_ts")
            .write.mode("overwrite")
            .parquet(path)
        )
    return path, hours


def bench_cascade(spark, sf: float) -> dict:
    # drop any persisted frames from a previous run in this JVM — Spark's
    # CacheManager matches canonicalized plans, so a repeat run would
    # silently reuse the previous run's materialized minute tier
    spark.catalog.clearCache()
    path, hours = prepare_pages(spark, sf)
    pages = spark.read.parquet(path)
    # claim the fir-widened scan range (reference pad semantics) so the
    # first day window [00:00, 23:59] is eligible
    t0_us = BASE_EPOCH * US - 45 * US
    t1_us = BASE_EPOCH * US + int(hours * 3600 - 1) * US

    start = time.perf_counter()
    sig = page_signals(pages, channels=("text_len", "lang_en"))
    tiersd = run_tiers(sig, 1.0, t0_us, t1_us)
    # noop sink: evaluates every output column, where a .count() lets
    # Spark prune the value columns out of the plan
    for df in tiersd.values():
        df.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - start
    rolled = {name: df.count() for name, df in tiersd.items()}  # untimed
    n_input = pages.count() * 2  # 2 channels
    return {
        "input_points": n_input,
        "rolled_points": rolled,
        "wall_sec": round(wall, 3),
        "points_per_sec": round(n_input / wall, 1),
    }


def throttle_gate(max_attempts: int, rest_s: float, thresh: float, dur: float) -> dict:
    """Self-evidencing host-state gate (VERDICT r4 next-round #1): the
    sandbox host throttles SUSTAINED multi-core CPU (NOTES.md lesson 10),
    which can inflate suite walls 2-4x with no code change.  Sample the
    sustained-capacity probe; if the host is throttled, rest and retry a
    bounded number of times, then proceed anyway — but every sample lands
    in the emitted artifact, so a slow suite JSON carries its own
    throttle proof (or lack of one) instead of needing out-of-band
    reruns."""
    from tools.throttle_probe import probe

    attempts = []
    for i in range(max_attempts):
        r = probe(dur)
        attempts.append(r)
        if r["sustained_ratio"] >= thresh:
            break
        if i + 1 < max_attempts:
            time.sleep(rest_s)
    return {
        "attempts": attempts,
        "thresh": thresh,
        "host_clean": attempts[-1]["sustained_ratio"] >= thresh,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = _sf_from_dir(sf_dir)

    # host-state gate BEFORE the JVM starts (probe wants a quiet machine);
    # disable with SPARK_GRAFT_PROBE_SEC=0
    probe_sec = float(os.environ.get("SPARK_GRAFT_PROBE_SEC", "5"))
    throttle: dict | None = None
    if probe_sec > 0 and "--cascade-only" not in sys.argv:
        throttle = throttle_gate(
            max_attempts=int(os.environ.get("SPARK_GRAFT_PROBE_RETRIES", "2")) + 1,
            rest_s=float(os.environ.get("SPARK_GRAFT_PROBE_REST", "75")),
            thresh=float(os.environ.get("SPARK_GRAFT_PROBE_THRESH", "0.85")),
            dur=probe_sec,
        )

    spark = get_spark(app_name="bench", cores=cpus, shuffle_partitions=cpus)

    if "--cascade-only" in sys.argv:
        # scaling-evidence mode: run the cascade twice (cold + warm) and
        # report the warm run — isolates engine throughput from JVM startup
        spark.range(1000).selectExpr("sum(id)").collect()
        cold = bench_cascade(spark, sf)
        warm = bench_cascade(spark, sf)
        print(json.dumps({"cores": cpus, "sf": sf, "cold": cold, "warm": warm}))
        return

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    missing = [n for n in BENCH_QUERIES if n not in qs]
    if missing:
        raise SystemExit(f"BENCH_QUERIES not in queries(): {missing}")
    # warmup: JVM + parquet footer caches
    spark.range(1000).selectExpr("sum(id)").collect()

    timings: dict[str, float] = {}
    total = 0.0
    for name in BENCH_QUERIES:
        t = time.perf_counter()
        # noop sink: evaluates EVERY output column. A .count() action lets
        # Catalyst prune all deterministic column work (verified: dedup's
        # md5 window and text_quality's string math vanish from the plan),
        # which times a bare row-count instead of the query.
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t
        timings[name] = round(dt, 3)
        total += dt
        spark.catalog.clearCache()  # release per-query persisted frames

    cascade = bench_cascade(spark, sf)
    timings["cascade_pages_to_day"] = cascade["wall_sec"]
    total += cascade["wall_sec"]

    out = {
        "metric": "headline_suite_seconds",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cores": cpus,
        "cascade": cascade,
    }
    if throttle is not None:
        # post-suite sample: a clean pre-probe + dirty post-probe means
        # the throttle kicked in DURING the run and the walls are suspect
        from tools.throttle_probe import probe

        post = probe(probe_sec)
        throttle["post"] = post
        throttle["host_clean"] = bool(
            throttle["host_clean"]
            and post["sustained_ratio"] >= throttle["thresh"]
        )
        out["throttle"] = throttle
    print(json.dumps(out))


if __name__ == "__main__":
    main()
