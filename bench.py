"""Headline benchmark: one representative query per operator family.

Runs the ``HEADLINE`` suite at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints exactly
ONE compact JSON line:

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...,
     "calibration_sec": ..., "calibration_stages_sec": ...,
     "streaming": {"rocksdb": {...}}}

The line is consumed from a bounded 2000-char stdout tail, so
``queries`` on it is the frozen ``WIRE`` subset (+ the tpch suite
total), never the full suite; ``tests/test_bench_wire.py`` pins the
worst-case line under 1900 bytes. Full per-entry times, sample spreads,
calibration samples and per-drain streaming seconds are written to
``BENCH_SELF.json`` (override with $SPARK_GRAFT_BENCH_SELF).

Each query is forced end-to-end with a noop sink write (every output row
materialized on the executors, nothing collected to the driver), so the
number measures the plan, not driver serialization. After one warm-up
run per query, three whole-suite passes are timed and each entry records
its MINIMUM across passes: a stall of the shared host lands on different
queries in each pass, so the cross-pass minimum stays a plan cost.

Two fixed divisor queries measure machine state: ``calibration_sec``
(one scan + a tiny hash agg: scan/compute speed) and
``calibration_stages_sec`` (a 3-exchange pipeline: per-stage scheduling
latency). Each is the minimum over interleaved samples and is published
with its own sample spread, the error bar on raw times.

Takes no arguments.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kafka_stream_faust_deprecated_spark import get_spark  # noqa: E402
from kafka_stream_faust_deprecated_spark.io import load_table  # noqa: E402
from kafka_stream_faust_deprecated_spark.registry import (  # noqa: E402
    all_queries,
    get_query,
)

#: One per operator family (SURVEY.md §2b): scan+window SMA, broadcast
#: star join, hash agg, per-group top-k, window frames, streaming-twin
#: sliding window, exact dedup, MinHash-LSH near-dup, brute-force knn,
#: multi-table LSH ann, TF-IDF, quality scoring, k-means step,
#: connected components, TPC-H join/agg, skew-salted join, SCD2 windows,
#: the end-to-end curation pipeline, sharded sequence packing, and the
#: int8 quantization audit.
HEADLINE = (
    "flagship_sma_5row",
    "join_broadcast_dims_revenue",
    "agg_pricing_summary",
    "topk_per_group",
    "window_frames",
    "sliding_window_events",
    "dedup_exact_documents",
    "neardup_minhash_lsh",
    "neardup_simhash",
    "knn_cosine_bruteforce",
    "ann_cosine_lsh",
    "ann_cosine_ivf",
    "tfidf_top_terms",
    "doc_quality_score",
    "kmeans_lloyd_step",
    "dedup_connected_components",
    "tpch_q5_local_supplier_volume",
    "join_salted_skew",
    "scd2_customer_history",
    "pipeline_curate",
    "doc_pack_token_budget",
    "embedding_quantize_int8",
    "doc_chunk_overlap",
    "dsir_importance_weights",
    "semantic_dedup_semdedup",
    "kmeans_train_3iter",
    "source_shingle_overlap",
    "pipeline_prepare_training",
    "event_transition_matrix",
    "corpus_datacard",
    "dup_graph_pagerank",
    "doc_boilerplate_ngrams",
    "dedup_incremental_ingest",
    "ann_cosine_pq",
    "merge_upsert_snapshot",
    "sessionize_capped",
    "hot_key_profile",
    "equi_depth_histogram",
    "bm25_retrieval_topk",
    "train_val_test_split",
    "global_shuffle_shards",
    "ann_cosine_ivfpq",
    "doc_perplexity_bigram",
    "neardup_shingle_containment",
    "neardup_containment_sketch",
    "dedup_repeated_spans",
    "pmi_token_cooccurrence",
    "token_zipf_slope",
    "embedding_norm_outliers",
    "source_unigram_divergence",
    "sample_weighted_aes",
    "heavy_hitters_exact",
    "lang_confusion_matrix",
    "join_bloom_prefilter",
    "zorder_layout_quality",
    "incremental_agg_maintenance",
    "hard_negative_mining",
    "heavy_hitters_cms_estimate",
    "interval_coverage_islands",
    "embedding_pca_power_iteration",
    "vocab_oov_coverage",
    "entity_resolution_blocked",
    "label_propagation_communities",
    "dup_graph_triangle_count",
    "domain_cap_sampling",
    "winsorized_quality_zscore",
    "timeseries_gap_fill",
    "groupwise_linear_trend",
    "categorical_mutual_information",
    "basket_copurchase_rules",
    "skyline_pareto_frontier",
    "robust_mad_outliers",
    "cusum_changepoint",
    "seasonal_decompose_events",
    "attribution_linear_touch",
    "nearest_event_join",
    "bpe_merge_pairs",
    "session_path_mining",
    "ewma_smoothing_capped",
    "conversion_latency_percentiles",
    "dup_graph_link_prediction",
    "order_reorder_intervals",
    "weighted_median_price",
    "source_quantile_normalization",
    "gini_concentration_index",
    "ohlc_bars_daily",
    "vwap_daily",
    "bollinger_bands",
    "rsi_cutler",
    "max_drawdown_daily",
    "symbol_return_correlation",
    "fk_integrity_audit",
    "pk_uniqueness_audit",
    "beta_capm_daily",
    "intraday_volume_curve",
    "turnover_autocorr",
    "mixture_temperature_plan",
    "benford_digit_audit",
    "psi_value_drift",
    "twap_daily",
    "seasonal_residual_anomalies",
    "chi_square_independence",
    "welch_t_test_values",
    "acf_daily_multilag",
    "ks_value_drift",
    "dup_graph_kcore",
    "dup_graph_reachability",
    "anova_f_oneway",
    "mann_whitney_u",
    "distinct_hll_rollup",
    "lateral_topk_per_nation",
)

#: The frozen wire subset: one stable representative per operator
#: family. The printed line carries only these entries (+ suite totals,
#: both calibrations and streaming) so it fits the 2000-char stdout
#: tail it is read from; tests/test_bench_wire.py pins the worst-case
#: line under 1900 bytes. HEADLINE can grow without touching the wire.
WIRE = (
    "flagship_sma_5row",
    "join_broadcast_dims_revenue",
    "agg_pricing_summary",
    "topk_per_group",
    "window_frames",
    "sliding_window_events",
    "dedup_exact_documents",
    "neardup_minhash_lsh",
    "neardup_simhash",
    "knn_cosine_bruteforce",
    "ann_cosine_lsh",
    "ann_cosine_ivf",
    "tfidf_top_terms",
    "doc_quality_score",
    "kmeans_lloyd_step",
    "dedup_connected_components",
    "tpch_q5_local_supplier_volume",
    "join_salted_skew",
    "scd2_customer_history",
    "pipeline_curate",
    "doc_pack_token_budget",
    "embedding_quantize_int8",
    "doc_chunk_overlap",
    "dsir_importance_weights",
    "semantic_dedup_semdedup",
    "kmeans_train_3iter",
    "source_shingle_overlap",
    "pipeline_prepare_training",
    "event_transition_matrix",
    "corpus_datacard",
    "dup_graph_pagerank",
    "dedup_incremental_ingest",
    "ann_cosine_pq",
    "ann_cosine_ivfpq",
    "merge_upsert_snapshot",
    "bm25_retrieval_topk",
    "dup_graph_kcore",
    "distinct_hll_rollup",
)

#: The calibration divisor: ONE scan + a 6-group hash agg whose plan
#: does not change. Its absolute time tracks machine load / JVM health,
#: not engine changes.
CALIBRATION_QUERY = "agg_pricing_summary"


def _stage_calibration(spark, sf_dir: str) -> float:
    """Second divisor: a FIXED 3-exchange pipeline (two chained
    aggregations + an ordered head) over lineitem. The primary
    calibration query is scan/compute-bound, so on an idle machine it
    speeds up more than multi-stage queries whose wall clock is
    dominated by per-stage scheduling latency, and ratios against it
    make shuffle-heavy entries look like regressions when only the
    machine state changed. Ratios of multi-stage entries
    should be read against THIS divisor; the plan below is frozen — do
    not edit, or comparisons with earlier records break."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    df = (
        li.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("suppliers"))
        .orderBy("n")
    )
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _run_once(name: str, spark, sf_dir: str) -> float:
    fn = get_query(name).fn
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


#: Streaming throughput fixture size: symbols x seconds of tick data.
STREAM_SYMBOLS = 200
STREAM_SECONDS = 300

#: Measured streaming drains; the reported figure is the minimum, with
#: max/min as ``sec_spread``.
STREAM_REPS = 3

#: (symbols, seconds) -> (src_dir, tick_count). The NDJSON fixture is
#: a pure function of its size, and the min-of-N drain treatment runs
#: 4 drains per bench (1 warm + 3 measured) — serializing the same
#: 60k-line file per drain would add untimed minutes for nothing.
#: Dirs are removed at process exit.
_STREAM_FIXTURES: dict = {}


def _stream_fixture(symbols: int, seconds: int) -> tuple:
    """Build (once per size) the tick NDJSON fixture; returns
    (src_dir, n_ticks)."""
    import atexit
    import json as _json
    import shutil
    import tempfile
    from datetime import datetime, timedelta, timezone

    key = (symbols, seconds)
    if key in _STREAM_FIXTURES:
        return _STREAM_FIXTURES[key]
    src = tempfile.mkdtemp(prefix=f"bench_ticks_{symbols}x{seconds}_")
    atexit.register(shutil.rmtree, src, ignore_errors=True)
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    n = 0
    with open(os.path.join(src, "ticks.ndjson"), "w") as fh:
        for i in range(seconds):
            ts = (t0 + timedelta(seconds=i)).isoformat()
            te = (t0 + timedelta(seconds=i + 1)).isoformat()
            for s in range(symbols):
                fh.write(
                    _json.dumps(
                        {
                            "symbol": f"S{s:04d}",
                            "type": "stock",
                            "start": ts,
                            "end": te,
                            "current_time": ts,
                            "last_data_time": ts,
                            "real_data_count": 1,
                            "filled_data_count": 0,
                            "real_or_filled": "real",
                            "vwap_price_per_sec": 100.0 + (i * 7 + s) % 50,
                            "size_per_sec": 1 + (i + s) % 9,
                            "volume_till_now": 1000.0 + i,
                            "yesterday_price": 100.0,
                            "price_change_percentage": 0.5,
                        }
                    )
                    + "\n"
                )
                n += 1
    _STREAM_FIXTURES[key] = (src, n)
    return src, n


def _streaming_throughput(
    spark, symbols: int = STREAM_SYMBOLS, seconds: int = STREAM_SECONDS
) -> dict:
    """Drain a {STREAM_SYMBOLS}x{STREAM_SECONDS}-tick batch through the
    REAL streaming SMA pipeline (file twin of the Kafka path: JSON
    decode -> watermark -> 5s/1s hopping windows -> exactly-5 gate ->
    emit) under one availableNow trigger, and report ticks/sec.

    The reference's implied contract (BASELINE.md) is N ticks/sec
    sustained with each 1 s evaluation tick finishing inside the second
    — i.e. throughput >= the number of tracked symbols. The number
    reported here is the single-node ceiling of the same pipeline
    including stream startup, so engine-vs-reference reads as
    ticks_per_sec vs N.

    The drain runs on the session's one state store, RocksDB
    (``session.STATE_STORE_CONF``)."""
    import shutil
    import tempfile

    from kafka_stream_faust_deprecated_spark.streaming.sma import (
        build_file_sma_query,
    )

    src, n = _stream_fixture(symbols, seconds)
    root = tempfile.mkdtemp(prefix="bench_stream_")
    qname = "bench_sma"
    try:
        t_start = time.perf_counter()
        q = build_file_sma_query(
            spark, src, os.path.join(root, "ckpt"), query_name=qname
        )
        q.awaitTermination()
        wall = time.perf_counter() - t_start
        out_rows = spark.sql(f"SELECT count(*) FROM {qname}").collect()[0][0]
        return {
            "ticks_in": n,
            "rows_out": out_rows,
            "sec": round(wall, 3),
            "ticks_per_sec": round(n / wall),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    spark = get_spark(app_name="ksfd-bench")

    # JVM / codegen / parquet-footer warmup so q1 doesn't pay startup.
    load_table(spark, sf_dir, "lineitem").count()

    # Stage-calibration pre-suite sample (post-suite pair added below;
    # the divisor is min over ALL samples — see the calibration block).
    _stage_calibration(spark, sf_dir)  # warm
    stage_samples = [_stage_calibration(spark, sf_dir)]

    # Primary-calibration pre-suite pair (the suite passes + post-suite
    # pair join these below).
    _run_once(CALIBRATION_QUERY, spark, sf_dir)  # warm
    calib_pre_samples = [_run_once(CALIBRATION_QUERY, spark, sf_dir) for _ in range(2)]

    # Interleaved measurement passes: warm everything, then three full
    # passes over the suite, per-query minimum ACROSS passes. The shared
    # host can starve this process for 30+ s — long enough to cover
    # back-to-back samples of one query; with whole-suite interleaving a
    # window that long lands on DIFFERENT queries in each pass, so the
    # cross-pass minimum stays a plan-cost measurement.
    for name in HEADLINE:
        _run_once(name, spark, sf_dir)  # warm
    passes = [
        {name: _run_once(name, spark, sf_dir) for name in HEADLINE}
        for _ in range(3)
    ]
    samples_all: dict[str, list[float]] = {
        name: [p[name] for p in passes] for name in HEADLINE
    }
    # Locality re-sample threshold: entries whose pass samples disagree
    # by more than this ratio get two immediate back-to-back re-runs
    # folded into the min. The separated-pass samples of a short query
    # bracket minutes of other work, so both can land on cold
    # page-cache/JIT locality; the back-to-back pair measures the warm
    # plan. A stalled re-run can only inflate, never deflate, the min.
    RESAMPLE_SPREAD = 1.3
    for name in HEADLINE:
        s = samples_all[name]
        if max(s) / max(min(s), 1e-9) > RESAMPLE_SPREAD:
            s.extend(_run_once(name, spark, sf_dir) for _ in range(2))
    times: dict[str, float] = {
        name: round(min(s), 3) for name, s in samples_all.items()
    }
    # Per-entry sample spread (max/min over every sample taken,
    # re-runs included) goes to BENCH_SELF so the record flags locality
    # noise next to the time it qualifies.
    spread = {
        name: round(max(s) / max(min(s), 1e-9), 2)
        for name, s in samples_all.items()
    }

    # Whole-TPC-H aggregate entry: one warm pass then two measured passes
    # over every registered tpch_* query (min of the two pass totals) —
    # a single number that moves when ANY join-order/agg plan regresses.
    tpch_names = sorted(n for n in all_queries() if n.startswith("tpch_"))
    for n in tpch_names:
        _run_once(n, spark, sf_dir)  # warm
    tpch_totals = []
    for _ in range(2):
        tpch_totals.append(sum(_run_once(n, spark, sf_dir) for n in tpch_names))
    times[f"tpch_suite_{len(tpch_names)}q"] = round(min(tpch_totals), 3)

    # Calibration divisor: the MINIMUM over interleaved samples (the
    # three suite-pass samples the calibration query has as a headline
    # entry, the pre-suite pair, and a post-suite pair) estimates the
    # least-loaded machine state, the same quantity every other entry's
    # min-of-samples records. The sample spread is published next to
    # each divisor as the error bar on raw times.
    calib_samples = calib_pre_samples + list(samples_all[CALIBRATION_QUERY])
    calib_samples += [_run_once(CALIBRATION_QUERY, spark, sf_dir) for _ in range(2)]
    calib_pre = times[CALIBRATION_QUERY]
    calib_post = round(min(calib_samples[-2:]), 3)
    calib = round(min(calib_samples), 3)
    calib_spread = round(max(calib_samples) / max(min(calib_samples), 1e-9), 2)

    stage_samples += [_stage_calibration(spark, sf_dir) for _ in range(2)]
    calib_stages = round(min(stage_samples), 3)
    calib_stages_spread = round(
        max(stage_samples) / max(min(stage_samples), 1e-9), 2
    )

    # One streaming entry, keyed by its state store (rocksdb, the one
    # provider every session runs). A tiny warmup drain goes first: the
    # first streaming query of a session pays stream-machinery startup
    # (source listing threads, state-store provider init). The entry
    # reports the MIN over STREAM_REPS drains; sec_spread = max/min over
    # the drains, and the raw per-drain seconds go to BENCH_SELF under
    # streaming_drains.
    _streaming_throughput(spark, symbols=10, seconds=20)  # warm
    drains = [_streaming_throughput(spark) for _ in range(STREAM_REPS)]
    secs = [r["sec"] for r in drains]
    streaming = {
        "rocksdb": {
            **min(drains, key=lambda r: r["sec"]),
            "sec_spread": round(max(secs) / max(min(secs), 1e-9), 2),
        }
    }
    drain_secs = {"rocksdb": secs}

    # The printed line carries ONLY the frozen WIRE subset (see WIRE).
    # Everything else — full 3-dp times for all entries, the calibration
    # samples, per-entry spread, per-drain seconds — goes to BENCH_SELF.
    compact = {
        "metric": "headline_queries_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": {
            q: round(t, 2)
            for q, t in times.items()
            if q in WIRE or q.startswith("tpch_suite_")
        },
        "sf": sf,
        "calibration_sec": calib,
        "calibration_stages_sec": calib_stages,
        "streaming": streaming,
    }
    self_path = os.environ.get(
        "SPARK_GRAFT_BENCH_SELF",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_SELF.json"),
    )
    with open(self_path, "w") as fh:
        json.dump(
            {
                **compact,
                "queries": times,
                "spread": spread,
                "calibration_pre_sec": calib_pre,
                "calibration_post_sec": calib_post,
                "calibration_estimator": "min_interleaved",
                "calibration_spread": calib_spread,
                "calibration_stages_spread": calib_stages_spread,
                "streaming_drains": drain_secs,
            },
            fh,
            indent=1,
        )

    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    if len(sys.argv) != 1:
        # Fail fast on any argument instead of silently launching the
        # full suite and overwriting BENCH_SELF.
        sys.exit(f"usage: {sys.argv[0]}")
    main()
