#!/usr/bin/env python
"""Scale-up probe: measure headline queries at sf0.1 vs an Nx replica.

Builds (once) an Nx copy of the sf0.1 fixture in which every replica
gets a disjoint key range (+r * 1e9 on every join/identity key, applied
consistently across tables so replica r's facts join replica r's dims —
per-key group sizes stay constant and only the DATA VOLUME grows), then
times a sample of headline queries against both, interleaved passes,
min per (query, scale). The ratio column is the empirical answer to
"does this plan's cost grow linearly in input?" — a super-linear entry
means a hidden quadratic (e.g. content-identical replicas would blow up
near-dup candidate generation, which is why content-similarity queries
are excluded; their scaling argument is the banded-candidate math in
their docstrings).

Usage: python scripts/scaleup_probe.py [out_dir_for_replica] [json_out]
Env:   SPARK_GRAFT_PROBE_REPS=N        replication factor (default 8)
       SPARK_GRAFT_PROBE_QUERIES=a,b   probe a subset (default: all
                                       probe-safe QUERIES below)
       SPARK_GRAFT_PROBE_NO_SUBPROC=1  run the content group in-process
                                       (default: fresh subprocess; see
                                       CONTENT_QUERIES)
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import duckdb

from kafka_stream_faust_deprecated_spark import get_spark
from kafka_stream_faust_deprecated_spark.io import load_table
from kafka_stream_faust_deprecated_spark.registry import get_query

#: Replication factor; override with SPARK_GRAFT_PROBE_REPS (e.g. 32
#: for the second scaling point — two points expose curvature a single
#: ratio can't). 32 replicas x 1e9 key offset stays well inside int64.
REPS = int(os.environ.get("SPARK_GRAFT_PROBE_REPS", "8"))
OFF = 10**9
BASE = "/root/testdata/sf0.1"

KEYS = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey", "n_regionkey"],
    "customer": ["c_custkey", "c_nationkey"],
    "supplier": ["s_suppkey", "s_nationkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

QUERIES = (
    "flagship_sma_5row",
    "agg_pricing_summary",
    "tpch_q5_local_supplier_volume",
    "tpch_q9_product_profit",
    "dedup_exact_documents",
    "doc_boilerplate_ngrams",
    "kmeans_lloyd_step",
    "ann_cosine_ivf",
    "pipeline_curate",
    "dsir_importance_weights",
    # round 7 additions. PQ / IVFPQ / BM25 are safe under replication:
    # replicas only multiply cell membership / postings linearly (the
    # quadratic-candidate exclusion applies to near-dup PAIR queries).
    "ann_cosine_pq",
    "ann_cosine_ivfpq",
    "bm25_retrieval_topk",
    "merge_upsert_snapshot",
    "sessionize_capped",
    "hot_key_profile",
    "equi_depth_histogram",
    "global_shuffle_shards",
    "train_val_test_split",
    # round 7 continuation. All linear under disjoint-key replication:
    # PMI pairs are generated per-row (token-pair counts just multiply),
    # the Zipf/KL relations are vocabulary-bounded, the norm screen is
    # one scan + label-bounded stats, and A-ES top-k is a TakeOrdered
    # heap over 8x rows.
    "pmi_token_cooccurrence",
    "token_zipf_slope",
    "source_unigram_divergence",
    "embedding_norm_outliers",
    "sample_weighted_aes",
    # layout / runtime-filter / sketch family. All linear under
    # disjoint-key replication: the Bloom bitset and CMS grid are
    # fixed-size regardless of input, z-order cells and IVM group keys
    # only gain rows per cell, islands are user-keyed (disjoint users),
    # the hard-negative query set stays fixed-size broadcast, PCA is
    # iterations x one scan with O(dim) driver state, and the OOV
    # relation is vocabulary-bounded.
    # wave-3 curation ops. domain caps and winsorized moments are
    # linear (source-keyed skinny windows / broadcast percentile
    # relations). The ER and dup-graph queries are EXCLUDED for the
    # same reason as the near-dup pair queries: replication copies
    # names/texts verbatim, so cross-replica matches inflate their
    # candidate sets quadratically — a property of the synthetic
    # replication, not the plans.
    "domain_cap_sampling",
    "winsorized_quality_zscore",
    "join_bloom_prefilter",
    "zorder_layout_quality",
    "incremental_agg_maintenance",
    "heavy_hitters_cms_estimate",
    "interval_coverage_islands",
    "hard_negative_mining",
    "embedding_pca_power_iteration",
    "vocab_oov_coverage",
    # wave-4 stats/mining ops. All linear under disjoint-key
    # replication: gap-fill's grid is (users x days) with user_id
    # offset-disjoint (8x users, same calendar), the OLS moments are a
    # single scan into k groups, the MI joint relation keeps its cell
    # set (counts just multiply), and basket pairs are generated inside
    # offset-disjoint orderkeys (8x baskets, same brand vocabulary).
    "timeseries_gap_fill",
    "groupwise_linear_trend",
    "categorical_mutual_information",
    "basket_copurchase_rules",
    # wave-5/6 robust + mining ops. All linear under disjoint-key
    # replication: the skyline's distinct-price/size domains are copied
    # verbatim (per-price groups just gain rows), MAD/CUSUM/seasonal/
    # EWMA group or sort per event_type over 8x rows, attribution and
    # the nearest/latency/path queries key on offset-disjoint users,
    # and BPE's vocabulary is unchanged (frequencies x8). The link
    # prediction query is EXCLUDED like every dup-graph pair query:
    # verbatim text replicas inflate its candidate set quadratically —
    # a property of the synthetic replication, not the plan.
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
    # wave-7 distributional ops. Linear: cadence is customer-keyed
    # (offset-disjoint customers), the weighted-median level relation
    # is price-domain-bounded (weights just multiply), and the
    # quantile-norm / Gini windows sort 8x rows within the same
    # source set (n log n).
    "order_reorder_intervals",
    "weighted_median_price",
    "source_quantile_normalization",
    "gini_concentration_index",
    # wave-8 ticker ops. Linear: every query collapses the tick corpus
    # to (user, day) bars first (8x users, same calendar), the
    # band/RSI/drawdown windows sort per offset-disjoint user, and the
    # correlation universe is a FIXED top-K (the pair relation stays
    # K^2 x calendar at any scale — only the bar collapse grows).
    "ohlc_bars_daily",
    "vwap_daily",
    "bollinger_bands",
    "rsi_cutler",
    "max_drawdown_daily",
    "symbol_return_correlation",
    # wave-9 audit/factor/mixture ops. Linear: the FK/PK audits are
    # key-keyed joins/aggregates over offset-disjoint keys, the CAPM
    # market series is calendar-bounded (8x rows per day, same days),
    # the intraday curve is |types| x 24-bounded, the autocorr moments
    # are user-keyed, and the mixture plan's bucket set is copied
    # verbatim (token counts just multiply).
    "fk_integrity_audit",
    "pk_uniqueness_audit",
    "beta_capm_daily",
    "intraday_volume_curve",
    "turnover_autocorr",
    "mixture_temperature_plan",
    # wave-10 monitoring ops. Linear: the digit/bucket/hour relations
    # are fixed-size (9 / types x 10 / types x 24) regardless of input,
    # TWAP is the (user, day)-keyed bar shape over offset-disjoint
    # users, and the PSI/seasonal stats joins broadcast tiny relations.
    "benford_digit_audit",
    "psi_value_drift",
    "twap_daily",
    "seasonal_residual_anomalies",
    # wave-11 inference/sketch/SQL-surface ops. Linear: the chi-square
    # and ANOVA cell/moment relations are catalog-bounded (counts just
    # multiply), the t-test collapses to 2 rows of moments, the
    # ACF daily relation is calendar-bounded, the KS/MWU distinct-cents
    # relations copy the value domain verbatim (per-cent counts x8),
    # the HLL rollup moves fixed-size register blobs (8x distinct
    # users, same sketch bytes), and the LATERAL top-k decorrelates to
    # the nationkey-partitioned WindowGroupLimit (8x nations, same
    # per-nation group size). The kcore/reachability dup-graph queries
    # are EXCLUDED like every dup-graph pair query: verbatim text
    # replicas inflate the candidate pair set quadratically — a
    # property of the synthetic replication, not the plans.
    "chi_square_independence",
    "welch_t_test_values",
    "acf_daily_multilag",
    "ks_value_drift",
    "anova_f_oneway",
    "mann_whitney_u",
    "distinct_hll_rollup",
    "lateral_topk_per_nation",
)

#: Content-similarity dedup queries (r8 verdict #5: linear-by-design
#: claims that had no probe row). They CANNOT probe against the verbatim
#: replica fixture — copying text verbatim makes every replica an exact
#: duplicate of its base doc, so the OUTPUT contract itself (all
#: duplicate pairs / all repeated spans) grows quadratically in REPS, a
#: property of the synthetic replication, not the plans. They probe
#: against a CONTENT-DISJOINT replica fixture instead: every token of
#: replica r is prefixed "r{r}z", so shingles/windows are disjoint
#: across replicas while each replica keeps the base corpus's internal
#: duplication structure (pairs x REPS, spans x REPS — linear). The 1x
#: baseline applies the SAME r=0 tagging so token statistics match.
CONTENT_QUERIES = (
    "neardup_containment_sketch",
    "dedup_repeated_spans",
)


def _content_subprocess_cmd(
    dst: str, reps: int, content_queries: tuple, json_path: str
) -> tuple[list, dict]:
    """argv + env for probing the content group in a FRESH process.

    Three rounds running (r13/r14/r15 verdicts), the content-fixture
    cells ran LAST in the interleaved session and inherited its
    locality decay — in-suite 32x segments breached the 4x bar
    (r15: 5.32/5.99) and then adjudicated clean isolated (2.15/2.16,
    ``git show a9b15f3:SCALE_ISOLATED_r15.json``). Position was
    masquerading as curvature.
    The structural fix (r13 verdict #2): the content group always runs
    in its own subprocess with a fresh JVM/session, so its cells are
    isolated-by-construction and the adjudication step retires.
    """
    env = dict(os.environ)
    env["SPARK_GRAFT_PROBE_REPS"] = str(reps)
    env["SPARK_GRAFT_PROBE_QUERIES"] = ",".join(content_queries)
    env["SPARK_GRAFT_PROBE_NO_SUBPROC"] = "1"  # no recursion
    argv = [sys.executable, os.path.abspath(__file__), dst, json_path]
    return argv, env


#: Tagging-scheme version, keyed into the cached fixture path: the
#: os.path.exists early-return would otherwise serve a stale fixture
#: built under an older tagging scheme (r9 advice). Bump on any change
#: to the tagging SQL below. v2 = strip leading/trailing whitespace
#: before tagging (v1 turned boundary whitespace runs into bare
#: "r{r}z" tokens shared by every doc of a replica, perturbing shingle
#: statistics relative to the 1x baseline's). v3 = blank/whitespace-
#: only docs tag to '' instead of a bare shared tag token (identical
#: to v2 on any corpus without blank docs — the driver fixtures —
#: so the committed v2-era probe records remain valid).
CONTENT_TAG_SCHEME = "tagv3"


def build_content_fixture(dst: str, reps: int) -> None:
    """documents-only fixture with per-replica token tagging (see
    CONTENT_QUERIES). Only the tables these queries read are built.
    Callers must key ``dst`` on CONTENT_TAG_SCHEME (main() does).

    Tagging splits on INTERIOR whitespace runs (regexp, not the
    single-space literal) so tab/newline-separated tokens are tagged
    too; leading/trailing whitespace is stripped first so no bare tag
    tokens appear at text boundaries, and n_chars is recomputed from
    the rewritten text. Residual caveat: tokens that the engine's
    tokenizer further splits on punctuation (e.g. "don't" -> "don",
    "t") keep their suffix pieces untagged and those recur across
    replicas — the driver-generated fixtures are plain space-separated
    words, where tagging is exactly content-disjoint."""
    os.makedirs(dst, exist_ok=True)
    out = os.path.join(dst, "documents.parquet")
    if os.path.exists(out):
        return
    con = duckdb.connect()
    stripped = "regexp_replace(text, '^\\s+|\\s+$', '', 'g')"
    selects = []
    for r in range(reps):
        tag = f"r{r}z"
        # Blank/whitespace-only docs tag to '' (v3): a bare '{tag}'
        # would be one token shared by every blank doc of a replica.
        text = (
            f"CASE WHEN {stripped} = '' THEN '' ELSE "
            f"'{tag}' || regexp_replace({stripped}, '\\s+', ' {tag}', 'g') END"
        )
        selects.append(
            f"SELECT doc_id + {r * OFF} AS doc_id, "
            f"{text} AS text, lang, source, "
            f"length({text})::BIGINT AS n_chars "
            f"FROM read_parquet('{BASE}/documents.parquet')"
        )
    con.execute(
        f"COPY ({' UNION ALL '.join(selects)}) TO '{out}' (FORMAT PARQUET)"
    )


def build_fixture(dst: str) -> None:
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    for t, ks in KEYS.items():
        out = os.path.join(dst, f"{t}.parquet")
        if os.path.exists(out):
            continue
        cols = [
            c[0]
            for c in con.execute(
                f"describe select * from read_parquet('{BASE}/{t}.parquet')"
            ).fetchall()
        ]
        selects = []
        for r in range(REPS):
            exprs = [
                f"{c} + {r * OFF} AS {c}" if c in ks else c for c in cols
            ]
            selects.append(
                f"SELECT {', '.join(exprs)} FROM read_parquet('{BASE}/{t}.parquet')"
            )
        con.execute(
            f"COPY ({' UNION ALL '.join(selects)}) TO '{out}' (FORMAT PARQUET)"
        )


def _probe_group(spark, queries: tuple, dirs: dict) -> dict:
    """Round-9 methodology (the bench.py lessons applied here): the warm
    pass also absorbs memoized index builds / codegen, 3 interleaved
    passes instead of 2, a >1.3x-spread immediate re-sample pair, and
    per-(query, scale) SPREAD recorded so a contaminated cell
    self-identifies (the r8 table's kmeans 1x cell recorded the cold
    path and tpch_q5's ratio recorded locality decay — both
    adjudicated by isolated re-runs; see SCALE.md)."""

    def once(q: str, d: str) -> float:
        t0 = time.perf_counter()
        get_query(q).fn(spark, d).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    keys = list(dirs)
    for q in queries:
        for d in dirs.values():
            once(q, d)  # warm
    samples: dict[tuple, list] = {(q, k): [] for q in queries for k in dirs}
    for _ in range(3):
        for q in queries:
            for k, d in dirs.items():
                samples[(q, k)].append(once(q, d))
    for (q, k), s in samples.items():
        if max(s) / max(min(s), 1e-9) > 1.3:
            s.extend(once(q, dirs[k]) for _ in range(2))
    rows = {}
    for q in queries:
        a = min(samples[(q, keys[0])])
        b = min(samples[(q, keys[1])])
        sa = round(max(samples[(q, keys[0])]) / max(a, 1e-9), 2)
        sb = round(max(samples[(q, keys[1])]) / max(b, 1e-9), 2)
        # Generic key names: the replicated-side sample is "tN"
        # (resolved by the top-level "reps" field), not "t8" — a 32x
        # probe stored under "t8" misreads as an 8x figure (ADVICE r7).
        rows[q] = {
            "t1": round(a, 3),
            "tN": round(b, 3),
            "ratio": round(b / a, 2),
            "spread1": sa,
            "spreadN": sb,
        }
        print(
            f"{q:34s} 1x={a:6.2f}s {REPS}x={b:6.2f}s ratio={b / a:5.2f} "
            f"spread={sa:4.1f}/{sb:4.1f}"
        )
    return rows


def main() -> None:
    import json

    dst = sys.argv[1] if len(sys.argv) > 1 else f"/tmp/sfx{REPS}"
    json_out = sys.argv[2] if len(sys.argv) > 2 else None
    queries = QUERIES
    content_queries = CONTENT_QUERIES
    subset = os.environ.get("SPARK_GRAFT_PROBE_QUERIES")
    if subset:
        wanted = tuple(q.strip() for q in subset.split(",") if q.strip())
        unknown = [
            q for q in wanted if q not in QUERIES and q not in CONTENT_QUERIES
        ]
        assert not unknown, f"not probe-safe (see QUERIES): {unknown}"
        queries = tuple(q for q in wanted if q in QUERIES)
        content_queries = tuple(q for q in wanted if q in CONTENT_QUERIES)
    no_subproc = os.environ.get("SPARK_GRAFT_PROBE_NO_SUBPROC") == "1"
    content_isolated = False
    rows = {}
    if content_queries and queries and not no_subproc:
        # Content group first, in a FRESH subprocess (r13 verdict #2 —
        # see _content_subprocess_cmd). Launched before the main
        # session so it can't inherit anything from it either.
        with tempfile.NamedTemporaryFile(
            suffix=".json", delete=False
        ) as tf:
            child_json = tf.name
        argv, env = _content_subprocess_cmd(
            dst, REPS, content_queries, child_json
        )
        subprocess.run(argv, env=env, check=True)
        with open(child_json) as fh:
            rows.update(json.load(fh)["queries"])
        os.unlink(child_json)
        content_queries = ()
        content_isolated = True
    spark = get_spark(app_name="scaleup-probe")
    if queries:
        build_fixture(dst)
        dirs = {"1x": BASE, f"{REPS}x": dst}
        for d in dirs.values():
            load_table(spark, d, "lineitem").count()
        rows.update(_probe_group(spark, queries, dirs))
    if content_queries:
        # Path keyed on the tagging-scheme version so a bumped scheme
        # can never serve a stale cached fixture (r9 advice).
        c1 = f"{dst}_content1_{CONTENT_TAG_SCHEME}"
        cn = f"{dst}_content{REPS}_{CONTENT_TAG_SCHEME}"
        build_content_fixture(c1, 1)
        build_content_fixture(cn, REPS)
        rows.update(
            _probe_group(spark, content_queries, {"1x": c1, f"{REPS}x": cn})
        )
    if json_out:
        with open(json_out, "w") as fh:
            json.dump(
                {
                    "reps": REPS,
                    "content_isolated": content_isolated,
                    "queries": rows,
                },
                fh,
                indent=1,
            )
        print(f"wrote {json_out}")


if __name__ == "__main__":
    main()
