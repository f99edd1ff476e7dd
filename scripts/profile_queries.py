#!/usr/bin/env python
"""Per-query wall-time decomposition for the optimization rounds.

For each named query (default: the slowest bench entries), reports

* ``build_s``  — Python DSL construction (``fn(spark, sf_dir)``): py4j
  round-trips + analysis of the logical plan.
* ``plan_s``   — physical planning (forcing ``executedPlan`` on a fresh
  DataFrame): Catalyst optimization + physical strategy + codegen prep,
  driver-side and single-threaded.
* ``exec_s``   — the noop-sink write of a THIRD fresh DataFrame (same
  methodology as bench.py), which includes its own analysis+planning —
  so ``exec_s - plan_s - build_s`` approximates pure cluster execution.
* ``jobs`` / ``stages`` / ``tasks`` — scheduler work triggered by the
  noop write (status-tracker job-group diff), the fixed-overhead
  multiplier at small scale and the barrier count at large scale.
* ``compiles`` / ``compile_ms`` — generated classes Janino compiled
  during the measured build, plan and exec, and the time it took
  (``plans.codegen_totals`` deltas).

Each query is warmed once (codegen caches, broadcast threads, Python
workers, page cache) before the measured run, matching bench.py's
warm-then-measure discipline. ``get_spark`` sizes the codegen cache to
hold every query's classes, so a measured run that still compiles has
generated code the warm-up did not (or the cache overflowed). Output:
one JSON line per query plus a sorted summary table on stderr.

Usage: python scripts/profile_queries.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from kafka_stream_faust_deprecated_spark import get_spark  # noqa: E402
from kafka_stream_faust_deprecated_spark.io import load_table  # noqa: E402
from kafka_stream_faust_deprecated_spark.plans import codegen_totals  # noqa: E402
from kafka_stream_faust_deprecated_spark.registry import get_query  # noqa: E402

#: Default profile set: every bench entry whose r16 in-suite min
#: exceeded ~1 s, plus the calibration query as the floor reference.
DEFAULT_QUERIES = (
    "agg_pricing_summary",
    "neardup_containment_sketch",
    "kmeans_train_3iter",
    "neardup_simhash",
    "dup_graph_kcore",
    "pk_uniqueness_audit",
    "ann_cosine_lsh",
    "doc_boilerplate_ngrams",
    "ann_cosine_ivfpq",
    "dup_graph_pagerank",
    "fk_integrity_audit",
    "dedup_incremental_ingest",
    "embedding_pca_power_iteration",
    "label_propagation_communities",
    "basket_copurchase_rules",
    "neardup_shingle_containment",
    "equi_depth_histogram",
    "pipeline_prepare_training",
    "dup_graph_reachability",
    "doc_perplexity_bigram",
    "symbol_return_correlation",
    "psi_value_drift",
    "semantic_dedup_semdedup",
    "tfidf_top_terms",
    "vocab_oov_coverage",
    "source_unigram_divergence",
    "dup_graph_link_prediction",
    "timeseries_gap_fill",
    "bm25_retrieval_topk",
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def profile_one(spark, name: str, sf_dir: str) -> dict:
    fn = get_query(name).fn
    _noop(fn(spark, sf_dir))  # warm: codegen/broadcast/pagecache

    compiles0, compile_s0 = codegen_totals(spark)
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    # Force physical planning without executing (AQE will still re-plan
    # at runtime; this is the driver-side cost floor of one planning).
    df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()

    sc = spark.sparkContext
    group = f"profile-{name}"
    sc.setJobGroup(group, name)
    try:
        t3 = time.perf_counter()
        _noop(fn(spark, sf_dir))
        t4 = time.perf_counter()
    finally:
        sc.setJobGroup(None, None)
    compiles1, compile_s1 = codegen_totals(spark)
    st = sc.statusTracker()
    job_ids = st.getJobIdsForGroup(group)
    stages = 0
    tasks = 0
    for j in job_ids:
        ji = st.getJobInfo(j)
        if ji is None:
            continue
        stages += len(ji.stageIds)
        for s in ji.stageIds:
            si = st.getStageInfo(s)
            if si is not None:
                tasks += si.numTasks
    return {
        "query": name,
        "build_s": round(t1 - t0, 3),
        "plan_s": round(t2 - t1, 3),
        "exec_s": round(t4 - t3, 3),
        "jobs": len(job_ids),
        "stages": stages,
        "tasks": tasks,
        "compiles": compiles1 - compiles0,
        "compile_ms": round((compile_s1 - compile_s0) * 1e3, 1),
    }


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    names = args or list(DEFAULT_QUERIES)
    spark = get_spark(app_name="ksfd-profile")
    load_table(spark, sf_dir, "lineitem").count()  # session warmup
    recs = []
    for name in names:
        rec = profile_one(spark, name, sf_dir)
        recs.append(rec)
        print(json.dumps(rec), flush=True)
    recs.sort(key=lambda r: -r["exec_s"])
    print(
        f"{'query':<34}{'build':>7}{'plan':>7}{'exec':>7}"
        f"{'jobs':>6}{'stages':>8}{'tasks':>7}{'compiles':>10}{'cmp_ms':>8}",
        file=sys.stderr,
    )
    for r in recs:
        print(
            f"{r['query']:<34}{r['build_s']:>7.2f}{r['plan_s']:>7.2f}"
            f"{r['exec_s']:>7.2f}{r['jobs']:>6}{r['stages']:>8}{r['tasks']:>7}"
            f"{r['compiles']:>10}{r['compile_ms']:>8.0f}",
            file=sys.stderr,
        )


if __name__ == "__main__":
    main()
