"""The batch workloads: closed-loop passes over registered queries.

One client runs whole passes over the workload's queries, each pass in
an order drawn from the seed, and starts the next query only when the
previous one has finished. A query is ``fn(spark, sf_dir)`` (the DSL
build plus any jobs it launches eagerly) followed by a ``noop`` write
that forces the whole plan.

The first pass runs in the fresh session, collects every output, and is
not measured (its wall time is ``startup_s`` in the run record); the
outputs are then checked against the DuckDB oracles, computed from the
same files while that pass ran. Measured passes follow until the run's
time budget is spent. Each pass and each query is measured in CPU time
(``harness.CpuClock``) and in wall time.
"""

from __future__ import annotations

import math
import random
import statistics
import time
from collections import Counter
from concurrent.futures import Future
from datetime import date, datetime
from decimal import Decimal

from harness import CpuClock, Outcome, percentile, quantiles
from tracing import EventLog, Tracer, spark_metrics

TPCH = (
    "tpch_q2_min_cost_supplier tpch_q3_shipping_priority tpch_q4_order_priority"
    " tpch_q5_local_supplier_volume tpch_q6_forecast_revenue tpch_q7_volume_shipping"
    " tpch_q8_market_share tpch_q9_product_profit tpch_q10_returned_items"
    " tpch_q11_important_parts tpch_q12_late_shipment_priority"
    " tpch_q13_customer_distribution tpch_q14_promo_revenue tpch_q15_top_supplier"
    " tpch_q16_supplier_part_counts tpch_q17_small_quantity_revenue"
    " tpch_q18_large_volume_customer tpch_q19_disjunctive_revenue"
    " tpch_q20_excess_supply tpch_q21_waiting_supplier"
    " tpch_q22_global_sales_opportunity"
).split()

LLM = (
    "dedup_exact_documents neardup_minhash_lsh ann_cosine_ivfpq semantic_dedup_semdedup"
    " tfidf_top_terms pipeline_curate bm25_retrieval_topk dedup_connected_components"
).split()

QUERIES = {"tpch_relational": TPCH, "llm_curation": LLM}
#: The fixture tables each workload's queries read.
TABLES = {
    "tpch_relational": ("region", "nation", "customer", "supplier", "part", "orders",
                        "lineitem"),
    "llm_curation": ("documents", "embeddings"),
}


# -- output check: the comparison scripts/driver_sim.py makes -------------

def _norm(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="seconds")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _multiset(rows, cols) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_norm(r[i]) for i in order) for r in rows)


def check_output(expected: tuple, cols: list[str], rows: list) -> str | None:
    """Compare collected rows with the oracle's ``(columns, rows)``: row
    count, column names, and the order-insensitive multiset of normalised
    values. Returns None when they agree, else what differs."""
    dcols, drows = expected
    scols = [c.lower() for c in cols]
    if sorted(scols) != sorted(dcols):
        return f"columns spark={scols} oracle={dcols}"
    if len(rows) != len(drows):
        return f"rows spark={len(rows)} oracle={len(drows)}"
    if _multiset(rows, scols) != _multiset(drows, dcols):
        return "values differ"
    return None


def oracle_results(sf_dir: str, names: list[str]) -> dict[str, tuple]:
    """Each query's DuckDB oracle result over the same files, as
    (lower-cased column names, rows)."""
    import duckdb

    from kafka_stream_faust_deprecated_spark.io import TABLES, table_path
    from kafka_stream_faust_deprecated_spark.registry import get_query

    con = duckdb.connect(config={"threads": 2})
    try:
        for name in TABLES:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{table_path(sf_dir, name)}')")
        out = {}
        for name in names:
            rel = con.execute(get_query(name).oracle)
            out[name] = ([d[0].lower() for d in rel.description], rel.fetchall())
        return out
    finally:
        con.close()


# -- the workload ---------------------------------------------------------

def warm_scan(workload: str, sf_dir: str):
    """Set-up scan: count each table the workload reads through the
    engine's loader."""
    def scan(spark) -> None:
        from kafka_stream_faust_deprecated_spark.io import load_table

        for name in TABLES[workload]:
            load_table(spark, sf_dir, name).count()

    return scan


def run(workload: str, spark, sf_dir: str, seed: int, seconds: float,
        tracer: Tracer, out: Outcome, cpu: CpuClock, oracles: Future) -> list:
    """Run the warm pass, the output checks against ``oracles`` (a future
    of ``oracle_results``) and the timed passes. Returns the traced pass
    spans (empty when tracing is off)."""
    from kafka_stream_faust_deprecated_spark import plans
    from kafka_stream_faust_deprecated_spark.registry import get_query

    names = QUERIES[workload]
    specs = {n: get_query(n) for n in names}
    rng = random.Random(seed)

    # Warm pass in the fresh session: collect each output for the check.
    outputs = {}
    t0 = time.perf_counter()
    for name in rng.sample(names, len(names)):
        try:
            df = specs[name].fn(spark, sf_dir)
            outputs[name] = (df.columns, [tuple(r) for r in df.collect()])
            out.attempt(True)
        except Exception as ex:  # noqa: BLE001 - a failing query is counted
            out.attempt(False, f"{name}: {ex}")
    startup_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    expected = oracles.result()
    for name, (cols, rows) in outputs.items():
        diff = check_output(expected[name], cols, rows)
        out.attempt(diff is None, f"{name} output: {diff}")
    check_s = time.perf_counter() - t0

    pass_times: list[float] = []
    pass_cpu: list[float] = []
    op_ms: list[float] = []
    op_cpu_ms: list[float] = []
    query_ms: dict[str, list[float]] = {n: [] for n in names}
    query_cpu_ms: dict[str, list[float]] = {n: [] for n in names}
    pass_spans = []
    deadline = time.perf_counter() + seconds
    while not pass_times or time.perf_counter() < deadline:
        order = rng.sample(names, len(names))
        t_pass, c_pass = time.perf_counter(), cpu()
        with tracer.span("pass", index=len(pass_times)) as ps:
            for name in order:
                t_q, c_q = time.perf_counter(), cpu()
                try:
                    with tracer.span("query", query=name):
                        with tracer.span("build", spark):
                            df = specs[name].fn(spark, sf_dir)
                        if tracer.enabled:
                            with tracer.span("plan", spark) as sp:
                                sp.attrs["census"] = plans.exchange_census(
                                    plans.executed_plan(df))
                        with tracer.span("exec", spark):
                            df.write.format("noop").mode("overwrite").save()
                    out.attempt(True)
                except Exception as ex:  # noqa: BLE001 - a failing query is counted
                    out.attempt(False, f"{name}: {ex}")
                op_ms.append((time.perf_counter() - t_q) * 1e3)
                op_cpu_ms.append((cpu() - c_q) * 1e3)
                query_ms[name].append(op_ms[-1])
                query_cpu_ms[name].append(op_cpu_ms[-1])
        pass_times.append(time.perf_counter() - t_pass)
        pass_cpu.append(cpu() - c_pass)
        if ps is not None:
            pass_spans.append(ps)

    out.metrics.update({
        "pass_cpu_s": (quantiles(pass_cpu)["median"], "s"),
        "op_cpu_ms": (statistics.geometric_mean(
            [quantiles(v)["median"] for v in query_cpu_ms.values()]), "ms"),
    })
    out.detail.update({
        "queries": len(names), "startup_s": startup_s,
        "pass_s": quantiles(pass_times), "pass_cpu_s": pass_cpu,
        "op_cpu_ms": quantiles(op_cpu_ms),
        "op_ms": quantiles(op_ms) | {"p90": percentile(op_ms, 90)},
        "query_ms": {n: quantiles(v)["median"] for n, v in query_ms.items()},
        "query_cpu_ms": {n: quantiles(v)["median"] for n, v in query_cpu_ms.items()},
        "outputs_checked": len(outputs), "check_s": check_s,
    })
    return pass_spans


def layer_metrics(tracer: Tracer, pass_spans: list, log: EventLog) -> dict:
    """Per-layer numbers for one pass: the median over traced passes."""
    per_pass = []
    for ps in pass_spans:
        ids = tracer.subtree_ids(ps)
        spans = [tracer.spans[i] for i in ids]
        by_kind = {k: [s for s in spans if s.name == k] for k in ("build", "plan", "exec")}
        census = Counter()
        for s in by_kind["plan"]:
            census.update({k: v for k, v in s.attrs["census"].items() if k != "data_keys"})
        build_groups = {f"span-{s.id}" for s in by_kind["build"]}
        covered = sum(tracer.self_time(s) for k in by_kind for s in by_kind[k])
        m = {
            "trace.pass_s": (ps.dur, "s"),
            "trace.coverage": (covered / ps.dur, "ratio"),
            "queries.build_s": (sum(tracer.self_time(s) for s in by_kind["build"]), "s"),
            "queries.build_jobs": (log.totals(build_groups).jobs, "count"),
            "plans.plan_s": (sum(tracer.self_time(s) for s in by_kind["plan"]), "s"),
            "plans.exchanges_data": (census["data"], "count"),
            "plans.exchanges_broadcast": (census["broadcast"], "count"),
            "plans.exchanges_single": (census["single"], "count"),
            "plans.exchanges_shim": (census["shim"], "count"),
            "spark.exec_s": (sum(tracer.self_time(s) for s in by_kind["exec"]), "s"),
        }
        m.update(spark_metrics(log.totals({f"span-{i}" for i in ids})))
        per_pass.append(m)
    return {k: (quantiles([p[k][0] for p in per_pass])["median"], u)
            for k, (_, u) in per_pass[0].items()}
