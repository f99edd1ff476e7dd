"""Benchmark of the spark-graft engine: one workload per run.

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5
    python3 perfbench/run.py --selftest

Workloads (see README.md for why each one is there):

* ``llm_curation``    - 8 LLM-pipeline queries at sf0.01;
* ``sma_stream``      - the reference SMA pipeline on a tick stream;
* ``tpch_relational`` - the 21 registered ``tpch_*`` queries at sf0.1
  (not listed in BENCHMARK.json; the self-test runs it on tiny tables).

The inputs are generated from ``--seed`` inside the checkout, under
``.perfbench_work/``, and removed when the run ends. With ``--trace 0``
the last line of standard output is one JSON object carrying the
end-to-end metrics; with ``--trace 1`` the run also writes Spark's event
log and the benchmark's spans and the object carries the per-layer
metrics. ``--workload all`` runs every workload of BENCHMARK.json
untraced and traced, each in a fresh process, and prints a summary with
``failed_ratio`` and the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import harness
from harness import Outcome

WORKLOADS = ("tpch_relational", "llm_curation", "sma_stream")
#: Scale factor of the generated tables, per batch workload.
SF = {"tpch_relational": 0.1, "llm_curation": 0.01}
END_TO_END = ("setup_s", "pass_cpu_s", "op_cpu_ms")


def run_workload(workload: str, seed: int, seconds: float, trace: bool,
                 sf: float | None = None, stream_sizes: dict | None = None) -> dict:
    """Run one workload in this process; returns the run record. The
    generated inputs and scratch files are removed whatever happens."""
    work = os.path.join(harness.WORK, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return _measure(workload, seed, seconds, trace, sf or SF.get(workload),
                        stream_sizes or {}, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(workload: str, seed: int, seconds: float, trace: bool, sf: float | None,
             sizes: dict, work: str) -> dict:
    import batch
    import gen
    import stream
    import tracing

    env = harness.pin_environment(work)
    out = Outcome()
    cpu = harness.CpuClock()
    tracer = tracing.Tracer(trace)
    log_dir = os.path.join(work, "eventlog")
    extra = {"spark.ui.showConsoleProgress": "false"} | harness.jvm_options(work)
    if trace:
        os.makedirs(log_dir)
        extra |= {"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + log_dir,
                  "spark.eventLog.rolling.enabled": "false",
                  "spark.eventLog.compress": "false"}
    spark = None
    try:
        t0 = time.perf_counter()
        if workload == "sma_stream":
            writer = stream.prepare(work, seed, sizes.get("symbols", stream.SYMBOLS),
                                    sizes.get("catchup", stream.CATCHUP_FILES))
            scan = stream.warm_scan(writer.src)
        else:
            sf_dir = os.path.join(work, "data")
            out.detail["table_rows"] = gen.write_tables(sf_dir, sf, seed)
            scan = batch.warm_scan(workload, sf_dir)
        gen_s = time.perf_counter() - t0

        with tracer.span("setup"):
            spark, setup_cpu, setup_wall, get_spark_s = harness.setup_session(extra, scan, cpu)
        t0 = time.perf_counter()
        if workload == "sma_stream":
            res = stream.run(spark, work, writer, seconds, tracer, out, cpu,
                             live_files=sizes.get("live", stream.LIVE_FILES))
        else:
            # The oracle results depend only on the files. They are
            # computed while the unmeasured first pass runs, so that they
            # share the cores with no measured work.
            with ThreadPoolExecutor(max_workers=1) as pool:
                oracles = pool.submit(batch.oracle_results, sf_dir, batch.QUERIES[workload])
                pass_spans = batch.run(workload, spark, sf_dir, seed, seconds, tracer, out,
                                       cpu, oracles)
        out.metrics["setup_s"] = (setup_cpu, "s")
        out.detail["peak_rss_mb"] = harness.peak_rss_mb()
        app_id = spark.sparkContext.applicationId
        work_s = time.perf_counter() - t0
    finally:
        if spark is not None:
            t0 = time.perf_counter()
            harness.shutdown(spark)
            out.detail["shutdown_s"] = time.perf_counter() - t0

    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "config": env | {"sf": sf},
        "gen_s": gen_s, "setup_wall_s": setup_wall, "work_s": work_s,
        "end_to_end": {k: out.metrics[k] for k in END_TO_END},
        "detail": out.detail, "errors": out.errors,
        "attempted": out.attempted, "failed": out.failed,
    }
    if trace:
        log = tracing.EventLog(log_dir, app_id)
        layers = {"session.get_spark_s": (get_spark_s, "s")}
        if workload == "sma_stream":
            layers.update(stream.layer_metrics(res, tracer, log))
        else:
            layers.update(batch.layer_metrics(tracer, pass_spans, log))
        # A layer a workload does not use reads 0 (e.g. ``streaming.*``
        # on a batch workload).
        record["per_layer"] = {m["name"]: layers.get(m["name"], (0, m["unit"]))
                               for m in benchmark()["per_layer"]}
        tracer.dump(os.path.join(harness.WORK, "traces", f"{workload}-seed{seed}.json"))
    return record


def benchmark() -> dict:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def result_line(record: dict) -> dict:
    """The contract line: end-to-end metrics untraced, per-layer traced."""
    metrics = record["per_layer"] if record["trace"] else record["end_to_end"]
    return {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _child(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """Run one workload in a fresh process and return its run record."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{workload} exited with {proc.returncode}")
    return json.loads(lines[-2])


def run_all(seed: int, seconds: float) -> int:
    """Every workload, untraced then traced, each in a fresh process."""
    failed = attempted = 0
    summary = {}
    for w in (w["name"] for w in benchmark()["workloads"]):
        plain, traced = _child(w, seed, seconds, 0), _child(w, seed, seconds, 1)
        failed += plain["failed"] + traced["failed"]
        attempted += plain["attempted"] + traced["attempted"]
        summary[w] = {
            "end_to_end": plain["end_to_end"],
            "failed_ratio": plain["failed"] / plain["attempted"],
            "tracing_overhead": {k: traced["end_to_end"][k][0] - v
                                 for k, (v, _) in plain["end_to_end"].items()},
            "per_layer": traced["per_layer"],
        }
        # The gated metrics, then the wall times and the rest of the
        # record that BENCHMARK.json does not gate.
        d = plain["detail"]
        ops = d["live_ms"] if w == "sma_stream" else d["op_ms"]
        shown = [(k, v, u) for k, (v, u) in plain["end_to_end"].items()] + [
            ("failed_ratio", plain["failed"] / plain["attempted"], "ratio"),
            ("peak_rss_mb", d["peak_rss_mb"], "MB"),
            ("setup_wall_s", plain["setup_wall_s"], "s"),
            ("startup_s", d["startup_s"], "s"),
            ("pass_s", d["pass_s"] if w == "sma_stream" else d["pass_s"]["median"], "s"),
            ("op_p50_ms", ops["median"], f"ms (n={ops['n']})"),
            ("op_p90_ms", ops["p90"], f"ms (n={ops['n']})")]
        if w == "sma_stream":
            shown.append(("catchup_ticks_per_s", d["catchup_ticks_per_s"], "1/s"))
        for k, v, u in shown:
            print(f"{w:16s} {k:20s} {v:12.4f} {u}")
    print(json.dumps({"seed": seed, "workloads": summary}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {}}))
    return 0 if failed == 0 else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args(argv)
    sys.path.insert(0, harness.ROOT)
    if args.selftest:
        import selftest

        return selftest.main()
    if args.workload is None:
        ap.error("--workload is required")
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    record = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(record))
    print(json.dumps(result_line(record)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
