"""The streaming workload: the reference SMA pipeline on a tick stream.

``io.file_tick_source`` -> ``streaming.sma.sma_aggregate`` -> memory sink,
under the engine's default state store. The input is one NDJSON file per
event-second for ``SYMBOLS`` symbols.

* Catch-up: a backlog of ``CATCHUP_FILES`` event-seconds is on disk when
  the query starts; it drains ``FILES_PER_BATCH`` files per micro-batch,
  where the cost per record dominates.
* Live: the same query then gets one event-second at a time, until the
  run's time budget is spent (at least ``LIVE_FILES`` of them). The next
  file is written only when the previous one is processed and the
  no-data micro-batch that follows has moved the watermark and emitted
  the windows it closes (closed loop). One live operation is that
  pair: from the start of the data batch to the end of the no-data
  batch.

Both phases are measured in CPU time (``harness.CpuClock``) and in wall
time. Every progress report is collected by a listener
(``recentProgress`` keeps only the last 100). The emitted windows are
checked against an independent recomputation over the generated ticks.
"""

from __future__ import annotations

import json
import os
import threading
import time
from datetime import datetime, timedelta

import gen
from harness import CpuClock, Outcome, percentile, quantiles
from tracing import EventLog, Tracer, spark_metrics

SYMBOLS = 1000
CATCHUP_FILES = 60
FILES_PER_BATCH = 10
#: Live event-seconds per run (at least); the first is excluded.
LIVE_FILES = 10
#: The warm-up stream: one micro-batch, drained by a short query before
#: the measured one, so that the measured query's start is not the first
#: in the JVM.
WARM_FILES = FILES_PER_BATCH
QUERY = "perfbench_sma"
#: Progress ``durationMs`` phases and their per-layer metric names.
PHASES = {"latestOffset": "latest_offset", "getBatch": "get_batch",
          "queryPlanning": "query_planning", "addBatch": "add_batch",
          "walCommit": "wal_commit", "commitOffsets": "commit_offsets"}


class ProgressLog:
    """Keeps every progress report of every query, as parsed JSON, with
    ``cpu_s`` added: the reading of ``cpu`` when the report arrived."""

    def __init__(self, cpu: CpuClock) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.reports: list[dict] = []
        self.cond = threading.Condition()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802 - Spark API
                pass

            def onQueryProgress(self, event):  # noqa: N802
                with log.cond:
                    log.reports.append(json.loads(event.progress.json) | {"cpu_s": cpu()})
                    log.cond.notify_all()

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self.listener = _Listener()

    def wait_until(self, run_id: str, done, timeout: float = 120.0) -> list[dict]:
        """Block until ``done(reports of run_id)`` holds; return them."""
        with self.cond:
            ok = self.cond.wait_for(
                lambda: done([r for r in self.reports if r["runId"] == run_id]), timeout)
            if not ok:
                raise TimeoutError(f"stream {run_id} stalled")
            return [r for r in self.reports if r["runId"] == run_id]


def _rows_in(n: int):
    return lambda rs: sum(r["numInputRows"] for r in rs) >= n


def _settle(plog: ProgressLog, run_id: str, rows: int, latest_sec: int) -> list[dict]:
    """Wait until ``rows`` ticks are processed and the no-data batch that
    follows has moved the watermark to ``latest_sec`` minus 5 s, closing
    (and emitting) every window it can."""
    wm = _iso(latest_sec - 5).replace("Z", ".000Z")
    return plog.wait_until(run_id, lambda rs: _rows_in(rows)(rs) and any(
        (r.get("eventTime") or {}).get("watermark") == wm for r in rs))


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _batch_end(r: dict) -> float:
    return _epoch(r["timestamp"]) + r["durationMs"]["triggerExecution"] / 1e3


def _iso(sec: int) -> str:
    return f"{gen.T0 + timedelta(seconds=sec):%Y-%m-%dT%H:%M:%S}Z"


def expected_windows(batches: list[list[list[dict]]], watermark_s: int) -> dict:
    """The SMA contract recomputed without Spark. ``batches`` holds the
    files of each micro-batch in arrival order; ``watermark_s`` is the
    final watermark in seconds after T0.

    A tick is dropped when its second is at or below the watermark in
    force for its batch (the previous batches' latest second minus 5 s);
    the first tick per (symbol, second) is kept; a window of 5 seconds
    is emitted when all 5 seconds are present and its end is at or
    below the final watermark; size-0 ticks count toward the gate but
    not toward the VWAP sum and count."""
    kept: dict[tuple[str, int], dict] = {}
    latest = None
    for files in batches:
        wm = latest - 5 if latest is not None else None
        for ticks in files:
            for t in ticks:
                sec = int((datetime.fromisoformat(t["current_time"]) - gen.T0).total_seconds())
                if wm is not None and sec <= wm:
                    continue
                kept.setdefault((t["symbol"], sec), t)
                latest = sec if latest is None else max(latest, sec)
    out = {}
    for (sym, w) in kept:
        if w + 5 > watermark_s:
            continue
        members = [kept.get((sym, w + k)) for k in range(5)]
        if any(m is None for m in members):
            continue
        nz = [m["vwap_price_per_sec"] for m in members if m["size_per_sec"] != 0]
        real = sum(m["real_or_filled"] == "real" for m in members)
        out[(sym, _iso(w))] = {
            "sum_of_vwap": sum(nz), "count_of_vwap": len(nz),
            "sma_value": sum(nz) / len(nz) if nz else 0.0,
            "real_data_count": real, "filled_data_count": 5 - real,
            "start": _iso(w), "end": _iso(w + 4), "window_end": _iso(w + 5),
        }
    return out


def check_windows(rows: list, expected: dict) -> str | None:
    """Compare the emitted windows with the recomputation."""
    got = {(r["symbol"], r["window_start"]): r for r in rows}
    if len(got) != len(rows):
        return f"{len(rows) - len(got)} windows emitted twice"
    if got.keys() != expected.keys():
        missing, extra = expected.keys() - got.keys(), got.keys() - expected.keys()
        return f"windows missing={len(missing)} extra={len(extra)} e.g. {sorted(missing | extra)[:3]}"
    for key, e in expected.items():
        r = got[key]
        for col in ("count_of_vwap", "real_data_count", "filled_data_count", "start",
                    "end", "window_end"):
            if r[col] != e[col]:
                return f"{key} {col}: {r[col]} != {e[col]}"
        if r["window_data_count"] != 5:
            return f"{key} window_data_count: {r['window_data_count']}"
        for col in ("sum_of_vwap", "sma_value"):
            if abs(r[col] - e[col]) > 1e-9 * max(1.0, abs(e[col])):
                return f"{key} {col}: {r[col]} != {e[col]}"
    return None


def warm_scan(src: str):
    """Set-up scan: read the backlog's files once."""
    def scan(spark) -> None:
        spark.read.text(src).count()

    return scan


def _start(spark, src: str, ckpt: str, name: str, tracer: Tracer):
    from kafka_stream_faust_deprecated_spark.io import file_tick_source
    from kafka_stream_faust_deprecated_spark.streaming.sma import sma_aggregate

    with tracer.span("build"):
        ticks = file_tick_source(spark, src, max_files_per_trigger=FILES_PER_BATCH)
        out = sma_aggregate(ticks)
    return (out.writeStream.format("memory").queryName(name)
            .outputMode("append").option("checkpointLocation", ckpt).start())


class TickWriter:
    """Writes the seeded tick stream into a directory, one file per
    event-second, with increasing modification times."""

    def __init__(self, src: str, seed: int, symbols: int) -> None:
        os.makedirs(src, exist_ok=True)
        self.src, self.symbols, self.ticks = src, symbols, gen.tick_files(symbols, seed)
        self.files: list[list[dict]] = []
        self.base = time.time() - 86_400

    def write(self, n: int) -> list[list[dict]]:
        new = []
        for _ in range(n):
            i = len(self.files)
            ticks = next(self.ticks)
            gen.write_tick_file(os.path.join(self.src, f"sec-{i:06d}.json"), ticks,
                                self.base + i)
            self.files.append(ticks)
            new.append(ticks)
        return new


def prepare(work: str, seed: int, symbols: int, catchup: int) -> TickWriter:
    """Write the warm-up stream and the main stream's backlog."""
    TickWriter(os.path.join(work, "warm"), seed + 1, symbols).write(WARM_FILES)
    writer = TickWriter(os.path.join(work, "ticks"), seed, symbols)
    writer.write(catchup)
    return writer


def run(spark, work: str, writer: TickWriter, seconds: float, tracer: Tracer,
        out: Outcome, cpu: CpuClock, live_files: int = LIVE_FILES) -> dict:
    """Warm drain, then catch-up and live phases of one query. Returns
    what the per-layer report needs."""
    plog = ProgressLog(cpu)
    spark.streams.addListener(plog.listener)

    # Warm-up: a short query over a separate stream, stopped after its
    # first micro-batch.
    t0 = time.time()
    warm = _start(spark, os.path.join(work, "warm"), os.path.join(work, "ckpt-warm"),
                  f"{QUERY}_warm", Tracer(False))
    first = plog.wait_until(str(warm.runId), lambda rs: len(rs) > 0)[0]
    starts = [_batch_end(first) - t0]
    warm.stop()

    catchup_files = len(writer.files)
    total = sum(map(len, writer.files))
    with tracer.span("stream") as root:
        with tracer.span("catchup") as cs:
            t_start = time.time()
            q = _start(spark, writer.src, os.path.join(work, "ckpt"), QUERY, tracer)
            run_id = str(q.runId)
            cut = _settle(plog, run_id, total, catchup_files - 1)[-1]["batchId"]
        with tracer.span("live") as ls:
            deadline = time.time() + seconds
            live_cpu_ms = []
            while len(writer.files) - catchup_files < live_files or time.time() < deadline:
                total += len(writer.write(1)[0])
                c0 = cpu()
                reports = _settle(plog, run_id, total, len(writer.files) - 1)
                live_cpu_ms.append((cpu() - c0) * 1e3)
        rows = spark.table(QUERY).toPandas().to_dict("records")
        q.stop()
    spark.streams.removeListener(plog.listener)

    catchup = [r for r in reports if r["batchId"] <= cut]
    live = [r for r in reports if r["batchId"] > cut]
    data = [r for r in catchup if r["numInputRows"] > 0]
    live_secs = _live_seconds(live)
    live_ms = [(_batch_end(g[-1]) - _epoch(g[0]["timestamp"])) * 1e3 for g in live_secs[1:]]
    out.attempted += len(reports)
    n_live = len(writer.files) - catchup_files
    out.attempt(len(live_secs) == n_live,
                f"{len(live_secs)} live data batches for {n_live} files")

    # Batches as Spark formed them: catch-up in groups, live one by one.
    grouped = [writer.files[i:i + FILES_PER_BATCH]
               for i in range(0, catchup_files, FILES_PER_BATCH)]
    grouped += [[f] for f in writer.files[catchup_files:]]
    diff = check_windows(rows, expected_windows(grouped, len(writer.files) - 1 - 5))
    out.attempt(diff is None, f"stream output: {diff}")

    starts.append(_batch_end(reports[0]) - t_start)
    drain_s = _batch_end(data[-1]) - _batch_end(data[0])
    ticks = sum(r["numInputRows"] for r in data[1:])
    batch_cpu = [b["cpu_s"] - a["cpu_s"] for a, b in zip(data, data[1:])]
    out.metrics.update({
        "pass_cpu_s": (quantiles(batch_cpu)["median"], "s"),
        "op_cpu_ms": (quantiles(live_cpu_ms[1:])["median"], "ms"),
    })
    out.detail.update({
        "startups_s": starts, "startup_s": starts[-1], "symbols": writer.symbols,
        "catchup_files": catchup_files, "files_per_batch": FILES_PER_BATCH,
        "catchup_batches": len(data), "pass_s": drain_s,
        "catchup_cpu_s": batch_cpu,
        "catchup_ticks_per_s": ticks / drain_s, "live_seconds": len(live_secs),
        "live_ms": quantiles(live_ms) | {"p90": percentile(live_ms, 90)},
        "live_cpu_ms": quantiles(live_cpu_ms[1:]),
        "windows_emitted": len(rows),
    })
    if tracer.enabled:
        for phase, rs in ((cs, catchup), (ls, live)):
            for r in rs:
                tracer.add("batch", phase, _epoch(r["timestamp"]), _batch_end(r),
                           batch=r["batchId"], rows=r["numInputRows"])
    return {"run_id": run_id, "live": live_secs[1:], "phases": (cs, ls)}


def _live_seconds(live: list[dict]) -> list[list[dict]]:
    """Group live reports per event-second: a data batch and the no-data
    batches that follow it."""
    groups: list[list[dict]] = []
    for r in live:
        if r["numInputRows"] > 0:
            groups.append([r])
        elif groups:
            groups[-1].append(r)
    return groups


def layer_metrics(res: dict, tracer: Tracer, log: EventLog) -> dict:
    """Per-layer metrics of the stream, per live event-second (its data
    batch plus the no-data batch that closes its windows), as the median
    over the run's live seconds; ``queries.build_s`` is the measured
    query's one build. ``trace.pass_s`` is the live second's wall time
    and ``trace.coverage`` the share of it during which a micro-batch
    ran."""
    build = [k for k in tracer.children(res["phases"][0]) if k.name == "build"]
    m = {"queries.build_s": (sum(k.dur for k in build), "s")}

    def med(f):
        return quantiles([f(g) for g in res["live"]])["median"]

    def total(f):
        return lambda g: sum(f(r) for r in g)

    def state(r, name=None):
        return [s for s in r.get("stateOperators", [])
                if name is None or s["operatorName"] == name]

    def wall(g):
        return _batch_end(g[-1]) - _epoch(g[0]["timestamp"])

    trigger = total(lambda r: r["durationMs"]["triggerExecution"])
    m["trace.pass_s"] = (med(wall), "s")
    m["trace.coverage"] = (med(lambda g: trigger(g) / 1e3 / wall(g)), "ratio")
    m["spark.exec_s"] = (med(trigger) / 1e3, "s")
    per_second = [spark_metrics(log.totals({res["run_id"]}, {r["batchId"] for r in g}))
                  for g in res["live"]]
    m |= {k: (quantiles([p[k][0] for p in per_second])["median"], u)
          for k, (_, u) in per_second[0].items()}
    m |= {f"streaming.{name}_ms": (med(total(lambda r, k=k: r["durationMs"].get(k, 0))), "ms")
          for k, name in PHASES.items()}
    m["streaming.trigger_ms"] = (med(trigger), "ms")
    m["streaming.phase_coverage"] = (med(lambda g: sum(
        r["durationMs"].get(k, 0) for r in g for k in PHASES) / max(1, trigger(g))), "ratio")
    for label, op in (("dedup", "dedupe"), ("window", "stateStoreSave")):
        m[f"streaming.state_commit_ms.{label}"] = (
            med(total(lambda r, op=op: sum(s["commitTimeMs"] for s in state(r, op)))), "ms")
    m["streaming.state_rows_total"] = (
        med(lambda g: sum(s["numRowsTotal"] for s in state(g[-1]))), "count")
    m["streaming.state_rows_removed"] = (
        med(total(lambda r: sum(s.get("numRowsRemoved", 0) for s in state(r)))), "count")
    m["streaming.state_memory_bytes"] = (
        med(lambda g: sum(s.get("memoryUsedBytes", 0) for s in state(g[-1]))), "B")
    m["streaming.state_partitions"] = (
        med(lambda g: sum(s.get("numShufflePartitions", 0) for s in state(g[0]))), "count")
    return m
