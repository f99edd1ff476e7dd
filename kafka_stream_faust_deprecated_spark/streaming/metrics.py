"""Streaming observability (SURVEY.md §2a S16/S27 operational surface).

The reference app's only operational signal is a per-tick log line from
inside the agent loop (faust_app/ma_agg.py:57-69 prints the aggregate it
emits). The Spark-first counterpart is the engine's own progress stream:
every micro-batch publishes input rate, processing rate, per-operator
state-store size, watermark, and trigger latency — no user code in the
hot path. This module packages that as a bounded in-memory recorder the
tests and the bench can query as a DataFrame, the pattern a production
deployment would wire to a metrics sink instead.

Scale note: the recorder holds a BOUNDED deque of per-batch dicts on the
driver (metrics are per-batch, not per-row — a 1000-executor job emits
one progress event per micro-batch regardless of data size), so the
observability cost is O(batches retained), independent of corpus size.
"""

from __future__ import annotations

import json
from collections import deque
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

#: Micro-batch phases of the progress report's ``durationMs``, in the
#: order a batch runs them, and the column each is recorded as. They
#: run inside ``triggerExecution``, so they sum to at most ``trigger_ms``.
_PHASES = {
    "latestOffset": "latest_offset_ms",
    "getBatch": "get_batch_ms",
    "queryPlanning": "query_planning_ms",
    "addBatch": "add_batch_ms",
    "walCommit": "wal_commit_ms",
    "commitOffsets": "commit_offsets_ms",
}

#: Columns of the snapshot DataFrame, in schema order.
_SNAPSHOT_SCHEMA = (
    "query_name string, batch_id long, num_input_rows long,"
    " input_rows_per_sec double, processed_rows_per_sec double,"
    " trigger_ms long, "
    + "".join(f"{col} long, " for col in _PHASES.values())
    + "state_commit_ms long, state_rows_total long, state_rows_updated long,"
    " state_memory_bytes long, state_partitions long, watermark string"
)


class ProgressRecorder(StreamingQueryListener):
    """Records every micro-batch's StreamingQueryProgress into a bounded
    driver-side buffer.

    Attach with ``spark.streams.addListener(rec)`` (or ``rec.attach``),
    run any streaming query, then read ``rec.snapshot_df(spark)`` — one
    row per (query, batch) with rates, state-store row counts, trigger
    latency, the time of each micro-batch phase, and the state stores'
    commit time, memory and partition count, each summed over the
    batch's state operators. Listener callbacks arrive on the engine's
    listener bus thread; the deque append is atomic, and ``snapshot_df``
    copies before building the DataFrame.
    """

    def __init__(self, max_batches: int = 256) -> None:
        self._batches: deque[dict[str, Any]] = deque(maxlen=max_batches)

    # -- StreamingQueryListener interface ---------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        state = p.get("stateOperators") or []
        durations = p.get("durationMs") or {}
        self._batches.append(
            {
                "query_name": p.get("name"),
                "batch_id": int(p.get("batchId", -1)),
                "num_input_rows": int(p.get("numInputRows", 0)),
                "input_rows_per_sec": float(p.get("inputRowsPerSecond", 0.0) or 0.0),
                "processed_rows_per_sec": float(
                    p.get("processedRowsPerSecond", 0.0) or 0.0
                ),
                "trigger_ms": int(durations.get("triggerExecution", 0)),
                **{
                    col: int(durations.get(phase, 0))
                    for phase, col in _PHASES.items()
                },
                "state_commit_ms": int(
                    sum(s.get("commitTimeMs", 0) for s in state)
                ),
                "state_rows_total": int(
                    sum(s.get("numRowsTotal", 0) for s in state)
                ),
                "state_rows_updated": int(
                    sum(s.get("numRowsUpdated", 0) for s in state)
                ),
                "state_memory_bytes": int(
                    sum(s.get("memoryUsedBytes", 0) for s in state)
                ),
                "state_partitions": int(
                    sum(s.get("numShufflePartitions", 0) for s in state)
                ),
                "watermark": (p.get("eventTime") or {}).get("watermark"),
            }
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    # -- consumption -------------------------------------------------------
    def attach(self, spark: SparkSession) -> "ProgressRecorder":
        spark.streams.addListener(self)
        return self

    def detach(self, spark: SparkSession) -> None:
        spark.streams.removeListener(self)

    def batches(self, query_name: str | None = None) -> list[dict[str, Any]]:
        rows = list(self._batches)
        if query_name is not None:
            rows = [r for r in rows if r["query_name"] == query_name]
        return rows

    def snapshot_df(
        self, spark: SparkSession, query_name: str | None = None
    ) -> DataFrame:
        """The recorded batches as a DataFrame (empty-safe), so health
        checks are plain SQL: max state size, p95 trigger latency,
        sustained input rate."""
        return spark.createDataFrame(
            [tuple(r.values()) for r in self.batches(query_name)],
            _SNAPSHOT_SCHEMA,
        )
