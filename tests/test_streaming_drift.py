"""Golden tests for the streaming PSI drift monitor (S4/E22).

Pins: (1) the final per-key PSI is IDENTICAL whether the comparison
stream arrives as one file or split across two (cumulative counts are
batch-boundary invariant); (2) that final value equals ``_psi``, a
pure-Python replay of the batch psi_value_drift formula over the same
reference profile; (3) a comparison window drawn from the reference
itself gives PSI 0; (4) update-mode emission produces one row per key
per micro-batch that saw the key, with monotonically nondecreasing
n_cmp; (5) against the real events table, the monitor reproduces the
batch query's own psi and n_cmp; (6) the counts survive a restart from
the checkpoint.
"""

from __future__ import annotations

import math
import os
from datetime import datetime, timedelta, timezone

import numpy as np

from kafka_stream_faust_deprecated_spark.io import file_event_source
from kafka_stream_faust_deprecated_spark.queries.monitor import PSI_EPS
from kafka_stream_faust_deprecated_spark.streaming.drift import psi_drift
from tests.conftest import SF_DIR
from tests.stream_drain import drain, write_files
from tests.test_ticker_queries import _round_det

T0 = datetime(2024, 3, 1, tzinfo=timezone.utc)

#: Deterministic synthetic profile: two keys with different shapes.
REF_VALUES = {
    "click": [round(1.0 + 0.37 * i % 50, 2) for i in range(200)],
    "purchase": [round(5.0 + (i * i) % 97 / 3.0, 2) for i in range(150)],
}
#: Comparison window: "click" drawn from the same recipe (no drift),
#: "purchase" shifted (drift).
CMP_VALUES = {
    "click": [round(1.0 + 0.37 * (i + 7) % 50, 2) for i in range(160)],
    "purchase": [round(25.0 + (i * 3) % 40 / 2.0, 2) for i in range(120)],
}


def _psi(counts: list[int], n: int, ref_shares: list[float]) -> float:
    """The batch query's PSI, step for step: 6-dp shares floored at
    PSI_EPS, each term fixed to 6 dp (as exact integer micro-units, the
    Python spelling of the batch's DECIMAL(18,6) sum), and the sum
    rounded to 4 dp."""
    micro = 0
    for k in range(10):
        p = max(ref_shares[k], PSI_EPS)
        q = max(_round_det(counts[k] / n, 6), PSI_EPS) if n else PSI_EPS
        micro += int(math.floor((p - q) * math.log(p / q) * 1e6 + 0.5))
    return _round_det(micro / 1e6, 4)


def _profile(values):
    """Reference profile exactly as the batch query derives it:
    4-dp-rounded decile cuts + 6-dp-rounded bucket shares."""
    cuts = [
        _round_det(float(np.percentile(values, q * 10, method="linear")), 4)
        for q in range(1, 10)
    ]
    counts = [0] * 10
    for v in values:
        counts[sum(1 for c in cuts if v > c)] += 1
    shares = [_round_det(c / len(values), 6) for c in counts]
    return cuts, shares


PROFILES = {et: _profile(vals) for et, vals in REF_VALUES.items()}


def _profile_df(spark, profiles=PROFILES):
    """``profiles`` ({et: (cuts, shares)}) as the DataFrame ``psi_drift``
    joins against."""
    schema = ", ".join(
        ["et STRING"]
        + [f"c{i} DOUBLE" for i in range(1, 10)]
        + [f"p{k} DOUBLE" for k in range(1, 11)]
    )
    rows = [(et, *cuts, *shares) for et, (cuts, shares) in profiles.items()]
    return spark.createDataFrame(rows, schema)


def _line(item):
    """``(i, (event_type, value))``: the file's i-th line, at second i."""
    i, (et, v) = item
    ts = (T0 + timedelta(seconds=i)).strftime("%Y-%m-%d %H:%M:%S")
    return {"event_type": et, "value": v, "ts": ts}


def _run(spark, tmp_path, name, files, profile=None):
    src = write_files(
        tmp_path / "src", [(f, enumerate(rows)) for f, rows in files], _line
    )
    return drain(
        psi_drift(
            file_event_source(spark, src),
            _profile_df(spark) if profile is None else profile,
        ),
        tmp_path / "ckpt",
        name,
        output_mode="update",
    )


def _final_per_key(rows):
    out = {}
    for r in rows:
        if r.event_type not in out or r.n_cmp >= out[r.event_type].n_cmp:
            out[r.event_type] = r
    return out


def _python_psi(values, et):
    cuts, shares = PROFILES[et]
    counts = [0] * 10
    for v in values:
        counts[sum(1 for c in cuts if v > c)] += 1
    return _psi(counts, len(values), shares)


def test_final_psi_is_split_invariant_and_matches_replay(spark, tmp_path):
    interleaved = [
        (et, v)
        for pair in zip(CMP_VALUES["click"], CMP_VALUES["purchase"])
        for et, v in zip(("click", "purchase"), pair)
    ] + [("click", v) for v in CMP_VALUES["click"][len(CMP_VALUES["purchase"]):]]

    one = _run(spark, tmp_path / "one", "drift_one", [("all.json", interleaved)])
    half = len(interleaved) // 2
    two = _run(
        spark, tmp_path / "two", "drift_two",
        [("a.json", interleaved[:half]), ("b.json", interleaved[half:])],
    )
    f1, f2 = _final_per_key(one), _final_per_key(two)
    assert set(f1) == set(f2) == {"click", "purchase"}
    for et in f1:
        assert f1[et].n_cmp == f2[et].n_cmp == len(CMP_VALUES[et])
        assert f1[et].psi == f2[et].psi
        assert f1[et].psi == _python_psi(CMP_VALUES[et], et)
    # the shifted key drifts hard, the same-recipe key barely moves
    assert f1["purchase"].psi > 1.0
    assert f1["click"].psi < 0.25
    # two-file run: one row per key per batch, n_cmp nondecreasing
    assert len(two) == 4
    seen = {}
    for r in two:
        assert r.n_cmp >= seen.get(r.event_type, 0)
        seen[r.event_type] = r.n_cmp


def test_null_values_carry_no_bucket(spark, tmp_path):
    """Parity on null-bearing input: batch psi_value_drift drops NULL
    values via its grid join, so the streaming monitor must neither
    count them in n_cmp nor bucket them."""
    vals = CMP_VALUES["click"]
    rows = []
    for i, v in enumerate(vals):
        rows.append(("click", v))
        if i % 10 == 0:
            rows.append(("click", None))
    out = _run(spark, tmp_path / "nulls", "drift_nulls", [("n.json", rows)])
    fin = _final_per_key(out)
    assert fin["click"].n_cmp == len(vals)
    assert fin["click"].psi == _python_psi(vals, "click")


def test_reference_against_itself_is_near_zero(spark, tmp_path):
    rows = [(et, v) for et, vals in REF_VALUES.items() for v in vals]
    out = _run(spark, tmp_path / "self", "drift_self", [("ref.json", rows)])
    fin = _final_per_key(out)
    for et, vals in REF_VALUES.items():
        # same data, same buckets -> every (p - q) ln(p/q) term is 0
        assert fin[et].psi == _python_psi(vals, et)
        assert abs(fin[et].psi) < 1e-9


#: Comparison-window lengths at which the 4-dp PSI of REF_VALUES vs
#: CMP_VALUES depends on the 6th decimal of the comparison shares (a
#: replay of ``_psi`` with 5-dp shares flips both). No key of the events
#: fixture has that property at any SF, so the parity test adds this
#: drifted table to pin the share rounding too.
DRIFTED_CMP = {"click": 157, "purchase": 114}


def _write_events(spark, sf_dir, cmp_values):
    """An events table: REF_VALUES before PSI_SPLIT, ``cmp_values``
    ({event_type: values}) after it."""
    ref0, cmp0 = datetime(2024, 1, 2), datetime(2024, 1, 20)
    rows = [
        (et, v, t0 + timedelta(minutes=i))
        for t0, window in ((ref0, REF_VALUES), (cmp0, cmp_values))
        for et, vals in window.items()
        for i, v in enumerate(vals)
    ]
    spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)],
        "event_id LONG, event_type STRING, value DOUBLE, ts TIMESTAMP",
    ).write.parquet(os.path.join(sf_dir, "events.parquet"))


def test_final_psi_matches_batch_query_output(spark, tmp_path):
    """Cross-implementation parity: the streaming monitor, fed an
    events table's comparison window and the profile from
    ``psi_reference_profile``, must reproduce the batch
    ``psi_value_drift`` query's psi and n_cmp bit-for-bit, on the
    events fixture and on a drifted table. Unlike the replay tests,
    this one does not go through ``_psi``."""
    from kafka_stream_faust_deprecated_spark.io import load_table
    from kafka_stream_faust_deprecated_spark.queries.monitor import (
        PSI_SPLIT,
        psi_reference_profile,
        psi_value_drift,
    )

    drifted = str(tmp_path / "drifted")
    _write_events(spark, drifted, {et: CMP_VALUES[et][:n] for et, n in DRIFTED_CMP.items()})
    for i, sf_dir in enumerate([SF_DIR, drifted]):
        batch = {
            r.event_type: r for r in psi_value_drift(spark, sf_dir).collect()
        }
        cmp_rows = (
            load_table(spark, sf_dir, "events")
            .where(f"ts >= timestamp'{PSI_SPLIT} 00:00:00'")
            .select("event_type", "value")
            .collect()
        )
        out = _run(
            spark, tmp_path / f"run{i}", f"drift_vs_batch{i}",
            [("cmp.json", [(r.event_type, r.value) for r in cmp_rows])],
            psi_reference_profile(spark, sf_dir),
        )
        fin = _final_per_key(out)
        assert set(fin) == set(batch)
        for et, b in batch.items():
            assert fin[et].n_cmp == b.n_cmp, (sf_dir, et)
            assert fin[et].psi == b.psi, (sf_dir, et, fin[et].psi, b.psi)
    assert {et: r.n_cmp for et, r in batch.items()} == DRIFTED_CMP


def test_drift_checkpoint_restart_resumes_counts(spark, tmp_path):
    """Durability: stop the monitor mid-stream, start a NEW query on
    the same checkpoint, feed the rest — the cumulative bucket counts
    must come back from the state store, so the final PSI equals the
    uninterrupted single-run value (which the split-invariance test
    already ties to the batch formula)."""
    rows = [("click", v) for v in CMP_VALUES["click"]]
    half = len(rows) // 2

    src = tmp_path / "src"
    write_files(src, [("a.json", enumerate(rows[:half]))], _line)

    collected: list = []

    def _start():
        # foreachBatch, not the memory sink — memory-sink queries
        # refuse checkpoint recovery by design.
        return (
            psi_drift(file_event_source(spark, str(src)), _profile_df(spark))
            .writeStream.foreachBatch(
                lambda df, _epoch: collected.extend(df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    q1 = _start()
    q1.awaitTermination(300)
    first_run = len(collected)
    write_files(src, [("b.json", enumerate(rows[half:]))], _line)
    q2 = _start()
    q2.awaitTermination(300)

    # the resumed run reads only b.json, so its one row counts a.json's
    # values only if the state came back from the checkpoint
    assert [r.n_cmp for r in collected[first_run:]] == [len(rows)], (
        "state lost across restart"
    )
    fin = _final_per_key(collected)
    assert fin["click"].psi == _python_psi(CMP_VALUES["click"], "click")


def test_psi_formula_parity_with_monitor_constants(spark):
    """``_psi``, the replay the tests above compare against, computes
    the engine's own formula: its constants (the PSI_EPS floor, 6-dp
    shares and terms, the 4-dp sum) give ``psi_drift``'s PSI on counts
    that reach the floor on both sides (an empty reference bucket and
    empty comparison buckets) and shares that need all 6 decimals."""
    cuts = [float(c) for c in range(1, 10)]
    ref_shares = [0.0, 0.142857, 0.285714, 0.1, 0.05, 0.2, 0.021429, 0.1, 0.05, 0.05]
    counts = [3, 0, 11, 1, 0, 2, 5, 0, 7, 13]
    # bucket k (0-based) holds values in (k, k + 1]: value k + 0.5
    events = spark.createDataFrame(
        [("k", k + 0.5) for k, c in enumerate(counts) for _ in range(c)],
        "event_type STRING, value DOUBLE",
    )
    (row,) = psi_drift(events, _profile_df(spark, {"k": (cuts, ref_shares)})).collect()
    assert row.n_cmp == sum(counts)
    assert row.psi == _psi(counts, sum(counts), ref_shares)
    assert row.psi > 0.0
