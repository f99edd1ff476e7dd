"""Property tests for the monitoring/forensics module
(queries/monitor.py) — value equivalence is the oracle harness's job;
these pin what the oracle comparison cannot see: the Benford audit's
digits/counts match a Python replay and its expected shares are the
true log10 law, the PSI matches a NumPy replay of the bucketing, is
zero for identical windows and keeps 6-dp shares, TWAP matches a
per-day holding-time replay and sits inside the day's price range, and
the seasonal screen matches a NumPy deseasonalized z-score replay.
"""

from __future__ import annotations

import math

import numpy as np

from kafka_stream_faust_deprecated_spark.io import load_table_parallel
from kafka_stream_faust_deprecated_spark.queries import monitor as M
from tests.conftest import SF_DIR
from tests.test_streaming_drift import CMP_VALUES, DRIFTED_CMP, REF_VALUES, _write_events
from tests.test_ticker_queries import _round_det, _ticks


# ---------------------------------------------------------- Benford


def test_benford_matches_python_replay(spark):
    """Digit extraction, counts, shares, and chi-square terms match an
    integer-cents Python replay; expected shares are Benford's law and
    sum to 1."""
    prices = [
        r.o_totalprice
        for r in load_table_parallel(spark, SF_DIR, "orders")
        .select("o_totalprice")
        .collect()
    ]
    digits = [int(str(round(p * 100))[0]) for p in prices]
    n = len(digits)
    out = {r.digit: r for r in M.benford_digit_audit(spark, SF_DIR).collect()}
    assert set(out) <= set(range(1, 10))
    assert sum(r.observed for r in out.values()) == n
    assert abs(sum(M.BENFORD_P.values()) - 1.0) < 1e-12
    for d, r in out.items():
        obs = sum(1 for x in digits if x == d)
        assert r.observed == obs
        assert r.observed_share == _round_det(obs / n, 6)
        assert r.benford_share == _round_det(M.BENFORD_P[d], 6)
        exp = n * M.BENFORD_P[d]
        assert abs(r.chi2_term - (obs - exp) ** 2 / exp) < 1e-3


# -------------------------------------------------------------- PSI


def _replay_psi(ref, cmp_, share_dp=6):
    """NumPy replay of ``psi_value_drift`` for one type: 4-dp decile cuts
    of ``ref``, shares rounded to ``share_dp`` decimals and floored at
    PSI_EPS, terms fixed to 6 dp and summed exactly (integer
    micro-units). Returns the sum before its 4-dp rounding."""
    cuts = [
        _round_det(float(np.percentile(ref, q * 100, method="linear")), 4)
        for q in M._PSI_DECILES
    ]

    def buckets(values):
        return np.array([1 + sum(1 for c in cuts if v > c) for v in values])

    rb, cb = buckets(ref), buckets(cmp_)
    micro = 0
    for k in range(1, 11):
        p = max(_round_det(float(np.sum(rb == k)) / len(ref), share_dp), M.PSI_EPS)
        q = max(_round_det(float(np.sum(cb == k)) / len(cmp_), share_dp), M.PSI_EPS)
        micro += round(_round_det((p - q) * math.log(p / q), 6) * 1e6)
    return micro / 1e6


def test_psi_matches_numpy_replay(spark):
    """PSI per type matches a NumPy replay of the decile bucketing +
    epsilon-floored term sum within its 4-dp rounding, and is
    non-negative."""
    rows = (
        load_table_parallel(spark, SF_DIR, "events")
        .select("event_type", "value", "ts")
        .collect()
    )
    split = M.PSI_SPLIT
    byt: dict[str, tuple[list, list]] = {}
    for r in rows:
        ref, cmp_ = byt.setdefault(r.event_type, ([], []))
        (ref if r.ts.strftime("%Y-%m-%d") < split else cmp_).append(r.value)
    out = {r.event_type: r for r in M.psi_value_drift(spark, SF_DIR).collect()}
    assert set(out) == set(byt)
    for et, (ref, cmp_) in byt.items():
        r = out[et]
        assert r.n_ref == len(ref) and r.n_cmp == len(cmp_)
        # the 4-dp contract: within half a unit of the 4th decimal (plus
        # the float error of the 6-dp sum)
        assert abs(r.psi - _replay_psi(ref, cmp_)) <= 5e-5 + 1e-12, et
        assert r.psi >= -1e-9  # each (p-q)ln(p/q) term is non-negative


def test_psi_zero_for_identical_windows(spark, tmp_path):
    """A comparison window holding exactly the reference window's values
    has every share equal to its profile's, so ``psi_value_drift``
    returns 0.0."""
    _write_events(spark, str(tmp_path), REF_VALUES)
    out = {r.event_type: r for r in M.psi_value_drift(spark, str(tmp_path)).collect()}
    assert set(out) == set(REF_VALUES)
    for et, vals in REF_VALUES.items():
        assert out[et].n_ref == out[et].n_cmp == len(vals)
        assert out[et].psi == 0.0


def test_psi_keeps_six_dp_shares(spark, tmp_path):
    """On a table where shares rounded to 5 dp change the 4-dp PSI of
    every type (the events fixture has no such key at any SF),
    ``psi_value_drift`` equals the replay with 6-dp shares."""
    _write_events(spark, str(tmp_path),
                  {et: CMP_VALUES[et][:n] for et, n in DRIFTED_CMP.items()})
    out = {r.event_type: r.psi for r in M.psi_value_drift(spark, str(tmp_path)).collect()}
    assert set(out) == set(DRIFTED_CMP)
    for et, n in DRIFTED_CMP.items():
        six, five = (
            _round_det(_replay_psi(REF_VALUES[et], CMP_VALUES[et][:n], dp), 4)
            for dp in (6, 5)
        )
        assert six != five, et  # the table sees the 6th decimal
        assert out[et] == six, (et, out[et], six)


# ------------------------------------------------------------- TWAP


def test_twap_matches_replay_and_brackets(spark):
    """TWAP equals the holding-time replay (second-truncated epochs,
    last tick to day end) and sits inside [low, high] of the day."""
    byday = _ticks(spark)
    out = {(r.user_id, r.day): r for r in M.twap_daily(spark, SF_DIR).collect()}
    assert set(out) == set(byday)
    for (uid, day), ticks in byday.items():
        secs = [int(t[0].replace(microsecond=0).timestamp()) for t in ticks]
        day0 = ticks[0][0].replace(
            hour=0, minute=0, second=0, microsecond=0
        ).timestamp()
        day_end = int(day0) + 86400
        notional_cents = 0
        covered = 0
        for i, (ts, _, px, _) in enumerate(ticks):
            nxt = secs[i + 1] if i + 1 < len(ticks) else day_end
            w = nxt - secs[i]
            notional_cents += round(px * 100) * w
            covered += w
        r = out[(uid, day)]
        assert r.n_ticks == len(ticks)
        assert r.covered_sec == covered
        assert r.twap == _round_det(notional_cents / 100.0 / covered, 4)
        px = [t[2] for t in ticks]
        assert min(px) - 1e-9 <= r.twap <= max(px) + 1e-9


# --------------------------------------------------------- seasonal


def test_seasonal_anomalies_match_numpy(spark):
    """Residual sigma, anomaly counts, and max |z| match a NumPy
    replay of the hour-deseasonalized screen."""
    rows = (
        load_table_parallel(spark, SF_DIR, "events")
        .select("event_type", "ts", "value")
        .collect()
    )
    cells: dict[tuple[str, int], list[float]] = {}
    for r in rows:
        cells.setdefault((r.event_type, r.ts.hour), []).append(r.value)
    means = {
        k: _round_det(sum(round(v * 100) for v in vs) / 100.0 / len(vs), 4)
        for k, vs in cells.items()
    }
    resid: dict[str, list[float]] = {}
    for (et, hod), vs in cells.items():
        for v in vs:
            resid.setdefault(et, []).append(v - means[(et, hod)])
    out = {
        r.event_type: r
        for r in M.seasonal_residual_anomalies(spark, SF_DIR).collect()
    }
    assert set(out) == set(resid)
    for et, res in resid.items():
        a = np.asarray(res)
        sd = math.sqrt(max(float(np.mean(a * a)) - float(np.mean(a)) ** 2, 0.0))
        zs = [_round_det(x / sd, 4) for x in res]
        r = out[et]
        assert r.n == len(res)
        assert abs(r.resid_sd - sd) < 1e-3
        assert r.n_anomalies == sum(1 for z in zs if abs(z) > M.SEASONAL_Z_CUT)
        assert abs(r.max_abs_z - max(abs(z) for z in zs)) < 1e-6
