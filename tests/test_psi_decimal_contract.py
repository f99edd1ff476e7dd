"""Property test for the PSI rounding contract (round 7).

``tests/test_streaming_drift.py::_psi``, the Python oracle the streaming
drift tests compare against, claims to reproduce the batch
``psi_value_drift`` pipeline bit-for-bit: 6-dp-floored shares, per-term
6-dp DECIMAL(18,6) fixing, EXACT decimal cross-bucket sum, 4-dp final
rounding. The oracle emulates the decimal sum with integer
micro-units; this test replays the batch query's own term/sum/round SQL
in DuckDB over randomized bucket-count vectors and demands equality —
pinning the emulation across the whole input space, not just the one
events fixture the cross-implementation streaming test uses. (The round
7 bug this guards against: a float accumulation of rounded terms, or a
6-dp final rounding, both of which agree with the batch on MOST inputs
and drift on a last-bit minority.)

No Spark session needed — pure Python vs DuckDB.
"""

from __future__ import annotations

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from kafka_stream_faust_deprecated_spark.functions.rounding import (
    sql_round_det,
)
from kafka_stream_faust_deprecated_spark.queries.monitor import PSI_EPS
from tests.test_streaming_drift import _psi
from tests.test_ticker_queries import _round_det

#: DuckDB replay of the batch query's terms/sum/round tail, over a
#: 10-row (rn, cn) VALUES relation — the exact SQL idioms of the
#: psi_value_drift oracle (queries/monitor.py), terms CAST to
#: DECIMAL(18,6) and summed exactly before the 4-dp final rounding.
_SHARE_R = sql_round_det("CAST(rn AS DOUBLE) / nullif(n_ref, 0.0)", 6)
_SHARE_C = sql_round_det("CAST(cn AS DOUBLE) / nullif(n_cmp, 0.0)", 6)
_TERM = sql_round_det(
    f"(greatest({_SHARE_R}, {PSI_EPS!r})"
    f" - greatest({_SHARE_C}, {PSI_EPS!r}))"
    f" * ln(greatest({_SHARE_R}, {PSI_EPS!r})"
    f" / greatest({_SHARE_C}, {PSI_EPS!r}))",
    6,
)


def _batch_psi_duckdb(rn: list[int], cn: list[int]) -> float:
    rows = ", ".join(f"({a}, {b})" for a, b in zip(rn, cn))
    sql = f"""
WITH raw(rn, cn) AS (VALUES {rows}),
tot AS (
    SELECT rn, cn,
           CAST(sum(rn) OVER () AS DOUBLE) AS n_ref,
           CAST(sum(cn) OVER () AS DOUBLE) AS n_cmp
    FROM raw
),
terms AS (SELECT CAST({_TERM} AS DECIMAL(18,6)) AS term FROM tot)
SELECT {sql_round_det("CAST(sum(term) AS DOUBLE)", 4)} FROM terms
"""
    return duckdb.sql(sql).fetchone()[0]


counts10 = st.lists(st.integers(min_value=0, max_value=10**6), min_size=10, max_size=10)


@settings(max_examples=200, deadline=None)
@given(rn=counts10, cn=counts10)
def test_streaming_psi_equals_batch_decimal_pipeline(rn, cn):
    n_ref, n_cmp = sum(rn), sum(cn)
    if n_ref == 0 or n_cmp == 0:
        return  # the batch query never emits a key with an empty window
    shares = [_round_det(r / n_ref, 6) for r in rn]
    assert _psi(cn, n_cmp, shares) == _batch_psi_duckdb(rn, cn)


def test_known_midpoint_case_matches():
    """A hand-picked vector whose term sum is NOT 4-dp exact — the case
    the pre-fix 6-dp final rounding got wrong."""
    rn = [100, 0, 0, 0, 0, 0, 0, 0, 0, 0]
    cn = [0, 100, 0, 0, 0, 0, 0, 0, 0, 0]
    shares = [_round_det(r / 100, 6) for r in rn]
    assert _psi(cn, 100, shares) == _batch_psi_duckdb(rn, cn)
