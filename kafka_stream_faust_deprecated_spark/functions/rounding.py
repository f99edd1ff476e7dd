"""Cross-engine deterministic rounding (found by the sf0.1 self-sweep).

``F.round`` and DuckDB ``round`` disagree on decimal midpoints: Spark
routes the double through ``BigDecimal.valueOf`` — the SHORTEST decimal
representation — then HALF_UP, while DuckDB rounds the raw double
numerically. A value whose double is 51.51124999… but whose shortest
repr is "51.51125" rounds to 51.5113 in Spark and 51.5112 in DuckDB.
Corpus counts make such exact-midpoint rationals common (a/48, sums of
2-decimal prices), so at large SFs some row always lands on one.

The contract that cannot diverge: round as a PURE FUNCTION OF THE
DOUBLE, spelled identically in both engines —

    round_k(x) = floor(x * 10^k + 0.5) / 10^k

(half-toward-+inf; both engines evaluate the same double expression, so
they agree bit-for-bit wherever the input doubles agree). The int8
quantization operator has used this form since round 4; these helpers
make it the shared idiom.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_det(col: Column, digits: int) -> Column:
    """Deterministic cross-engine rounding of a double column."""
    s = float(10**digits)
    return F.floor(col.cast("double") * s + F.lit(0.5)) / s


def sql_round_det(expr: str, digits: int) -> str:
    """DuckDB twin of :func:`round_det` for oracle SQL strings."""
    s = float(10**digits)
    return f"(floor(({expr}) * {s} + 0.5) / {s})"


def round_det_py(x: float, digits: int) -> float:
    """Python twin of :func:`round_det` for driver-side arithmetic (not
    Python's banker's ``round``)."""
    s = float(10**digits)
    return math.floor(x * s + 0.5) / s
