"""Differential tests: every registered query vs its DuckDB oracle.

Local mirror of the driver's correctness gate (__spark_entry__.py):
row count, column-name set, and an order-insensitive comparison of
values normalized as ``scripts/driver_sim.py`` normalizes them. Runs at
sf0.001 for speed; the driver runs sf0.01.
"""

from __future__ import annotations

import os
import sys

import pytest

from kafka_stream_faust_deprecated_spark.registry import all_specs
from tests.conftest import SF_DIR

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "scripts"))

from driver_sim import _multiset  # noqa: E402


SPECS = all_specs()
ORACLE_SPECS = [s for s in SPECS.values() if s.oracle is not None]
ROWS_ONLY_SPECS = [s for s in SPECS.values() if s.oracle is None]


@pytest.mark.parametrize("spec", ORACLE_SPECS, ids=lambda s: s.name)
def test_query_matches_oracle(spec, spark, duck):
    sdf = spec.fn(spark, SF_DIR)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]

    rel = duck.execute(spec.oracle)
    duck_cols = [d[0].lower() for d in rel.description]
    duck_rows = rel.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{spec.name}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{spec.name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )

    s_ms = _multiset(spark_rows, spark_cols)
    d_ms = _multiset(duck_rows, duck_cols)
    if s_ms != d_ms:
        diffs = [(a, b) for a, b in zip(s_ms, d_ms) if a != b][:5]
        pytest.fail(f"{spec.name}: value mismatch; first diffs (spark, duck): {diffs}")


@pytest.mark.parametrize("spec", ROWS_ONLY_SPECS, ids=lambda s: s.name)
def test_rows_only_query_runs(spec, spark):
    sdf = spec.fn(spark, SF_DIR)
    assert sdf.columns, f"{spec.name}: no columns"
    sdf.collect()  # must execute without error


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    keys = set(e.queries())
    assert set(e.oracle_sql()) <= keys
