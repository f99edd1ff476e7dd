from __future__ import annotations

import os

import duckdb
import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # fast test startup
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

from kafka_stream_faust_deprecated_spark import get_spark  # noqa: E402
from kafka_stream_faust_deprecated_spark.io import TABLES, table_path  # noqa: E402

#: Small SF for fast differential tests; the driver re-runs at sf0.01.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ksfd-tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the fixture tables pre-registered as views,
    mirroring the driver's oracle harness (__spark_entry__.py docstring)."""
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(SF_DIR, name)}')"
        )
    yield con
    con.close()
