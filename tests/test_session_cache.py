"""The engine's one session cache (``session.cached``): built values are
reused within a session, a ``newSession()`` builds its own, and nothing
built in a stopped session is handed out again."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

from kafka_stream_faust_deprecated_spark import session
from kafka_stream_faust_deprecated_spark.registry import get_query
from tests.conftest import SF_DIR

REPO = Path(__file__).resolve().parents[1]


def _build_jobs(spark, group: str, fn) -> int:
    """Number of Spark jobs ``fn(spark, SF_DIR)`` runs while BUILDING
    its DataFrame (nothing is collected), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn(spark, SF_DIR)
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_ivfpq_rebuild_reuses_count_and_codebook(spark):
    """Building ``ann_cosine_ivfpq`` runs the corpus count and the PQ
    training jobs; a second build in the same session runs no job at
    all, and a new session runs them again for its own entries."""
    fn = get_query("ann_cosine_ivfpq").fn
    first = spark.newSession()
    built = _build_jobs(first, "cache-first-build", fn)
    assert built > 0
    assert _build_jobs(first, "cache-second-build", fn) == 0

    fresh = spark.newSession()
    assert _build_jobs(fresh, "cache-new-session", fn) == built
    owners = {owner for owner, _ in session._CACHE}
    assert owners == {(id(fresh), fresh.sparkContext.applicationId)}
    kinds = {key[0] for _, key in session._CACHE}
    assert {"count", "pq_books", "table_parallel"} <= kinds


def test_no_entry_outlives_a_stopped_session(tmp_path):
    """After ``stop()``, a new session's first cache access drops every
    entry of the stopped one and rebuilds instead of returning it."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from kafka_stream_faust_deprecated_spark import get_spark, session
        from kafka_stream_faust_deprecated_spark.io import load_table

        first = get_spark(app_name="cache-stop-first")
        load_table(first, {SF_DIR!r}, "region")
        assert session.cached(first, ("probe",), lambda: "first") == "first"
        old_app = first.sparkContext.applicationId
        first.stop()

        second = get_spark(app_name="cache-stop-second")
        print("VALUE", session.cached(second, ("probe",), lambda: "second"))
        apps = {{owner[1] for owner, _ in session._CACHE}}
        print("APPS", apps == {{second.sparkContext.applicationId}}, old_app in apps)
        second.stop()
        """
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    res = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert "VALUE second" in res.stdout, res.stdout
    assert "APPS True False" in res.stdout, res.stdout
