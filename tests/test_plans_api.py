"""exchange_census / assert_census: the plan-introspection engine API."""

from __future__ import annotations

import ast

import pytest
from pyspark.sql import functions as F

from kafka_stream_faust_deprecated_spark.io import load_table
from kafka_stream_faust_deprecated_spark.plans import assert_census, exchange_census
from tests.conftest import SF_DIR


def test_census_counts_keyed_exchange_and_broadcast(spark):
    o = load_table(spark, SF_DIR, "orders")
    c = load_table(spark, SF_DIR, "customer")
    agg = o.groupBy("o_custkey").agg(F.count("*").alias("n"))
    joined = agg.join(F.broadcast(c), agg.o_custkey == c.c_custkey)
    census = exchange_census(joined)
    assert census["data"] == 1
    assert census["data_keys"] == ["o_custkey"]
    assert census["broadcast"] == 1
    assert census["shim"] == 0


def test_assert_census_guards(spark):
    o = load_table(spark, SF_DIR, "orders")
    agg = o.groupBy("o_custkey").agg(F.count("*").alias("n"))
    assert_census(agg, max_data=1)  # passes
    with pytest.raises(AssertionError, match="keyed exchanges"):
        assert_census(agg, max_data=0)
    with pytest.raises(AssertionError, match="forbidden key"):
        assert_census(agg, forbid_keys=("o_custkey",))


def test_flagship_census_pinned(spark):
    """The flagship plan is ONE user_id exchange — a second keyed
    exchange appearing is a plan regression, caught here not on the
    cluster."""
    from kafka_stream_faust_deprecated_spark.registry import get_query

    df = get_query("flagship_sma_5row").fn(spark, SF_DIR)
    c = assert_census(df, max_data=1, forbid_keys=("event_id",))
    assert c["data_keys"] == ["user_id"]


def test_ivf_census_forbids_corpus_row_exchange(spark):
    """ann_cosine_ivf's only keyed exchange is the skinny qid top-K
    window; vec_id keying any exchange would mean the round-4
    n*k fan-out shape crept back."""
    from kafka_stream_faust_deprecated_spark.registry import get_query

    df = get_query("ann_cosine_ivf").fn(spark, SF_DIR)
    assert_census(df, forbid_keys=("vec_id",))


def test_pq_and_ivfpq_census_pinned(spark):
    """Both PQ consumers must keep the one-skinny-exchange shape: the
    only keyed data exchange is the qid top-K window — vec_id keying
    any exchange would mean the codes scan started shuffling corpus
    rows (the round-4 fan-out class the hygiene tests exist to stop)."""
    from kafka_stream_faust_deprecated_spark.registry import get_query

    for name in ("ann_cosine_pq", "ann_cosine_ivfpq"):
        df = get_query(name).fn(spark, SF_DIR)
        c = assert_census(df, max_data=1, forbid_keys=("vec_id",))
        assert c["data_keys"] == ["qid"], (name, c["data_keys"])


def test_lateral_topk_census_pinned(spark):
    """The correlated LATERAL (ORDER BY ... LIMIT) subquery must keep
    decorrelating to the topk_per_group shape: ONE c_nationkey
    exchange with a map-side WindowGroupLimit, nation broadcast — a
    per-outer-row re-execution (or a second keyed exchange) appearing
    means the decorrelation rule stopped firing."""
    from kafka_stream_faust_deprecated_spark.registry import get_query

    df = get_query("lateral_topk_per_nation").fn(spark, SF_DIR)
    c = assert_census(df, max_data=1)
    assert c["data_keys"] == ["c_nationkey"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_shim_exchange_classified_as_shim_not_data(spark):
    """r14: load_table_parallel's under-split guard hash-partitions on
    the table's unique key (io.SHIM_KEYS) instead of round-robin — the
    round-robin exchange paid a hidden local sort of the whole table
    (SPARK-23207 sortBeforeRepartition). The census must keep
    classifying that loader exchange as 'shim' (absent on real cluster
    scans), NOT as keyed data movement, or every row-id hygiene guard
    would false-positive on the local fixtures."""
    from kafka_stream_faust_deprecated_spark.io import (
        SHIM_KEYS,
        load_table,
        load_table_parallel,
    )

    df = load_table_parallel(spark, SF_DIR, "embeddings")
    c = exchange_census(df)
    assert c["shim"] == 1, c
    assert c["data"] == 0, c  # vec_id must NOT count as data movement
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert f"hashpartitioning({SHIM_KEYS['embeddings']}#" in plan
    assert "REPARTITION_BY_NUM" in plan
    # the shim is a pure repartition: row multiset unchanged
    assert df.count() == load_table(spark, SF_DIR, "embeddings").count()
    # an explicit graph-key REPARTITION_BY_NUM still counts as data
    g = load_table(spark, SF_DIR, "orders").selectExpr(
        "o_orderkey AS s", "o_custkey AS t"
    ).repartition(8, "s")
    cg = exchange_census(g)
    assert cg["data"] == 1 and cg["shim"] == 0, cg


def test_shim_classifier_requires_exactly_one_pk_column(spark):
    """r15 advice hardening: the shim classifier must NOT absorb a
    REPARTITION_BY_NUM hash exchange whose parsed column set is empty
    or a multi-column combination of SHIM_KEYS — only the loader's
    single-PK form. A hypothetical engine repartition(n, doc_id,
    event_id) must count as data movement."""
    from kafka_stream_faust_deprecated_spark.io import load_table

    docs = load_table(spark, SF_DIR, "documents").selectExpr(
        "doc_id", "doc_id AS event_id"
    )
    c = exchange_census(docs.repartition(8, "doc_id", "event_id"))
    assert c["data"] == 1 and c["shim"] == 0, c


def _pk_repartitions(src: str, pks: set[str]) -> list[str]:
    """Source of every ``.repartition(<n>, <args...>)`` call in ``src``
    (two or more arguments) where a later argument quotes a table PK
    column. The calls come from the parsed module, so a nested call in
    any argument (``df.rdd.getNumPartitions()``) cannot end the match
    early the way a ``[^)]+`` regex did."""
    hits = []
    for node in ast.walk(ast.parse(src)):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "repartition"
            and len(node.args) > 1
            and any(
                isinstance(c, ast.Constant) and c.value in pks
                for arg in node.args[1:]
                for c in ast.walk(arg)
            )
        ):
            hits.append(ast.get_source_segment(src, node))
    return hits


def test_pk_repartition_scan_sees_nested_first_argument():
    pks = {"doc_id"}
    assert _pk_repartitions(
        'x = df.repartition(df.rdd.getNumPartitions(), "doc_id")', pks
    ) == ['df.repartition(df.rdd.getNumPartitions(), "doc_id")']
    assert _pk_repartitions("x = df.repartition(max(n, 2), F.col('doc_id'))", pks)
    # Single-argument REPARTITION_BY_COL and non-PK keys stay free.
    assert not _pk_repartitions('x = df.repartition("doc_id")', pks)
    assert not _pk_repartitions('x = df.repartition(dp(), "s")', pks)


def test_engine_never_repartitions_by_num_on_table_pk():
    """The census disambiguation contract ('a REPARTITION_BY_NUM hash
    exchange on a single table PK can only be the loader shim') was a
    documented convention; enforce it (r15 advice): no engine query
    module may call repartition(<count>, <SHIM_KEYS column>). Explicit
    single-arg repartition("pk") (REPARTITION_BY_COL, e.g. tpch_q2) and
    graph-key repartition(dp, "s"/"t") remain free."""
    import os

    from kafka_stream_faust_deprecated_spark.io import SHIM_KEYS

    pkg = os.path.join(
        os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))
        ),
        "kafka_stream_faust_deprecated_spark",
    )
    pks = set(SHIM_KEYS.values())
    offenders = []
    for root, _, files in os.walk(pkg):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            if os.path.basename(path) == "io.py":
                continue  # the shim itself lives here
            with open(path) as f:
                hits = _pk_repartitions(f.read(), pks)
            offenders += [(path, h[:80]) for h in hits]
    assert not offenders, offenders
