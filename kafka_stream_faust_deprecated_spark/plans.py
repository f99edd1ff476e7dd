"""Plan introspection — the exchange census behind the plan-hygiene
guards and perfbench's ``plans.exchanges_*`` metrics, and the JVM's
codegen compile counters, as an engine API.

A 100 TB deployment treats "how many times does data move, keyed on
what" as a deployable property: CI diffs the census of each production
query against a pinned baseline so a plan regression (a new shuffle, a
broadcast flipping to a sort-merge join) fails the build instead of the
cluster.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

_EXCHANGE = re.compile(
    r"Exchange (hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)\(?([^)]*)"
)


def executed_plan(df: DataFrame) -> str:
    """The final (post-AQE-planning) physical plan string."""
    return df._jdf.queryExecution().executedPlan().toString()


def exchange_census(df_or_plan: DataFrame | str) -> dict:
    """Count the plan's exchanges by kind.

    Returns ``{"data": n, "data_keys": [cols...], "broadcast": n,
    "single": n, "shim": n}`` where ``data`` covers hash/range
    partitionings (real keyed data movement, with their partition key
    column names), ``single`` the single-partition collapses (bounded
    aggregates when legitimate), and ``shim`` the repartitions injected
    by ``load_table_parallel``'s small-fixture parallelism guard —
    absent on real cluster scans. Since r14 the shim hash-partitions on
    the table's unique key (``io.SHIM_KEYS``) instead of round-robin
    (which pays a hidden local sort, SPARK-23207), so a shim exchange
    is recognized as a ``REPARTITION_BY_NUM``-tagged hash exchange on a
    single SHIM_KEYS column (the engine's explicit graph repartitions
    use graph-node keys, never a table PK, so the tag+key pair is
    unambiguous); round-robin REPARTITION_BY_NUM stays recognized for
    cross-round comparability. ``ReusedExchange`` nodes are not
    double-counted.
    """
    from kafka_stream_faust_deprecated_spark.io import SHIM_KEYS

    shim_cols = set(SHIM_KEYS.values())
    plan = (
        df_or_plan if isinstance(df_or_plan, str) else executed_plan(df_or_plan)
    )
    data_keys: list[str] = []
    single = broadcast = shim = 0
    for line in plan.splitlines():
        if "ReusedExchange" in line:
            continue
        if "BroadcastExchange" in line:
            broadcast += 1
            continue
        m = _EXCHANGE.search(line)
        if not m:
            continue
        kind, args = m.groups()
        if kind == "SinglePartition":
            single += 1
        elif kind == "RoundRobinPartitioning":
            shim += 1
        elif (
            kind == "hashpartitioning"
            and "REPARTITION_BY_NUM" in line
            and len(cols := {c.split("#")[0] for c in re.findall(r"(\w+)#\d+", args)})
            == 1
            and next(iter(cols)) in shim_cols
        ):
            # Exactly ONE parsed column, and it is a table PK (r15
            # advice hardening: the old subset test also matched an
            # EMPTY parsed set and multi-column SHIM_KEYS combinations,
            # neither of which the loader shim ever produces).
            # tests/test_plans_api.py::test_engine_never_repartitions_by_num_on_table_pk
            # enforces the other half of the disambiguation contract:
            # engine query code never calls repartition(n, <table PK>),
            # so this tag+key pair can only come from io.load_table_parallel.
            shim += 1
        else:
            cols = ", ".join(
                sorted({c.split("#")[0] for c in re.findall(r"(\w+)#\d+", args)})
            )
            data_keys.append(cols or kind)
    return {
        "data": len(data_keys),
        "data_keys": data_keys,
        "broadcast": broadcast,
        "single": single,
        "shim": shim,
    }


def assert_census(df: DataFrame, *, max_data: int | None = None,
                  forbid_keys: tuple[str, ...] = ()) -> dict:
    """CI-style guard: raise if the plan moves data more than
    ``max_data`` times or partitions on any forbidden key (e.g. a
    corpus row id). Returns the census for logging."""
    c = exchange_census(df)
    if max_data is not None and c["data"] > max_data:
        raise AssertionError(
            f"plan has {c['data']} keyed exchanges (max {max_data}): {c['data_keys']}"
        )
    for keys in c["data_keys"]:
        for bad in forbid_keys:
            if bad in [k.strip() for k in keys.split(",")]:
                raise AssertionError(f"plan partitions on forbidden key {bad!r}: {keys}")
    return c


def codegen_totals(spark: SparkSession) -> tuple[int, float]:
    """``(classes, seconds)``: the generated classes this JVM has
    compiled with Janino since it started, driver and executor side, and
    the time spent compiling them. Only a miss in Spark's codegen cache
    compiles, so the delta around a warm run should be about 0; a warm
    run that compiles means the cache overflowed
    (``spark.sql.codegen.cache.maxEntries``) or the run generated code
    it had not generated before."""
    jvm = spark._jvm
    metric = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return metric.getCount(), nanos / 1e9
