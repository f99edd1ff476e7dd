"""Query registry — the single source of truth behind ``__spark_entry__.py``.

Every batch operator from SURVEY.md §2 registers here as a named
``QuerySpec``: a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus
(when SQL-expressible) the equivalent DuckDB oracle SQL. The driver runs
both sides at sf0.01 and compares row-count + schema + order-insensitive
value-hash, so:

* every computed column is aliased identically on both sides;
* aggregate doubles are rounded identically on both sides (ordering of a
  distributed float sum is nondeterministic — rounding removes last-bit
  noise without hiding real errors);
* timestamps that appear in output are formatted to strings identically
  on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None -> driver does rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query implementation with its oracle twin."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tags, doc=(fn.__doc__ or "").strip()
        )
        return fn

    return deco


def _ensure_loaded() -> None:
    # Import side-effect modules that call ``register``.
    from kafka_stream_faust_deprecated_spark import queries  # noqa: F401


def all_specs() -> dict[str, QuerySpec]:
    _ensure_loaded()
    return dict(_REGISTRY)


def get_query(name: str) -> QuerySpec:
    _ensure_loaded()
    return _REGISTRY[name]


def all_queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_specs().items()}


def all_oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in all_specs().items() if spec.oracle is not None
    }
