"""kafka_stream_faust_deprecated_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference stream processor RaphaFang/kafka-stream-faust-Deprecated
(a Faust Kafka->Kafka per-symbol 5-second sliding-SMA pipeline,
``faust_app/ma_agg.py``), extended with the relational / scalar /
window / streaming / LLM-data-pipeline operator surface described in
SURVEY.md §2.

Design principles (see SURVEY.md §4, §7):

* DataFrame/SQL first — declare logical plans, let Catalyst pick the
  physical strategy (broadcast vs sort-merge joins, partial aggregation,
  predicate pushdown, AQE re-planning).
* Python over data only where built-ins genuinely cannot express the
  work, and then per Arrow batch: ``arrow_udf``/``mapInArrow`` for the
  vector kernels (one BLAS matmul per batch, no per-row Python objects),
  pandas functions only where the logic is pandas-shaped (as-of join
  fallback, multimodal decode).
* Structured Streaming for the reference's actual surface: watermarked
  sliding-window aggregation with a window-completeness gate.
* Every batch operator ships with a DuckDB-oracle SQL twin so the
  driver's differential harness can verify it (``__spark_entry__.py``).
"""

from kafka_stream_faust_deprecated_spark.session import get_spark
from kafka_stream_faust_deprecated_spark.io import (
    TABLES,
    compact_parquet,
    load_table,
    register_views,
)
from kafka_stream_faust_deprecated_spark.plans import assert_census, exchange_census
from kafka_stream_faust_deprecated_spark.registry import (
    QuerySpec,
    all_queries,
    all_oracle_sql,
    get_query,
)

__all__ = [
    "get_spark",
    "TABLES",
    "load_table",
    "register_views",
    "compact_parquet",
    "exchange_census",
    "assert_census",
    "QuerySpec",
    "all_queries",
    "all_oracle_sql",
    "get_query",
]

__version__ = "0.1.0"
