"""Spark's codegen cache holds the engine's working set: a warm pass over
the LLM-curation queries reuses its compiled classes instead of
compiling them again with Janino."""

from __future__ import annotations

from kafka_stream_faust_deprecated_spark.plans import codegen_totals
from kafka_stream_faust_deprecated_spark.registry import get_query
from tests.conftest import SF_DIR

#: perfbench's ``llm_curation`` workload.
LLM_CURATION = (
    "dedup_exact_documents", "neardup_minhash_lsh", "ann_cosine_ivfpq",
    "semantic_dedup_semdedup", "tfidf_top_terms", "pipeline_curate",
    "bm25_retrieval_topk", "dedup_connected_components",
)


def _pass(spark) -> dict[str, int]:
    """Build and ``noop``-write each query; classes compiled per query."""
    compiled = {}
    for name in LLM_CURATION:
        before, _ = codegen_totals(spark)
        get_query(name).fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        compiled[name] = codegen_totals(spark)[0] - before
    return compiled


def test_warm_pass_reuses_compiled_classes(spark):
    """The second pass compiles at most 10% of what the first compiled.
    With Spark's 100-entry default the ~270 classes of these 8 queries
    do not fit, and the second pass recompiled ~85% of them. With the
    cache sized, a warm pass still compiles up to ~10 classes whose code
    differs only in the stage numbers AQE assigned in that run, and in
    the full suite earlier tests have already compiled some of the first
    pass's classes (it compiled ~190, not ~270), so 5% would be within
    reach of a healthy run. The first pass must be the session's first
    run of most of these classes, as it is when this file runs ahead of
    the oracle tests."""
    first = _pass(spark)
    second = _pass(spark)
    n1, n2 = sum(first.values()), sum(second.values())
    assert n2 <= 0.10 * n1, (
        f"warm pass compiled {n2} of the first pass's {n1} classes"
        f" (cache.maxEntries={spark.conf.get('spark.sql.codegen.cache.maxEntries')});"
        f" first pass {first}, second pass {second}"
    )
