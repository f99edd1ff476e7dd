"""Query library — importing this package registers every query.

Modules map to SURVEY.md §7 milestones:

* ``flagship``   — M0: batch twin of the reference's sliding SMA
* ``relational`` — M1: scans/filters/joins/aggs/sorts/set ops (E1-E4, E7, E12, E13)
* ``scalars``    — M2: string/date/math/array/JSON functions (E14-E18)
* ``analytic``   — M3: SQL window functions, rollup/cube, range + as-of
                   joins, approx distinct, batch dedup (E5-E6, E8-E11, E21)
* ``llm``        — M5: dedup / similarity / text analysis / multimodal
                   (E23-E26)
* ``extras``     — overflow operators added after the milestone modules,
                   mostly LLM-corpus curation on ``llm``'s kernels

Registration order is import order: ``flagship_sma_5row`` first, then
each module's queries in definition order. ``llm`` is imported before
the modules that import it at load time (``extras``, ``curation``,
``layout``, ``audit``), so no module registers out of turn.
"""

# Imports are NOT guarded: a broken module must fail the registry load
# loudly, not silently shrink the verified query surface.
for _mod in (
    "flagship",
    "llm",
    "extras",
    "mining",
    "curation",
    "layout",
    "robust",
    "ticker",
    "audit",
    "monitor",
    "inference",
    "analytic",
    "relational",
    "scalars",
    "temporal",
    "tpch",
    "scale",
):
    __import__(f"kafka_stream_faust_deprecated_spark.queries.{_mod}")
