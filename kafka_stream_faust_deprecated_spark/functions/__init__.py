"""Reusable column-expression and UDF building blocks.

Everything here is a *function library*, not a query: queries/ composes
these into registered, oracle-checked entries. Split by domain:

* ``text``       — normalization, tokenization, shingling, hashing
                   primitives for dedup / text analysis (E23, E25)
* ``vectors``    — dot/cosine expressions over ``array<float>``
                   embeddings, deterministic LSH hyperplanes, and the
                   Arrow BLAS kernels (argmax, PQ, LSH, partial sums) (E24)
* ``multimodal`` — binary-payload plumbing and (stubbed) decoders for
                   image/audio columns (E26)

Design rule: JVM-side ``pyspark.sql.functions`` expressions wherever
possible. Where Python must touch data, it does so per Arrow batch: the
vector kernels are ``arrow_udf``/``mapInArrow`` functions that read a
vector column as one numpy matrix (no per-row Python objects), and the
multimodal decoders are Arrow-batched pandas functions.
"""
