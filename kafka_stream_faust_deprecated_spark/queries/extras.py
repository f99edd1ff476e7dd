"""Overflow query module: operators added after the milestone modules.

Mostly LLM-corpus curation built on ``queries.llm``'s kernels (chunking,
DSIR weights, SemDeDup, PQ/IVFPQ indexes, k-means training, BM25,
training-set prep), plus a few relational and event operators (DAU/WAU,
RFM segments, capped sessions, hot keys, merge-upsert).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_stream_faust_deprecated_spark.functions.rounding import round_det
from kafka_stream_faust_deprecated_spark.functions.text import (
    norm_text,
    tokens,
    word_shingles,
)
from kafka_stream_faust_deprecated_spark.io import load_table, load_table_parallel
from kafka_stream_faust_deprecated_spark.queries.llm import SQL_NORM
from kafka_stream_faust_deprecated_spark.registry import register
from kafka_stream_faust_deprecated_spark.session import cached

DSIR_TARGET_LANG = "en"


@register(
    "dedup_exact_keep_best",
    oracle=f"""
WITH t AS (
    SELECT doc_id, lang, source,
           md5({SQL_NORM}) AS content_hash,
           len(string_split({SQL_NORM}, ' ')) AS n_tok
    FROM documents
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY content_hash ORDER BY n_tok DESC, doc_id
    ) AS rn,
    count(*) OVER (PARTITION BY content_hash) AS n_copies
    FROM t
)
SELECT doc_id, lang, source, content_hash,
       n_tok::BIGINT AS n_tok, n_copies::BIGINT AS n_copies
FROM ranked WHERE rn = 1
""",
    tags=("E23",),
)
def dedup_exact_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup that keeps the BEST copy per content hash instead of
    an arbitrary one — production pipelines keep the longest / highest-
    quality duplicate (here: most tokens, doc_id as the deterministic
    tiebreak), not the first seen. Complements dedup_exact_documents
    (which reports groups) by emitting the surviving corpus rows.

    Scale shape: one scan computes the hash and the quality key; ONE
    exchange on the 32-byte hash feeds a partitioned row_number — no
    global sort, no self-join, and the window partitions are duplicate
    groups (tiny by definition)."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "lang",
        "source",
        F.md5(norm_text(F.col("text"))).alias("content_hash"),
        F.size(tokens(F.col("text"))).alias("n_tok"),
    )
    w = Window.partitionBy("content_hash").orderBy(
        F.col("n_tok").desc(), F.col("doc_id")
    )
    wc = Window.partitionBy("content_hash")
    return (
        t.withColumn("rn", F.row_number().over(w))
        .withColumn("n_copies", F.count("*").over(wc))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            "lang",
            "source",
            "content_hash",
            F.col("n_tok").cast("long").alias("n_tok"),
            F.col("n_copies").cast("long").alias("n_copies"),
        )
    )


@register(
    "events_dau_wau",
    oracle="""
WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
dau AS (SELECT d, count(*)::BIGINT AS dau FROM ud GROUP BY d),
contrib AS (
    SELECT user_id, d + CAST(off AS INT) AS win_day
    FROM (SELECT user_id, d, unnest(generate_series(0, 6)) AS off FROM ud) t
),
wau AS (
    SELECT win_day AS d, count(DISTINCT user_id)::BIGINT AS wau
    FROM contrib GROUP BY win_day
)
SELECT dau.d AS d, dau.dau AS dau, wau.wau AS wau,
       (floor((dau.dau * 1.0 / wau.wau) * 10000.0 + 0.5) / 10000.0) AS stickiness
FROM dau JOIN wau USING (d)
""",
    tags=("E7", "E19"),
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily / trailing-7-day active users plus the DAU/WAU stickiness
    ratio. COUNT(DISTINCT) over a sliding window is not expressible as
    a Spark window function, and the naive fix — a per-day self-join
    over a date-range predicate — explodes. The scalable shape: each
    distinct (user, day) row CONTRIBUTES itself to the 7 window days it
    belongs to (a bounded explode of 0..6 day offsets), turning the
    sliding distinct into a plain groupBy-distinct keyed on the window
    day. Fan-out is exactly 7x the distinct activity set, independent
    of corpus size; both aggregations are map-side-combinable
    exchanges. (Reported days cover every window END a user
    contributes to; WAU for days past the data's edge reflects the
    trailing week by construction in both engines.)"""
    ev = load_table_parallel(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    dau = ud.groupBy("d").agg(F.count("*").alias("dau"))
    contrib = ud.select(
        "user_id", "d", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off")
    ).select("user_id", F.date_add(F.col("d"), F.col("off")).alias("win_day"))
    wau = contrib.groupBy(F.col("win_day").alias("d")).agg(
        F.countDistinct("user_id").alias("wau")
    )
    return dau.join(wau, "d").select(
        "d",
        "dau",
        "wau",
        round_det(F.col("dau") / F.col("wau"), 4).alias("stickiness"),
    )


@register(
    "customer_rfm_segments",
    oracle="""
WITH c AS (
    SELECT o_custkey,
           date_diff('day', DATE '1970-01-01', max(CAST(o_orderdate AS DATE)))::BIGINT AS recd,
           count(*)::BIGINT AS freq,
           (floor((sum(o_totalprice)) * 10000.0 + 0.5) / 10000.0) AS monetary
    FROM orders GROUP BY 1
),
cuts AS (
    SELECT quantile_cont(recd, 0.33) AS r1, quantile_cont(recd, 0.66) AS r2,
           quantile_cont(freq, 0.33) AS f1, quantile_cont(freq, 0.66) AS f2,
           quantile_cont(monetary, 0.33) AS m1, quantile_cont(monetary, 0.66) AS m2
    FROM c
)
SELECT o_custkey, recd, freq, monetary,
       (CASE WHEN recd <= r1 THEN 1 WHEN recd <= r2 THEN 2 ELSE 3 END)::BIGINT AS r_score,
       (CASE WHEN freq <= f1 THEN 1 WHEN freq <= f2 THEN 2 ELSE 3 END)::BIGINT AS f_score,
       (CASE WHEN monetary <= m1 THEN 1 WHEN monetary <= m2 THEN 2 ELSE 3 END)::BIGINT AS m_score
FROM c CROSS JOIN cuts
""",
    tags=("E7",),
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency / frequency / monetary customer segmentation with EXACT
    tercile cutoffs. The textbook formulation is ntile(3) over three
    global orderings — three single-task total sorts at scale. The
    scalable shape: one customer-keyed aggregation, ONE exact-percentile
    aggregate row (six scalars) broadcast back, and a pure-projection
    CASE per customer — no global sort anywhere, and the cutoffs are
    value-identical to DuckDB's quantile_cont (same interpolation as
    Spark's percentile), so scoring matches the oracle bit-for-bit.
    (Ties straddling a cutoff land on the same side in both engines;
    vs ntile, equal values never split across segments.)"""
    o = load_table_parallel(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.unix_date(F.to_date(F.max("o_orderdate"))).cast("long").alias("recd"),
        F.count("*").alias("freq"),
        round_det(F.sum("o_totalprice"), 4).alias("monetary"),
    )
    cuts = c.agg(
        F.percentile("recd", 0.33).alias("r1"),
        F.percentile("recd", 0.66).alias("r2"),
        F.percentile("freq", 0.33).alias("f1"),
        F.percentile("freq", 0.66).alias("f2"),
        F.percentile("monetary", 0.33).alias("m1"),
        F.percentile("monetary", 0.66).alias("m2"),
    )

    def _score(v, c1, c2):
        return (
            F.when(F.col(v) <= F.col(c1), 1)
            .when(F.col(v) <= F.col(c2), 2)
            .otherwise(3)
            .cast("long")
        )

    return c.crossJoin(F.broadcast(cuts)).select(
        "o_custkey",
        "recd",
        "freq",
        "monetary",
        _score("recd", "r1", "r2").alias("r_score"),
        _score("freq", "f1", "f2").alias("f_score"),
        _score("monetary", "m1", "m2").alias("m_score"),
    )


def _cluster_hist_oracle() -> str:
    from kafka_stream_faust_deprecated_spark.queries.llm import _cc_oracle

    return f"""
SELECT cluster_size::BIGINT AS cluster_size,
       count(DISTINCT cluster_id)::BIGINT AS n_clusters
FROM ({_cc_oracle()})
GROUP BY 1
"""


@register("dedup_cluster_size_histogram", oracle=_cluster_hist_oracle(), tags=("E23",))
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact report: how many near-dup clusters exist at each
    size (singletons included) — the number a pipeline owner reads to
    decide whether dedup is worth the pass and to spot pathological
    mega-clusters (boilerplate explosions) before deleting anything.

    Scale shape: reuses the memoized SimHash pair stage and the
    contract-then-propagate clustering (cluster_pairs); the histogram
    itself reduces the per-cluster sizes (<= number of clusters rows)
    twice — both map-side-combinable — and the singleton count is one
    anti-join of doc_ids against the (tiny) pair-incident label set,
    added as a histogram row, never materializing singleton rows."""
    from kafka_stream_faust_deprecated_spark.queries.llm import (
        _simhash_pairs,
        cluster_pairs,
    )

    labels = cluster_pairs(_simhash_pairs(spark, sf_dir))
    sizes = labels.groupBy("lab").agg(F.count("*").alias("sz"))
    multi = sizes.groupBy("sz").agg(F.count("*").alias("n_clusters")).select(
        F.col("sz").cast("long").alias("cluster_size"),
        F.col("n_clusters").cast("long").alias("n_clusters"),
    )
    docs = load_table_parallel(spark, sf_dir, "documents").select("doc_id")
    singles = (
        docs.join(labels.select("doc_id"), "doc_id", "left_anti")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
        )
        .where(F.col("n_clusters") > 0)
    )
    return multi.unionByName(singles)


#: Sequence-packing parameters: the token budget per pack (a training
#: context window) and the shard fan-out that makes packing parallel.
PACK_BUDGET = 1024
PACK_SHARDS = 64


@register(
    "doc_pack_token_budget",
    oracle=f"""
WITH t AS (
    SELECT doc_id, lang, doc_id % {PACK_SHARDS} AS shard,
           len(string_split({SQL_NORM}, ' ')) AS n_tok
    FROM documents
),
c AS (
    SELECT *, sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum
    FROM t
)
SELECT doc_id, lang, shard::BIGINT AS shard, n_tok::BIGINT AS n_tok,
       CAST(floor((cum - n_tok) / {PACK_BUDGET}.0) AS BIGINT) AS pack_id
FROM c
""",
    tags=("E25",),
)
def doc_pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign each document to a fixed-token-budget
    pack (training context window) by its starting offset in a running
    token count — the step that turns a curated corpus into fixed-size
    training sequences. A doc whose cumulative start crosses a budget
    boundary opens the next pack (docs are not split here; splitting is
    a downstream flat-map over the pack members).

    Scale shape: packing is inherently sequential, so the corpus is
    sharded FIRST — (lang, doc_id % {PACK_SHARDS}) — and each shard
    packs independently: one exchange on the composite shard key, then
    a running-sum window whose partitions are corpus_size/shards rows.
    Parallelism is the shard count (tune to cluster cores), not 1; a
    global single-sequence pack would serialize the whole corpus
    through one partition. The oracle runs the identical window in
    DuckDB."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "lang",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        F.size(tokens(F.col("text"))).alias("n_tok"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t.select(
        "doc_id",
        "lang",
        F.col("shard").cast("long").alias("shard"),
        F.col("n_tok").cast("long").alias("n_tok"),
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / float(PACK_BUDGET))
        .cast("long")
        .alias("pack_id"),
    )


@register(
    "embedding_quantize_int8",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
    SELECT vec_id, v,
           127.0 / greatest(list_aggregate(list_transform(v, x -> abs(x)), 'max'),
                            1e-12) AS scale
    FROM e
),
q AS (
    SELECT vec_id, scale,
           list_transform(v, x -> abs(x - least(127.0, greatest(-127.0,
                              floor(x * scale + 0.5))) / scale)) AS errs
    FROM s
)
SELECT vec_id, (floor((scale) * 1000000.0 + 0.5) / 1000000.0) AS scale,
       (floor((list_aggregate(errs, 'max')) * 1000000.0 + 0.5) / 1000000.0) AS max_abs_err,
       (floor((list_aggregate(errs, 'sum') / len(errs)) * 1000000.0 + 0.5) / 1000000.0) AS mean_abs_err
FROM q
""",
    tags=("E24",),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization audit: scale = 127/amax,
    code = clamp(floor(x*scale + 0.5), ±127), reporting the scale and
    the reconstruction error stats (max / mean absolute error) — the
    compression step that shrinks an ANN index 4x before serving, with
    the error report telling you whether recall will survive it.

    Both engines round codes with the SAME explicit floor(x*s + 0.5)
    expression rather than their built-in round() (whose half-way tie
    rules differ), so code values — and therefore the error stats —
    are bit-identical.

    Scale shape: a pure two-projection pipeline over one scan — the
    per-vector max, the scale, the error array, and its reductions are
    all JVM array expressions with zero joins, zero shuffles, and
    nothing corpus-sized on the driver. At 1B vectors this runs at
    scan speed; the codes themselves (not materialized here) would be
    written back as an array<tinyint> column in the same pass."""
    e = load_table_parallel(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    amax = F.greatest(
        F.array_max(F.transform(F.col("v"), lambda x: F.abs(x.cast("double")))),
        F.lit(1e-12),
    )
    s = e.select("vec_id", "v", (F.lit(127.0) / amax).alias("scale"))

    def _err(x):
        code = F.least(
            F.lit(127.0),
            F.greatest(
                F.lit(-127.0),
                F.floor(x.cast("double") * F.col("scale") + F.lit(0.5)),
            ),
        )
        return F.abs(x.cast("double") - code / F.col("scale"))

    q = s.select("vec_id", "scale", F.transform(F.col("v"), _err).alias("errs"))
    return q.select(
        "vec_id",
        round_det(F.col("scale"), 6).alias("scale"),
        round_det(F.array_max("errs"), 6).alias("max_abs_err"),
        round_det(F.aggregate("errs", F.lit(0.0), lambda a, x: a + x) / F.size("errs"), 6).alias("mean_abs_err"),
    )


#: Chunking parameters: tokens per training chunk and the stride between
#: chunk starts (overlap = CHUNK_TOKENS - CHUNK_STRIDE).
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48

_SQL_CHUNK_SLICE = (
    f"list_slice(toks, chunk_id * {CHUNK_STRIDE} + 1, "
    f"chunk_id * {CHUNK_STRIDE} + {CHUNK_TOKENS})"
)


@register(
    "doc_chunk_overlap",
    oracle=f"""
WITH t AS (
    SELECT doc_id, string_split({SQL_NORM}, ' ') AS toks,
           len(string_split({SQL_NORM}, ' ')) AS n_tok
    FROM documents
),
c AS (
    SELECT doc_id, n_tok, toks,
           unnest(generate_series(0,
               CAST(floor((greatest(n_tok - {CHUNK_TOKENS}, 0)
                           + {CHUNK_STRIDE - 1}) / {CHUNK_STRIDE}.0) AS INT)
           )) AS chunk_id
    FROM t
)
SELECT doc_id, chunk_id::BIGINT AS chunk_id,
       len({_SQL_CHUNK_SLICE})::BIGINT AS n_chunk_tok,
       md5(array_to_string({_SQL_CHUNK_SLICE}, ' ')) AS chunk_hash
FROM c
""",
    tags=("E25",),
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token-window chunking with overlap — the step that turns
    variable-length curated documents into model-context-sized training
    chunks ({CHUNK_TOKENS} tokens, stride {CHUNK_STRIDE}, so consecutive
    chunks share the trailing tokens and no boundary context is lost).
    Every token lands in at least one chunk; the last chunk of a doc may
    run short. Emits (doc_id, chunk_id, token count, content hash) — a
    downstream writer joins the hash-addressed chunk text back out.

    Scale shape: tokenize + chunk-count + explode + slice is a single
    zero-shuffle scan-projection pipeline (the explode fan-out is
    ceil(doc_tokens/stride) rows per doc — the output's inherent size,
    nothing quadratic), so at 100 TB this runs at scan speed with no
    exchange at all. The per-chunk md5 keys any downstream exact-dedup
    of chunks without rereading text."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens(F.col("text")).alias("toks")).select(
        "doc_id", "toks", F.size("toks").alias("n_tok")
    )
    last_chunk = F.floor(
        (F.greatest(F.col("n_tok") - CHUNK_TOKENS, F.lit(0)) + (CHUNK_STRIDE - 1))
        / float(CHUNK_STRIDE)
    ).cast("int")
    c = t.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), last_chunk)).alias("chunk_id"),
    )
    ctoks = F.slice(
        F.col("toks"), F.col("chunk_id") * CHUNK_STRIDE + 1, F.lit(CHUNK_TOKENS)
    )
    return c.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(ctoks).cast("long").alias("n_chunk_tok"),
        F.md5(F.concat_ws(" ", ctoks)).alias("chunk_hash"),
    )


@register(
    "dsir_importance_weights",
    oracle=f"""
WITH t AS (
    SELECT doc_id, lang, unnest(string_split({SQL_NORM}, ' ')) AS tok
    FROM documents
),
v AS (
    SELECT tok, count(*)::DOUBLE AS c_all,
           sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)::DOUBLE AS c_tgt
    FROM t GROUP BY tok
),
tot AS (
    SELECT sum(c_all) AS n_all, sum(c_tgt) AS n_tgt, count(*)::DOUBLE AS vsz FROM v
),
p AS (
    SELECT tok, ln((c_tgt + 1) / (n_tgt + vsz)) - ln((c_all + 1) / (n_all + vsz)) AS lr
    FROM v CROSS JOIN tot
)
SELECT doc_id, lang, count(*)::BIGINT AS n_tokens,
       (floor((avg(lr)) * 10000.0 + 0.5) / 10000.0) + 0.0 AS avg_log_ratio
FROM t JOIN p USING (tok)
GROUP BY doc_id, lang
""",
    tags=("E25",),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling", reduced to unigram
    features): per document, the mean log-likelihood ratio of its tokens
    under an add-one-smoothed target-distribution unigram LM (here: the
    '{DSIR_TARGET_LANG}' subset) vs the whole-corpus unigram LM. High
    ratio = looks like the target domain; a downstream sampler resamples
    proportional to exp(ratio). Complements doc_unigram_nll (absolute
    fluency) with a RELATIVE domain-match signal.

    Scale shape: both LMs come out of ONE token-keyed count shuffle over
    a single corpus scan (the target counts are a conditional sum in the
    same aggregate, not a second pass); the three normalizing totals
    reduce the vocabulary-bounded relation to one broadcast row; scoring
    re-joins tokens to the vocabulary on the token key (zipf-skewed, AQE
    splits hot tokens) and reduces per doc. No all-pairs, no driver
    state, and swapping in a real external target corpus only replaces
    the c_tgt column's source."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("tok")
    )
    v = t.groupBy("tok").agg(
        F.count("*").cast("double").alias("c_all"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
        ).cast("double").alias("c_tgt"),
    )
    tot = v.agg(
        F.sum("c_all").alias("n_all"),
        F.sum("c_tgt").alias("n_tgt"),
        F.count("*").cast("double").alias("vsz"),
    )
    p = v.crossJoin(F.broadcast(tot)).select(
        "tok",
        (
            F.log((F.col("c_tgt") + 1) / (F.col("n_tgt") + F.col("vsz")))
            - F.log((F.col("c_all") + 1) / (F.col("n_all") + F.col("vsz")))
        ).alias("lr"),
    )
    return (
        t.join(p, "tok")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_tokens"),
            # + 0.0 folds IEEE -0.0 to 0.0 (a near-zero mean ratio can
            # round to either sign of zero; both engines add it).
            (round_det(F.avg("lr"), 4) + F.lit(0.0)).alias("avg_log_ratio"),
        )
    )


#: Training-intake quality floor. Deliberately LOOSER than
#: pipeline_curate's audit threshold (0.45, which this synthetic corpus
#: almost never reaches — curate is the strict audit, intake is the
#: recall-oriented gate): every other flag (language, token bounds,
#: contamination, canonical) is reused from the audited stage verbatim.
PREP_MIN_QUALITY = 0.33


def _prepare_training_oracle() -> str:
    """Chains the REGISTERED curate oracle (as a nested-WITH CTE) with
    the chunking and packing stages, so the composed pipeline's oracle
    can never drift from the standalone curate oracle's semantics."""
    from kafka_stream_faust_deprecated_spark.registry import get_query

    curate = get_query("pipeline_curate").oracle
    keep = (
        "c.lang_ok AND c.tok_ok AND c.cont_ok AND c.is_canonical "
        f"AND c.quality >= {PREP_MIN_QUALITY}"
    )
    slice_ = (
        f"list_slice(toks, chunk_id * {CHUNK_STRIDE} + 1, "
        f"chunk_id * {CHUNK_STRIDE} + {CHUNK_TOKENS})"
    )
    return f"""
WITH curate AS ({curate}),
dt AS (
    SELECT d.doc_id, string_split({SQL_NORM}, ' ') AS toks,
           len(string_split({SQL_NORM}, ' ')) AS n_tok
    FROM documents d JOIN curate c ON c.doc_id = d.doc_id AND {keep}
),
ch AS (
    SELECT doc_id, n_tok, toks,
           unnest(generate_series(0,
               CAST(floor((greatest(n_tok - {CHUNK_TOKENS}, 0)
                           + {CHUNK_STRIDE - 1}) / {CHUNK_STRIDE}.0) AS INT)
           )) AS chunk_id
    FROM dt
),
cc AS (
    SELECT doc_id, chunk_id, len({slice_}) AS n_chunk_tok,
           doc_id % {PACK_SHARDS} AS shard
    FROM ch
),
packed AS (
    SELECT *, sum(n_chunk_tok) OVER (PARTITION BY shard
                                     ORDER BY doc_id, chunk_id
                                     ROWS UNBOUNDED PRECEDING) AS cum
    FROM cc
)
SELECT doc_id, chunk_id::BIGINT AS chunk_id,
       n_chunk_tok::BIGINT AS n_chunk_tok, shard::BIGINT AS shard,
       CAST(floor((cum - n_chunk_tok) / {PACK_BUDGET}.0) AS BIGINT) AS pack_id
FROM packed
"""


@register(
    "pipeline_prepare_training",
    oracle=_prepare_training_oracle(),
    tags=("E23", "E25"),
)
def pipeline_prepare_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE training-data preparation flagship: curate (language
    + token bounds + contamination + exact-dedup canonical from the
    audited stage, quality at the PREP_MIN_QUALITY intake floor) ->
    chunk the kept docs into {CHUNK_TOKENS}-token windows (stride
    {CHUNK_STRIDE}) -> assign every chunk a pack id under the
    {PACK_BUDGET}-token budget, sharded {PACK_SHARDS} ways. The output
    is the (doc, chunk, shard, pack) manifest a writer would turn into
    fixed-length training sequences — what an actual pretraining intake
    job runs end to end.

    Scale shape: reuses pipeline_curate's single persisted tokenize
    stage for every curation signal AND the chunker (the retained-id
    join reads the cache, not the parquet); chunk explode is a pure
    projection; packing shards FIRST like doc_pack_token_budget so the
    running-sum window parallelizes by shard. The oracle embeds the
    registered curate oracle verbatim as a nested CTE, so the composed
    semantics can never drift from the audited stage."""
    from kafka_stream_faust_deprecated_spark.queries.llm import (
        _curate_audit,
        _curate_token_stage,
    )

    tok = _curate_token_stage(spark, sf_dir).persist()
    try:
        kept = (
            _curate_audit(tok)
            .where(
                F.col("lang_ok")
                & F.col("tok_ok")
                & F.col("cont_ok")
                & F.col("is_canonical")
                & (F.col("quality") >= PREP_MIN_QUALITY)
            )
            .select("doc_id")
        )
        t = tok.join(kept, "doc_id").select(
            "doc_id", F.col("tk").alias("toks"), F.size("tk").alias("n_tok")
        )
        last_chunk = F.floor(
            (F.greatest(F.col("n_tok") - CHUNK_TOKENS, F.lit(0)) + (CHUNK_STRIDE - 1))
            / float(CHUNK_STRIDE)
        ).cast("int")
        c = t.select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(0), last_chunk)).alias("chunk_id"),
        )
        cc = c.select(
            "doc_id",
            "chunk_id",
            F.size(
                F.slice(
                    F.col("toks"),
                    F.col("chunk_id") * CHUNK_STRIDE + 1,
                    F.lit(CHUNK_TOKENS),
                )
            ).alias("n_chunk_tok"),
            (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        )
        w = (
            Window.partitionBy("shard")
            .orderBy("doc_id", "chunk_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        result = cc.select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.col("n_chunk_tok").cast("long").alias("n_chunk_tok"),
            F.col("shard").cast("long").alias("shard"),
            F.floor(
                (F.sum("n_chunk_tok").over(w) - F.col("n_chunk_tok"))
                / float(PACK_BUDGET)
            )
            .cast("long")
            .alias("pack_id"),
        )
        return result.localCheckpoint(eager=True)
    finally:
        tok.unpersist()


@register(
    "event_transition_matrix",
    oracle="""
WITH seq AS (
    SELECT user_id, event_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type
    FROM events
),
c AS (
    SELECT event_type, next_type, count(*)::BIGINT AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY 1, 2
)
SELECT event_type, next_type, n,
       (floor((n * 1.0 / sum(n) OVER (PARTITION BY event_type)) * 10000.0 + 0.5) / 10000.0) AS p
FROM c
""",
    tags=("E7", "E10"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for each (event_type -> next event_type) pair, the
    observed count and the row-normalized transition probability —
    the product-analytics primitive behind flow diagrams and
    next-action prediction baselines, complementing funnel_conversion
    (fixed path) with the full transition structure.

    Scale shape: one exchange on user_id for the lead() window (the
    sequence partitions are per-user event counts), then a
    map-side-combinable count aggregate whose output is bounded by
    event_type² — the row normalization window runs over that
    catalog²-bounded relation, never the event log."""
    ev = load_table_parallel(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    c = seq.groupBy("event_type", "next_type").agg(F.count("*").alias("n"))
    wt = Window.partitionBy("event_type")
    return c.select(
        "event_type",
        "next_type",
        "n",
        round_det(F.col("n") / F.sum("n").over(wt), 4).alias("p"),
    )


@register(
    "source_shingle_overlap",
    oracle=f"""
WITH toks AS (SELECT source, string_split({SQL_NORM}, ' ') AS tk FROM documents),
sh AS (
    SELECT DISTINCT source,
           unnest(list_transform(range(1, len(tk) - 1),
                                 i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
    FROM toks
),
tot AS (SELECT source, count(*)::BIGINT AS n FROM sh GROUP BY source),
ov AS (
    SELECT a.source AS source_a, b.source AS source_b, count(*)::BIGINT AS n_shared
    FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
    GROUP BY 1, 2
)
SELECT source_a, source_b, n_shared, ta.n AS n_a, tb.n AS n_b,
       (floor((n_shared * 1.0 / (ta.n + tb.n - n_shared)) * 10000.0 + 0.5) / 10000.0) AS jaccard
FROM ov
JOIN tot ta ON ta.source = source_a
JOIN tot tb ON tb.source = source_b
""",
    tags=("E23", "E25"),
)
def source_shingle_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise SOURCE-level redundancy: the Jaccard similarity of each
    source pair's distinct 3-word-shingle sets. The corpus-curation
    signal for "these two crawls/feeds substantially restate each
    other" — pairs containing planted near-dups surface with 2-4x the
    background overlap — read before deciding which sources to
    downweight or cross-deduplicate.

    Scale shape — NO self-join, ONE corpus scan: the scan explodes
    shingles into ``groupBy(shingle).collect_set(source)`` (a single
    exchange with map-side partial set-merge; each set is bounded by
    the source catalog, O(10-100) at any corpus size, the relation by
    the shingle vocabulary). A pure array projection then emits every
    ordered source pair INCLUDING the (a, a) self-pairs (<=
    C(sources, 2) + sources structs per shingle), so one further
    catalog²-bounded count aggregate yields the shared counts AND the
    per-source totals (the a = b rows) together; only that tiny
    relation is checkpointed for its two readers. The naive
    shingle-keyed self-join recomputes the corpus explode on both
    sides and fans out n_a x n_b rows per hot shingle before
    filtering — measured 7.4 s vs 1.4 s at sf0.1."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    by_sh = (
        docs.select(
            "source", F.explode(word_shingles(tokens(F.col("text")))).alias("s")
        )
        .groupBy("s")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
    )
    # slice from i+1 (1-based) keeps element i itself: (a, a) marks the
    # per-source shingle total, (a, b>a) the shared count.
    pair_structs = F.expr(
        "flatten(transform(srcs, (a, i) ->"
        " transform(slice(srcs, i + 1, size(srcs)), b ->"
        " named_struct('source_a', a, 'source_b', b))))"
    )
    counts = (
        by_sh.select(F.explode(pair_structs).alias("p"))
        .select("p.source_a", "p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared"))
        .localCheckpoint(eager=False)
    )
    ov = counts.where(F.col("source_a") < F.col("source_b"))
    tot = counts.where(F.col("source_a") == F.col("source_b")).select(
        F.col("source_a").alias("source"), F.col("n_shared").alias("n")
    )
    ta = tot.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    tb = tot.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    return (
        ov.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            round_det(F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")), 4).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# SemDeDup and the k-means TRAINING loop (the single-step
# kmeans_lloyd_step stays in llm)
# ---------------------------------------------------------------------------

from kafka_stream_faust_deprecated_spark.functions.vectors import (  # noqa: E402
    PARTIAL_SUMS_SCHEMA,
    centroid_argmax,
    cosine_scoring,
    partial_sums,
    pq_encode,
    pq_scoring,
)
from kafka_stream_faust_deprecated_spark.queries.llm import (  # noqa: E402
    _ANN_BITS_SQL,
    _IVF_K_SQL,
    _SQL_DOT,
    _embeddings_count,
    _ivf_centroids,
    _ivf_k,
    _memo_expr,
    _sql_norm_of,
    _winner_score_sql,
)


#: Within-cell cosine above which the higher-id vector is pruned.
SEMDEDUP_COS = 0.35


def _semdedup_oracle() -> str:
    from kafka_stream_faust_deprecated_spark.queries.llm import (
        _ANN_BITS_SQL,
        _IVF_K_SQL,
        _ivf_centroids,
    )

    values = ",\n      ".join(
        f"({cid}, [{', '.join(repr(c) for c in comp)}]::DOUBLE[], {norm!r})"
        for cid, comp, norm in _ivf_centroids()
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
nb AS (SELECT {_ANN_BITS_SQL} AS bits),
nk AS (SELECT {_IVF_K_SQL} AS k),
cents_all(cid, c, cn) AS (VALUES
      {values}
),
cents AS (SELECT * FROM cents_all WHERE cid < (SELECT k FROM nk)),
scores AS (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY list_dot_product(v, c) / cn DESC, cid) AS rn
    FROM e CROSS JOIN cents
),
m AS (
    SELECT e.vec_id, s.cid, e.v, sqrt(list_dot_product(e.v, e.v)) AS nrm
    FROM e JOIN (SELECT vec_id, cid FROM scores WHERE rn = 1) s USING (vec_id)
),
removed AS (
    SELECT DISTINCT hi.vec_id
    FROM m hi JOIN m lo ON hi.cid = lo.cid AND lo.vec_id < hi.vec_id
    WHERE list_dot_product(hi.v, lo.v) / (hi.nrm * lo.nrm) > {SEMDEDUP_COS}
)
SELECT vec_id, cid::BIGINT AS cid
FROM m WHERE vec_id NOT IN (SELECT vec_id FROM removed)
"""


@register("semantic_dedup_semdedup", oracle=_semdedup_oracle(), tags=("E23", "E24"))
def semantic_dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) dedup in the SemDeDup shape (Abbas et
    al. 2023): assign every vector to its nearest k-means cell, compare
    pairs ONLY within a cell, and prune a vector when a lower-id member
    of its cell sits above cosine {SEMDEDUP_COS} (keep-lowest-id is the
    deterministic survivor rule; survivors are therefore pairwise below
    the threshold within every cell). Complements
    neardup_embedding_cosine, whose LSH buckets optimize for high-recall
    PAIR FINDING — SemDeDup's cells give a fixed O(sum cell^2) pruning
    budget and a tunable dedup rate via k and the threshold.

    Scale shape: cell assignment is the SAME zero-shuffle BLAS-matmul
    argmax as ann_cosine_ivf (`centroid_argmax` — no join, no
    window over vec_id); the only exchanges are the cid-keyed self-join (cells ~
    n/k rows; k grows ~sqrt(n) via _ivf_k so per-cell pair work stays
    ~n per cell-batch, AQE splits hot cells) and the final skinny
    anti-join on vec_id. The full vectors cross the wire once per side
    of the cell join — nothing all-pairs, nothing driver-side."""
    from kafka_stream_faust_deprecated_spark.queries.llm import (
        _SQL_DOT,
        _embeddings_count,
        _ivf_centroids,
        _ivf_k,
        _memo_expr,
        _sql_norm_of,
    )

    e = load_table_parallel(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    k = _ivf_k(_embeddings_count(spark, e, sf_dir))
    cents = _ivf_centroids()[:k]
    cidx = centroid_argmax(
        [comp for _, comp, _ in cents], [norm for _, _, norm in cents]
    )
    m = e.select(
        "vec_id",
        "v",
        cidx("v").alias("cid"),  # cid == position: centroid cids are 0..k-1
        _memo_expr(_sql_norm_of("v")).alias("nrm"),
    )
    hi = m.select(
        F.col("vec_id").alias("hi_id"), F.col("v").alias("hv"),
        "cid", F.col("nrm").alias("hn"),
    )
    lo = m.select(
        F.col("vec_id").alias("lo_id"), F.col("v").alias("lv"),
        "cid", F.col("nrm").alias("ln"),
    )
    removed = (
        hi.join(lo, "cid")
        .where(F.col("lo_id") < F.col("hi_id"))
        .where(
            _memo_expr(f"({_SQL_DOT.format(a='hv', b='lv')}) / (hn * ln)")
            > SEMDEDUP_COS
        )
        .select(F.col("hi_id").alias("vec_id"))
        .distinct()
    )
    return m.join(removed, "vec_id", "left_anti").select(
        "vec_id", F.col("cid").cast("long").alias("cid")
    )

#: Full-training iterations for kmeans_train_{n}iter. The cross-engine
#: determinism contract for the loop: each iteration's cell means are
#: rounded to 6 decimals BEFORE becoming the next iteration's centroids
#: (both engines round half-away-from-zero, and the rounded decimal's
#: nearest double is the literal both engines then score against), and
#: every norm / dot product is the same sequential forward
#: accumulation, so assignments stay bit-identical across iterations.
KMEANS_TRAIN_ITERS = 3
KMEANS_MEAN_DECIMALS = 6


def _cell_means(vecs: DataFrame, scoring, decimals: int) -> dict[tuple[int, int], list[float]]:
    """One mean update over a one-column vector relation: assign every
    row's subvectors under ``scoring`` and return ``{(j, cell): means}``
    for the non-empty cells, in (j, cell) order, each component
    ``round(sum/n, decimals)``. The ``partial_sums`` rows are
    (subspaces x cells x batches), so the posexplode and the
    (j, cell, pos) aggregate run over a bounded relation, never the
    corpus."""
    rows = (
        vecs.mapInArrow(partial_sums(scoring), PARTIAL_SUMS_SCHEMA)
        .select("j", "cell", "n", F.posexplode("sums").alias("pos", "x"))
        .groupBy("j", "cell", "pos")
        .agg(F.round(F.sum("x") / F.sum("n"), decimals).alias("m"))
        .collect()
    )
    by_cell: dict[tuple[int, int], dict[int, float]] = {}
    for r in rows:
        by_cell.setdefault((r["j"], r["cell"]), {})[r["pos"]] = r["m"]
    return {jc: [d[p] for p in sorted(d)] for jc, d in sorted(by_cell.items())}


def _kmeans_train_oracle() -> str:
    """Three chained Lloyd iterations as one SQL statement: each
    ``a{i}`` assigns against the previous iteration's ``cents{i-1}``
    relation, each ``m{i}`` is the rounded per-(cell, pos) mean, and
    ``cents{i}`` rebuilds the centroid arrays with ``list(m ORDER BY
    pos)`` — empty cells simply vanish from the relation, exactly as
    they drop out of the collected means on the Spark side."""
    values = ",\n      ".join(
        f"({cid}, [{', '.join(repr(c) for c in comp)}]::DOUBLE[], {norm!r})"
        for cid, comp, norm in _ivf_centroids()
    )
    score = "list_dot_product(e.v, c.c) / (c.cn * e.vn)"
    parts = [
        f"""
WITH e AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS vn
    FROM embeddings
),
nb AS (SELECT {_ANN_BITS_SQL} AS bits),
nk AS (SELECT {_IVF_K_SQL} AS k),
cents_all(cid, c, cn) AS (VALUES
      {values}
),
cents0 AS (SELECT * FROM cents_all WHERE cid < (SELECT k FROM nk))"""
    ]
    for i in range(1, KMEANS_TRAIN_ITERS + 1):
        parts.append(f"""
a{i} AS (
    SELECT vec_id, cid, s FROM (
        SELECT e.vec_id, c.cid, {score} AS s,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {score} DESC, c.cid) AS rn
        FROM e CROSS JOIN cents{i - 1} c
    ) WHERE rn = 1
),
m{i} AS (
    SELECT cid, pos, round(avg(x), {KMEANS_MEAN_DECIMALS}) AS m FROM (
        SELECT a.cid, generate_subscripts(e.v, 1) AS pos, unnest(e.v) AS x
        FROM a{i} a JOIN e USING (vec_id)
    ) GROUP BY cid, pos
)""")
        if i < KMEANS_TRAIN_ITERS:
            parts.append(f"""
cents{i} AS (
    SELECT cid, c, sqrt(list_dot_product(c, c)) AS cn
    FROM (SELECT cid, list(m ORDER BY pos) AS c FROM m{i} GROUP BY cid)
)""")
    last = KMEANS_TRAIN_ITERS
    parts.append(f"""
SELECT cid,
       any_value(n_members) AS n_members,
       any_value(mean_cos)  AS mean_cos,
       (floor((sqrt(sum(m * m))) * 10000.0 + 0.5) / 10000.0) AS new_norm
FROM m{last}
JOIN (
    SELECT cid, count(*) AS n_members, (floor((avg(s)) * 10000.0 + 0.5) / 10000.0) AS mean_cos
    FROM a{last} GROUP BY cid
) USING (cid)
GROUP BY cid""")
    return ",".join(parts[:1] + [p for p in parts[1:-1]]) + parts[-1]




@register("kmeans_train_3iter", oracle=_kmeans_train_oracle(), tags=("E24",))
def kmeans_train_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full k-means TRAINING loop ({KMEANS_TRAIN_ITERS} Lloyd
    iterations), not just one step: assign -> recompute means -> feed
    the means back as the next iteration's centroid literals. This is
    the iterative-algorithm pattern (spark.ml's own KMeans loop): the
    only driver-side state is the k x dim centroid matrix collected
    from each iteration's (cid, pos, mean) aggregate — a few KB,
    independent of corpus size — and each iteration is the SAME
    zero-shuffle-assignment plan as kmeans_lloyd_step, so the loop
    costs exactly iters x (one corpus scan + one O(k*dim)-combined
    exchange). Cells that lose all members drop out (k may shrink);
    survivors keep their cid so the argmax tiebreak stays aligned with
    the oracle's ORDER BY cid.

    The first iters-1 iterations (whose ONLY output is the rounded
    means) fuse assignment and per-cell partial sums into one Arrow pass
    (``vectors.partial_sums``, reduced by ``_cell_means``): ``mean =
    round(sum/n, 6)`` equals ``round(avg, 6)`` up to summation order,
    which the rounding contract absorbs. The FINAL iteration keeps the
    posexplode path — every value the query RETURNS (mean_cos via the
    sequential JVM winner dot, new_norm, n_members) follows the
    established arithmetic.

    The oracle replays the identical three iterations as chained SQL
    CTEs — see KMEANS_TRAIN_ITERS for the rounding contract that keeps
    the two engines' assignments bit-identical across iterations."""
    e = (
        load_table_parallel(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").alias("v"))
        .select("vec_id", "v", _memo_expr(_sql_norm_of("v")).alias("vn"))
    )
    k = _ivf_k(_embeddings_count(spark, e, sf_dir))
    cents = _ivf_centroids()[:k]

    def _assign(cents_now):
        # BLAS-matmul argmax position; cells that lost all members
        # vanish, so map position -> surviving cid via a literal lookup,
        # and re-derive the winner's score with ONE sequential JVM dot
        # (oracle accumulation order — the BLAS scores never leave the
        # UDF).
        cidx = centroid_argmax(
            [comp for _, comp, _ in cents_now], [norm for _, _, norm in cents_now]
        )
        cids = "array(%s)" % ",".join(str(cid) for cid, _, _ in cents_now)
        return e.select("v", "vn", cidx("v").alias("cidx")).select(
            "v",
            F.expr(f"{cids}[cidx]").alias("cid"),
            F.expr(_winner_score_sql(cents_now, idx_col="cidx")).alias("s"),
        )

    for _ in range(KMEANS_TRAIN_ITERS - 1):
        means = _cell_means(
            e.select("v"),
            cosine_scoring([comp for _, comp, _ in cents], [norm for _, _, norm in cents]),
            KMEANS_MEAN_DECIMALS,
        )
        if not means:
            # empty corpus: no assignments, no means. Keep the previous
            # centroids — an empty literal array would not even analyze
            # — and let the final pass return its (empty) result.
            continue
        # sequential forward accumulation == the oracle's
        # sqrt(list_dot_product(c, c))
        cents = sorted(
            (cents[cell][0], comps, sum(c * c for c in comps) ** 0.5)
            for (_, cell), comps in means.items()
        )

    cell = (
        _assign(cents)
        .select("cid", "s", F.posexplode("v").alias("pos", "x"))
        .groupBy("cid", "pos")
        .agg(
            F.round(F.avg("x"), KMEANS_MEAN_DECIMALS).alias("m"),
            F.count("*").alias("n"),
            F.avg("s").alias("ms"),
        )
    )
    return (
        cell.groupBy("cid")
        .agg(
            F.max("n").alias("n_members"),
            round_det(F.max(F.when(F.col("pos") == 0, F.col("ms"))), 4).alias("mean_cos"),
            round_det(F.sqrt(F.sum(F.col("m") * F.col("m"))), 4).alias("new_norm"),
        )
        .select("cid", "n_members", "mean_cos", "new_norm")
    )


@register(
    "corpus_datacard",
    oracle=f"""
WITH t AS (
    SELECT lang, source, n_chars,
           len(string_split({SQL_NORM}, ' ')) AS n_tok
    FROM documents
),
g AS (
    SELECT lang, source, count(*)::BIGINT AS n_docs,
           sum(n_tok)::BIGINT AS n_tokens,
           (floor((avg(n_tok)) * 10000.0 + 0.5) / 10000.0) AS mean_tokens,
           min(n_chars)::BIGINT AS min_chars, max(n_chars)::BIGINT AS max_chars
    FROM t GROUP BY 1, 2
)
SELECT lang, source, n_docs, n_tokens, mean_tokens, min_chars, max_chars,
       (floor((n_tokens * 1.0 / sum(n_tokens) OVER ()) * 10000.0 + 0.5) / 10000.0) AS token_share
FROM g
""",
    tags=("E7", "E25"),
)
def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-(language, source) datacard table every corpus release
    ships: document and token counts, token-length stats, char bounds,
    and each cell's share of total tokens — the at-a-glance composition
    report that mixture_language_sampling's weights and
    source_shingle_overlap's redundancy findings are read against.

    Scale shape: one scan, one map-side-combinable aggregate to a
    catalog-bounded (lang x source) relation; the share normalization
    is a window over that bounded relation (whitelisted
    single-partition pattern), never the corpus.

    Plain loader, not the parallelism shim (r15, the
    dedup_exact_documents class; guide §2.3 "aggregate before you
    shuffle"): the per-row work is ONE tokenize+size whose partial
    combine collapses rows to the (lang, source) catalog before any
    exchange, so a shim repartition would ship full text rows to
    parallelize less work than the exchange costs (interleaved A/B at
    sf0.1: shim 0.689 s vs plain 0.310 s). Contrast doc_quality_score
    (multi-signal per-row scoring), where the same A/B measured the
    shim WINNING 0.261 vs 0.390 — the shim stays the default for
    compute-heavy text stages; opt-outs are per-query and measured."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "lang", "source", "n_chars", F.size(tokens(F.col("text"))).alias("n_tok")
    )
    g = t.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        round_det(F.avg("n_tok"), 4).alias("mean_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    w_all = Window.partitionBy()
    return g.select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        "mean_tokens",
        "min_chars",
        "max_chars",
        round_det(F.col("n_tokens") / F.sum("n_tokens").over(w_all), 4).alias(
            "token_share"
        ),
    )


#: PageRank over the near-dup graph: damping, iterations, and the
#: per-iteration rounding that keeps both engines' float sums aligned
#: (neighbor contributions sum in nondeterministic order; ~1e-17 noise
#: vs a 1e-10 grid never flips a rounded value).
PR_DAMPING = 0.85
PR_ITERS = 3
PR_DECIMALS = 10


def _pagerank_oracle() -> str:
    from kafka_stream_faust_deprecated_spark.queries.llm import _simhash_oracle

    d, r = PR_DAMPING, PR_DECIMALS
    parts = [
        f"""
WITH pr_pairs AS (SELECT da, db FROM ({_simhash_oracle()})),
edges AS (
    SELECT da AS s, db AS t FROM pr_pairs
    UNION ALL
    SELECT db AS s, da AS t FROM pr_pairs
),
deg AS (SELECT s, count(*)::BIGINT AS c FROM edges GROUP BY s),
nodes AS (SELECT DISTINCT s FROM edges),
nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
p0 AS (SELECT s, 1.0 / nn.n AS p FROM nodes CROSS JOIN nn)"""
    ]
    for i in range(1, PR_ITERS + 1):
        parts.append(f"""
c{i} AS (
    SELECT e.t, sum(p{i - 1}.p / d.c) AS w
    FROM edges e
    JOIN p{i - 1} ON p{i - 1}.s = e.s
    JOIN deg d ON d.s = e.s
    GROUP BY e.t
),
p{i} AS (
    SELECT nodes.s,
           round({1 - d} / nn.n + {d} * coalesce(c{i}.w, 0.0), {r}) AS p
    FROM nodes CROSS JOIN nn LEFT JOIN c{i} ON c{i}.t = nodes.s
)""")
    parts.append(f"""
SELECT p{PR_ITERS}.s AS doc_id, deg.c AS degree,
       (floor((p{PR_ITERS}.p) * 1000000.0 + 0.5) / 1000000.0) AS pr_score
FROM p{PR_ITERS} JOIN deg ON deg.s = p{PR_ITERS}.s""")
    return ",".join(parts[:-1]) + parts[-1]


@register("dup_graph_pagerank", oracle=_pagerank_oracle(), tags=("E23",))
def dup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the SimHash near-dup graph ({PR_ITERS} power
    iterations, damping {PR_DAMPING}): an authority score for every
    edge-incident document. Complements dedup_connected_components'
    min-id canonical rule with a CONTENT-aware one — inside a dup
    cluster the highest-rank copy is the one most corroborated by other
    near-duplicates, which is what production dedup keeps when copies
    differ in quality. Second iterative-algorithm family next to the
    k-means training loop: here the feedback flows through DATA
    (re-joined rank relation), not literals.

    Scale shape: every relation is DUP-GRAPH-sized (<= 2x the candidate
    pair count — the corpus never enters); each iteration is one
    node-keyed join of the rank relation against the (memoized,
    checkpointed) edge list plus a map-side-combinable contribution
    aggregate. The node count enters as a broadcast 1-row aggregate,
    not a driver scalar, so the whole loop stays one lazy plan.

    r15 loop shape (guide §2.4): the rank relation is CARRIED FORWARD
    from each iteration's contribution aggregate instead of being
    rebuilt as nodes ⟕ contrib. The left join was vacuous — the edge
    list holds both directions of every pair, so every node is some
    edge's ``t`` and receives >= 1 contribution — but Catalyst does not
    CSE across branches, so the rebuild re-expanded the degree subtree
    AND the node-count broadcast EVERY iteration (the r14 plan carried
    4 copies of each; 30 scheduler stages). The (1-d)/n teleport term
    rides along as a constant ``base`` column seeded from the one
    broadcast cross join, so no per-iteration scalar re-attach and no
    driver collect. The contribution aggregate's output partitioning
    (t, dp) is alias-forwarded to (s, dp), so iteration k+1's edge join
    reuses it: ONE exchange per iteration. A/B (interleaved, min of 5):
    sf0.1 2.58 -> 2.43 s, 8x replica 4.99 -> 4.84 s, identical output
    both scales, and the executed plan no longer repeats the degree
    and broadcast subtrees per iteration. A window-degree variant (kcore's trick) was
    measured and REJECTED: 1.87 vs 2.02 s at sf0.1 but 4.38 vs 3.84 s
    at 8x — the degree join beats full-width window materialization
    once the graph grows."""
    from kafka_stream_faust_deprecated_spark.queries.llm import _simhash_pairs

    pairs = _simhash_pairs(spark, sf_dir)
    edges = pairs.select(F.col("da").alias("s"), F.col("db").alias("t")).unionByName(
        pairs.select(F.col("db").alias("s"), F.col("da").alias("t"))
    )
    # Explicit co-partitioning: ONE node-keyed exchange sized to the
    # cluster's parallelism (the graph is pair-cap-bounded — inheriting
    # data-sized spark.sql.shuffle.partitions schedules hundreds of
    # near-empty tasks per iteration), then every groupBy and every
    # s/t-keyed join in the loop reuses a (key, dp) partitioning — the
    # only other exchanges are the per-iteration dp-sized contribution
    # repartitions. No persist/localCheckpoint: those execute through
    # the RDD path where AQE cannot re-coalesce, and the lineage
    # re-computation they would save is a handful of dp-task stages.
    dp = spark.sparkContext.defaultParallelism
    e2 = edges.repartition(dp, "s")
    deg = e2.groupBy("s").agg(F.count("*").alias("c"))  # reuses (s, dp)
    ed = e2.join(deg, "s")  # co-partitioned: no exchange
    nn = deg.agg(F.count("*").cast("double").alias("n"))
    p = deg.crossJoin(F.broadcast(nn)).select(
        "s",
        (F.lit(1.0) / F.col("n")).alias("p"),
        (F.lit(1 - PR_DAMPING) / F.col("n")).alias("base"),
    )
    for _ in range(PR_ITERS):
        p = (
            ed.join(p, "s")  # both sides (s, dp): no exchange
            .repartition(dp, "t")
            .groupBy("t")
            .agg(
                # base is constant across rows; max() just forwards it
                # through the aggregate so no scalar re-attach is needed.
                F.max("base").alias("base"),
                F.sum(F.col("p") / F.col("c")).alias("w"),
            )
            .select(
                F.col("t").alias("s"),  # (t, dp) alias-forwarded to (s, dp)
                F.round(
                    F.col("base") + PR_DAMPING * F.col("w"), PR_DECIMALS
                ).alias("p"),
                "base",
            )
        )
    return p.join(deg, "s").select(
        F.col("s").alias("doc_id"),
        F.col("c").alias("degree"),
        round_det(F.col("p"), 6).alias("pr_score"),
    )


# ---------------------------------------------------------------------------
# E25 — Gopher-style rule filtering + boilerplate n-gram coverage (round 6)
# ---------------------------------------------------------------------------

#: Gopher-style rule thresholds (Rae et al. 2021 §A1.1, scaled to the
#: fixture corpus' 10-100-token synthetic documents where the paper's
#: 50-word floor would reject half the corpus for no signal).
GOPHER_MIN_WORDS = 30
GOPHER_MAX_WORDS = 100_000
GOPHER_MWL_MIN = 3.0
GOPHER_MWL_MAX = 10.0
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOP_HITS = 2
GOPHER_MIN_TTR = 0.2

from kafka_stream_faust_deprecated_spark.functions.text import (  # noqa: E402
    STOPWORDS,
    type_token_ratio,
)
from kafka_stream_faust_deprecated_spark.queries.llm import _SQL_STOPS  # noqa: E402


@register(
    "doc_quality_gopher",
    oracle=f"""
WITH t AS (
    SELECT doc_id, {SQL_NORM} AS nrm, string_split({SQL_NORM}, ' ') AS tk
    FROM documents
),
m AS (
    SELECT doc_id,
           len(tk) AS n_words,
           (length(nrm) - (len(tk) - 1)) * 1.0 / len(tk) AS mwl,
           len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) * 1.0 / len(tk) AS alpha_frac,
           len(list_filter(list_distinct(tk), x -> x IN ({_SQL_STOPS}))) AS stop_hits,
           len(list_distinct(tk)) * 1.0 / len(tk) AS ttr
    FROM t WHERE len(tk) > 0
)
SELECT doc_id,
       n_words::BIGINT                                        AS n_words,
       (floor((mwl) * 10000.0 + 0.5) / 10000.0)               AS mean_word_len,
       (floor((alpha_frac) * 10000.0 + 0.5) / 10000.0)        AS alpha_frac,
       stop_hits::BIGINT                                      AS stop_hits,
       (floor((ttr) * 10000.0 + 0.5) / 10000.0)               AS ttr,
       (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}) AS words_ok,
       (mwl BETWEEN {GOPHER_MWL_MIN} AND {GOPHER_MWL_MAX})    AS mwl_ok,
       (alpha_frac >= {GOPHER_MIN_ALPHA_FRAC})                AS alpha_ok,
       (stop_hits >= {GOPHER_MIN_STOP_HITS})                  AS stop_ok,
       (ttr >= {GOPHER_MIN_TTR})                              AS ttr_ok,
       (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
        AND mwl BETWEEN {GOPHER_MWL_MIN} AND {GOPHER_MWL_MAX}
        AND alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}
        AND stop_hits >= {GOPHER_MIN_STOP_HITS}
        AND ttr >= {GOPHER_MIN_TTR})                          AS gopher_ok
FROM m
""",
    tags=("E25",),
)
def doc_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based document filter (Rae et al. 2021): word
    count bounds, mean word length bounds, alphabetic-word fraction,
    distinct-stopword floor, and a type-token-ratio floor, each emitted
    as its own audit column plus the conjunction — the rule-suite shape
    MassiveText/RefinedWeb-class pipelines run before any model-based
    scoring. Complements doc_quality_score (weighted score) with
    hard pass/fail gates.

    Scale shape: ONE corpus scan, zero exchanges — every rule is a
    projection over the row's own token array (mean word length derives
    from the normalized text's length minus its space count, avoiding a
    per-token aggregate entirely). At 100 TB this pipelines into the
    scan with predicate pushdown intact; the rule columns write back to
    the lakehouse as a plain audit table."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        norm_text(F.col("text")).alias("nrm"),
        tokens(F.col("text")).alias("tk"),
    )
    tk = F.col("tk")
    n = F.size(tk)
    mwl = (F.length("nrm") - (n - F.lit(1))) / n
    alpha_frac = F.size(F.filter(tk, lambda x: x.rlike("[a-z]"))) / n
    stop_hits = F.size(
        F.filter(F.array_distinct(tk), lambda x: x.isin(*STOPWORDS))
    )
    ttr = type_token_ratio(tk)
    m = t.where(n > 0).select(
        "doc_id",
        n.cast("long").alias("n_words"),
        round_det(mwl, 4).alias("mean_word_len"),
        round_det(alpha_frac, 4).alias("alpha_frac"),
        stop_hits.cast("long").alias("stop_hits"),
        round_det(ttr, 4).alias("ttr"),
        mwl.alias("_mwl"),
        alpha_frac.alias("_af"),
        ttr.alias("_ttr"),
    )
    words_ok = F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    mwl_ok = F.col("_mwl").between(GOPHER_MWL_MIN, GOPHER_MWL_MAX)
    alpha_ok = F.col("_af") >= GOPHER_MIN_ALPHA_FRAC
    stop_ok = F.col("stop_hits") >= GOPHER_MIN_STOP_HITS
    ttr_ok = F.col("_ttr") >= GOPHER_MIN_TTR
    return m.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "alpha_frac",
        "stop_hits",
        "ttr",
        words_ok.alias("words_ok"),
        mwl_ok.alias("mwl_ok"),
        alpha_ok.alias("alpha_ok"),
        stop_ok.alias("stop_ok"),
        ttr_ok.alias("ttr_ok"),
        (words_ok & mwl_ok & alpha_ok & stop_ok & ttr_ok).alias("gopher_ok"),
    )


#: A 3-gram is boilerplate when it appears in >= max(3, n_docs/200)
#: distinct documents — corpus-derived like _ivf_k, so both engines
#: compute the identical threshold from count(*).
BOILER_MIN_DOCS_FLOOR = 3
BOILER_DOCS_DIVISOR = 200
BOILER_HI_FRAC = 0.5


@register(
    "doc_boilerplate_ngrams",
    oracle=f"""
WITH t AS (
    SELECT doc_id, string_split({SQL_NORM}, ' ') AS tk FROM documents
),
k AS (
    SELECT greatest({BOILER_MIN_DOCS_FLOOR},
                    CAST(count(*) AS BIGINT) // {BOILER_DOCS_DIVISOR}) AS min_docs
    FROM documents
),
g AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(tk) - 1),
                  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
    FROM t
),
df AS (SELECT g, count(DISTINCT doc_id) AS nd FROM g GROUP BY g),
b AS (SELECT g FROM df WHERE nd >= (SELECT min_docs FROM k))
SELECT doc_id,
       count(*)::BIGINT AS n_grams,
       sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_boiler,
       (floor((avg(CASE WHEN b.g IS NOT NULL THEN 1.0 ELSE 0.0 END)) * 10000.0 + 0.5) / 10000.0) AS boiler_frac,
       (avg(CASE WHEN b.g IS NOT NULL THEN 1.0 ELSE 0.0 END) > {BOILER_HI_FRAC}) AS hi_boiler
FROM g LEFT JOIN b USING (g)
GROUP BY doc_id
""",
    tags=("E23", "E25"),
)
def doc_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection: a 3-gram appearing in many
    DISTINCT documents (headers, footers, templated phrases) is
    boilerplate; each document reports how much of it is covered by
    such grams — the CCNet/RefinedWeb-style repeated-content signal
    that exact/near dedup misses because no two documents are globally
    similar. The document-frequency threshold derives from the corpus
    count (max({BOILER_MIN_DOCS_FLOOR}, n_docs/{BOILER_DOCS_DIVISOR})),
    so both engines compute it identically at any SF. Documents with
    fewer than 3 tokens have no grams and drop out in both engines.

    Scale shape: gram instances are exploded ONCE from a single corpus
    scan; document frequency is a gram-keyed two-phase distinct+count
    (map-side combined — the gram vocabulary, not the instance count,
    crosses the wire in the final phase); the frequent-gram set is tiny
    by construction (frequency >= n_docs/200 caps it at 200 *
    grams-per-doc entries) and broadcasts back onto the instance
    relation, so the only other exchange is the doc_id-keyed coverage
    aggregate. Nothing self-joins and no corpus-row key ever partitions
    a window."""
    from kafka_stream_faust_deprecated_spark.queries.llm import _table_count

    docs = load_table_parallel(spark, sf_dir, "documents")
    n_docs = _table_count(spark, docs, sf_dir, "documents")
    min_docs = max(BOILER_MIN_DOCS_FLOOR, n_docs // BOILER_DOCS_DIVISOR)
    grams = docs.select(
        "doc_id", F.explode(word_shingles(tokens(F.col("text")))).alias("g")
    )
    boiler = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("g")
        .withColumn("hit", F.lit(1))
    )
    return (
        grams.join(F.broadcast(boiler), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_boiler"),
            round_det(F.avg(F.coalesce(F.col("hit"), F.lit(0)).cast("double")), 4).alias(
                "boiler_frac"
            ),
            (F.avg(F.coalesce(F.col("hit"), F.lit(0)).cast("double")) > BOILER_HI_FRAC).alias(
                "hi_boiler"
            ),
        )
    )


# ---------------------------------------------------------------------------
# E7 — one-pass table profiling (round 6)
# ---------------------------------------------------------------------------

@register(
    "table_profile_orders",
    oracle="""
WITH a AS (
    SELECT count(*) AS n,
           count(o_orderkey) AS c1, count(DISTINCT o_orderkey) AS d1,
           CAST(min(o_orderkey) AS VARCHAR) AS mn1, CAST(max(o_orderkey) AS VARCHAR) AS mx1,
           count(o_custkey) AS c2, count(DISTINCT o_custkey) AS d2,
           CAST(min(o_custkey) AS VARCHAR) AS mn2, CAST(max(o_custkey) AS VARCHAR) AS mx2,
           count(o_orderstatus) AS c3, count(DISTINCT o_orderstatus) AS d3,
           min(o_orderstatus) AS mn3, max(o_orderstatus) AS mx3,
           count(o_totalprice) AS c4, count(DISTINCT o_totalprice) AS d4,
           CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS mn4,
           CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS mx4,
           count(o_orderdate) AS c5, count(DISTINCT o_orderdate) AS d5,
           strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS mn5,
           strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS mx5,
           count(o_orderpriority) AS c6, count(DISTINCT o_orderpriority) AS d6,
           min(o_orderpriority) AS mn6, max(o_orderpriority) AS mx6
    FROM orders
)
SELECT 'o_orderkey' AS column_name, (n - c1)::BIGINT AS n_nulls, d1::BIGINT AS n_distinct, mn1 AS min_repr, mx1 AS max_repr FROM a
UNION ALL SELECT 'o_custkey', (n - c2)::BIGINT, d2::BIGINT, mn2, mx2 FROM a
UNION ALL SELECT 'o_orderstatus', (n - c3)::BIGINT, d3::BIGINT, mn3, mx3 FROM a
UNION ALL SELECT 'o_totalprice', (n - c4)::BIGINT, d4::BIGINT, mn4, mx4 FROM a
UNION ALL SELECT 'o_orderdate', (n - c5)::BIGINT, d5::BIGINT, mn5, mx5 FROM a
UNION ALL SELECT 'o_orderpriority', (n - c6)::BIGINT, d6::BIGINT, mn6, mx6 FROM a
""",
    tags=("E7",),
)
def table_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profile of ``orders`` — per column: null count,
    exact distinct count, and canonical min/max representations (ints
    via string cast, the 2-decimal price via DECIMAL(18,2), timestamps
    via explicit format — every representation deterministic in both
    engines). The data-quality report a lakehouse pipeline materializes
    per table per ingest.

    Scale shape: a single aggregation pass. Multiple exact COUNT
    DISTINCTs plan as one Expand (rows x #distinct-columns) feeding a
    map-side-combined partial agg — the standard profiling shape; at
    100 TB the drop-in cheapening is ``approx_count_distinct`` per
    column (one pass, no Expand), traded here for the exact value the
    cross-engine oracle can verify. The stack to one-row-per-column
    runs on the single aggregated row."""
    o = load_table_parallel(spark, sf_dir, "orders")
    n = F.count(F.lit(1))
    cols = [
        ("o_orderkey", lambda c: F.min(c).cast("string"), lambda c: F.max(c).cast("string")),
        ("o_custkey", lambda c: F.min(c).cast("string"), lambda c: F.max(c).cast("string")),
        ("o_orderstatus", F.min, F.max),
        (
            "o_totalprice",
            lambda c: F.min(c).cast("decimal(18,2)").cast("string"),
            lambda c: F.max(c).cast("decimal(18,2)").cast("string"),
        ),
        (
            "o_orderdate",
            lambda c: F.date_format(F.min(c), "yyyy-MM-dd HH:mm:ss"),
            lambda c: F.date_format(F.max(c), "yyyy-MM-dd HH:mm:ss"),
        ),
        ("o_orderpriority", F.min, F.max),
    ]
    aggs = [n.alias("n")]
    for name, mn, mx in cols:
        aggs += [
            F.count(name).alias(f"c_{name}"),
            F.countDistinct(name).alias(f"d_{name}"),
            mn(name).alias(f"mn_{name}"),
            mx(name).alias(f"mx_{name}"),
        ]
    wide = o.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(name).alias("column_name"),
                (F.col("n") - F.col(f"c_{name}")).cast("long").alias("n_nulls"),
                F.col(f"d_{name}").cast("long").alias("n_distinct"),
                F.col(f"mn_{name}").alias("min_repr"),
                F.col(f"mx_{name}").alias("max_repr"),
            )
            for name, _, _ in cols
        ]
    )
    return wide.select(F.explode(per_col).alias("p")).select("p.*")


# ---------------------------------------------------------------------------
# Round 7 — CDC merge, capped sessionization, skew diagnostics,
# equi-depth histogram, and product-quantization ANN
# ---------------------------------------------------------------------------

from kafka_stream_faust_deprecated_spark.functions.rounding import sql_round_det
from kafka_stream_faust_deprecated_spark.io import load_table

#: merge_upsert_snapshot's deterministic change batch, derived from the
#: snapshot itself so the oracle can derive the identical batch:
#: custkey % 17 == 0 -> delete; else % 10 == 0 -> update (+100.00);
#: % 13 == 0 additionally spawns an insert at custkey + MERGE_INS_OFFSET
#: (disjoint key space, so an insert can never collide with a snapshot
#: key at any SF).
MERGE_INS_OFFSET = 10_000_000


@register(
    "merge_upsert_snapshot",
    oracle=f"""
WITH snap AS (
    SELECT c_custkey AS key, c_name AS name, c_acctbal AS acctbal FROM customer
),
chg AS (
    SELECT c_custkey AS key, 'D' AS op,
           NULL::DOUBLE AS new_bal, NULL::VARCHAR AS new_name
    FROM customer WHERE c_custkey % 17 = 0
    UNION ALL
    SELECT c_custkey, 'U', c_acctbal + 100.0, NULL
    FROM customer WHERE c_custkey % 17 <> 0 AND c_custkey % 10 = 0
    UNION ALL
    SELECT c_custkey + {MERGE_INS_OFFSET}, 'I', 0.0, 'NEW-' || c_name
    FROM customer WHERE c_custkey % 13 = 0
)
SELECT coalesce(s.key, c.key)                              AS custkey,
       CASE WHEN c.op = 'I' THEN c.new_name ELSE s.name END AS name,
       {sql_round_det("CASE WHEN c.op IN ('U', 'I') THEN c.new_bal ELSE s.acctbal END", 2)} AS acctbal,
       CASE WHEN c.op IS NULL THEN 'unchanged'
            WHEN c.op = 'U'   THEN 'updated'
            ELSE 'inserted' END                            AS row_status
FROM snap s FULL OUTER JOIN chg c ON s.key = c.key
WHERE c.op IS NULL OR c.op <> 'D'
""",
    tags=("E3", "E13"),
)
def merge_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE INTO semantics (upsert + delete) as one full-outer
    join: apply a change batch (inserts / updates / deletes, tagged
    ``op``) to a snapshot and emit the next snapshot with each row's
    provenance. The change batch is DERIVED deterministically from the
    snapshot (see MERGE_INS_OFFSET) so the oracle replays it exactly.

    Scale shape: MERGE is one key-partitioned full outer join — each
    side shuffles ONCE on the merge key (sort-merge at batch ~ snapshot
    size; AQE broadcasts the batch side automatically when a real CDC
    micro-batch is small). Nothing driver-side; the WHERE drops
    deletes before the project, so tombstones never reach the sink.
    This is the compute pattern table formats (Delta/Iceberg MERGE)
    execute under the hood; paired with ``dedup_incremental_ingest``
    for the append-only flavor."""
    cust = load_table_parallel(spark, sf_dir, "customer")
    snap = cust.select(
        F.col("c_custkey").alias("s_key"),
        F.col("c_name").alias("s_name"),
        F.col("c_acctbal").alias("s_bal"),
    )
    chg = (
        cust.where(F.col("c_custkey") % 17 == 0)
        .select(
            F.col("c_custkey").alias("c_key"),
            F.lit("D").alias("op"),
            F.lit(None).cast("double").alias("new_bal"),
            F.lit(None).cast("string").alias("new_name"),
        )
        .unionByName(
            cust.where(
                (F.col("c_custkey") % 17 != 0) & (F.col("c_custkey") % 10 == 0)
            ).select(
                F.col("c_custkey").alias("c_key"),
                F.lit("U").alias("op"),
                (F.col("c_acctbal") + F.lit(100.0)).alias("new_bal"),
                F.lit(None).cast("string").alias("new_name"),
            )
        )
        .unionByName(
            cust.where(F.col("c_custkey") % 13 == 0).select(
                (F.col("c_custkey") + F.lit(MERGE_INS_OFFSET)).alias("c_key"),
                F.lit("I").alias("op"),
                F.lit(0.0).alias("new_bal"),
                F.concat(F.lit("NEW-"), F.col("c_name")).alias("new_name"),
            )
        )
    )
    merged = snap.join(chg, snap.s_key == chg.c_key, "full_outer")
    return merged.where(F.col("op").isNull() | (F.col("op") != "D")).select(
        F.coalesce(F.col("s_key"), F.col("c_key")).alias("custkey"),
        F.when(F.col("op") == "I", F.col("new_name"))
        .otherwise(F.col("s_name"))
        .alias("name"),
        round_det(
            F.when(F.col("op").isin("U", "I"), F.col("new_bal")).otherwise(
                F.col("s_bal")
            ),
            2,
        ).alias("acctbal"),
        F.when(F.col("op").isNull(), F.lit("unchanged"))
        .when(F.col("op") == "U", F.lit("updated"))
        .otherwise(F.lit("inserted"))
        .alias("row_status"),
    )


#: sessionize_capped thresholds: a new session starts after a >6h gap,
#: and a gap-session is additionally split into 24h sub-sessions
#: measured from ITS OWN first event — the "max session duration" cap
#: analytics stacks apply so one never-idle user cannot produce an
#: unbounded session.
SESSION_GAP_SEC = 21_600
SESSION_CAP_SEC = 86_400


@register(
    "sessionize_capped",
    oracle=f"""
WITH e AS (
    SELECT user_id, event_id, ts,
           datediff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS ep
    FROM events
),
g AS (
    SELECT *,
           CASE WHEN lag(ep) OVER w IS NULL
                  OR ep - lag(ep) OVER w > {SESSION_GAP_SEC}
                THEN 1 ELSE 0 END AS brk
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
gi AS (
    SELECT *,
           sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING)::BIGINT AS gid
    FROM g
),
sub AS (
    SELECT *,
           ((ep - min(ep) OVER (PARTITION BY user_id, gid))
             // {SESSION_CAP_SEC})::BIGINT AS sub_id
    FROM gi
)
SELECT user_id,
       gid                                          AS gap_session,
       sub_id                                       AS sub_session,
       count(*)::BIGINT                             AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S')       AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S')       AS session_end,
       (max(ep) - min(ep))::BIGINT                  AS duration_sec
FROM sub GROUP BY 1, 2, 3
""",
    tags=("E19", "E10"),
)
def sessionize_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with BOTH break rules production analytics needs:
    a gap rule (new session after >{SESSION_GAP_SEC}s idle — what
    session_window_events does) AND a duration cap (a gap-session
    splits into {SESSION_CAP_SEC}s sub-sessions measured from its own
    first event). The cap is what plain ``session_window`` cannot
    express: without it one periodically-active user yields a session
    as long as the retention window.

    Scale shape: ONE exchange total, on ``user_id``. Every later step
    reuses that partitioning: the gap-break window sorts within
    partitions; the per-(user, gid) first-epoch window and the final
    (user, gid, sub) aggregate both require only clustering BY A
    SUPERSET of user_id, which the existing hash partitioning already
    satisfies (Spark's ClusteredDistribution subset rule) — so they
    add sorts, never shuffles. All gap/cap arithmetic runs on
    second-truncated BIGINT epochs (`unix_timestamp` / duckdb
    `datediff('second', epoch, ts)`) — integer-exact cross-engine."""
    return sessionize_capped_df(
        load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    )


def with_episode(events: DataFrame, gap: int) -> DataFrame:
    """``events`` (user_id, event_id, ts, ...) plus ``sec``, its epoch
    second, and ``episode``: the per-user 1-based count of idle gaps of
    more than ``gap`` seconds, in (sec, event_id) order. Every row of
    one second gets the same count, so ordering by ``ts`` instead gives
    the same numbers. The streaming twins in ``streaming/episodes.py``
    apply the same rule."""
    ev = events.withColumn("sec", F.unix_timestamp("ts"))
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    prev = F.lag("sec").over(w)
    brk = F.when(prev.isNull() | (F.col("sec") - prev > gap), 1).otherwise(0)
    return ev.withColumn(
        "episode",
        F.sum(brk)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )


def sessionize_capped_df(
    events: DataFrame,
    gap: int = SESSION_GAP_SEC,
    cap: int = SESSION_CAP_SEC,
) -> DataFrame:
    """The sessionize_capped transform over any (user_id, event_id, ts)
    DataFrame — factored out so the streaming twin's golden test
    (tests/test_streaming_sessions.py) can run the batch contract on
    the stream's own fixture."""
    gi = with_episode(events.select("user_id", "event_id", "ts"), gap)
    wg = Window.partitionBy("user_id", "episode")
    sub = gi.withColumn("ep0", F.min("sec").over(wg)).withColumn(
        "sub_id", F.expr(f"(sec - ep0) div {cap}")
    )
    return sub.groupBy("user_id", "episode", "sub_id").agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        (F.max("sec") - F.min("sec")).alias("duration_sec"),
    ).select(
        "user_id",
        F.col("episode").alias("gap_session"),
        F.col("sub_id").alias("sub_session"),
        "n_events",
        "session_start",
        "session_end",
        "duration_sec",
    )


HOT_KEY_TOP_N = 20


@register(
    "hot_key_profile",
    oracle=f"""
WITH k AS (
    SELECT o_custkey AS key, count(*)::BIGINT AS cnt FROM orders GROUP BY 1
),
t AS (
    SELECT sum(cnt)::BIGINT AS total_rows, count(*)::BIGINT AS n_keys FROM k
),
r AS (
    SELECT key, cnt, row_number() OVER (ORDER BY cnt DESC, key) AS rnk FROM k
)
SELECT r.key, r.cnt, r.rnk::BIGINT AS rnk,
       {sql_round_det("r.cnt * 1.0 / t.total_rows", 6)} AS row_share,
       {sql_round_det("r.cnt * 1.0 * t.n_keys / t.total_rows", 4)} AS skew_ratio,
       t.n_keys, t.total_rows
FROM r CROSS JOIN t
WHERE r.rnk <= {HOT_KEY_TOP_N}
""",
    tags=("E7",),
)
def hot_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostics — the profile you run BEFORE picking a join
    strategy at 100 TB: per-key row counts for the top-{HOT_KEY_TOP_N}
    hottest keys with each key's share of all rows and its skew ratio
    (count / mean-count; 1.0 = perfectly uniform). join_salted_skew is
    the mitigation; this is the detector that tells you which keys to
    salt and how many salts to use.

    Scale shape: one map-side-combinable count per key, then the
    top-N via ``orderBy().limit(N)`` — Spark's TakeOrdered keeps a
    bounded N-row heap per partition and merges once, so the hot-key
    scan never global-sorts and never windows over the full key set.
    The two summary scalars ride in via a broadcast 1-row cross join;
    the rank is a window over the already-limited N rows (bounded)."""
    k = (
        load_table_parallel(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.count("*").alias("cnt"))
    )
    t = k.agg(
        F.sum("cnt").alias("total_rows"), F.count("*").alias("n_keys")
    )
    top = k.orderBy(F.col("cnt").desc(), "key").limit(HOT_KEY_TOP_N)
    wr = Window.orderBy(F.col("cnt").desc(), "key")
    return (
        top.withColumn("rnk", F.row_number().over(wr).cast("long"))
        .crossJoin(F.broadcast(t))
        .select(
            "key",
            "cnt",
            "rnk",
            round_det(F.col("cnt") * 1.0 / F.col("total_rows"), 6).alias("row_share"),
            round_det(
                F.col("cnt") * 1.0 * F.col("n_keys") / F.col("total_rows"), 4
            ).alias("skew_ratio"),
            "n_keys",
            "total_rows",
        )
    )


EQUI_DEPTH_BUCKETS = 10


@register(
    "equi_depth_histogram",
    oracle=f"""
WITH v AS (
    SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
    FROM lineitem
),
d AS (SELECT cents, count(*)::BIGINT AS cnt FROM v GROUP BY 1),
t AS (SELECT sum(cnt)::BIGINT AS n FROM d),
c AS (
    SELECT cents, cnt,
           coalesce(sum(cnt) OVER (ORDER BY cents
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_prev
    FROM d
)
SELECT ((c.cum_prev * {EQUI_DEPTH_BUCKETS}) // t.n)::BIGINT AS bucket,
       sum(c.cnt)::BIGINT                                   AS n_rows,
       min(c.cents) / 100.0                                 AS lo,
       max(c.cents) / 100.0                                 AS hi
FROM c CROSS JOIN t
GROUP BY 1
""",
    tags=("E7",),
)
def equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equi-height) histogram of ``l_extendedprice`` in
    {EQUI_DEPTH_BUCKETS} buckets — the optimizer-statistics shape
    (each bucket holds ~equal row count; bucket bounds are where the
    information is). Built WITHOUT a global sort of the fact table and
    WITHOUT an exact-percentile single-reduce: aggregate to distinct
    2-decimal cent values first, then a cumulative count over the
    DISTINCT-VALUE relation assigns bucket = floor(B * rows_before /
    N) — pure integer arithmetic, so both engines agree bit-for-bit
    (no interpolated-percentile float cutpoints to diverge on). Equal
    values land in one bucket by construction (no tie splitting).

    Scale shape: the only corpus-sized operation is the map-side-
    combinable (cents -> count) aggregate; the running sum then runs
    over the distinct-value relation, whose size is bounded by the
    VALUE DOMAIN (2-decimal prices), not the corpus — at 100 TB it is
    a few million rows, and the ordered window over it is the
    standard two-phase range-partitioned cumulative sum (locally a
    single partition here). The total-count scalar rides in by
    broadcast."""
    v = load_table_parallel(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5).alias("cents")
    )
    d = v.groupBy("cents").agg(F.count("*").alias("cnt"))
    t = d.agg(F.sum("cnt").alias("n"))
    wc = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    c = d.withColumn(
        "cum_prev", F.coalesce(F.sum("cnt").over(wc), F.lit(0)).cast("long")
    )
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            F.expr(f"(cum_prev * {EQUI_DEPTH_BUCKETS}) div n").alias("bucket"),
            "cnt",
            "cents",
        )
        .groupBy("bucket")
        .agg(
            F.sum("cnt").alias("n_rows"),
            (F.min("cents") / 100.0).alias("lo"),
            (F.max("cents") / 100.0).alias("hi"),
        )
    )

# ---------------------------------------------------------------------------
# E24 — product-quantization ANN (trained codebooks + ADC scan)
# ---------------------------------------------------------------------------

#: PQ geometry: EMBED_DIM (64) splits into PQ_M subspaces of
#: EMBED_DIM/PQ_M dims; each subspace gets PQ_K codewords, so a vector
#: compresses to PQ_M uint8 codes — 8 bytes vs 256 (32x). Codebooks are
#: TRAINED (init = the PQ_K lowest-vec_id subvectors, then one Lloyd
#: mean update per subspace, means rounded to PQ_MEAN_DECIMALS — the
#: kmeans_train_3iter determinism contract) because random codebooks
#: measurably cannot rank this corpus (recall 0.07 vs 0.33 trained —
#: the IVF structural ceiling on iid fixtures; tests/test_llm.py's
#: recall floors check both).
PQ_M = 8
PQ_K = 16
PQ_MEAN_DECIMALS = 6


def _pq_train(
    spark: SparkSession, e: DataFrame, sf_dir: str
) -> tuple[list[list[list[float]]], list[list[float]], list[list[int]]]:
    """Train the PQ codebooks: (books, norms2, codes_kept) with
    books[j][i] = subspace j's i-th surviving codeword, norms2 its
    sequential ||c||^2, codes_kept[j][i] the codeword's ORIGINAL id
    (init rank) so ties keep oracle order after empty cells drop out.

    Driver-side state is the m x k x (dim/m) codebook (a few KB,
    independent of corpus size — the spark.ml iterative pattern, same
    as kmeans_train_3iter). Two bounded collects: the PQ_K init rows,
    then one Lloyd mean update of all subspaces in one Arrow pass
    (``_cell_means``). At 100 TB the mean update would run on a
    deterministic hash-sample of the corpus rather than every row; the
    fixture corpus IS the sample here. Built once per (session,
    sf_dir): the codebook is a deterministic function of the corpus and
    training is the one-time index-BUILD step, so repeat invocations
    run only the encode+ADC query path."""
    from kafka_stream_faust_deprecated_spark.queries.llm import EMBED_DIM

    def build():
        sub = EMBED_DIM // PQ_M
        init_rows = e.orderBy("vec_id").limit(PQ_K).select("v").collect()
        if not init_rows:
            return [], [], []
        init_books = [
            [list(r["v"][j * sub : (j + 1) * sub]) for r in init_rows]
            for j in range(PQ_M)
        ]
        init_norms2 = [[sum(x * x for x in c) for c in cb] for cb in init_books]
        means = _cell_means(
            e.select("v"), pq_scoring(init_books, init_norms2), PQ_MEAN_DECIMALS
        )
        books: list[list[list[float]]] = [[] for _ in range(PQ_M)]
        kept: list[list[int]] = [[] for _ in range(PQ_M)]
        for (j, code), comps in means.items():
            books[j].append(comps)
            kept[j].append(code)
        norms2 = [[sum(x * x for x in c) for c in cb] for cb in books]
        return books, norms2, kept

    return cached(spark, ("pq_books", sf_dir), build)


def _pq_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The L2-normalized embedding relation every PQ consumer shares:
    (vec_id, v) with v = embedding / ||embedding|| as double — the
    norm hoisted, then one element-wise divide (identical double ops
    to the oracle's list_transform)."""
    from kafka_stream_faust_deprecated_spark.queries.llm import (
        _memo_expr,
        _sql_norm_of,
    )

    return (
        load_table_parallel(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").alias("v0"))
        .select("vec_id", "v0", _memo_expr(_sql_norm_of("v0")).alias("vn"))
        .select(
            "vec_id",
            _memo_expr("transform(v0, x -> CAST(x AS DOUBLE) / vn)").alias("v"),
        )
    )


def _pq_lut_df(
    qrows: DataFrame,
    books: list[list[list[float]]],
    norms2: list[list[float]],
    keep: tuple[str, ...] = ("qid",),
) -> DataFrame:
    """Per-query ADC lookup tables: for each row of ``qrows`` (which
    must carry a normalized query vector column ``v``), PQ_M arrays of
    per-codeword exact subspace distances ||q_j - c||^2, computed as
    qq_j - 2*dot(s_j, c) + cn2_j[i] with subvectors and self-dots
    hoisted into prior projections (HOFs are interpreted with no CSE)
    and the trained codebook embedded as a foldable literal. Carries
    the ``keep`` columns through."""
    from kafka_stream_faust_deprecated_spark.queries.llm import (
        EMBED_DIM,
        _memo_expr,
        _SQL_DOT,
    )

    sub = EMBED_DIM // PQ_M
    staged = qrows.select(
        *keep,
        *[F.slice("v", j * sub + 1, sub).alias(f"s{j}") for j in range(PQ_M)],
    )
    staged = staged.select(
        *keep,
        *[F.col(f"s{j}") for j in range(PQ_M)],
        *[
            _memo_expr(_SQL_DOT.format(a=f"s{j}", b=f"s{j}")).alias(f"qq{j}")
            for j in range(PQ_M)
        ],
    )
    luts = []
    for j in range(PQ_M):
        carr = "array(%s)" % ",".join(
            "array(%s)" % ",".join(f"{x!r}D" for x in row) for row in books[j]
        )
        n2arr = "array(%s)" % ",".join(f"{x!r}D" for x in norms2[j])
        luts.append(
            F.expr(
                f"transform({carr}, (c, i) ->"
                f" qq{j} - 2.0D * ({_SQL_DOT.format(a=f's{j}', b='c')})"
                f" + {n2arr}[i])"
            ).alias(f"l{j}")
        )
    return staged.select(*keep, *luts)


def _pq_adc_expr() -> str:
    """The fixed-order ADC sum — l0[c[0]] + ... + l{m-1}[c[m-1]] —
    mirrored by the oracle's m max-CASE terms added left to right."""
    return " + ".join(f"l{j}[c[{j}]]" for j in range(PQ_M))


def _pq_sql_ctes() -> str:
    """The trained-PQ CTE chain both PQ oracles share (the
    kmeans_train_3iter oracle pattern): normalize (``e``) -> init
    codebooks from the PQ_K lowest vec_ids -> assign -> rounded mean
    update (``cb``) -> re-assign against the trained books (``codes``)
    -> per-query ADC lookup tables (``lut``)."""
    from kafka_stream_faust_deprecated_spark.queries.llm import (
        EMBED_DIM,
        KNN_N_QUERIES,
    )

    sub = EMBED_DIM // PQ_M
    score0 = "list_dot_product(sv.s, i.c) - 0.5*list_dot_product(i.c, i.c)"
    score1 = "list_dot_product(sv.s, b.c) - 0.5*list_dot_product(b.c, b.c)"
    qsl = "list_slice(q.qv, b.j*%d+1, (b.j+1)*%d)" % (sub, sub)
    return f"""
e AS (
    SELECT vec_id,
           list_transform(embedding::DOUBLE[],
               x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                              embedding::DOUBLE[]))) AS v
    FROM embeddings
),
js AS (SELECT unnest(range({PQ_M})) AS j),
sv AS (
    SELECT vec_id, js.j, list_slice(v, js.j*{sub}+1, (js.j+1)*{sub}) AS s
    FROM e CROSS JOIN js
),
init AS (
    SELECT sv.j,
           row_number() OVER (PARTITION BY sv.j ORDER BY sv.vec_id) - 1 AS code,
           sv.s AS c
    FROM sv
    WHERE sv.vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT {PQ_K})
),
a0 AS (
    SELECT vec_id, j, code FROM (
        SELECT sv.vec_id, sv.j, i.code,
               row_number() OVER (PARTITION BY sv.vec_id, sv.j
                                  ORDER BY {score0} DESC, i.code) AS rn
        FROM sv JOIN init i ON i.j = sv.j
    ) WHERE rn = 1
),
cb AS (
    SELECT j, code, list(m ORDER BY pos) AS c FROM (
        SELECT j, code, pos, round(avg(x), {PQ_MEAN_DECIMALS}) AS m FROM (
            SELECT a0.j, a0.code,
                   generate_subscripts(sv.s, 1) AS pos, unnest(sv.s) AS x
            FROM a0 JOIN sv ON sv.vec_id = a0.vec_id AND sv.j = a0.j
        ) GROUP BY 1, 2, 3
    ) GROUP BY 1, 2
),
codes AS (
    SELECT vec_id, j, code FROM (
        SELECT sv.vec_id, sv.j, b.code,
               row_number() OVER (PARTITION BY sv.vec_id, sv.j
                                  ORDER BY {score1} DESC, b.code) AS rn
        FROM sv JOIN cb b ON b.j = sv.j
    ) WHERE rn = 1
),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {KNN_N_QUERIES}),
lut AS (
    SELECT q.qid, b.j, b.code,
           list_dot_product({qsl}, {qsl})
             - 2*list_dot_product({qsl}, b.c)
             + list_dot_product(b.c, b.c) AS t
    FROM q CROSS JOIN cb b
)"""


#: The fixed-order ADC sum over a (codes cd, lut l) join — the oracle
#: twin of ``_pq_adc_expr``.
_PQ_ADC_SUM_SQL = " + ".join(
    f"max(CASE WHEN cd.j = {j} THEN l.t END)" for j in range(PQ_M)
)


def _pq_oracle() -> str:
    """Chained-CTE replay of the trained-PQ pipeline: the shared
    ``_pq_sql_ctes`` chain, then the fixed-order ADC sum -> top-K."""
    from kafka_stream_faust_deprecated_spark.queries.llm import KNN_K

    return f"""
WITH {_pq_sql_ctes()},
adc AS (
    SELECT l.qid, cd.vec_id,
           {_PQ_ADC_SUM_SQL} AS adc
    FROM codes cd JOIN lut l ON l.j = cd.j AND l.code = cd.code
    WHERE cd.vec_id <> l.qid
    GROUP BY 1, 2
)
SELECT qid AS query_id, vec_id AS neighbor_id, rn AS rnk,
       {sql_round_det("adc", 4)} AS adc_dist
FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc ASC, vec_id) AS rn
      FROM adc)
WHERE rn <= {KNN_K}
"""


@register("ann_cosine_pq", oracle=_pq_oracle(), tags=("E24",))
def ann_cosine_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E24's third index family: product quantization with an ADC
    (asymmetric distance computation) scan — the memory-bound regime's
    answer, complementing LSH (candidate pruning, full vectors kept)
    and IVF (cell pruning, full vectors kept). PQ stores PQ_M uint8
    codes per vector (32x smaller than the float32 embedding): train
    per-subspace codebooks (init + one Lloyd mean update, the
    kmeans_train determinism contract), encode every vector's m
    subvectors to their nearest codeword, and at query time score
    CODES, never corpus vectors — approximate L2^2 = sum_j
    lut[j][code_j] over a per-query (m x k) exact-distance lookup
    table (Jegou et al. 2011, "Product Quantization for Nearest
    Neighbor Search"). Vectors are L2-normalized first, so
    approximate-L2 order IS cosine order (||q-x||^2 = 2 - 2cos) and
    recall is measured against knn_cosine_bruteforce in the tests.

    Scale shape — the 100 TB claim is that the query-time scan touches
    8-byte codes, not 256-byte vectors:
    * training state is the m x k x (dim/m) codebook on the driver (a
      few KB, corpus-independent — the spark.ml pattern; see
      _pq_train for the 100 TB sampling note);
    * encoding is a zero-shuffle Arrow projection (`pq_encode`:
      m small BLAS matmuls per batch; only ARGMIN indices leave the
      UDF);
    * the K-row query side computes its own LUT with pure array
      expressions (trained codebooks are foldable literals; subspace
      self-dots are hoisted so every emitted double matches the
      oracle's sequential accumulation bit-for-bit);
    * the LUT rows broadcast INTO the code scan (K x m x k doubles,
      ~1 KB per query) — the ADC score is m array lookups + a
      fixed-order m-term sum per (query, vector), all codegen JVM;
    * the only exchange scoring pays is the final skinny
      (qid, vec_id, adc) top-K window, pre-limited map-side by
      WindowGroupLimit.
    In production the codes column is written once (a 100 TB corpus
    compresses to ~3 TB of codes) and every later query scans codes
    only."""
    from kafka_stream_faust_deprecated_spark.queries.llm import (
        KNN_K,
        KNN_N_QUERIES,
    )

    e = _pq_normalized(spark, sf_dir)
    books, norms2, kept = _pq_train(spark, e, sf_dir)
    if not books or not any(books):
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, rnk int, adc_dist double"
        )
    enc = pq_encode(books, norms2)
    codes = e.select("vec_id", enc("v").alias("c"))

    lut = _pq_lut_df(
        e.where(F.col("vec_id") < KNN_N_QUERIES).select(
            F.col("vec_id").alias("qid"), "v"
        ),
        books,
        norms2,
    )

    adc_expr = _pq_adc_expr()
    scored = (
        codes.crossJoin(F.broadcast(lut))
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("nid"), F.expr(adc_expr).alias("adc"))
    )
    wq = Window.partitionBy("qid").orderBy(F.col("adc").asc(), F.col("nid"))
    return (
        scored.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= KNN_K)
        .select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            F.col("rn").alias("rnk"),
            round_det(F.col("adc"), 4).alias("adc_dist"),
        )
    )


# ---------------------------------------------------------------------------
# Round 7 — training-data release ops: split, shuffle, retrieval
# ---------------------------------------------------------------------------

#: Hex-prefix fate thresholds for the 3-way split: md5(doc_id) first
#: byte < 0x0d -> test (~5%), < 0x1a -> val (~5%), else train (~90%).
SPLIT_TEST_HEX = "0d"
SPLIT_VAL_HEX = "1a"


@register(
    "train_val_test_split",
    oracle=f"""
WITH t AS (
    SELECT doc_id, lang,
           len(string_split({SQL_NORM}, ' ')) AS n_tok,
           substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS b
    FROM documents
),
s AS (
    SELECT *,
           CASE WHEN b < '{SPLIT_TEST_HEX}' THEN 'test'
                WHEN b < '{SPLIT_VAL_HEX}'  THEN 'val'
                ELSE 'train' END AS split
    FROM t
)
SELECT split, lang,
       count(*)::BIGINT  AS n_docs,
       sum(n_tok)::BIGINT AS n_tokens,
       {sql_round_det("count(*) * 1.0 / (SELECT count(*) FROM s)", 6)} AS doc_share
FROM s GROUP BY 1, 2
""",
    tags=("E23", "E25"),
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split + the per-(split, language)
    composition card — the release step after curation: each document's
    fate is a pure function of its id (md5 hex-prefix ranges, the
    sample_stratified_hash idiom), so the split is reproducible across
    engines, runs, and cluster sizes, and adding documents NEVER moves
    an existing document between splits (critical: silent val->train
    migration is a contamination bug).

    Scale shape: fate assignment is a scan-local projection (no RNG
    state, no global coordination); the card is one map-side-combined
    aggregate to a (3 x languages)-bounded relation, with the total
    count riding in as a broadcast scalar."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    b = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    s = docs.select(
        "doc_id",
        "lang",
        F.size(tokens(F.col("text"))).alias("n_tok"),
        F.when(b < SPLIT_TEST_HEX, "test")
        .when(b < SPLIT_VAL_HEX, "val")
        .otherwise("train")
        .alias("split"),
    )
    total = s.agg(F.count("*").alias("n_total"))
    return (
        s.groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "split",
            "lang",
            "n_docs",
            "n_tokens",
            round_det(F.col("n_docs") * 1.0 / F.col("n_total"), 6).alias(
                "doc_share"
            ),
        )
    )


#: Shard count for the deterministic global shuffle. At 100 TB pick
#: shards so each holds ~1M sequences; the WITHIN-shard position window
#: is then shard-parallel and bounded — a global training order exists
#: (shard-major) without any engine ever doing a global sort.
SHUFFLE_N_SHARDS = 16


@register(
    "global_shuffle_shards",
    oracle=f"""
WITH k AS (
    SELECT doc_id,
           md5(CAST(doc_id AS VARCHAR)) AS skey
    FROM documents
),
s AS (
    SELECT doc_id, skey,
           ('0x' || substr(skey, 1, 2))::INT % {SHUFFLE_N_SHARDS} AS shard
    FROM k
)
SELECT doc_id, shard::BIGINT AS shard,
       (row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id) - 1)::BIGINT
           AS pos_in_shard
FROM s
""",
    tags=("E23", "E25"),
)
def global_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training order — the step
    between packing and writing a training dataset: every document gets
    a pseudorandom but REPRODUCIBLE position (shard, pos_in_shard),
    shard-major order = the global shuffled order. Real pipelines
    cannot use a seeded RNG here (`df.sample`/`rand()` change with
    partitioning); hashing the id gives the same permutation on any
    cluster, any engine, any day.

    Scale shape: shard = first hash byte mod {SHUFFLE_N_SHARDS} is a
    scan-local projection; the ONLY exchange is the shard-keyed window
    that numbers rows WITHIN each shard (shards are sized to ~1M rows
    at 100 TB — see SHUFFLE_N_SHARDS — so each window partition sorts
    a bounded slice in parallel; no global sort ever happens). Readers
    stream shards in shard order and get the full shuffled corpus."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    k = docs.select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("skey")
    )
    s = k.select(
        "doc_id",
        "skey",
        (F.conv(F.substring("skey", 1, 2), 16, 10).cast("int") % SHUFFLE_N_SHARDS)
        .alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    return s.select(
        "doc_id",
        F.col("shard").cast("long").alias("shard"),
        (F.row_number().over(w) - 1).cast("long").alias("pos_in_shard"),
    )


#: BM25 parameters (the Robertson/Sparck-Jones defaults) and the +1
#: idf floor (Lucene's formulation — keeps every idf positive even for
#: terms present in most documents, which the tiny fixture vocab makes
#: common).
BM25_K1 = 1.2
BM25_B = 0.75


def _bm25_oracle() -> str:
    from kafka_stream_faust_deprecated_spark.queries.llm import (
        KNN_K,
        KNN_N_QUERIES,
    )

    return f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split({SQL_NORM}, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY 1),
nd AS (SELECT count(*)::BIGINT AS n FROM documents),
avgdl AS (SELECT sum(dl) * 1.0 / (SELECT n FROM nd) AS a FROM dl),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
qt AS (
    SELECT DISTINCT doc_id AS qid, term FROM tok WHERE doc_id < {KNN_N_QUERIES}
),
hits AS (
    SELECT qt.qid, tf.doc_id,
           ln(((SELECT n FROM nd) - df.df + 0.5) / (df.df + 0.5) + 1.0)
             * ((tf.tf * ({BM25_K1} + 1.0))
                / (tf.tf + {BM25_K1}
                   * (1.0 - {BM25_B} + {BM25_B} * dl.dl / (SELECT a FROM avgdl))))
               AS s
    FROM qt
    JOIN tf ON tf.term = qt.term
    JOIN dl ON dl.doc_id = tf.doc_id
    JOIN df ON df.term = qt.term
    WHERE tf.doc_id <> qt.qid
),
scores AS (
    SELECT qid, doc_id, {sql_round_det("sum(s)", 4)} AS bm25
    FROM hits GROUP BY 1, 2
)
SELECT qid AS query_id, doc_id, rn AS rnk, bm25
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY bm25 DESC, doc_id) AS rn
      FROM scores)
WHERE rn <= {KNN_K}
"""


@register("bm25_retrieval_topk", oracle=_bm25_oracle(), tags=("E24", "E25"))
def bm25_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse retrieval: BM25 top-k documents for each of the K query
    documents — the lexical half of a retrieval stack (the dense half
    is knn/ann_cosine_*). Standard Robertson BM25 with Lucene's +1 idf
    floor; query documents contribute their DISTINCT term set.

    Scale shape — the inverted-index join, every relation keyed by
    term or by (query, doc):
    * one tokenize scan feeds tf (term-keyed agg), dl (doc-keyed agg),
      and df (term-keyed agg over tf) — each map-side combined;
    * the K query documents' distinct-term lists broadcast into the
      postings (tf) relation: candidates are docs sharing a term, the
      selective path real vocabularies give (the fixture's tiny vocab
      makes every doc a candidate — worst case, still only K x n
      skinny rows);
    * per-(query, doc) scores sum in ONE skinny exchange (partial agg
      map-side), then the top-k window is per-query, pre-limited by
      WindowGroupLimit. avgdl rides in as a broadcast scalar.
    Ranking uses the ROUNDED score (both engines round identically
    before ranking, doc_id tiebreak) so cross-engine rank order cannot
    hinge on last-bit float noise."""
    from kafka_stream_faust_deprecated_spark.queries.llm import (
        KNN_K,
        KNN_N_QUERIES,
    )

    docs = load_table_parallel(spark, sf_dir, "documents")
    # ONE tokenize pass: tf aggregates the exploded scan, then dl and
    # df ride as window sums over tf's OWN partitionings (doc_id /
    # term) instead of re-tokenizing and joining back — Catalyst does
    # not CSE across self-joins, so the naive 4-relation formulation
    # pays the explode scan four times and two extra join exchanges.
    # The tf stage is checkpointed (a few rows per (doc, term), tiny)
    # so the query side reuses it without replaying the scan.
    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)
    )
    tf3 = (
        tf.withColumn("dl", F.sum("tf").over(Window.partitionBy("doc_id")))
        .withColumn("df", F.count("*").over(Window.partitionBy("term")))
    )
    nd = docs.agg(F.count("*").alias("n"))
    avgdl = (
        tf.agg(F.sum("tf").alias("sdl"))
        .crossJoin(F.broadcast(nd))
        .select((F.col("sdl") * 1.0 / F.col("n")).alias("a"), "n")
    )
    qt = tf.where(F.col("doc_id") < KNN_N_QUERIES).select(
        F.col("doc_id").alias("qid"), "term"
    )
    hits = (
        tf3.join(F.broadcast(qt), "term")
        .where(F.col("doc_id") != F.col("qid"))
        .crossJoin(F.broadcast(avgdl))
        .select(
            "qid",
            "doc_id",
            (
                F.log(
                    ((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
                    + 1.0
                )
                * (
                    (F.col("tf") * (BM25_K1 + 1.0))
                    / (
                        F.col("tf")
                        + BM25_K1
                        * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("a"))
                    )
                )
            ).alias("s"),
        )
    )
    scores = hits.groupBy("qid", "doc_id").agg(
        round_det(F.sum("s"), 4).alias("bm25")
    )
    wq = Window.partitionBy("qid").orderBy(F.col("bm25").desc(), F.col("doc_id"))
    return (
        scores.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= KNN_K)
        .select(
            F.col("qid").alias("query_id"),
            "doc_id",
            F.col("rn").alias("rnk"),
            "bm25",
        )
    )


def _ivfpq_oracle() -> str:
    """IVF probes x PQ ADC — the _ivf_oracle cell/probe CTEs (over the
    NORMALIZED vectors; cosine rank per vector is scale-invariant, so
    cell assignment matches the raw-vector IVF index) composed with the
    ``_pq_sql_ctes`` codebook/code/LUT CTEs, candidates scored by the
    fixed-order ADC sum."""
    from kafka_stream_faust_deprecated_spark.queries.llm import (
        KNN_K,
        KNN_N_QUERIES,
        _ANN_BITS_SQL,
        _IVF_K_SQL,
        _ivf_centroids,
    )

    ivf_values = ",\n      ".join(
        f"({cid}, [{', '.join(repr(c) for c in comp)}]::DOUBLE[], {norm!r})"
        for cid, comp, norm in _ivf_centroids()
    )
    return f"""
WITH {_pq_sql_ctes()},
nb AS (SELECT {_ANN_BITS_SQL} AS bits),
nk AS (SELECT k, greatest(2, k // 8) AS np FROM (SELECT {_IVF_K_SQL} AS k) t),
cents_all(cid, c, cn) AS (VALUES
      {ivf_values}
),
cents AS (SELECT * FROM cents_all WHERE cid < (SELECT k FROM nk)),
ivfs AS (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY list_dot_product(v, c) / cn DESC, cid) AS rn
    FROM e CROSS JOIN cents
),
assign AS (SELECT vec_id, cid FROM ivfs WHERE rn = 1),
probes AS (
    SELECT vec_id AS qid, cid FROM ivfs
    WHERE rn <= (SELECT np FROM nk) AND vec_id < {KNN_N_QUERIES}
),
cand AS (
    SELECT p.qid, a.vec_id AS nid
    FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.qid
),
adc AS (
    SELECT c.qid, c.nid, {_PQ_ADC_SUM_SQL} AS adc
    FROM cand c
    JOIN codes cd ON cd.vec_id = c.nid
    JOIN lut l ON l.qid = c.qid AND l.j = cd.j AND l.code = cd.code
    GROUP BY 1, 2
)
SELECT qid AS query_id, nid AS neighbor_id, rn AS rnk,
       {sql_round_det("adc", 4)} AS adc_dist
FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc ASC, nid) AS rn
      FROM adc)
WHERE rn <= {KNN_K}
"""


@register("ann_cosine_ivfpq", oracle=_ivfpq_oracle(), tags=("E24",))
def ann_cosine_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN composition (the faiss ``IVFPQ`` shape): IVF
    cells prune CANDIDATES (probe nprobe of k cells, scan ~n/8 of the
    corpus) while PQ codes prune BYTES (score 8-byte codes, never full
    vectors) — at 100 TB the two multiply: the query-time scan reads
    ~n/8 rows x 8 bytes instead of n x 256. Simplification vs faiss:
    codes encode the vectors themselves, not cell residuals (residual
    encoding would need a per-(query, cell) lookup table; the shape
    under test — probe, then ADC — is identical).

    Scale shape — every piece reuses an already-verified machine:
    * ONE corpus scan computes cell id (BLAS argmax,
      `centroid_argmax`) AND PQ codes (`pq_encode`) in
      the same zero-shuffle projection;
    * probe cells come from the K-row query side's score array (sort +
      slice + explode — no corpus-side rank), each probe row carrying
      the query's ADC lookup tables (~1 KB);
    * probes broadcast INTO the assignment scan: candidates are cell
      members only, scored by the fixed-order ADC sum (array lookups,
      codegen JVM);
    * the only exchange is the final skinny top-K window.
    Cell assignment runs on NORMALIZED vectors — per-vector cosine
    rank is scale-invariant, so cells match ann_cosine_ivf's index
    exactly while the codes stay cosine-faithful (see ann_cosine_pq).
    """
    from kafka_stream_faust_deprecated_spark.queries.llm import (
        KNN_K,
        KNN_N_QUERIES,
        _centroid_scores,
        _embeddings_count,
        _ivf_centroids,
        _ivf_k,
        _ivf_nprobe,
        _memo_expr,
    )

    e = _pq_normalized(spark, sf_dir)
    books, norms2, kept = _pq_train(spark, e, sf_dir)
    if not books or not any(books):
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, rnk int, adc_dist double"
        )
    k = _ivf_k(_embeddings_count(spark, e, sf_dir))
    nprobe = _ivf_nprobe(k)
    cents = _ivf_centroids()[:k]
    cidx = centroid_argmax(
        [comp for _, comp, _ in cents], [norm for _, _, norm in cents]
    )
    enc = pq_encode(books, norms2)
    assign = e.select(
        "vec_id", cidx("v").alias("cid"), enc("v").alias("c")
    )
    probe_cells = (
        e.where(F.col("vec_id") < KNN_N_QUERIES)
        .select("vec_id", "v", _centroid_scores("v", k).alias("sc"))
        .select(
            F.col("vec_id").alias("qid"),
            "v",
            F.explode(
                _memo_expr(
                    "slice(array_sort(transform(sc, (s, i) ->"
                    " named_struct('neg_s', -s, 'cid', CAST(i AS INT)))),"
                    f" 1, {nprobe})"
                )
            ).alias("cell"),
        )
        .select("qid", "v", F.col("cell.cid").alias("cid"))
    )
    probes = _pq_lut_df(probe_cells, books, norms2, keep=("qid", "cid"))
    scored = (
        assign.join(F.broadcast(probes), "cid")
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            F.expr(_pq_adc_expr()).alias("adc"),
        )
    )
    wq = Window.partitionBy("qid").orderBy(F.col("adc").asc(), F.col("nid"))
    return (
        scored.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= KNN_K)
        .select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            F.col("rn").alias("rnk"),
            round_det(F.col("adc"), 4).alias("adc_dist"),
        )
    )


# ---------------------------------------------------------------------------
# Round 7 — LM-based quality scoring and asymmetric (containment) dedup
# ---------------------------------------------------------------------------

#: Interpolation weights for the bigram LM: p(w2|w1) =
#: BIGRAM_LAMBDA * c2/c1(w1) + (1-BIGRAM_LAMBDA) * c1(w2)/T.
BIGRAM_LAMBDA = 0.7


def _bigram_ppl_oracle() -> str:
    from kafka_stream_faust_deprecated_spark.queries.llm import SQL_NORM

    return f"""
WITH t AS (
    SELECT doc_id, string_split({SQL_NORM}, ' ') AS tk FROM documents
),
tok AS (SELECT doc_id, unnest(tk) AS w FROM t),
bg AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(tk)),
                                 i -> tk[i] || ' ' || tk[i+1])) AS g
    FROM t WHERE len(tk) >= 2
),
c1 AS (SELECT w, count(*)::DOUBLE AS c FROM tok GROUP BY 1),
tot AS (SELECT sum(c) AS n FROM c1),
c2 AS (SELECT g, count(*)::DOUBLE AS c FROM bg GROUP BY 1),
p AS (
    SELECT bg.doc_id, bg.g,
           {BIGRAM_LAMBDA} * (c2.c / w1.c)
             + {1.0 - BIGRAM_LAMBDA} * (w2.c / (SELECT n FROM tot)) AS p
    FROM bg
    JOIN c2 ON c2.g = bg.g
    JOIN c1 w1 ON w1.w = split_part(bg.g, ' ', 1)
    JOIN c1 w2 ON w2.w = split_part(bg.g, ' ', 2)
)
SELECT doc_id,
       count(*)::BIGINT AS n_bigrams,
       {sql_round_det("-avg(ln(p))", 4)} AS nll,
       {sql_round_det("exp(-avg(ln(p)))", 4)} AS ppl
FROM p GROUP BY doc_id
"""


@register("doc_perplexity_bigram", oracle=_bigram_ppl_oracle(), tags=("E25",))
def doc_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity per document — the KenLM-shaped quality
    filter one rung above doc_unigram_nll: p(w2|w1) interpolates the
    corpus bigram MLE with the unigram floor (lambda={BIGRAM_LAMBDA}),
    so held-together prose scores low ppl and shuffled/boilerplate
    token soup scores high even when its unigram profile is normal.
    In production the c1/c2 relations are replaced by a real LM's
    n-gram table — the join shape is identical.

    Scale shape: one tokenize scan feeds the unigram and bigram count
    relations (both map-side-combined, vocabulary-bounded); scoring
    re-joins each document's bigrams on the gram key and its context
    words on the token key, then reduces per doc_id — the same
    token-keyed join fabric as doc_unigram_nll, nothing all-pairs,
    and the LM total rides in as a broadcast scalar."""
    from kafka_stream_faust_deprecated_spark.functions.text import tokens as _tokens

    docs = load_table_parallel(spark, sf_dir, "documents")
    t = docs.select("doc_id", _tokens(F.col("text")).alias("tk"))
    tok = t.select("doc_id", F.explode("tk").alias("w"))
    bg = t.where(F.size("tk") >= 2).select(
        "doc_id", F.explode(word_shingles(F.col("tk"), 2)).alias("g")
    )
    c1 = tok.groupBy("w").agg(F.count("*").cast("double").alias("c"))
    tot = c1.agg(F.sum("c").alias("n"))
    c2 = bg.groupBy("g").agg(F.count("*").cast("double").alias("c"))
    p = (
        bg.join(c2.select(F.col("g"), F.col("c").alias("c2")), "g")
        .join(
            c1.select(F.col("w").alias("w1k"), F.col("c").alias("cw1")),
            F.substring_index(F.col("g"), " ", 1) == F.col("w1k"),
        )
        .join(
            c1.select(F.col("w").alias("w2k"), F.col("c").alias("cw2")),
            F.substring_index(F.col("g"), " ", -1) == F.col("w2k"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            (
                BIGRAM_LAMBDA * (F.col("c2") / F.col("cw1"))
                + (1.0 - BIGRAM_LAMBDA) * (F.col("cw2") / F.col("n"))
            ).alias("p"),
        )
    )
    return p.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        round_det(-F.avg(F.log("p")), 4).alias("nll"),
        round_det(F.exp(-F.avg(F.log("p"))), 4).alias("ppl"),
    )


#: Asymmetric-dedup threshold: emit a pair when EITHER side's shingle
#: set is >=60% contained in the other — catches sub-document
#: duplication (a short doc quoted inside a long one) that symmetric
#: Jaccard's union denominator dilutes below its 0.8 threshold.
CONTAINMENT_THRESHOLD = 0.6


def _containment_oracle() -> str:
    from kafka_stream_faust_deprecated_spark.queries.llm import SQL_SHINGLES

    return f"""
WITH {SQL_SHINGLES},
n AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id),
c AS (
    SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS common
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT da, db,
       {sql_round_det("common * 1.0 / x.ns", 4)} AS contain_a,
       {sql_round_det("common * 1.0 / y.ns", 4)} AS contain_b,
       {sql_round_det("common * 1.0 / (x.ns + y.ns - common)", 4)} AS jac
FROM c JOIN n x ON da = x.doc_id JOIN n y ON db = y.doc_id
WHERE common * 1.0 / x.ns >= {CONTAINMENT_THRESHOLD}
   OR common * 1.0 / y.ns >= {CONTAINMENT_THRESHOLD}
"""


@register("neardup_shingle_containment", oracle=_containment_oracle(), tags=("E23",))
def neardup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup detection: 3-gram shingle CONTAINMENT
    (|A∩B| / |A|, per side) instead of symmetric Jaccard — the check
    that catches a short document quoted wholesale inside a longer one,
    where Jaccard's union denominator dilutes the overlap below any
    sane threshold. Pairs where either side is >={CONTAINMENT_THRESHOLD}
    contained are emitted with both containments AND the Jaccard, so a
    dedup policy can distinguish true duplicates (high jac) from
    sub-document inclusion (high one-sided containment, low jac).

    Scale shape: shares _doc_shingles' single tokenize scan and the
    shingle-keyed equi-join of the Jaccard baseline (exact, not the
    100 TB path — that is a ONE-SIDED MinHash sketch, since symmetric
    LSH bands under-sample exactly the low-jac/high-containment pairs
    this operator exists to find; the banded variant's recall argument
    does not transfer, so the exact join is the honest baseline here).
    Group sizes are per-shingle document frequencies, AQE-split when
    zipf-hot."""
    from kafka_stream_faust_deprecated_spark.queries.llm import (
        _doc_shingles,
        _shingle_counts,
    )

    sh = _doc_shingles(spark, sf_dir)
    ns = _shingle_counts(sh)
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    scored = (
        common.join(
            ns.select(F.col("doc_id").alias("da"), F.col("ns").alias("na")), "da"
        )
        .join(
            ns.select(F.col("doc_id").alias("db"), F.col("ns").alias("nb")), "db"
        )
        .withColumn("ca_raw", F.col("common") * 1.0 / F.col("na"))
        .withColumn("cb_raw", F.col("common") * 1.0 / F.col("nb"))
    )
    return scored.where(
        (F.col("ca_raw") >= CONTAINMENT_THRESHOLD)
        | (F.col("cb_raw") >= CONTAINMENT_THRESHOLD)
    ).select(
        "da",
        "db",
        round_det(F.col("ca_raw"), 4).alias("contain_a"),
        round_det(F.col("cb_raw"), 4).alias("contain_b"),
        round_det(
            F.col("common") * 1.0 / (F.col("na") + F.col("nb") - F.col("common")), 4
        ).alias("jac"),
    )

#: One-sided containment sketch: samples per distinct shingle SET. Each
#: sample is the argmin shingle under an independent seeded xxhash64 — a
#: uniform with-replacement draw from the set, so the fraction of
#: samples found in another set is an unbiased estimate of THIS set's
#: containment in the other.
CONTAIN_K = 64
#: Candidate floor: >= this many of the {CONTAIN_K} samples must land in
#: the other set. 12/64 < threshold/3, so a true pair at the 0.6 emit
#: boundary needs a >3x downward sampling excursion to be missed:
#: P[Binom(64, .6) < 12] ~ 2.5e-12, and still ~5e-8 if soft-cap
#: undercounting halves the effective hit rate to 0.3 — negligible for
#: the oracle contract at any fixture SF (the r8-advice grey-zone
#: hardening; the old 8/24 floor sat at ~2e-3 per threshold pair).
CONTAIN_CAND_MIN = 12
#: Probe-side document-frequency SOFT cap, counted over DISTINCT shingle
#: sets (exact-duplicate clusters collapse to one representative before
#: the sketch, so boilerplate replicated verbatim across thousands of
#: docs — the r8-advice blind spot — no longer makes its shingles hot).
#: A shingle still present in more than this many distinct sets keeps a
#: deterministic ~{CONTAIN_DF_CAP}-representative hash sample of its
#: probe rows instead of being dropped outright. At 100 TB this bounds
#: candidate fan-out to K x cap per set instead of sum(df^2); the cost
#: is a documented recall bound — a pair of NON-identical sets whose
#: common shingles are ALL residual-hot is found only if one side lands
#: in the other's kept sample (prob ~cap/df per shingle). Measured
#: fixture max df is 25 (sf0.1), so the cap is a no-op at test scale;
#: the synthetic hot-shingle pytests exercise both the collapse and the
#: soft-cap paths.
CONTAIN_DF_CAP = 64


@register(
    "neardup_containment_sketch",
    oracle=_containment_oracle(),
    tags=("E23",),
)
def neardup_containment_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path for asymmetric containment dedup — the one-sided
    MinHash sketch `neardup_shingle_containment`'s docstring promises.
    Same output contract as the exact baseline (pairs where either side
    is >= {CONTAINMENT_THRESHOLD} contained, with exact containments and
    Jaccard), but candidate generation never self-joins the full shingle
    relation. Three stages:

    1. COLLAPSE: documents with identical shingle sets (set_key =
       md5 of the sorted set) collapse to one representative — at
       100 TB verbatim boilerplate replicated across thousands of docs
       is the dominant duplication mode, and collapsing it first means
       (a) the heaviest clusters are found EXACTLY with zero join
       fan-out, and (b) document frequency is counted over DISTINCT
       sets, so replication can't push a shingle over the probe cap
       (the r8-advice hot-shingle blind spot).
    2. SKETCH + PROBE: each distinct set is sketched as {CONTAIN_K}
       argmin-shingle samples (uniform with-replacement draws, so
       "fraction of samples present in B" is an unbiased containment
       estimator — unlike symmetric MinHash/LSH bands whose collision
       probability tracks JACCARD and under-samples exactly the
       low-jac/high-containment pairs this operator exists to find).
       Samples probe the (set, shingle) relation on the shingle key; a
       residual-hot shingle (> {CONTAIN_DF_CAP} distinct sets) keeps a
       deterministic hash sample of ~cap probe rows rather than being
       dropped (xxhash64(s, rep) mod df < cap), bounding fan-out to
       K x cap per set. Candidate pairs need >= {CONTAIN_CAND_MIN}/
       {CONTAIN_K} hits (> 3x headroom below the emit threshold;
       boundary miss ~2.5e-12). The rare survivors flow into one exact
       array_intersect verify pass over the cached representative sets
       (plain join, no forced broadcast — AQE broadcasts iff the
       candidate relation is actually small, the r8-verdict #2 fix).
    3. EXPAND: verified representative pairs fan back out to member
       pairs via the set_key -> doc_id relation (scores carry over —
       members have identical sets by construction), and every
       collapsed cluster of size >= 2 emits its intra-cluster pairs at
       containment 1.0 directly. Both expansions touch only clusters
       that contain a verified rep (dup-graph-sized), and their
       quadratic term IS the output size the exact contract mandates.

    Residual recall bound (documented, not silent, and MEASURED): a
    pair of NON-identical sets whose common shingles are ALL
    residual-hot (each shared by > {CONTAIN_DF_CAP} DISTINCT sets) is
    found only if one side lands in the other's kept probe sample —
    prob ~cap/df per sampled shingle.
    tests/test_llm.py::test_containment_sketch_residual_hot_recall_bound
    constructs that full miss regime (256+ distinct sets per shingle)
    and pins observed recall against the ~cap/df prediction, next to a
    verbatim-replicated control in the same corpus that the collapse
    path recovers at recall 1.0 — the common 100 TB case. A shingle-id
    hash collision folding a cold shingle into a hot id's df is one
    more (~n_hot/2^64) contributor to this same bound. The exact
    baseline remains the honest check; recall vs it is deterministic
    (seeded xxhash64), tests/test_llm.py asserts sketch == exact
    (recall 1.0) at sf0.001 and sf0.1, and the planted hot-cluster
    pytest pins the collapse path exactly."""
    from kafka_stream_faust_deprecated_spark.queries.llm import _doc_shingle_sets

    # min_tokens=3 (== size(sh) > 0: a doc has a 3-shingle iff it has
    # >= 3 tokens) instead of a post-hoc filter on the derived column —
    # a size(sh) predicate inside the persisted plan gets pushed below
    # the repartition exchange and inlines the whole shingle pipeline
    # into the single-task scan stage (the _doc_shingle_sets docstring
    # hazard; measured 10x on sf0.1).
    keyed = (
        _doc_shingle_sets(spark, sf_dir, min_tokens=3)
        .select(
            "doc_id",
            "sh",
            F.md5(F.concat_ws("\x1f", F.array_sort("sh"))).alias("set_key"),
        )
        .persist()  # ONE tokenize+shingle scan feeds members AND reps
    )
    members = keyed.select("set_key", "doc_id")
    # One representative row per distinct shingle set. first("sh") is
    # safe: every row in a set_key group carries an identical set
    # (md5 collisions aside, 2^-128-negligible).
    reps = (
        keyed.groupBy("set_key")
        .agg(
            F.first("sh").alias("sh"),
            F.count(F.lit(1)).alias("csize"),
        )
        .persist()  # post-shuffle stage reused by sketch/probe/verify
    )
    try:
        # K argmin-shingle samples as ONE array projection (struct
        # ordering compares the hash field first, so array_min yields
        # the shingle attaining the minimum hash) — zero shuffles, no
        # explode until the bounded K-row sketch.
        def _sample(i: int):
            return lambda d: F.struct(F.xxhash64(F.lit(i), d).alias("h"), d.alias("v"))

        # Candidate generation runs entirely on 8-byte xxhash64 shingle
        # ids, not the ~30-char shingle strings: strings are hashed to
        # ids ONCE per set (bound to a column FIRST — an id expression
        # inlined into the K sample transforms would be re-evaluated
        # per transform, the SPARK-36718 hazard _doc_shingles documents),
        # then each of the K argmin draws hashes longs, and the
        # sketch-probe join shuffles and compares longs (measured 5x on
        # sf0.1 vs string keys). Hash-collision effects (r9 advice): on
        # the SAMPLE side a collision can only ADD a candidate (the
        # exact array_intersect verify discards it), but the soft cap's
        # df is counted on these ids too, so a cold shingle colliding
        # with a residual-hot one inherits the merged df and gets its
        # probe rows down-sampled — i.e. a collision makes a cold
        # shingle behave residual-hot. That is NOT candidate-additive;
        # it is one more (vanishing, ~n_hot/2^64 per distinct shingle)
        # contributor to the documented residual-hot recall bound in
        # the docstring, not a separate failure mode.
        rep_ids = reps.select(
            "set_key",
            F.transform("sh", lambda s: F.xxhash64(s)).alias("ids"),
        )
        sk = rep_ids.select(
            "set_key",
            F.explode(
                F.array(
                    *[
                        F.array_min(F.transform(F.col("ids"), _sample(i)))["v"]
                        for i in range(CONTAIN_K)
                    ]
                )
            ).alias("s64"),
        )
        # Probed side: the exploded (set, shingle-id) relation with the
        # SOFT df cap — df counted over distinct sets; residual-hot
        # shingles keep a deterministic ~cap-row hash sample. Reuses
        # rep_ids so the corpus-sized string-to-id hashing pass is
        # written once, not re-spelled per consumer.
        probe = rep_ids.select(
            F.col("set_key").alias("other"),
            F.explode("ids").alias("s64"),
        )
        dfreq = probe.groupBy("s64").agg(F.count(F.lit(1)).alias("df"))
        probe = probe.join(dfreq, "s64").where(
            (F.col("df") <= CONTAIN_DF_CAP)
            | (F.pmod(F.xxhash64("s64", "other"), F.col("df")) < CONTAIN_DF_CAP)
        )
        cand = (
            sk.join(probe.select("other", "s64"), "s64")
            .where(F.col("set_key") != F.col("other"))
            .groupBy("set_key", "other")
            .agg(F.count(F.lit(1)).alias("hits"))
            .where(F.col("hits") >= CONTAIN_CAND_MIN)
            .select(
                F.least("set_key", "other").alias("ka"),
                F.greatest("set_key", "other").alias("kb"),
            )
            .distinct()
        )
        # Exact verify over representative sets. No broadcast hint:
        # candidates are rare on real corpora but grow with corpus
        # duplication, so the join strategy is left to AQE (broadcast
        # iff actually small, else a key-shuffled join).
        verified = (
            cand.join(
                reps.select(F.col("set_key").alias("ka"), F.col("sh").alias("sha")),
                "ka",
            )
            .join(
                reps.select(F.col("set_key").alias("kb"), F.col("sh").alias("shb")),
                "kb",
            )
            .select(
                "ka",
                "kb",
                F.size(F.array_intersect("sha", "shb")).alias("common"),
                F.size("sha").alias("na"),
                F.size("shb").alias("nb"),
            )
            .withColumn("ca_raw", F.col("common") * 1.0 / F.col("na"))
            .withColumn("cb_raw", F.col("common") * 1.0 / F.col("nb"))
            .where(
                (F.col("ca_raw") >= CONTAINMENT_THRESHOLD)
                | (F.col("cb_raw") >= CONTAINMENT_THRESHOLD)
            )
        )
        # Cross-cluster expansion: every member pair of a verified rep
        # pair shares the reps' exact scores; orientation follows the
        # (least, greatest) doc-id convention of the baseline.
        cross = (
            verified.join(
                members.select(F.col("set_key").alias("ka"), F.col("doc_id").alias("xa")),
                "ka",
            )
            .join(
                members.select(F.col("set_key").alias("kb"), F.col("doc_id").alias("xb")),
                "kb",
            )
            .select(
                F.least("xa", "xb").alias("da"),
                F.greatest("xa", "xb").alias("db"),
                F.when(F.col("xa") <= F.col("xb"), F.col("ca_raw"))
                .otherwise(F.col("cb_raw"))
                .alias("ca_raw"),
                F.when(F.col("xa") <= F.col("xb"), F.col("cb_raw"))
                .otherwise(F.col("ca_raw"))
                .alias("cb_raw"),
                (
                    F.col("common")
                    * 1.0
                    / (F.col("na") + F.col("nb") - F.col("common"))
                ).alias("jac_raw"),
            )
        )
        # Intra-cluster pairs: identical sets, containment and Jaccard
        # exactly 1. Only clusters of size >= 2 enter the self-join, so
        # the shuffle is dup-graph-sized, never corpus-sized.
        dup_members = members.join(
            reps.where(F.col("csize") >= 2).select("set_key"), "set_key"
        )
        ma, mb = dup_members.alias("ma"), dup_members.alias("mb")
        intra = (
            ma.join(
                mb,
                (F.col("ma.set_key") == F.col("mb.set_key"))
                & (F.col("ma.doc_id") < F.col("mb.doc_id")),
            )
            .select(
                F.col("ma.doc_id").alias("da"),
                F.col("mb.doc_id").alias("db"),
                F.lit(1.0).alias("ca_raw"),
                F.lit(1.0).alias("cb_raw"),
                F.lit(1.0).alias("jac_raw"),
            )
        )
        result = cross.unionByName(intra).select(
            "da",
            "db",
            round_det(F.col("ca_raw"), 4).alias("contain_a"),
            round_det(F.col("cb_raw"), 4).alias("contain_b"),
            round_det(F.col("jac_raw"), 4).alias("jac"),
        )
        return result.localCheckpoint(eager=True)
    finally:
        keyed.unpersist()
        reps.unpersist()


# ---------------------------------------------------------------------------
# Round 7 continuation — collocation mining, Zipf diagnostics, embedding QC
# ---------------------------------------------------------------------------

#: Minimum within-document co-occurrence count for a token pair to be
#: PMI-scored — kills the long noise tail before the ranking sort, so
#: the global top-k window only ever sees statistically-supported pairs.
PMI_MIN_PAIR = 5
#: Collocations emitted (top by PMI, ties broken lexicographically).
PMI_TOP_K = 50


def _pmi_oracle() -> str:
    from kafka_stream_faust_deprecated_spark.functions.rounding import (
        sql_round_det,
    )

    return f"""
WITH t AS (
    SELECT doc_id,
           list_sort(list_distinct(string_split({SQL_NORM}, ' '))) AS tk
    FROM documents
),
tok AS (SELECT doc_id, unnest(tk) AS w FROM t),
c1 AS (SELECT w, count(*)::DOUBLE AS c FROM tok GROUP BY 1),
nd AS (SELECT count(*)::DOUBLE AS n FROM documents),
p AS (
    SELECT a.w AS w1, b.w AS w2, count(*)::BIGINT AS c12
    FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.w < b.w
    GROUP BY 1, 2
    HAVING count(*) >= {PMI_MIN_PAIR}
),
s AS (
    SELECT w1, w2, c12,
           ln(c12 * (SELECT n FROM nd) / (x.c * y.c)) AS pmi_raw
    FROM p JOIN c1 x ON x.w = p.w1 JOIN c1 y ON y.w = p.w2
),
r AS (
    SELECT w1, w2, c12, pmi_raw,
           row_number() OVER (
               ORDER BY {sql_round_det("pmi_raw", 6)} DESC, w1, w2
           ) AS rn
    FROM s
)
SELECT w1, w2, c12,
       {sql_round_det("pmi_raw", 4)} AS pmi,
       rn::INT AS rnk
FROM r WHERE rn <= {PMI_TOP_K}
"""


@register("pmi_token_cooccurrence", oracle=_pmi_oracle(), tags=("E25",))
def pmi_token_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-{PMI_TOP_K} within-document token pairs by
    pointwise mutual information, pmi = ln(n_docs * df(w1,w2) /
    (df(w1) * df(w2))) over DOCUMENT frequencies (each pair counted
    once per doc) — the classic phrase-detection pass a tokenizer-prep
    pipeline runs to promote 'new york'-style collocations to units.

    Scale shape: pair GENERATION is a pure per-row array expression —
    each document's sorted distinct-token array expands to its ordered
    pairs via nested transform/slice/flatten inside codegen, so no
    doc_id-keyed self-join ever shuffles the corpus (at 100 TB the
    quadratic per-doc blowup is bounded by capping distinct tokens per
    doc, exactly as Gopher-style pipelines chunk documents; the ~30
    distinct tokens/doc here need no cap). The only wide exchanges are
    the (w1,w2) and unigram count aggregates — both map-side-combined
    and vocabulary-bounded, the corpus count rides in as a broadcast
    1-row scalar, and the final rank window sorts only the
    >={PMI_MIN_PAIR}-support pair relation (vocab-bounded, single
    bounded partition — same class as hot_key_profile's top-N)."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    tl = docs.select(
        F.sort_array(F.array_distinct(tokens(F.col("text")))).alias("tk")
    )
    arr = F.col("tk")
    pair_arr = F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + F.lit(2), F.size(arr)),
                lambda y: F.struct(x.alias("w1"), y.alias("w2")),
            ),
        )
    )
    pairs = tl.select(F.explode(pair_arr).alias("pr")).select("pr.w1", "pr.w2")
    c12 = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .where(F.col("c12") >= PMI_MIN_PAIR)
    )
    dfw = (
        tl.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    nd = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    scored = (
        c12.join(
            dfw.select(F.col("w").alias("w1"), F.col("c").alias("cw1")), "w1"
        )
        .join(dfw.select(F.col("w").alias("w2"), F.col("c").alias("cw2")), "w2")
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "pmi_raw",
            F.log(F.col("c12") * F.col("n") / (F.col("cw1") * F.col("cw2"))),
        )
    )
    w = Window.orderBy(round_det(F.col("pmi_raw"), 6).desc(), "w1", "w2")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= PMI_TOP_K)
        .select(
            "w1",
            "w2",
            "c12",
            round_det(F.col("pmi_raw"), 4).alias("pmi"),
            "rnk",
        )
    )


def _zipf_oracle() -> str:
    from kafka_stream_faust_deprecated_spark.functions.rounding import (
        sql_round_det,
    )

    return f"""
WITH tok AS (
    SELECT lang, unnest(string_split({SQL_NORM}, ' ')) AS w FROM documents
),
c AS (SELECT lang, w, count(*)::DOUBLE AS c FROM tok GROUP BY 1, 2),
r AS (
    SELECT lang, c,
           row_number() OVER (
               PARTITION BY lang ORDER BY c DESC, w
           )::DOUBLE AS r
    FROM c
)
SELECT lang,
       count(*)::BIGINT AS vocab,
       sum(c)::BIGINT AS total_tokens,
       {sql_round_det("regr_slope(ln(c), ln(r))", 4)} AS zipf_slope,
       {sql_round_det("regr_intercept(ln(c), ln(r))", 4)} AS zipf_intercept,
       {sql_round_det("regr_r2(ln(c), ln(r))", 4)} AS zipf_r2
FROM r GROUP BY lang
"""


@register("token_zipf_slope", oracle=_zipf_oracle(), tags=("E25",))
def token_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency diagnostic per language: OLS fit of
    ln(frequency) against ln(rank) over the token frequency table —
    natural text sits near slope -1; a corpus slice whose slope or R²
    drifts (template spam flattens the head, OCR noise fattens the
    tail) is the classic distribution-level quality alarm that
    per-document filters can't see.

    Scale shape: one tokenize scan feeds a (lang, token) count
    aggregate (map-side-combined, vocabulary-bounded); ranking windows
    partition BY LANGUAGE over that already-aggregated vocab-sized
    relation — never the corpus — and the regression reduces each
    language's vocab rows to one line of sufficient statistics via
    regr_slope/intercept/r2 (sum/sum-of-squares form, map-side
    combined). Nothing in the plan scales with document count except
    the initial scan."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    tl = docs.select("lang", F.explode(tokens(F.col("text"))).alias("w"))
    cnt = tl.groupBy("lang", "w").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    w = Window.partitionBy("lang").orderBy(F.col("c").desc(), "w")
    ranked = cnt.withColumn("r", F.row_number().over(w).cast("double"))
    lc, lr = F.log("c"), F.log("r")
    return ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("vocab"),
        F.sum("c").cast("long").alias("total_tokens"),
        round_det(F.regr_slope(lc, lr), 4).alias("zipf_slope"),
        round_det(F.regr_intercept(lc, lr), 4).alias("zipf_intercept"),
        round_det(F.regr_r2(lc, lr), 4).alias("zipf_r2"),
    )


#: |z| threshold for flagging an embedding's L2 norm as an outlier
#: within its label group (the cheap degenerate-vector screen run
#: before any ANN index build).
EMB_NORM_Z = 2.0


def _norm_outlier_oracle() -> str:
    from kafka_stream_faust_deprecated_spark.functions.rounding import (
        sql_round_det,
    )

    return f"""
WITH nm AS (
    SELECT vec_id, label,
           sqrt(list_sum(list_transform(embedding,
                                        x -> x::DOUBLE * x::DOUBLE))) AS nrm
    FROM embeddings
),
st AS (
    SELECT label, avg(nrm) AS m, stddev_pop(nrm) AS s
    FROM nm GROUP BY 1
)
SELECT vec_id, nm.label AS label,
       {sql_round_det("nrm", 4)} AS l2_norm,
       {sql_round_det("(nrm - m) / s", 4)} AS z
FROM nm JOIN st ON nm.label = st.label
WHERE s > 0 AND abs({sql_round_det("(nrm - m) / s", 4)}) >= {EMB_NORM_Z}
"""


@register("embedding_norm_outliers", oracle=_norm_outlier_oracle(), tags=("E24",))
def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene screen: per-label L2-norm z-scores, emitting
    vectors whose norm sits >={EMB_NORM_Z} population standard
    deviations from their label's mean — the cheap pre-index sweep
    that catches truncated/zero/exploded vectors (a failed encoder
    batch shows up as a norm cluster) before they poison centroid
    training or cosine thresholds.

    Scale shape: the norm is a per-row codegen array fold (no Python,
    no shuffle); label statistics are one map-side-combined aggregate
    over the label domain, broadcast back for the z-score — the corpus
    is scanned once and never shuffled. The z filter compares the SAME
    4-decimal rounded value both engines emit, so the threshold cannot
    flicker on last-ulp aggregate drift."""
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    nm = emb.select(
        "vec_id",
        "label",
        F.sqrt(
            F.aggregate(
                F.transform(
                    "embedding", lambda x: x.cast("double") * x.cast("double")
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        ).alias("nrm"),
    )
    st = nm.groupBy("label").agg(
        F.avg("nrm").alias("m"), F.stddev_pop("nrm").alias("s")
    )
    z_r = round_det((F.col("nrm") - F.col("m")) / F.col("s"), 4)
    return (
        nm.join(F.broadcast(st), "label")
        .where(F.col("s") > 0)
        .where(F.abs(z_r) >= EMB_NORM_Z)
        .select(
            "vec_id",
            "label",
            round_det(F.col("nrm"), 4).alias("l2_norm"),
            z_r.alias("z"),
        )
    )


def _source_kl_oracle() -> str:
    from kafka_stream_faust_deprecated_spark.functions.rounding import (
        sql_round_det,
    )

    return f"""
WITH tok AS (
    SELECT source, unnest(string_split({SQL_NORM}, ' ')) AS w FROM documents
),
csw AS (SELECT source, w, count(*)::DOUBLE AS csw FROM tok GROUP BY 1, 2),
cw AS (SELECT w, sum(csw) AS cw FROM csw GROUP BY 1),
ts AS (SELECT source, sum(csw) AS ts, count(*)::BIGINT AS vocab
       FROM csw GROUP BY 1),
tot AS (SELECT sum(cw) AS t, count(*)::DOUBLE AS v FROM cw),
nd AS (SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY 1),
kl AS (
    SELECT csw.source,
           sum((csw / ts.ts) * ln((csw / ts.ts) / (cw.cw / (SELECT t FROM tot)))) AS kl
    FROM csw JOIN cw USING (w) JOIN ts ON csw.source = ts.source
    GROUP BY 1
)
SELECT nd.source AS source, n_docs, ts.ts::BIGINT AS total_tokens, vocab,
       {sql_round_det("kl.kl", 4)} AS kl_vs_corpus,
       {sql_round_det("vocab / (SELECT v FROM tot)", 4)} AS vocab_coverage
FROM nd JOIN ts ON nd.source = ts.source JOIN kl ON nd.source = kl.source
"""


@register("source_unigram_divergence", oracle=_source_kl_oracle(), tags=("E25",))
def source_unigram_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix diagnostic: KL divergence of each SOURCE's unigram
    distribution from the corpus-wide distribution, plus its vocabulary
    coverage — the per-domain drift score a mixture owner reads before
    re-weighting sources (a source whose KL spikes is templated or
    off-domain; one whose coverage craters is too narrow to upsample).
    KL is computed over the source's own support, which the corpus
    distribution dominates by construction (every source token is a
    corpus token), so no smoothing term is needed.

    Scale shape: ONE tokenize scan materializes the (source, token)
    count relation (vocabulary × source bounded — persisted, so the
    corpus marginal, the per-source totals, and the KL join all reuse
    it instead of re-scanning the corpus); per-source totals broadcast
    back onto the token-keyed join and the corpus total rides in as a
    1-row broadcast scalar. Every exchange after the first aggregate is
    vocabulary- or source-bounded — nothing scales with document count
    except the single scan."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens(F.col("text"))).alias("w"))
    csw = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("double").alias("csw")
    ).persist()
    try:
        cw = csw.groupBy("w").agg(F.sum("csw").alias("cw"))
        ts = csw.groupBy("source").agg(
            F.sum("csw").alias("ts"), F.count(F.lit(1)).alias("vocab")
        )
        tot = cw.agg(
            F.sum("cw").alias("t"), F.count(F.lit(1)).cast("double").alias("v")
        )
        nd = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
        ps = F.col("csw") / F.col("ts")
        kl = (
            csw.join(cw, "w")
            .join(F.broadcast(ts.select("source", "ts")), "source")
            .crossJoin(F.broadcast(tot.select("t")))
            .select(
                "source",
                (ps * F.log(ps / (F.col("cw") / F.col("t")))).alias("term"),
            )
            .groupBy("source")
            .agg(F.sum("term").alias("kl"))
        )
        result = (
            nd.join(ts, "source")
            .join(kl, "source")
            .crossJoin(F.broadcast(tot.select("v")))
            .select(
                "source",
                "n_docs",
                F.col("ts").cast("long").alias("total_tokens"),
                "vocab",
                round_det(F.col("kl"), 4).alias("kl_vs_corpus"),
                round_det(
                    F.col("vocab") / F.col("v"), 4
                ).alias("vocab_coverage"),
            )
        )
        return result.localCheckpoint(eager=True)
    finally:
        csw.unpersist()


#: Rows kept by the weighted sample (A-ES top-k).
SAMPLE_WEIGHTED_K = 100


def _weighted_sample_oracle() -> str:
    from kafka_stream_faust_deprecated_spark.functions.rounding import (
        sql_round_det,
    )
    from kafka_stream_faust_deprecated_spark.queries.llm import _sql_hex_to_int

    u = (
        "(("
        + _sql_hex_to_int("substr(md5(CAST(doc_id AS VARCHAR)), 9, 8)", 8)
        + " + 0.5) / 4294967296.0)"
    )
    return f"""
WITH k AS (
    SELECT doc_id, n_chars, ln(-ln({u})) - ln(n_chars) AS key_raw
    FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars, {sql_round_det("key_raw", 6)} AS sel_key
FROM k
ORDER BY {sql_round_det("key_raw", 6)} ASC, doc_id
LIMIT {SAMPLE_WEIGHTED_K}
"""


@register(
    "sample_weighted_aes", oracle=_weighted_sample_oracle(), tags=("E23", "E25")
)
def sample_weighted_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the A-ES exponential
    key (Efraimidis–Spirakis): each document draws a reproducible
    uniform u from md5(doc_id) (hex window 9-16, disjoint from the
    mixture sampler's window 1-8 so the two samplers are independent)
    and the BEST k keys win — an exact weighted sample with zero RNG
    state and identical output on any cluster size or partition
    layout. This is the quality-weighted subset selection a curation
    pipeline runs to pick a fixed-budget eval or annotation set.

    The key is ranked in LOG-MAGNITUDE form, ln(-ln u) - ln(weight)
    ascending (a monotone transform of the textbook ln(u)/weight
    descending): the raw key's winners crowd toward 0 as ~1/(N·w̄), so
    any fixed decimal rounding of it collapses the head of the
    distribution into ties at scale, while the log form keeps ~1e-6
    RELATIVE resolution at every corpus size — the 6-dp rounding
    contract then only ever merges keys within 0.0001% of each other
    (far below u's 32-bit entropy) instead of destroying the weighted
    order entirely.

    Scale shape: the key is a per-row codegen expression and the top-k
    executes as TakeOrderedAndProject — per-partition size-k heaps
    merged on the driver, no sort exchange and no global shuffle; the
    6-dp-rounded key + doc_id tiebreak makes the cutoff a total order,
    so both engines select the identical boundary rows."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 9, 8), 16, 10
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    key_r = round_det(F.log(-F.log(u)) - F.log(F.col("n_chars")), 6)
    return (
        docs.where(F.col("n_chars") > 0)
        .select("doc_id", "n_chars", key_r.alias("sel_key"))
        .orderBy(F.col("sel_key").asc(), "doc_id")
        .limit(SAMPLE_WEIGHTED_K)
    )


#: Counter budget / emitted top-k / episode idle gap (seconds) for the
#: heavy-hitters pair.
HH_CAPACITY = 8
HH_K = 5
HH_HORIZON = 3600


def _hh_oracle() -> str:
    return f"""
WITH e AS (
    SELECT user_id, event_id, event_type,
           epoch(date_trunc('second', ts))::BIGINT AS sec_ep
    FROM events
),
b AS (
    SELECT *, CASE WHEN lag(sec_ep) OVER w IS NULL
                     OR sec_ep - lag(sec_ep) OVER w > {HH_HORIZON}
                   THEN 1 ELSE 0 END AS brk
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec_ep, event_id)
),
s AS (
    SELECT *, sum(brk) OVER (
        PARTITION BY user_id ORDER BY sec_ep, event_id
        ROWS UNBOUNDED PRECEDING
    )::BIGINT AS episode
    FROM b
),
c AS (SELECT user_id, episode, event_type, count(*)::BIGINT AS est_count
      FROM s GROUP BY 1, 2, 3),
t AS (SELECT user_id, episode, count(*)::BIGINT AS n_events
      FROM s GROUP BY 1, 2),
r AS (
    SELECT user_id, episode, event_type, est_count,
           row_number() OVER (
               PARTITION BY user_id, episode
               ORDER BY est_count DESC, event_type
           ) AS rn
    FROM c
)
SELECT r.user_id AS user_id, r.episode AS episode, event_type, est_count,
       0::BIGINT AS max_err, n_events, rn::INT AS rnk
FROM r JOIN t ON r.user_id = t.user_id AND r.episode = t.episode
WHERE rn <= {HH_K}
"""


@register("heavy_hitters_exact", oracle=_hh_oracle(), tags=("E7", "E12"))
def heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming Space-Saving heavy hitters
    (streaming/episodes.py): exact per-(user, episode)
    top-{HH_K} event types with the sketch's deterministic tie-break
    (count desc, value asc) and err = 0, episodes derived from the
    stream's own rule (new episode after a >{HH_HORIZON}s idle gap) —
    the ground truth the sketch's guarantees are tested against, and
    the row-identical batch equivalent whenever no episode exceeds the
    {HH_CAPACITY}-counter budget.

    Scale shape: ONE user-keyed sort exchange (the episode lag/cumsum
    window) that the (user, episode)-keyed count aggregates, rank
    window, and totals join all reuse via the ClusteredDistribution
    subset rule — the sessionize_capped shape; nothing is global."""
    ev = load_table_parallel(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    return heavy_hitters_exact_df(ev, horizon=HH_HORIZON)


def heavy_hitters_exact_df(events: DataFrame, horizon: int) -> DataFrame:
    """Batch twin: EXACT per-(user, episode) top-``HH_K`` event types with
    the sketch's tie-break (count desc, value asc) and err = 0 — equals
    the streaming output whenever no episode exceeds the counter
    budget. Episodes come from ``with_episode``: a new one starts after
    a >``horizon``-second idle gap.

    ``events`` needs columns (user_id, event_id, ts, event_type); the
    only exchange is the user-keyed sort the episode window needs,
    which the count aggregates and rank window then reuse."""
    ep = with_episode(events, horizon)
    cnt = ep.groupBy("user_id", "episode", "event_type").agg(
        F.count(F.lit(1)).alias("est_count")
    )
    tot = ep.groupBy("user_id", "episode").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = Window.partitionBy("user_id", "episode").orderBy(
        F.col("est_count").desc(), "event_type"
    )
    return (
        cnt.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= HH_K)
        .join(tot, ["user_id", "episode"])
        .select(
            "user_id",
            "episode",
            "event_type",
            "est_count",
            F.lit(0).cast("long").alias("max_err"),
            "n_events",
            "rnk",
        )
    )


def _lang_confusion_oracle() -> str:
    from kafka_stream_faust_deprecated_spark.functions.rounding import (
        sql_round_det,
    )
    from kafka_stream_faust_deprecated_spark.queries.llm import _lang_id_oracle

    return f"""
WITH c AS (
    SELECT lang, predicted, count(*)::BIGINT AS n_docs
    FROM ({_lang_id_oracle()}) base
    GROUP BY 1, 2
),
t AS (SELECT lang, sum(n_docs)::DOUBLE AS tot FROM c GROUP BY 1)
SELECT c.lang AS lang, predicted, n_docs,
       {sql_round_det("n_docs / tot", 4)} AS lang_share
FROM c JOIN t ON c.lang = t.lang
"""


@register(
    "lang_confusion_matrix", oracle=_lang_confusion_oracle(), tags=("E25",)
)
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-quality diagnostic: the (tagged language x predicted
    language) confusion matrix of the lexicon language-ID heuristic,
    with each cell's share of its true-language row — the acceptance
    audit a curation pipeline runs before trusting a cheap classifier
    to route documents (off-diagonal mass shows exactly which language
    pairs the lexicons confuse, 'und' rows show coverage gaps).

    Scale shape: composes lang_id_lexicon's per-row codegen scoring
    (no shuffle) with one (lang, predicted) count aggregate over the
    language-pair domain and a broadcast per-language totals join —
    the corpus is scanned once; every exchange is bounded by the
    language-pair cardinality."""
    from kafka_stream_faust_deprecated_spark.queries.llm import lang_id_lexicon

    base = lang_id_lexicon(spark, sf_dir)
    c = base.groupBy("lang", "predicted").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    t = c.groupBy("lang").agg(F.sum("n_docs").cast("double").alias("tot"))
    return c.join(F.broadcast(t), "lang").select(
        "lang",
        "predicted",
        "n_docs",
        round_det(F.col("n_docs") / F.col("tot"), 4).alias("lang_share"),
    )
