"""Corpus ordering / placement operators (SURVEY.md §2 rows C41–C44):
quality calibration, deterministic training order, token-balanced shard
assignment, and the cross-source duplicate-leak matrix.

The last mile of a training-data pipeline: AFTER curation decides what to
keep, these decide *where each document goes and in what order it is seen*
— calibrated quality tiers for curriculum/filtering thresholds,
reproducible epoch shuffling, balanced output shards, and an audit of
duplicated content leaking across source boundaries. Driver-canon rules
throughout: integer ppm ratios, BIGINT counts, md5-derived orderings
(identical lowercase-hex rendering on both engines), explicit tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import table
from .curation import _NTOK_DUCK, _NTOK_SPARK

_CAL_BUCKETS = 10


@query(
    "q_llm_quality_calibrate",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               CAST((1000000 * len(list_distinct(
                        string_split(coalesce(text, ''), ' '))))
                    // {_NTOK_DUCK} AS BIGINT) AS metric_ppm
        FROM documents
    )
    SELECT doc_id, lang, metric_ppm,
           ntile({_CAL_BUCKETS}) OVER (
               PARTITION BY lang ORDER BY metric_ppm ASC, doc_id ASC
           ) AS decile
    FROM scored
    """,
)
def q_llm_quality_calibrate(spark, sf_dir):
    """C41: per-language quality-score calibration — map each document's
    raw quality metric (distinct-token ppm, the C31 signal) to its decile
    WITHIN its language. Absolute thresholds ("keep ratio > 0.6") mean
    different things in different languages; percentile tiers are the
    comparable currency curriculum schedules and per-lang keep-rates are
    written in. ntile over a fully tiebroken order (metric, doc_id) is
    deterministic on any engine/partitioning. At 100 TB an exact global
    ntile per lang is a sort — the scale path is the same query over the
    C25 hash-sample to fit tier *boundaries*, then a broadcast range-join
    of boundaries against the full corpus; the fixture-scale exact form
    doubles as that oracle."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.expr(
            "CAST((1000000 * size(array_distinct(split(coalesce(text, ''), "
            f"' ')))) div {_NTOK_SPARK} AS BIGINT)"
        ).alias("metric_ppm"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("metric_ppm").asc(), F.col("doc_id").asc()
    )
    return d.select(
        "doc_id", "lang", "metric_ppm", F.ntile(_CAL_BUCKETS).over(w).alias("decile")
    )


_ORDER_EPOCH = "ep1"
_ORDER_SHARDS = 8


@query(
    "q_llm_train_order",
    oracle=f"""
    SELECT doc_id,
           doc_id % {_ORDER_SHARDS} AS shard,
           row_number() OVER (
               PARTITION BY doc_id % {_ORDER_SHARDS}
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':{_ORDER_EPOCH}') ASC,
                        doc_id ASC
           ) AS pos
    FROM documents
    """,
)
def q_llm_train_order(spark, sf_dir):
    """C42: deterministic epoch shuffle — the training-order primitive.
    Each document's position is a pure function of (doc_id, epoch salt):
    shard by id, order within the shard by md5(id || ':' || epoch). Change
    the salt and the whole corpus reshuffles; keep it and any re-run —
    any cluster, any partitioning, any engine — reproduces the exact read
    order, which is what makes a training run resumable and auditable
    (contrast ``df.orderBy(rand())``: partition-layout-dependent and
    unrepeatable). At 100 TB the shard IS the output file: the per-shard
    window sorts |corpus|/shards rows partition-locally after one hash
    shuffle — no global sort ever materializes, and shard count scales
    with the writer parallelism."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    shard = (F.col("doc_id") % _ORDER_SHARDS).alias("shard")
    h = F.md5(
        F.encode(
            F.concat(
                F.col("doc_id").cast("string"), F.lit(f":{_ORDER_EPOCH}")
            ),
            "UTF-8",
        )
    )
    w = Window.partitionBy(F.col("doc_id") % _ORDER_SHARDS).orderBy(
        h.asc(), F.col("doc_id").asc()
    )
    return d.select(
        "doc_id", shard, F.row_number().over(w).alias("pos")
    )


_BAL_SHARDS = 4


@query(
    "q_llm_shard_balance",
    oracle=f"""
    WITH ranked AS (
        SELECT lang, {_NTOK_DUCK} AS n_tok,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY {_NTOK_DUCK} DESC, doc_id ASC
               ) AS rk
        FROM documents
    )
    SELECT lang, (rk - 1) % {_BAL_SHARDS} AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS sum_tokens
    FROM ranked GROUP BY lang, (rk - 1) % {_BAL_SHARDS}
    """,
)
def q_llm_shard_balance(spark, sf_dir):
    """C43: token-balanced shard assignment — stripe documents across
    {_BAL_SHARDS} shards per language in descending token-count order
    (longest-processing-time round-robin, the classic greedy bin-balancing
    heuristic: each shard's token total lands within one max-document of
    optimal). Balanced shards mean no straggler file in the downstream
    tokenizer/loader — the 100 TB failure mode this prevents is one shard
    carrying the long tail of giant documents. Only (lang, n_tok, doc_id)
    triples enter the window — text never shuffles — and the audit output
    is the per-(lang, shard) doc/token totals the writer would check."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.expr(_NTOK_SPARK).alias("n_tok")
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("n_tok").desc(), F.col("doc_id").asc()
    )
    ranked = d.select(
        "lang", "n_tok", F.row_number().over(w).alias("rk")
    )
    return (
        ranked.withColumn("shard", (F.col("rk") - 1) % _BAL_SHARDS)
        .groupBy("lang", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("sum_tokens"),
        )
    )


@query(
    "q_llm_source_leak",
    oracle="""
    WITH hs AS (
        SELECT DISTINCT md5(coalesce(text, '')) AS h, source
        FROM documents
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def q_llm_source_leak(spark, sf_dir):
    """C44: cross-source duplicate-leak matrix — for every pair of corpus
    sources, how many identical documents (by content hash) appear in
    both. This is the dedup-policy audit: a hot cell says two ingestion
    feeds overlap (e.g. the same crawl mirrored twice), which both wastes
    tokens and silently upweights that content in the mixture (C30). The
    join runs on the DISTINCT (hash, source) frame — bounded by the corpus
    in rows but with text reduced to 32-byte hashes before any shuffle —
    and the equi-join on hash keeps per-key fan-out equal to the number of
    sources sharing that document (≤ |sources|), never a cross product.
    At 100 TB: identical plan; the output is |sources|² cells at most."""
    d = table(spark, sf_dir, "documents")
    hs = d.select(
        F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")).alias("h"),
        "source",
    ).distinct()
    a = hs.alias("a")
    b = hs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
