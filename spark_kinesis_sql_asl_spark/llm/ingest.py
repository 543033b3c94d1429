"""Corpus refresh / re-balancing operators (SURVEY.md §2 rows C45–C47):
bitext candidate mining, incremental-ingest dedup, and mixture-rebalanced
deterministic downsampling.

A 100 TB corpus is never built once — it is refreshed: new crawl batches
arrive (C46 decides what is actually new), cross-lingual pairs are mined
for translation data (C45), and the final mix is rebalanced to target
weights without a separate sampling service (C47 composes C30's weights
with C25's hash-gate into one scan predicate). Driver-canon rules: integer
ppm ratios, BIGINT counts, the ``round(cos, 6)`` float convention C15
already driver-validated, and hex-string comparisons whose byte order is
identical on both engines.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import parallel_table, table
from .curation import _NTOK_DUCK, _NTOK_SPARK
from .similarity import as_double, dot, safe_cosine, sq_norm

_BITEXT_TAU = 0.3  # fixture embeddings are near-orthogonal (max pair ~0.47)


@query(
    "q_llm_bitext_mine",
    priority=30,
    oracle=f"""
    WITH j AS (
        SELECT d.doc_id, d.lang, e.label, e.embedding::DOUBLE[] AS v
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.lang AS lang_a, b.lang AS lang_b,
           round(coalesce(list_dot_product(a.v, b.v) / nullif(
               sqrt(list_sum(list_transform(a.v, x -> x * x))) *
               sqrt(list_sum(list_transform(b.v, x -> x * x))), 0), 0), 6)
               AS cosine
    FROM j a JOIN j b
      ON a.label = b.label AND a.lang < b.lang
    WHERE coalesce(list_dot_product(a.v, b.v) / nullif(
              sqrt(list_sum(list_transform(a.v, x -> x * x))) *
              sqrt(list_sum(list_transform(b.v, x -> x * x))), 0), 0)
          >= {_BITEXT_TAU}
    """,
)
def q_llm_bitext_mine(spark, sf_dir):
    """C45: bitext candidate mining — cross-LANGUAGE document pairs whose
    embeddings are close (the parallel-corpus generation step behind
    translation training sets; the margin/kNN refinement runs downstream
    of exactly this candidate join). Same blocked-pairwise shape as C15,
    but the pair predicate demands ``lang_a < lang_b``: monolingual
    near-dups are C15's job, translations are this one's. Blocking by the
    embedding label keeps candidates to same-cluster pairs — at 100 TB the
    label is a coarse quantizer cell (C33), so candidate volume is
    sum-of-cell-sizes², never corpus². Text never enters the join: only
    (doc_id, lang, label, vector) flow, and the doc⋈embedding lookup is an
    equi-join on the natural key."""
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        as_double(F.col("embedding")).alias("v"),
    )
    j = d.join(e, d.doc_id == e.vec_id).select(
        "doc_id", "lang", "label", "v", F.sqrt(sq_norm(F.col("v"))).alias("nrm")
    )
    a = j.select(
        F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang_a"),
        F.col("label").alias("la"), F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = j.select(
        F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b"),
        F.col("label").alias("lb"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    cos = safe_cosine(dot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb"))
    # Single-evaluation barrier (round 14, the embed_neardup_pairs fix):
    # without it the tau filter is pushed into the label-join CONDITION
    # while the rounded copy stays in the projection, running the zip_with
    # dot product twice per candidate pair. rand(7)*0 is always zero but
    # marks the column nondeterministic — one evaluation, not pushable.
    return (
        a.join(
            b,
            (F.col("la") == F.col("lb")) & (F.col("lang_a") < F.col("lang_b")),
        )
        .withColumn("_cos", cos + F.rand(7) * 0)
        .where(F.col("_cos") >= _BITEXT_TAU)
        .select(
            "doc_a", "doc_b", "lang_a", "lang_b",
            F.round("_cos", 6).alias("cosine"),
        )
    )


_BATCH_MOD = 5  # doc_id % 5 == 0 plays the freshly-ingested batch (~20%)


@query(
    "q_llm_ingest_dedup",
    priority=30,
    oracle=f"""
    WITH corpus AS (
        SELECT DISTINCT md5(coalesce(text, '')) AS h
        FROM documents WHERE doc_id % {_BATCH_MOD} <> 0
    ),
    batch AS (
        SELECT doc_id, lang, md5(coalesce(text, '')) AS h
        FROM documents WHERE doc_id % {_BATCH_MOD} = 0
    )
    SELECT b.lang,
           CAST(count(*) AS BIGINT) AS n_batch,
           CAST(count(c.h) AS BIGINT) AS n_dup,
           CAST(count(*) - count(c.h) AS BIGINT) AS n_novel,
           CAST((1000000 * (count(*) - count(c.h))) // count(*) AS BIGINT)
               AS novel_ppm
    FROM batch b LEFT JOIN corpus c ON b.h = c.h
    GROUP BY b.lang
    """,
)
def q_llm_ingest_dedup(spark, sf_dir):
    """C46: incremental-ingest dedup — screen a freshly-arrived batch
    against the existing corpus by content hash and report, per language,
    how much of it is actually novel. This is the operator a *living*
    corpus runs on every crawl drop: full-corpus dedup (C1/C38) is the
    build-time pass, this is the delta pass, and its cost is |batch| — not
    |corpus| — on the probe side. The corpus side reduces to a DISTINCT
    hash set before the join (32-byte keys, text never shuffles); at
    100 TB that hash set is the persistent dedup index a pipeline keeps
    sorted/bucketed on disk, and the left join is a bucket-local probe.
    The fixture batch is carved deterministically (doc_id % {_BATCH_MOD})
    so both engines and every run see the same split."""
    d = table(spark, sf_dir, "documents")
    h = F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary"))
    corpus = (
        d.where(F.col("doc_id") % _BATCH_MOD != 0)
        .select(h.alias("h"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    batch = d.where(F.col("doc_id") % _BATCH_MOD == 0).select(
        "doc_id", "lang", h.alias("h")
    )
    joined = batch.join(corpus, "h", "left")
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_batch"),
        F.count("hit").alias("n_dup"),
        (F.count(F.lit(1)) - F.count("hit")).alias("n_novel"),
        F.expr(
            "CAST((1000000 * (count(1) - count(hit))) div count(1) AS BIGINT)"
        ).alias("novel_ppm"),
    )


# 6-hex-digit bucket space for the sampling gate: 16^6 = 16777216.
_GATE_SPACE = 16_777_216


@query(
    "q_llm_mixture_sample",
    priority=30,
    oracle=f"""
    WITH d AS (
        SELECT coalesce(source, '') AS src, {_NTOK_DUCK} AS n_tok,
               substr(md5(coalesce(text, '')), 1, 6) AS h6
        FROM documents
    ),
    ps AS (
        SELECT src, CAST(sum(n_tok) AS BIGINT) AS sum_tok,
               CAST(count(*) AS BIGINT) AS n_total
        FROM d GROUP BY src
    ),
    t AS (SELECT CAST(sum(sum_tok) AS BIGINT) AS total, count(*) AS s FROM ps),
    bounds AS (
        SELECT src, sum_tok, n_total,
               least(1000000, CAST((1000000 * total)
                              // greatest(1, s * sum_tok)
                              AS BIGINT)) AS bound_ppm
        FROM ps, t
    )
    SELECT b.src AS source, b.sum_tok, b.n_total, b.bound_ppm,
           CAST(count(CASE WHEN b.bound_ppm >= 1000000
                           OR d.h6 < lpad(lower(to_hex(
                                  (b.bound_ppm * {_GATE_SPACE}) // 1000000)),
                                  6, '0')
                           THEN 1 END) AS BIGINT) AS n_kept,
           CAST((1000000 * count(CASE WHEN b.bound_ppm >= 1000000
                           OR d.h6 < lpad(lower(to_hex(
                                  (b.bound_ppm * {_GATE_SPACE}) // 1000000)),
                                  6, '0')
                           THEN 1 END)) // count(*) AS BIGINT) AS kept_ppm
    FROM d JOIN bounds b ON d.src = b.src
    GROUP BY b.src, b.sum_tok, b.n_total, b.bound_ppm
    """,
)
def q_llm_mixture_sample(spark, sf_dir):
    """C47: mixture-rebalanced deterministic downsampling — C30's uniform-
    target weights turned into a per-source KEEP PREDICATE and audited.
    Over-represented sources get bound_ppm < 1e6 and are thinned by the
    C25 content-hash gate (first 6 md5 hex digits, compared against the
    integer-exact hex rendering of the bound scaled into the 16^6 bucket
    space — same-length hex strings compare lexicographically = numerically
    on every engine); under-represented sources keep everything (their
    deficit is an upsampling decision for the loader, not a filter).
    Membership is a pure function of (text, weights): reproducible on any
    cluster and stable across incremental re-runs. Plan: one rollup builds
    the |sources|-row weight table, totals ride a 1-row broadcast, the
    bounds broadcast back onto the scan, and the keep predicate fuses into
    it — at 100 TB this is a single pass over the corpus plus two
    broadcast joins, no shuffle of document rows at all."""
    d = table(spark, sf_dir, "documents").select(
        F.coalesce(F.col("source"), F.lit("")).alias("src"),
        F.expr(_NTOK_SPARK).alias("n_tok"),
        F.substring(
            F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")), 1, 6
        ).alias("h6"),
    )
    ps = d.groupBy("src").agg(
        F.sum("n_tok").cast("bigint").alias("sum_tok"),
        F.count(F.lit(1)).alias("n_total"),
    )
    t = ps.agg(
        F.sum("sum_tok").cast("bigint").alias("total"),
        F.count(F.lit(1)).alias("s"),
    )
    bounds = ps.join(F.broadcast(t)).select(
        "src",
        "sum_tok",
        "n_total",
        # greatest(1, ...) guards the divisor on BOTH engines: sum_tok >= 1
        # today (_NTOK counts >= 1 token even for empty text), but if the
        # token expression ever changes, int div-by-zero errors in DuckDB
        # while Spark yields NULL — the guard keeps the oracle comparable.
        F.expr(
            "least(CAST(1000000 AS BIGINT), "
            "CAST((1000000 * total) div greatest(1, s * sum_tok) AS BIGINT))"
        ).alias("bound_ppm"),
    )
    keep = F.expr(
        f"bound_ppm >= 1000000 OR h6 < lpad(lower(hex("
        f"(bound_ppm * {_GATE_SPACE}) div 1000000)), 6, '0')"
    )
    return (
        d.join(F.broadcast(bounds), "src")
        .groupBy("src", "sum_tok", "n_total", "bound_ppm")
        .agg(
            F.count(F.when(keep, 1)).alias("n_kept"),
            F.expr(
                f"CAST((1000000 * count(CASE WHEN bound_ppm >= 1000000 OR "
                f"h6 < lpad(lower(hex((bound_ppm * {_GATE_SPACE}) div "
                f"1000000)), 6, '0') THEN 1 END)) div count(1) AS BIGINT)"
            ).alias("kept_ppm"),
        )
        .select(
            F.col("src").alias("source"),
            "sum_tok",
            "n_total",
            "bound_ppm",
            "n_kept",
            "kept_ppm",
        )
    )


_BUILD_MIN_TOK = 20
_BUILD_MIN_DISTINCT_X10 = 3  # 10 * n_distinct >= 3 * n_tok  (ratio >= 0.3)
_BUILD_TRAIN_BOUND = "cc"  # md5 first byte < 0xcc => train (C35 convention)
_BUILD_PACK = 2048


@query(
    "q_llm_corpus_build",
    priority=30,
    oracle=f"""
    WITH uniq AS (
        SELECT doc_id, lang, text FROM (
            SELECT doc_id, lang, text,
                   row_number() OVER (
                       PARTITION BY md5(coalesce(text, ''))
                       ORDER BY doc_id ASC
                   ) AS rn
            FROM documents
        ) WHERE rn = 1
    ),
    kept AS (
        SELECT doc_id, lang, {_NTOK_DUCK} AS n_tok
        FROM uniq
        WHERE {_NTOK_DUCK} >= {_BUILD_MIN_TOK}
          AND 10 * len(list_distinct(string_split(coalesce(text, ''), ' ')))
              >= {_BUILD_MIN_DISTINCT_X10} * {_NTOK_DUCK}
          AND substr(md5(coalesce(text, '')), 1, 2) < '{_BUILD_TRAIN_BOUND}'
    ),
    packed AS (
        SELECT lang, n_tok,
               CAST(floor((sum(n_tok) OVER (
                   PARTITION BY lang ORDER BY doc_id, lang
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_tok) / {_BUILD_PACK}) AS BIGINT) AS pack_id
        FROM kept
    )
    SELECT lang, pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS sum_tokens
    FROM packed GROUP BY lang, pack_id
    """,
)
def q_llm_corpus_build(spark, sf_dir):
    """C54: the corpus build END-TO-END as one declarative chain — exact
    dedup (md5 min-doc survivor) → quality gate (C17/C31 thresholds) →
    train-split membership (C35 content-hash gate) → deterministic packing
    (C29) → per-(lang, pack) stats. C34 demonstrated scoring→packing; this
    composes the FULL build including dedup and split, which is what a
    production corpus refresh actually executes as a single job. Catalyst
    fuses the quality and split predicates into the post-dedup projection,
    so a dropped document costs one hash + one window visit and never
    reaches the packing window. Near-dup drops (C38's CC cluster set) plug
    in as one more anti-join on the same frame. Plan: two shuffles total —
    the dedup window (md5-partitioned) and the lang-partitioned pack
    window feeding a same-key rollup; text never leaves the scan stage;
    every downstream column is an integer."""
    d = table(spark, sf_dir, "documents")
    h = F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary"))
    dedup_w = Window.partitionBy(h).orderBy(F.col("doc_id").asc())
    uniq = (
        d.select("doc_id", "lang", "text", F.row_number().over(dedup_w).alias("rn"))
        .where(F.col("rn") == 1)
    )
    n_tok = F.expr(_NTOK_SPARK)
    n_distinct = F.size(
        F.array_distinct(F.split(F.coalesce("text", F.lit("")), " "))
    )
    in_train = (
        F.substring(F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")), 1, 2)
        < _BUILD_TRAIN_BOUND
    )
    kept = uniq.where(
        (n_tok >= _BUILD_MIN_TOK)
        & (10 * n_distinct >= _BUILD_MIN_DISTINCT_X10 * n_tok)
        & in_train
    ).select("doc_id", "lang", n_tok.alias("n_tok"))
    pack_w = (
        Window.partitionBy("lang")
        .orderBy("doc_id", "lang")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = kept.select(
        "lang",
        "n_tok",
        F.floor((F.sum("n_tok").over(pack_w) - F.col("n_tok")) / _BUILD_PACK)
        .cast("bigint")
        .alias("pack_id"),
    )
    return packed.groupBy("lang", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("sum_tokens"),
    )


# --- C57: corpus snapshot diff (CDC for corpora) -----------------------------

# Deterministic snapshot carving: the "old" snapshot lacks doc_id%17==3
# (those are ADDED in the new one), mutates text for doc_id%13==0 (CHANGED),
# and the "new" snapshot lacks doc_id%19==5 (REMOVED). Both snapshots derive
# from the one fixture table, so the diff is fully reproducible.
_DIFF_ADD_MOD, _DIFF_ADD_RES = 17, 3
_DIFF_CHG_MOD = 13
_DIFF_RM_MOD, _DIFF_RM_RES = 19, 5


@query(
    "q_llm_corpus_diff",
    priority=30,
    oracle=f"""
    WITH old AS (
        SELECT doc_id, lang,
               md5(coalesce(CASE WHEN doc_id % {_DIFF_CHG_MOD} = 0
                                 THEN text || ' [v1]' ELSE text END, '')) AS h
        FROM documents WHERE doc_id % {_DIFF_ADD_MOD} <> {_DIFF_ADD_RES}
    ),
    new AS (
        SELECT doc_id, lang, md5(coalesce(text, '')) AS h
        FROM documents WHERE doc_id % {_DIFF_RM_MOD} <> {_DIFF_RM_RES}
    )
    SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.h <> n.h THEN 'changed'
                ELSE 'unchanged' END AS status,
           coalesce(n.lang, o.lang) AS lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM old o FULL JOIN new n ON o.doc_id = n.doc_id
    GROUP BY 1, 2
    """,
)
def q_llm_corpus_diff(spark, sf_dir):
    """C57: snapshot diff — the CDC pass a LIVING corpus runs between
    crawl drops: which documents were added, removed, or changed (by
    content hash), rolled up per language. Identity is doc_id, change
    detection is md5(text) computed SCAN-SIDE on each snapshot, so the
    full outer join shuffles only (doc_id, hash, lang) — ~50 bytes/doc,
    never the text. At 100 TB both snapshots are parquet layouts bucketed
    by doc_id, making the full join a zero-shuffle bucket-local merge; the
    status rollup is a |langs|x4-row aggregate. This diff's 'changed +
    added' output is exactly the delta C46's incremental dedup then
    screens."""
    d = table(spark, sf_dir, "documents")
    old = d.where(F.col("doc_id") % _DIFF_ADD_MOD != _DIFF_ADD_RES).select(
        "doc_id",
        F.col("lang").alias("o_lang"),
        F.md5(
            F.coalesce(
                F.when(
                    F.col("doc_id") % _DIFF_CHG_MOD == 0,
                    F.concat(F.col("text"), F.lit(" [v1]")),
                ).otherwise(F.col("text")),
                F.lit(""),
            ).cast("binary")
        ).alias("o_h"),
    )
    new = d.where(F.col("doc_id") % _DIFF_RM_MOD != _DIFF_RM_RES).select(
        F.col("doc_id").alias("n_doc_id"),
        F.col("lang").alias("n_lang"),
        F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")).alias(
            "n_h"
        ),
    )
    j = old.join(new, old.doc_id == new.n_doc_id, "full_outer")
    status = (
        F.when(F.col("doc_id").isNull(), "added")
        .when(F.col("n_doc_id").isNull(), "removed")
        .when(F.col("o_h") != F.col("n_h"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(
            status.alias("status"),
            F.coalesce("n_lang", "o_lang").alias("lang"),
        )
        .groupBy("status", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --- C60: JSONL crawl-drop ingest with corrupt-record quarantine -------------

_JSONL_BAD_LINES = 3  # deterministic malformed lines injected per drop


@query(
    "q_llm_ingest_jsonl",
    priority=30,
    oracle=f"""
    SELECT 'ok' AS status, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(coalesce(n_chars, 0)) AS BIGINT) AS sum_chars
    FROM documents WHERE doc_id % 4 = 0 GROUP BY lang
    UNION ALL
    SELECT 'corrupt', NULL, {_JSONL_BAD_LINES}, 0
    """,
)
def q_llm_ingest_jsonl(spark, sf_dir):
    """C60: JSONL ingest — the wire format crawl drops actually arrive in,
    exercised end-to-end: a deterministic 1-in-4 drop (doc_id % 4 = 0 —
    one crawl batch, not the whole corpus; the read path is size-invariant)
    round-trips through JSON Lines files in scratch (llm/iterative.py
    resolution), {_JSONL_BAD_LINES}
    deterministically malformed lines are injected into the drop, and the
    read back enforces an EXPLICIT schema in PERMISSIVE mode with a
    ``_corrupt_record`` quarantine column — the production posture
    (failFast kills a 100 TB job on one bad crawl line; schema inference
    is a second full pass and can silently widen types). Output: per-lang
    doc/char counts from clean rows plus the quarantine bucket — which the
    oracle can state exactly because JSON round-trips the columns
    losslessly and the injected corruption is deterministic. At 100 TB
    this is one pass over the drop; the JSONL scan splits by line across
    executors like any text source."""
    import os as _os

    from .iterative import scratch_dir as _scratch

    d = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 4 == 0)
        .select("doc_id", "text", "lang", "source", "n_chars")
    )
    drop = _os.path.join(_scratch(spark, "spark_jsonl_drop"), "drop")
    d.write.json(drop)
    # spark.range, not createDataFrame: a driver-local relation spins up
    # Python workers for a 3-row write (measured ~6 s of the query's cost);
    # range + concat stays entirely JVM-side.
    bad = spark.range(_JSONL_BAD_LINES).select(
        F.concat(F.lit('{"doc_id": broken line '), F.col("id")).alias("value")
    )
    bad.coalesce(1).write.mode("append").text(drop)

    schema = (
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint, _corrupt_record string"
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(drop)
    )
    return (
        back.select(
            F.when(F.col("_corrupt_record").isNotNull(), "corrupt")
            .otherwise("ok")
            .alias("status"),
            F.when(F.col("_corrupt_record").isNull(), F.col("lang")).alias(
                "lang"
            ),
            F.col("n_chars"),
        )
        .groupBy("status", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce("n_chars", F.lit(0))).cast("bigint").alias(
                "sum_chars"
            ),
        )
    )


# --- C64: incremental refresh e2e (diff -> dedup -> quality) -----------------


@query(
    "q_llm_refresh_e2e",
    priority=30,
    oracle=f"""
    WITH old AS (
        SELECT doc_id,
               md5(coalesce(CASE WHEN doc_id % {_DIFF_CHG_MOD} = 0
                                 THEN text || ' [v1]' ELSE text END, '')) AS h
        FROM documents WHERE doc_id % {_DIFF_ADD_MOD} <> {_DIFF_ADD_RES}
    ),
    new AS (
        SELECT doc_id, lang, text, md5(coalesce(text, '')) AS h
        FROM documents WHERE doc_id % {_DIFF_RM_MOD} <> {_DIFF_RM_RES}
    ),
    delta AS (
        SELECT n.doc_id, n.lang, n.text, n.h
        FROM new n LEFT JOIN old o ON n.doc_id = o.doc_id
        WHERE o.doc_id IS NULL OR o.h <> n.h
    ),
    corpus_hashes AS (SELECT DISTINCT h FROM old),
    novel AS (
        SELECT d.doc_id, d.lang, d.text,
               (c.h IS NULL) AS is_novel
        FROM delta d LEFT JOIN corpus_hashes c ON d.h = c.h
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_delta,
           CAST(count_if(is_novel) AS BIGINT) AS n_novel,
           CAST(count_if(is_novel
                AND {_NTOK_DUCK} >= {_BUILD_MIN_TOK}
                AND 10 * len(list_distinct(string_split(coalesce(text, ''), ' ')))
                    >= {_BUILD_MIN_DISTINCT_X10} * {_NTOK_DUCK}) AS BIGINT)
               AS n_admitted
    FROM novel GROUP BY lang
    """,
)
def q_llm_refresh_e2e(spark, sf_dir):
    """C64: the incremental refresh END-TO-END — what a living corpus runs
    per crawl drop, composing C57's snapshot diff (which docs are new or
    changed), C46's corpus-hash screen (is the content actually novel, or
    a changed doc colliding with text the corpus already has), and C54's
    quality gate (token count + distinct-token ratio), rolled up per
    language as delta -> novel -> admitted funnel counts. This is the
    delta-path twin of C54's full build: cost scales with |delta| on the
    probe side, |corpus| appears only as the DISTINCT hash set (the
    persistent dedup index, bucketed on disk at 100 TB). Catalyst fuses
    the hash + both gate predicates into the delta scan; the two joins
    shuffle only (doc_id|hash, lang) pairs; text never leaves its scan."""
    d = table(spark, sf_dir, "documents")
    old = d.where(F.col("doc_id") % _DIFF_ADD_MOD != _DIFF_ADD_RES).select(
        F.col("doc_id").alias("o_doc_id"),
        F.md5(
            F.coalesce(
                F.when(
                    F.col("doc_id") % _DIFF_CHG_MOD == 0,
                    F.concat(F.col("text"), F.lit(" [v1]")),
                ).otherwise(F.col("text")),
                F.lit(""),
            ).cast("binary")
        ).alias("o_h"),
    )
    new = d.where(F.col("doc_id") % _DIFF_RM_MOD != _DIFF_RM_RES).select(
        "doc_id",
        "lang",
        "text",
        F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")).alias("h"),
    )
    delta = (
        new.join(old, new.doc_id == old.o_doc_id, "left")
        .where(F.col("o_doc_id").isNull() | (F.col("o_h") != F.col("h")))
        .select("doc_id", "lang", "text", "h")
    )
    corpus_hashes = old.select(F.col("o_h").alias("ch")).distinct()
    novel = delta.join(
        corpus_hashes, delta.h == corpus_hashes.ch, "left"
    ).select(
        "lang", "text", F.col("ch").isNull().alias("is_novel")
    )
    n_tok = F.expr(_NTOK_SPARK)
    n_distinct = F.size(
        F.array_distinct(F.split(F.coalesce("text", F.lit("")), " "))
    )
    admitted = (
        F.col("is_novel")
        & (n_tok >= _BUILD_MIN_TOK)
        & (10 * n_distinct >= _BUILD_MIN_DISTINCT_X10 * n_tok)
    )
    return novel.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_delta"),
        F.expr("count_if(is_novel)").alias("n_novel"),
        F.count(F.when(admitted, 1)).alias("n_admitted"),
    )


# --- C66: SCD2 history compaction from snapshots -----------------------------

_SCD2_V1_MOD = 13  # docs mutated in snapshot 1
_SCD2_V3_MOD = 7  # docs mutated in snapshot 3
_SCD2_OPEN = 99  # valid_to sentinel for the current version


@query(
    "q_llm_scd2",
    priority=30,
    oracle=f"""
    WITH snaps AS (
        SELECT doc_id, 1 AS snap,
               md5(coalesce(CASE WHEN doc_id % {_SCD2_V1_MOD} = 0
                                 THEN text || ' [v1]' ELSE text END, '')) AS h
        FROM documents
        UNION ALL
        SELECT doc_id, 2, md5(coalesce(text, '')) FROM documents
        UNION ALL
        SELECT doc_id, 3,
               md5(coalesce(CASE WHEN doc_id % {_SCD2_V3_MOD} = 0
                                 THEN text || ' [v3]' ELSE text END, ''))
        FROM documents
    ),
    changes AS (
        SELECT doc_id, snap, h,
               CASE WHEN lag(h) OVER w IS NULL OR lag(h) OVER w <> h
                    THEN 1 ELSE 0 END AS is_new
        FROM snaps
        WINDOW w AS (PARTITION BY doc_id ORDER BY snap)
    ),
    versions AS (
        SELECT doc_id, snap AS valid_from, h,
               CAST(sum(is_new) OVER (
                   PARTITION BY doc_id ORDER BY snap
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS ver
        FROM changes WHERE is_new = 1
    )
    SELECT doc_id, ver, CAST(valid_from AS BIGINT) AS valid_from,
           CAST(coalesce(lead(valid_from) OVER (
                    PARTITION BY doc_id ORDER BY valid_from
                ) - 1, {_SCD2_OPEN}) AS BIGINT) AS valid_to,
           h
    FROM versions
    """,
)
def q_llm_scd2(spark, sf_dir):
    """C66: SCD type-2 history compaction — turn a sequence of corpus
    snapshots into versioned validity ranges per document (valid_from /
    valid_to snapshot ids, open current version = {_SCD2_OPEN}), the
    warehouse pattern that lets 'as of snapshot k' queries run against
    one compacted table instead of k snapshots. Three deterministic
    snapshot versions derive from the one fixture (doc_id-keyed
    mutations); change detection is lag(hash) per doc, version numbering
    a running sum over change flags, range closure a lead() — all three
    windows share ONE doc_id shuffle (same partitioning, Catalyst reuses
    the exchange). At 100 TB: snapshots are parquet partitions, hashes
    compute scan-side, and the windows see (doc_id, snap, hash) — ~50
    bytes/row — never the text; per-doc state is bounded by snapshot
    count, so executor memory is flat."""
    d = table(spark, sf_dir, "documents")
    h_of = lambda col: F.md5(F.coalesce(col, F.lit("")).cast("binary"))  # noqa: E731
    v1 = d.select(
        "doc_id",
        F.lit(1).alias("snap"),
        h_of(
            F.when(
                F.col("doc_id") % _SCD2_V1_MOD == 0,
                F.concat(F.col("text"), F.lit(" [v1]")),
            ).otherwise(F.col("text"))
        ).alias("h"),
    )
    v2 = d.select("doc_id", F.lit(2).alias("snap"), h_of(F.col("text")).alias("h"))
    v3 = d.select(
        "doc_id",
        F.lit(3).alias("snap"),
        h_of(
            F.when(
                F.col("doc_id") % _SCD2_V3_MOD == 0,
                F.concat(F.col("text"), F.lit(" [v3]")),
            ).otherwise(F.col("text"))
        ).alias("h"),
    )
    snaps = v1.unionByName(v2).unionByName(v3)
    w = Window.partitionBy("doc_id").orderBy("snap")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    changes = snaps.withColumn(
        "is_new",
        F.when(
            F.lag("h").over(w).isNull() | (F.lag("h").over(w) != F.col("h")),
            1,
        ).otherwise(0),
    )
    versions = (
        changes.withColumn(
            "ver", F.sum("is_new").over(w_run).cast("bigint")
        )
        .where(F.col("is_new") == 1)
        .select("doc_id", F.col("snap").alias("valid_from"), "h", "ver")
    )
    w_lead = Window.partitionBy("doc_id").orderBy("valid_from")
    return versions.select(
        "doc_id",
        "ver",
        F.col("valid_from").cast("bigint").alias("valid_from"),
        F.coalesce(
            F.lead("valid_from").over(w_lead) - 1, F.lit(_SCD2_OPEN)
        )
        .cast("bigint")
        .alias("valid_to"),
        "h",
    )


# --- C126: incremental NEAR-dup ingest (the C46 gap) --------------------------

# MinHash geometry shared with C3 (llm/dedup.py): 24 signatures, 6 bands of
# 4 rows — collides w.h.p. above Jaccard ~0.7. The estimate threshold for
# calling a band-hit a near-dup: >= 12/24 agreeing rows (est >= 0.5), chosen
# below the banding's design point so the probe over-reports rather than
# under-reports; the exact verify on the survivors is C2's job downstream.
# Round 12 (VERDICT r11 item #3): the registered probe runs C3's PORTABLE
# permutation family end to end, so the whole funnel is deterministic and
# SQL-oracle-able; sig_family="xxhash64" keeps the cheaper JVM-hash path
# selectable for a deployment that doesn't need cross-engine parity.
_NEARDUP_K = 24
_NEARDUP_BANDS = 6
_NEARDUP_MIN_AGREE = 12


def ingest_neardup_flags(spark, sf_dir, sig_family: str = "portable"):
    """Per-batch-doc novelty flags: (doc_id, lang, is_exact, is_near).

    The delta-vs-corpus MinHash band probe: signatures for all docs in one
    pass, bands for both sides, then a probe join whose LEFT side is the
    batch only — candidate cost is |delta| x bands x bucket-collisions,
    never |corpus|^2 (VERDICT r7 item 3: C46's exact-hash screen lets a
    re-crawl with one changed byte sail through; this catches it). Used by
    q_llm_ingest_neardup and the recall gate in tests/test_llm.py."""
    from .dedup import portable_doc_signatures, xxhash_minhash_signatures

    h = F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary"))
    is_batch = F.col("doc_id") % _BATCH_MOD == 0
    if sig_family == "portable":
        # The memoized cross-query signature barrier (round 13): one
        # md5-parse + affine-min build per session, shared with C3/C140/
        # C143 — at 100 TB, the persistent signature table the incremental
        # probe reads instead of recomputing.
        sigs = portable_doc_signatures(spark, sf_dir)
    else:
        toks = parallel_table(spark, sf_dir, "documents").select(
            "doc_id",
            F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
        ).where(F.col("tok") != "")
        sigs = xxhash_minhash_signatures(toks)
    rows_per_band = _NEARDUP_K // _NEARDUP_BANDS
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"h{b * rows_per_band + r}").cast(
                                    "string"
                                )
                                for r in range(rows_per_band)
                            ],
                        ).alias("bucket"),
                    )
                    for b in range(_NEARDUP_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    # ids reads table(), not parallel_table(): the floor's exchange has one
    # partition per core, so the final doc_id sort-merge join re-shuffles it
    # (an extra exchange carrying text) unless the core count is at least
    # spark.sql.shuffle.partitions, and the only per-document work here is
    # one md5, so the floor bought little and made the plan host-dependent.
    ids = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", h.alias("h"), is_batch.alias("in_batch")
    )
    # in_batch is a pure function of doc_id, so the probe/corpus split is a
    # scan-stage FILTER on the band frame — joining the band explode against
    # ids just to read the flag back paid a full (doc_id) exchange of
    # |docs| x bands rows for nothing (round 14; the join was inner on the
    # complete doc set, so filtering directly is row-identical).
    cand = (
        bands.where(is_batch)
        .select(F.col("doc_id").alias("bd"), "band", "bucket")
        .join(
            bands.where(~is_batch).select(
                F.col("doc_id").alias("cd"), "band", "bucket"
            ),
            ["band", "bucket"],
        )
        .select("bd", "cd")
        .distinct()
    )
    sa = sigs.alias("sa")
    sb = sigs.alias("sb")
    agree = sum(
        F.when(F.col(f"sa.h{i}") == F.col(f"sb.h{i}"), 1).otherwise(0)
        for i in range(_NEARDUP_K)
    )
    near_docs = (
        cand.join(sa, F.col("bd") == F.col("sa.doc_id"))
        .join(sb, F.col("cd") == F.col("sb.doc_id"))
        .where(agree >= _NEARDUP_MIN_AGREE)
        .select(F.col("bd").alias("doc_id"))
        .distinct()
        .withColumn("near_hit", F.lit(1))
    )
    corpus_hashes = (
        ids.where(~F.col("in_batch")).select("h").distinct()
        .withColumn("exact_hit", F.lit(1))
    )
    return (
        ids.where("in_batch")
        .join(corpus_hashes, "h", "left")
        .join(near_docs, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce(F.col("exact_hit"), F.lit(0)).alias("is_exact"),
            F.when(
                F.coalesce(F.col("exact_hit"), F.lit(0)) == 0,
                F.coalesce(F.col("near_hit"), F.lit(0)),
            )
            .otherwise(0)
            .alias("is_near"),
        )
    )


def _neardup_oracle() -> str:
    """DuckDB twin of the portable C126 funnel (round 12 promotion)."""
    from .dedup import _MH_SIG_TERMS
    from .sketches import _hex_parse_duck

    rows_per_band = _NEARDUP_K // _NEARDUP_BANDS
    sig_cols = ", ".join(
        f"min({g.format(h='h')}) AS h{i}" for i, g in enumerate(_MH_SIG_TERMS)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, concat_ws(',', {cols}) AS bucket FROM sigs".format(
            b=b,
            cols=", ".join(
                f"h{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(_NEARDUP_BANDS)
    )
    agree = " + ".join(
        f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END"
        for i in range(_NEARDUP_K)
    )
    return f"""
    WITH toks AS (
        SELECT DISTINCT doc_id,
               unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents
    ),
    th AS (
        SELECT DISTINCT doc_id, {_hex_parse_duck("tok", 1)} AS h
        FROM toks WHERE tok <> ''
    ),
    sigs AS (SELECT doc_id, {sig_cols} FROM th GROUP BY doc_id),
    bands AS ({band_selects}),
    ids AS (
        SELECT doc_id, lang, md5(coalesce(text, '')) AS ch,
               doc_id % {_BATCH_MOD} = 0 AS in_batch
        FROM documents
    ),
    cand AS (
        SELECT DISTINCT pb.doc_id AS bd, pc.doc_id AS cd
        FROM bands pb
        JOIN ids ib ON pb.doc_id = ib.doc_id AND ib.in_batch
        JOIN bands pc ON pb.band = pc.band AND pb.bucket = pc.bucket
        JOIN ids ic ON pc.doc_id = ic.doc_id AND NOT ic.in_batch
    ),
    near AS (
        SELECT DISTINCT c.bd AS doc_id
        FROM cand c
        JOIN sigs a ON c.bd = a.doc_id
        JOIN sigs b ON c.cd = b.doc_id
        WHERE ({agree}) >= {_NEARDUP_MIN_AGREE}
    ),
    ch AS (SELECT DISTINCT ch AS h FROM ids WHERE NOT in_batch),
    flags AS (
        SELECT i.doc_id, i.lang,
               CASE WHEN ch.h IS NOT NULL THEN 1 ELSE 0 END AS is_exact,
               CASE WHEN ch.h IS NULL AND n.doc_id IS NOT NULL
                    THEN 1 ELSE 0 END AS is_near
        FROM ids i
        LEFT JOIN ch ON i.ch = ch.h
        LEFT JOIN near n ON i.doc_id = n.doc_id
        WHERE i.in_batch
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_batch,
           CAST(sum(is_exact) AS BIGINT) AS n_exact_dup,
           CAST(sum(is_near) AS BIGINT) AS n_near_dup,
           CAST(count(*) - sum(is_exact) - sum(is_near) AS BIGINT)
               AS n_novel,
           CAST((1000000 * (count(*) - sum(is_exact) - sum(is_near)))
                // count(*) AS BIGINT) AS novel_ppm
    FROM flags GROUP BY lang
    """


@query("q_llm_ingest_neardup", priority=30, oracle=_neardup_oracle())
def q_llm_ingest_neardup(spark, sf_dir):
    """C126: incremental NEAR-dup ingest funnel — per language, how much
    of a freshly-arrived batch is exact-duplicate, near-duplicate, or
    genuinely novel against the existing corpus. Completes C46 (exact
    hashes only): the fixture corpus is template-dense, so most "novel by
    hash" batch docs are actually near-dups of existing content — the
    re-crawl-with-one-changed-byte failure mode. The probe is C3's
    MinHash banding with the PROBE side restricted to the delta: cost is
    |delta| x bands on the probe, and the corpus band index is built once
    (at 100 TB: a persistent bucketed table the pipeline maintains
    incrementally, exactly like its exact-hash sibling).

    Round 12 (VERDICT r11 item #3): the registered funnel runs C3's
    portable permutation family, so signatures, buckets, candidates and
    the agreement verify are deterministic and the per-lang rollup
    carries a full DuckDB hash oracle — the third rows-only→SQL
    promotion. ``sig_family="xxhash64"`` on
    :func:`ingest_neardup_flags` keeps the cheaper JVM-hash path; the
    recall gate vs exact cross-split tau=0.8 Jaccard pairs (>=0.9
    doc-level) and the band-math parity with C3 live in
    tests/test_llm.py."""
    flags = ingest_neardup_flags(spark, sf_dir)
    return flags.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_batch"),
        F.sum("is_exact").cast("bigint").alias("n_exact_dup"),
        F.sum("is_near").cast("bigint").alias("n_near_dup"),
        (F.count(F.lit(1)) - F.sum("is_exact") - F.sum("is_near"))
        .cast("bigint")
        .alias("n_novel"),
        F.expr(
            "CAST((1000000 * (count(1) - sum(is_exact) - sum(is_near))) "
            "div count(1) AS BIGINT)"
        ).alias("novel_ppm"),
    )
