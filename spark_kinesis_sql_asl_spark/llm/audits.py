"""Corpus / embedding audit rollups (SURVEY.md §2 rows C52–C53): per-dim
embedding health and the source×language composition crosstab.

The observability pair: before a 100 TB corpus feeds training, its
embedding space and its composition matrix get eyeballed. Both operators
are single-rollup shapes whose outputs are tiny (64 rows / |sources| rows)
— the cheap-by-construction audits a pipeline runs after every refresh.
Driver-canon rules: the C24 integer grid for all vector statistics, BIGINT
counts, deterministic column sets.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from ..tables import parallel_table, table
from .curation import _Q_VEC_SQL_DUCK, _Q_VEC_SQL_SPARK


@query(
    "q_llm_embed_dimstats",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, {_Q_VEC_SQL_DUCK} AS qv FROM embeddings
    ),
    dims AS (
        SELECT t.i AS dim, qv[t.i + 1] AS qval
        FROM q, range(0, 64) t(i)
    )
    SELECT dim,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(qval) AS BIGINT) AS min_q,
           CAST(max(qval) AS BIGINT) AS max_q,
           CAST(sum(qval) AS BIGINT) AS sum_q,
           CAST(sum(qval * qval) AS BIGINT) AS sumsq_q
    FROM dims GROUP BY dim
    """,
)
def q_llm_embed_dimstats(spark, sf_dir):
    """C52: per-dimension embedding health stats on the C24 integer grid —
    min/max (quantization clipping check: a dim pinned at the grid edge
    means the int8 range is too narrow), sum and sum-of-squares (mean and
    variance derive exactly downstream; a near-zero-variance dim is dead
    weight ANN distance computations pay for anyway). The audit every
    embedding refresh runs before C33/C40 consume the vectors. Plan: one
    posexplode + groupBy(dim) with map-side partial aggregates — the
    shuffle carries 64·|vectors| integer triples partial-combined down to
    64·|partitions|, and the output is 64 rows. Exact integer end-to-end:
    means/variances are left as (sum, sumsq, n) so no division happens in
    the engine at all."""
    exploded = table(spark, sf_dir, "embeddings").select(
        F.expr(_Q_VEC_SQL_SPARK).alias("qv")
    ).select(F.posexplode("qv").alias("dim", "qval"))
    return exploded.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("qval").cast("bigint").alias("min_q"),
        F.max("qval").cast("bigint").alias("max_q"),
        F.sum("qval").cast("bigint").alias("sum_q"),
        F.sum(F.col("qval") * F.col("qval")).cast("bigint").alias("sumsq_q"),
    )


@query(
    "q_llm_composition",
    oracle="""
    SELECT coalesce(source, '') AS src,
           CAST(count(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS n_en,
           CAST(count(CASE WHEN lang = 'de' THEN 1 END) AS BIGINT) AS n_de,
           CAST(count(CASE WHEN lang = 'es' THEN 1 END) AS BIGINT) AS n_es,
           CAST(count(CASE WHEN lang = 'fr' THEN 1 END) AS BIGINT) AS n_fr,
           CAST(count(CASE WHEN lang = 'zh' THEN 1 END) AS BIGINT) AS n_zh,
           CAST(count(CASE WHEN lang IS NULL
                           OR lang NOT IN ('en', 'de', 'es', 'fr', 'zh')
                      THEN 1 END) AS BIGINT) AS n_other,
           CAST(count(*) AS BIGINT) AS n_total
    FROM documents GROUP BY coalesce(source, '')
    """,
)
def q_llm_composition(spark, sf_dir):
    """C53: the source×language composition crosstab — one row per source,
    one column per tracked language plus an explicit other/NULL bucket
    (FIXED columns rather than a dynamic pivot, so the output schema is
    stable no matter what languages a fixture contains — the driver-canon
    schema-stability rule; B76 demonstrates the dynamic pivot). This is
    the mixture dashboard C30/C47 decisions are read against. Plan: a
    single conditional-count rollup — at 100 TB it is one map-side-combined
    pass, |sources| output rows, and the same shape extends to any fixed
    dimension pair (source×split, lang×decile)."""
    d = table(spark, sf_dir, "documents").select(
        F.coalesce(F.col("source"), F.lit("")).alias("src"), "lang"
    )
    tracked = ("en", "de", "es", "fr", "zh")
    aggs = [
        F.count(F.when(F.col("lang") == lg, 1)).alias(f"n_{lg}")
        for lg in tracked
    ]
    aggs.append(
        F.count(
            F.when(
                F.col("lang").isNull() | ~F.col("lang").isin(*tracked), 1
            )
        ).alias("n_other")
    )
    aggs.append(F.count(F.lit(1)).alias("n_total"))
    return d.groupBy("src").agg(*aggs)


# --- C69: column completeness / distinctness profile -------------------------


@query(
    "q_llm_profile",
    oracle="""
    WITH t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM documents)
    SELECT 'text' AS col,
           CAST(count(text) AS BIGINT) AS n_filled,
           CAST(count(DISTINCT text) AS BIGINT) AS n_distinct,
           CAST((1000000 * count(text)) // greatest(1, max(t.total))
                AS BIGINT) AS filled_ppm
    FROM documents, t
    UNION ALL
    SELECT 'lang', CAST(count(lang) AS BIGINT),
           CAST(count(DISTINCT lang) AS BIGINT),
           CAST((1000000 * count(lang)) // greatest(1, max(t.total)) AS BIGINT)
    FROM documents, t
    UNION ALL
    SELECT 'source', CAST(count(source) AS BIGINT),
           CAST(count(DISTINCT source) AS BIGINT),
           CAST((1000000 * count(source)) // greatest(1, max(t.total)) AS BIGINT)
    FROM documents, t
    UNION ALL
    SELECT 'n_chars', CAST(count(n_chars) AS BIGINT),
           CAST(count(DISTINCT n_chars) AS BIGINT),
           CAST((1000000 * count(n_chars)) // greatest(1, max(t.total)) AS BIGINT)
    FROM documents, t
    """,
)
def q_llm_profile(spark, sf_dir):
    """C69: column profile — completeness (non-NULL share in exact ppm)
    and distinctness per column, the Deequ/profiler pass a pipeline runs
    on every new table BEFORE writing constraints (C46's schema checks
    and B100's assertions consume exactly these numbers). One aggregate
    per column over a SHARED scan: Spark computes all four profiles in a
    single pass (one Aggregate over count(col)/countDistinct per column,
    then an explicit stack to rows); nothing but the 4-row profile ever
    shuffles. At 100 TB distinctness swaps to approx_count_distinct
    (B29's documented path) — completeness stays exact either way."""
    d = table(spark, sf_dir, "documents")
    agg = d.agg(
        F.count(F.lit(1)).alias("total"),
        *[
            x
            for c in ("text", "lang", "source", "n_chars")
            for x in (
                F.count(c).alias(f"f_{c}"),
                F.countDistinct(c).alias(f"d_{c}"),
            )
        ],
    )
    stacked = agg.select(
        F.expr(
            "stack(4, "
            + ", ".join(
                f"'{c}', f_{c}, d_{c}" for c in ("text", "lang", "source", "n_chars")
            )
            + ") AS (col, n_filled, n_distinct)"
        ),
        "total",
    )
    return stacked.select(
        "col",
        "n_filled",
        "n_distinct",
        F.expr(
            "CAST((1000000 * n_filled) div greatest(1, total) AS BIGINT)"
        ).alias("filled_ppm"),
    )


# --- C70: embedding distribution drift between snapshots ---------------------


@query(
    "q_llm_embed_drift",
    oracle="""
    WITH halves AS (
        SELECT vec_id % 2 AS half,
               unnest(embedding::DOUBLE[]) AS val,
               unnest(list_transform(embedding::DOUBLE[], (x, i) -> i - 1))
                   AS dim
        FROM embeddings
    ),
    stats AS (
        SELECT half, dim,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(val * 1000) AS BIGINT)) AS BIGINT) AS s_mil
        FROM halves GROUP BY half, dim
    )
    SELECT a.dim,
           a.s_mil AS s_mil_a, b.s_mil AS s_mil_b,
           CAST(abs((1000 * a.s_mil) // a.n - (1000 * b.s_mil) // b.n)
                AS BIGINT) AS mean_drift_micro
    FROM stats a JOIN stats b ON a.dim = b.dim
    WHERE a.half = 0 AND b.half = 1
    """,
)
def q_llm_embed_drift(spark, sf_dir):
    """C70: embedding-distribution drift — per-dimension mean shift
    between two cohorts (here the deterministic vec_id parity carve; in
    production, last week's snapshot vs this week's, via the C57 diff
    machinery). This is the embedding-space twin of schema drift
    monitoring: a retrained or silently-updated encoder shifts dimension
    means long before downstream metrics move, and per-dim deltas
    localize WHICH dimensions moved (C52's single-snapshot stats can't).
    All integer arithmetic — milli-unit floors summed exactly, means as
    integer division, drift in micro-units — so the report is
    bit-identical on any engine or partitioning. Plan: one posexplode
    rollup per cohort (shared scan), a 64-row join; at 100 TB the rollup
    partial-aggregates scan-side and only (half, dim, sums) shuffle."""
    h = table(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.expr("transform(embedding, x -> cast(x as double))"))
        .alias("dim", "val"),
    )
    stats = h.groupBy("half", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CAST(floor(val * 1000) AS BIGINT)"))
        .cast("bigint")
        .alias("s_mil"),
    )
    a = stats.where(F.col("half") == 0).select(
        "dim", F.col("s_mil").alias("s_mil_a"), F.col("n").alias("n_a")
    )
    b = stats.where(F.col("half") == 1).select(
        F.col("dim").alias("dim_b"),
        F.col("s_mil").alias("s_mil_b"),
        F.col("n").alias("n_b"),
    )
    return (
        a.join(b, a.dim == b.dim_b)
        .select(
            "dim",
            "s_mil_a",
            "s_mil_b",
            F.expr(
                "CAST(abs((1000 * s_mil_a) div n_a - (1000 * s_mil_b) div n_b) "
                "AS BIGINT)"
            ).alias("mean_drift_micro"),
        )
    )


# --- C100: population-stability-index drift (metadata-side) -------------------

_PSI_HALF_MOD = 2  # snapshot split: doc_id parity (A = even, B = odd)


@query(
    "q_llm_psi_drift",
    oracle="""
    WITH b AS (
        SELECT source,
               CAST(length(bin(greatest(n_chars, 1))) AS BIGINT) AS octave,
               CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_b
        FROM documents
        GROUP BY 1, 2
    ),
    t AS (
        SELECT source,
               CAST(sum(n_a) AS BIGINT) AS tot_a,
               CAST(sum(n_b) AS BIGINT) AS tot_b,
               CAST(count(*) AS BIGINT) AS k,
               list(n_a ORDER BY octave) AS as_,
               list(n_b ORDER BY octave) AS bs_
        FROM b GROUP BY source
    )
    SELECT source, tot_a AS n_a, tot_b AS n_b,
           round(list_sum(list_transform(range(1, k + 1), i ->
               (CAST(as_[i] + 1 AS DOUBLE) / (tot_a + k)
                - CAST(bs_[i] + 1 AS DOUBLE) / (tot_b + k))
               * ln((CAST(as_[i] + 1 AS DOUBLE) / (tot_a + k))
                    / (CAST(bs_[i] + 1 AS DOUBLE) / (tot_b + k)))
           )), 6) AS psi
    FROM t
    """,
)
def q_llm_psi_drift(spark, sf_dir):
    """C100: Population Stability Index of the document-length
    distribution between two corpus snapshots, per source — the standard
    "did this feed change under me" alarm (PSI < 0.1 stable, > 0.25
    shifted) a refresh pipeline reads BEFORE re-training decisions; the
    metadata-side complement of C70's embedding drift. Snapshots are the
    doc_id-parity halves (the fixture's stand-in for crawl N vs N+1);
    buckets are exact length octaves (the C51 bin-length trick — no float
    log at bucket boundaries). PSI = Σ (p_i − q_i)·ln(p_i/q_i) with
    add-one (Laplace) smoothing so a bucket present in only one snapshot
    contributes a finite, defined term instead of ln(0).

    Determinism: bucket counts are exact integers; the per-source octave
    vectors are PACKED into octave-ordered arrays and the float PSI sum
    runs as a sequential fold over them (the C97/C98 rule — never a float
    sum over unordered rows), one fixed expression, round(6). Plan: one
    (source, octave) rollup — map-side combined, output bounded by
    |sources|·|octaves| — then a |sources|-row fold; at 100 TB the rollup
    is the only corpus-scale stage."""
    d = table(spark, sf_dir, "documents")
    b = (
        d.select(
            "source",
            F.length(F.expr("bin(greatest(n_chars, 1))"))
            .cast("bigint")
            .alias("octave"),
            (F.col("doc_id") % 2 == 0).cast("bigint").alias("in_a"),
        )
        .groupBy("source", "octave")
        .agg(
            F.sum("in_a").cast("bigint").alias("n_a"),
            F.sum(1 - F.col("in_a")).cast("bigint").alias("n_b"),
        )
    )
    t = b.groupBy("source").agg(
        F.sum("n_a").cast("bigint").alias("tot_a"),
        F.sum("n_b").cast("bigint").alias("tot_b"),
        F.count(F.lit(1)).alias("k"),
        F.expr(
            "transform(array_sort(collect_list(struct(octave, n_a))), x -> x.n_a)"
        ).alias("as_"),
        F.expr(
            "transform(array_sort(collect_list(struct(octave, n_b))), x -> x.n_b)"
        ).alias("bs_"),
    )
    psi = F.expr(
        "aggregate(sequence(1, CAST(k AS INT)), CAST(0.0 AS DOUBLE), "
        "(acc, i) -> acc + "
        "(CAST(element_at(as_, i) + 1 AS DOUBLE) / (tot_a + k) "
        " - CAST(element_at(bs_, i) + 1 AS DOUBLE) / (tot_b + k)) "
        "* ln((CAST(element_at(as_, i) + 1 AS DOUBLE) / (tot_a + k)) "
        "     / (CAST(element_at(bs_, i) + 1 AS DOUBLE) / (tot_b + k))))"
    )
    return t.select(
        "source",
        F.col("tot_a").alias("n_a"),
        F.col("tot_b").alias("n_b"),
        F.round(psi, 6).alias("psi"),
    )


# --- C107: per-source curation rollup (the "which feeds to drop" table) -------


@query(
    "q_llm_domain_quality",
    oracle="""
    WITH feats AS (
        SELECT source,
               md5(coalesce(text, '')) AS h,
               len(string_split(text, ' ')) AS n_tok,
               len(list_filter(string_split(text, ' '),
                   t -> t IN ('a', 'the'))) AS n_stop,
               len(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct,
               n_chars
        FROM documents
    ),
    dup AS (
        SELECT h, count(*) AS c FROM feats GROUP BY h
    ),
    f AS (
        SELECT source, n_tok, n_stop,
               (n_tok BETWEEN 10 AND 200
                AND n_stop * 1.0 / n_tok < 0.3
                AND n_punct * 1.0 / nullif(n_chars, 0) < 0.1) AS keep,
               dup.c > 1 AS is_dup
        FROM feats JOIN dup USING (h)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST((1000000 * sum(n_stop)) // sum(n_tok) AS BIGINT)
               AS stop_ppm,
           CAST((1000000 * sum(CASE WHEN keep THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS keep_ppm,
           CAST((1000000 * sum(CASE WHEN is_dup THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS dup_ppm
    FROM f GROUP BY source
    """,
)
def q_llm_domain_quality(spark, sf_dir):
    """C107: the per-source curation table — the aggregate every feed-level
    keep/drop/reweight decision is actually made from (C53 gives the
    source x lang mixture; this gives the source x QUALITY posture):
    per source, doc and token counts, the corpus-exact stopword share
    (floor ppm of the SUM ratio, not a mean of per-doc ratios — robust to
    short docs), the C17 keep-verdict share, and the exact-duplicate share
    (md5 content hash occurring more than once corpus-wide — cross-source
    dups count against BOTH sources, the honest accounting for syndicated
    content).

    Scale: one scan computes all features including the content hash
    (text never leaves the scan stage — the C1 discipline); the dup
    rollup and the join back both key on the 16-byte md5; the final
    reduce is |sources| rows with map-side partial aggregation. Two
    narrow shuffles total, independent of document size."""
    toks = F.split("text", " ")
    feats = table(spark, sf_dir, "documents").select(
        "source",
        F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")).alias(
            "h"
        ),
        F.size(toks).alias("n_tok"),
        F.size(F.filter(toks, lambda t: t.isin("a", "the"))).alias(
            "n_stop"
        ),
        F.length(F.regexp_replace("text", "[a-z0-9 ]", "")).alias(
            "n_punct"
        ),
        "n_chars",
    )
    dup = feats.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    keep = (
        F.col("n_tok").between(10, 200)
        & (F.col("n_stop") * 1.0 / F.col("n_tok") < 0.3)
        & (
            F.col("n_punct") * 1.0 / F.nullif(F.col("n_chars"), F.lit(0))
            < 0.1
        )
    )
    f = feats.join(dup, "h").select(
        "source",
        "n_tok",
        "n_stop",
        keep.alias("keep"),
        (F.col("c") > 1).alias("is_dup"),
    )
    return f.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.expr(
            "CAST((1000000 * sum(n_stop)) div sum(n_tok) AS BIGINT)"
        ).alias("stop_ppm"),
        F.expr(
            "CAST((1000000 * sum(CASE WHEN keep THEN 1 ELSE 0 END)) "
            "div count(1) AS BIGINT)"
        ).alias("keep_ppm"),
        F.expr(
            "CAST((1000000 * sum(CASE WHEN is_dup THEN 1 ELSE 0 END)) "
            "div count(1) AS BIGINT)"
        ).alias("dup_ppm"),
    )


# --- C122: corpus data card (one-row datasheet) ------------------------------


@query(
    "q_llm_data_card",
    oracle="""
    WITH feat AS (
        SELECT doc_id, lang, source,
               coalesce(text, '') AS text,
               len(string_split(coalesce(text, ''), ' ')) AS n_tok,
               md5(coalesce(text, '')) AS h
        FROM documents
    ),
    dup AS (
        SELECT CAST(coalesce(sum(cnt - 1), 0) AS BIGINT) AS n_dup_docs
        FROM (SELECT h, count(*) AS cnt FROM feat GROUP BY h)
        WHERE cnt > 1
    ),
    top_lang AS (
        SELECT lang FROM feat WHERE lang IS NOT NULL
        GROUP BY lang ORDER BY count(*) DESC, lang ASC LIMIT 1
    ),
    top_source AS (
        SELECT source FROM feat WHERE source IS NOT NULL
        GROUP BY source ORDER BY count(*) DESC, source ASC LIMIT 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST((1000000 * (SELECT n_dup_docs FROM dup)) // count(*)
                AS BIGINT) AS exact_dup_ppm,
           CAST((1000000 * sum(CASE WHEN text = '' THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS empty_ppm,
           (SELECT lang FROM top_lang) AS top_lang,
           (SELECT source FROM top_source) AS top_source
    FROM feat
    """,
)
def q_llm_data_card(spark, sf_dir):
    """C122: the corpus DATA CARD — the one-row datasheet ("Datasheets
    for Datasets", Gebru et al. 2021) a corpus release leads with: doc /
    lang / source counts, token and char mass, exact-duplicate ppm
    (occurrences minus firsts, the C112 ledger identity at doc grain),
    empty-doc ppm, and the dominant lang/source (count-desc,
    lexicographic tie-break — no arg_max lottery). Every number is a
    recomposition of signals other operators expose in full; the card is
    the contract that they reconcile into ONE summary a reviewer can
    diff between corpus versions at a glance.

    Scale: one scan-stage feature projection; the only corpus-scale
    shuffles are the hash rollup (8-byte keys, the C1 rule) and the
    lang/source top-1s, which are TakeOrderedAndProject over |langs|- and
    |sources|-row aggregates. Output: exactly one row."""
    feat = parallel_table(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " ")).alias(
            "n_tok"
        ),
        F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")).alias(
            "h"
        ),
    )
    dup = F.broadcast(
        feat.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > 1)
        .agg(
            F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0))
            .cast("bigint")
            .alias("n_dup_docs")
        )
    )
    top_lang = F.broadcast(
        feat.where(F.col("lang").isNotNull())
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("lang").asc())
        .limit(1)
        .select(F.col("lang").alias("top_lang"))
    )
    top_source = F.broadcast(
        feat.where(F.col("source").isNotNull())
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("source").asc())
        .limit(1)
        .select(F.col("source").alias("top_source"))
    )
    base = feat.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        F.sum((F.col("text") == "").cast("bigint"))
        .cast("bigint")
        .alias("n_empty"),
    )
    return (
        base.crossJoin(dup)
        .crossJoin(top_lang)
        .crossJoin(top_source)
        .select(
            "n_docs",
            "n_langs",
            "n_sources",
            "total_tokens",
            "total_chars",
            F.expr(
                "CAST((1000000 * n_dup_docs) div n_docs AS BIGINT)"
            ).alias("exact_dup_ppm"),
            F.expr("CAST((1000000 * n_empty) div n_docs AS BIGINT)").alias(
                "empty_ppm"
            ),
            "top_lang",
            "top_source",
        )
    )


# --- C123: quality x length confound matrix ----------------------------------

_QLM_Q_BUCKET_PPM = 100_000  # 11 stopword-share buckets over [0, 1e6]


@query(
    "q_llm_quality_len_matrix",
    oracle=f"""
    WITH feat AS (
        SELECT CAST(length(bin(len(string_split(coalesce(text, ''), ' '))))
                    AS BIGINT) AS len_octave,
               ((1000000 * len(list_filter(
                     string_split(coalesce(text, ''), ' '),
                     t -> t IN ('a', 'the'))))
                 // len(string_split(coalesce(text, ''), ' ')))
                 // {_QLM_Q_BUCKET_PPM} AS q_bucket,
               CASE WHEN source IN ('src0', 'src1', 'src2', 'src3')
                    THEN 1 ELSE 0 END AS pos
        FROM documents
    )
    SELECT len_octave, CAST(q_bucket AS BIGINT) AS q_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(pos) AS BIGINT) AS n_trusted,
           CAST((1000000 * sum(pos)) // count(*) AS BIGINT)
               AS trusted_ppm
    FROM feat GROUP BY len_octave, q_bucket
    """,
)
def q_llm_quality_len_matrix(spark, sf_dir):
    """C123: the quality x length CONFOUND matrix — trusted-source rate
    cross-tabulated by document length octave AND quality-score bucket.
    The diagnostic that protects a curation run from the classic trap:
    a "quality" classifier that is secretly a length detector (C105's
    AUC and C117's calibration both marginalize over length, so they
    cannot see it). If trusted_ppm varies across q_buckets WITHIN each
    len_octave, the score carries real signal; if it is flat within rows
    and varies only across octaves, the score is a length proxy and the
    C115/C117 consumers are selecting on length — the audit that decides
    whether to length-stratify the filter. Length buckets are exact
    bit-length octaves (C51 identity), quality buckets fixed
    {_QLM_Q_BUCKET_PPM}-ppm widths of the C105 stopword signal, NULL
    sources count untrusted (the C105 r6 lesson).

    Scale: everything is computed beside the scan; ONE map-side-combined
    rollup to <=|octaves| x 11 cells. No joins, no windows."""
    toks = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    feat = parallel_table(spark, sf_dir, "documents").select(
        F.length(F.bin(F.size(toks))).cast("bigint").alias("len_octave"),
        F.expr(
            f"((1000000 * size(filter(split(coalesce(text, ''), ' '), "
            f"t -> t IN ('a', 'the')))) div "
            f"size(split(coalesce(text, ''), ' '))) div "
            f"{_QLM_Q_BUCKET_PPM}"
        )
        .cast("bigint")
        .alias("q_bucket"),
        F.coalesce(
            F.col("source").isin("src0", "src1", "src2", "src3"),
            F.lit(False),
        )
        .cast("int")
        .alias("pos"),
    )
    return feat.groupBy("len_octave", "q_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("pos").cast("bigint").alias("n_trusted"),
        F.expr(
            "CAST((1000000 * sum(pos)) div count(1) AS BIGINT)"
        ).alias("trusted_ppm"),
    )


# --- C128: cross-source duplication matrix ------------------------------------

# The raw fixture has no exact duplicates and assigns source = src(doc_id %
# 20) (FIXTURES.md); C128 injects copies of every 10th doc under a ROTATED
# source (offset 1 + (doc_id div 10) % 19, never 0 mod 20) so the matrix has
# real cross-source mass — the C1 injection pattern, extended with source
# crossover. 100_000 offset keeps injected ids disjoint from real ones.
_XDUP_OFFSET = 100_000


@query(
    "q_llm_cross_dup_matrix",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, source, md5(text) AS h FROM documents
        UNION ALL
        SELECT doc_id + {_XDUP_OFFSET} AS doc_id,
               'src' || CAST((doc_id % 20 + 1 + (doc_id // 10) % 19) % 20
                             AS VARCHAR) AS source,
               md5(text) AS h
        FROM documents WHERE doc_id % 10 = 0
    ),
    sh AS (SELECT DISTINCT source, h FROM corpus),
    per_source AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_hashes FROM sh
        GROUP BY source
    ),
    shared AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT s.source_a, s.source_b, s.n_shared,
           pa.n_hashes AS n_a, pb.n_hashes AS n_b,
           CAST((1000000 * s.n_shared)
                // (pa.n_hashes + pb.n_hashes - s.n_shared) AS BIGINT)
               AS jaccard_ppm
    FROM shared s
    JOIN per_source pa ON pa.source = s.source_a
    JOIN per_source pb ON pb.source = s.source_b
    """,
)
def q_llm_cross_dup_matrix(spark, sf_dir):
    """C128: source-pair duplication matrix — for every pair of sources,
    how many distinct texts they BOTH carry, and the Jaccard of their
    content-hash sets. The provenance audit behind mixture design (C30)
    and the data card (C122): a crawl source that is 40% content-shared
    with another is double-counting its mixture weight, and upweighting
    both is silent duplication at training time (the cross-SOURCE view of
    what C44 measures cross-SPLIT). Same exact-hash algebra as C1, lifted
    from doc grain to source-pair grain; string source ids compare
    byte-wise identically on both engines (the D9 canary).

    Plan/scale: texts reduce to 32-byte md5 beside the scan (the
    exchange carries (source, hash), never text); the DISTINCT and the
    self-join both key on the hash, so co-located one shuffle each; the
    matrix is |sources|^2 rows — trivially small at any corpus size (a
    pipeline has hundreds of sources, not millions)."""
    d = table(spark, sf_dir, "documents")
    base = d.select("doc_id", "source", F.md5(F.col("text").cast("binary")).alias("h"))
    injected = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + _XDUP_OFFSET).alias("doc_id"),
        F.concat(
            F.lit("src"),
            (
                (F.col("doc_id") % 20 + 1 + (F.col("doc_id") / 10).cast("bigint") % 19)
                % 20
            ).cast("string"),
        ).alias("source"),
        F.md5(F.col("text").cast("binary")).alias("h"),
    )
    sh = base.unionByName(injected).select("source", "h").distinct()
    per_source = sh.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hashes")
    )
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    pa = per_source.select(
        F.col("source").alias("source_a"), F.col("n_hashes").alias("n_a")
    )
    pb = per_source.select(
        F.col("source").alias("source_b"), F.col("n_hashes").alias("n_b")
    )
    return (
        shared.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            F.expr(
                "CAST((1000000 * n_shared) div (n_a + n_b - n_shared) "
                "AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )


# --- C171: dedup-method agreement matrix --------------------------------------


@query(
    "q_llm_dedup_method_overlap",
    oracle=None,  # set below — assembled from the three family CTE texts
)
def q_llm_dedup_method_overlap(spark, sf_dir):
    """C171: agreement matrix between the three near-dup ladders — exact
    token-set Jaccard (C2, the PPJoin ground truth), SimHash banding
    (C13, the at-scale syntactic pass) and SemDeDup semantic pairs
    (C125, the embedding pass): for each method pair, both set sizes,
    the intersection, and the Jaccard of the PAIR SETS in ppm. This is
    the audit that tells a pipeline owner what each ladder uniquely
    catches — SimHash∩Jaccard calibrates the syntactic surrogate
    (C75's precision view, here set-valued), while semantic-minus-
    syntactic is exactly the paraphrase mass only the embedding pass
    can see (the SemDeDup paper's motivating split).

    Cross-engine float shape: NO float — three pair-set counts and
    three intersection counts, all BIGINT, ppm as the exact floor-div
    with a D11 nullif guard. Plan/scale: every input rides an
    already-memoized family state (the C2 scored-pair barrier, the C13
    fingerprint checkpoint, the C125 semantic state) — this query adds
    three (doc_a, doc_b)-keyed equi-joins of id-only frames and six
    1-row aggregates broadcast into a 3-row release; nothing
    corpus-scale moves."""
    from .dedup import _jaccard_scored
    from .pipeline import q_llm_dedup_simhash
    from .vectors import semantic_pairs

    jp = _jaccard_scored(spark, sf_dir).select("doc_a", "doc_b")
    sp = q_llm_dedup_simhash(spark, sf_dir).select("doc_a", "doc_b")
    mp = semantic_pairs(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )

    def row(name_a, a, name_b, b):
        ca = a.agg(F.count(F.lit(1)).cast("bigint").alias("n_a"))
        cb = b.agg(F.count(F.lit(1)).cast("bigint").alias("n_b"))
        cc = a.join(b, ["doc_a", "doc_b"]).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common")
        )
        return (
            ca.crossJoin(F.broadcast(cb))
            .crossJoin(F.broadcast(cc))
            .select(
                F.lit(name_a).alias("method_a"),
                F.lit(name_b).alias("method_b"),
                "n_a",
                "n_b",
                "n_common",
                F.expr(
                    "CAST((1000000 * n_common)"
                    " div nullif(n_a + n_b - n_common, 0) AS BIGINT)"
                ).alias("pairset_jaccard_ppm"),
            )
        )

    return (
        row("jaccard", jp, "simhash", sp)
        .unionByName(row("jaccard", jp, "semantic", mp))
        .unionByName(row("simhash", sp, "semantic", mp))
    )


from .dedup import _JACCARD_TAU as _MO_TAU  # noqa: E402
from .pipeline import _SIMHASH_PAIRS_SQL as _MO_SIMHASH  # noqa: E402
from .vectors import _SEM_CTES as _MO_SEM  # noqa: E402
from ..registry import _ORACLES as _REG_ORACLES  # noqa: E402

_MO_PAIR_CTES = f"""
    {_MO_SEM},
    toks AS (
        SELECT doc_id, lang,
               unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM toks a
        JOIN toks b ON a.tok = b.tok AND a.lang = b.lang
                   AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jp AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE i * 1.0 / (sa.sz + sb.sz - i) >= {_MO_TAU}
    ),
    sp AS (
        SELECT doc_a, doc_b FROM ({_MO_SIMHASH})
    ),
    mp AS (SELECT vec_a AS doc_a, vec_b AS doc_b FROM sem)
"""

_REG_ORACLES["q_llm_dedup_method_overlap"] = f"""
    WITH {_MO_PAIR_CTES}
    SELECT 'jaccard' AS method_a, 'simhash' AS method_b,
           (SELECT CAST(count(*) AS BIGINT) FROM jp) AS n_a,
           (SELECT CAST(count(*) AS BIGINT) FROM sp) AS n_b,
           (SELECT CAST(count(*) AS BIGINT)
            FROM jp JOIN sp USING (doc_a, doc_b)) AS n_common,
           CAST((1000000 * (SELECT count(*) FROM jp JOIN sp
                            USING (doc_a, doc_b)))
                // nullif((SELECT count(*) FROM jp)
                          + (SELECT count(*) FROM sp)
                          - (SELECT count(*) FROM jp JOIN sp
                             USING (doc_a, doc_b)), 0) AS BIGINT)
               AS pairset_jaccard_ppm
    UNION ALL
    SELECT 'jaccard', 'semantic',
           (SELECT CAST(count(*) AS BIGINT) FROM jp),
           (SELECT CAST(count(*) AS BIGINT) FROM mp),
           (SELECT CAST(count(*) AS BIGINT)
            FROM jp JOIN mp USING (doc_a, doc_b)),
           CAST((1000000 * (SELECT count(*) FROM jp JOIN mp
                            USING (doc_a, doc_b)))
                // nullif((SELECT count(*) FROM jp)
                          + (SELECT count(*) FROM mp)
                          - (SELECT count(*) FROM jp JOIN mp
                             USING (doc_a, doc_b)), 0) AS BIGINT)
    UNION ALL
    SELECT 'simhash', 'semantic',
           (SELECT CAST(count(*) AS BIGINT) FROM sp),
           (SELECT CAST(count(*) AS BIGINT) FROM mp),
           (SELECT CAST(count(*) AS BIGINT)
            FROM sp JOIN mp USING (doc_a, doc_b)),
           CAST((1000000 * (SELECT count(*) FROM sp JOIN mp
                            USING (doc_a, doc_b)))
                // nullif((SELECT count(*) FROM sp)
                          + (SELECT count(*) FROM mp)
                          - (SELECT count(*) FROM sp JOIN mp
                             USING (doc_a, doc_b)), 0) AS BIGINT)
"""


@query(
    "q_llm_source_vocab_overlap",
    oracle="""
    WITH toks AS (
        SELECT DISTINCT source,
               unnest(list_distinct(string_split(coalesce(text, ''), ' ')))
                   AS tok
        FROM documents
    ),
    sizes AS (
        SELECT source, CAST(count(*) AS BIGINT) AS v FROM toks
        GROUP BY source
    ),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(count(*) AS BIGINT) AS n_common
        FROM toks a
        JOIN toks b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b, sa.v AS vocab_a, sb.v AS vocab_b,
           i.n_common,
           CAST((1000000 * i.n_common)
                // (sa.v + sb.v - i.n_common) AS BIGINT) AS vocab_jaccard_ppm
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    """,
)
def q_llm_source_vocab_overlap(spark, sf_dir):
    """C173: source-pair vocabulary affinity matrix — exact Jaccard of
    the distinct-token vocabularies of every source pair: the
    lexical-similarity input a mixture designer reads before C30/C166
    weighting (two sources with near-identical vocabularies are
    redundant coverage; a low-overlap source adds diversity C74 can't
    see at the document level), and the source-grain complement of
    C128's document-level cross-dup matrix. Only pairs sharing at
    least one token release (absent pair ⇒ zero overlap).

    Cross-engine float shape: NO float — vocabulary sizes and
    intersections are exact BIGINT counts, the Jaccard is the exact
    inclusion-exclusion ppm floor-div (all-positive). Plan/scale: the
    corpus-scale step is the scan-stage (source, token) DISTINCT —
    after it everything is DICTIONARY-sized (vocabulary rows, not
    document rows), so the token self-join shuffles the deduplicated
    lexicon once; join volume is Σ_tok df² with df ≤ |sources| —
    bounded by |sources|·Σ|V_s|, linear in total vocabulary. At an
    unbounded source cardinality you first cap to the top-K sources by
    mass (the C37/B191 alphabet-cap move); release is
    ≤|sources|²/2 rows."""
    toks = (
        table(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(
                F.array_distinct(
                    F.split(F.coalesce(F.col("text"), F.lit("")), " ")
                )
            ).alias("tok"),
        )
        .distinct()
    )
    sizes = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("v")
    )
    a = toks.select(F.col("source").alias("source_a"), "tok")
    b = toks.select(F.col("source").alias("source_b"), "tok")
    inter = (
        a.join(b, "tok")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_a"),
                    F.col("v").alias("vocab_a"),
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_b"),
                    F.col("v").alias("vocab_b"),
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "vocab_a",
            "vocab_b",
            "n_common",
            F.expr(
                "CAST((1000000 * n_common)"
                " div (vocab_a + vocab_b - n_common) AS BIGINT)"
            ).alias("vocab_jaccard_ppm"),
        )
    )
