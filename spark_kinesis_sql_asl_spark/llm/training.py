"""Training-data assembly operators (SURVEY.md §2 rows C148–C155, round 9).

The round-9 C-tier wave covers the assembly steps between a curated corpus
and a training run: contrastive-pair construction, curriculum phasing,
cluster-balanced reweighting, CDC snapshot compaction, plus three corpus
statistics (JS divergence, compression proxy, dup-graph two-hop) and the
multi-probe ANN audit curve for the round-9 C5 re-plan. House rules as
everywhere: md5-portable hashes, integer-exact or per-row-double releases,
dims broadcast, no all-pairs joins, D14 micro-nat quantization for every
transcendental that crosses the engine boundary.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import parallel_table, table
from .dedup import _JACCARD_TAU, _jaccard_scored
from .sketches import _hex_parse_duck, _hex_parse_spark
from .similarity import (
    _LSH_PROBE_RADIUS,
    _N_PLANES,
    _N_QUERIES,
    _PLANES,
    _PLANES_VALUES_SQL,
    _TOPK,
    as_double,
    dot,
    hyperplane_bands,
    safe_cosine,
    sq_norm,
)

# Exact-pair CTE shared by the dup-graph oracles (C118's integer-compare
# form: 100*i >= tau_pct*(union) — no float Jaccard in the gate).
_PAIRS_CTE = f"""
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
    pairs AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE 100 * i >= {int(_JACCARD_TAU * 100)} * (sa.sz + sb.sz - i)
    )
"""


# --- C148: multi-probe recall/candidate curve --------------------------------

# The 16 deterministic hyperplanes as DuckDB DOUBLE[] literals — built in
# similarity.py (shared since round 11 with C5's own oracle; VERDICT r9
# item #6 proved the technique here first).


@query(
    "q_llm_probe_curve",
    oracle=f"""
    WITH planes(p, pv) AS (VALUES
        {_PLANES_VALUES_SQL}
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    bits AS (
        SELECT vec_id, p,
               CASE WHEN list_dot_product(e, pv) >= 0 THEN 1 ELSE 0 END AS bit
        FROM e CROSS JOIN planes
    ),
    bk AS (
        SELECT vec_id,
               CAST(sum(CASE WHEN p < {_N_PLANES // 2} THEN bit << p
                             ELSE 0 END) AS INT) AS b0,
               CAST(sum(CASE WHEN p >= {_N_PLANES // 2}
                             THEN bit << (p - {_N_PLANES // 2})
                             ELSE 0 END) AS INT) AS b1
        FROM bits GROUP BY vec_id
    ),
    v AS (
        SELECT e.vec_id, e.e,
               sqrt(list_sum(list_transform(e.e, x -> x * x))) AS nrm,
               bk.b0, bk.b1
        FROM e JOIN bk USING (vec_id)
    ),
    pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               coalesce(list_dot_product(q.e, c.e)
                        / nullif(q.nrm * c.nrm, 0), 0) AS cos,
               least(bit_count(xor(q.b0, c.b0)),
                     bit_count(xor(q.b1, c.b1))) AS h
        FROM v q JOIN v c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {_N_QUERIES}
    ),
    flagged AS (
        SELECT query_id, h,
               CASE WHEN row_number() OVER (
                   PARTITION BY query_id ORDER BY cos DESC, neighbor_id
               ) <= {_TOPK} THEN 1 ELSE 0 END AS in_topk
        FROM pairs
    )
    SELECT radius,
           CAST(sum(CASE WHEN h <= radius THEN 1 ELSE 0 END) AS BIGINT)
               AS n_candidates,
           CAST(sum(CASE WHEN h <= radius THEN in_topk ELSE 0 END) AS BIGINT)
               AS n_hit,
           round(sum(CASE WHEN h <= radius THEN in_topk ELSE 0 END) * 1.0
                 / sum(in_topk), 6) AS recall
    FROM flagged
    CROSS JOIN generate_series(0, {_LSH_PROBE_RADIUS}) AS t(radius)
    GROUP BY radius ORDER BY radius
    """,
)
def q_llm_probe_curve(spark, sf_dir):
    """C148: the multi-probe DIAL AUDIT for the round-9 C5 re-plan — for
    every probe radius r in 0.._LSH_PROBE_RADIUS, how many candidates the
    Hamming-r probe set would generate and what fraction of the exact
    top-k neighbors it recovers. This is the table an operator reads before
    choosing the radius for a corpus (the C142 band-tuning idea
    transplanted to hyperplane LSH): the fixture's row says random
    embeddings need r=4, a clustered corpus's says r=1.

    The audit side is deliberately brute-force over the LABELED SAMPLE
    (here: the 5 fixture queries x corpus — at 100 TB a drawn sample,
    same as every recall denominator in this repo): per (query, doc)
    pair it computes min-over-bands Hamming distance bit_count(bq^bd)
    plus the exact cosine rank, then ONE conditional aggregation per
    radius reads the whole curve off a single pass — no per-radius
    probe-joins, no re-scans. Hash-matched oracle since round 10: the
    planes are deterministic ±1.0 literals, so the DuckDB twin carries
    them as an inline VALUES table of DOUBLE[] plane vectors and
    recomputes the identical sign bits / band buckets in SQL."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("e")
    )
    withb = emb.withColumn("nrm", F.sqrt(sq_norm(F.col("e")))).withColumn(
        "bb", hyperplane_bands(F.col("e"))
    ).select(
        "vec_id",
        "e",
        "nrm",
        F.element_at("bb", 1)["bucket"].alias("b0"),
        F.element_at("bb", 2)["bucket"].alias("b1"),
    )
    q = withb.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
        F.col("b0").alias("qb0"),
        F.col("b1").alias("qb1"),
    )
    cos = safe_cosine(dot(F.col("qe"), F.col("ce")), F.col("qn"), F.col("cn"))
    pairs = (
        withb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("e").alias("ce"),
            F.col("nrm").alias("cn"),
            "b0",
            "b1",
        )
        .join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cos.alias("cos"),
            F.least(
                F.bit_count(F.expr("int(qb0 ^ b0)")),
                F.bit_count(F.expr("int(qb1 ^ b1)")),
            ).alias("h"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    flagged = pairs.withColumn(
        "in_topk", (F.row_number().over(w) <= _TOPK).cast("int")
    )
    radii = F.explode(
        F.array(*[F.lit(r) for r in range(_LSH_PROBE_RADIUS + 1)])
    )
    return (
        flagged.withColumn("radius", radii)
        .groupBy("radius")
        .agg(
            F.sum((F.col("h") <= F.col("radius")).cast("bigint")).alias(
                "n_candidates"
            ),
            F.sum(
                ((F.col("h") <= F.col("radius")) & (F.col("in_topk") == 1))
                .cast("bigint")
            ).alias("n_hit"),
            F.sum("in_topk").cast("bigint").alias("n_exact"),
        )
        .select(
            "radius",
            "n_candidates",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_exact"), 6).alias("recall"),
        )
        .orderBy("radius")
    )


# --- C149: Jensen–Shannon divergence between language unigram dists -----------

_LN2_MICRO = 693_147  # round(1e6 * ln 2): exclusive-token term, D14 domain


@query(
    "q_llm_js_divergence",
    oracle=f"""
    WITH toks AS (
        SELECT lang, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE lang IS NOT NULL
    ),
    c AS (
        SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
        FROM toks WHERE tok <> '' GROUP BY lang, tok
    ),
    n AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY lang),
    shared AS (
        SELECT a.lang AS lang_a, b.lang AS lang_b,
               CAST(sum(a.c) AS BIGINT) AS shared_a,
               CAST(sum(b.c) AS BIGINT) AS shared_b,
               CAST(sum(a.c * (
                   CAST(round(1000000 * ln(2 * a.c * nb.n)) AS BIGINT)
                 - CAST(round(1000000 * ln(a.c * nb.n + b.c * na.n)) AS BIGINT)
               )) AS BIGINT) AS qsum_a,
               CAST(sum(b.c * (
                   CAST(round(1000000 * ln(2 * b.c * na.n)) AS BIGINT)
                 - CAST(round(1000000 * ln(a.c * nb.n + b.c * na.n)) AS BIGINT)
               )) AS BIGINT) AS qsum_b
        FROM c a
        JOIN c b ON a.tok = b.tok AND a.lang < b.lang
        JOIN n na ON na.lang = a.lang
        JOIN n nb ON nb.lang = b.lang
        GROUP BY 1, 2
    )
    SELECT lang_a, lang_b,
           round(0.5 * (
               (qsum_a + (na.n - shared_a) * {_LN2_MICRO}) * 1.0 / na.n
             + (qsum_b + (nb.n - shared_b) * {_LN2_MICRO}) * 1.0 / nb.n
           ) / 1000000, 6) AS js_nats
    FROM shared
    JOIN n na ON na.lang = lang_a
    JOIN n nb ON nb.lang = lang_b
    ORDER BY lang_a, lang_b
    """,
)
def q_llm_js_divergence(spark, sf_dir):
    """C149: Jensen–Shannon divergence between every language pair's
    unigram distribution — the symmetric, bounded [0, ln2] drift metric
    that upgrades C100's binned PSI to full-vocabulary resolution (the
    corpus-mixing decision "are these two sources the same distribution"
    runs on exactly this number).

    Exactness via the D14 micro-nat discipline: each per-token KL term
    p·ln(2p/(p+q)) is rewritten over exact integers — with p = ca/Na,
    q = cb/Nb, the log argument 2·ca·Nb / (ca·Nb + cb·Na) is a ratio of
    BIGINTs, and each ln(int) is quantized to round(1e6·ln(·)) BEFORE
    the subtraction, so both engines accumulate identical integers
    (arguments stay ≪ 2^53 through sf10; beyond that, pre-divide both
    by gcd-scale per D15). Tokens exclusive to one language contribute
    exactly (mass/N)·ln2 — computed from the shared-mass complement, so
    NO full-outer join is needed: the pair join touches only shared
    tokens. Plan: one (lang, tok) count aggregate, a self-join on tok
    (posting lists bounded by |langs|), |lang-pairs| result rows; the
    |langs|-row totals broadcast."""
    toks = (
        parallel_table(spark, sf_dir, "documents")
        .where(F.col("lang").isNotNull())
        .select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
    )
    c = toks.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    n = c.groupBy("lang").agg(F.sum("c").cast("bigint").alias("n"))
    na = F.broadcast(n.select(F.col("lang").alias("lang_a"), F.col("n").alias("n_a")))
    nb = F.broadcast(n.select(F.col("lang").alias("lang_b"), F.col("n").alias("n_b")))
    ln_q = lambda expr: F.round(1_000_000 * F.log(expr)).cast("bigint")  # noqa: E731
    joined = (
        c.alias("a")
        .join(c.alias("b"), (F.col("a.tok") == F.col("b.tok")) & (F.col("a.lang") < F.col("b.lang")))
        .select(
            F.col("a.lang").alias("lang_a"),
            F.col("b.lang").alias("lang_b"),
            F.col("a.c").alias("ca"),
            F.col("b.c").alias("cb"),
        )
        .join(na, "lang_a")
        .join(nb, "lang_b")
    )
    denom = F.col("ca") * F.col("n_b") + F.col("cb") * F.col("n_a")
    shared = joined.groupBy("lang_a", "lang_b").agg(
        F.sum("ca").cast("bigint").alias("shared_a"),
        F.sum("cb").cast("bigint").alias("shared_b"),
        F.sum(
            F.col("ca") * (ln_q(2 * F.col("ca") * F.col("n_b")) - ln_q(denom))
        ).cast("bigint").alias("qsum_a"),
        F.sum(
            F.col("cb") * (ln_q(2 * F.col("cb") * F.col("n_a")) - ln_q(denom))
        ).cast("bigint").alias("qsum_b"),
    )
    return (
        shared.join(na, "lang_a")
        .join(nb, "lang_b")
        .select(
            "lang_a",
            "lang_b",
            F.round(
                0.5
                * (
                    (F.col("qsum_a") + (F.col("n_a") - F.col("shared_a")) * _LN2_MICRO)
                    * 1.0
                    / F.col("n_a")
                    + (F.col("qsum_b") + (F.col("n_b") - F.col("shared_b")) * _LN2_MICRO)
                    * 1.0
                    / F.col("n_b")
                )
                / 1_000_000,
                6,
            ).alias("js_nats"),
        )
        .orderBy("lang_a", "lang_b")
    )


# --- C150: n-gram repetition compression proxy --------------------------------


@query(
    "q_llm_compress_proxy",
    oracle="""
    WITH w AS (
        SELECT lang, string_split(text, ' ') AS w FROM documents
        WHERE lang IS NOT NULL
    ),
    per_doc AS (
        SELECT lang,
               len(list_distinct(list_transform(range(1, len(w)),
                                 i -> w[i] || ' ' || w[i + 1]))) AS d_bg,
               len(w) - 1 AS t_bg
        FROM w WHERE len(w) >= 2
    )
    SELECT lang,
           CAST(least(9, (10 * d_bg) // t_bg) AS INTEGER) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(t_bg - d_bg) AS BIGINT) AS repeated_bigrams
    FROM per_doc
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_llm_compress_proxy(spark, sf_dir):
    """C150: compression-ratio quality proxy — per document, the distinct
    /total bigram ratio (the n-gram face of the zlib-compression filter
    Gopher/DCLM apply: highly compressible == highly repetitive), rolled
    into per-(lang, decile) counts. A document repeating one phrase has
    ratio → 0 (decile 0); natural text sits high. Pure integers: bigram
    counts are exact, the decile is truncating division of non-negative
    ints (D7), capped at 9 for the ratio-1 edge. Bigrams generate
    partition-local from the split array (the C28 discipline — no
    explode materialization even, just two array ops in the scan stage);
    the only shuffle is the |langs|x10 rollup."""
    w = (
        parallel_table(spark, sf_dir, "documents")
        .where(F.col("lang").isNotNull())
        .select("lang", F.split("text", " ").alias("w"))
        .where(F.size("w") >= 2)
    )
    per_doc = w.select(
        "lang",
        F.size(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(w) - 1), "
                    "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
                )
            )
        ).alias("d_bg"),
        (F.size("w") - 1).alias("t_bg"),
    )
    return (
        per_doc.groupBy(
            "lang",
            F.least(F.lit(9), F.expr("(10 * d_bg) div t_bg"))
            .cast("int")
            .alias("decile"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col("t_bg") - F.col("d_bg"))
            .cast("bigint")
            .alias("repeated_bigrams"),
        )
        .orderBy("lang", "decile")
    )


# --- C151: contrastive triple construction ------------------------------------


@query(
    "q_llm_contrastive_pairs",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, lang, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, lang, text
        FROM documents WHERE doc_id % 10 = 0
    ),
    h AS (
        SELECT doc_id, lang, md5(text) AS th FROM corpus
        WHERE text IS NOT NULL AND lang IS NOT NULL
    ),
    grp AS (
        SELECT th, lang,
               list_sort(list(doc_id))[1] AS anchor_id,
               list_sort(list(doc_id))[2] AS positive_id,
               count(*) AS n_members
        FROM h GROUP BY th, lang
        HAVING count(*) >= 2
    ),
    ranked AS (
        SELECT doc_id, lang, th,
               row_number() OVER (PARTITION BY lang ORDER BY th, doc_id)
                   AS rn,
               count(*) OVER (PARTITION BY lang) AS n_lang
        FROM h
    ),
    anchors AS (
        SELECT g.anchor_id, g.positive_id, g.lang, r.rn, r.n_lang
        FROM grp g JOIN ranked r ON g.anchor_id = r.doc_id
    )
    SELECT a.anchor_id, a.positive_id, neg.doc_id AS negative_id, a.lang
    FROM anchors a
    JOIN ranked neg
      ON neg.lang = a.lang
     AND neg.rn = ((a.rn - 1 + a.n_lang // 2) % a.n_lang) + 1
    ORDER BY a.anchor_id
    """,
)
def q_llm_contrastive_pairs(spark, sf_dir):
    """C151: (anchor, positive, negative) triple construction — the
    retrieval/embedding-training data assembly step: positives from
    exact-duplicate groups (md5(text) — the only label-free positive
    signal a raw corpus carries, and exactly what E5/GTE-style models
    bootstrap on), negatives drawn DETERMINISTICALLY from the same
    language by hash-ring offset: rank every doc per lang by (md5,
    doc_id), and take the doc half a ring away from the anchor —
    far in hash space == content-uncorrelated, reproducible on
    re-crawl (the C25 content-hash membership argument), and an
    EQUI-join on (lang, rank) rather than any nearest-neighbor search.
    Anchor = min doc_id of each ≥2-member group; positive = the group's
    second member. The corpus is documents plus the C1 dup injection
    (every 10th doc copied at +100000 — the fixture carries no natural
    exact dups). Plan: one md5 groupBy, two |corpus|-row rank windows
    partitioned by lang, one equi-join — no pair blow-up anywhere."""
    d = parallel_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    corpus = d.unionByName(
        d.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 100_000).alias("doc_id"), "lang", "text"
        )
    )
    h = (
        corpus.where(F.col("text").isNotNull() & F.col("lang").isNotNull())
        .select("doc_id", "lang", F.md5("text").alias("th"))
    )
    grp = (
        h.groupBy("th", "lang")
        .agg(
            F.min("doc_id").alias("anchor_id"),
            # get() not [1]: the projection evaluates before the >=2
            # filter, and ANSI mode makes an out-of-bounds index a crash
            # on the 1-member groups being discarded
            F.expr("get(sort_array(collect_list(doc_id)), 1)").alias(
                "positive_id"
            ),
            F.count(F.lit(1)).alias("n_members"),
        )
        .where(F.col("n_members") >= 2)
    )
    wr = Window.partitionBy("lang").orderBy("th", "doc_id")
    wn = Window.partitionBy("lang")
    ranked = h.select(
        "doc_id",
        "lang",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n_lang"),
    )
    anchors = grp.join(
        ranked.select(
            F.col("doc_id").alias("anchor_id"), "lang", "rn", "n_lang"
        ),
        ["anchor_id", "lang"],
    )
    neg = ranked.select(
        F.col("doc_id").alias("negative_id"),
        "lang",
        F.col("rn").alias("neg_rn"),
    )
    return (
        anchors.withColumn(
            "neg_rn",
            (
                (F.col("rn") - 1 + F.expr("n_lang div 2")) % F.col("n_lang")
            ) + 1,
        )
        .join(neg, ["lang", "neg_rn"])
        .select("anchor_id", "positive_id", "negative_id", "lang")
        .orderBy("anchor_id")
    )


# --- C152: curriculum phase assignment via histogram quantiles -----------------

_CURRICULUM_PHASES = 3


@query(
    "q_llm_curriculum_bins",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS n_tok,
               (n_chars * 1000) // len(string_split(text, ' ')) AS score
        FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
    ),
    hist AS (
        SELECT score, CAST(count(*) AS BIGINT) AS c
        FROM scored GROUP BY score
    ),
    cum AS (
        SELECT score, c,
               CAST(sum(c) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_end,
               CAST(sum(c) OVER () AS BIGINT) AS n_total
        FROM hist
    ),
    phased AS (
        SELECT score,
               CAST(1 + CASE WHEN cum_end * {_CURRICULUM_PHASES} > 2 * n_total
                             THEN 2
                             WHEN cum_end * {_CURRICULUM_PHASES} > n_total
                             THEN 1 ELSE 0 END AS INTEGER) AS phase
        FROM cum
    )
    SELECT phase,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(s.n_tok) AS BIGINT) AS total_tokens,
           CAST(count(DISTINCT s.lang) AS BIGINT) AS n_langs,
           CAST(min(s.score) AS BIGINT) AS min_score,
           CAST(max(s.score) AS BIGINT) AS max_score
    FROM scored s JOIN phased USING (score)
    GROUP BY phase ORDER BY phase
    """,
)
def q_llm_curriculum_bins(spark, sf_dir):
    """C152: curriculum phase assignment — split the corpus into
    {_CURRICULUM_PHASES} quality-ordered phases (train easy→hard /
    short→long: the curriculum-learning data order) with an audit of
    each phase's composition. The score is an exact integer proxy
    (mean word length in milli-chars, truncating division); phases are
    EXACT tertiles computed scalably: no global ntile over documents
    (a 100 TB single-task sort) — instead aggregate to the SCORE
    HISTOGRAM (bounded domain: milli-length values), run the cumulative
    window over |distinct scores| rows (kilobytes), assign each score
    value to the phase of its cumulative endpoint, and join the
    value→phase map back (broadcastable). Whole score values never
    straddle phases — the boundary rule is value-granular and
    documented, which is what makes the assignment reproducible under
    any partitioning (a doc-granular ntile boundary depends on global
    row order). Scale: two aggregations + one broadcast join."""
    scored = (
        parallel_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & F.col("lang").isNotNull())
        .select(
            "doc_id",
            "lang",
            F.size(F.split("text", " ")).alias("n_tok"),
            F.expr(
                "(n_chars * 1000) div size(split(text, ' '))"
            ).alias("score"),
        )
    )
    hist = scored.groupBy("score").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wcum = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = hist.select(
        "score",
        F.sum("c").over(wcum).cast("bigint").alias("cum_end"),
        F.sum("c").over(wall).cast("bigint").alias("n_total"),
    )
    phased = cum.select(
        "score",
        (
            1
            + F.when(
                F.col("cum_end") * _CURRICULUM_PHASES > 2 * F.col("n_total"), 2
            )
            .when(F.col("cum_end") * _CURRICULUM_PHASES > F.col("n_total"), 1)
            .otherwise(0)
        )
        .cast("int")
        .alias("phase"),
    )
    return (
        scored.join(F.broadcast(phased), "score")
        .groupBy("phase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.min("score").cast("bigint").alias("min_score"),
            F.max("score").cast("bigint").alias("max_score"),
        )
        .orderBy("phase")
    )


# --- C153: cluster-balanced sampling weights -----------------------------------

_REWEIGHT_K = 16
_REWEIGHT_CAP_PPM = 10_000_000  # cap at 10x uniform


@query(
    "q_llm_cluster_reweight",
    oracle=f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   e -> CAST(floor(CAST(e AS DOUBLE) * 64.0) AS BIGINT)) AS qv
        FROM embeddings
    ),
    seeds AS (SELECT vec_id AS seed_id, qv AS sv FROM q
              WHERE vec_id < {_REWEIGHT_K}),
    dists AS (
        SELECT q.vec_id, s.seed_id,
               list_sum(list_transform(range(1, 65),
                   i -> (qv[i] - sv[i]) * (qv[i] - sv[i]))) AS dist
        FROM q CROSS JOIN seeds s
    ),
    assign AS (
        SELECT vec_id, seed_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, seed_id) AS rn
        FROM dists
    ),
    cells AS (
        SELECT seed_id AS cell_id, CAST(count(*) AS BIGINT) AS n_vecs
        FROM assign WHERE rn = 1 GROUP BY seed_id
    ),
    tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n FROM cells)
    SELECT cell_id, n_vecs,
           CAST(least((1000000 * (SELECT n FROM tot))
                          // ({_REWEIGHT_K} * n_vecs),
                      {_REWEIGHT_CAP_PPM}) AS BIGINT) AS weight_ppm,
           CAST(((1000000 * (SELECT n FROM tot))
                    // ({_REWEIGHT_K} * n_vecs)) > {_REWEIGHT_CAP_PPM}
                AS INTEGER) AS capped
    FROM cells ORDER BY cell_id
    """,
)
def q_llm_cluster_reweight(spark, sf_dir):
    """C153: cluster-balanced sampling weights — per k-means cell, the
    inverse-propensity weight (uniform-over-clusters target / actual
    cell share) that DataComp/SemDeDup-style pipelines apply so head
    clusters stop dominating the epoch, floor-ppm exact and CAPPED at
    {_REWEIGHT_CAP_PPM} ppm (an unbounded weight on a 3-vector cell is
    a variance bomb — the cap flag is released so the audit sees which
    cells saturated). Assignment reuses C33's exact integer Lloyd
    E-step verbatim (int8-grid squared-L2, broadcast {_REWEIGHT_K}-seed
    table, windowed argmin): same plan, one further |cells|-row rollup
    + the single-row total crossJoined back. weight = 1e6·N/(k·n_cell)
    by truncating division — all BIGINTs, engine-identical."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE) * 64.0)"
            " AS BIGINT))"
        ).alias("qv"),
    )
    seeds = e.where(F.col("vec_id") < _REWEIGHT_K).select(
        F.col("vec_id").alias("seed_id"), F.col("qv").alias("sv")
    )
    dists = e.crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        "seed_id",
        F.expr(
            "aggregate(sequence(1, 64), CAST(0 AS BIGINT), (acc, i) -> "
            "acc + (element_at(qv, i) - element_at(sv, i)) * "
            "(element_at(qv, i) - element_at(sv, i)))"
        ).alias("dist"),
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "seed_id")
    cells = (
        dists.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy(F.col("seed_id").alias("cell_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
    )
    tot = cells.agg(F.sum("n_vecs").cast("bigint").alias("n"))
    raw = F.expr(f"(1000000 * n) div ({_REWEIGHT_K} * n_vecs)")
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "cell_id",
            "n_vecs",
            F.least(raw, F.lit(_REWEIGHT_CAP_PPM))
            .cast("bigint")
            .alias("weight_ppm"),
            (raw > _REWEIGHT_CAP_PPM).cast("int").alias("capped"),
        )
        .orderBy("cell_id")
    )


# --- C154: dup-graph two-hop discovery -----------------------------------------

_TWO_HOP_TOP_K = 10
# Wedge enumeration is Θ(Σ deg(y)²) over wedge centers y. The fixture's
# τ=0.8 graph contains template CLIQUES (deg ~10³), where two-hop adds
# nothing — every clique is already one CC cluster — but makes Σdeg²
# explode (measured 140 s at sf0.1 unbounded). Distance-2 triage is only
# informative on the SPARSE FRONTIER, so both engines restrict every
# wedge role to nodes of degree ≤ _TWO_HOP_MAX_DEG before enumerating.
_TWO_HOP_MAX_DEG = 16


@query(
    "q_llm_dup_two_hop",
    oracle=f"""
    WITH {_PAIRS_CTE},
    all_edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    deg AS (
        SELECT src AS doc_id, count(*) AS deg FROM all_edges GROUP BY src
    ),
    low AS (SELECT doc_id FROM deg WHERE deg <= {_TWO_HOP_MAX_DEG}),
    edges AS (
        SELECT src, dst FROM all_edges
        JOIN low ls ON ls.doc_id = src
        JOIN low ld ON ld.doc_id = dst
    ),
    two_hop AS (
        SELECT e1.src AS doc_x, e2.dst AS doc_z,
               CAST(count(DISTINCT e1.dst) AS BIGINT) AS n_common
        FROM edges e1
        JOIN edges e2 ON e1.dst = e2.src AND e1.src < e2.dst
        GROUP BY 1, 2
    ),
    open_pairs AS (
        SELECT t.doc_x, t.doc_z, t.n_common
        FROM two_hop t
        LEFT JOIN pairs p ON p.doc_a = t.doc_x AND p.doc_b = t.doc_z
        WHERE p.doc_a IS NULL
    )
    SELECT doc_x, doc_z, n_common, rnk FROM (
        SELECT *, CAST(row_number() OVER (
                   ORDER BY n_common DESC, doc_x, doc_z) AS INTEGER) AS rnk
        FROM open_pairs
    ) WHERE rnk <= {_TWO_HOP_TOP_K}
    """,
)
def q_llm_dup_two_hop(spark, sf_dir):
    """C154: transitive near-dup discovery on the SPARSE FRONTIER — pairs
    at distance exactly 2 in the C2 dup graph (share ≥1 neighbor, NOT
    directly paired), ranked by shared-neighbor count: the "A≈B, B≈C,
    is A≈C worth an exact check" triage that catches τ-threshold
    near-misses the pairwise pass excludes by definition (a chain of
    0.79-similar revisions). Restricted to nodes of degree ≤
    {_TWO_HOP_MAX_DEG}: wedge enumeration is Θ(Σ deg²), the fixture's
    template cliques (deg ~10³) blow that up ~1000× (140 s measured
    unbounded at sf0.1, 1.5 s bounded) — and a clique member's two-hop
    set is its own clique, already resolved by C21's CC, so the dense
    region carries zero triage signal anyway. Rides the memoized C2
    pair frame (the C118/C135 precedent); the degree filter is an
    id-only semi-join; direct edges are removed by a left-anti on the
    id-pair frame. Top-{_TWO_HOP_TOP_K} via orderBy().limit()."""
    scored = _jaccard_scored(spark, sf_dir)
    jac = F.col("i") * 1.0 / (F.col("sa") + F.col("sb") - F.col("i"))
    pairs = scored.where(jac >= _JACCARD_TAU).select("doc_a", "doc_b")
    all_edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    low = (
        all_edges.groupBy(F.col("src").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .where(F.col("deg") <= _TWO_HOP_MAX_DEG)
        .select("doc_id")
    )
    edges = all_edges.join(
        low.select(F.col("doc_id").alias("src")), "src", "left_semi"
    ).join(low.select(F.col("doc_id").alias("dst")), "dst", "left_semi")
    two_hop = (
        edges.alias("e1")
        .join(
            edges.alias("e2"),
            (F.col("e1.dst") == F.col("e2.src"))
            & (F.col("e1.src") < F.col("e2.dst")),
        )
        .groupBy(
            F.col("e1.src").alias("doc_x"), F.col("e2.dst").alias("doc_z")
        )
        .agg(F.countDistinct("e1.dst").cast("bigint").alias("n_common"))
    )
    open_pairs = two_hop.join(
        pairs.select(
            F.col("doc_a").alias("doc_x"), F.col("doc_b").alias("doc_z")
        ),
        ["doc_x", "doc_z"],
        "left_anti",
    )
    top = open_pairs.orderBy(
        F.col("n_common").desc(), "doc_x", "doc_z"
    ).limit(_TWO_HOP_TOP_K)
    w = Window.orderBy(F.col("n_common").desc(), "doc_x", "doc_z")
    return top.select(
        "doc_x",
        "doc_z",
        "n_common",
        F.row_number().over(w).cast("int").alias("rnk"),
    )


# --- C155: CDC upsert compaction ------------------------------------------------


@query(
    "q_llm_ingest_cdc",
    oracle=f"""
    WITH ops AS (
        SELECT doc_id, lang, 1 AS seq, 'I' AS op, text FROM documents
        UNION ALL
        SELECT doc_id, lang, 2, 'U', 'U:' || text
        FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id, lang, 3, 'D', ''
        FROM documents WHERE doc_id % 13 = 0
    ),
    latest AS (
        SELECT doc_id, lang,
               max_by(op, seq) AS op,
               max_by(text, seq) AS text
        FROM ops GROUP BY doc_id, lang
    )
    SELECT lang,
           CAST(count(*) FILTER (WHERE op <> 'D') AS BIGINT) AS n_live,
           CAST(count(*) FILTER (WHERE op = 'D') AS BIGINT) AS n_deleted,
           CAST(count(*) FILTER (WHERE op = 'U') AS BIGINT)
               AS n_updated_live,
           CAST(sum(length(text)) FILTER (WHERE op <> 'D') AS BIGINT)
               AS live_chars,
           CAST(sum({_hex_parse_duck("text", 1)}) FILTER (WHERE op <> 'D')
               AS BIGINT) AS live_checksum
    FROM latest GROUP BY lang ORDER BY lang
    """,
)
def q_llm_ingest_cdc(spark, sf_dir):
    """C155: CDC upsert compaction — apply an insert/update/delete change
    log to a snapshot by latest-wins per key, the ingest-side complement
    of C66's SCD2 (C66 PRESERVES history as tiled ranges; this COMPACTS
    a log to current state — the Delta/Hudi merge semantics on plain
    parquet). The log is synthesized from the fixture by the C1
    convention (every doc inserted at seq 1, every 7th updated at seq 2
    with a prefix-marked body — a concat, NOT upper(): D16 shows
    case-folding is not engine-portable — every 13th deleted at seq 3).
    Compaction is ONE max_by aggregate per key (partial-aggregatable —
    at 100 TB the log shuffles once, keyed by doc id, carrying only the
    winning row per key out of the map side); the release is a per-lang
    audit: live/deleted/updated counts, live byte mass, and a portable
    md5-parse checksum over live bodies (the corpus-identity signature
    a downstream consumer verifies the merge against)."""
    d = parallel_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    ops = (
        d.select(
            "doc_id", "lang", F.lit(1).alias("seq"), F.lit("I").alias("op"), "text"
        )
        .unionByName(
            d.where(F.col("doc_id") % 7 == 0).select(
                "doc_id",
                "lang",
                F.lit(2).alias("seq"),
                F.lit("U").alias("op"),
                F.concat(F.lit("U:"), F.col("text")).alias("text"),
            )
        )
        .unionByName(
            d.where(F.col("doc_id") % 13 == 0).select(
                "doc_id",
                "lang",
                F.lit(3).alias("seq"),
                F.lit("D").alias("op"),
                F.lit("").alias("text"),  # sentinel, not NULL: max_by NULL-
                # value semantics differ between engines; the body of a
                # delete is never read (gated on op <> 'D')
            )
        )
    )
    latest = ops.groupBy("doc_id", "lang").agg(
        F.max_by("op", "seq").alias("op"),
        F.max_by("text", "seq").alias("text"),
    )
    live = F.col("op") != "D"
    return (
        latest.groupBy("lang")
        .agg(
            F.sum(live.cast("bigint")).cast("bigint").alias("n_live"),
            F.sum((F.col("op") == "D").cast("bigint"))
            .cast("bigint")
            .alias("n_deleted"),
            F.sum((F.col("op") == "U").cast("bigint"))
            .cast("bigint")
            .alias("n_updated_live"),
            F.sum(F.when(live, F.length("text"))).cast("bigint").alias(
                "live_chars"
            ),
            F.sum(
                F.when(live, F.expr(_hex_parse_spark("text", 1)))
            )
            .cast("bigint")
            .alias("live_checksum"),
        )
        .orderBy("lang")
    )


# --- C156: near-dup split leakage audit ----------------------------------------

# C35's content-hash split bounds (train < 0xcc, val < 0xe6, else test).
_SPLIT_CASE = (
    "CASE WHEN h < 'cc' THEN 'train' WHEN h < 'e6' THEN 'val' "
    "ELSE 'test' END"
)


@query(
    "q_llm_split_leakage",
    oracle=f"""
    WITH {_PAIRS_CTE},
    sp AS (
        SELECT doc_id, {_SPLIT_CASE.replace("h <", "substr(md5(coalesce(text, '')), 1, 2) <")} AS split
        FROM documents
    )
    SELECT least(sa.split, sb.split) AS split_lo,
           greatest(sa.split, sb.split) AS split_hi,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(least(sa.split, sb.split) <> greatest(sa.split, sb.split)
                AS INTEGER) AS is_leak
    FROM pairs
    JOIN sp sa ON sa.doc_id = doc_a
    JOIN sp sb ON sb.doc_id = doc_b
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_llm_split_leakage(spark, sf_dir):
    """C156: near-dup SPLIT LEAKAGE — the eval-contamination audit C35's
    split assignment cannot see: C35 hashes each document independently,
    so two near-duplicates (τ=0.8 Jaccard, NOT byte-identical — identical
    texts hash to the same split by construction) can land one in train
    and one in val/test, silently inflating eval numbers. This query
    crosses the exact C2 pair frame with the C35 split of each endpoint
    and releases the split×split pair matrix with a leak flag — the
    number a data card must report, and the reason production pipelines
    split by dup-CLUSTER canonical hash rather than per-document hash.
    Plan: pairs ride the memoized PPJoin frame; the split column is a
    scan-stage expression on documents; two id-keyed joins (ids + a
    2-char hash prefix on the wire, never text); |splits|² output rows."""
    scored = _jaccard_scored(spark, sf_dir)
    jac = F.col("i") * 1.0 / (F.col("sa") + F.col("sb") - F.col("i"))
    pairs = scored.where(jac >= _JACCARD_TAU).select("doc_a", "doc_b")
    h = F.substring(
        F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")), 1, 2
    )
    sp = (
        parallel_table(spark, sf_dir, "documents")
        .select("doc_id", h.alias("h"))
        .select("doc_id", F.expr(_SPLIT_CASE).alias("split"))
    )
    sa = sp.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = sp.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            F.least("split_a", "split_b").alias("split_lo"),
            F.greatest("split_a", "split_b").alias("split_hi"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .select(
            "split_lo",
            "split_hi",
            "n_pairs",
            (F.col("split_lo") != F.col("split_hi")).cast("int").alias(
                "is_leak"
            ),
        )
        .orderBy("split_lo", "split_hi")
    )


# --- C157: quality × duplication cross-audit ------------------------------------


@query(
    "q_llm_quality_dup_matrix",
    oracle=f"""
    WITH {_PAIRS_CTE},
    deg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT doc_a AS doc_id FROM pairs
            UNION ALL SELECT doc_b FROM pairs
        ) GROUP BY doc_id
    ),
    scored AS (
        SELECT d.doc_id,
               (d.n_chars * 1000) // len(string_split(d.text, ' ')) AS score,
               coalesce(g.deg, 0) AS deg
        FROM documents d LEFT JOIN deg g ON g.doc_id = d.doc_id
        WHERE d.text IS NOT NULL
    )
    SELECT CASE WHEN deg = 0 THEN '0' WHEN deg = 1 THEN '1'
                WHEN deg <= 4 THEN '2-4' ELSE '5+' END AS dup_band,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(score) // count(*) AS BIGINT) AS mean_score_milli,
           CAST((1000000 * count(*)) // sum(count(*)) OVER () AS BIGINT)
               AS share_ppm
    FROM scored
    GROUP BY 1 ORDER BY 1
    """,
)
def q_llm_quality_dup_matrix(spark, sf_dir):
    """C157: quality × duplication cross-audit — "are the duplicated
    documents also the low-quality ones?": per dup-degree band (0 / 1 /
    2-4 / 5+ near-dup partners in the C2 graph), document count, corpus
    share, and mean quality score (C152's integer mean-word-length
    proxy, floor-milli). The answer decides pipeline ORDER: if dup-heavy
    == low-quality, quality-filter first and dedup the survivors (cheaper
    — the C121 funnel question with data behind it); if independent, the
    two passes commute. Degrees come from the memoized pair frame
    (ids only); the zero-band is documents LEFT-joined to the degree
    frame (anti-join semantics without losing the row); one 4-row
    rollup releases everything, share via window over the rollup."""
    scored_pairs = _jaccard_scored(spark, sf_dir)
    jac = F.col("i") * 1.0 / (F.col("sa") + F.col("sb") - F.col("i"))
    pairs = scored_pairs.where(jac >= _JACCARD_TAU).select("doc_a", "doc_b")
    deg = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    scored = (
        parallel_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.expr("(n_chars * 1000) div size(split(text, ' '))").alias(
                "score"
            ),
        )
        .join(deg, "doc_id", "left")
        .select("score", F.coalesce("deg", F.lit(0)).alias("deg"))
    )
    band = (
        F.when(F.col("deg") == 0, "0")
        .when(F.col("deg") == 1, "1")
        .when(F.col("deg") <= 4, "2-4")
        .otherwise("5+")
    )
    wall = Window.partitionBy()
    return (
        scored.groupBy(band.alias("dup_band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.expr("CAST(sum(score) div count(1) AS BIGINT)").alias(
                "mean_score_milli"
            ),
        )
        .withColumn(
            "share_ppm",
            F.expr("1000000 * n_docs").cast("bigint")
            / F.sum("n_docs").over(wall),
        )
        .select(
            "dup_band",
            "n_docs",
            "mean_score_milli",
            F.floor("share_ppm").cast("bigint").alias("share_ppm"),
        )
        .orderBy("dup_band")
    )


# --- C158: epoch / repetition schedule under a token budget ---------------------

_EPOCH_BUDGET_DIV = 2  # train on budget = total corpus tokens / 2
_EPOCH_CAP_PPM = 4_000_000  # the ~4-epoch repetition ceiling


@query(
    "q_llm_epoch_schedule",
    oracle=f"""
    WITH avail AS (
        SELECT source,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail
        FROM documents WHERE source IS NOT NULL
        GROUP BY source
    ),
    tot AS (
        SELECT CAST(sum(avail) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS n_sources
        FROM avail
    ),
    planned AS (
        SELECT source, avail,
               (t.total // {_EPOCH_BUDGET_DIV}) // t.n_sources AS target
        FROM avail CROSS JOIN tot t
    )
    SELECT source, avail, CAST(target AS BIGINT) AS target,
           CAST((1000000 * target) // avail AS BIGINT) AS epochs_ppm,
           CAST((1000000 * target) // avail > {_EPOCH_CAP_PPM} AS INTEGER)
               AS capped,
           CAST(least(target, ({_EPOCH_CAP_PPM} // 1000000) * avail)
                AS BIGINT) AS tokens_used
    FROM planned ORDER BY source
    """,
)
def q_llm_epoch_schedule(spark, sf_dir):
    """C158: repetition schedule under a token budget — given a training
    budget (corpus/{_EPOCH_BUDGET_DIV} here) spread uniformly over
    sources, how many EPOCHS of each source that demands, which sources
    saturate the ~4-epoch repetition ceiling (past which repeated tokens
    stop helping — the Muennighoff data-constrained scaling result), and
    the tokens actually usable after the cap. This is the planning table
    between C30's mixture weights and a training run: a weight the
    source's inventory cannot supply at <4 epochs is a silent
    quality regression, and this query is where it stops being silent.
    Everything is exact BIGINT arithmetic (floor divisions ordered to
    keep intermediates integral); one token-count aggregate per source
    (map-side combined scan-stage split), a single-row total broadcast
    back. |sources| output rows at any SF."""
    avail = (
        parallel_table(spark, sf_dir, "documents")
        .where(F.col("source").isNotNull())
        .groupBy("source")
        .agg(
            F.sum(F.size(F.split("text", " ")))
            .cast("bigint")
            .alias("avail")
        )
    )
    tot = avail.agg(
        F.sum("avail").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
    )
    cap_epochs = _EPOCH_CAP_PPM // 1_000_000
    return (
        avail.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "avail",
            F.expr(f"(total div {_EPOCH_BUDGET_DIV}) div n_sources")
            .cast("bigint")
            .alias("target"),
        )
        .select(
            "source",
            "avail",
            "target",
            F.expr("(1000000 * target) div avail")
            .cast("bigint")
            .alias("epochs_ppm"),
            (F.expr("(1000000 * target) div avail") > _EPOCH_CAP_PPM)
            .cast("int")
            .alias("capped"),
            F.least(F.col("target"), cap_epochs * F.col("avail"))
            .cast("bigint")
            .alias("tokens_used"),
        )
        .orderBy("source")
    )
