"""Corpus-curation operator bundle (SURVEY.md §2 rows C25–C28, round-2
widening): deterministic sampling, edit-distance near-dup, inverted index,
collocation mining.

These extend the Tier C training-data pipeline with the remaining curation
stages a 100 TB corpus run needs between dedup and tokenization. All four
are SQL-oracled (the blocking strategies are exact, not approximate).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import parallel_table, table

# md5-prefix sampling: substr(md5(text),1,2) < '1a' keeps 26/256 ~ 10.2%.
_SAMPLE_BOUND = "1a"

_EDIT_BLOCK_CHARS = 16  # block key: same lang + same leading 16 chars
_EDIT_PREFIX = 80  # distance computed over the first 80 chars
_EDIT_MAX_DIST = 20
_EDIT_MAX_LEN_DIFF = 40

_IDX_MIN_DF = 5
_IDX_POSTING_CAP = 20

_BIGRAM_TOP_K = 20


@query(
    "q_llm_sample_hash",
    oracle=f"""
    SELECT lang,
           count(*) AS n_total,
           count(*) FILTER (WHERE substr(md5(text), 1, 2) < '{_SAMPLE_BOUND}')
               AS n_sampled,
           CAST((1000000 * count(*) FILTER (
               WHERE substr(md5(text), 1, 2) < '{_SAMPLE_BOUND}')) // count(*)
               AS BIGINT) AS sample_ppm
    FROM documents
    GROUP BY lang
    """,
)
def q_llm_sample_hash(spark, sf_dir):
    """C25: deterministic content-hash sampling — the reproducible-subset
    primitive (eval splits, ablation corpora). Membership is a pure
    function of the text (first md5 byte < 0x1a keeps ~10.2%), so the same
    document samples identically on any cluster, any partitioning, any
    engine — unlike ``df.sample`` whose output depends on partition layout.
    Zero shuffle beyond the per-lang count rollup; at 100 TB the hash rides
    the scan stage. The sample rate is reported in integer parts-per-million
    ((1e6·sampled) div total): ratio outputs stay in the integer domain so
    no engine's float rounding or pandas dtype widening can perturb them
    (the round-2 driver lesson)."""
    d = table(spark, sf_dir, "documents")
    in_sample = F.substring(F.md5(F.encode("text", "UTF-8")), 1, 2) < _SAMPLE_BOUND
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(in_sample, 1)).alias("n_sampled"),
        F.expr(
            "CAST((1000000 * count(CASE WHEN substring(md5(encode(text, "
            f"'UTF-8')), 1, 2) < '{_SAMPLE_BOUND}' THEN 1 END)) div "
            "count(1) AS BIGINT)"
        ).alias("sample_ppm"),
    )


@query(
    "q_llm_dedup_editdist",
    oracle=f"""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(substr(a.text, 1, {_EDIT_PREFIX}),
                       substr(b.text, 1, {_EDIT_PREFIX})) AS dist
    FROM documents a JOIN documents b
      ON a.lang = b.lang
     AND substr(a.text, 1, {_EDIT_BLOCK_CHARS}) = substr(b.text, 1, {_EDIT_BLOCK_CHARS})
     AND a.doc_id < b.doc_id
    WHERE abs(a.n_chars - b.n_chars) <= {_EDIT_MAX_LEN_DIFF}
      AND levenshtein(substr(a.text, 1, {_EDIT_PREFIX}),
                      substr(b.text, 1, {_EDIT_PREFIX})) <= {_EDIT_MAX_DIST}
    """,
)
def q_llm_dedup_editdist(spark, sf_dir):
    """C26: edit-distance near-dup — catches single-character edits that
    set-based Jaccard (C2/C14) underweights on short texts. Candidate
    generation is PREFIX BLOCKING (equi-join on lang + leading
    {_EDIT_BLOCK_CHARS} chars): template near-dups share openings, so the
    O(len²) Levenshtein runs on 210 blocked pairs at sf0.1, not 12.5M
    all-pairs — and the join is a plain shuffled equi-join, no theta scan.
    The length filter is a cheap pre-verify prune (|len diff| bounds edit
    distance from below). At 100 TB: block key cardinality grows with the
    corpus, so bucket occupancy — hence candidate volume — stays flat."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        F.substring("text", 1, _EDIT_BLOCK_CHARS).alias("blk"),
        F.substring("text", 1, _EDIT_PREFIX).alias("pfx"),
    )
    a = d.alias("a")
    b = d.alias("b")
    dist = F.levenshtein(F.col("a.pfx"), F.col("b.pfx"))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(
            (
                F.abs(F.col("a.n_chars") - F.col("b.n_chars"))
                <= _EDIT_MAX_LEN_DIFF
            )
            & (dist <= _EDIT_MAX_DIST)
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.alias("dist"),
        )
    )


@query(
    "q_llm_inverted_index",
    oracle=f"""
    SELECT token,
           count(DISTINCT doc_id) AS df,
           array_to_string(list(DISTINCT doc_id ORDER BY doc_id)
                           [1:{_IDX_POSTING_CAP}], ',') AS postings
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents)
    GROUP BY token
    HAVING count(DISTINCT doc_id) >= {_IDX_MIN_DF}
    """,
)
def q_llm_inverted_index(spark, sf_dir):
    """C27: inverted index build — token → document-frequency + capped,
    sorted posting list (the retrieval/decontamination lookup structure).
    One explode + one groupBy; posting lists are SORTED then CAPPED to
    {_IDX_POSTING_CAP} ids and rendered as a comma string (cross-engine
    array formatting, same convention as B32). At 100 TB: partition by
    token hash; the cap bounds per-token state so stopword-like tokens
    can't blow a partition (store full postings blocked per shard in a real
    index; the capped head is the index *preview* shape)."""
    toks = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    )
    return (
        toks.groupBy("token")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.array_join(
                F.slice(
                    F.sort_array(F.collect_set("doc_id")),
                    1,
                    _IDX_POSTING_CAP,
                ).cast("array<string>"),
                ",",
            ).alias("postings"),
        )
        .where(F.col("df") >= _IDX_MIN_DF)
    )


@query(
    "q_llm_bigram_topk",
    oracle=f"""
    WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
    bg AS (
        SELECT unnest(list_transform(range(1, len(w)),
                                     i -> w[i] || ' ' || w[i + 1])) AS bigram
        FROM w WHERE len(w) >= 2
    )
    SELECT bigram, cnt, rn FROM (
        SELECT bigram, count(*) AS cnt,
               row_number() OVER (ORDER BY count(*) DESC, bigram) AS rn
        FROM bg GROUP BY bigram
    ) WHERE rn <= {_BIGRAM_TOP_K}
    """,
)
def q_llm_bigram_topk(spark, sf_dir):
    """C28: collocation mining — global top-{_BIGRAM_TOP_K} word bigrams
    (the n-gram LM / tokenizer-merge-candidate statistic). Bigrams are
    generated partition-local from the split array (no self-join), counted
    with map-side combine, and the final top-k is orderBy().limit(K) —
    TakeOrderedAndProject keeps a K-row heap per partition and merges K
    rows on the driver, so the vocab-scale bigram counts frame (10^9+ rows
    at 100 TB) never funnels into a single-partition sort; the rank column
    is a window over only the <=K survivors, lexicographically tiebroken
    for a deterministic total order."""
    d = table(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("w")
    )
    bigrams = (
        d.where(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), "
                    "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
                )
            ).alias("bigram")
        )
    )
    counts = bigrams.groupBy("bigram").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.col("cnt").desc(), F.col("bigram")).limit(
        _BIGRAM_TOP_K
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("bigram"))
    return top.select("bigram", "cnt", F.row_number().over(w).alias("rn"))


# --- C80: PMI-style collocation lift ------------------------------------------

_PMI_TOP_K = 20


@query(
    "q_llm_pmi_bigrams",
    oracle=f"""
    WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
    uni AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS c FROM (
            SELECT unnest(w) AS tok FROM w
        ) GROUP BY tok
    ),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS n_tok FROM uni),
    bg AS (
        SELECT unnest(list_transform(range(1, len(w)),
                                     i -> w[i] || ' ' || w[i + 1])) AS bigram
        FROM w WHERE len(w) >= 2
    ),
    top AS (
        SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
        FROM bg GROUP BY bigram
        ORDER BY cnt DESC, bigram LIMIT {_PMI_TOP_K}
    )
    SELECT t.bigram, t.cnt, x.c AS c_left, y.c AS c_right,
           CAST((1000000 * t.cnt) //
                greatest(1, (x.c * y.c) // n.n_tok) AS BIGINT) AS lift_ppm
    FROM top t
    JOIN uni x ON x.tok = string_split(t.bigram, ' ')[1]
    JOIN uni y ON y.tok = string_split(t.bigram, ' ')[2]
    CROSS JOIN n
    """,
)
def q_llm_pmi_bigrams(spark, sf_dir):
    """C80: collocation strength for the top-{_PMI_TOP_K} bigrams — the
    observed/expected lift behind PMI, in EXACT integer ppm: expected
    co-occurrence under unigram independence is floor(c_x*c_y / N) and
    lift_ppm = floor(1e6*c_xy / max(1, expected)) — no log, no float, so
    the ranking can never drift across engines (report log(lift) offline
    if PMI units are wanted). High lift = genuine collocation (merge
    candidate / phrase); lift near 1e6 = independence (a top bigram that
    is merely two frequent words). Domain: exact while c_x*c_y fits
    BIGINT (~3e9 occurrences of a single type — beyond any real vocab's
    head at 100 TB after C37 heavy-hitter capping). Plan: unigram and
    bigram counts are map-side-combined scan rollups; the top-k is
    TakeOrderedAndProject; the two unigram lookups join the {_PMI_TOP_K}-row
    frame BROADCAST against the vocab-scale counts, and the 1-row total
    rides a crossJoin broadcast."""
    d = table(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("w")
    )
    uni = (
        d.select(F.explode("w").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = uni.agg(F.sum("c").cast("bigint").alias("n_tok"))
    bigrams = d.where(F.size("w") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1), "
                "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
            )
        ).alias("bigram")
    )
    top = (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("bigram"))
        .limit(_PMI_TOP_K)
        .withColumn("tok_l", F.expr("split(bigram, ' ')[0]"))
        .withColumn("tok_r", F.expr("split(bigram, ' ')[1]"))
    )
    x = uni.select(F.col("tok").alias("tok_l"), F.col("c").alias("c_left"))
    y = uni.select(F.col("tok").alias("tok_r"), F.col("c").alias("c_right"))
    # broadcast the tiny top-k side: the vocab-scale unigram frame streams
    # past it without shuffling on the token key
    joined = (
        x.join(F.broadcast(top), "tok_l")
        .join(F.broadcast(y.join(F.broadcast(top.select("tok_r").distinct()), "tok_r")), "tok_r")
        .crossJoin(F.broadcast(n))
    )
    return joined.select(
        "bigram",
        "cnt",
        "c_left",
        "c_right",
        F.expr(
            "CAST((1000000 * cnt) div "
            "greatest(1, (c_left * c_right) div n_tok) AS BIGINT)"
        ).alias("lift_ppm"),
    )


_PACK_TOKENS = 2048

# Shared whitespace-token-count expression, used by C29/C30/C31/C34.
# NULL-safe (coalesce) and identical by construction across engines:
# Spark size(split(...)) and DuckDB len(string_split(...)) agree on
# empty strings (1), NULL→'' (1), repeated (3 for 'a  b') and leading
# separators (verified in tests/test_driver_canon.py).
_NTOK_SPARK = "size(split(coalesce(text, ''), ' '))"
_NTOK_DUCK = "len(string_split(coalesce(text, ''), ' '))"


@query(
    "q_llm_pack",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang, {_NTOK_DUCK} AS n_tok
        FROM documents
    ),
    p AS (
        SELECT lang,
               CAST(floor((sum(n_tok) OVER (
                   PARTITION BY lang ORDER BY doc_id, lang
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_tok) / {_PACK_TOKENS}) AS BIGINT) AS pack_id,
               n_tok
        FROM d
    )
    SELECT lang, pack_id, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS sum_tokens
    FROM p GROUP BY lang, pack_id
    """,
)
def q_llm_pack(spark, sf_dir):
    """C29: sequence packing — assign docs to ~{_PACK_TOKENS}-token training
    packs per language. pack_id = floor(exclusive-prefix-sum / target) over
    a DETERMINISTIC order (doc_id), so the packing is reproducible on any
    cluster. One window over the (lang-partitioned) doc-length frame + one
    rollup; the text column never leaves the scan stage (only lengths
    shuffle). At 100 TB: the window partitions by lang — for a single
    dominant lang, sub-partition by (lang, doc_id range bucket) and offset
    pack ids by bucket base, keeping the prefix sum partition-local."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.expr(_NTOK_SPARK).alias("n_tok")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id", "lang")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = d.select(
        "lang",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / _PACK_TOKENS)
        .cast("bigint")
        .alias("pack_id"),
        "n_tok",
    )
    return p.groupBy("lang", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("sum_tokens"),
    )


@query(
    "q_llm_mixture",
    oracle=f"""
    WITH ps AS (
        SELECT source, CAST(sum({_NTOK_DUCK}) AS BIGINT) AS sum_tok
        FROM documents GROUP BY source
    ),
    t AS (SELECT CAST(sum(sum_tok) AS BIGINT) AS total, count(*) AS s FROM ps)
    SELECT source, sum_tok,
           CAST((1000000 * sum_tok) // total AS BIGINT) AS share_ppm,
           CAST((1000000 * total) // (s * sum_tok) AS BIGINT) AS weight_ppm
    FROM ps, t
    """,
)
def q_llm_mixture(spark, sf_dir):
    """C30: domain-mixture weights — per-source token share and the
    sampling weight that re-balances the corpus to a uniform target mix
    (weight = target_share / actual_share). The per-source rollup is one
    map-side-combined aggregate; totals ride back as a 1-row broadcast.
    Shares and weights are integer parts-per-million ((1e6·a) div b):
    the whole operator stays in exact integer arithmetic so no engine
    float rounding or pandas dtype widening can perturb the output."""
    ps = (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.expr(f"sum({_NTOK_SPARK})").cast("bigint").alias("sum_tok"))
    )
    t = ps.agg(
        F.sum("sum_tok").cast("bigint").alias("total"),
        F.count(F.lit(1)).alias("s"),
    )
    return ps.join(F.broadcast(t)).select(
        "source",
        "sum_tok",
        F.expr("CAST((1000000 * sum_tok) div total AS BIGINT)").alias(
            "share_ppm"
        ),
        F.expr(
            "CAST((1000000 * total) div (s * sum_tok) AS BIGINT)"
        ).alias("weight_ppm"),
    )


@query(
    "q_llm_repetition",
    oracle="""
    WITH tc AS (
        SELECT doc_id, token, count(*) AS c
        FROM (SELECT doc_id,
                     unnest(string_split(coalesce(text, ''), ' ')) AS token
              FROM documents)
        GROUP BY doc_id, token
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tok,
           count(*) AS n_distinct,
           CAST((1000000 * count(*)) // sum(c) AS BIGINT) AS distinct_ppm,
           max(c) AS max_tok_cnt,
           (10 * count(*) < 6 * sum(c) OR 10 * max(c) > sum(c))
               AS repetitive
    FROM tc GROUP BY doc_id
    """,
)
def q_llm_repetition(spark, sf_dir):
    """C31: repetition scoring (Gopher-style repetitive-text signal):
    distinct-token ratio + max single-token share per doc, with a keep/drop
    verdict. Two-level aggregate over the exploded token frame — both
    levels partial-aggregate map-side, and only (doc_id, token, count)
    triples shuffle, never text. The fixture has no newlines, so the
    line-dup variant is expressed on tokens (same plan shape). The
    distinct-token ratio is integer parts-per-million and the keep/drop
    thresholds are cross-multiplied integer comparisons (10·distinct <
    6·total ⇔ ratio < 0.6) — exact on every engine, no float fold."""
    tc = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(F.split(F.coalesce("text", F.lit("")), " ")).alias(
                "token"
            ),
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return tc.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tok"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.expr(
            "CAST((1000000 * count(1)) div sum(c) AS BIGINT)"
        ).alias("distinct_ppm"),
        F.max("c").alias("max_tok_cnt"),
        (
            (10 * F.count(F.lit(1)) < 6 * F.sum("c"))
            | (10 * F.max("c") > F.sum("c"))
        ).alias("repetitive"),
    )


_PROJ_DIMS = 8
_EMB_DIM = 64


def _proj_weight_sql(j: int) -> str:
    # Deterministic pseudo-random integer weight grid in {-6, ..., +6}.
    return f"(((i * 31 + {j} * 17) % 13) - 6)"


@query(
    "q_llm_random_proj",
    oracle=f"""
    SELECT vec_id,
           {", ".join(
               f"CAST(list_sum(list_transform(range(0, {_EMB_DIM}), "
               f"i -> CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 64.0) AS BIGINT)"
               f" * {_proj_weight_sql(j)})) AS BIGINT) AS p{j}"
               for j in range(_PROJ_DIMS)
           )}
    FROM embeddings
    """,
)
def q_llm_random_proj(spark, sf_dir):
    """C32: QUANTIZED random projection {_EMB_DIM}d → {_PROJ_DIMS}d
    (Johnson–Lindenstrauss-style cheap dimensionality reduction before
    clustering/ANN). Elements are quantized to integers (floor(e·64), the
    C24 int8 grid) and the projection matrix is a deterministic integer
    hash grid computed INLINE — so the whole operator is exact integer
    arithmetic: bit-reproducible across engines/partitionings (a float
    fold differs in the last ulp between engines and flips round-half
    boundaries — measured), and at 100 TB it runs directly on C24's
    int8-quantized vectors with no dequantization pass. No matrix table,
    no join, no shuffle: one scan-stage higher-order fold."""
    e = table(spark, sf_dir, "embeddings")
    cols = [F.col("vec_id")] + [
        F.expr(
            f"CAST(aggregate(sequence(0, {_EMB_DIM - 1}), CAST(0 AS BIGINT), "
            f"(acc, i) -> acc + "
            f"CAST(floor(CAST(element_at(embedding, i + 1) AS DOUBLE) * 64.0) "
            f"AS BIGINT) * {_proj_weight_sql(j)}) AS BIGINT)"
        ).alias(f"p{j}")
        for j in range(_PROJ_DIMS)
    ]
    return e.select(*cols)


_KMEANS_K = 16

_Q_VEC_SQL_DUCK = (
    "list_transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE) * 64.0) AS BIGINT))"
)
_Q_VEC_SQL_SPARK = (
    "transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE) * 64.0) AS BIGINT))"
)


@query(
    "q_llm_kmeans",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, {_Q_VEC_SQL_DUCK} AS qv FROM embeddings
    ),
    seeds AS (SELECT vec_id AS seed_id, qv AS sv FROM q WHERE vec_id < {_KMEANS_K}),
    dists AS (
        SELECT q.vec_id, s.seed_id,
               list_sum(list_transform(range(1, 65),
                   i -> (qv[i] - sv[i]) * (qv[i] - sv[i]))) AS dist
        FROM q CROSS JOIN seeds s
    ),
    assign AS (
        SELECT vec_id, seed_id, dist,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, seed_id) AS rn
        FROM dists
    )
    SELECT seed_id AS cell_id, count(*) AS n_vecs,
           CAST(sum(dist) AS BIGINT) AS inertia,
           CAST(sum(dist) // count(*) AS BIGINT) AS avg_dist_floor
    FROM assign WHERE rn = 1
    GROUP BY seed_id
    """,
)
def q_llm_kmeans(spark, sf_dir):
    """C33: one exact k-means assignment step (Lloyd E-step) on the C24
    int8-quantized grid — k={_KMEANS_K} deterministic seeds (the first
    {_KMEANS_K} vec_ids), squared-L2 in PURE INTEGER arithmetic so the
    argmin can never flip on a float ulp across engines or partitionings.
    The seed table broadcasts ({_KMEANS_K} rows); distance evaluation is a
    scan-stage fold over the crossJoin (n×{_KMEANS_K} rows, partition-
    local); the per-vector argmin is a window over {_KMEANS_K}-row groups.
    At 100 TB this is exactly the IVF/k-means assignment pass: broadcast
    centroids, one scan, no vector shuffle — the M-step (centroid
    recompute) is one further groupBy(cell) over integer sums."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_Q_VEC_SQL_SPARK).alias("qv")
    )
    seeds = e.where(F.col("vec_id") < _KMEANS_K).select(
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
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy(F.col("seed_id").alias("cell_id"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("dist").cast("bigint").alias("inertia"),
            F.expr("CAST(sum(dist) div count(1) AS BIGINT)").alias(
                "avg_dist_floor"
            ),
        )
    )


_E2E_MIN_TOK = 20
_E2E_MIN_RATIO = 0.3


@query(
    "q_llm_curate_e2e",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               {_NTOK_DUCK} AS n_tok,
               len(list_distinct(string_split(coalesce(text, ''), ' ')))
                   AS n_distinct
        FROM documents
    ),
    kept AS (
        SELECT * FROM scored
        WHERE n_tok >= {_E2E_MIN_TOK}
          AND 10 * n_distinct >= {int(_E2E_MIN_RATIO * 10)} * n_tok
    ),
    packed AS (
        SELECT lang, n_tok, n_distinct,
               CAST(floor((sum(n_tok) OVER (
                   PARTITION BY lang ORDER BY doc_id, lang
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_tok) / {_PACK_TOKENS}) AS BIGINT) AS pack_id
        FROM kept
    )
    SELECT lang, pack_id, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
           CAST((1000000 * sum(n_distinct)) // sum(n_tok) AS BIGINT)
               AS pooled_distinct_ppm
    FROM packed GROUP BY lang, pack_id
    """,
)
def q_llm_curate_e2e(spark, sf_dir):
    """C34: the curation pipeline END-TO-END as one composed query —
    quality scoring (C17/C31 signals) → filter → deterministic packing
    (C29) → per-pack stats. This is the shape a real corpus build runs: one
    declarative chain, so Catalyst fuses scoring+filtering into the scan
    stage (the dropped 10% of docs never reach the window), the only
    shuffle before the rollup is the lang-partitioned prefix-sum window,
    and text never leaves the scan. The per-pack quality stat is a POOLED
    ratio (sum/sum of integer counts, one division) — engine-deterministic
    where a mean-of-ratios float fold is not. At 100 TB: identical plan,
    with the C25 hash-sampling predicate slotted into the same scan when a
    subsample is wanted."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.expr(_NTOK_SPARK).alias("n_tok"),
        F.size(
            F.array_distinct(F.split(F.coalesce("text", F.lit("")), " "))
        ).alias("n_distinct"),
    )
    kept = d.where(
        (F.col("n_tok") >= _E2E_MIN_TOK)
        & (
            10 * F.col("n_distinct")
            >= int(_E2E_MIN_RATIO * 10) * F.col("n_tok")
        )
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id", "lang")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = kept.select(
        "lang",
        "n_tok",
        "n_distinct",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / _PACK_TOKENS)
        .cast("bigint")
        .alias("pack_id"),
    )
    return packed.groupBy("lang", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("sum_tokens"),
        F.expr(
            "CAST((1000000 * sum(n_distinct)) div sum(n_tok) AS BIGINT)"
        ).alias("pooled_distinct_ppm"),
    )


_COV_POOL = 30
_COV_STEPS = 5


def _coverage_oracle() -> str:
    steps = []
    for k in range(2, _COV_STEPS + 1):
        prev = ", ".join(f"s{j}" for j in range(1, k))
        sel = " UNION ALL ".join(
            f"SELECT doc_id FROM s{j}" for j in range(1, k)
        )
        cov_terms = " , ".join(
            f"(SELECT ts FROM pool WHERE doc_id = (SELECT doc_id FROM s{j}))"
            for j in range(1, k)
        )
        steps.append(f"""
    cov{k} AS (
        SELECT list_distinct(flatten([{cov_terms}])) AS cov
    ),
    s{k} AS (
        SELECT p.doc_id,
               CAST(len(list_filter(p.ts,
                    x -> NOT list_contains(c.cov, x))) AS BIGINT) AS gain,
               CAST({k} AS BIGINT) AS step
        FROM pool p CROSS JOIN cov{k} c
        WHERE p.doc_id NOT IN ({sel})
        ORDER BY gain DESC, p.doc_id LIMIT 1
    )""")
    union = " UNION ALL ".join(
        f"SELECT step, doc_id, gain FROM s{j}"
        for j in range(1, _COV_STEPS + 1)
    )
    return f"""
    WITH z AS (
        SELECT doc_id,
               list_distinct(string_split(coalesce(text, ''), ' ')) AS ts
        FROM documents
    ),
    pool AS (
        SELECT doc_id, ts FROM z
        ORDER BY len(ts) DESC, doc_id LIMIT {_COV_POOL}
    ),
    s1 AS (
        SELECT doc_id, CAST(len(ts) AS BIGINT) AS gain,
               CAST(1 AS BIGINT) AS step
        FROM pool ORDER BY len(ts) DESC, doc_id LIMIT 1
    ),{",".join(steps)}
    {union}
    """


@query("q_llm_submodular_coverage", oracle=_coverage_oracle())
def q_llm_submodular_coverage(spark, sf_dir):
    """C94: greedy submodular max-coverage selection — pick {_COV_STEPS}
    documents from the {_COV_POOL}-doc candidate pool (largest distinct-
    token sets) so each pick maximizes NEWLY-covered tokens given what is
    already covered: the facility-location/coverage objective behind
    coverage-based data selection (choose the subset that spans the most
    vocabulary/phenomena per token budget — a different selection
    principle from C87's relevance-diversity and C58's quotas). The
    greedy algorithm is the canonical (1−1/e)-approximation for monotone
    submodular objectives (Nemhauser et al., 1978).

    Exactness: marginal gains are integer set-difference sizes
    (array_except on distinct-token arrays) with (gain desc, doc_id)
    tie-breaks — greedy chains cannot tolerate drift (the C87 rule).
    Plan: the pool is a corpus-scale TakeOrdered (scan-stage token-set
    fold, {_COV_POOL}-row result, localCheckpointed); each of the
    {_COV_STEPS} rounds is constant-size (pool × 1-row covered-set
    broadcast). At 100 TB only the pool selection touches the corpus —
    the loop cost is independent of corpus size; a lazier-greedy /
    distributed-greedy (one pass per machine, merge) swaps in above
    pool sizes that no longer fit one task."""
    z = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_distinct(
            F.split(F.coalesce(F.col("text"), F.lit("")), " ")
        ).alias("ts"),
    )
    pool = (
        z.withColumn("sz", F.size("ts"))
        .orderBy(F.col("sz").desc(), "doc_id")
        .limit(_COV_POOL)
        .localCheckpoint(eager=True)
    )
    s1 = (
        pool.orderBy(F.col("sz").desc(), "doc_id")
        .limit(1)
        .select(
            F.lit(1).cast("bigint").alias("step"),
            "doc_id",
            F.col("sz").cast("bigint").alias("gain"),
        )
    )
    steps = [s1]
    selected = s1.select("doc_id")
    covered = (
        pool.join(s1.select("doc_id"), "doc_id")
        .select(F.col("ts").alias("cov"))
        .localCheckpoint(eager=True)
    )
    for k in range(2, _COV_STEPS + 1):
        rem = pool.join(selected, "doc_id", "left_anti")
        gain = F.size(F.array_except("ts", "cov")).cast("bigint")
        sk = (
            rem.crossJoin(F.broadcast(covered))
            .select("doc_id", "ts", gain.alias("gain"))
            .orderBy(F.col("gain").desc(), "doc_id")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        covered = (
            sk.crossJoin(F.broadcast(covered))
            .select(
                F.array_distinct(F.concat("cov", "ts")).alias("cov")
            )
            .localCheckpoint(eager=True)
        )
        steps.append(
            sk.select(
                F.lit(k).cast("bigint").alias("step"), "doc_id", "gain"
            )
        )
        selected = selected.unionByName(sk.select("doc_id"))
    out = steps[0]
    for sdf in steps[1:]:
        out = out.unionByName(sdf)
    return out


# --- C102: context-length padding-waste audit ---------------------------------

_PAD_CTX_SIZES = (128, 512, 2048)


@query(
    "q_llm_pad_waste",
    oracle=f"""
    WITH d AS (
        SELECT lang, {_NTOK_DUCK} AS ntok FROM documents
    ),
    x AS (
        SELECT lang, ntok, c.ctx,
               ((ntok + c.ctx - 1) // c.ctx) * c.ctx AS padded
        FROM d, (SELECT unnest([{", ".join(str(c) for c in _PAD_CTX_SIZES)}])
                 AS ctx) c
    )
    SELECT lang, CAST(ctx AS BIGINT) AS ctx,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ntok) AS BIGINT) AS total_tok,
           CAST(sum(padded - ntok) AS BIGINT) AS waste_tok,
           CAST((1000000 * sum(padded - ntok)) // sum(padded) AS BIGINT)
               AS waste_ppm
    FROM x GROUP BY 1, 2
    """,
)
def q_llm_pad_waste(spark, sf_dir):
    """C102: context-window padding-waste audit — for each candidate
    context length, the token share burned on pad if every document is
    padded to a context multiple (the no-packing baseline). Read next to
    C29's packing output, this is the number that justifies (or kills) a
    packing stage: waste_ppm at ctx=2048 on a short-doc corpus routinely
    exceeds 50% — i.e. half the training FLOPs on pad tokens — while
    ctx=128 under-utilizes attention. Per (lang, ctx): docs, real tokens,
    pad tokens, floor-ppm waste share; all exact integers
    (padded = ceil-div·ctx as ((n+c-1) div c)·c — no float ceil).

    Plan: token counts are a scan-stage expression; the ctx expansion is a
    {len(_PAD_CTX_SIZES)}-element literal explode (constant fan-out); one
    (lang, ctx) rollup with map-side partial sums — bounded output,
    single corpus-scale pass at any SF."""
    ctx_arr = F.array(*[F.lit(c) for c in _PAD_CTX_SIZES])
    d = table(spark, sf_dir, "documents").select(
        "lang", F.expr(_NTOK_SPARK).cast("bigint").alias("ntok")
    )
    x = d.select("lang", "ntok", F.explode(ctx_arr).alias("ctx")).withColumn(
        # integer ceil-div — a double quotient is exact at fixture
        # magnitudes but div keeps it exact at ANY ntok
        "padded",
        F.expr("((ntok + ctx - 1) div ctx) * ctx"),
    )
    return x.groupBy("lang", F.col("ctx").cast("bigint").alias("ctx")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").cast("bigint").alias("total_tok"),
        F.sum(F.col("padded") - F.col("ntok")).cast("bigint").alias(
            "waste_tok"
        ),
        F.expr(
            "CAST((1000000 * sum(padded - ntok)) div sum(padded) AS BIGINT)"
        ).alias("waste_ppm"),
    )


# --- C109: token-budget allocation by water-filling ---------------------------

_BUDGET_EPOCH_CAP = 4  # no source repeats more than 4 epochs
_BUDGET_DENOM = 2  # train budget = half the corpus token count


@query(
    "q_llm_token_budget",
    oracle=f"""
    WITH f AS (
        SELECT source,
               len(string_split(coalesce(text, ''), ' ')) AS n_tok,
               len(list_filter(string_split(coalesce(text, ''), ' '),
                   t -> t IN ('a', 'the'))) AS n_stop
        FROM documents
    ),
    s AS (
        SELECT source,
               CAST(sum(n_tok) AS BIGINT) AS c,
               CAST(CASE WHEN len(source) <= 4 THEN sum(n_tok) // 4
                    ELSE {_BUDGET_EPOCH_CAP} * sum(n_tok) END AS BIGINT)
                   AS k,
               CAST(1 + (1000000 * sum(n_stop)) // sum(n_tok) AS BIGINT)
                   AS w
        FROM f GROUP BY source
    ),
    packed AS (
        SELECT list(struct_pack(src := source, c := c, k := k, w := w)
                    ORDER BY k * 1.0 / w, source) AS arr,
               CAST(count(*) AS BIGINT) AS ns,
               CAST(sum(c) // {_BUDGET_DENOM} AS BIGINT) AS b,
               CAST(sum(w) AS BIGINT) AS wt
        FROM s
    ),
    tstar AS (
        SELECT arr, ns, b, wt,
               coalesce(list_max(list_transform(range(1, ns + 1), p ->
                   CASE WHEN struct_extract(arr[p], 'k')
                             * (wt - list_sum(list_transform(range(1, p + 1),
                                 i -> struct_extract(arr[i], 'w'))))
                          <= (b - list_sum(list_transform(range(1, p + 1),
                                 i -> struct_extract(arr[i], 'k'))))
                             * struct_extract(arr[p], 'w')
                        THEN p ELSE 0 END)), 0) AS t
        FROM packed
    ),
    fin AS (
        SELECT arr, ns, b, wt, t,
               CASE WHEN t = 0 THEN 0
                    ELSE list_sum(list_transform(range(1, t + 1),
                        i -> struct_extract(arr[i], 'k'))) END AS kt,
               CASE WHEN t = 0 THEN 0
                    ELSE list_sum(list_transform(range(1, t + 1),
                        i -> struct_extract(arr[i], 'w'))) END AS wsat
        FROM tstar
    ),
    rows_ AS (
        SELECT unnest(range(1, ns + 1)) AS p, arr, b, wt, t, kt, wsat
        FROM fin
    )
    SELECT struct_extract(arr[p], 'src') AS source,
           struct_extract(arr[p], 'c') AS n_tokens,
           struct_extract(arr[p], 'k') AS cap,
           struct_extract(arr[p], 'w') AS weight,
           CAST(CASE WHEN p <= t THEN struct_extract(arr[p], 'k')
                ELSE ((b - kt) * struct_extract(arr[p], 'w'))
                     // (wt - wsat) END AS BIGINT) AS allocation,
           p <= t AS saturated
    FROM rows_
    """,
)
def q_llm_token_budget(spark, sf_dir):
    """C109: the mixture question every training run ends on — given a
    token budget B = corpus/{_BUDGET_DENOM}, a per-source repeat cap
    ({_BUDGET_EPOCH_CAP} epochs for fresh feeds; 1/4 epoch for the stale
    single-digit sources already consumed by a previous run — the cap is a
    POLICY input and deliberately non-uniform so the waterline actually
    binds), and a per-source quality weight, how many tokens does each
    source contribute? Solved by exact WATER-FILLING:
    allocation_s = min(cap_s, lambda * w_s) with lambda set so the
    allocations sum to B. Sources sorted by cap/weight; the saturated set
    is the longest prefix where cap_p * W_rest <= (B - K_p) * w_p — the
    cross-multiplied integer form, so the waterline is found with NO float
    comparison (the float ratio is used only as a sort key, a single
    per-row division). Unsaturated sources get floor((B - K_t) * w_s /
    W_rest); floor rounding leaves at most |sources| tokens of B unspent.

    Scale: the per-source rollup is the only corpus-scale stage; the
    solver runs on ONE packed row of |sources| structs via index-driven
    sequential folds (the C98 idiom — O(|sources|^2) integer ops on the
    driver-side-sized frame, no window, no iteration). At 100 TB express
    token counts in millions before the cross-multiplications so
    (B - K) * w stays inside BIGINT."""
    toks = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    f = table(spark, sf_dir, "documents").select(
        "source",
        F.size(toks).alias("n_tok"),
        F.size(F.filter(toks, lambda t: t.isin("a", "the"))).alias(
            "n_stop"
        ),
    )
    s = f.groupBy("source").agg(
        F.sum("n_tok").cast("bigint").alias("c"),
        F.expr(
            "CAST(CASE WHEN length(source) <= 4 THEN sum(n_tok) div 4 "
            f"ELSE {_BUDGET_EPOCH_CAP} * sum(n_tok) END AS BIGINT)"
        ).alias("k"),
        F.expr(
            "CAST(1 + (1000000 * sum(n_stop)) div sum(n_tok) AS BIGINT)"
        ).alias("w"),
    )
    packed = s.agg(
        F.expr(
            "array_sort(collect_list(struct("
            "k * 1.0 / w AS rd, source AS src, c, k, w)))"
        ).alias("arr"),
        F.count(F.lit(1)).alias("ns"),
        F.expr(
            f"CAST(sum(c) div {_BUDGET_DENOM} AS BIGINT)"
        ).alias("b"),
        F.sum("w").cast("bigint").alias("wt"),
    )
    tstar = packed.select(
        "arr",
        "ns",
        "b",
        "wt",
        F.expr(
            "coalesce(array_max(transform(sequence(1, CAST(ns AS INT)), "
            "p -> CASE WHEN element_at(arr, p).k * "
            "(wt - aggregate(sequence(1, p), CAST(0 AS BIGINT), "
            "(a, i) -> a + element_at(arr, i).w)) "
            "<= (b - aggregate(sequence(1, p), CAST(0 AS BIGINT), "
            "(a, i) -> a + element_at(arr, i).k)) * element_at(arr, p).w "
            "THEN p ELSE 0 END)), 0)"
        ).alias("t"),
    )
    fin = tstar.select(
        "arr",
        "ns",
        "b",
        "wt",
        "t",
        F.expr(
            "IF(t = 0, CAST(0 AS BIGINT), "
            "aggregate(sequence(1, CAST(t AS INT)), CAST(0 AS BIGINT), "
            "(a, i) -> a + element_at(arr, i).k))"
        ).alias("kt"),
        F.expr(
            "IF(t = 0, CAST(0 AS BIGINT), "
            "aggregate(sequence(1, CAST(t AS INT)), CAST(0 AS BIGINT), "
            "(a, i) -> a + element_at(arr, i).w))"
        ).alias("wsat"),
    )
    rows = fin.select(
        F.explode(F.expr("sequence(1, CAST(ns AS INT))")).alias("p"),
        "arr",
        "b",
        "wt",
        "t",
        "kt",
        "wsat",
    )
    return rows.select(
        F.expr("element_at(arr, p).src").alias("source"),
        F.expr("element_at(arr, p).c").alias("n_tokens"),
        F.expr("element_at(arr, p).k").alias("cap"),
        F.expr("element_at(arr, p).w").alias("weight"),
        F.expr(
            "CAST(IF(p <= t, element_at(arr, p).k, "
            "((b - kt) * element_at(arr, p).w) div (wt - wsat)) AS BIGINT)"
        ).alias("allocation"),
        (F.col("p") <= F.col("t")).alias("saturated"),
    )


# --- C115: quality-proportional rejection sampling ---------------------------


@query(
    "q_llm_rejection_sample",
    oracle="""
    WITH feat AS (
        SELECT doc_id, source,
               CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)
                   AS n_tok,
               CAST((1000000 * len(list_distinct(
                        string_split(coalesce(text, ''), ' '))))
                    // len(string_split(coalesce(text, ''), ' '))
                    AS BIGINT) AS q_ppm,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                   ::BIGINT % 1000000 AS u_ppm
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN u_ppm < q_ppm THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST((1000000 * sum(CASE WHEN u_ppm < q_ppm THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS accept_ppm,
           CAST(sum(CASE WHEN u_ppm < q_ppm THEN n_tok ELSE 0 END)
                AS BIGINT) AS kept_tokens
    FROM feat GROUP BY source
    """,
)
def q_llm_rejection_sample(spark, sf_dir):
    """C115: quality-PROPORTIONAL subsampling by deterministic rejection —
    each doc is kept with probability equal to its quality score (the C31
    distinct-token ppm), decided by comparing the score against a
    hash-derived uniform (60-bit md5 of the doc_id, mod 1e6 — the C25
    hash-gate idiom). The soft alternative to a hard quality threshold
    (C17-style cutoffs): low-quality docs are downsampled in proportion
    instead of cliff-dropped, which preserves distribution tails — the
    standard trick behind quality-weighted corpus mixes. Deterministic:
    the same doc makes the same decision on every engine, executor and
    re-run, so the sample is reproducible and the oracle can check it
    exactly. Per-source acceptance report + kept token mass.

    Scale: the keep decision is a scan-stage predicate on each row (two
    md5s, integer compare) — no shuffle until the |sources|-row rollup,
    which partial-aggregates map-side. Nothing but (source, BIGINTs)
    rides the exchange."""
    toks = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    q_ppm = F.expr(
        "CAST((1000000 * size(array_distinct(split(coalesce(text, ''), "
        "' ')))) div size(split(coalesce(text, ''), ' ')) AS BIGINT)"
    )
    u_ppm = F.expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) "
        "as bigint) % 1000000"
    )
    feat = parallel_table(spark, sf_dir, "documents").select(
        "source",
        F.size(toks).cast("bigint").alias("n_tok"),
        q_ppm.alias("q_ppm"),
        u_ppm.alias("u_ppm"),
    )
    kept = (F.col("u_ppm") < F.col("q_ppm")).cast("bigint")
    return feat.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(kept).cast("bigint").alias("n_kept"),
        F.expr(
            "CAST((1000000 * sum(CASE WHEN u_ppm < q_ppm THEN 1 ELSE 0 "
            "END)) div count(1) AS BIGINT)"
        ).alias("accept_ppm"),
        F.sum(F.when(kept == 1, F.col("n_tok")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("kept_tokens"),
    )


# --- C166: temperature-scaled mixture weights ----------------------------------

_TEMP_ALPHAS = (("w03", "0.3"), ("w07", "0.7"))
_TEMP_UQ = (
    "CAST(round(1000000000 * exp({a}"
    " * ln(CAST(toks AS DOUBLE) / CAST(total AS DOUBLE)))) AS BIGINT)"
)


@query(
    "q_llm_mixture_temperature",
    oracle=f"""
    WITH ps AS (
        SELECT source,
               CAST(sum(len(string_split(coalesce(text, ''), ' ')))
                    AS BIGINT) AS toks
        FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(toks) AS BIGINT) AS total FROM ps),
    uq AS (
        SELECT p.source, p.toks, t.total,
               {_TEMP_UQ.format(a="0.3")} AS u03,
               {_TEMP_UQ.format(a="0.7")} AS u07
        FROM ps p CROSS JOIN tot t
    ),
    den AS (
        SELECT CAST(sum(u03) AS BIGINT) AS s03,
               CAST(sum(u07) AS BIGINT) AS s07
        FROM uq
    )
    SELECT u.source, u.toks,
           CAST(1000000 * u.toks // u.total AS BIGINT) AS share_ppm,
           CAST(1000000 * u.u03 // d.s03 AS BIGINT) AS w03_ppm,
           CAST(1000000 * u.u07 // d.s07 AS BIGINT) AS w07_ppm
    FROM uq u CROSS JOIN den d
    """,
)
def q_llm_mixture_temperature(spark, sf_dir):
    """C166: temperature-scaled mixture weights — the multilingual/
    multi-domain sampling rule p_i^α / Σ p_j^α (α=0.3 the XLM-R/mT5
    default that lifts tail sources, α=0.7 the gentler variant; α=1
    is the raw share, α=0 uniform). C30's uniform-target weights are
    the α→0 limit; this operator releases the two standard points of
    the temperature family next to the exact raw share, per source in
    exact floor-ppm.

    Cross-engine float shape: p_i^α computes as exp(α·ln(toks/total))
    — ONE identical-text expression per source over exact BIGINTs
    whose only libm calls are the D14-pinned ln/exp pair; the result
    quantizes to nano-units per SOURCE, so the renormalizing sum and
    both ppm divisions are pure exact-integer arithmetic. Plan/scale:
    one map-side-combined source rollup, a 1-row total broadcast, a
    |sources|-row quantized frame, and a 1-row denominator broadcast —
    nothing after the first rollup scales with corpus size."""
    ps = (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.sum(
                F.size(F.split(F.coalesce("text", F.lit("")), " "))
            )
            .cast("bigint")
            .alias("toks")
        )
    )
    tot = ps.agg(F.sum("toks").cast("bigint").alias("total"))
    uq = ps.crossJoin(F.broadcast(tot)).select(
        "source",
        "toks",
        "total",
        F.expr(_TEMP_UQ.format(a="0.3")).alias("u03"),
        F.expr(_TEMP_UQ.format(a="0.7")).alias("u07"),
    )
    den = uq.agg(
        F.sum("u03").cast("bigint").alias("s03"),
        F.sum("u07").cast("bigint").alias("s07"),
    )
    return uq.crossJoin(F.broadcast(den)).select(
        "source",
        "toks",
        F.expr("CAST(1000000 * toks div total AS BIGINT)").alias(
            "share_ppm"
        ),
        F.expr("CAST(1000000 * u03 div s03 AS BIGINT)").alias("w03_ppm"),
        F.expr("CAST(1000000 * u07 div s07 AS BIGINT)").alias("w07_ppm"),
    )
