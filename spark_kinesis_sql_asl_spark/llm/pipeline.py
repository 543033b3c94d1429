"""Training-data-pipeline operators beyond SURVEY.md's original Tier C rows:
SimHash and n-gram/embedding near-dup variants, language-ID, quality scoring,
token counting, document fingerprinting, and IVF-style ANN (SURVEY.md §2 rows
C13–C20).

Design notes (100 TB posture):
- Everything hashes with md5 → hex → integer, the one hash both Spark and
  DuckDB compute identically, so every deterministic operator here is
  SQL-oracled; only IVF (data-dependent partitioning) is rows-only.
- All per-document features are single-pass scan expressions (codegen);
  pairwise operators go through banding/blocking (SimHash bands, prefix
  filter, label blocks, IVF cells) so candidate volume scales with real
  collisions, never n².
"""

from __future__ import annotations

import os

from pyspark.sql import Observation, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import get_or_build, parallel_table, table
from .curation import _NTOK_DUCK, _NTOK_SPARK
from .dedup import prefix_filtered_jaccard
from .iterative import parquet_barrier, scratch_dir
from .similarity import (
    _N_QUERIES,
    _TOPK,
    as_double,
    dot,
    hyperplane_bands,
    safe_cosine,
    sq_norm,
)

# --- C13: SimHash near-dup ---------------------------------------------------

_SIMHASH_BITS = 32
_SIMHASH_BANDS = 4  # 8-bit bands; candidates must agree on >=1 full band
_SIMHASH_MAX_HAMMING = 4

# 60-bit integer from the md5 hex prefix — identical in Spark and DuckDB.
_SPARK_TOKHASH = "cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint)"
_DUCK_TOKHASH = "('0x' || substr(md5(tok), 1, 15))::BIGINT"


# The SimHash pair pipeline as composable oracle SQL (CTE body) — reused by
# the clustering (C21), spectrum (C71), and precision (C75) oracles. The
# hamming-threshold clause is appended explicitly below (never derived by
# string surgery on the final query), so the thresholded and candidate
# variants share one body by construction.
_SIMHASH_PAIRS_BODY = f"""
    WITH toks AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    h AS (SELECT doc_id, lang, {_DUCK_TOKHASH} AS h FROM toks),
    bits AS (
        SELECT doc_id, lang,
               {", ".join(f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}" for b in range(_SIMHASH_BITS))}
        FROM h GROUP BY doc_id, lang
    ),
    sh AS (
        SELECT doc_id, lang,
               CAST({" + ".join(f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(_SIMHASH_BITS))} AS BIGINT) AS simhash
        FROM bits
    ),
    bands AS (
        SELECT doc_id, lang, simhash, unnest([0, 1, 2, 3]) AS band FROM sh
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS ha, b.simhash AS hb
        FROM bands a JOIN bands b
          ON a.lang = b.lang AND a.band = b.band
         AND ((a.simhash >> (a.band * 8)) & 255) = ((b.simhash >> (b.band * 8)) & 255)
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, bit_count(xor(ha, hb)) AS hamming
    FROM cand"""

# All band-collision candidates (C71's spectrum input) vs the thresholded
# near-dup pairs (C13/C21/C75).
_SIMHASH_PAIRS_CAND_SQL = _SIMHASH_PAIRS_BODY
_SIMHASH_PAIRS_SQL = (
    _SIMHASH_PAIRS_BODY
    + f"\n    WHERE bit_count(xor(ha, hb)) <= {_SIMHASH_MAX_HAMMING}\n"
)


def simhash_fingerprints(spark, sf_dir, checkpoint=True):
    """C13's scan-stage SimHash fingerprint table (doc_id, lang, simhash)
    — the single Spark-side definition shared by the dedup pass (C13),
    the hamming spectrum (C71), and the bucket audit (C72), so a
    fingerprint tweak can never desync the calibration audits from the
    pass they calibrate.

    Per-bit majority via allocation-free integer folds: aggregate() adds
    ((h >> b) & 1) straight into a BIGINT accumulator (a filter()-based
    form allocating an array per bit per row measured ~2x slower at
    sf0.1). A bit is set iff strictly more token occurrences vote 1 than
    -1 (``2*n_set > n_tokens`` — identical to the oracle's
    ``sum(+/-1) > 0``). NULL-text docs are filtered to match the oracle,
    where ``unnest(NULL)`` emits no rows. ``checkpoint`` barriers the
    3-column table before self-joins that would otherwise recompute the
    md5 + 32-bit fold per side (measured ~2x whole-query cost); the
    barrier is a parquet scratch write (restart-safe on a 1000-executor
    run) held in the family-state store, so the whole SimHash family
    shares ONE fingerprint build per corpus."""
    if checkpoint:
        return get_or_build(
            spark,
            "simhash_fingerprints",
            sf_dir,
            lambda: parquet_barrier(
                spark,
                simhash_fingerprints(spark, sf_dir, checkpoint=False),
                scratch_dir(spark, "simhash_fp"),
                "fp",
            ),
        )
    d = parallel_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    tok_hashes = F.expr(
        f"transform(split(text, ' '), tok -> {_SPARK_TOKHASH})"
    )
    simhash = sum(
        F.when(
            F.expr(
                f"2 * aggregate(hs, CAST(0 AS BIGINT), "
                f"(acc, h) -> acc + ((h >> {b}) & 1)) > size(hs)"
            ),
            F.lit(1 << b),
        ).otherwise(F.lit(0))
        for b in range(_SIMHASH_BITS)
    ).cast("bigint")
    sh = d.select("doc_id", "lang", tok_hashes.alias("hs")).select(
        "doc_id", "lang", simhash.alias("simhash")
    )
    return sh


def simhash_bands(sh):
    """Band-explode a fingerprint table: one row per (doc, band) with the
    band's 8-bit bucket — the {_SIMHASH_BANDS} shuffle keys/doc the LSH
    join collides on."""
    return sh.select(
        "doc_id",
        "lang",
        "simhash",
        F.explode(
            F.array(*[F.lit(b) for b in range(_SIMHASH_BANDS)])
        ).alias("band"),
    ).withColumn("bucket", F.expr("(simhash >> (band * 8)) & 255"))


def simhash_candidates(bands):
    """Ordered band-collision candidate pairs (doc_a < doc_b) with both
    fingerprints — the pre-threshold, pre-distinct LSH join output."""
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
    )


@query("q_llm_dedup_simhash", oracle=_SIMHASH_PAIRS_SQL)
def q_llm_dedup_simhash(spark, sf_dir):
    """C13: SimHash near-dup (Charikar 2002, as used by Manku et al. WWW'07
    for web-crawl dedup). Each doc folds to one {_SIMHASH_BITS}-bit
    fingerprint in a single groupBy (token-frequency-weighted bit votes);
    near-dups = pairs within Hamming distance {_SIMHASH_MAX_HAMMING}, found
    by exact-match banding (a pair within distance d < bands must agree on
    >=1 band — pigeonhole, no n² scan). At 100 TB the fingerprint table is
    32 bits/doc and the band join is 4 shuffle keys/doc.

    The fingerprint fold, banding, and candidate join live in the shared
    :func:`simhash_fingerprints` / :func:`simhash_bands` /
    :func:`simhash_candidates` helpers (scan-stage higher-order folds, no
    explode of tokens, checkpointed before the self-join) — also consumed
    by the C71 spectrum and C72 bucket audits, so the calibration queries
    can never drift from this pass."""
    cand = simhash_candidates(
        simhash_bands(simhash_fingerprints(spark, sf_dir))
    )
    hamming = F.expr("bit_count(ha ^ hb)")
    # Hamming filter BEFORE the multi-band dedup: bit_count is a pure
    # function of the row, so filtering first is result-identical but the
    # distinct() shuffles only surviving pairs instead of every band
    # collision (band collisions >> true near-dups at loose bucket widths).
    return (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= _SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


# --- C14: character-n-gram Jaccard near-dup ---------------------------------

_NGRAM_N = 5
_NGRAM_TAU = 0.9


@query(
    "q_llm_dedup_ngram",
    oracle=f"""
    WITH shingled AS (
        SELECT doc_id, lang,
               list_distinct(list_transform(
                   generate_series(1, len(text) - {_NGRAM_N - 1}),
                   i -> substr(text, i, {_NGRAM_N}))) AS grams
        FROM documents WHERE len(text) >= {_NGRAM_N}
    ),
    toks AS (SELECT doc_id, lang, unnest(grams) AS g FROM shingled),
    sizes AS (SELECT doc_id, len(grams) AS sz FROM shingled),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM toks a JOIN toks b
          ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE i * 1.0 / (sa.sz + sb.sz - i) >= {_NGRAM_TAU}
    """,
)
def q_llm_dedup_ngram(spark, sf_dir):
    """C14: near-dup on character {_NGRAM_N}-gram shingle sets (robust to
    token-boundary edits where word-level C2 is not), Jaccard >= {_NGRAM_TAU}.
    Spark side runs the same PPJoin prefix filter as C2 — the oracle states
    the naive quadratic semantics, the engine executes the pruned plan.

    Order choice, measured at sf0.1 (round 2): ``order="hash"`` (zero-
    shuffle global order) was tried per the round-1 advice and LOST —
    17.4 s vs df's 10.8 s warmed — because the fixture's shingle
    vocabulary is tiny (2041 distinct 5-grams over 5000 docs, mean df
    ≈ 500), so a random prefix is stuffed with frequent shingles and
    candidate volume explodes past what the df pass costs. df-order stays.
    The real hot spot was the verify stage (6.3 s of 13.7 s profiled):
    ``hash_tokens=True`` moves prefix keys + verify intersects to the
    BIGINT domain, which is also the smaller-shuffle choice at 100 TB."""
    d = parallel_table(spark, sf_dir, "documents").where(
        F.length("text") >= _NGRAM_N
    )
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length("text") - (_NGRAM_N - 1)),
            lambda i: F.substring(F.col("text"), i, _NGRAM_N),
        )
    )
    docs = d.select("doc_id", "lang", grams.alias("tokset"))
    return prefix_filtered_jaccard(
        docs,
        _NGRAM_TAU,
        order="auto",
        reuse=True,
        hash_tokens=True,
        # the probe decision is a property of (corpus, char-5-gram)
        order_memo=(sf_dir, f"char{_NGRAM_N}gram"),
    )


# --- C15: embedding-cosine near-dup -----------------------------------------

_EMBED_TAU = 0.3  # fixture embeddings are near-orthogonal (max pair ~0.47)

# Auto-blocking crossover (C2 order="auto" pattern): below this max block
# size the exact within-label pair join is cheaper than signature + bucket
# shuffle overhead AND stays oracle-exact; above it the quadratic
# within-block join is the scale-killer and candidates must route through
# LSH band buckets instead.
_EMBED_BLOCK_CAP = 8192


def embed_neardup_pairs(df, tau=_EMBED_TAU, block="auto"):
    """Pairs with cosine >= tau, blocked for sub-quadratic candidates.

    ``df`` has columns (vec_id, label, v: array<double>). ``block``:

    * ``"exact"`` — all pairs within each label block (exact recall;
      quadratic in block size, so only safe for bounded blocks).
    * ``"lsh"`` — candidates are pairs sharing label AND a hyperplane band
      bucket (C5's banding), then the SAME exact-cosine verify. Candidate
      volume is sum over (label, band, bucket) of |bucket|^2 instead of
      sum over label of |block|^2 — the 100 TB path. Recall < 1 by design
      (bounded in tests/test_llm.py with planted near-duplicates).
    * ``"auto"`` — one tiny driver-side probe (max label block size, a
      count-by-label agg) picks exact when every block fits under
      {_EMBED_BLOCK_CAP} rows, LSH otherwise. Same decision rule a real
      pipeline would apply per-partition-stat at 100 TB.
    """
    withn = df.withColumn("nrm", F.sqrt(sq_norm(F.col("v"))))
    if block == "auto":
        biggest = (
            df.groupBy("label").agg(F.count(F.lit(1)).alias("c"))
            .agg(F.max("c"))
            .first()[0]
        )
        block = "exact" if (biggest or 0) <= _EMBED_BLOCK_CAP else "lsh"
    cos = safe_cosine(dot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb"))
    if block == "exact":
        a = withn.select(
            F.col("vec_id").alias("vec_a"), "label",
            F.col("v").alias("va"), F.col("nrm").alias("na"),
        )
        b = withn.select(
            F.col("vec_id").alias("vec_b"), F.col("label").alias("label_b"),
            F.col("v").alias("vb"), F.col("nrm").alias("nb"),
        )
        cand = a.join(
            b,
            (F.col("label") == F.col("label_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
    else:
        buckets = withn.select(
            "vec_id", "label", "v", "nrm",
            F.explode(hyperplane_bands(F.col("v"))).alias("bb"),
        ).select("vec_id", "label", "v", "nrm", "bb.band", "bb.bucket")
        a = buckets.select(
            F.col("vec_id").alias("vec_a"), "label", "band", "bucket",
            F.col("v").alias("va"), F.col("nrm").alias("na"),
        )
        b = buckets.select(
            F.col("vec_id").alias("vec_b"),
            F.col("label").alias("label"),
            "band", "bucket",
            F.col("v").alias("vb"), F.col("nrm").alias("nb"),
        )
        cand = (
            a.join(b, ["label", "band", "bucket"])
            .where(F.col("vec_a") < F.col("vec_b"))
            .dropDuplicates(["vec_a", "vec_b"])
        )
    # Single-evaluation barrier (round 14): written as where(cos).select
    # (round(cos)), the optimizer pushes the tau filter into the pair-join
    # CONDITION and keeps the rounded copy in the projection — the full
    # zip_with dot product runs TWICE per candidate (seen in
    # plans/r14/q_llm_dedup_embed_before.txt: `aggregate(zip_with(...))`
    # in both the join condition and the project). The rand(7)*0 term is
    # always zero but marks the column nondeterministic, so it can be
    # neither pushed below the projection nor duplicated — one dot product
    # per candidate, at any scale (the prefix_filtered_jaccard barrier
    # discipline).
    cand = cand.withColumn("_cos", cos + F.rand(7) * 0)
    return (
        cand.where(F.col("_cos") >= tau)
        .select(
            "vec_a", "vec_b", "label", F.round("_cos", 6).alias("cosine")
        )
    )


@query(
    "q_llm_dedup_embed",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
           round(list_cosine_similarity(a.v, b.v), 6) AS cosine
    FROM e a JOIN e b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= {_EMBED_TAU}
    """,
)
def q_llm_dedup_embed(spark, sf_dir):
    """C15: embedding-cosine near-dup — semantic-duplicate detection, pairs
    with cosine >= {_EMBED_TAU}. Norms are computed once per vector before
    the pair join. Blocking is ``block="auto"`` (see
    :func:`embed_neardup_pairs`): exact within-label pairs while every
    block is bounded — which is what the fixture (and the oracle) sees —
    and label x LSH-band buckets (C5's banding) feeding the same exact
    cosine verify once any block outgrows the quadratic-safe cap."""
    e = parallel_table(spark, sf_dir, "embeddings", key="vec_id").select(
        "vec_id", "label", as_double("embedding").alias("v")
    )
    return embed_neardup_pairs(e, _EMBED_TAU, block="auto")


# --- C16: language identification -------------------------------------------

# Marker-token lexicon over the fixture vocabulary. The synthetic corpus
# shares one vocabulary across its `lang` tags, so accuracy is not the point —
# the operator contract (tokenize → marker join → per-language scores →
# argmax with deterministic tie-break) is exactly a real n-gram language
# identifier's shape.
_LANG_MARKERS = {
    "en": ("the", "table", "fast"),
    "de": ("scan", "batch", "merge"),
    "es": ("value", "query", "row"),
    "fr": ("join", "filter", "sort"),
    "zh": ("spark", "stream", "window"),
}


@query(
    "q_llm_langid",
    oracle=f"""
    WITH lex(plang, word) AS (
        VALUES {", ".join(f"('{lang}', '{w}')" for lang, ws in sorted(_LANG_MARKERS.items()) for w in ws)}
    ),
    toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    scores AS (
        SELECT t.doc_id, l.plang, count(*) AS hits
        FROM toks t JOIN lex l ON t.tok = l.word
        GROUP BY 1, 2
    ),
    best AS (
        SELECT doc_id, plang, hits,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY hits DESC, plang
               ) AS rn
        FROM scores
    )
    SELECT d.doc_id,
           d.lang AS actual_lang,
           coalesce(b.plang, 'und') AS pred_lang,
           coalesce(b.hits, 0) AS marker_hits,
           (coalesce(b.plang, 'und') = d.lang) AS correct
    FROM documents d
    LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
    """,
)
def q_llm_langid(spark, sf_dir):
    """C16: lexicon/n-gram-heuristic language ID: tokens join a broadcast
    marker lexicon, per-language hit counts, argmax with lexicographic
    tie-break, 'und' when no marker fires."""
    d = table(spark, sf_dir, "documents")
    lex = spark.createDataFrame(
        [(lang, w) for lang, ws in sorted(_LANG_MARKERS.items()) for w in ws],
        schema="plang string, word string",
    )
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    scores = (
        toks.join(F.broadcast(lex), toks.tok == lex.word)
        .groupBy("doc_id", "plang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("hits").desc(), F.col("plang"))
    best = scores.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return (
        d.select("doc_id", "lang")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.col("lang").alias("actual_lang"),
            F.coalesce("plang", F.lit("und")).alias("pred_lang"),
            F.coalesce("hits", F.lit(0)).alias("marker_hits"),
            (F.coalesce("plang", F.lit("und")) == F.col("lang")).alias("correct"),
        )
    )


# --- C17: quality scoring ----------------------------------------------------

_QUALITY_STOPWORDS = ("a", "the")


@query(
    "q_llm_quality",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id, lang, n_chars,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_filter(string_split(text, ' '),
                   t -> t IN {_QUALITY_STOPWORDS!r})) AS n_stop,
               len(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct
        FROM documents
    )
    SELECT doc_id, lang, n_chars, n_tokens,
           round(n_stop * 1.0 / n_tokens, 6) AS stopword_ratio,
           round(n_punct * 1.0 / nullif(n_chars, 0), 6) AS punct_ratio,
           round((n_chars - n_tokens + 1) * 1.0 / n_tokens, 6) AS avg_token_len,
           (n_tokens BETWEEN 10 AND 200
            AND n_stop * 1.0 / n_tokens < 0.3
            AND n_punct * 1.0 / nullif(n_chars, 0) < 0.1) AS keep
    FROM feats
    """,
)
def q_llm_quality(spark, sf_dir):
    """C17: Gopher/C4-style document quality features + keep/drop verdict:
    token count bounds, stopword ratio, punctuation density, mean token
    length — all single-pass scan expressions (no explode, no shuffle)."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*_QUALITY_STOPWORDS)))
    n_punct = F.length(F.regexp_replace("text", "[a-z0-9 ]", ""))
    stop_ratio = n_stop * 1.0 / n_tokens
    punct_ratio = n_punct * 1.0 / F.nullif(F.col("n_chars"), F.lit(0))
    return d.select(
        "doc_id",
        "lang",
        "n_chars",
        n_tokens.alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round((F.col("n_chars") - n_tokens + 1) * 1.0 / n_tokens, 6).alias(
            "avg_token_len"
        ),
        (
            n_tokens.between(10, 200)
            & (stop_ratio < 0.3)
            & (punct_ratio < 0.1)
        ).alias("keep"),
    )


# --- C18: token counting ------------------------------------------------------

# BPE-ish pre-tokenizer: letter runs, digit runs, single other non-space chars
# (the GPT-2 pre-tokenizer shape, minus unicode categories).
_BPE_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@query(
    "q_llm_tokcount",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '{_BPE_REGEX}')) AS bpe_ish_tokens,
           CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_bpe_tokens,
           round(n_chars * 1.0 / len(string_split(text, ' ')), 6)
               AS chars_per_ws_token
    FROM documents
    """,
)
def q_llm_tokcount(spark, sf_dir):
    """C18: token counting three ways — whitespace split, a BPE-ish
    pre-tokenizer regex, and the chars/4 heuristic — the unit everything in
    a training pipeline is budgeted in. Pure scan expressions."""
    d = table(spark, sf_dir, "documents")
    ws = F.size(F.split("text", " "))
    return d.select(
        "doc_id",
        ws.alias("ws_tokens"),
        F.size(F.expr(f"regexp_extract_all(text, '{_BPE_REGEX}', 0)")).alias(
            "bpe_ish_tokens"
        ),
        F.ceil(F.col("n_chars") / 4.0).cast("bigint").alias("est_bpe_tokens"),
        F.round(F.col("n_chars") * 1.0 / ws, 6).alias("chars_per_ws_token"),
    )


# --- C19: document fingerprinting --------------------------------------------

_FP_GRAM = 5
_FP_K = 8  # bottom-k sketch size


@query(
    "q_llm_fingerprint",
    oracle=f"""
    WITH grams AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, len(text) - {_FP_GRAM - 1}),
                   i -> md5(substr(text, i, {_FP_GRAM})))) AS hs
        FROM documents WHERE len(text) >= {_FP_GRAM}
    )
    SELECT doc_id,
           array_to_string((list_sort(hs))[1:{_FP_K}], ',') AS fingerprint,
           md5(array_to_string((list_sort(hs))[1:{_FP_K}], '')) AS fp_hash
    FROM grams
    """,
)
def q_llm_fingerprint(spark, sf_dir):
    """C19: document fingerprint = bottom-{_FP_K} sketch of rolling
    {_FP_GRAM}-gram hashes (the winnowing/MOSS family: a fixed-size,
    order-free digest; equal fingerprints => near-identical content). The
    sketch is one scan expression per doc; fp_hash collapses it to a single
    join/group key for clustering at 100 TB. The fingerprint is rendered as
    a comma-joined string (B32/C27 convention): flat, hashable output —
    the driver's pandas canonicalizer crashes on raw array cells."""
    # parallel_table (round 14): the per-doc md5-per-gram fold is pure
    # scan-stage compute, and the single-row-group fixture scan ran the
    # WHOLE query as one 2.6 s task (profiled). Spread only when splits <
    # cores — no shuffle added at scale.
    d = parallel_table(spark, sf_dir, "documents").where(
        F.length("text") >= _FP_GRAM
    )
    hs = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length("text") - (_FP_GRAM - 1)),
            lambda i: F.md5(F.substring(F.col("text"), i, _FP_GRAM).cast("binary")),
        )
    )
    fp = F.slice(F.sort_array(hs), 1, _FP_K)
    return d.select(
        "doc_id",
        F.array_join(fp, ",").alias("fingerprint"),
        F.md5(F.array_join(fp, "").cast("binary")).alias("fp_hash"),
    )


# --- C20: IVF-style ANN -------------------------------------------------------

_IVF_CELLS = 16
_IVF_NPROBE = 4


@query(
    "q_llm_sim_ivf",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS e,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)))
                   AS nrm
        FROM embeddings
    ),
    seeds AS (
        SELECT vec_id AS cell, e AS se, nrm AS sn
        FROM e ORDER BY vec_id LIMIT {_IVF_CELLS}
    ),
    ranked AS (
        SELECT e.vec_id, e.e, e.nrm, s.cell,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY coalesce(list_dot_product(e.e, s.se)
                            / nullif(e.nrm * s.sn, 0), 0) DESC, s.cell
               ) AS rn
        FROM e CROSS JOIN seeds s
    ),
    assign AS (SELECT vec_id, e, nrm, cell FROM ranked WHERE rn = 1),
    probes AS (
        SELECT vec_id AS query_id, e AS qe, nrm AS qn, cell
        FROM ranked WHERE vec_id < {_N_QUERIES} AND rn <= {_IVF_NPROBE}
    ),
    cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               coalesce(list_dot_product(p.qe, a.e)
                        / nullif(p.qn * a.nrm, 0), 0) AS cos
        FROM assign a JOIN probes p USING (cell)
        WHERE a.vec_id <> p.query_id
    ),
    rr AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id
        ) AS rn
        FROM cand
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rn
    FROM rr WHERE rn <= {_TOPK}
    """,
)
def q_llm_sim_ivf(spark, sf_dir):
    """C20: IVF-style ANN — the classic inverted-file index (Jégou et al.,
    PAMI 2011) with a deterministic coarse quantizer: the first
    {_IVF_CELLS} vectors by vec_id act as Voronoi seeds (k-means init
    without iterations — no RNG, stable across resumes). Every vector is
    assigned to its nearest seed cell; a query probes its {_IVF_NPROBE}
    nearest cells and exactly re-ranks only those lists. At 100 TB the
    corpus is pre-partitioned by cell so probes are partition-local reads;
    recall vs the brute-force C4 baseline is asserted in tests/test_llm.py.

    Hash-matched oracle since round 11 (was rows-only): the quantizer is
    deterministic (fixed seeds, cosine + cell-id tiebreak), so the DuckDB
    twin replays the identical assignment/probe ranking — "data-dependent
    partitioning" turned out to be fully SQL-expressible once the seed
    order was pinned.

    Cell count is a deployment dial (round 11, the C125 pattern):
    ``spark.kinesislike.ivf.cells`` overrides the oracle-pinned
    {_IVF_CELLS} so a 100 TB corpus can size k ~ N/cell_target (bounded
    list length — candidates ~nprobe·N·cell_target, linear in N) without
    touching the oracle contract; the driver's bare sessions never set
    the conf."""
    cells = int(
        spark.conf.get("spark.kinesislike.ivf.cells", str(_IVF_CELLS))
    )
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("e")
    ).withColumn("nrm", F.sqrt(sq_norm(F.col("e"))))
    seeds = emb.orderBy("vec_id").limit(cells).select(
        F.col("vec_id").alias("cell"),
        F.col("e").alias("se"),
        F.col("nrm").alias("sn"),
    )
    sim_to_seed = safe_cosine(dot(F.col("e"), F.col("se")), F.col("nrm"), F.col("sn"))
    ranked = (
        emb.crossJoin(F.broadcast(seeds))
        .select("vec_id", "e", "nrm", "cell", sim_to_seed.alias("s"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(F.col("s").desc(), "cell")
            ),
        )
    )
    assign = ranked.where(F.col("rn") == 1).select("vec_id", "e", "nrm", "cell")
    probes = (
        ranked.where((F.col("vec_id") < _N_QUERIES) & (F.col("rn") <= _IVF_NPROBE))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            F.col("nrm").alias("qn"),
            "cell",
        )
    )
    cand = (
        assign.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "qe", "qn",
            F.col("vec_id").alias("neighbor_id"),
            F.col("e").alias("ce"),
            F.col("nrm").alias("cn"),
        )
    )
    cos = safe_cosine(dot(F.col("qe"), F.col("ce")), F.col("qn"), F.col("cn"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cand.select("query_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _TOPK)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cosine"), "rn")
    )


# --- C21: duplicate-cluster resolution ---------------------------------------

_CC_MAX_ITERS = 20


def min_label_components(spark, pairs, prefix="spark_cc_rounds", shortcut=False):
    """Connected components over an undirected pair list (doc_a, doc_b)
    by iterative min-label propagation — C21's loop, extracted (round 8)
    so other pair families (C131's semantic clusters) reuse it. Returns
    (labels_df, final_parquet_path): labels = (doc_id, cluster_id =
    component-min id), materialized to parquet each round (reliable
    store + flat lineage), convergence observed on the write job itself
    (no extra driver actions). Only docs that appear in an edge are
    labeled; callers account for singletons from their own totals.

    ``shortcut=True`` turns the loop into hash-to-min proper (Rastogi et
    al. 2013, "Finding Connected Components in Map-Reduce"): plain
    propagation moves a component's min ONE hop per round — O(diameter)
    rounds, which near-dup cliques (diameter 2-3) never notice but
    long-chain graphs (B196's subcritical DBSCAN eps-graph, where
    tree-like components have diameter ~ their size) turn into the
    binding constraint. Three additions per round, each an id-frame op:
    the REVERSE leg (a node whose label dropped sends the new min to its
    old label, so basin roots learn a smaller min the round any member
    does — without it the min was MEASURED to creep 1 hop/round through
    each local-min basin, 18 rounds on the sf0.1 DBSCAN graph), then
    pointer jumping applied twice (label(v) <- label(label(v)); roots
    flip whole basins). Same graph with the full shortcut: 4 rounds,
    O(log diameter) expected. Kept opt-in: clique-like callers converge
    in 2 rounds either way and would only pay the extra shuffles."""
    stage = scratch_dir(spark, prefix)
    # A bucketed-table edge store (bucketBy(doc_a) saveAsTable, so every
    # round's join skips the edge-side exchange) was BUILT AND MEASURED
    # here in round 15 and REVERTED: at bench scale the catalog + bucketed
    # commit overhead cost more than the per-round edge exchanges it
    # removed (B196 cold isolation 15.1 s -> 24.4 s). The plain doubled
    # parquet stands; the surviving round-15 change below is the explode
    # doubling — a union consumed the caller's (possibly un-barriered:
    # B196 hands in the core-core join) pair plan twice, the explode
    # doubles rows in-stage off ONE evaluation.
    edges_path = os.path.join(stage, "edges")
    doubled = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("doc_a"),
                    F.col("doc_b").alias("doc_b"),
                ),
                F.struct(
                    F.col("doc_b").alias("doc_a"),
                    F.col("doc_a").alias("doc_b"),
                ),
            )
        ).alias("_e")
    ).select("_e.doc_a", "_e.doc_b")
    doubled.write.parquet(edges_path)
    edges = spark.read.schema(pairs.schema).parquet(edges_path)

    # Round 1 fused into initialization: starting from label(v) = v, one
    # propagation round yields exactly min(v, neighbors(v)) — a single
    # groupBy over the edge list, no union with an identity-label table.
    labels_path = os.path.join(stage, "labels_1")
    lab1 = (
        edges.groupBy("doc_a")
        .agg(F.min("doc_b").alias("mn"))
        .select(
            F.col("doc_a").alias("doc_id"),
            F.least("doc_a", "mn").alias("cluster_id"),
        )
    )
    lab1.write.parquet(labels_path)
    # Schema pinned from the written frame (round 14): the per-round
    # re-reads then skip the footer-inference job and its driver plan work.
    _label_schema = lab1.schema
    labels = spark.read.schema(_label_schema).parquet(labels_path)
    out_final = labels_path

    def one_round(labels):
        """One min-propagation round (+ the opt-in hash-to-min shortcut)
        as a pure frame transform: (doc_id, cluster_id) -> (doc_id,
        cluster_id, incumbent). Deterministic (min is order-insensitive),
        so chaining two rounds inside one barrier write produces labels
        bit-identical to barriering each round separately."""
        neighbor_labels = edges.join(labels, edges.doc_a == labels.doc_id).select(
            F.col("doc_b").alias("doc_id"),
            "cluster_id",
            F.lit(False).alias("own"),
        )
        # Tag each doc's incumbent label so the same min-groupBy yields both
        # the new label and the label it started the round with: labels only
        # ever decrease, so changed == (new < incumbent).
        new_labels = (
            labels.select("doc_id", "cluster_id", F.lit(True).alias("own"))
            .unionByName(neighbor_labels)
            .groupBy("doc_id")
            .agg(
                F.min("cluster_id").alias("cluster_id"),
                F.min(F.when(F.col("own"), F.col("cluster_id"))).alias("incumbent"),
            )
        )
        if shortcut:
            # Hash-to-min's REVERSE leg (Rastogi et al. 2013): every node
            # whose label just dropped also sends the new min to its OLD
            # label — the root of the basin it used to belong to. Forward
            # propagation + pointer jumping alone was MEASURED (sf0.1
            # DBSCAN, largest component 58 nodes / BFS depth 24) to take
            # 18 rounds with a long 1-3-changes-per-round tail: once
            # labels point at a LOCAL min m2, the jump is a no-op
            # (label(m2) = m2), and the true min m1 creeps through m2's
            # basin one hop per round until it reaches m2 itself. The
            # reverse leg hands m1 to m2 the moment ANY basin member
            # learns it; the jump then flips the whole basin next round.
            # Same graph after the fix: 4 rounds, labels identical to
            # BFS ground truth. Cost: one extra id-frame groupBy per
            # round — bought back ~14 barrier rounds.
            rev = new_labels.where(
                F.col("cluster_id") < F.col("incumbent")
            ).select(
                F.col("incumbent").alias("doc_id"),
                "cluster_id",
                F.lit(None).cast("long").alias("inc2"),
            )
            new_labels = (
                new_labels.select(
                    "doc_id", "cluster_id", F.col("incumbent").alias("inc2")
                )
                .unionByName(rev)
                .groupBy("doc_id")
                .agg(
                    F.min("cluster_id").alias("cluster_id"),
                    F.min("inc2").alias("incumbent"),
                )
            )
            # Pointer jumping: label(v) <- label(label(v)). The component
            # min m always has label(m) = m (labels never drop below the
            # component min, and label <= own id), so a missing row after
            # the left join only happens for already-minimal labels.
            # Applied twice: the jump reads labels already advanced this
            # round, so two applications give ~3x reach per round.
            for _ in range(2):
                hop = new_labels.select(
                    F.col("doc_id").alias("mid"),
                    F.col("cluster_id").alias("cid2"),
                )
                new_labels = (
                    new_labels.join(
                        hop, new_labels.cluster_id == hop.mid, "left"
                    )
                    .select(
                        "doc_id",
                        F.coalesce("cid2", "cluster_id").alias("cluster_id"),
                        "incumbent",
                    )
                )
        return new_labels

    # Two-rounds-per-barrier batching was BUILT AND MEASURED here in
    # round 15 and REVERTED: chaining round k+1 on round k's in-plan
    # output re-executes the shortcut path's between-exchange segments
    # per consumer and deepens every AQE replanning pass — measured
    # NET-SLOWER on B196 (cold isolation 15.1 s r14 -> 17.4 s batched,
    # with the explode doubling already in) despite halving barrier
    # writes. One round per barrier stands.
    for it in range(1, _CC_MAX_ITERS):
        new_labels = one_round(labels)
        obs = Observation()
        out_path = os.path.join(stage, f"labels_{it + 1}")
        (
            new_labels.observe(
                obs,
                F.sum(
                    (F.col("cluster_id") < F.col("incumbent")).cast("long")
                ).alias("n_changed"),
            )
            .select("doc_id", "cluster_id")
            .write.parquet(out_path)
        )
        labels = spark.read.schema(_label_schema).parquet(out_path)
        out_final = out_path
        if not obs.get["n_changed"]:
            break
    return labels, out_final


@query(
    "q_llm_dedup_cluster",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_SIMHASH_PAIRS_SQL}),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    cc(doc_id, root) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.b, c.root FROM cc c JOIN edges e ON e.a = c.doc_id
        WHERE c.root < e.b
    ),
    labeled AS (SELECT doc_id, min(root) AS cluster_id FROM cc GROUP BY doc_id)
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM labeled
    """,
)
def q_llm_dedup_cluster(spark, sf_dir):
    """C21: collapse pairwise near-dups (C13 SimHash pairs) into duplicate
    CLUSTERS — connected components by iterative min-label propagation
    (the Spark-native form of the large/small-star CC algorithm: each
    iteration is one edge join + one min-groupBy). Converges in
    O(component diameter) rounds — near-dup clusters are clique-like, so
    2-3 in practice. cluster_id = min doc_id of the component (the
    canonical survivor a dedup pipeline keeps).

    Cluster-scale hardening (DESIGN-100TB.md §4): each round's labels are
    MATERIALIZED TO PARQUET (a reliable store — an executor loss recomputes
    from disk, unlike ``localCheckpoint`` whose blocks die with the
    executor), which also truncates lineage so the plan stays flat. The
    convergence signal rides the SAME write job via ``Observation``
    metrics: each row carries a ``changed`` flag (new label < the label the
    doc entered the round with) and the observed sum is read off the write
    — no separate driver-side ``.count()`` job per round.

    Staging-dir resolution, in order: (1) the session's checkpoint dir if
    one is set (on a real cluster that is an HDFS/S3 prefix every executor
    can reach — the durability claim holds); (2) the
    ``spark.kinesislike.scratchDir`` conf; (3) a driver-local tempdir —
    correct in local mode (this harness) but cluster operators should set
    (1) or (2). Scratch rounds are deleted eagerly at exit; only the final
    round's parquet must outlive this call.

    The final label table is held per corpus in the family-state store:
    downstream composites (C38 survivors) and repeat calls read the staged
    parquet instead of re-running pair generation + CC — the single-job
    analog of a pipeline materializing its dedup labels once."""

    def build():
        pairs = q_llm_dedup_simhash(spark, sf_dir).select("doc_a", "doc_b")
        return min_label_components(spark, pairs)[0]

    labels = get_or_build(spark, "simhash_cc_labels", sf_dir, build)
    w = Window.partitionBy("cluster_id")
    return labels.select(
        "doc_id", "cluster_id", F.count(F.lit(1)).over(w).alias("cluster_size")
    )


# --- C22: PII scrubbing -------------------------------------------------------

# The fixture corpus carries no PII, so (like C1's duplicate injection) every
# 7th doc gets a deterministic synthetic contact line before scrubbing —
# the operator under test is the scrub, the injection just gives it work.
_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


@query(
    "q_llm_pii_scrub",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0
                    THEN text || ' contact user' || doc_id ||
                         '@example.com or 555-010-' ||
                         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    ELSE text END AS text
        FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones,
           regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed
    FROM corpus
    """,
)
def q_llm_pii_scrub(spark, sf_dir):
    """C22: PII detection + redaction (emails, phone numbers) — the standard
    pre-training scrub pass. Pure regexp scan expressions, one pass, no
    shuffle; patterns kept to the RE2/Java-regex common subset so the
    DuckDB oracle computes byte-identical redactions."""
    d = table(spark, sf_dir, "documents")
    injected = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.col("text"))
    corpus = d.select("doc_id", injected.alias("text"))
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return corpus.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(text, '{_EMAIL_RE}', 0)")).alias(
            "n_emails"
        ),
        F.size(F.expr(f"regexp_extract_all(text, '{_PHONE_RE}', 0)")).alias(
            "n_phones"
        ),
        scrubbed.alias("scrubbed"),
    )


# --- C23: benchmark decontamination ------------------------------------------

_DECON_GRAM = 3  # word n-gram overlap unit (GPT-3 used 13-grams; fixture
_DECON_BENCH_DOCS = 5  # docs are ~10-100 words of shuffled vocab, so 3 keeps hits meaningful)


@query(
    "q_llm_decontaminate",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   generate_series(1, len(t) - {_DECON_GRAM - 1}),
                   i -> array_to_string(t[i:i+{_DECON_GRAM - 1}], ' ')))) AS g
        FROM toks WHERE len(t) >= {_DECON_GRAM}
    ),
    bench AS (
        SELECT DISTINCT g FROM grams WHERE doc_id < {_DECON_BENCH_DOCS}
    )
    SELECT c.doc_id,
           count(DISTINCT c.g) AS n_contaminated_grams
    FROM grams c JOIN bench b ON c.g = b.g
    WHERE c.doc_id >= {_DECON_BENCH_DOCS}
    GROUP BY c.doc_id
    """,
)
def q_llm_decontaminate(spark, sf_dir):
    """C23: benchmark decontamination (the GPT-3 appendix-C method): flag
    training docs sharing any word {_DECON_GRAM}-gram with a held-out
    benchmark set (docs 0..{_DECON_BENCH_DOCS - 1} stand in for it). The
    benchmark gram set is tiny → broadcast join against the corpus gram
    stream; at 100 TB the corpus side stays partition-local and the flagged
    ids feed an anti-join to drop contaminated docs."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    grams = (
        toks.where(F.size("t") >= _DECON_GRAM)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("t") - (_DECON_GRAM - 1)),
                        lambda i: F.array_join(
                            F.slice("t", i, _DECON_GRAM), " "
                        ),
                    )
                )
            ).alias("g"),
        )
    )
    bench = (
        grams.where(F.col("doc_id") < _DECON_BENCH_DOCS).select("g").distinct()
    )
    return (
        grams.where(F.col("doc_id") >= _DECON_BENCH_DOCS)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_contaminated_grams"))
    )


# --- C24: embedding quantization ---------------------------------------------

_QUANT_LEVELS = 255  # int8-style: 256 levels, symmetric range per vector


@query(
    "q_llm_vec_quantize",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    scaled AS (
        SELECT vec_id, label, v,
               greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) AS s
        FROM e
    ),
    q AS (
        SELECT vec_id, label, v, s,
               list_transform(v, x -> round(x / s * {_QUANT_LEVELS // 2})) AS qv
        FROM scaled
    )
    SELECT vec_id, label,
           round(s, 6) AS scale,
           CAST(list_max(qv) AS BIGINT) AS q_max,
           CAST(list_min(qv) AS BIGINT) AS q_min,
           round(sqrt(list_sum(list_transform(
               list_zip(v, qv),
               p -> pow(p[1] - p[2] * s / {_QUANT_LEVELS // 2}, 2)))), 6)
               AS recon_err_l2
    FROM q
    """,
)
def q_llm_vec_quantize(spark, sf_dir):
    """C24: per-vector symmetric int8 scalar quantization — the 4x storage
    compression that makes 100 TB-scale vector search affordable (store
    int8 + one float32 scale per vector; rerank survivors at full
    precision). Reports the quantized range and L2 reconstruction error per
    vector; all higher-order-function arithmetic, zero shuffles."""
    half = _QUANT_LEVELS // 2
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double("embedding").alias("v")
    )
    s = F.greatest(
        F.array_max(F.transform("v", lambda x: F.abs(x))), F.lit(1e-12)
    )
    scaled = e.withColumn("s", s).withColumn(
        "qv", F.transform("v", lambda x: F.round(x / F.col("s") * half))
    )
    recon_sq = F.aggregate(
        F.zip_with("v", "qv", lambda x, q: F.pow(x - q * F.col("s") / half, 2)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return scaled.select(
        "vec_id",
        "label",
        F.round("s", 6).alias("scale"),
        F.array_max("qv").cast("bigint").alias("q_max"),
        F.array_min("qv").cast("bigint").alias("q_min"),
        F.round(F.sqrt(recon_sq), 6).alias("recon_err_l2"),
    )


# --- C67: duplicate-graph triangle census ------------------------------------


@query(
    "q_llm_dup_triangles",
    oracle=f"""
    WITH pairs AS ({_SIMHASH_PAIRS_SQL}),
    e AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
    wedges AS (
        SELECT e1.a AS a, e1.b AS b, e2.b AS c
        FROM e e1 JOIN e e2 ON e1.b = e2.a
    ),
    tri AS (
        SELECT w.a, w.b, w.c FROM wedges w JOIN e ON w.a = e.a AND w.c = e.b
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT CAST(count(*) AS BIGINT) FROM wedges) AS n_wedges,
           (SELECT CAST(count(*) AS BIGINT) FROM tri) AS n_triangles,
           CAST((1000000 * (SELECT count(*) FROM tri))
                // greatest(1, (SELECT count(*) FROM wedges)) AS BIGINT)
               AS closure_ppm
    """,
)
def q_llm_dup_triangles(spark, sf_dir):
    """C67: triangle census of the near-dup graph (C13's SimHash pairs as
    edges) — wedge count, triangle count, and closure ratio in integer
    ppm. This is the cluster-cohesion audit run before trusting C21's
    components for dedup DROPS: closure near 1e6 means near-dup clusters
    are clique-like (safe to keep one survivor per component), low closure
    means chains of marginal pairs are bridging unrelated documents and
    the Hamming threshold is too loose. Ordered edges (a<b) make each
    wedge and triangle counted exactly once with no orientation dedup:
    wedges join on the middle vertex, closure probes the (a,c) edge — the
    standard two-join triangle enumeration whose cost is sum of
    degree(b)^2, NOT |V|^3; at 100 TB the edge list is hash-partitioned
    on the join vertex and the heavy-degree tail is exactly what the C37
    heavy-hitter audit flags first. Scalar outputs ride 1-row
    broadcasts."""
    e = q_llm_dedup_simhash(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).localCheckpoint(eager=True)  # consumed 3x: edges, wedges, closure probe
    e1 = e.select(F.col("a"), F.col("b").alias("mid"))
    e2 = e.select(F.col("a").alias("mid"), F.col("b").alias("c"))
    wedges = e1.join(e2, "mid").select("a", "mid", "c")
    tri = wedges.join(
        e.select(F.col("a").alias("ta"), F.col("b").alias("tc")),
        (F.col("a") == F.col("ta")) & (F.col("c") == F.col("tc")),
    )
    n_e = e.agg(F.count(F.lit(1)).alias("n_edges"))
    n_w = wedges.agg(F.count(F.lit(1)).alias("n_wedges"))
    n_t = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    return (
        n_e.crossJoin(F.broadcast(n_w))
        .crossJoin(F.broadcast(n_t))
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.expr(
                "CAST((1000000 * n_triangles) div greatest(1, n_wedges) "
                "AS BIGINT)"
            ).alias("closure_ppm"),
        )
    )


# --- C71: SimHash hamming-distance spectrum (threshold calibration) ----------


@query(
    "q_llm_hamming_spectrum",
    oracle=f"""
    WITH pairs AS ({_SIMHASH_PAIRS_CAND_SQL})
    SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY hamming
    """,
)
def q_llm_hamming_spectrum(spark, sf_dir):
    """C71: hamming-distance spectrum over ALL band-collision candidates
    (no threshold) — the calibration evidence behind C13's
    MAX_HAMMING={_SIMHASH_MAX_HAMMING} cut: a healthy corpus shows a
    bimodal spectrum (near-dup mass at low distances, a background hump
    near {_SIMHASH_BITS}/2), and the valley between them IS the right
    threshold. Tuning the cut without this histogram is guessing; C67's
    closure audit then validates the chosen cut's cluster cohesion.
    Reuses C13's machinery (:func:`simhash_fingerprints` /
    :func:`simhash_bands` / :func:`simhash_candidates` — the same code
    objects, not a copy) minus the final filter, so
    the cost profile is identical to the dedup pass itself; output is a
    <={_SIMHASH_BITS + 1}-row histogram."""
    cand = (
        simhash_candidates(
            simhash_bands(simhash_fingerprints(spark, sf_dir))
        )
        .select(
            "doc_a", "doc_b", F.expr("bit_count(ha ^ hb)").alias("hamming")
        )
        .distinct()
    )
    return cand.groupBy("hamming").agg(F.count(F.lit(1)).alias("n_pairs"))


# --- C72: banding bucket-size audit (candidate-volume prediction) ------------


@query(
    "q_llm_bucket_stats",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    h AS (SELECT doc_id, lang, {_DUCK_TOKHASH} AS h FROM toks),
    bits AS (
        SELECT doc_id, lang,
               {", ".join(f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}" for b in range(_SIMHASH_BITS))}
        FROM h GROUP BY doc_id, lang
    ),
    sh AS (
        SELECT doc_id, lang,
               CAST({" + ".join(f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(_SIMHASH_BITS))} AS BIGINT) AS simhash
        FROM bits
    ),
    bands AS (
        SELECT doc_id, lang, unnest([0, 1, 2, 3]) AS band, simhash FROM sh
    ),
    buckets AS (
        SELECT lang, band, (simhash >> (band * 8)) & 255 AS bucket,
               CAST(count(*) AS BIGINT) AS sz
        FROM bands GROUP BY 1, 2, 3
    )
    SELECT CAST(length(bin(sz)) AS BIGINT) AS sz_octave,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(sz) AS BIGINT) AS n_docs_banded,
           CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS n_cand_pairs
    FROM buckets GROUP BY 1
    """,
)
def q_llm_bucket_stats(spark, sf_dir):
    """C72: banding bucket-size audit — the candidate-volume predictor for
    every LSH-family operator (C3/C5/C13/C15): bucket sizes binned into
    octaves (C51's bin-length trick) with the implied pair count
    Σ sz·(sz-1)/2 per octave. This number IS the band join's output size,
    so the audit — one rollup over (lang, band, bucket), ~KB output —
    predicts the dedup pass's cost BEFORE running it; a heavy top octave
    means the banding is too coarse (widen buckets/bands, or salt the
    hot bucket) and is exactly what blows up 'works at sf0.1' jobs at
    100 TB. Reuses C13's :func:`simhash_fingerprints` +
    :func:`simhash_bands` (the same code objects, not a copy; no
    checkpoint — the single rollup reads the fingerprints once) upstream
    of the audit rollup."""
    buckets = (
        simhash_bands(simhash_fingerprints(spark, sf_dir, checkpoint=False))
        .groupBy("lang", "band", "bucket")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    return buckets.groupBy(
        F.length(F.expr("bin(sz)")).cast("bigint").alias("sz_octave")
    ).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("sz").cast("bigint").alias("n_docs_banded"),
        F.expr("CAST(sum(sz * (sz - 1) div 2) AS BIGINT)").alias(
            "n_cand_pairs"
        ),
    )


# --- C75: near-dup precision audit -------------------------------------------


@query(
    "q_llm_dedup_precision",
    oracle=f"""
    WITH pairs AS ({_SIMHASH_PAIRS_SQL}),
    j AS (
        SELECT p.hamming,
               CAST(md5(coalesce(a.text, '')) = md5(coalesce(b.text, ''))
                    AS BIGINT) AS is_exact
        FROM pairs p
        JOIN documents a ON p.doc_a = a.doc_id
        JOIN documents b ON p.doc_b = b.doc_id
    )
    SELECT hamming,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(is_exact) AS BIGINT) AS n_exact,
           CAST((1000000 * sum(is_exact)) // count(*) AS BIGINT)
               AS exact_ppm
    FROM j GROUP BY hamming
    """,
)
def q_llm_dedup_precision(spark, sf_dir):
    """C75: near-dup precision audit — for each hamming distance in C13's
    pair output, what fraction of pairs are EXACT duplicates (content
    hashes equal), in integer ppm. This is the ground-truth-by-
    construction precision curve: exact dups are verifiable without
    labels, so exact_ppm at distance 0 near 1e6 (identical fingerprints
    should be identical texts in a low-collision regime) and decaying
    with distance is the expected shape — a flat curve means the
    fingerprint is hashing noise, and the C71 spectrum + this curve
    together pick the operating threshold. The doc-id joins fetch only
    the md5 (computed scan-side; text never shuffles past the scan), and
    the rollup is ≤{_SIMHASH_MAX_HAMMING + 1} rows."""
    pairs = q_llm_dedup_simhash(spark, sf_dir)
    h = F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary"))
    da = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("a_id"), h.alias("h_a")
    )
    db = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("b_id"), h.alias("h_b")
    )
    j = (
        pairs.join(da, pairs.doc_a == da.a_id)
        .join(db, pairs.doc_b == db.b_id)
        .select(
            "hamming",
            (F.col("h_a") == F.col("h_b")).cast("bigint").alias("is_exact"),
        )
    )
    return j.groupBy("hamming").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("is_exact").cast("bigint").alias("n_exact"),
        F.expr(
            "CAST((1000000 * sum(is_exact)) div count(1) AS BIGINT)"
        ).alias("exact_ppm"),
    )


# --- C96: language-ID confusion matrix (evaluates C16) -----------------------

from ..registry import _ORACLES as _REGISTERED_ORACLES  # noqa: E402


@query(
    "q_llm_langid_confusion",
    # rule: derive, never duplicate — a C16 lexicon change cannot desync
    # this audit from the classifier it evaluates).
    oracle=f"""
    WITH perdoc AS ({_REGISTERED_ORACLES["q_llm_langid"]})
    SELECT actual_lang, pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST((1000000 * count(*)) // (
               sum(count(*)) OVER (PARTITION BY actual_lang)
           ) AS BIGINT) AS share_of_actual_ppm
    FROM perdoc
    GROUP BY actual_lang, pred_lang
    """,
)
def q_llm_langid_confusion(spark, sf_dir):
    """C96: language-ID confusion matrix — the C16 classifier evaluated
    as a query: per (actual, predicted) cell, the doc count and its
    floor-ppm share of the actual language's row (row-normalized recall
    view; the diagonal is per-language recall, off-diagonal hot cells say
    WHICH languages the marker lexicon confuses — the information an
    "accuracy: 0.7" scalar hides, and what decides where to spend lexicon
    effort before running C16 over 100 TB). Composes C16 VERBATIM — the
    Spark side calls the registered q_llm_langid, the oracle wraps C16's
    registered SQL as a CTE, so classifier and audit cannot drift apart.

    Plan: C16's plan (broadcast lexicon, per-doc argmax) plus ONE
    |langs|²-bounded rollup; the share window rides the tiny matrix."""
    perdoc = q_llm_langid(spark, sf_dir)
    return (
        perdoc.groupBy("actual_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn(
            "share_of_actual_ppm",
            F.expr(
                "CAST((1000000 * n_docs) div "
                "(sum(n_docs) OVER (PARTITION BY actual_lang)) AS BIGINT)"
            ),
        )
    )


# --- C101: Gopher-style rule-based quality filter -----------------------------

_GOPHER_STOPLIST = ("the", "a", "of", "to", "and", "in")
_GOPHER_MIN_WORDS = 10
_GOPHER_MAX_WORDS = 1_000
_GOPHER_MIN_MWL = 2  # mean word length bounds, enforced as exact integer
_GOPHER_MAX_MWL = 12  # inequalities (min*nw <= chars <= max*nw) — no division
_GOPHER_MIN_STOPWORDS = 2  # distinct stopwords required
_GOPHER_SHORT_FRAC = 5  # 1-char tokens must be < 1/5 of all tokens

_GOPHER_STOP_SQL = "['" + "', '".join(_GOPHER_STOPLIST) + "']"


@query(
    "q_llm_gopher_rules",
    oracle=f"""
    WITH d AS (
        SELECT lang,
               string_split(coalesce(text, ''), ' ') AS toks,
               length(replace(coalesce(text, ''), ' ', '')) AS nch
        FROM documents
    ),
    r AS (
        SELECT lang,
               CASE WHEN len(toks) < {_GOPHER_MIN_WORDS}
                      OR len(toks) > {_GOPHER_MAX_WORDS}
                    THEN 1 ELSE 0 END AS f_nw,
               CASE WHEN NOT ({_GOPHER_MIN_MWL} * len(toks) <= nch
                              AND nch <= {_GOPHER_MAX_MWL} * len(toks))
                    THEN 1 ELSE 0 END AS f_mwl,
               CASE WHEN len(list_intersect(list_distinct(toks),
                                            {_GOPHER_STOP_SQL}))
                      < {_GOPHER_MIN_STOPWORDS}
                    THEN 1 ELSE 0 END AS f_stop,
               CASE WHEN {_GOPHER_SHORT_FRAC}
                      * len(list_filter(toks, t -> length(t) <= 1))
                      >= len(toks)
                    THEN 1 ELSE 0 END AS f_short
        FROM d
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(f_nw) AS BIGINT) AS fail_word_count,
           CAST(sum(f_mwl) AS BIGINT) AS fail_mean_word_len,
           CAST(sum(f_stop) AS BIGINT) AS fail_stopwords,
           CAST(sum(f_short) AS BIGINT) AS fail_short_tokens,
           CAST(sum(CASE WHEN f_nw + f_mwl + f_stop + f_short = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS pass_n,
           CAST((1000000 * sum(CASE WHEN f_nw + f_mwl + f_stop + f_short = 0
                                    THEN 1 ELSE 0 END)) // count(*)
                AS BIGINT) AS pass_ppm
    FROM r GROUP BY lang
    """,
)
def q_llm_gopher_rules(spark, sf_dir):
    """C101: Gopher-style rule-based quality gate (Rae et al. 2021 §A.1.1,
    as re-used by RefinedWeb/Dolma) — the NAMED-RULE rejection breakdown a
    curation run reports, complementing C12/C17's scalar scores: per lang,
    how many documents each rule rejects and the floor-ppm pass rate.
    Rules (adapted to the fixture's whitespace corpus): word count in
    [{_GOPHER_MIN_WORDS}, {_GOPHER_MAX_WORDS}]; mean word length in
    [{_GOPHER_MIN_MWL}, {_GOPHER_MAX_MWL}] enforced as the exact integer
    cross-inequality min·nw ≤ chars ≤ max·nw (never a float division at a
    rule boundary); at least {_GOPHER_MIN_STOPWORDS} distinct stopwords
    from a fixed {len(_GOPHER_STOPLIST)}-word list (the coherence proxy);
    and 1-char tokens under 1/{_GOPHER_SHORT_FRAC} of all tokens (the
    fragment/OCR-noise proxy). Per-rule failure counts are what let an
    operator TUNE a gate — a pass/fail bit alone can't say which rule is
    doing the rejecting.

    Plan: every rule is a scan-stage array expression over the split
    tokens (no explode — list_filter/list_intersect run inside codegen on
    the row); the only shuffle is the |langs|-row rollup with map-side
    partial sums. At 100 TB this is the cheapest possible shape: one pass,
    integer flags, bounded output."""
    stop_arr = "array(" + ", ".join(f"'{s}'" for s in _GOPHER_STOPLIST) + ")"
    d = table(spark, sf_dir, "documents").select(
        "lang",
        F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("toks"),
        F.length(
            F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), " ", "")
        ).alias("nch"),
    )
    nw = F.size("toks")
    f_nw = (
        (nw < _GOPHER_MIN_WORDS) | (nw > _GOPHER_MAX_WORDS)
    ).cast("int")
    f_mwl = (
        ~(
            (F.lit(_GOPHER_MIN_MWL) * nw <= F.col("nch"))
            & (F.col("nch") <= F.lit(_GOPHER_MAX_MWL) * nw)
        )
    ).cast("int")
    f_stop = (
        F.size(F.array_intersect(F.array_distinct("toks"), F.expr(stop_arr)))
        < _GOPHER_MIN_STOPWORDS
    ).cast("int")
    f_short = (
        F.lit(_GOPHER_SHORT_FRAC)
        * F.size(F.filter("toks", lambda t: F.length(t) <= 1))
        >= nw
    ).cast("int")
    r = d.select(
        "lang",
        f_nw.alias("f_nw"),
        f_mwl.alias("f_mwl"),
        f_stop.alias("f_stop"),
        f_short.alias("f_short"),
    )
    passed = (
        F.col("f_nw") + F.col("f_mwl") + F.col("f_stop") + F.col("f_short")
        == 0
    ).cast("int")
    return (
        r.withColumn("p", passed)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("f_nw").cast("bigint").alias("fail_word_count"),
            F.sum("f_mwl").cast("bigint").alias("fail_mean_word_len"),
            F.sum("f_stop").cast("bigint").alias("fail_stopwords"),
            F.sum("f_short").cast("bigint").alias("fail_short_tokens"),
            F.sum("p").cast("bigint").alias("pass_n"),
            F.expr("CAST((1000000 * sum(p)) div count(1) AS BIGINT)").alias(
                "pass_ppm"
            ),
        )
    )


# --- C103: near-dup graph degree spectrum --------------------------------------


@query(
    "q_llm_dup_degree",
    # SimHash banding change cannot desync this audit from the pair
    # generator it profiles.
    oracle=f"""
    WITH pairs AS ({_REGISTERED_ORACLES["q_llm_dedup_simhash"]}),
    deg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS degree
        FROM (
            SELECT doc_a AS doc_id FROM pairs
            UNION ALL
            SELECT doc_b AS doc_id FROM pairs
        )
        GROUP BY doc_id
    )
    SELECT CAST(length(bin(degree)) AS BIGINT) AS degree_octave,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(degree) AS BIGINT) AS min_degree,
           CAST(max(degree) AS BIGINT) AS max_degree
    FROM deg GROUP BY 1
    """,
)
def q_llm_dup_degree(spark, sf_dir):
    """C103: degree spectrum of the near-dup graph — per document, how
    many near-dup partners (C13 SimHash pairs, both directions), binned
    into exact octaves (the C51 bin-length trick). The hairball detector
    read BETWEEN pair generation and C21's connected components: a heavy
    top octave means a template family is about to collapse into one
    giant component (min-label propagation rounds grow with component
    diameter, and a star of 10^6 spokes makes the canonical-survivor
    choice meaningless), so the fix — tighten the Hamming cut or band
    width — happens before the CC job burns a cluster-day. Complements
    C72 (bucket sizes predict JOIN cost; this profiles the RESULT graph)
    and C67 (triangle closure measures quality; this measures shape).

    Derivation discipline: the pairs frame IS the registered C13 query,
    called directly; the oracle wraps C13's registered SQL as a CTE. Plan:
    one union + (doc) rollup over the pair list (map-side combined), then
    a bounded octave rollup — both output-bounded, nothing corpus-scale
    beyond what C13 already does."""
    pairs = q_llm_dedup_simhash(spark, sf_dir).select("doc_a", "doc_b")
    deg = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.select(
            F.length(F.expr("bin(degree)")).cast("bigint").alias(
                "degree_octave"
            ),
            "degree",
        )
        .groupBy("degree_octave")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("degree").cast("bigint").alias("min_degree"),
            F.max("degree").cast("bigint").alias("max_degree"),
        )
    )


# --- C121: curation funnel accounting ----------------------------------------

# Stage thresholds (deliberately simple scan-stage predicates; C101 holds
# the full Gopher rule set — this operator is about the FUNNEL bookkeeping,
# attribution of each drop to its FIRST failing stage).
_FUNNEL_MIN_WORDS = 15
_FUNNEL_MAX_WORDS = 5_000
_FUNNEL_MIN_STOP_PPM = 10_000

_FUNNEL_STAGES = ("length", "quality", "langid", "dedup")


@query(
    "q_llm_filter_funnel",
    oracle=f"""
    WITH feat AS (
        SELECT doc_id, lang,
               len(string_split(coalesce(text, ''), ' ')) AS nw,
               (1000000 * len(list_filter(
                    string_split(coalesce(text, ''), ' '),
                    t -> t IN ('a', 'the'))))
                   // len(string_split(coalesce(text, ''), ' '))
                   AS stop_ppm,
               md5(coalesce(text, '')) AS h
        FROM documents
    ),
    firsts AS (SELECT h, min(doc_id) AS keeper FROM feat GROUP BY h),
    ff AS (
        SELECT CASE
            WHEN f.nw < {_FUNNEL_MIN_WORDS}
              OR f.nw > {_FUNNEL_MAX_WORDS} THEN 1
            WHEN f.stop_ppm < {_FUNNEL_MIN_STOP_PPM} THEN 2
            WHEN f.lang IS NULL THEN 3
            WHEN f.doc_id <> fo.keeper THEN 4
            ELSE 99 END AS fail_stage
        FROM feat f JOIN firsts fo USING (h)
    ),
    drops AS (
        SELECT fail_stage, CAST(count(*) AS BIGINT) AS n
        FROM ff WHERE fail_stage <> 99 GROUP BY fail_stage
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM ff),
    spine AS (
        SELECT * FROM (VALUES
            (CAST(1 AS BIGINT), 'length'), (CAST(2 AS BIGINT), 'quality'),
            (CAST(3 AS BIGINT), 'langid'), (CAST(4 AS BIGINT), 'dedup'))
            AS t(stage_idx, stage)
    ),
    enter AS (
        SELECT s.stage_idx, s.stage,
               coalesce((SELECT sum(d.n) FROM drops d
                         WHERE d.fail_stage < s.stage_idx), 0) AS dropped_before
        FROM spine s
    )
    SELECT e.stage_idx, e.stage,
           CAST(t.total - e.dropped_before AS BIGINT) AS n_enter,
           CAST(coalesce(d.n, 0) AS BIGINT) AS n_drop,
           CAST(t.total - e.dropped_before - coalesce(d.n, 0) AS BIGINT)
               AS n_exit
    FROM enter e
    LEFT JOIN drops d ON d.fail_stage = e.stage_idx
    CROSS JOIN tot t
    """,
)
def q_llm_filter_funnel(spark, sf_dir):
    """C121: curation FUNNEL accounting — the stage-by-stage drop ledger
    ({" -> ".join(_FUNNEL_STAGES)}) every production pipeline publishes
    next to its output corpus: who enters each gate, who it drops, who
    survives. The bookkeeping contract is first-failure ATTRIBUTION (a
    doc failing length AND quality charges only length), which is what
    makes stage counts reconcile: n_exit(i) = n_enter(i+1) and the final
    exit equals the corpus a C54-style build would emit. Individual
    signals deliberately reuse existing primitives (word-count bounds,
    the C17 stopword ppm, NULL langid, C1's keep-smallest-id exact
    dedup) — the operator's value is the FUNNEL algebra over them, the
    readout which single gate to retune when yield collapses.

    Scale: every stage bit is computed beside the scan except dedup's
    first-occurrence join — one (hash) rollup + one hash equi-join (the
    C1 shuffle shape). The funnel algebra runs on a 4-row spine against
    a |stages|-row drop table — broadcast-trivial at any corpus size."""
    toks = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    n_stop = F.size(F.filter(toks, lambda t: t.isin("a", "the")))
    feat = parallel_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(toks).alias("nw"),
        F.expr(
            "(1000000 * size(filter(split(coalesce(text, ''), ' '), "
            "t -> t IN ('a', 'the')))) div "
            "size(split(coalesce(text, ''), ' '))"
        ).alias("stop_ppm"),
        F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")).alias(
            "h"
        ),
    )
    firsts = feat.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    ff = feat.join(firsts, "h").select(
        F.when(
            (F.col("nw") < _FUNNEL_MIN_WORDS)
            | (F.col("nw") > _FUNNEL_MAX_WORDS),
            F.lit(1),
        )
        .when(F.col("stop_ppm") < _FUNNEL_MIN_STOP_PPM, F.lit(2))
        .when(F.col("lang").isNull(), F.lit(3))
        .when(F.col("doc_id") != F.col("keeper"), F.lit(4))
        .otherwise(F.lit(99))
        .cast("bigint")
        .alias("fail_stage")
    )
    drops = (
        ff.where(F.col("fail_stage") != 99)
        .groupBy("fail_stage")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = F.broadcast(
        ff.agg(F.count(F.lit(1)).cast("bigint").alias("total"))
    )
    spine = F.broadcast(
        spark.createDataFrame(
            list(enumerate(_FUNNEL_STAGES, start=1)),
            schema="stage_idx long, stage string",
        )
    )
    before = (
        spine.alias("s")
        .join(
            drops.alias("d"),
            F.col("d.fail_stage") < F.col("s.stage_idx"),
            "left",
        )
        .groupBy("s.stage_idx", "s.stage")
        .agg(
            F.coalesce(F.sum("d.n"), F.lit(0))
            .cast("bigint")
            .alias("dropped_before")
        )
    )
    return (
        before.join(
            drops.withColumnRenamed("fail_stage", "stage_idx"),
            "stage_idx",
            "left",
        )
        .crossJoin(tot)
        .select(
            "stage_idx",
            "stage",
            (F.col("total") - F.col("dropped_before"))
            .cast("bigint")
            .alias("n_enter"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_drop"),
            (
                F.col("total")
                - F.col("dropped_before")
                - F.coalesce("n", F.lit(0))
            )
            .cast("bigint")
            .alias("n_exit"),
        )
    )


@query(
    "q_llm_dup_inflation",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_SIMHASH_PAIRS_SQL}),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    cc(doc_id, root) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.b, c.root FROM cc c JOIN edges e ON e.a = c.doc_id
        WHERE c.root < e.b
    ),
    labeled AS (SELECT doc_id, min(root) AS cluster_id FROM cc GROUP BY doc_id),
    docs AS (
        SELECT d.doc_id, d.lang,
               CAST({_NTOK_DUCK} AS BIGINT) AS ntok,
               coalesce(l.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN labeled l ON d.doc_id = l.doc_id
    ),
    clusters AS (
        SELECT cluster_id,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(sum(ntok) AS BIGINT) AS total_tok,
               CAST(min(CASE WHEN doc_id = cluster_id THEN ntok END)
                    AS BIGINT) AS canonical_tok,
               min(CASE WHEN doc_id = cluster_id THEN lang END) AS lang
        FROM docs GROUP BY cluster_id
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(n_members) AS BIGINT) AS n_docs,
           CAST(sum(total_tok) AS BIGINT) AS total_tok,
           CAST(sum(canonical_tok) AS BIGINT) AS canonical_tok,
           CAST((1000000 * sum(total_tok)) // sum(canonical_tok) AS BIGINT)
               AS inflation_ppm
    FROM clusters GROUP BY lang
    """,
)
def q_llm_dup_inflation(spark, sf_dir):
    """C133: token-budget inflation from near-duplicate clusters — per
    language (attributed to the canonical member's language), how many
    tokens the raw corpus carries versus what survives keep-one-per-
    cluster dedup. The number that connects the dedup ladder to the C109
    token budget: an inflation of 1.25e6 ppm means one token in five in
    that language is a re-crawl of something already kept — the
    mixture-weight correction C30 should apply BEFORE sampling, and the
    per-language form localizes WHERE re-crawling concentrates. Every
    cluster's canonical is its min doc id (== cluster_id, C21's label
    convention), so canonical attribution is deterministic; singleton
    docs are their own canonical (LEFT join + coalesce).

    Plan/scale: rides C21's MEMOIZED cluster labels (the staged parquet
    — zero propagation cost after first touch); token counts are
    scan-stage expressions; two rollups (cluster grain, then lang grain)
    on id/count columns only — text never shuffles."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.expr(_NTOK_SPARK).cast("bigint").alias("ntok")
    )
    labels = q_llm_dedup_cluster(spark, sf_dir).select("doc_id", "cluster_id")
    docs = d.join(labels, "doc_id", "left").withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    )
    clusters = docs.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum("ntok").cast("bigint").alias("total_tok"),
        F.min(
            F.when(F.col("doc_id") == F.col("cluster_id"), F.col("ntok"))
        )
        .cast("bigint")
        .alias("canonical_tok"),
        F.min(
            F.when(F.col("doc_id") == F.col("cluster_id"), F.col("lang"))
        ).alias("lang"),
    )
    return clusters.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("n_members").cast("bigint").alias("n_docs"),
        F.sum("total_tok").cast("bigint").alias("total_tok"),
        F.sum("canonical_tok").cast("bigint").alias("canonical_tok"),
        F.expr(
            "CAST((1000000 * sum(total_tok)) div sum(canonical_tok) "
            "AS BIGINT)"
        ).alias("inflation_ppm"),
    )


# --- C168: quality-aware canonical selection within duplicate clusters ---------


@query(
    "q_llm_cluster_keep_best",
    oracle=f"""
    WITH RECURSIVE pairs AS ({{pairs}}),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    cc(doc_id, root) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.b, c.root FROM cc c JOIN edges e ON e.a = c.doc_id
        WHERE c.root < e.b
    ),
    labeled AS (SELECT doc_id, min(root) AS cluster_id FROM cc GROUP BY doc_id),
    q AS (
        SELECT doc_id, n_chars,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_filter(string_split(text, ' '),
                   t -> t IN {_QUALITY_STOPWORDS!r})) AS n_stop,
               len(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct
        FROM documents
    ),
    scored AS (
        SELECT l.cluster_id, l.doc_id, q.n_chars,
               CASE WHEN q.n_tokens BETWEEN 10 AND 200
                     AND 10 * q.n_stop < 3 * q.n_tokens
                     AND q.n_chars > 0
                     AND 10 * q.n_punct < q.n_chars
                    THEN 1 ELSE 0 END AS pass
        FROM labeled l JOIN q USING (doc_id)
    ),
    kept AS (
        SELECT cluster_id, doc_id AS kept_doc, n_chars AS kept_chars,
               pass AS kept_passes
        FROM scored
        QUALIFY row_number() OVER (
            PARTITION BY cluster_id
            ORDER BY pass DESC, n_chars DESC, doc_id ASC) = 1
    ),
    stats AS (
        SELECT cluster_id,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(sum(pass) AS BIGINT) AS n_passing,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM scored GROUP BY cluster_id
    )
    SELECT s.cluster_id, s.n_members, s.n_passing,
           k.kept_doc, CAST(k.kept_passes = 1 AS BOOLEAN) AS kept_passes,
           CAST(s.total_chars - k.kept_chars AS BIGINT) AS dropped_chars,
           k.kept_doc <> s.cluster_id AS differs_from_min_id
    FROM stats s JOIN kept k USING (cluster_id)
    """.format(pairs=_SIMHASH_PAIRS_SQL),
)
def q_llm_cluster_keep_best(spark, sf_dir):
    """C168: quality-aware canonical selection — within each C21
    duplicate cluster, keep the member a REAL pipeline keeps: the
    highest-quality one, not the lowest doc_id. C21's min-id canonical is
    the graph-theoretic convention; production dedup (C4/Gopher-style)
    keeps the copy that PASSES the quality gate and, among those, the
    longest (truncated re-crawls and boilerplate-stripped mirrors lose to
    the full original). The released ledger carries, per cluster, the
    kept doc, whether it passes, how many members pass, the characters
    dropped, and — the audit this operator exists for —
    ``differs_from_min_id``: how often quality-keep disagrees with the
    naive min-id keep (every such row is a document the naive rule would
    have thrown away wrongly).

    Exactness: the keep decision is an integer lexicographic key —
    C17's gate re-stated as cross-multiplied integer comparisons
    (10·n_stop < 3·n_tokens, 10·n_punct < n_chars), then n_chars desc,
    then doc_id — so no float ever picks a survivor. Plan/scale: rides
    the memoized C21 label parquet (first consumer pays the CC loop);
    quality features are scan expressions on documents; the keep is one
    rank window PARTITIONED BY CLUSTER (bounded by cluster size) and the
    release is |clusters| rows."""
    labels = q_llm_dedup_cluster(spark, sf_dir).select("doc_id", "cluster_id")
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*_QUALITY_STOPWORDS)))
    n_punct = F.length(F.regexp_replace("text", "[a-z0-9 ]", ""))
    q = d.select(
        "doc_id",
        "n_chars",
        F.when(
            n_tokens.between(10, 200)
            & (10 * n_stop < 3 * n_tokens)
            & (F.col("n_chars") > 0)
            & (10 * n_punct < F.col("n_chars")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("pass"),
    )
    scored = labels.join(q, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("pass").desc(), F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    kept = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc"),
            F.col("n_chars").alias("kept_chars"),
            (F.col("pass") == 1).alias("kept_passes"),
        )
    )
    stats = scored.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum("pass").cast("bigint").alias("n_passing"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    return stats.join(kept, "cluster_id").select(
        "cluster_id",
        "n_members",
        "n_passing",
        "kept_doc",
        "kept_passes",
        (F.col("total_chars") - F.col("kept_chars"))
        .cast("bigint")
        .alias("dropped_chars"),
        (F.col("kept_doc") != F.col("cluster_id")).alias(
            "differs_from_min_id"
        ),
    )
