"""Text-analysis operators (SURVEY.md §2 rows C7-C10, C12) over `documents`.

The shared primitive is the exploded token frame — at 100 TB the explode
happens partition-local (no shuffle) and every downstream agg is a 2-phase
hash aggregate on (key, token).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.analytics import global_running_sums
from ..registry import query
from ..tables import parallel_table, table

_STOPWORDS = ("a", "the")


def tokens(spark, sf_dir, with_lang: bool = True):
    d = table(spark, sf_dir, "documents")
    cols = ["doc_id", "lang"] if with_lang else ["doc_id"]
    return d.select(*cols, F.explode(F.split("text", " ")).alias("token"))


@query(
    "q_llm_tokenize",
    oracle=f"""
    SELECT lang, token, count(*) AS cnt, count(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents)
    WHERE token NOT IN {_STOPWORDS!r}
    GROUP BY lang, token
    """,
)
def q_llm_tokenize(spark, sf_dir):
    """C7: tokenize + stopword filter + per-language token stats."""
    return (
        tokens(spark, sf_dir)
        .where(~F.col("token").isin(*_STOPWORDS))
        .groupBy("lang", "token")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


@query(
    "q_llm_tfidf",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents)
    SELECT tf.doc_id, tf.term,
           round(tf * ln(n * 1.0 / df), 6) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
    """,
)
def q_llm_tfidf(spark, sf_dir):
    """C8: tf·idf per (doc, term): tf × ln(N/df). The doc count N rides in
    as a broadcast scalar (crossJoin with a 1-row frame), df as a broadcast
    dim — the big tf frame never shuffles twice."""
    tok = tokens(spark, sf_dir, with_lang=False).withColumnRenamed("token", "term")
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = table(spark, sf_dir, "documents").agg(F.count(F.lit(1)).alias("n"))
    return (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n") * 1.0 / F.col("df")), 6
            ).alias("tfidf"),
        )
    )


@query(
    "q_llm_corpus_stats",
    oracle="""
    SELECT lang, source,
           count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars,
           count(*) FILTER (WHERE n_chars BETWEEN 200 AND 2000) AS n_mid_length
    FROM documents
    GROUP BY lang, source
    """,
)
def q_llm_corpus_stats(spark, sf_dir):
    """C9: corpus quality/language stats — the C4-style pre-training corpus
    filter report (counts, char-length distribution, mid-length share)."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.count(F.when(F.col("n_chars").between(200, 2000), 1)).alias(
            "n_mid_length"
        ),
    )


_CHUNK_SIZE = 120
_CHUNK_STRIDE = 80


@query(
    "q_llm_chunk",
    oracle=f"""
    SELECT doc_id,
           CAST((start - 1) / {_CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
           substr(text, start, {_CHUNK_SIZE}) AS chunk,
           length(substr(text, start, {_CHUNK_SIZE})) AS chunk_len
    FROM (
        SELECT doc_id, text,
               unnest(range(1, CAST(n_chars AS INTEGER) + 1, {_CHUNK_STRIDE})) AS start
        FROM documents
    )
    """,
)
def q_llm_chunk(spark, sf_dir):
    """C10: fixed-size overlapping character chunks (RAG prep): size 120,
    stride 80 → 40-char overlap. sequence+posexplode is partition-local."""
    d = table(spark, sf_dir, "documents")
    # Guard n_chars <= 0: Spark's sequence(1, 0, +step) raises where
    # DuckDB's range(1, 1, step) yields empty; the CASE makes both engines
    # drop empty/NULL documents (posexplode of NULL emits no rows).
    starts = F.when(
        F.col("n_chars") > 0,
        F.sequence(
            F.lit(1), F.col("n_chars").cast("int"), F.lit(_CHUNK_STRIDE)
        ),
    )
    chunk = F.expr(f"substring(text, start, {_CHUNK_SIZE})")
    return (
        d.select("doc_id", "text", F.posexplode(starts).alias("chunk_idx", "start"))
        .select(
            "doc_id",
            "chunk_idx",
            chunk.alias("chunk"),
            F.length(chunk).alias("chunk_len"),
        )
    )


# C12: tiny in-code polarity lexicon over the fixture vocabulary —
# deterministic, offline (SURVEY.md C12; lexicon-based scoring à la
# EDBT'16 sentiment-on-Spark).
_LEXICON = {
    "fast": 1,
    "big": 1,
    "value": 1,
    "merge": 1,
    "slow": -1,
    "small": -1,
    "filter": -1,
}


@query(
    "q_llm_textscore",
    oracle=f"""
    WITH lex(word, pol) AS (
        VALUES {", ".join(f"('{w}', {p})" for w, p in _LEXICON.items())}
    ),
    tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    )
    SELECT t.doc_id,
           CAST(sum(coalesce(l.pol, 0)) AS BIGINT) AS polarity,
           count(l.word) AS n_matched
    FROM tok t LEFT JOIN lex l ON t.token = l.word
    GROUP BY t.doc_id
    """,
)
def q_llm_textscore(spark, sf_dir):
    """C12: lexicon polarity score per doc. The lexicon is a broadcast
    in-code dim; integer sums → exact cross-engine."""
    lex = spark.createDataFrame(
        list(_LEXICON.items()), schema="word string, pol int"
    )
    tok = tokens(spark, sf_dir, with_lang=False)
    return (
        tok.join(F.broadcast(lex), tok.token == lex.word, "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.coalesce(F.col("pol"), F.lit(0))).cast("bigint").alias("polarity"),
            F.count("word").alias("n_matched"),
        )
    )


# --- C63: link extraction / link-density audit -------------------------------

# Deterministic URL injection (fixture text carries no URLs, like the PII
# corpus in C22): every 3rd doc gains one link whose domain is keyed by
# doc_id, every 9th a second one on a different TLD.
_URL_RE = "https?://[a-z0-9.-]+\\.[a-z]{2,}"


@query(
    "q_llm_link_extract",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id,
               coalesce(text, '')
               || CASE WHEN doc_id % 3 = 0
                       THEN ' see https://site' || (doc_id % 7) || '.com/page'
                       ELSE '' END
               || CASE WHEN doc_id % 9 = 0
                       THEN ' and http://mirror' || (doc_id % 5) || '.org/x'
                       ELSE '' END AS text
        FROM documents
    ),
    links AS (
        SELECT doc_id, unnest(regexp_extract_all(text, '{_URL_RE}')) AS url
        FROM corpus
    ),
    dom AS (
        SELECT doc_id, regexp_replace(url, '^https?://', '') AS domain
        FROM links
    )
    SELECT domain,
           CAST(count(*) AS BIGINT) AS n_links,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM dom GROUP BY domain
    """,
)
def q_llm_link_extract(spark, sf_dir):
    """C63: link extraction + per-domain rollup — the crawl-processing
    staple on both sides of the pipeline: link DENSITY is a quality signal
    (link farms score high), and the harvested (domain, count) table seeds
    the next crawl frontier / domain-level mixture weights (C47 consumes
    exactly such a table). Pure regexp scan expressions in the RE2/Java
    common subset (same literal pattern both engines), explode + rollup
    with map-side combine — at 100 TB the domain table is the only
    shuffled data, ~60 bytes per link. URL injection is deterministic
    (doc_id-keyed, like C22's PII corpus): the operator under test is the
    extraction, the injection just gives it ground truth."""
    d = table(spark, sf_dir, "documents")
    corpus = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" see https://site"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".com/page"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(
                F.lit(" and http://mirror"),
                (F.col("doc_id") % 5).cast("string"),
                F.lit(".org/x"),
            ),
        ).otherwise(F.lit("")),
    )
    links = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(corpus, F.lit(_URL_RE), 0)
        ).alias("url"),
    )
    dom = links.select(
        "doc_id",
        F.regexp_replace("url", "^https?://", "").alias("domain"),
    )
    return dom.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_links"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


# --- C73: tokenizer fertility by language ------------------------------------


@query(
    "q_llm_fertility",
    oracle="""
    WITH d AS (
        SELECT lang,
               len(string_split(coalesce(text, ''), ' ')) AS n_tok,
               length(coalesce(text, '')) AS n_chr
        FROM documents
    )
    SELECT lang,
           CAST(sum(n_tok) AS BIGINT) AS toks,
           CAST(sum(n_chr) AS BIGINT) AS chars,
           CAST((1000 * sum(n_chr)) // greatest(1, sum(n_tok)) AS BIGINT)
               AS chars_per_tok_milli,
           CAST((1000000 * sum(n_tok)) // greatest(1, count(*)) AS BIGINT)
               AS toks_per_doc_micro
    FROM d GROUP BY lang
    """,
)
def q_llm_fertility(spark, sf_dir):
    """C73: tokenizer fertility by language — characters per token and
    tokens per document, per lang, in exact integer milli/micro units.
    This is the multilingual-equity audit a tokenizer build runs on C56's
    output: a language whose fertility is 2-3x the corpus median pays
    2-3x the context budget per sentence (the documented failing of
    English-centric BPE vocabularies), and the mixture weights (C30/C47)
    must compensate in TOKENS, not documents. One map-side-combined
    rollup over scan-stage length expressions — |langs| rows out,
    nothing else shuffles."""
    d = table(spark, sf_dir, "documents").select(
        "lang",
        F.size(F.split(F.coalesce("text", F.lit("")), " ")).alias("n_tok"),
        F.length(F.coalesce("text", F.lit(""))).alias("n_chr"),
    )
    return d.groupBy("lang").agg(
        F.sum("n_tok").cast("bigint").alias("toks"),
        F.sum("n_chr").cast("bigint").alias("chars"),
        F.expr(
            "CAST((1000 * sum(n_chr)) div greatest(1, sum(n_tok)) AS BIGINT)"
        ).alias("chars_per_tok_milli"),
        F.expr(
            "CAST((1000000 * sum(n_tok)) div greatest(1, count(1)) AS BIGINT)"
        ).alias("toks_per_doc_micro"),
    )


# --- C74: corpus diversity (Gini-Simpson, exact integers) --------------------


@query(
    "q_llm_diversity",
    oracle="""
    WITH c AS (
        SELECT coalesce(source, '') AS src, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY src
    ),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS total,
                 CAST(sum(n * n) AS BIGINT) AS sum_sq,
                 CAST(count(*) AS BIGINT) AS n_groups
          FROM c),
    d AS (SELECT n_groups, total, sum_sq,
                 total * total - sum_sq AS diff FROM t)
    SELECT n_groups, total,
           CAST(((1000000 * (diff // total)
                  + (1000000 * (diff % total)) // total) // total)
                AS BIGINT) AS gini_simpson_ppm,
           CAST(((1000000 * (sum_sq // total)
                  + (1000000 * (sum_sq % total)) // total) // total)
                AS BIGINT) AS collision_ppm
    FROM d
    """,
)
def q_llm_diversity(spark, sf_dir):
    """C74: corpus diversity — the Gini-Simpson index 1 - Σp² over source
    shares, plus its complement (the collision/Herfindahl probability),
    both in EXACT integer ppm: Σn² and N² are exact BIGINTs, so unlike a
    Shannon entropy this diversity measure needs no log and can never
    drift across engines or summation orders. The ppm division is the
    exact two-step form floor((1e6·(x div T) + (1e6·(x mod T)) div T) / T)
    — identical to floor(1e6·x / T²) for every x ≤ T² (no multiple of T
    can fall strictly between A and A+1), but never materializing 1e6·T²:
    the arithmetic stays inside BIGINT up to total ≈ 3.0e9 documents
    (where T² itself saturates), not the ~3.0e6 the naive form allowed —
    beyond that, Spark's ANSI mode raises rather than silently widening
    (DuckDB would promote to HUGEINT; the bound keeps both engines in the
    same domain). This is the one-number mixture-health gauge over C53's
    composition table: collision_ppm → 1e6 means one source dominates
    (C47 must rebalance), gini → 1 - 1/k means a uniform k-way mix. One
    |sources|-row rollup + a 1-row aggregate — nothing else moves at any
    scale."""
    c = (
        table(spark, sf_dir, "documents")
        .groupBy(F.coalesce(F.col("source"), F.lit("")).alias("src"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = c.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n").cast("bigint").alias("total"),
        F.sum(F.expr("n * n")).cast("bigint").alias("sum_sq"),
    ).withColumn("diff", F.expr("total * total - sum_sq"))
    return t.select(
        "n_groups",
        "total",
        F.expr(
            "CAST(((1000000 * (diff div total)"
            " + (1000000 * (diff % total)) div total) div total)"
            " AS BIGINT)"
        ).alias("gini_simpson_ppm"),
        F.expr(
            "CAST(((1000000 * (sum_sq div total)"
            " + (1000000 * (sum_sq % total)) div total) div total)"
            " AS BIGINT)"
        ).alias("collision_ppm"),
    )


# --- C76: document-length profile by language --------------------------------


@query(
    "q_llm_length_profile",
    oracle="""
    WITH d AS (
        SELECT lang,
               length(bin(greatest(1,
                   len(string_split(coalesce(text, ''), ' '))))) AS octave
        FROM documents
    )
    SELECT lang, CAST(octave AS BIGINT) AS octave,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM d GROUP BY lang, octave
    """,
)
def q_llm_length_profile(spark, sf_dir):
    """C76: document-length profile — per-language histogram of token
    counts in octaves (C51's exact bit-length binning). This is the
    packing/truncation budget planner: C29's pack size and any
    max-sequence-length cutoff should be chosen off this table (how much
    mass sits above the cutoff, per language — fertility-adjusted via
    C73), and a shifted length profile between crawls is an early
    corruption signal (truncated fetches collapse the high octaves).
    One scan-stage length expression + a (lang, octave) rollup —
    |langs| x ~20 rows out, map-side combined."""
    d = table(spark, sf_dir, "documents").select(
        "lang",
        F.length(
            F.expr(
                "bin(greatest(1, size(split(coalesce(text, ''), ' '))))"
            )
        )
        .cast("bigint")
        .alias("octave"),
    )
    return d.groupBy("lang", "octave").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# --- C81: vocabulary coverage curve ------------------------------------------

_VOCAB_KS = (100, 1000, 10000)


@query(
    "q_llm_vocab_coverage",
    oracle=f"""
    WITH uni AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS c FROM (
            SELECT unnest(string_split(coalesce(text, ''), ' ')) AS tok
            FROM documents
        ) GROUP BY tok
    ),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS n_tok,
                 CAST(count(*) AS BIGINT) AS n_types FROM uni),
    top AS (
        SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rk
        FROM (SELECT tok, c FROM uni ORDER BY c DESC, tok
              LIMIT {max(_VOCAB_KS)})
    )
    SELECT k, n_types,
           CAST(sum(CASE WHEN rk <= k THEN c ELSE 0 END) AS BIGINT) AS mass,
           CAST((1000000 * sum(CASE WHEN rk <= k THEN c ELSE 0 END))
                // max(n.n_tok) AS BIGINT) AS covered_ppm
    FROM top CROSS JOIN n CROSS JOIN (
        SELECT unnest([{", ".join(str(k) for k in _VOCAB_KS)}]) AS k
    )
    GROUP BY k, n_types
    """,
)
def q_llm_vocab_coverage(spark, sf_dir):
    """C81: vocabulary coverage curve — for k in {_VOCAB_KS}, the share of
    total token mass covered by the k most frequent types, in exact
    integer ppm. This is THE tokenizer/vocab-size design table (how much
    of the corpus a k-entry word vocab explains; the complement is the
    OOV rate a fallback byte/char level must absorb) and, read over time,
    a drift alarm (a crawl whose head coverage jumps is template-flooded
    — cross-check C31 repetition and C37 heavy hitters). Plan: type
    counts are one map-side-combined rollup; the head is
    TakeOrderedAndProject limit({max(_VOCAB_KS)}) so the vocab-scale
    counts frame never sorts globally; the rank window runs on the
    ≤{max(_VOCAB_KS)}-row head (constant-bounded, partitionless by
    design); totals ride 1-row broadcasts. Exact while 1e6·N_tok fits
    BIGINT (N ≤ ~9e12 tokens — beyond that, pre-divide N into ppm units
    once, same two-step trick as C74)."""
    uni = (
        table(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.split(F.coalesce(F.col("text"), F.lit("")), " ")
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = uni.agg(
        F.sum("c").cast("bigint").alias("n_tok"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
    )
    kmax = max(_VOCAB_KS)
    head = uni.orderBy(F.col("c").desc(), F.col("tok")).limit(kmax)
    w = Window.orderBy(F.col("c").desc(), F.col("tok"))
    ranked = head.select("c", F.row_number().over(w).alias("rk"))
    ks = F.explode(
        F.array(*[F.lit(k) for k in _VOCAB_KS])
    ).alias("k")
    return (
        ranked.crossJoin(F.broadcast(n))
        .select("c", "rk", "n_tok", "n_types", ks)
        .groupBy("k", "n_types")
        .agg(
            F.sum(F.when(F.col("rk") <= F.col("k"), F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("mass"),
            F.expr(
                "CAST((1000000 * sum(CASE WHEN rk <= k THEN c ELSE 0 END)) "
                "div max(n_tok) AS BIGINT)"
            ).alias("covered_ppm"),
        )
    )


_RAKE_STOPS = ("the", "a")
_RAKE_TOPK = 20


@query(
    "q_llm_rake_keywords",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(w) AS tok,
               unnest(range(1, len(w) + 1)) AS pos
        FROM (
            SELECT doc_id,
                   string_split(coalesce(text, ''), ' ') AS w
            FROM documents
        )
    ),
    seg AS (
        SELECT doc_id, tok, pos,
               sum(CASE WHEN tok IN {_RAKE_STOPS} THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS seg_id,
               tok IN {_RAKE_STOPS} AS is_stop
        FROM toks
    ),
    phrases AS (
        SELECT doc_id, seg_id,
               CAST(count(*) AS BIGINT) AS plen
        FROM seg WHERE NOT is_stop
        GROUP BY doc_id, seg_id
    ),
    scored AS (
        SELECT s.tok,
               CAST(count(*) AS BIGINT) AS freq,
               CAST(sum(p.plen) AS BIGINT) AS degree
        FROM seg s
        JOIN phrases p ON s.doc_id = p.doc_id AND s.seg_id = p.seg_id
        WHERE NOT s.is_stop
        GROUP BY s.tok
    )
    SELECT tok, freq, degree,
           CAST((1000000 * degree) // freq AS BIGINT) AS rake_ppm
    FROM scored
    ORDER BY (1000000 * degree) // freq DESC, tok
    LIMIT {_RAKE_TOPK}
    """,
)
def q_llm_rake_keywords(spark, sf_dir):
    """C95: RAKE keyword scoring (Rose et al., 2010 — Rapid Automatic
    Keyword Extraction): segment each document into candidate phrases at
    stopword boundaries, then score every content token by
    degree/frequency — tokens that live in LONG phrases score high
    (multi-word concept members), tokens that appear alone score low —
    the classic unsupervised keyword extractor, and the corpus-level
    keyword table a domain-tagging pass starts from. Stoplist is the
    fixture's function words {_RAKE_STOPS}; top-{_RAKE_TOPK} by exact
    floor-ppm score with a token tiebreak.

    Determinism: phrase segmentation is a running stopword count over
    the (doc, position) order — position comes from posexplode, exact on
    both engines; degree/freq/score are pure integers. Plan: scan-stage
    explode; segmentation rides ONE (doc_id) window; phrase lengths and
    token scores are two rollups whose keys (doc, seg) and (tok) carry
    integer-only rows; top-k is TakeOrdered. At 100 TB the token rollup
    is vocab-bounded — same envelope as C8's TF-IDF."""
    toks = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(
                F.split(F.coalesce(F.col("text"), F.lit("")), " ")
            ).alias("pos", "tok"),
        )
    )
    is_stop = F.col("tok").isin(*_RAKE_STOPS)
    w = Window.partitionBy("doc_id").orderBy("pos")
    seg = toks.select(
        "doc_id",
        "tok",
        F.sum(is_stop.cast("int")).over(w).alias("seg_id"),
        is_stop.alias("is_stop"),
    )
    content = seg.where(~F.col("is_stop"))
    phrases = content.groupBy("doc_id", "seg_id").agg(
        F.count(F.lit(1)).alias("plen")
    )
    scored = (
        content.join(phrases, ["doc_id", "seg_id"])
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("plen").cast("bigint").alias("degree"),
        )
    )
    rake = F.expr("(1000000 * degree) div freq")
    return (
        scored.select("tok", "freq", "degree", rake.alias("_r"))
        .orderBy(F.col("_r").desc(), "tok")
        .limit(_RAKE_TOPK)
        .select(
            "tok", "freq", "degree", F.col("_r").cast("bigint").alias("rake_ppm")
        )
    )


_CHAR_ALPHA = "abcdefghijklmnopqrstuvwxyz0123456789 "


@query(
    "q_llm_char_entropy",
    oracle=f"""
    WITH counts AS (
        SELECT doc_id,
               list_transform(
                   string_split('{_CHAR_ALPHA}', ''),
                   c -> CAST(len(coalesce(text, ''))
                        - len(replace(coalesce(text, ''), c, ''))
                        AS BIGINT)
               ) AS cnts
        FROM documents WHERE doc_id % 5 = 0
    ),
    t AS (
        SELECT doc_id, cnts,
               CAST(list_sum(cnts) AS BIGINT) AS total
        FROM counts
    )
    SELECT doc_id, total AS n_counted,
           round(CASE WHEN total = 0 THEN 0.0 ELSE list_sum(
               list_transform(cnts, c -> CASE WHEN c > 0
                   THEN -1.0 * (CAST(c AS DOUBLE) / total)
                        * ln(CAST(c AS DOUBLE) / total)
                   ELSE 0.0 END)) END, 6) AS entropy_nats
    FROM t
    """,
)
def q_llm_char_entropy(spark, sf_dir):
    """C97: per-document character entropy — the gibberish/encoding-junk
    detector at the character level (near-zero entropy = one repeated
    character, i.e. padding or a broken extractor; near-uniform entropy
    over the alphabet = random bytes masquerading as text; natural
    language sits in a recognizable band) — the character-granularity
    companion to C17's token-level quality features, and a filter rule
    real crawl pipelines apply before tokenization.

    Determinism: per-class counts are exact integers from the
    length-minus-replace identity (no explode at all); entropy is a
    SEQUENTIAL FOLD over the FIXED 37-class alphabet order — Spark's
    aggregate() and DuckDB's list_sum(list_transform(...)) both reduce
    the list left-to-right (the driver-green C4 dot-product precedent),
    so the float addend order is pinned, and ln rides the B50
    convention, round(6). The %5 slice keeps the driver row bounded.

    Plan: scan-stage expressions only — zero shuffles, embarrassingly
    parallel at any scale; the 37 replace() passes per doc are the cost
    (O(37·len)), the explode-free trade C51 also makes."""
    alpha = list(_CHAR_ALPHA)
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    txt = F.coalesce(F.col("text"), F.lit(""))
    cnts = F.array(
        *[
            (
                F.length(txt) - F.length(F.replace(txt, F.lit(c)))
            ).cast("bigint")
            for c in alpha
        ]
    )
    t = d.select(
        "doc_id",
        cnts.alias("cnts"),
    ).withColumn(
        "total", F.expr("aggregate(cnts, CAST(0 AS BIGINT), (a, c) -> a + c)")
    )
    ent = F.expr(
        "aggregate(cnts, CAST(0.0 AS DOUBLE), (a, c) -> a + "
        "IF(c > 0, -1.0 * (CAST(c AS DOUBLE) / total) "
        "* ln(CAST(c AS DOUBLE) / total), CAST(0.0 AS DOUBLE)))"
    )
    return t.select(
        "doc_id",
        F.col("total").alias("n_counted"),
        F.round(
            F.when(F.col("total") == 0, F.lit(0.0)).otherwise(ent), 6
        ).alias("entropy_nats"),
    )


_ZIPF_TOPK = 100


@query(
    "q_llm_zipf_fit",
    oracle=f"""
    WITH vocab AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(string_split(coalesce(text, ''), ' ')) AS tok
              FROM documents)
        GROUP BY tok
    ),
    top AS (
        SELECT tok, n,
               row_number() OVER (ORDER BY n DESC, tok) AS r
        FROM vocab
        QUALIFY row_number() OVER (ORDER BY n DESC, tok) <= {_ZIPF_TOPK}
    ),
    packed AS (
        SELECT list(n ORDER BY r) AS ns,
               CAST(count(*) AS BIGINT) AS k
        FROM top
    ),
    sums AS (
        SELECT k,
               list_sum(list_transform(range(1, k + 1),
                   i -> ln(CAST(i AS DOUBLE)))) AS sx,
               list_sum(list_transform(range(1, k + 1),
                   i -> ln(CAST(ns[i] AS DOUBLE)))) AS sy,
               list_sum(list_transform(range(1, k + 1),
                   i -> ln(CAST(i AS DOUBLE)) * ln(CAST(i AS DOUBLE))))
                   AS sxx,
               list_sum(list_transform(range(1, k + 1),
                   i -> ln(CAST(i AS DOUBLE)) * ln(CAST(ns[i] AS DOUBLE))))
                   AS sxy
        FROM packed
    )
    SELECT k AS n_ranks,
           round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6)
               AS zipf_slope
    FROM sums
    """,
)
def q_llm_zipf_fit(spark, sf_dir):
    """C98: Zipf-law exponent — OLS slope of ln(count) on ln(rank) over
    the top-{_ZIPF_TOPK} token ranks: natural corpora sit near −1;
    template-flooded corpora flatten toward 0 (a few tokens dominate
    uniformly), boilerplate-stripped fragments steepen — THE one-number
    vocabulary-health fit over C51's spectrum, read alongside C81's
    coverage curve before tokenizer training.

    Determinism: the ranked counts are PACKED into one ordered array
    (list/collect_list sorted by rank) and all four OLS sums run as
    SEQUENTIAL FOLDS over that array — the C97 rule: never a float sum
    over unordered rows; ln per the B50 convention; the final slope is
    one fixed expression, round(6). Plan: the vocab rollup is the only
    corpus-scale stage; top-k is rank-limited (WindowGroupLimit; global
    window bounded to the ≤vocab aggregate, the C28 shape); everything
    after runs on a 1-row {_ZIPF_TOPK}-element frame."""
    toks = table(spark, sf_dir, "documents").select(
        F.explode(
            F.split(F.coalesce(F.col("text"), F.lit("")), " ")
        ).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    top = (
        vocab.orderBy(F.col("n").desc(), "tok")
        .limit(_ZIPF_TOPK)
        .withColumn(
            "r",
            F.row_number().over(
                Window.orderBy(F.col("n").desc(), "tok")
            ),
        )
    )
    packed = top.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(r, n))), x -> x.n)"
        ).alias("ns"),
        F.count(F.lit(1)).alias("k"),
    )
    sums = packed.select(
        "k",
        F.expr(
            "aggregate(sequence(1, CAST(k AS INT)), CAST(0.0 AS DOUBLE), "
            "(a, i) -> a + ln(CAST(i AS DOUBLE)))"
        ).alias("sx"),
        F.expr(
            "aggregate(sequence(1, CAST(k AS INT)), CAST(0.0 AS DOUBLE), "
            "(a, i) -> a + ln(CAST(element_at(ns, i) AS DOUBLE)))"
        ).alias("sy"),
        F.expr(
            "aggregate(sequence(1, CAST(k AS INT)), CAST(0.0 AS DOUBLE), "
            "(a, i) -> a + ln(CAST(i AS DOUBLE)) * ln(CAST(i AS DOUBLE)))"
        ).alias("sxx"),
        F.expr(
            "aggregate(sequence(1, CAST(k AS INT)), CAST(0.0 AS DOUBLE), "
            "(a, i) -> a + ln(CAST(i AS DOUBLE)) "
            "* ln(CAST(element_at(ns, i) AS DOUBLE)))"
        ).alias("sxy"),
    )
    slope = (
        F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return sums.select(
        F.col("k").alias("n_ranks"), F.round(slope, 6).alias("zipf_slope")
    )


@query(
    "q_llm_hapax_rate",
    oracle="""
    WITH vocab AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(string_split(coalesce(text, ''), ' ')) AS tok
              FROM documents)
        GROUP BY tok
    )
    SELECT CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(count(*) FILTER (n = 1) AS BIGINT) AS n_hapax,
           CAST(count(*) FILTER (n = 2) AS BIGINT) AS n_dis,
           CAST((1000000 * count(*) FILTER (n = 1)) // count(*)
                AS BIGINT) AS hapax_ppm
    FROM vocab
    """,
)
def q_llm_hapax_rate(spark, sf_dir):
    """C99: hapax-legomena rate — the share of vocabulary types occurring
    exactly once (plus the dis legomena count, the Good-Turing inputs
    C51's spectrum holds in full): on natural corpora hapax sit near
    40-60% of types and the rate FALLING over crawl rounds is the
    canonical template-flood / dedup-failure alarm (new "documents"
    stop bringing new words); it is also the n1 term every Good-Turing
    unseen-mass estimate (C59's LM smoothing family) starts from. Exact
    integers end-to-end, floor-ppm rate. Plan: one vocab rollup (the C8
    shuffle), a 1-row conditional aggregate — nothing else."""
    toks = table(spark, sf_dir, "documents").select(
        F.explode(
            F.split(F.coalesce(F.col("text"), F.lit("")), " ")
        ).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    return vocab.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum((F.col("n") == 1).cast("bigint")).alias("n_hapax"),
        F.sum((F.col("n") == 2).cast("bigint")).alias("n_dis"),
        F.expr(
            "CAST((1000000 * sum(CAST(n = 1 AS BIGINT))) div count(1) "
            "AS BIGINT)"
        ).alias("hapax_ppm"),
    )


# --- C108: Heaps'-law vocabulary-growth fit -----------------------------------

_HEAPS_STEPS = 10


@query(
    "q_llm_heaps_fit",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id % {_HEAPS_STEPS} AS m,
               unnest(string_split(coalesce(text, ''), ' ')) AS tok
        FROM documents
    ),
    t AS (SELECT m, tok FROM toks WHERE tok <> ''),
    types AS (SELECT tok, min(m) AS m FROM t GROUP BY tok),
    vhist AS (SELECT m, count(*) AS cnt FROM types GROUP BY m),
    nhist AS (SELECT m, count(*) AS cnt FROM t GROUP BY m),
    chk AS (SELECT unnest(range(1, {_HEAPS_STEPS} + 1)) AS c),
    pts AS (
        SELECT c,
               (SELECT CAST(sum(CASE WHEN v.m < c THEN v.cnt ELSE 0 END)
                            AS BIGINT) FROM vhist v) AS v,
               (SELECT CAST(sum(CASE WHEN n.m < c THEN n.cnt ELSE 0 END)
                            AS BIGINT) FROM nhist n) AS n
        FROM chk
    ),
    packed AS (
        SELECT list(n ORDER BY c) AS ns, list(v ORDER BY c) AS vs,
               CAST(count(*) AS BIGINT) AS k,
               max(n) AS total_tokens, max(v) AS vocab
        FROM pts WHERE n > 0 AND v > 0
    ),
    sums AS (
        SELECT k, total_tokens, vocab,
               list_sum(list_transform(range(1, k + 1),
                   i -> ln(CAST(ns[i] AS DOUBLE)))) AS sx,
               list_sum(list_transform(range(1, k + 1),
                   i -> ln(CAST(vs[i] AS DOUBLE)))) AS sy,
               list_sum(list_transform(range(1, k + 1),
                   i -> ln(CAST(ns[i] AS DOUBLE))
                        * ln(CAST(ns[i] AS DOUBLE)))) AS sxx,
               list_sum(list_transform(range(1, k + 1),
                   i -> ln(CAST(ns[i] AS DOUBLE))
                        * ln(CAST(vs[i] AS DOUBLE)))) AS sxy
        FROM packed
    )
    SELECT k AS n_points, total_tokens, vocab,
           round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6)
               AS heaps_beta
    FROM sums
    """,
)
def q_llm_heaps_fit(spark, sf_dir):
    """C108: Heaps'-law exponent — OLS slope of ln(vocab) on ln(tokens)
    over {_HEAPS_STEPS} NESTED corpus prefixes: V(N) ~ K*N^beta, natural
    text near beta ~ 0.5; a flat curve (tiny beta) means the corpus stopped
    contributing new vocabulary (template flood / crawl loop), a steep one
    means encoding junk is minting fake types — C98's Zipf slope measures
    frequency SHAPE, this measures vocabulary GROWTH, and together they
    bracket tokenizer-training corpus health.

    The cumulative-distinct trick: prefixes are doc_id %% {_HEAPS_STEPS}
    residue classes (S_c = docs with residue < c, properly nested), and
    V_c needs no per-prefix recompute — each token TYPE records the
    minimum residue at which it first appears (one corpus-scale rollup),
    then V_c is a 10-row conditional sum over the residue histogram.
    N_c likewise from the per-residue token counts. Determinism: the
    {_HEAPS_STEPS} (N, V) points are packed into ordered arrays and the
    four OLS sums run as sequential folds (the C98 idiom — float addend
    order pinned); everything before the fold is exact BIGINT.

    Scale: ONE corpus-scale shuffle (the type rollup, map-side combined);
    the histograms are {_HEAPS_STEPS} rows, the fit runs on one row."""
    t = (
        table(spark, sf_dir, "documents")
        .select(
            (F.col("doc_id") % _HEAPS_STEPS).alias("m"),
            F.explode(
                F.split(F.coalesce(F.col("text"), F.lit("")), " ")
            ).alias("tok"),
        )
        .where(F.col("tok") != "")
    )
    types = t.groupBy("tok").agg(F.min("m").alias("m"))
    vhist = types.groupBy("m").agg(F.count(F.lit(1)).alias("cnt"))
    nhist = t.groupBy("m").agg(F.count(F.lit(1)).alias("cnt"))
    chk = spark.range(1, _HEAPS_STEPS + 1).select(
        F.col("id").cast("bigint").alias("c")
    )
    # 10 x <=10-row cross joins: both histograms are bounded by the step
    # count, broadcast by construction
    pts = (
        chk.crossJoin(
            F.broadcast(
                vhist.agg(
                    F.collect_list(F.struct("m", "cnt")).alias("ve")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                nhist.agg(
                    F.collect_list(F.struct("m", "cnt")).alias("ne")
                )
            )
        )
        .select(
            "c",
            F.expr(
                "aggregate(ve, CAST(0 AS BIGINT), "
                "(a, e) -> a + IF(e.m < c, e.cnt, CAST(0 AS BIGINT)))"
            ).alias("v"),
            F.expr(
                "aggregate(ne, CAST(0 AS BIGINT), "
                "(a, e) -> a + IF(e.m < c, e.cnt, CAST(0 AS BIGINT)))"
            ).alias("n"),
        )
        .where((F.col("n") > 0) & (F.col("v") > 0))
    )
    packed = pts.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(c, n))), x -> x.n)"
        ).alias("ns"),
        F.expr(
            "transform(array_sort(collect_list(struct(c, v))), x -> x.v)"
        ).alias("vs"),
        F.count(F.lit(1)).alias("k"),
        F.max("n").alias("total_tokens"),
        F.max("v").alias("vocab"),
    )
    sums = packed.select(
        "k",
        "total_tokens",
        "vocab",
        F.expr(
            "aggregate(sequence(1, CAST(k AS INT)), CAST(0.0 AS DOUBLE), "
            "(a, i) -> a + ln(CAST(element_at(ns, i) AS DOUBLE)))"
        ).alias("sx"),
        F.expr(
            "aggregate(sequence(1, CAST(k AS INT)), CAST(0.0 AS DOUBLE), "
            "(a, i) -> a + ln(CAST(element_at(vs, i) AS DOUBLE)))"
        ).alias("sy"),
        F.expr(
            "aggregate(sequence(1, CAST(k AS INT)), CAST(0.0 AS DOUBLE), "
            "(a, i) -> a + ln(CAST(element_at(ns, i) AS DOUBLE)) "
            "* ln(CAST(element_at(ns, i) AS DOUBLE)))"
        ).alias("sxx"),
        F.expr(
            "aggregate(sequence(1, CAST(k AS INT)), CAST(0.0 AS DOUBLE), "
            "(a, i) -> a + ln(CAST(element_at(ns, i) AS DOUBLE)) "
            "* ln(CAST(element_at(vs, i) AS DOUBLE)))"
        ).alias("sxy"),
    )
    slope = (
        F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return sums.select(
        F.col("k").alias("n_points"),
        "total_tokens",
        "vocab",
        F.round(slope, 6).alias("heaps_beta"),
    )


# --- C113: template mining (shared head+tail frames) -------------------------

_TMPL_AFFIX = 6  # tokens of shared prefix/suffix that define a template
_TMPL_MIN_TOKS = 16  # donor/doc length floor (affixes must not overlap)
_TMPL_MIN_DOCS = 3  # cluster size to call it a template
_TMPL_OFFSET = 900_000  # injected form-letter fills (C1 convention)
_TMPL_COPIES = 3  # synthetic fills per every-8th donor


@query(
    "q_llm_template_mine",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, source,
               string_split(coalesce(text, ''), ' ') AS ts
        FROM documents
        WHERE len(string_split(coalesce(text, ''), ' '))
              >= {_TMPL_MIN_TOKS}
    ),
    corpus AS (
        SELECT doc_id, source, ts FROM base
        UNION ALL
        SELECT {_TMPL_OFFSET} + doc_id * 10 + j, source,
               list_concat(
                   list_slice(ts, 1, {_TMPL_AFFIX}),
                   list_concat(
                       ['fill', CAST(doc_id * 10 + j AS VARCHAR)],
                       list_slice(ts, len(ts) - {_TMPL_AFFIX} + 1,
                                  len(ts))))
        FROM base, (SELECT unnest(range(1, {_TMPL_COPIES + 1})) AS j)
        WHERE doc_id % 8 = 0
    ),
    k AS (
        SELECT doc_id, source, CAST(len(ts) AS BIGINT) AS n_toks,
               ('0x' || substr(md5(array_to_string(
                    list_slice(ts, 1, {_TMPL_AFFIX}), ' ')),
                    1, 15))::BIGINT AS head_h,
               ('0x' || substr(md5(array_to_string(
                    list_slice(ts, len(ts) - {_TMPL_AFFIX} + 1, len(ts)),
                    ' ')), 1, 15))::BIGINT AS tail_h
        FROM corpus
    )
    SELECT head_h, tail_h,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(min(doc_id) AS BIGINT) AS exemplar_id,
           CAST(sum(n_toks - 2 * {_TMPL_AFFIX}) // count(*) AS BIGINT)
               AS avg_fill_tokens
    FROM k GROUP BY head_h, tail_h
    HAVING count(*) >= {_TMPL_MIN_DOCS}
    """,
)
def q_llm_template_mine(spark, sf_dir):
    """C113: TEMPLATE mining — clusters of documents sharing their first
    {_TMPL_AFFIX} and last {_TMPL_AFFIX} tokens (form letters, generated
    product pages, boilerplate wrappers with a varying middle). The
    generated-text detector that every span operator misses by design:
    the shared affixes can be SHORTER than any C110 span or C104 chunk,
    and the middles are genuinely different text, so near-dup scores stay
    low while the corpus quietly fills with one template. Clusters key on
    (head-hash, tail-hash); report size, source spread, the smallest
    exemplar id, and the average fill length (floor). The fixture corpus
    gains {_TMPL_COPIES} synthetic fills of every 8th long doc (head +
    'fill <id>' + tail, C1 injection convention) so the operator's target
    exists at every SF; cluster membership includes the donor itself.

    Scale: ONE corpus scan computes both affix hashes beside the read —
    no token explode at all; the single shuffle is the (head_h, tail_h)
    rollup carrying two 8-byte hashes + BIGINTs per doc (text never rides
    the exchange); count/min/sum partial-aggregate map-side. Output is
    bounded by template count, not corpus size."""
    base = parallel_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("ts"),
    ).where(F.size("ts") >= _TMPL_MIN_TOKS)
    fills = base.where(F.col("doc_id") % 8 == 0).crossJoin(
        F.broadcast(
            base.sparkSession.range(1, _TMPL_COPIES + 1).select(
                F.col("id").alias("j")
            )
        )
    ).select(
        (F.lit(_TMPL_OFFSET) + F.col("doc_id") * 10 + F.col("j")).alias(
            "doc_id"
        ),
        "source",
        F.expr(
            f"concat(slice(ts, 1, {_TMPL_AFFIX}), "
            f"array('fill', cast(doc_id * 10 + j as string)), "
            f"slice(ts, size(ts) - {_TMPL_AFFIX} + 1, {_TMPL_AFFIX}))"
        ).alias("ts"),
    )
    corpus = base.unionByName(fills)
    h = lambda e: F.expr(
        f"cast(conv(substring(md5({e}), 1, 15), 16, 10) as bigint)"
    )
    k = corpus.select(
        "doc_id",
        "source",
        F.size("ts").cast("bigint").alias("n_toks"),
        h(f"array_join(slice(ts, 1, {_TMPL_AFFIX}), ' ')").alias("head_h"),
        h(
            f"array_join(slice(ts, size(ts) - {_TMPL_AFFIX} + 1, "
            f"{_TMPL_AFFIX}), ' ')"
        ).alias("tail_h"),
    )
    return (
        k.groupBy("head_h", "tail_h")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.min("doc_id").cast("bigint").alias("exemplar_id"),
            F.expr(
                f"CAST(sum(n_toks - {2 * _TMPL_AFFIX}) div count(1) "
                f"AS BIGINT)"
            ).alias("avg_fill_tokens"),
        )
        .where(F.col("n_docs") >= _TMPL_MIN_DOCS)
    )


# --- C114: n-gram novelty decay (corpus saturation curve) --------------------

_NOV_N = 8  # gram width (tokens), overlapping — the C110 shingle width


@query(
    "q_llm_ngram_novelty_decay",
    oracle=f"""
    WITH g AS (
        SELECT DISTINCT doc_id,
               ('0x' || substr(md5(array_to_string(
                    list_slice(ts, pos, pos + {_NOV_N - 1}), ' ')),
                    1, 15))::BIGINT AS h
        FROM (SELECT doc_id, ts,
                     unnest(range(1, CAST(len(ts) AS INTEGER)
                                     - {_NOV_N} + 2)) AS pos
              FROM (SELECT doc_id,
                           string_split(coalesce(text, ''), ' ') AS ts
                    FROM documents)
              WHERE len(ts) >= {_NOV_N})
    ),
    firsts AS (SELECT h, min(doc_id) AS first_doc FROM g GROUP BY h),
    per_doc AS (
        SELECT g.doc_id,
               count(*) AS n_grams,
               sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                   AS n_novel
        FROM g JOIN firsts f USING (h)
        GROUP BY g.doc_id
    )
    SELECT CAST(length(bin(doc_id + 1)) AS BIGINT) AS octave,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_grams) AS BIGINT) AS n_grams,
           CAST(sum(n_novel) AS BIGINT) AS n_novel,
           CAST((1000000 * sum(n_novel)) // sum(n_grams) AS BIGINT)
               AS novelty_ppm
    FROM per_doc
    GROUP BY length(bin(doc_id + 1))
    """,
)
def q_llm_ngram_novelty_decay(spark, sf_dir):
    """C114: corpus SATURATION curve — the fraction of each ingestion
    octave's distinct {_NOV_N}-grams never seen in any earlier document
    (doc_id = ingestion order, octaves = doubling windows via the
    `length(bin())` identity, C48/C51). The diminishing-returns readout
    data acquisition is planned from: when novelty_ppm flattens, new data
    from this stream buys repetition, not coverage (the C108 Heaps fit is
    the parametric twin; this is the raw curve it fits). First-occurrence
    attribution is exact min(doc_id) per gram — the same accounting as
    C112's line ledger, one level down.

    Scale: gram strings reduce to 60-bit hashes at the scan; the distinct
    and the min(doc_id) rollup shuffle (8-byte hash, BIGINT) pairs and
    both partial-aggregate map-side; per-doc and per-octave rollups are
    downstream of corpus-scale data. ~10 output rows."""
    g = (
        parallel_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("ts"),
        )
        .where(F.size("ts") >= _NOV_N)
        .select(
            "doc_id",
            "ts",
            F.explode(
                F.expr(f"sequence(1, size(ts) - {_NOV_N} + 1)")
            ).alias("pos"),
        )
        .select(
            "doc_id",
            F.expr(
                f"cast(conv(substring(md5(array_join("
                f"slice(ts, pos, {_NOV_N}), ' ')), 1, 15), 16, 10) "
                f"as bigint)"
            ).alias("h"),
        )
        .distinct()
    )
    # Round 14 (guide §2.4): no corpus-scale self-join. The old form joined
    # g back onto its own min(doc_id) rollup to count, per doc, the grams
    # whose first occurrence it owns — but that count is a pure function of
    # the rollup alone: group the |distinct grams| frame by first_doc. Both
    # readouts now hang off g's one distinct exchange (reused), the gram-
    # scale join is gone, and per_doc is assembled from two |docs|-row
    # frames. Identical accounting: every doc in g has an n_grams row, and
    # a doc owning no firsts gets n_novel = 0 exactly like the old sum of
    # zero equality flags.
    n_novel = (
        g.groupBy("h")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy(F.col("first_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_novel"))
    )
    per_doc = (
        g.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_grams"))
        .join(n_novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_novel"), F.lit(0).cast("bigint")).alias(
                "n_novel"
            ),
        )
    )
    return (
        per_doc.groupBy(
            F.length(F.bin(F.col("doc_id") + 1)).cast("bigint").alias(
                "octave"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_grams").cast("bigint").alias("n_grams"),
            F.sum("n_novel").cast("bigint").alias("n_novel"),
            F.expr(
                "CAST((1000000 * sum(n_novel)) div sum(n_grams) AS BIGINT)"
            ).alias("novelty_ppm"),
        )
    )


# --- C120: keyword-stuffing detector (top-token share) -----------------------

_STUFF_FLAG_PPM = 200_000  # flag docs whose top token is >20% of all tokens


@query(
    "q_llm_keyword_stuffing",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               unnest(string_split(coalesce(text, ''), ' ')) AS tok
        FROM documents
    ),
    c AS (
        SELECT doc_id, lang, tok, CAST(count(*) AS BIGINT) AS cnt
        FROM t WHERE tok <> '' GROUP BY doc_id, lang, tok
    ),
    tot AS (
        SELECT doc_id, lang,
               CAST(sum(cnt) AS BIGINT) AS n_tok,
               CAST(max(cnt) AS BIGINT) AS top_cnt
        FROM c GROUP BY doc_id, lang
    )
    SELECT tot.doc_id, tot.lang,
           min(c.tok) AS top_tok,
           tot.top_cnt, tot.n_tok,
           CAST((1000000 * tot.top_cnt) // tot.n_tok AS BIGINT)
               AS top_share_ppm,
           (1000000 * tot.top_cnt) // tot.n_tok >= {_STUFF_FLAG_PPM}
               AS flag_stuffed
    FROM tot JOIN c
      ON c.doc_id = tot.doc_id AND c.cnt = tot.top_cnt
    GROUP BY tot.doc_id, tot.lang, tot.top_cnt, tot.n_tok
    """,
)
def q_llm_keyword_stuffing(spark, sf_dir):
    """C120: KEYWORD-STUFFING detector — each document's most frequent
    token and its share of all tokens (floor ppm), flagged above
    {_STUFF_FLAG_PPM} ppm. The SEO-spam/generated-filler signal the
    adjacent detectors structurally miss: C31's distinct-token ratio dips
    only when MANY tokens repeat, C101's Gopher rules check short tokens
    and stopwords, but a doc that is 30% one keyword sails through both —
    and is exactly what keyword-stuffed spam looks like. Tie-break is
    deterministic: among tokens at the max count, the lexicographically
    smallest is reported (min over the equality join — the same rule on
    both engines, no arg_max tie lottery).

    Scale: the (doc, tok) rollup partial-aggregates map-side (the C7
    explode discipline — explode is partition-local, only (doc, tok,
    cnt) rows shuffle); per-doc max and the tie-break join run on the
    rolled-up frame. No window anywhere."""
    t = (
        parallel_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.split(F.coalesce(F.col("text"), F.lit("")), " ")
            ).alias("tok"),
        )
        .where(F.col("tok") != "")
    )
    c = t.groupBy("doc_id", "lang", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    tot = c.groupBy("doc_id", "lang").agg(
        F.sum("cnt").cast("bigint").alias("n_tok"),
        F.max("cnt").cast("bigint").alias("top_cnt"),
    )
    share = F.expr("(1000000 * top_cnt) div n_tok")
    return (
        tot.join(
            c.select(
                F.col("doc_id").alias("c_doc"),
                F.col("tok"),
                F.col("cnt"),
            ),
            (F.col("doc_id") == F.col("c_doc"))
            & (F.col("cnt") == F.col("top_cnt")),
        )
        .groupBy("doc_id", "lang", "top_cnt", "n_tok")
        .agg(F.min("tok").alias("top_tok"))
        .select(
            "doc_id",
            "lang",
            "top_tok",
            "top_cnt",
            "n_tok",
            share.cast("bigint").alias("top_share_ppm"),
            (share >= _STUFF_FLAG_PPM).alias("flag_stuffed"),
        )
    )


# --- C159: host canonicalization + concentration audit -------------------------


@query(
    "q_llm_url_host_audit",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id,
               concat(coalesce(text, ''),
                      CASE WHEN doc_id % 3 = 0 THEN concat(
                               ' see https://site',
                               CAST(doc_id % 7 AS VARCHAR), '.com/page')
                           ELSE '' END,
                      CASE WHEN doc_id % 9 = 0 THEN concat(
                               ' and http://mirror',
                               CAST(doc_id % 5 AS VARCHAR), '.org/x')
                           ELSE '' END,
                      CASE WHEN doc_id % 5 = 0 THEN concat(
                               ' ref https://www.site',
                               CAST(doc_id % 7 AS VARCHAR), '.com/d')
                           ELSE '' END) AS body
        FROM documents
    ),
    links AS (
        SELECT doc_id, unnest(regexp_extract_all(body, '{_URL_RE}')) AS url
        FROM corpus
    ),
    hosts AS (
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(url, '^https?://', ''),
                   '^www\\.', '') AS host
        FROM links
    ),
    per_host AS (
        SELECT host,
               CAST(count(*) AS BIGINT) AS n_links,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM hosts GROUP BY host
    ),
    tot AS (SELECT CAST(sum(n_links) AS BIGINT) AS total FROM per_host),
    cum AS (
        SELECT host, n_links, n_docs,
               sum(n_links) OVER w AS cum_links,
               CAST(row_number() OVER w AS BIGINT) AS rnk
        FROM per_host
        WINDOW w AS (ORDER BY n_links DESC, host
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT host, n_links, n_docs,
           CAST(1000000 * n_links // t.total AS BIGINT) AS share_ppm,
           CAST(1000000 * cum_links // t.total AS BIGINT) AS cum_share_ppm,
           CAST(rnk AS INTEGER) AS rnk
    FROM cum CROSS JOIN tot t
    """,
)
def q_llm_url_host_audit(spark, sf_dir):
    """C159: host canonicalization + crawl-concentration audit — the
    frontier-hygiene report every crawl pipeline runs before mixing:
    scheme-stripped, www-folded host keys (so www.siteN.com and
    siteN.com count as ONE host — the dedup C63's raw-domain rollup
    misses), per-host link/doc counts, exact floor-ppm share, and the
    cumulative concentration curve (cum_share_ppm at rank k = how much
    of the crawl the top-k hosts own — the "one host is 40% of the
    corpus" red flag that forces per-host caps; C47's mixture weights
    consume exactly this table). URL injection is deterministic
    (doc_id-keyed, C63's pattern) so extraction has ground truth, and
    the www variants collide with their bare hosts by construction,
    making the fold observable.

    Plan/scale: regexp scan expressions (RE2/Java common subset), one
    host-keyed rollup (map-side combined, ~40 bytes/host on the wire),
    a 1-row total broadcast, and the concentration curve via
    :func:`global_running_sums` (range-repartition prefix sums — no
    single-partition window even at web-scale |hosts|). Exact integer
    floor-ppm per D2; ties broken (links desc, host asc) with binary
    collation per D9."""
    d = table(spark, sf_dir, "documents")
    body = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" see https://site"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".com/page"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(
                F.lit(" and http://mirror"),
                (F.col("doc_id") % 5).cast("string"),
                F.lit(".org/x"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" ref https://www.site"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".com/d"),
            ),
        ).otherwise(F.lit("")),
    )
    links = d.select(
        "doc_id",
        F.explode(F.regexp_extract_all(body, F.lit(_URL_RE), 0)).alias("url"),
    )
    hosts = links.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("url", "^https?://", ""), "^www\\.", ""
        ).alias("host"),
    )
    per_host = hosts.groupBy("host").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_links"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
    )
    tot = per_host.agg(F.sum("n_links").cast("bigint").alias("total"))
    cum = global_running_sums(
        per_host.withColumn("one", F.lit(1).cast("bigint")),
        [F.col("n_links").desc(), F.col("host").asc()],
        {"cum_links": "n_links", "rnk": "one"},
    )
    return cum.crossJoin(F.broadcast(tot)).select(
        "host",
        "n_links",
        "n_docs",
        F.expr("CAST(1000000 * n_links div total AS BIGINT)").alias(
            "share_ppm"
        ),
        F.expr("CAST(1000000 * cum_links div total AS BIGINT)").alias(
            "cum_share_ppm"
        ),
        F.col("rnk").cast("int").alias("rnk"),
    )


# --- C160: readability scoring -------------------------------------------------

_FK_COLLEGE = 12.0  # Flesch-Kincaid grade threshold for the "college" band


@query(
    "q_llm_readability",
    oracle=f"""
    WITH per_doc AS (
        SELECT lang,
               len(string_split(coalesce(text, ''), ' ')) AS words,
               greatest(1, len(regexp_extract_all(
                   coalesce(text, ''), '[.!?]+'))) AS sentences,
               len(regexp_extract_all(
                   coalesce(text, ''), '[aeiouy]+')) AS syllables
        FROM documents
    ),
    scored AS (
        SELECT lang, words, sentences, syllables,
               0.39 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
               + 11.8 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE))
               - 15.59 AS fk
        FROM per_doc WHERE words > 0
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(words) AS BIGINT) AS words,
           CAST(sum(sentences) AS BIGINT) AS sentences,
           CAST(sum(syllables) AS BIGINT) AS syllables,
           round(0.39 * (CAST(sum(words) AS DOUBLE)
                         / CAST(sum(sentences) AS DOUBLE))
                 + 11.8 * (CAST(sum(syllables) AS DOUBLE)
                           / CAST(sum(words) AS DOUBLE))
                 - 15.59, 6) AS fk_grade,
           CAST(1000000 * sum(CASE WHEN fk > {_FK_COLLEGE} THEN 1 ELSE 0 END)
                // count(*) AS BIGINT) AS college_ppm
    FROM scored GROUP BY lang
    """,
)
def q_llm_readability(spark, sf_dir):
    """C160: readability profile per language — Flesch-Kincaid grade
    level from whitespace words (D1's primitive), sentence-terminator
    runs, and vowel-cluster syllable estimates (the standard
    dictionary-free proxy). Readability is a quality-mixture axis the
    C17/C101 gates don't cover: too-low-grade text is trivial/listy,
    too-high is OCR garbage, and a pretraining mixture reports its
    grade distribution (per-lang macro grade + share of docs in the
    college band).

    Cross-engine shape: all three counts are exact BIGINTs from
    regexp_extract_all in the RE2/Java common subset; the group-level
    grade is ONE ratio-of-sums float expression over exact ints
    (round 6); the per-doc college-band test compares a per-doc
    IEEE-exact expression against a constant, released as exact
    floor-ppm (D2). Plan/scale: scan-stage expressions only, one
    |langs|-key rollup with map-side combine — the same
    shape as C73's fertility table."""
    d = table(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        F.size(F.split(F.coalesce("text", F.lit("")), " ")).alias("words"),
        F.greatest(
            F.lit(1),
            F.size(
                F.regexp_extract_all(
                    F.coalesce("text", F.lit("")), F.lit("[.!?]+"), 0
                )
            ),
        ).alias("sentences"),
        F.size(
            F.regexp_extract_all(
                F.coalesce("text", F.lit("")), F.lit("[aeiouy]+"), 0
            )
        ).alias("syllables"),
    ).where(F.col("words") > 0)
    scored = per_doc.withColumn(
        "fk",
        F.expr(
            "0.39 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))"
            " + 11.8 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE))"
            " - 15.59"
        ),
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("words").cast("bigint").alias("words"),
        F.sum("sentences").cast("bigint").alias("sentences"),
        F.sum("syllables").cast("bigint").alias("syllables"),
        F.expr(
            "round(0.39 * (CAST(sum(words) AS DOUBLE)"
            " / CAST(sum(sentences) AS DOUBLE))"
            " + 11.8 * (CAST(sum(syllables) AS DOUBLE)"
            " / CAST(sum(words) AS DOUBLE))"
            " - 15.59, 6)"
        ).alias("fk_grade"),
        F.expr(
            f"CAST(1000000 * sum(CASE WHEN fk > {_FK_COLLEGE} THEN 1"
            " ELSE 0 END) div count(*) AS BIGINT)"
        ).alias("college_ppm"),
    )


# --- C161: whitespace / control-character anomaly scan -------------------------


@query(
    "q_llm_whitespace_anomaly",
    oracle="""
    WITH corpus AS (
        SELECT doc_id,
               concat(coalesce(text, ''),
                      CASE WHEN doc_id % 13 = 0 THEN
                          concat('  ', chr(9),
                                 repeat(' ', CAST(doc_id % 7 AS INTEGER) + 2))
                      ELSE '' END,
                      CASE WHEN doc_id % 17 = 0 THEN chr(7) ELSE '' END)
                   AS body
        FROM documents
    ),
    sig AS (
        SELECT doc_id,
               coalesce(list_max(list_transform(
                   regexp_extract_all(body, ' +'), x -> length(x))), 0)
                   AS max_space_run,
               CAST(length(body) - length(replace(body, chr(9), ''))
                    AS BIGINT) AS tab_cnt,
               CAST(len(regexp_extract_all(body,
                   '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]')) AS BIGINT)
                   AS ctrl_cnt,
               CAST(length(body) - length(replace(body, ' ', ''))
                    AS BIGINT) AS n_spaces,
               CAST(greatest(1, length(body)) AS BIGINT) AS n_chars
        FROM corpus
    )
    SELECT doc_id,
           CAST(max_space_run AS BIGINT) AS max_space_run,
           tab_cnt, ctrl_cnt,
           CAST(1000000 * n_spaces // n_chars AS BIGINT) AS space_ppm,
           CASE WHEN max_space_run >= 2 OR tab_cnt > 0 OR ctrl_cnt > 0
                THEN 1 ELSE 0 END AS anomalous
    FROM sig
    """,
)
def q_llm_whitespace_anomaly(spark, sf_dir):
    """C161: whitespace/control-character anomaly scan — the
    format-hygiene filter the C17/C101 quality gates assume has already
    run: tabs, control characters, and multi-space runs mark
    table-dumps, OCR artifacts, terminal logs, and format-bomb spam
    (C4/Gopher drop such docs before any model-based scoring). Per doc:
    longest space run, tab count, C0-control count (excluding \\t \\n
    \\r), exact floor-ppm space density, and the composite anomaly
    flag. Anomaly injection is deterministic (doc_id-keyed, C22/C63's
    ground-truth pattern: a tab+space-run tail every 13th doc, a BEL
    control char every 17th) since the fixture corpus is uniformly
    single-spaced.

    Cross-engine shape: every signal is an exact integer from
    length/replace arithmetic or RE2/Java-common regexp_extract_all;
    the space-run maximum maps the match list through length() —
    higher-order array functions on both engines — with the
    empty-list NULL coalesced (D6's shape). Plan/scale: scan-stage
    expressions only, zero shuffles, |docs| output rows; the match
    lists die inside the projection and never ride an exchange."""
    d = table(spark, sf_dir, "documents")
    body = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.lit("  \t"),
                F.expr("repeat(' ', CAST(doc_id % 7 AS INT) + 2)"),
            ),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 17 == 0, F.lit("\x07")).otherwise(
            F.lit("")
        ),
    )
    sig = d.select(
        "doc_id",
        body.alias("body"),
    ).select(
        "doc_id",
        F.coalesce(
            F.expr(
                "array_max(transform("
                "regexp_extract_all(body, ' +', 0), x -> length(x)))"
            ),
            F.lit(0),
        ).alias("max_space_run"),
        (
            F.length("body") - F.length(F.expr("replace(body, '\\t', '')"))
        )
        .cast("bigint")
        .alias("tab_cnt"),
        F.size(
            F.regexp_extract_all(
                F.col("body"),
                F.lit("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"),
                0,
            )
        )
        .cast("bigint")
        .alias("ctrl_cnt"),
        (F.length("body") - F.length(F.expr("replace(body, ' ', '')")))
        .cast("bigint")
        .alias("n_spaces"),
        F.greatest(F.lit(1), F.length("body")).cast("bigint").alias(
            "n_chars"
        ),
    )
    return sig.select(
        "doc_id",
        F.col("max_space_run").cast("bigint").alias("max_space_run"),
        "tab_cnt",
        "ctrl_cnt",
        F.expr("CAST(1000000 * n_spaces div n_chars AS BIGINT)").alias(
            "space_ppm"
        ),
        F.when(
            (F.col("max_space_run") >= 2)
            | (F.col("tab_cnt") > 0)
            | (F.col("ctrl_cnt") > 0),
            1,
        )
        .otherwise(0)
        .alias("anomalous"),
    )


# --- C162: code-vs-prose detection ---------------------------------------------

_CODE_KW_RE = "\\b(def|return|const|var|import|class|function|lambda)\\b"
_CODE_SNIPPET_A = " def get_value(x): return x[0];"
_CODE_SNIPPET_B = " const fooBar = {a: 1}; varName.doThing();"


@query(
    "q_llm_code_detect",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, source,
               concat(coalesce(text, ''),
                      CASE WHEN doc_id % 19 = 0
                           THEN '{_CODE_SNIPPET_A}' ELSE '' END,
                      CASE WHEN doc_id % 23 = 0
                           THEN '{_CODE_SNIPPET_B}' ELSE '' END) AS body
        FROM documents
    ),
    sig AS (
        SELECT doc_id, source,
               CAST(len(regexp_extract_all(body, '{_CODE_KW_RE}'))
                    AS BIGINT) AS kw_cnt,
               CAST(length(body) - length(replace(body, ';', ''))
                    AS BIGINT) AS semi_cnt,
               CAST(len(regexp_extract_all(body, '[{{}}()\\[\\]]'))
                    AS BIGINT) AS brace_cnt,
               CAST(len(regexp_extract_all(body, '[a-z][A-Z]'))
                    AS BIGINT) AS camel_cnt
        FROM corpus
    ),
    scored AS (
        SELECT doc_id, source, kw_cnt, semi_cnt, brace_cnt, camel_cnt,
               3 * kw_cnt + 2 * semi_cnt + brace_cnt + camel_cnt AS score
        FROM sig
    )
    SELECT doc_id, kw_cnt, semi_cnt, brace_cnt, camel_cnt,
           CAST(score AS BIGINT) AS score,
           CASE WHEN score >= 6 THEN 1 ELSE 0 END AS is_code
    FROM scored
    """,
)
def q_llm_code_detect(spark, sf_dir):
    """C162: code-vs-prose detection — the mixture-composition axis the
    C16 language-ID and C17/C101 quality gates are blind to (code is
    "high-quality English" to a stopword filter, yet a pretraining
    mixture budgets code and prose separately): keyword hits
    (def/return/const/...), semicolon density, bracket density, and
    camelCase transitions, folded into the weighted score
    3·kw + 2·semi + brace + camel with the ≥6 decision threshold.
    Injection is deterministic (doc_id-keyed, C22/C63's ground-truth
    pattern: a Python-ish fragment every 19th doc, a JS-ish fragment
    every 23rd — doc_id 0 and multiples of 437 get both, crossing the
    threshold from two directions) since the fixture corpus is
    uniformly lowercase prose.

    Cross-engine shape: every signal is an exact BIGINT from
    length/replace arithmetic or regexp_extract_all in the RE2/Java
    common subset (\\b word boundaries are common to both); the score
    is integer arithmetic; no floats anywhere. Plan/scale: scan-stage
    expressions only, zero shuffles, |docs| output rows."""
    d = table(spark, sf_dir, "documents")
    body = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(F.col("doc_id") % 19 == 0, F.lit(_CODE_SNIPPET_A)).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 23 == 0, F.lit(_CODE_SNIPPET_B)).otherwise(
            F.lit("")
        ),
    )
    sig = d.select("doc_id", body.alias("body")).select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.col("body"), F.lit(_CODE_KW_RE), 0)
        )
        .cast("bigint")
        .alias("kw_cnt"),
        (F.length("body") - F.length(F.expr("replace(body, ';', '')")))
        .cast("bigint")
        .alias("semi_cnt"),
        F.size(
            F.regexp_extract_all(
                F.col("body"), F.lit("[{}()\\[\\]]"), 0
            )
        )
        .cast("bigint")
        .alias("brace_cnt"),
        F.size(
            F.regexp_extract_all(F.col("body"), F.lit("[a-z][A-Z]"), 0)
        )
        .cast("bigint")
        .alias("camel_cnt"),
    )
    scored = sig.withColumn(
        "score",
        (
            3 * F.col("kw_cnt")
            + 2 * F.col("semi_cnt")
            + F.col("brace_cnt")
            + F.col("camel_cnt")
        ).cast("bigint"),
    )
    return scored.select(
        "doc_id",
        "kw_cnt",
        "semi_cnt",
        "brace_cnt",
        "camel_cnt",
        "score",
        F.when(F.col("score") >= 6, 1).otherwise(0).alias("is_code"),
    )


# --- C165: per-host document-cap enforcement -----------------------------------

_HOST_CAP = 40


@query(
    "q_llm_host_cap_enforce",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id,
               concat(coalesce(text, ''),
                      CASE WHEN doc_id % 3 = 0 THEN concat(
                               ' see https://site',
                               CAST(doc_id % 7 AS VARCHAR), '.com/page')
                           ELSE '' END,
                      CASE WHEN doc_id % 9 = 0 THEN concat(
                               ' and http://mirror',
                               CAST(doc_id % 5 AS VARCHAR), '.org/x')
                           ELSE '' END,
                      CASE WHEN doc_id % 5 = 0 THEN concat(
                               ' ref https://www.site',
                               CAST(doc_id % 7 AS VARCHAR), '.com/d')
                           ELSE '' END) AS body
        FROM documents
    ),
    links AS (
        SELECT doc_id, unnest(regexp_extract_all(body, '{_URL_RE}')) AS url
        FROM corpus
    ),
    host_docs AS (
        SELECT DISTINCT
               regexp_replace(
                   regexp_replace(url, '^https?://', ''),
                   '^www\\.', '') AS host,
               doc_id
        FROM links
    ),
    ranked AS (
        SELECT host, doc_id,
               row_number() OVER (PARTITION BY host ORDER BY doc_id)
                   AS rn
        FROM host_docs
    )
    SELECT host,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN rn <= {_HOST_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN rn > {_HOST_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped
    FROM ranked
    GROUP BY host
    """,
)
def q_llm_host_cap_enforce(spark, sf_dir):
    """C165: per-host document-cap ENFORCEMENT — the fix C159's
    concentration audit argues for, as an operator: keep at most
    {_HOST_CAP} docs per canonical host (scheme-stripped, www-folded —
    C159's key), chosen by the deterministic doc_id-ascending rank
    (the C1 keep-smallest-id convention), and ledger kept/dropped per
    host. This is the crawl-side cap every production mixture applies
    before C47's source weights see the counts — without it one
    link-farm host IS the mixture. Same deterministic URL injection as
    C159 so the cap provably bites (site* hosts exceed the cap at
    sf0.01+; mirror* hosts stay under it).

    Plan/scale: the (host, doc) membership frame dedupes on bounded
    keys (~48 bytes), the cap rank is a window PARTITIONED by host
    (each partition is one host's doc list — the quantity being
    capped, so the frame is bounded by the cap ledger's own subject),
    and the release is a |hosts|-key rollup. At web scale the rank
    input is exactly the frame a cap must materialize anyway; no
    partitionless window, no text on any exchange."""
    d = table(spark, sf_dir, "documents")
    body = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" see https://site"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".com/page"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(
                F.lit(" and http://mirror"),
                (F.col("doc_id") % 5).cast("string"),
                F.lit(".org/x"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" ref https://www.site"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".com/d"),
            ),
        ).otherwise(F.lit("")),
    )
    host_docs = (
        d.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(body, F.lit(_URL_RE), 0)
            ).alias("url"),
        )
        .select(
            "doc_id",
            F.regexp_replace(
                F.regexp_replace("url", "^https?://", ""), "^www\\.", ""
            ).alias("host"),
        )
        .distinct()
    )
    w = Window.partitionBy("host").orderBy(F.col("doc_id").asc())
    ranked = host_docs.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("host").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("rn") <= _HOST_CAP, 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.sum(F.when(F.col("rn") > _HOST_CAP, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dropped"),
    )


# --- C167: per-source unigram entropy ------------------------------------------

# Identical-text per-TYPE quantized c*ln(c) contribution (micro-nats).
_UNI_Q = (
    "CAST(round(1000000.0 * CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))"
    " AS BIGINT)"
)


@query(
    "q_llm_unigram_entropy",
    oracle=f"""
    WITH toks AS (
        SELECT source, unnest(string_split(coalesce(text, ''), ' ')) AS tok
        FROM documents
    ),
    counts AS (
        SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY source, tok
    ),
    per_src AS (
        SELECT source,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum({_UNI_Q}) AS BIGINT) AS clnc_micro
        FROM counts GROUP BY source
    )
    SELECT source, n_tokens, n_types, clnc_micro,
           round(ln(CAST(n_tokens AS DOUBLE))
                 - CAST(clnc_micro AS DOUBLE) / 1000000.0
                   / CAST(n_tokens AS DOUBLE),
                 6) AS entropy_nats
    FROM per_src
    """,
)
def q_llm_unigram_entropy(spark, sf_dir):
    """C167: per-source unigram (token-level) Shannon entropy — the
    vocabulary-usage diversity axis between C97 (CHARACTER entropy per
    doc: encoding/garbage detector) and C74 (Gini-Simpson over SOURCE
    shares: corpus composition): a source whose token entropy is far
    below its peers is template/boilerplate-dominated even when every
    individual doc passes the quality gates — the aggregate signal
    C31's per-doc repetition score cannot see. Identity used:
    H = ln N − (Σ c·ln c)/N over per-type counts, so the only
    transcendental work is one ln per DISTINCT type.

    Cross-engine float shape: each type's c·ln(c) is ONE identical-text
    expression over an exact BIGINT count, quantized to micro-nats per
    TYPE (the D14 ln pin), so the per-source sums crossing the engines
    are pure BIGINT (released as `clnc_micro` — the exact anchor);
    the final H is one float expression over two exact ints, round(6).
    Plan/scale: one (source, token) rollup with map-side combine (the
    C27 inverted-index shuffle shape — ~40 bytes per type on the
    wire), then a |sources|-key rollup. Nothing scales past the type
    table."""
    toks = table(spark, sf_dir, "documents").select(
        "source",
        F.explode(
            F.split(F.coalesce("text", F.lit("")), " ")
        ).alias("tok"),
    )
    counts = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    per_src = counts.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.expr(_UNI_Q)).cast("bigint").alias("clnc_micro"),
    )
    return per_src.select(
        "source",
        "n_tokens",
        "n_types",
        "clnc_micro",
        F.expr(
            "round(ln(CAST(n_tokens AS DOUBLE))"
            " - CAST(clnc_micro AS DOUBLE) / 1000000.0"
            " / CAST(n_tokens AS DOUBLE), 6)"
        ).alias("entropy_nats"),
    )
