"""Sub-document span statistics (SURVEY.md §2 rows C50–C51): repeated-chunk
mining and the vocabulary frequency spectrum.

Doc-level dedup (C1/C13/C21) misses boilerplate REGIONS shared by otherwise
distinct documents — headers, license blocks, navigation chrome. C50 finds
them at chunk granularity. C51 is the vocabulary's count-of-counts (the
Good-Turing / Zipf-audit statistic) in exact integer octaves via the same
``length(bin(n))`` identity as C48 — corpus-health metrics with no float
anywhere.
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import get_or_build, parallel_table, table
from .iterative import parquet_barrier, scratch_dir

_SPAN_W = 32  # chunk width (chars), non-overlapping
_SPAN_TOP_K = 50
_SPAN_MIN_DOCS = 2


@query(
    "q_llm_repeated_chunks",
    oracle=f"""
    WITH ch AS (
        SELECT doc_id, substr(text, s, {_SPAN_W}) AS chunk
        FROM (SELECT doc_id, text,
                     unnest(range(1, CAST(len(text) AS INTEGER) + 1,
                                  {_SPAN_W})) AS s
              FROM documents)
        WHERE len(substr(text, s, {_SPAN_W})) = {_SPAN_W}
    ),
    rep AS (
        SELECT chunk,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_occ
        FROM ch GROUP BY chunk
        HAVING count(DISTINCT doc_id) >= {_SPAN_MIN_DOCS}
    )
    SELECT chunk, n_docs, n_occ, rk FROM (
        SELECT chunk, n_docs, n_occ,
               row_number() OVER (ORDER BY n_docs DESC, chunk ASC) AS rk
        FROM rep
    ) WHERE rk <= {_SPAN_TOP_K}
    """,
)
def q_llm_repeated_chunks(spark, sf_dir):
    """C50: repeated-chunk mining — fixed-width ({_SPAN_W}-char,
    non-overlapping) chunks that recur across at least {_SPAN_MIN_DOCS}
    distinct documents, ranked by spread. This is the boilerplate detector
    between doc-level dedup and token statistics: shared license headers,
    navigation chrome and template scaffolding surface here even when
    every containing document is unique (the winnowing/suffix-array use
    case at its cheapest useful granularity). Chunking is a scan-stage
    explode over length(text) — derived from the text column itself, not
    the n_chars metadata column, so both engines compute offsets from the
    same bytes; the rollup groups by chunk with map-side partial counts (at
    100 TB group by a chunk HASH and keep one exemplar via min(chunk) —
    32-byte keys instead of raw spans on the shuffle); the global top-k is
    orderBy().limit(K) — TakeOrderedAndProject, a per-partition K-row heap
    plus one K-row driver merge — and only the <=K survivors see the rank
    window, so no vocab-scale frame ever funnels into one task."""
    ch = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "text",
            F.explode(
                F.expr(
                    f"sequence(1, greatest(1, CAST(length(text) AS INT)), {_SPAN_W})"
                )
            ).alias("s"),
        )
        .select(
            "doc_id", F.substring("text", F.col("s"), _SPAN_W).alias("chunk")
        )
        .where(F.length("chunk") == _SPAN_W)
    )
    rep = (
        ch.groupBy("chunk")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .where(F.col("n_docs") >= _SPAN_MIN_DOCS)
    )
    top = rep.orderBy(F.col("n_docs").desc(), F.col("chunk").asc()).limit(
        _SPAN_TOP_K
    )
    w = Window.orderBy(F.col("n_docs").desc(), F.col("chunk").asc())
    return top.select(
        "chunk", "n_docs", "n_occ", F.row_number().over(w).alias("rk")
    )


@query(
    "q_llm_freq_spectrum",
    oracle="""
    WITH t AS (
        SELECT unnest(string_split(coalesce(text, ''), ' ')) AS tok
        FROM documents
    ),
    freq AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS n_occ
        FROM t WHERE tok <> '' GROUP BY tok
    )
    SELECT CAST(length(bin(n_occ)) AS BIGINT) AS octave,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(n_occ) AS BIGINT) AS n_tokens
    FROM freq GROUP BY length(bin(n_occ))
    """,
)
def q_llm_freq_spectrum(spark, sf_dir):
    """C51: vocabulary frequency spectrum (count-of-counts in octaves) —
    how many distinct token TYPES occur 1x, 2-3x, 4-7x, ... (octave =
    bit-length of the occurrence count, the C48 ``bin()`` identity; exact
    integers, no log). This is the Good-Turing smoothing input and the
    Zipf-health audit a corpus build watches: a bulge in low octaves means
    OCR noise / tokenizer breakage, a missing tail means over-dedup. Plan:
    one (tok) rollup with map-side partial counts, then a ~60-row
    re-aggregation — at 100 TB the second stage is negligible and the
    first is the same vocab rollup C48/C37 already run (a pipeline shares
    it)."""
    freq = (
        table(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.split(F.coalesce(F.col("text"), F.lit("")), " ")
            ).alias("tok")
        )
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    return (
        freq.groupBy(
            F.length(F.expr("bin(n_occ)")).cast("bigint").alias("octave")
        )
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum("n_occ").cast("bigint").alias("n_tokens"),
        )
    )


_BPE_TOP_K = 20


@query(
    "q_llm_bpe_pairs",
    oracle=f"""
    WITH words AS (
        SELECT unnest(string_split(coalesce(text, ''), ' ')) AS w
        FROM documents
    ),
    pairs AS (
        SELECT unnest(list_transform(range(1, len(w)),
                                     i -> substr(w, i, 2))) AS pair
        FROM words WHERE len(w) >= 2
    )
    SELECT pair, cnt, rk FROM (
        SELECT pair, CAST(count(*) AS BIGINT) AS cnt,
               row_number() OVER (ORDER BY count(*) DESC, pair ASC) AS rk
        FROM pairs GROUP BY pair
    ) WHERE rk <= {_BPE_TOP_K}
    """,
)
def q_llm_bpe_pairs(spark, sf_dir):
    """C55: BPE first-merge pair counting — the corpus-wide adjacent
    symbol-pair frequencies over the character-level initial state (Sennrich
    et al., ACL 2016): the top pair IS the first merge a BPE tokenizer
    trained on this corpus would learn, and the ranked list is the merge-
    candidate queue. Subsequent merge rounds re-run the same shape over the
    re-segmented corpus, so this operator is the per-iteration workhorse of
    distributed tokenizer training (the multi-round loop is
    q_llm_bpe_train3). Pairs are generated partition-local from word
    substrings (scan-stage explode — no join), counted with map-side
    combine, and the global top-{_BPE_TOP_K} is orderBy().limit(K)
    (TakeOrderedAndProject: per-partition K-row heaps, K-row driver merge)
    with the rank window computed only over the <=K survivors — after a
    merge round the pair vocabulary grows toward |vocab|², so never sort
    the full counts frame in one task."""
    words = table(spark, sf_dir, "documents").select(
        F.explode(
            F.split(F.coalesce(F.col("text"), F.lit("")), " ")
        ).alias("w")
    ).where(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.col("cnt").desc(), F.col("pair").asc()).limit(
        _BPE_TOP_K
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("pair").asc())
    return top.select("pair", "cnt", F.row_number().over(w).alias("rk"))


# --- C56: iterative BPE training (3 merge rounds) ----------------------------

_BPE_ROUNDS = 3
# Merge placeholders: one private-use char per learned merge, so the word
# state stays ONE CHARACTER PER SYMBOL. That encoding is what makes both
# the pair count (2-char substrings) and the greedy merge (plain replace(),
# left-to-right non-overlapping on both engines — verified 'aaa'->'Xa',
# 'aaaa'->'XX') exact BPE with no symbol-boundary ambiguity: with
# multi-char symbols, replace('ab c', 'b c', ..) would merge across a
# boundary (measured on both engines).
_BPE_PH_CODE = [0xE000, 0xE001]
_BPE_PH = [chr(c) for c in _BPE_PH_CODE]


def _bpe_train_oracle() -> str:
    ctes = [
        """w0 AS (
        SELECT w FROM (
            SELECT unnest(string_split(coalesce(text, ''), ' ')) AS w
            FROM documents
        ) WHERE len(w) >= 2
    )"""
    ]
    for k in (1, 2, 3):
        ctes.append(
            f"""p{k} AS (
        SELECT pair, CAST(count(*) AS BIGINT) AS cnt FROM (
            SELECT unnest(list_transform(range(1, len(w)),
                                         i -> substr(w, i, 2))) AS pair
            FROM w{k - 1} WHERE len(w) >= 2
        ) GROUP BY pair
    ),
    m{k} AS (SELECT pair, cnt FROM p{k} ORDER BY cnt DESC, pair LIMIT 1)"""
        )
        if k < _BPE_ROUNDS:
            ctes.append(
                f"""w{k} AS (
        SELECT replace(w, (SELECT pair FROM m{k}),
                       chr({_BPE_PH_CODE[k - 1]})) AS w
        FROM w{k - 1}
    )"""
            )
    # Decode round-k pairs back to corpus text: expand placeholders in
    # DESCENDING merge order (ph2 may expand to a string containing ph1).
    dec = {
        1: "pair",
        2: f"replace(pair, chr({_BPE_PH_CODE[0]}), (SELECT pair FROM m1))",
        3: (
            f"replace(replace(pair, chr({_BPE_PH_CODE[1]}), "
            f"(SELECT pair FROM m2)), chr({_BPE_PH_CODE[0]}), "
            f"(SELECT pair FROM m1))"
        ),
    }
    arms = [
        f"SELECT {k} AS rk, {dec[k]} AS merged, cnt FROM m{k}"
        for k in (1, 2, 3)
    ]
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    "
        + "\n    UNION ALL ".join(arms)
    )


@query("q_llm_bpe_train3", oracle=_bpe_train_oracle())
def q_llm_bpe_train3(spark, sf_dir):
    """C56: distributed BPE TRAINING, {_BPE_ROUNDS} merge rounds — the
    iterative loop behind a real tokenizer build (Sennrich et al., ACL
    2016), extending C55's single pair count: each round counts adjacent
    symbol pairs over the whole corpus, learns the most frequent pair
    (count desc, pair asc tie-break — fully deterministic), and greedily
    re-segments every word before the next count. Word state is one char
    per symbol (learned merges become private-use placeholder chars), so
    re-segmentation is a plain left-to-right replace() — exact BPE greedy
    merge semantics with no boundary ambiguity, identical on both engines.

    Iteration machinery is the C21 pattern (llm/iterative.py): each
    round's re-segmented corpus is MATERIALIZED TO PARQUET — reliable
    store, executor-loss-safe, lineage truncated so round-k plans stay
    flat. The per-round workhorse (the pair-count shuffle with map-side
    combine) is exactly C55's shape; only the learned merge row — 1 row,
    like a k-means centroid set — ever reaches the driver, via a
    TakeOrderedAndProject limit(1), and rides back into round k+1's plan
    as a replace literal. At 100 TB each round is one scan + one
    partial-agg shuffle over pair counts; the corpus rows themselves never
    shuffle. Rounds are inherently sequential (BPE's definition), so N
    rounds = N passes — real trainers batch-count many candidate pairs per
    pass to amortize, which this shape extends to directly (take top-M
    non-conflicting merges from the same TakeOrdered)."""
    words = (
        parallel_table(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.split(F.coalesce(F.col("text"), F.lit("")), " ")
            ).alias("w")
        )
        .where(F.length("w") >= 2)
    )
    stage = scratch_dir(spark, "spark_bpe_rounds")
    cur = words
    merges: list[tuple[str, int]] = []
    for k in range(1, _BPE_ROUNDS + 1):
        counts = (
            cur.where(F.length("w") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, length(w) - 1), "
                        "i -> substring(w, i, 2))"
                    )
                ).alias("pair")
            )
            .groupBy("pair")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        top = (
            counts.orderBy(F.col("cnt").desc(), F.col("pair").asc())
            .limit(1)
            .first()
        )
        if top is None:  # no pairs left anywhere (degenerate corpus)
            break
        merges.append((top["pair"], top["cnt"]))
        if k < _BPE_ROUNDS:
            out = os.path.join(stage, f"w{k}")
            cur.select(
                F.replace(
                    F.col("w"),
                    F.lit(merges[-1][0]),
                    F.lit(_BPE_PH[k - 1]),
                ).alias("w")
            ).write.parquet(out)
            cur = spark.read.schema("w STRING").parquet(out)

    def _decode(s: str) -> str:
        for j in range(len(_BPE_PH) - 1, -1, -1):
            if j < len(merges) - 1:
                s = s.replace(_BPE_PH[j], merges[j][0])
        return s

    rows = [
        (k, _decode(pair), cnt)
        for k, (pair, cnt) in enumerate(merges, start=1)
    ]
    return spark.createDataFrame(rows, "rk bigint, merged string, cnt bigint")


# --- C56b: batched top-M BPE merge selection ---------------------------------

_BPE_BATCH_CAND = 16  # ranked candidate pool per pass
_BPE_BATCH_M = 8  # merges accepted per pass


def bpe_words(spark, sf_dir):
    """The shared BPE word state: whitespace-split tokens of >=2 chars."""
    return (
        parallel_table(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.split(F.coalesce(F.col("text"), F.lit("")), " ")
            ).alias("w")
        )
        .where(F.length("w") >= 2)
    )


def bpe_batch_select(words, n_cand=_BPE_BATCH_CAND, m=_BPE_BATCH_M):
    """Select up to ``m`` merges from ONE pair-count pass: rank the top
    ``n_cand`` pairs (count desc, pair asc), then keep a pair only if it
    shares NO character (symbol) with ANY higher-ranked candidate — the
    prefix-independent batching rule. Merging a pair only perturbs counts
    of pairs that share one of its symbols (the overlap consumes or
    produces exactly those neighbours), so a char-disjoint accepted set
    applied together is bit-identical to applying the same merges in
    sequential single-merge rounds — the property tests/test_properties.py
    pins. (Prefix-independence is deliberately conservative vs true greedy
    — rejected candidates also block — because "no higher-RANKED conflict"
    is a join predicate both engines evaluate identically, while greedy
    "no higher-ACCEPTED conflict" is inherently sequential.)

    Returns (sel_rk, pair, cnt, cand_rk). Plan: the candidate pool is a
    TakeOrderedAndProject limit(n_cand) off the map-side-combined pair
    counts — the corpus never sorts globally — and every later step
    (self-anti-join, rank windows) touches only the ≤n_cand-row pool."""
    counts = (
        words.where(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1), "
                    "i -> substring(w, i, 2))"
                )
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = counts.orderBy(F.col("cnt").desc(), F.col("pair").asc()).limit(
        n_cand
    )
    w_rk = Window.orderBy(F.col("cnt").desc(), F.col("pair").asc())
    cand = top.select(
        "pair", "cnt", F.row_number().over(w_rk).cast("bigint").alias("cand_rk")
    )
    t, u = cand.alias("t"), cand.alias("u")
    conflict = (F.col("u.cand_rk") < F.col("t.cand_rk")) & (
        (F.instr(F.col("t.pair"), F.expr("substring(u.pair, 1, 1)")) > 0)
        | (F.instr(F.col("t.pair"), F.expr("substring(u.pair, 2, 1)")) > 0)
    )
    acc = t.join(F.broadcast(u), conflict, "left_anti")
    w_sel = Window.orderBy("cand_rk")
    return (
        acc.withColumn(
            "sel_rk", F.row_number().over(w_sel).cast("bigint")
        )
        .where(F.col("sel_rk") <= m)
        .select("sel_rk", "pair", "cnt", "cand_rk")
    )


@query(
    "q_llm_bpe_batch",
    oracle=f"""
    WITH words AS (
        SELECT unnest(string_split(coalesce(text, ''), ' ')) AS w
        FROM documents
    ),
    pairs AS (
        SELECT unnest(list_transform(range(1, len(w)),
                                     i -> substr(w, i, 2))) AS pair
        FROM words WHERE len(w) >= 2
    ),
    cand AS (
        SELECT pair, cnt,
               row_number() OVER (ORDER BY cnt DESC, pair ASC) AS cand_rk
        FROM (
            SELECT pair, CAST(count(*) AS BIGINT) AS cnt
            FROM pairs GROUP BY pair
            ORDER BY cnt DESC, pair ASC LIMIT {_BPE_BATCH_CAND}
        )
    ),
    acc AS (
        SELECT t.pair, t.cnt, t.cand_rk FROM cand t
        WHERE NOT EXISTS (
            SELECT 1 FROM cand u
            WHERE u.cand_rk < t.cand_rk
              AND (strpos(t.pair, substr(u.pair, 1, 1)) > 0
                   OR strpos(t.pair, substr(u.pair, 2, 1)) > 0)
        )
    )
    SELECT sel_rk, pair, cnt, CAST(cand_rk AS BIGINT) AS cand_rk FROM (
        SELECT pair, cnt, cand_rk,
               row_number() OVER (ORDER BY cand_rk) AS sel_rk
        FROM acc
    ) WHERE sel_rk <= {_BPE_BATCH_M}
    """,
)
def q_llm_bpe_batch(spark, sf_dir):
    """C56b (round-4 verdict item 4, C56's docstringed next step): BATCHED
    BPE merge learning — one corpus pass yields up to {_BPE_BATCH_M}
    mutually char-disjoint merges instead of C56's one merge per pass,
    cutting tokenizer-training passes for a V-merge vocab from V to
    ~V/{_BPE_BATCH_M}. Candidates are the top {_BPE_BATCH_CAND} pairs;
    acceptance is the prefix-independent rule (no shared symbol with any
    higher-ranked candidate), whose batch-equals-sequential guarantee is
    property-tested. At 100 TB the pass cost is C55's count shuffle; the
    selection logic runs on a {_BPE_BATCH_CAND}-row broadcast pool, and the
    re-segmentation pass (per-round parquet, C56's machinery) amortizes
    over {_BPE_BATCH_M} merges at once."""
    return bpe_batch_select(bpe_words(spark, sf_dir))


# --- C59: bigram LM estimation ----------------------------------------------

_LM_MIN_BIGRAM = 5  # report conditionals only for bigrams seen >= 5 times


@query(
    "q_llm_ngram_lm",
    oracle=f"""
    WITH w AS (
        SELECT string_split(coalesce(text, ''), ' ') AS ws FROM documents
    ),
    uni AS (
        SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM (
            SELECT unnest(ws) AS w1 FROM w
        ) GROUP BY w1
    ),
    bg AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM (
            SELECT unnest(ws[1:len(ws)-1]) AS w1,
                   unnest(ws[2:len(ws)]) AS w2
            FROM w WHERE len(ws) >= 2
        ) GROUP BY w1, w2
        HAVING count(*) >= {_LM_MIN_BIGRAM}
    )
    SELECT b.w1, b.w2, b.c2, u.c1,
           CAST((1000000 * b.c2) // u.c1 AS BIGINT) AS cond_ppm
    FROM bg b JOIN uni u ON b.w1 = u.w1
    """,
)
def q_llm_ngram_lm(spark, sf_dir):
    """C59: bigram language-model estimation — conditional probabilities
    P(w2|w1) = c(w1 w2)/c(w1) in integer ppm, for bigrams seen >=
    {_LM_MIN_BIGRAM} times. This is the count-based LM the data-quality
    stack actually trains (the KenLM-style filter scoring in CCNet-class
    pipelines starts from exactly these counts), one level up from C28's
    unconditional ranking. Both count tables explode scan-locally (the
    bigram stream via a zip of two array slices — no self-join), aggregate
    with map-side combine, and meet in an equi-join on w1 — at fixture
    scale the unigram side broadcasts; at 100 TB both sides are
    vocab-scale tables bucketed on w1 and the join is shuffle-free. The
    ratio stays in exact integer ppm: bit-identical across engines,
    partitionings and summation orders."""
    w = table(spark, sf_dir, "documents").select(
        F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("ws")
    )
    uni = (
        w.select(F.explode("ws").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    bg = (
        w.where(F.size("ws") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("ws"), 1, F.size("ws") - 1).alias("w1"),
                    F.slice(F.col("ws"), 2, F.size("ws") - 1).alias("w2"),
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
        .where(F.col("c2") >= _LM_MIN_BIGRAM)
    )
    return bg.join(uni, "w1").select(
        "w1",
        "w2",
        "c2",
        "c1",
        F.expr("CAST((1000000 * c2) div c1 AS BIGINT)").alias("cond_ppm"),
    )


@query(
    "q_llm_lm_score",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ws
        FROM documents
    ),
    bg_all AS (
        SELECT doc_id, w1, w2 FROM (
            SELECT doc_id, unnest(ws[1:len(ws)-1]) AS w1,
                   unnest(ws[2:len(ws)]) AS w2
            FROM w WHERE len(ws) >= 2
        )
    ),
    uni AS (
        SELECT w1, CAST(count(*) AS BIGINT) AS c1
        FROM (SELECT unnest(ws) AS w1 FROM w) GROUP BY w1
    ),
    lm AS (
        SELECT b.w1, b.w2,
               CAST((1000000 * count(*)) // max(u.c1) AS BIGINT) AS cond_ppm
        FROM bg_all b JOIN uni u ON b.w1 = u.w1
        GROUP BY b.w1, b.w2
        HAVING count(*) >= {_LM_MIN_BIGRAM}
    )
    SELECT d.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(coalesce(lm.cond_ppm, 0)) // count(*) AS BIGINT)
               AS score_ppm
    FROM bg_all d LEFT JOIN lm ON d.w1 = lm.w1 AND d.w2 = lm.w2
    GROUP BY d.doc_id
    """,
)
def q_llm_lm_score(spark, sf_dir):
    """C62: LM-based document scoring — each document's mean bigram
    conditional probability (integer ppm) under the corpus bigram LM
    (C59), the CCNet-style fluency filter: boilerplate and templated text
    scores high-predictable, OCR noise and gibberish score near zero.
    Unseen bigrams (below the LM's count floor) back off to 0 ppm — the
    harshest penalty, stated rather than smoothed, so the score is an
    exact integer function of the corpus. Composition shape: the SAME
    scan-local zip-sliced bigram stream feeds both the LM estimation
    rollup and the per-doc scoring join (a pipeline materializes the LM
    once); the score join keys on (w1, w2) — bucketable at vocab scale —
    and the final rollup shuffles one (doc_id, ppm) pair per bigram. At
    100 TB the LM table is the only state shared across shards, exactly
    like the real KenLM filter's model broadcast."""
    w = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("ws")
    )
    bg_all = (
        w.where(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("ws"), 1, F.size("ws") - 1).alias("w1"),
                    F.slice(F.col("ws"), 2, F.size("ws") - 1).alias("w2"),
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    uni = (
        w.select(F.explode("ws").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    lm = (
        bg_all.join(uni, "w1")
        .groupBy("w1", "w2")
        .agg(
            F.expr(
                "CAST((1000000 * count(1)) div max(c1) AS BIGINT)"
            ).alias("cond_ppm"),
            F.count(F.lit(1)).alias("c2"),
        )
        .where(F.col("c2") >= _LM_MIN_BIGRAM)
        .select("w1", "w2", "cond_ppm")
    )
    return (
        bg_all.join(lm, ["w1", "w2"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.expr(
                "CAST(sum(coalesce(cond_ppm, 0)) div count(1) AS BIGINT)"
            ).alias("score_ppm"),
        )
    )


# --- C65: winnowing fingerprints (MOSS) --------------------------------------

_WIN_K = 8  # k-gram width (chars)
_WIN_W = 4  # winnowing window (k-grams)
_WIN_TOP = 50


@query(
    "q_llm_winnow",
    oracle=f"""
    WITH hs AS (
        SELECT doc_id,
               list_transform(range(1, len(coalesce(text, '')) - {_WIN_K} + 2),
                   i -> ('0x' || substr(md5(substr(text, i, {_WIN_K})),
                                        1, 15))::BIGINT) AS h
        FROM documents WHERE len(coalesce(text, '')) >= {_WIN_K + _WIN_W - 1}
    ),
    fps AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, len(h) - {_WIN_W} + 2),
                   j -> list_min(h[j:j+{_WIN_W - 1}])))) AS fp
        FROM hs
    ),
    shared AS (
        SELECT fp, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_occ
        FROM fps GROUP BY fp
        HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT fp, n_docs, n_occ, rk FROM (
        SELECT fp, n_docs, n_occ,
               row_number() OVER (ORDER BY n_docs DESC, fp ASC) AS rk
        FROM shared
    ) WHERE rk <= {_WIN_TOP}
    """,
)
def q_llm_winnow(spark, sf_dir):
    """C65: winnowing fingerprints (Schleimer, Wilkerson, Aiken — SIGMOD
    2003, the MOSS algorithm): hash every {_WIN_K}-char k-gram, slide a
    {_WIN_W}-wide window over the hash sequence and keep each window's
    MINIMUM — the guarantee is that any match of length >=
    {_WIN_K + _WIN_W - 1} shares at least one selected fingerprint, making
    this the SHIFT-ROBUST boilerplate detector (C50's aligned chunks miss
    a license header indented by one space; winnowing does not). Shared
    fingerprints roll up per fp with the C50 spread ranking. Everything
    through fingerprint selection is a SCAN-STAGE array fold (k-gram
    hashes + window minima as nested transform/array_min — no explode
    until the selected set, which winnowing bounds to ~2/(w+1) of
    positions); hashes are the first 60 bits of md5 so both engines
    compute identical integers. The rank window sees only the
    TakeOrdered-limited survivors at 100 TB — here the shared-fp frame is
    ranked directly (bounded by HAVING >= 2) through the same
    orderBy+limit shape as C28/C50."""
    n_hash = F.expr(
        f"transform(sequence(1, length(coalesce(text, '')) - {_WIN_K} + 1), "
        f"i -> cast(conv(substring(md5(substring(text, i, {_WIN_K})), 1, 15), "
        f"16, 10) as bigint))"
    )
    hs = (
        parallel_table(spark, sf_dir, "documents")
        .where(F.length(F.coalesce("text", F.lit(""))) >= _WIN_K + _WIN_W - 1)
        .select("doc_id", n_hash.alias("h"))
    )
    fps = hs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, size(h) - {_WIN_W} + 1), "
                    f"j -> array_min(slice(h, j, {_WIN_W})))"
                )
            )
        ).alias("fp"),
    )
    shared = (
        fps.groupBy("fp")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .where(F.col("n_docs") >= 2)
    )
    top = shared.orderBy(F.col("n_docs").desc(), F.col("fp").asc()).limit(
        _WIN_TOP
    )
    w = Window.orderBy(F.col("n_docs").desc(), F.col("fp").asc())
    return top.select(
        "fp", "n_docs", "n_occ", F.row_number().over(w).alias("rk")
    )


# --- C104: per-document boilerplate-span density (dup-span ratio) -------------

_DSR_DROP_PPM = 300_000  # drop a doc once >=30% of its chunks are shared


@query(
    "q_llm_dup_span_ratio",
    oracle=f"""
    WITH ch AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(substr(text, s, {_SPAN_W})), 1, 15))::BIGINT
                   AS h
        FROM (SELECT doc_id, lang, text,
                     unnest(range(1, CAST(len(text) AS INTEGER) + 1,
                                  {_SPAN_W})) AS s
              FROM documents)
        WHERE len(substr(text, s, {_SPAN_W})) = {_SPAN_W}
    ),
    rep AS (
        SELECT h, count(DISTINCT doc_id) AS n_docs FROM ch GROUP BY h
    )
    SELECT doc_id, lang,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN n_docs >= {_SPAN_MIN_DOCS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boiler,
           CAST((1000000 * sum(CASE WHEN n_docs >= {_SPAN_MIN_DOCS}
                                    THEN 1 ELSE 0 END)) // count(*)
                AS BIGINT) AS boiler_ppm,
           (1000000 * sum(CASE WHEN n_docs >= {_SPAN_MIN_DOCS}
                               THEN 1 ELSE 0 END)) // count(*)
               >= {_DSR_DROP_PPM} AS flag_drop
    FROM ch JOIN rep USING (h)
    GROUP BY doc_id, lang
    """,
)
def q_llm_dup_span_ratio(spark, sf_dir):
    """C104: per-document boilerplate DENSITY — the document-level readout
    of C50's corpus-level repeated-chunk mining (the RefinedWeb / CCNet
    line-dedup decision flipped to doc granularity: a doc whose spans are
    mostly shared with other docs is template chrome even when its exact
    hash and near-dup fingerprints are unique). Chunks are the same
    {_SPAN_W}-char non-overlapping windows as C50; a chunk is *boiler* if
    it occurs in >= {_SPAN_MIN_DOCS} distinct docs; each doc reports its
    chunk count, boiler count, floor-ppm boiler share, and the drop
    verdict at {_DSR_DROP_PPM} ppm.

    Scale: the chunk string never rides an exchange — both the frequency
    rollup and the join back to chunk occurrences key on the portable
    60-bit md5 prefix (`conv(substr(md5(..)))`, the C65/C19 idiom), so
    the two shuffles carry (8-byte hash, ids) regardless of span width.
    The per-doc rollup partial-aggregates map-side. Everything is exact
    integers (floor ppm), no floats anywhere."""
    ch = (
        parallel_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            "text",
            F.explode(
                F.expr(
                    f"sequence(1, greatest(1, CAST(length(text) AS INT)), "
                    f"{_SPAN_W})"
                )
            ).alias("s"),
        )
        .select(
            "doc_id",
            "lang",
            F.substring("text", F.col("s"), _SPAN_W).alias("chunk"),
        )
        .where(F.length("chunk") == _SPAN_W)
        .select(
            "doc_id",
            "lang",
            F.expr(
                "cast(conv(substring(md5(chunk), 1, 15), 16, 10) as bigint)"
            ).alias("h"),
        )
    )
    rep = ch.groupBy("h").agg(F.countDistinct("doc_id").alias("n_docs"))
    boiler = (F.col("n_docs") >= _SPAN_MIN_DOCS).cast("bigint")
    per_doc = (
        ch.join(rep, "h")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(boiler).alias("n_boiler"),
        )
    )
    ppm = F.expr("CAST((1000000 * n_boiler) div n_chunks AS BIGINT)")
    return per_doc.select(
        "doc_id",
        "lang",
        "n_chunks",
        F.col("n_boiler").cast("bigint").alias("n_boiler"),
        ppm.alias("boiler_ppm"),
        (ppm >= _DSR_DROP_PPM).alias("flag_drop"),
    )


# --- C110: exact substring dedup (variable-position long shared spans) -------

_SSD_K = 8  # tokens per shingle (overlapping, every position)
_SSD_MIN_SPAN = 40  # report shared spans of >= this many tokens
_SSD_MIN_RUN = _SSD_MIN_SPAN - _SSD_K + 1  # consecutive-shingle run length
_SSD_DF_CAP = 32  # stoplist: shingles in more docs than this are template
_SSD_OFFSET = 800_000  # injected excerpt docs (C1 convention)
_SSD_EXC_START = 6  # excerpt start token (1-based) — variable-position span
_SSD_EXC_LEN = 48  # excerpt tokens (>= _SSD_MIN_SPAN)
_SSD_MIN_TOKS = _SSD_EXC_START + _SSD_EXC_LEN + 2  # donor length floor


@query(
    "q_llm_substring_dup",
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               string_split(coalesce(text, ''), ' ') AS ts
        FROM documents
    ),
    corpus AS (
        SELECT doc_id, ts FROM base
        UNION ALL
        SELECT doc_id + {_SSD_OFFSET},
               list_slice(ts, {_SSD_EXC_START},
                          {_SSD_EXC_START + _SSD_EXC_LEN - 1})
        FROM base
        WHERE doc_id % 5 = 0 AND len(ts) >= {_SSD_MIN_TOKS}
    ),
    sh AS (
        SELECT doc_id, CAST(pos AS BIGINT) AS pos,
               ('0x' || substr(md5(array_to_string(
                    list_slice(ts, pos, pos + {_SSD_K - 1}), ' ')),
                    1, 15))::BIGINT AS h
        FROM (SELECT doc_id, ts,
                     unnest(range(1, CAST(len(ts) AS INTEGER)
                                     - {_SSD_K} + 2)) AS pos
              FROM corpus WHERE len(ts) >= {_SSD_K})
    ),
    keep AS (
        SELECT h FROM sh GROUP BY h
        HAVING count(DISTINCT doc_id) BETWEEN 2 AND {_SSD_DF_CAP}
    ),
    m AS (SELECT sh.doc_id, sh.pos, sh.h FROM sh JOIN keep USING (h)),
    hits AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos - b.pos AS diag, a.pos AS pos_a
        FROM m a JOIN m b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    runs AS (
        SELECT doc_a, doc_b, diag,
               pos_a - row_number() OVER (
                   PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS grp
        FROM hits
    ),
    spans AS (
        SELECT doc_a, doc_b,
               CAST(count(*) + {_SSD_K} - 1 AS BIGINT) AS span_tokens
        FROM runs GROUP BY doc_a, doc_b, diag, grp
        HAVING count(*) >= {_SSD_MIN_RUN}
    )
    SELECT doc_a, doc_b,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(max(span_tokens) AS BIGINT) AS max_span_tokens,
           CAST(sum(span_tokens) AS BIGINT) AS total_dup_tokens
    FROM spans GROUP BY doc_a, doc_b
    """,
)
def q_llm_substring_dup(spark, sf_dir):
    """C110: EXACT substring dedup — variable-position long shared spans
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better": the ExactSubstr criterion, >=N-token verbatim overlap at ANY
    offset in either doc). Completes the span ladder: C50/C104 see only
    fixed non-overlapping 32-char chunks, so a copied paragraph that
    starts mid-chunk slips both; here every {_SSD_K}-token shingle at
    every position is hashed, and a shared span of L tokens appears as a
    run of L-{_SSD_K}+1 consecutive matching shingles on one DIAGONAL
    (pos_a - pos_b constant) — the gapless local-alignment identity, so
    run detection is the classic islands trick (pos - row_number), no
    per-row iteration anywhere. The fixture corpus gains a
    {_SSD_EXC_LEN}-token excerpt of every 5th long doc starting at token
    {_SSD_EXC_START} (C1 injection convention) — a true variable-position
    overlap (diag != 0) that doc-level and fixed-chunk dedup both miss.
    Output: per ordered pair, the qualifying span count, longest span and
    total duplicated tokens (>= {_SSD_MIN_SPAN} tokens each).

    Scale: shingle strings never ride an exchange — the df rollup, the
    stoplist filter and the pair join all key on the portable 60-bit md5
    prefix (C104 idiom; 8-byte keys). Candidate volume is sum(df^2) over
    shingles with 2 <= df <= {_SSD_DF_CAP}: the cap is the PPJoin-style
    stoplist — super-frequent shingles are template chrome (C50's
    territory) and would otherwise quadratically blow up the join at
    100 TB; dropping them is deterministic and mirrored exactly in the
    oracle. Run grouping shuffles (doc_a, doc_b, diag, pos) — four
    BIGINTs/hit. The suffix-array construction of the paper is replaced
    by the shingle-diagonal formulation precisely because it is
    shuffle-native: no global sort, no cross-partition suffix order."""
    spans = _ssd_spans_cached(spark, sf_dir)
    return spans.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.max("span_tokens").cast("bigint").alias("max_span_tokens"),
        F.sum("span_tokens").cast("bigint").alias("total_dup_tokens"),
    )


def _ssd_corpus(spark, sf_dir):
    """Shared C110/C111 corpus: documents tokenized + the injected
    variable-position excerpt of every 5th long doc (C1 convention)."""
    base = parallel_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("ts"),
    )
    synth = base.where(
        (F.col("doc_id") % 5 == 0) & (F.size("ts") >= _SSD_MIN_TOKS)
    ).select(
        (F.col("doc_id") + _SSD_OFFSET).alias("doc_id"),
        F.slice("ts", _SSD_EXC_START, _SSD_EXC_LEN).alias("ts"),
    )
    return base.unionByName(synth)


def _ssd_spans(m):
    """Shared C110/C111 qualifying-span frame: one row per maximal
    diagonal run of >= {_SSD_MIN_RUN} matching shingles, with the run's
    token interval in BOTH docs ([a_start, a_end] and the diag-shifted
    b twin). Takes the kept-shingle frame ``m`` (round 14 — built once by
    :func:`_ssd_kept_shingles_cached` and shared with the C110s rung);
    lazy on purpose — each consumer's plan fuses the chain; the heavy
    stages (shingle rollup, pair join) shuffle 8-byte hashes and BIGINT
    positions only."""
    hits = (
        m.alias("a")
        .join(
            m.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (F.col("a.pos") - F.col("b.pos")).alias("diag"),
            F.col("a.pos").alias("pos_a"),
        )
    )
    run_w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    return (
        hits.withColumn("grp", F.col("pos_a") - F.row_number().over(run_w))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            (F.count(F.lit(1)) + _SSD_K - 1).alias("span_tokens"),
            F.min("pos_a").alias("a_start"),
            (F.max("pos_a") + _SSD_K - 1).alias("a_end"),
        )
        .where(F.col("span_tokens") >= _SSD_MIN_SPAN)
    )


def _ssd_spans_cached(spark, sf_dir):
    """C110/C111 shared state: the qualifying-span frame, held per corpus
    in the family-state store so the second consumer skips the shingle
    rollup + pair join. Long-lived family state, so it goes through the
    parquet barrier (restart-safe); the frame is one row per >=40-token
    overlap, cheap to write."""
    return get_or_build(
        spark,
        "substring_spans",
        sf_dir,
        lambda: parquet_barrier(
            spark,
            _ssd_spans(_ssd_kept_shingles_cached(spark, sf_dir)),
            scratch_dir(spark, "spark_ssd_spans"),
            "spans",
        ),
    )



# --- C111: duplicated-span coverage (the Lee et al. "fraction removed") ------

_SCOV_HALF_PPM = 500_000  # flag docs that are half verbatim-duplicated

_SSD_CTES = f"""
    WITH base AS (
        SELECT doc_id,
               string_split(coalesce(text, ''), ' ') AS ts
        FROM documents
    ),
    corpus AS (
        SELECT doc_id, ts FROM base
        UNION ALL
        SELECT doc_id + {_SSD_OFFSET},
               list_slice(ts, {_SSD_EXC_START},
                          {_SSD_EXC_START + _SSD_EXC_LEN - 1})
        FROM base
        WHERE doc_id % 5 = 0 AND len(ts) >= {_SSD_MIN_TOKS}
    ),
    sh AS (
        SELECT doc_id, CAST(pos AS BIGINT) AS pos,
               ('0x' || substr(md5(array_to_string(
                    list_slice(ts, pos, pos + {_SSD_K - 1}), ' ')),
                    1, 15))::BIGINT AS h
        FROM (SELECT doc_id, ts,
                     unnest(range(1, CAST(len(ts) AS INTEGER)
                                     - {_SSD_K} + 2)) AS pos
              FROM corpus WHERE len(ts) >= {_SSD_K})
    ),
    keep AS (
        SELECT h FROM sh GROUP BY h
        HAVING count(DISTINCT doc_id) BETWEEN 2 AND {_SSD_DF_CAP}
    ),
    m AS (SELECT sh.doc_id, sh.pos, sh.h FROM sh JOIN keep USING (h)),
    hits AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos - b.pos AS diag, a.pos AS pos_a
        FROM m a JOIN m b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    runs AS (
        SELECT doc_a, doc_b, diag, pos_a,
               pos_a - row_number() OVER (
                   PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS grp
        FROM hits
    ),
    spans AS (
        SELECT doc_a, doc_b, diag,
               CAST(count(*) + {_SSD_K} - 1 AS BIGINT) AS span_tokens,
               min(pos_a) AS a_start,
               max(pos_a) + {_SSD_K} - 1 AS a_end
        FROM runs GROUP BY doc_a, doc_b, diag, grp
        HAVING count(*) >= {_SSD_MIN_RUN}
    )
"""


@query(
    "q_llm_span_coverage",
    oracle=_SSD_CTES
    + f""",
    -- DISTINCT is load-bearing: duplicate (s, e) intervals make the
    -- (s, e) sort order non-total, and the pmax and island windows sort
    -- INDEPENDENTLY -- tied rows may swap between the two evaluations,
    -- carrying an opens-island flag to the wrong position and splitting
    -- one island into two (observed on both engines before the fix).
    iv AS (
        SELECT DISTINCT doc_id, s, e FROM (
            SELECT doc_a AS doc_id, a_start AS s, a_end AS e FROM spans
            UNION ALL
            SELECT doc_b, a_start - diag, a_end - diag FROM spans
        )
    ),
    sw AS (
        SELECT doc_id, s, e,
               max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS pmax
        FROM iv
    ),
    isl AS (
        SELECT doc_id, s, e,
               sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY s, e
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS island
        FROM sw
    ),
    cov AS (
        SELECT doc_id, island,
               CAST(max(e) - min(s) + 1 AS BIGINT) AS covered
        FROM isl GROUP BY doc_id, island
    ),
    tot AS (
        SELECT doc_id, CAST(sum(covered) AS BIGINT) AS dup_tokens
        FROM cov GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(len(c.ts) AS BIGINT) AS n_toks, t.dup_tokens,
           CAST((1000000 * t.dup_tokens) // len(c.ts) AS BIGINT)
               AS coverage_ppm,
           (1000000 * t.dup_tokens) // len(c.ts) >= {_SCOV_HALF_PPM}
               AS flag_half_dup
    FROM tot t JOIN corpus c USING (doc_id)
    """,
)
def q_llm_span_coverage(spark, sf_dir):
    """C111: per-document DUPLICATED-SPAN COVERAGE — the Lee et al. 2022
    "fraction of tokens removed by ExactSubstr" statistic, per doc: the
    share of each document covered by the UNION of its >= {_SSD_MIN_SPAN}
    -token verbatim overlaps (C110's spans, both sides of every pair).
    The decision readout of the span ladder: C110 says WHO overlaps, this
    says HOW MUCH of each doc is someone else's text — the keep/trim/drop
    signal (flag at {_SCOV_HALF_PPM} ppm = half the doc is verbatim
    elsewhere). Overlapping spans must not double-count, so the interval
    union runs as the classic sweep: sort intervals, running max-end over
    the PRECEDING frame opens a new island when s jumps past it, island
    lengths sum exactly — no per-row iteration, deterministic under ties
    (equal-s rows can never open an island regardless of tie order).

    Scale: inherits C110's hash-only shuffle discipline; the sweep
    shuffles (doc_id, s, e) BIGINT triples bounded by span count, not
    corpus size; per-doc state in the window is one running BIGINT."""
    spans = _ssd_spans_cached(spark, sf_dir)
    # .distinct() is load-bearing, not an optimization: with duplicate
    # (s, e) intervals the per-doc (s, e) sort is not a total order, and
    # the pmax window and the island window each sort their OWN copy of
    # the input -- tied rows can swap between the two evaluations, so the
    # opens-island flag computed under one order lands at the wrong
    # position under the other and a single island splits (observed
    # intermittently on both engines). Distinct intervals make (s, e)
    # unique per doc, hence both sorts identical.
    iv = spans.select(
        F.col("doc_a").alias("doc_id"),
        F.col("a_start").alias("s"),
        F.col("a_end").alias("e"),
    ).unionByName(
        spans.select(
            F.col("doc_b").alias("doc_id"),
            (F.col("a_start") - F.col("diag")).alias("s"),
            (F.col("a_end") - F.col("diag")).alias("e"),
        )
    ).distinct()
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pmax = F.max("e").over(w_prev)
    opens = F.when(
        pmax.isNull() | (F.col("s") > pmax), F.lit(1)
    ).otherwise(F.lit(0))
    cov = (
        iv.withColumn("island", F.sum(opens).over(w_run))
        .groupBy("doc_id", "island")
        .agg((F.max("e") - F.min("s") + 1).alias("covered"))
    )
    tot = cov.groupBy("doc_id").agg(
        F.sum("covered").cast("bigint").alias("dup_tokens")
    )
    ntoks = _ssd_corpus(spark, sf_dir).select(
        "doc_id", F.size("ts").cast("bigint").alias("n_toks")
    )
    ppm = F.expr("(1000000 * dup_tokens) div n_toks")
    return tot.join(ntoks, "doc_id").select(
        "doc_id",
        "n_toks",
        "dup_tokens",
        ppm.cast("bigint").alias("coverage_ppm"),
        (ppm >= _SCOV_HALF_PPM).alias("flag_half_dup"),
    )


# --- C112: line-level dedup yield (CCNet/RefinedWeb removal accounting) ------

_LINE_W = 12  # tokens per "line" (deterministic stand-in for \n splits)
_LINE_KEY_BASE = 100_000  # occurrence key = doc_id * base + start pos


@query(
    "q_llm_paragraph_dedup",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               string_split(coalesce(text, ''), ' ') AS ts
        FROM documents
    ),
    ch AS (
        SELECT doc_id, lang,
               CAST(doc_id * {_LINE_KEY_BASE} + s AS BIGINT) AS k,
               ('0x' || substr(md5(array_to_string(
                    list_slice(ts, s, s + {_LINE_W - 1}), ' ')),
                    1, 15))::BIGINT AS h
        FROM (SELECT doc_id, lang, ts,
                     unnest(range(1, CAST(len(ts) AS INTEGER) + 1,
                                  {_LINE_W})) AS s
              FROM t)
        WHERE len(list_slice(ts, s, s + {_LINE_W - 1})) = {_LINE_W}
    ),
    firsts AS (SELECT h, min(k) AS first_k FROM ch GROUP BY h)
    SELECT doc_id, lang,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN k <> first_k THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
           CAST((1000000 * sum(CASE WHEN k <> first_k THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS removed_ppm
    FROM ch JOIN firsts USING (h)
    GROUP BY doc_id, lang
    """,
)
def q_llm_paragraph_dedup(spark, sf_dir):
    """C112: LINE-level exact dedup with REMOVAL accounting — the CCNet /
    RefinedWeb line-dedup pass (Wenzek et al. 2020): every occurrence of a
    repeated line EXCEPT the globally first is removed, and each doc
    reports how much of it survives. Distinct from C104 (which only
    measures shared-chunk density): this is the mutation ledger — per doc,
    how many lines the pass deletes — so removal totals reconcile exactly
    across the corpus (sum(n_removed) = occurrences - distinct lines).
    "Lines" are non-overlapping {_LINE_W}-token segments — the
    deterministic stand-in for newline splits (fixture text is
    single-line); swapping in split-on-newline changes one expression.
    First-occurrence is the smallest (doc_id, position) occurrence key
    (doc_id*{_LINE_KEY_BASE}+pos BIGINT) — total order, engine-invariant.

    Scale: the line string never rides an exchange — the first-occurrence
    rollup and the join back both key on the 60-bit md5 prefix (C104
    idiom), shuffling (8-byte hash, BIGINT key) pairs; the per-doc rollup
    partial-aggregates map-side. min(k) is a single-pass map-side-combine
    aggregate — no window over corpus-scale data anywhere."""
    t = parallel_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("ts"),
    )
    ch = (
        t.select(
            "doc_id",
            "lang",
            "ts",
            F.explode(
                F.expr(f"sequence(1, greatest(1, size(ts)), {_LINE_W})")
            ).alias("s"),
        )
        .where(F.size(F.slice("ts", F.col("s"), _LINE_W)) == _LINE_W)
        .select(
            "doc_id",
            "lang",
            (F.col("doc_id") * _LINE_KEY_BASE + F.col("s"))
            .cast("bigint")
            .alias("k"),
            F.expr(
                f"cast(conv(substring(md5(array_join("
                f"slice(ts, s, {_LINE_W}), ' ')), 1, 15), 16, 10) "
                f"as bigint)"
            ).alias("h"),
        )
    )
    firsts = ch.groupBy("h").agg(F.min("k").alias("first_k"))
    removed = (F.col("k") != F.col("first_k")).cast("bigint")
    per_doc = (
        ch.join(firsts, "h")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(removed).alias("n_removed"),
        )
    )
    return per_doc.select(
        "doc_id",
        "lang",
        F.col("n_lines").cast("bigint").alias("n_lines"),
        F.col("n_removed").cast("bigint").alias("n_removed"),
        F.expr("CAST((1000000 * n_removed) div n_lines AS BIGINT)").alias(
            "removed_ppm"
        ),
    )


# --- C124: shingle document-frequency audit (the C110 stoplist justifier) ----


@query(
    "q_llm_shingle_df_audit",
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               string_split(coalesce(text, ''), ' ') AS ts
        FROM documents
    ),
    corpus AS (
        SELECT doc_id, ts FROM base
        UNION ALL
        SELECT doc_id + {_SSD_OFFSET},
               list_slice(ts, {_SSD_EXC_START},
                          {_SSD_EXC_START + _SSD_EXC_LEN - 1})
        FROM base
        WHERE doc_id % 5 = 0 AND len(ts) >= {_SSD_MIN_TOKS}
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               ('0x' || substr(md5(array_to_string(
                    list_slice(ts, pos, pos + {_SSD_K - 1}), ' ')),
                    1, 15))::BIGINT AS h
        FROM (SELECT doc_id, ts,
                     unnest(range(1, CAST(len(ts) AS INTEGER)
                                     - {_SSD_K} + 2)) AS pos
              FROM corpus WHERE len(ts) >= {_SSD_K})
    ),
    df AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY h)
    SELECT CAST(length(bin(df)) AS BIGINT) AS df_octave,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(df * df) AS BIGINT) AS pair_mass,
           min(df >= 2 AND df <= {_SSD_DF_CAP}) AS joinable
    FROM df GROUP BY length(bin(df))
    """,
)
def q_llm_shingle_df_audit(spark, sf_dir):
    """C124: the document-frequency SPECTRUM of C110's shingles, with the
    candidate-pair mass sum(df^2) each octave would contribute to the
    diagonal join — the measurement that JUSTIFIES (or re-tunes) the
    df <= {_SSD_DF_CAP} stoplist before a corpus-scale run, instead of
    discovering a quadratic blow-up mid-job (the C72 bucket-audit
    discipline applied to exact substring dedup). Per df octave (C51
    bit-length identity): shingle count, total pair mass, and whether
    the octave is inside the joinable band (df in [2, {_SSD_DF_CAP}] for
    every df in the octave — octaves are df-contiguous, so min() over
    the flag is exact). Reading: pair_mass concentrated in non-joinable
    high octaves = the cap is earning its keep; heavy mass just UNDER
    the cap = tighten it before the 100 TB run.

    Scale: per-doc DISTINCT shingles -> one (hash) df rollup -> ~60-row
    octave rollup; 8-byte keys only, the C110 shuffle discipline. This
    audit costs ONE of the passes the join it plans would cost."""
    sh = (
        _ssd_corpus(spark, sf_dir)
        .where(F.size("ts") >= _SSD_K)
        .select(
            "doc_id",
            "ts",
            F.explode(
                F.expr(f"sequence(1, size(ts) - {_SSD_K} + 1)")
            ).alias("pos"),
        )
        .select(
            "doc_id",
            F.expr(
                f"cast(conv(substring(md5(array_join("
                f"slice(ts, pos, {_SSD_K}), ' ')), 1, 15), 16, 10) "
                f"as bigint)"
            ).alias("h"),
        )
        .distinct()
    )
    df = sh.groupBy("h").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    return (
        df.groupBy(
            F.length(F.bin("df")).cast("bigint").alias("df_octave")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.col("df") * F.col("df"))
            .cast("bigint")
            .alias("pair_mass"),
            F.min(
                (F.col("df") >= 2) & (F.col("df") <= _SSD_DF_CAP)
            ).alias("joinable"),
        )
    )


# --- C110s: winnowed substring-dedup scale rung (round 12) --------------------

_C110S_W = 32  # winnowing window (kept-shingle rows); <= _SSD_MIN_RUN - 1
_C110S_POS_BITS = 23  # packed-key position field: docs < 2^23 shingles
_C110S_POS_MOD = 1 << _C110S_POS_BITS


def _ssd_kept_shingles(corpus):
    """The C110 kept-shingle frame (every-position {_SSD_K}-token shingles
    with document frequency in [2, {_SSD_DF_CAP}]) — the rung and the
    exact operator share this stage verbatim.

    Round 14 (guide §2.4/§5): the per-position slice+md5 fold is the
    family's CPU-heaviest stage and used to be planned TWICE — once under
    the df rollup and once as the posting join's probe side (profiled at
    sf0.1: two ~31 s-task-CPU scan stages for identical output; the
    partial-agg child under the rollup's exchange defeats ReuseExchange).
    One parquet barrier of the (doc_id, pos, h) frame — 24 bytes per
    shingle position, no token arrays — feeds both consumers, so the fold
    runs once and the df join probes a stats-bearing scan. At 100 TB the
    barrier is ~24 B × corpus shingle positions, cheaper than running the
    md5 fold over the corpus a second time, and restart-safe (the
    DESIGN-100TB §4 reliable-store discipline)."""
    spark = corpus.sparkSession
    sh = (
        corpus.where(F.size("ts") >= _SSD_K)
        .select(
            "doc_id",
            "ts",
            F.explode(
                F.expr(f"sequence(1, size(ts) - {_SSD_K} + 1)")
            ).alias("pos"),
        )
        .select(
            "doc_id",
            F.col("pos").cast("bigint").alias("pos"),
            F.expr(
                f"cast(conv(substring(md5(array_join("
                f"slice(ts, pos, {_SSD_K}), ' ')), 1, 15), 16, 10) "
                f"as bigint)"
            ).alias("h"),
        )
    )
    sh = parquet_barrier(spark, sh, scratch_dir(spark, "spark_ssd_sh"), "sh")
    keep = (
        sh.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= _SSD_DF_CAP))
        .select("h")
    )
    return sh.join(keep, "h")


def _ssd_kept_shingles_cached(spark, sf_dir):
    """C110/C110s shared state: the kept-shingle frame (doc_id, pos, h),
    held per corpus in the family-state store — one shingle fold + df
    rollup feeds the exact operator's span build AND the winnowed rung.
    Long-lived family state, so it goes through the parquet barrier
    (restart-safe, 24 B/row), like the un-kept shingle frame inside
    :func:`_ssd_kept_shingles`."""
    return get_or_build(
        spark,
        "substring_kept_shingles",
        sf_dir,
        lambda: parquet_barrier(
            spark,
            _ssd_kept_shingles(_ssd_corpus(spark, sf_dir)),
            scratch_dir(spark, "spark_ssd_kept"),
            "kept",
        ),
    )


def winnow_fingerprints(m, w: int = _C110S_W):
    """Robust winnowing (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — the
    MOSS fingerprinter) over the kept-shingle frame: every window of `w`
    consecutive kept shingles of a doc selects its (hash, rightmost)
    minimum; the union of selections is the fingerprint set, expected
    density 2/(w+1). Window GUARANTEE: any diagonal run of >= w kept
    shingles contains a full window, whose minimum is the SAME shingle of
    the run in both docs — so every C110-qualifying span (run >=
    {_SSD_MIN_RUN} > w) collides on at least one fingerprint.

    One ROWS-frame window min per doc, no iteration: the (40-bit hash,
    rightmost-position) argmin rides a single packed BIGINT —
    h40·2^{_C110S_POS_BITS} + (2^{_C110S_POS_BITS}−1 − pos) — so the frame
    min IS the tie-broken argmin (docs are bounded far under
    2^{_C110S_POS_BITS} shingles). Selected rows dedup to (doc_id, fp40,
    pos)."""
    packed = m.select(
        "doc_id",
        "pos",
        F.expr(
            f"(h div {1 << 20}) * {_C110S_POS_MOD}"
            f" + ({_C110S_POS_MOD - 1} - pos)"
        ).alias("key"),
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(w - 1), 0)
    )
    return (
        packed.select("doc_id", F.min("key").over(win).alias("mn"))
        .distinct()
        .select(
            "doc_id",
            F.expr(f"mn div {_C110S_POS_MOD}").alias("fp40"),
            (F.lit(_C110S_POS_MOD - 1) - F.col("mn") % _C110S_POS_MOD).alias(
                "pos"
            ),
        )
    )


@query(
    "q_llm_substring_sketch",
    # The oracle is C110's EXACT query on purpose: winnowing at w <
    # MIN_RUN is a LOSSLESS sparsification for spans >= _SSD_MIN_SPAN
    # (window guarantee above), and the verify stage recomputes exact
    # spans for candidate pairs — so rung output == exact output is the
    # operator's correctness contract, checkable by hash.
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               string_split(coalesce(text, ''), ' ') AS ts
        FROM documents
    ),
    corpus AS (
        SELECT doc_id, ts FROM base
        UNION ALL
        SELECT doc_id + {_SSD_OFFSET},
               list_slice(ts, {_SSD_EXC_START},
                          {_SSD_EXC_START + _SSD_EXC_LEN - 1})
        FROM base
        WHERE doc_id % 5 = 0 AND len(ts) >= {_SSD_MIN_TOKS}
    ),
    sh AS (
        SELECT doc_id, CAST(pos AS BIGINT) AS pos,
               ('0x' || substr(md5(array_to_string(
                    list_slice(ts, pos, pos + {_SSD_K - 1}), ' ')),
                    1, 15))::BIGINT AS h
        FROM (SELECT doc_id, ts,
                     unnest(range(1, CAST(len(ts) AS INTEGER)
                                     - {_SSD_K} + 2)) AS pos
              FROM corpus WHERE len(ts) >= {_SSD_K})
    ),
    keep AS (
        SELECT h FROM sh GROUP BY h
        HAVING count(DISTINCT doc_id) BETWEEN 2 AND {_SSD_DF_CAP}
    ),
    m AS (SELECT sh.doc_id, sh.pos, sh.h FROM sh JOIN keep USING (h)),
    hits AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos - b.pos AS diag, a.pos AS pos_a
        FROM m a JOIN m b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    runs AS (
        SELECT doc_a, doc_b, diag,
               pos_a - row_number() OVER (
                   PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS grp
        FROM hits
    ),
    spans AS (
        SELECT doc_a, doc_b,
               CAST(count(*) + {_SSD_K} - 1 AS BIGINT) AS span_tokens
        FROM runs GROUP BY doc_a, doc_b, diag, grp
        HAVING count(*) >= {_SSD_MIN_RUN}
    )
    SELECT doc_a, doc_b,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(max(span_tokens) AS BIGINT) AS max_span_tokens,
           CAST(sum(span_tokens) AS BIGINT) AS total_dup_tokens
    FROM spans GROUP BY doc_a, doc_b
    """,
)
def q_llm_substring_sketch(spark, sf_dir):
    """C110s: the SKETCH rung of the substring-dedup ladder (VERDICT r11
    item #7 — C110's df-cap stoplist is the audit, THIS is the rung):
    winnowing fingerprints prune the candidate space, exact verification
    restores C110's answer bit-for-bit.

    Stage 1 (index): robust winnowing over the kept-shingle frame selects
    ~2/(w+1) ≈ 6% of shingles as fingerprints (:func:`winnow_fingerprints`,
    w={_C110S_W}); the candidate-pair join runs on the FINGERPRINT posting
    lists — Σdf² over a 16× sparser index, the quadratic term every
    100 TB sizing of C110 is dominated by.
    Stage 2 (verify): the exact C110 diagonal-run span computation,
    restricted to candidate docs and candidate pairs (broadcast
    semi-joins) — spurious fingerprint collisions (the packed key keeps
    40 hash bits) cost verify work, never wrong output.

    Correctness is the WINDOW GUARANTEE, not hope: any qualifying span
    (>= {_SSD_MIN_SPAN} tokens = {_SSD_MIN_RUN} kept-shingle run > w)
    contains a full winnowing window, whose tie-broken minimum is the
    same run shingle in both docs — so candidates ⊇ qualifying pairs and
    rung output == C110 output EXACTLY. The oracle is therefore C110's
    exact SQL, and the sparsification factor is pinned separately in
    tests/test_llm.py. Lossless-sparsification + verify is how the MOSS
    family deploys at scale; at 100 TB only fingerprints shuffle in
    stage 1 (8-byte hashes), and stage 2's pair-restricted rebuild
    touches the candidate docs, not the corpus."""
    m = _ssd_kept_shingles_cached(spark, sf_dir)  # stored + parquet-barriered
    fp = winnow_fingerprints(m)
    fa = fp.alias("fa")
    fb = fp.alias("fb")
    cand = (
        fa.join(
            fb,
            (F.col("fa.fp40") == F.col("fb.fp40"))
            & (F.col("fa.doc_id") < F.col("fb.doc_id")),
        )
        .select(
            F.col("fa.doc_id").alias("doc_a"),
            F.col("fb.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    mc = m.join(F.broadcast(cand_docs), "doc_id", "leftsemi")
    hits = (
        mc.alias("a")
        .join(
            mc.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (F.col("a.pos") - F.col("b.pos")).alias("diag"),
            F.col("a.pos").alias("pos_a"),
        )
        .join(F.broadcast(cand), ["doc_a", "doc_b"], "leftsemi")
    )
    run_w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    spans = (
        hits.withColumn("grp", F.col("pos_a") - F.row_number().over(run_w))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg((F.count(F.lit(1)) + _SSD_K - 1).alias("span_tokens"))
        .where(F.col("span_tokens") >= _SSD_MIN_SPAN)
    )
    return spans.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.max("span_tokens").cast("bigint").alias("max_span_tokens"),
        F.sum("span_tokens").cast("bigint").alias("total_dup_tokens"),
    )
