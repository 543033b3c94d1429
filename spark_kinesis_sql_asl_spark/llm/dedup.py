"""Deduplication operators (SURVEY.md §2 rows C1-C3) over `documents`.

Three rungs of the scale ladder:
- C1 exact:   content-hash groupBy — one shuffle on the hash, linear.
- C2 exact near-dup: token-set Jaccard with a blocking key — quadratic
  within a block, exact, oracle-able; the ground truth for C3's recall.
- C3 MinHash+LSH: signature → band-bucket join — the 100 TB path: candidate
  pairs scale with collisions, not n².
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..registry import query
from ..tables import get_or_build, parallel_table, table
from .iterative import parquet_barrier, scratch_dir

# The fixture corpus has no exact duplicate texts (FIXTURES.md, verified);
# C1 injects copies of every 10th doc so the detector has real work.
_DUP_OFFSET = 100_000


def _corpus_with_dups(spark, sf_dir):
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + _DUP_OFFSET).alias("doc_id"), "text"
    )
    return d.unionByName(dups)


@query(
    "q_llm_dedup_exact",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {_DUP_OFFSET} AS doc_id, text
        FROM documents WHERE doc_id % 10 = 0
    )
    SELECT md5(text) AS text_hash,
           count(*) AS n_copies,
           min(doc_id) AS canonical_id,
           max(doc_id) AS latest_dup_id
    FROM corpus
    GROUP BY md5(text)
    HAVING count(*) > 1
    """,
)
def q_llm_dedup_exact(spark, sf_dir):
    """C1: exact dedup via content hash. At 100 TB: hash is computed in the
    scan stage (cheap, codegen), shuffle carries (hash, id) pairs only —
    never the text — and min() picks the canonical survivor."""
    corpus = _corpus_with_dups(spark, sf_dir)
    return (
        corpus.select("doc_id", F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("canonical_id"),
            F.max("doc_id").alias("latest_dup_id"),
        )
        .where(F.col("n_copies") > 1)
    )


_JACCARD_TAU = 0.8

# Crossover for order="auto": below this many distinct tokens the global
# document-frequency table is tiny (a few hundred MB even with 64-byte
# tokens), so the df pass — one (lang, tok) groupBy plus a per-doc window —
# is cheap and buys the provably-minimal prefix (round-2 measurement at a
# small shingle vocab: df 10.8 s vs hash 17.4 s on the ngram query, because
# random-order prefixes explode candidates when few distinct shingles are
# shared by many docs). Above it, the df table itself becomes a scale
# hazard (its groupBy state no longer fits executor memory comfortably and
# the per-doc rank window re-shuffles every token occurrence), while
# hash-order costs ZERO extra passes — the 100 TB default for open-ended
# shingle vocabularies. 50M keeps the df state ~O(GB) at the crossover.
_AUTO_DF_VOCAB_MAX = 50_000_000


def pick_prefix_order(
    docs,
    auto_vocab_max: int = _AUTO_DF_VOCAB_MAX,
    sf_dir: str | None = None,
    tokens: str | None = None,
) -> str:
    """The order="auto" rule, two-tier so the probe itself never dominates:

    1. Cheap upper bound: distinct tokens <= total token OCCURRENCES, and
       ``sum(size(tokset))`` is a scan-stage aggregate — no explode, no
       per-token rows, milliseconds even on a checkpointed frame. If the
       bound already fits the df budget, "df" is decided with zero extra
       token-level work (always the case at fixture scale — measured: the
       unconditional HLL probe cost +13 s on the sf0.1 ngram bench).
    2. Only when the occurrence bound exceeds the budget (a genuinely
       large corpus) spend the one HLL pass (map-side partial sketch,
       single-row shuffle — still strictly cheaper than the df pass it
       gates) to check whether the DISTINCT count also exceeds it.

    Returns ``"df"`` iff the vocabulary fits the df-table budget.

    The decision is a property of the corpus and its tokenization, not of
    the calling query: when ``docs`` is a pure function of ``sf_dir`` under
    the tokenization named ``tokens``, pass both and the probe runs once
    per corpus in the family-state store. Ad-hoc frames pass neither."""

    def probe():
        occurrences = docs.agg(
            F.sum(F.size("tokset")).cast("bigint").alias("n")
        ).first()["n"]
        if occurrences is not None and occurrences <= auto_vocab_max:
            return "df"
        vocab = (
            docs.select(F.explode("tokset").alias("t"))
            .agg(F.approx_count_distinct("t", rsd=0.05).alias("v"))
            .first()["v"]
        )
        return "df" if vocab <= auto_vocab_max else "hash"

    if sf_dir is None:
        return probe()
    family = ("prefix_order", tokens, auto_vocab_max)
    return get_or_build(docs.sparkSession, family, sf_dir, probe)


def prefix_filtered_jaccard(
    docs,
    tau: float,
    order: str = "df",
    reuse: bool = False,
    hash_tokens: bool = False,
    auto_vocab_max: int = _AUTO_DF_VOCAB_MAX,
    order_memo: tuple[str, str] | None = None,
    return_scored: bool = False,
):
    """Exact set-similarity self-join (Jaccard >= tau) via PPJoin-style
    prefix filtering (Xiao et al., WWW 2008).

    ``docs`` must have columns (doc_id, lang, tokset: array<string>); pairs
    are blocked by ``lang``. Exactness: fix ANY global total order over
    tokens; any pair with Jaccard >= tau must share a token within each
    doc's first sz - ceil(tau*sz) + 1 tokens of that order, so only those
    prefixes are indexed and self-joined, and candidates are verified
    exactly with array_intersect on the full token sets.

    ``order`` picks the global order:
    - ``"df"``: ascending document frequency (rarest first) — fewest
      candidates, but costs a (lang, tok) shuffle + per-doc window to rank
      every token occurrence. Right when the token table is small (word
      tokens).
    - ``"hash"``: ascending xxhash64(token) — a random-but-global order
      computed per row with ZERO extra shuffles (the 100 TB choice for huge
      shingle tables: no global df pass). Prefix sampling is random, so
      candidate volume is ~(prefix fraction)^2 * sum(df^2) instead of the
      df-ordered minimum; the length/positional filters below still apply.
      The hash only defines the ORDER — verification compares true strings,
      so a hash collision cannot affect results.
    - ``"auto"``: probe the distinct-token count with one
      ``approx_count_distinct`` pass (HLL partial aggregate: full scan,
      single-sketch shuffle — strictly cheaper than the df pass it decides
      about) and pick ``"df"`` iff the vocabulary is at most
      ``auto_vocab_max``. This codifies the round-2 measurement (df wins
      while the vocab — hence the df table — is small; hash wins when the
      vocab dwarfs executor memory) as an executable rule instead of a
      per-call literal. Exactness is unaffected — both orders are exact.
      ``order_memo=(sf_dir, tokenization)`` stores the decision per
      corpus (see :func:`pick_prefix_order`).

    ``reuse=True`` materializes the build twice, with a MEASURED split
    between the two barrier kinds (round 11): the tokenized docs and the
    prefix index stay on ``localCheckpoint`` — transient build-phase
    frames whose token arrays are exactly what should never touch disk
    (an all-parquet variant was built and measured: +17% on the word
    build, +38% on the shingle build, pure array IO); losing an executor
    mid-build recomputes from the parquet INPUTS, an acceptable one-shot
    cost. The verified pair frame — the long-lived, memoized state a
    six-query family rides — goes to the parquet scratch barrier
    (ids + 3 ints: negligible IO, restart-safe like the containment /
    semantic / SimHash family state, and its scan carries true file
    statistics for AQE). Use reuse when tokenization itself is costly
    (character shingles); the 100 TB analog is persisting the shingle
    table before the pair phase.

    ``hash_tokens=True`` replaces every token with xxhash64(token) before
    any join or intersect, so the prefix join keys, the shuffled arrays and
    the verify ``array_intersect`` all work in the fixed-width BIGINT
    domain instead of strings (measured 3x on the verify stage, which
    dominates when candidate volume is high). Set sizes and intersection
    sizes — hence Jaccard — are unchanged unless two distinct tokens of one
    candidate pair collide in 64 bits (probability ~|vocab|²/2⁶⁴;
    negligible even at a 10⁸-shingle vocabulary). At 100 TB this also
    shrinks shuffle bytes ~2.5x for 5-char shingles.
    """
    if hash_tokens:
        docs = docs.withColumn(
            "tokset", F.transform("tokset", lambda t: F.xxhash64(t))
        )
    docs = docs.withColumn("sz", F.size("tokset"))
    if reuse:
        docs = docs.localCheckpoint(eager=True)
    if order == "auto":
        order = pick_prefix_order(docs, auto_vocab_max, *(order_memo or ()))
    plen = (F.col("sz") - F.ceil(F.lit(tau) * F.col("sz")) + 1).cast("int")
    if order == "hash":
        ordered = F.array_sort(
            F.transform(
                "tokset",
                lambda g: F.struct(F.xxhash64(g).alias("h"), g.alias("tok")),
            )
        )
        prefix = docs.select(
            "doc_id",
            "lang",
            "sz",
            F.posexplode(F.slice(ordered, F.lit(1), plen)).alias("pos0", "st"),
        ).select(
            "doc_id",
            "lang",
            F.col("st.tok").alias("tok"),
            (F.col("pos0") + 1).alias("pos"),
            "sz",
        )
    else:
        toks = docs.select("doc_id", "lang", F.explode("tokset").alias("tok"))
        dfreq = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("df"))
        # global total order = (df asc, tok asc); prefix = rarest tokens first
        pos = W.partitionBy("doc_id").orderBy("df", "tok")
        # Explicit doc_id exchange ahead of the rank window: the window
        # requires exactly this hash partitioning, so no shuffle is added —
        # but the user-specified partition count pins it against AQE
        # coalescing the ~1M-token-row stage down to a handful of tasks
        # (measured 8 of 32 cores busy at sf0.1).
        par = toks.sparkSession.sparkContext.defaultParallelism
        prefix = (
            toks.join(dfreq, ["lang", "tok"])
            .repartition(par, "doc_id")
            .withColumn("pos", F.row_number().over(pos))
            .join(docs.select("doc_id", "sz"), "doc_id")
            .where(F.col("pos") <= F.col("sz") - F.ceil(F.lit(tau) * F.col("sz")) + 1)
            .select("doc_id", "lang", "tok", "pos", "sz")
        )
    if reuse:
        prefix = prefix.localCheckpoint(eager=True)
    # Two more provably-safe PPJoin prunes applied inside the join, before
    # the candidate distinct (13x fewer ngram candidates measured at sf0.1):
    # - length filter: Jaccard >= tau forces min(sz)/max(sz) >= tau;
    # - positional filter: for a qualifying pair's FIRST shared token (global
    #   order), every shared token sits at-or-after its positions, so
    #   overlap <= min(sz_a - pos_a, sz_b - pos_b) + 1 must still reach the
    #   required minimum tau/(1+tau)*(sz_a+sz_b).
    overlap_ub = (
        F.least(
            F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos")
        )
        + 1
    )
    min_overlap = F.lit(tau / (1.0 + tau)) * (F.col("a.sz") + F.col("b.sz"))
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.sz") * tau <= F.col("b.sz"))
            & (F.col("b.sz") * tau <= F.col("a.sz"))
            & (overlap_ub >= min_overlap),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        # The distinct's output is tiny in BYTES (two BIGINTs/pair) so AQE
        # coalesces it to one partition — but each candidate still costs an
        # O(|tokset|) array_intersect in the verify stage, serializing the
        # most expensive per-row work onto one core (measured 3.2 s
        # single-task at sf0.1). Re-spread by doc_a: the shuffle moves only
        # id pairs, never token arrays, at any scale.
        .repartition(
            docs.sparkSession.sparkContext.defaultParallelism, "doc_a"
        )
    )
    # exact verification on the (small) candidate set
    da = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("tokset").alias("ta"),
        F.col("sz").alias("sa"),
    )
    db = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("tokset").alias("tb"),
        F.col("sz").alias("sb"),
    )
    scored = (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "sa",
            "sb",
            F.size(F.array_intersect("ta", "tb")).alias("i"),
        )
    )
    if reuse:
        # array_intersect is the dominant verify cost; without a barrier the
        # optimizer collapses projections and re-evaluates it in both the
        # filter and the output expression (2x measured). Materializing the
        # scored pairs (small: ids + 3 ints) forces single evaluation.
        #
        # Round 10: the tau filter is folded INTO the barrier write — every
        # consumer keeps only jaccard >= tau rows (C116 sweeps thresholds
        # >= tau only), and at sf0.1 the filter halves the materialized
        # frame (1.56M verified candidates -> 759k survivors). The compare
        # is integer-exact (den*i >= num*u with tau = num/den), so it keeps
        # a superset of every downstream float `i*1.0/u >= tau` compare at
        # realistic set sizes (|u| << 2^52). The rand(7)*0 term is always
        # zero but marks the ONE conjunct nondeterministic, so the
        # optimizer can neither split it nor push it below the projection —
        # array_intersect still evaluates exactly once per candidate.
        from fractions import Fraction

        frac = Fraction(tau).limit_denominator(10_000)
        num, den = frac.numerator, frac.denominator
        u = F.col("sa") + F.col("sb") - F.col("i")
        scored = parquet_barrier(
            docs.sparkSession,
            scored.where(
                F.lit(den) * F.col("i") + (F.rand(7) * 0).cast("bigint")
                >= F.lit(num) * u
            ),
            scratch_dir(docs.sparkSession, "ppjoin_scored"),
            "scored",
        )
    if return_scored:
        # raw (doc_a, doc_b, sa, sb, i) for consumers that sweep MULTIPLE
        # thresholds >= tau with exact integer compares (C116): recall is
        # complete for any tau' >= tau by PPJoin exactness at tau. Under
        # reuse=True the frame is already tau-filtered at the barrier.
        return scored
    jac = F.col("i") * 1.0 / (F.col("sa") + F.col("sb") - F.col("i"))
    return (
        scored.where(jac >= tau)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )



def _jaccard_scored(spark, sf_dir):
    """C2/C116/C118 shared state: the verified (doc_a, doc_b, sa, sb, i)
    pair frame over `documents` at tau=_JACCARD_TAU, one per corpus in the
    family-state store — the exact pass, the yield curve and the
    centrality score pay the PPJoin candidate generation + array verify
    once (the frame is parquet-barriered inside prefix_filtered_jaccard
    under reuse=True)."""

    def build():
        docs = parallel_table(spark, sf_dir, "documents").select(
            "doc_id",
            "lang",
            F.array_distinct(F.split("text", " ")).alias("tokset"),
        )
        # hash_tokens=True: the verify stage's array_intersect dominates
        # this build, and fixed-width BIGINTs cut it ~40% measured at
        # sf0.1 (11.8s -> 7.2s cold) with bit-identical output (758,890
        # scored rows either way — set sizes, intersections and hence
        # every downstream jaccard are unchanged unless two distinct WORDS
        # of one candidate pair collide in 64 bits, ~|vocab|²/2⁶⁴).
        return prefix_filtered_jaccard(
            docs, _JACCARD_TAU, reuse=True, return_scored=True, hash_tokens=True
        )

    return get_or_build(spark, "jaccard_scored", sf_dir, build)


@query(
    "q_llm_dedup_jaccard",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM toks a
        JOIN toks b ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE i * 1.0 / (sa.sz + sb.sz - i) >= {_JACCARD_TAU}
    """,
)
def q_llm_dedup_jaccard(spark, sf_dir):
    """C2: exact pairwise token-set Jaccard ≥ τ within a `lang` block,
    via PPJoin-style prefix filtering (Xiao et al., WWW 2008).

    A naive token self-join generates sum(df²) candidate pairs — 57M at
    sf0.1 (measured), quadratic in document frequency, hopeless at 100 TB.
    Prefix filtering is exact: order tokens by global rarity; any pair with
    Jaccard ≥ τ must share a token within each doc's first
    sz − ceil(τ·sz) + 1 tokens of that order. Only prefixes are indexed and
    self-joined (rare tokens → tiny posting lists), then candidates are
    verified exactly with array_intersect on the full token sets.
    """
    scored = _jaccard_scored(spark, sf_dir)
    jac = F.col("i") * 1.0 / (F.col("sa") + F.col("sb") - F.col("i"))
    return scored.where(jac >= _JACCARD_TAU).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


_MINHASH_K = 24  # signature length (round 12: 16→24, recall at τ=0.8 0.88→0.96)
_MINHASH_BANDS = 6  # 6 bands × 4 rows — same per-band FP rate as the old 4×4

# Portable permutation family (the C140 construction, extended to 24):
# g_i(h) = (a_i·h + b_i) mod (2^31−1), constants < 2^29 so a·h stays in
# BIGINT for h < 2^32. Pure integer arithmetic, identical on both engines.
_MH_P = 2_147_483_647
_MH_A = [((1103515245 * (i + 1) + 12345) % 536870911) | 1 for i in range(_MINHASH_K)]
_MH_B = [(69069 * (i + 1) + 1) % _MH_P for i in range(_MINHASH_K)]
_MH_SIG_TERMS = [
    f"(({a} * {{h}} + {b}) % {_MH_P})" for a, b in zip(_MH_A, _MH_B)
]


def xxhash_minhash_signatures(toks):
    """Production signature builder: sig_i(doc) = min over tokens of
    xxhash64(tok, seed=i) — one JVM hash per (token, permutation), the
    fastest path at 100 TB. Pinned by the recall test in tests/test_llm.py;
    the REGISTERED C3 query uses the portable twin below so the whole
    band → candidate → estimate pipeline is DuckDB-oracle-able."""
    return toks.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64("tok", F.lit(i))).alias(f"h{i}")
            for i in range(_MINHASH_K)
        ]
    )


def portable_minhash_signatures(toks):
    """Portable-hash signature builder (round 12, VERDICT r11 item #3):
    h = 32-bit md5-parse of the token, sig_i = min over tokens of
    (a_i·h + b_i) mod (2^31−1) — the C140 permutation family widened to
    {_MINHASH_K} permutations, pure integer arithmetic identical on Spark
    and DuckDB."""
    from .sketches import _hex_parse_spark

    hashed = toks.select(
        "doc_id", F.expr(_hex_parse_spark("tok", 1)).alias("h")
    )
    return hashed.groupBy("doc_id").agg(
        *[
            F.min(F.expr(g.format(h="h"))).alias(f"h{i}")
            for i, g in enumerate(_MH_SIG_TERMS)
        ]
    )


def portable_doc_signatures(spark, sf_dir):
    """Portable MinHash signatures (doc_id, h0..h{k-1}) over `documents`
    word tokens, one per corpus in the family-state store — the one
    signature-family build C3 (banding), C126 (ingest probe), C140
    (estimator audit, first {_MINHASH_K - 8} columns) and C143 (band
    assignment) all ride, so the 24 md5-parse + affine-min aggregates run
    once. Parquet-barriered: 25 BIGINTs per doc, restart-safe, and the
    barrier scan hands AQE true size statistics for the band joins. At
    100 TB this is a persistent signature table the pipeline maintains
    incrementally beside the corpus."""

    def build():
        toks = (
            parallel_table(spark, sf_dir, "documents")
            .select(
                "doc_id",
                F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
            )
            .where(F.col("tok") != "")
        )
        return parquet_barrier(
            spark,
            portable_minhash_signatures(toks),
            scratch_dir(spark, "portable_sigs"),
            "sigs",  # consumed by C3 bands + agreement joins, C126, C140, C143
        )

    return get_or_build(spark, "portable_signatures", sf_dir, build)


def minhash_band_pairs(sigs, checkpoint: bool = True):
    """LSH banding over a flat signature frame (doc_id, h0..h{k-1}):
    band b's bucket key is the comma-joined row mins — docs agreeing on a
    whole band collide; the self-join on (band, bucket) emits candidate
    pairs and the estimate is the agreeing-row fraction.

    ``checkpoint=False`` when the caller passes an already-materialized
    frame (the memoized :func:`portable_doc_signatures` barrier) — the
    frame is consumed 3x (bands + both agreement joins) either way."""
    # Signatures stay as 16 flat BIGINT columns, not an array: flat columns
    # keep the bucket key, the candidate distinct, and the agreement sum
    # inside whole-stage codegen — the array + zip_with/aggregate variant
    # measured ~50% slower at sf0.1 (per-row array allocation in the
    # 6M-candidate join).
    if checkpoint:
        sigs = sigs.localCheckpoint(eager=True)
    rows_per_band = _MINHASH_K // _MINHASH_BANDS
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
                                F.col(f"h{b * rows_per_band + r}").cast("string")
                                for r in range(rows_per_band)
                            ],
                        ).alias("bucket"),
                    )
                    for b in range(_MINHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    x = bands.alias("x")
    y = bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    # estimate similarity = fraction of agreeing signature rows
    sa = sigs.alias("sa")
    sb = sigs.alias("sb")
    agree = sum(
        F.when(F.col(f"sa.h{i}") == F.col(f"sb.h{i}"), 1).otherwise(0)
        for i in range(_MINHASH_K)
    )
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(agree / float(_MINHASH_K), 6).alias("est_jaccard"),
        )
    )


def _minhash_oracle() -> str:
    """DuckDB twin of the portable C3 pipeline."""
    from .sketches import _hex_parse_duck

    rows_per_band = _MINHASH_K // _MINHASH_BANDS
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
        for b in range(_MINHASH_BANDS)
    )
    agree = " + ".join(
        f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END"
        for i in range(_MINHASH_K)
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
    cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x
        JOIN bands y ON x.band = y.band AND x.bucket = y.bucket
                    AND x.doc_id < y.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           round(({agree}) / {_MINHASH_K}.0, 6) AS est_jaccard
    FROM cand c
    JOIN sigs a ON c.doc_a = a.doc_id
    JOIN sigs b ON c.doc_b = b.doc_id
    """


@query("q_llm_dedup_minhash", oracle=_minhash_oracle())
def q_llm_dedup_minhash(spark, sf_dir):
    """C3: MinHash + LSH banding — the scalable approximation of C2.

    Round-12 form (VERDICT r11 item #3): the registered query runs on the
    C140 portable-hash permutation family, so signatures, band buckets,
    candidate pairs AND the agreement estimate are all deterministic pure
    functions of the data that DuckDB reproduces exactly — C3 graduates
    from rows-only to a full hash oracle. The xxhash64 signature builder
    (one JVM hash per token×permutation, the cheaper path at 100 TB where
    cross-engine parity doesn't matter) remains available as
    :func:`xxhash_minhash_signatures` and keeps its own recall gate in
    tests/test_llm.py. Signatures come from the memoized
    :func:`portable_doc_signatures` barrier shared with C126/C140/C143
    (round 13 — one signature-family build per session instead of four);
    one explode for bands, one self-join on (band, bucket) — pair blow-up
    is bounded by real collisions, never n²."""
    return minhash_band_pairs(
        portable_doc_signatures(spark, sf_dir), checkpoint=False
    )


# --- C79: shared-prefix (boilerplate header) detection ------------------------

_PREFIX_TOKENS = 8
_PREFIX_TAIL_OFFSET = 200_000  # synthetic prefix-sharers, disjoint from C1's


@query(
    "q_llm_prefix_dup",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, lang, text FROM documents
        UNION ALL
        SELECT doc_id + {_PREFIX_TAIL_OFFSET} AS doc_id, lang,
               array_to_string(string_split(text, ' ')[1:{_PREFIX_TOKENS}], ' ')
                   || ' synthetic tail ' || CAST(doc_id AS VARCHAR) AS text
        FROM documents WHERE doc_id % 9 = 0
    ),
    p AS (
        SELECT doc_id, lang,
               md5(array_to_string(
                   string_split(coalesce(text, ''), ' ')[1:{_PREFIX_TOKENS}],
                   ' ')) AS prefix_hash
        FROM corpus
    )
    SELECT prefix_hash,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           min(doc_id) AS exemplar_doc
    FROM p GROUP BY prefix_hash HAVING count(*) > 1
    """,
)
def q_llm_prefix_dup(spark, sf_dir):
    """C79: shared-prefix detection — groups of documents whose first
    {_PREFIX_TOKENS} tokens are identical: the boilerplate-header /
    template detector (site chrome, license banners, scraped nav bars)
    that exact dedup (C1) misses because the tails differ and near-dup
    passes (C2/C13) only catch when the whole doc is similar. The fixture
    corpus has no natural prefix-sharers, so (the C1 injection
    convention) every 9th doc spawns a synthetic partner keeping only its
    prefix + a distinct tail — the operator under test is the grouping.
    At 100 TB: the prefix hash is computed in the scan stage from the
    first {_PREFIX_TOKENS} tokens only (never the whole text), the
    shuffle carries (hash, lang, id) triples, and the HAVING keeps only
    colliding groups — the same (hash, id)-only discipline as C1."""
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    prefix = (
        "array_join(slice(split(coalesce(text, ''), ' '), 1, "
        f"{_PREFIX_TOKENS}), ' ')"
    )
    synth = d.where(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + _PREFIX_TAIL_OFFSET).alias("doc_id"),
        "lang",
        F.expr(
            f"concat(array_join(slice(split(text, ' '), 1, {_PREFIX_TOKENS}),"
            f" ' '), ' synthetic tail ', CAST(doc_id AS STRING))"
        ).alias("text"),
    )
    return (
        d.unionByName(synth)
        .select("doc_id", "lang", F.expr(f"md5({prefix})").alias("prefix_hash"))
        .groupBy("prefix_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.min("doc_id").alias("exemplar_doc"),
        )
        .where(F.col("n_docs") > 1)
    )


# --- C82: asymmetric containment near-dup (doc-in-doc) ------------------------

_CONTAIN_TAU = 0.95
_CONTAIN_TRUNC_TOKENS = 30
_CONTAIN_TRUNC_OFFSET = 300_000  # synthetic truncated copies (C1 convention)


def _containment_docs(spark, sf_dir, stage):
    """Shared C82/C82s corpus state: (doc_id, lang, ts, sz), materialized
    to the parquet scratch barrier (round-11 migration off localCheckpoint
    — same rationale as the semantic/SimHash builds: restart-safe on a
    real cluster, and the scan carries true size statistics).

    The corpus is documents plus a truncated copy of every 11th doc (the C1
    injection convention; first {_CONTAIN_TRUNC_TOKENS} tokens, a true
    token-subset)."""
    d = parallel_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    synth = d.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + _CONTAIN_TRUNC_OFFSET).alias("doc_id"),
        "lang",
        F.expr(
            f"array_join(slice(split(text, ' '), 1, "
            f"{_CONTAIN_TRUNC_TOKENS}), ' ')"
        ).alias("text"),
    )
    return parquet_barrier(
        spark,
        d.unionByName(synth)
        .select(
            "doc_id",
            "lang",
            F.array_distinct(
                F.split(F.coalesce(F.col("text"), F.lit("")), " ")
            ).alias("ts"),
        )
        .withColumn("sz", F.size("ts"))
        # Round 14: hashed twin of ts for C82's verify stage — the
        # hash_tokens=True discipline the Jaccard family measured at
        # ~40% on its verify (fixed-width BIGINT array_intersect vs
        # string compares). Set sizes and intersection sizes — hence
        # containment — are unchanged unless two distinct tokens of one
        # candidate pair collide in 64 bits (~|vocab|²/2⁶⁴, negligible;
        # the C2 precedent). ts itself stays: C82s' portable md5-parse
        # signatures hash the true strings.
        .withColumn("hts", F.transform("ts", lambda t: F.xxhash64(t))),
        stage,
        "docs",  # consumed by index + verify/estimate
    )


def _containment_index(spark, docs, stage):
    """Parquet-barriered inverted index (doc_id, lang, sz, tok, pos) with
    the global (df asc, tok asc) position rank — the expensive shared
    stage, feeding both sides of the candidate join."""
    toks = docs.select("doc_id", "lang", "sz", F.explode("ts").alias("tok"))
    dfreq = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("df"))
    pos_w = W.partitionBy("doc_id").orderBy("df", "tok")
    return parquet_barrier(
        spark,
        toks.join(dfreq, ["lang", "tok"]).withColumn(
            "pos", F.row_number().over(pos_w)
        ),
        stage,
        "index",  # feeds BOTH sides of the cand join
    )


def _containment_candidates(spark, indexed, tau):
    """Shared C82/C82s candidate stage: the ASYMMETRIC prefix filter (the
    containment variant of PPJoin, Xiao et al. WWW 2008) — see the C82
    docstring for the blocking argument. EXACT recall: every pair with
    C(A->B) >= tau survives. Returns (doc_small, doc_big) WITHOUT a
    distinct — consumers' top-1 windows absorb the <=prefix-length dup
    factor, saving a multi-million-row shuffle. LAZY on purpose: the join
    re-executes per consumer (~1 s at sf0.1) — cheaper than checkpointing
    the multi-million-row pair list once (measured: materializing the
    pairs cost more than the single join it saved)."""
    # A side: prefix only; B side: full inverted index. The explicit
    # repartition matters: the checkpointed index is tiny enough that AQE
    # coalesces it to ONE partition, and the entire candidate fan-out +
    # verify chain downstream is broadcast joins (no exchange), so
    # without it the millions of candidate rows all flow through a single
    # task (measured sf0.1: 26 s serial vs ~2 s spread). Spreading the
    # ~2-token-per-doc prefix side is the cheap place to buy parallelism.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    a_prefix = indexed.where(
        F.col("pos") <= F.col("sz") - F.ceil(F.lit(tau) * F.col("sz")) + 1
    ).repartition(n_part)
    overlap_ub = (
        F.least(
            F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos")
        )
        + 1
    )
    need = F.ceil(F.lit(tau) * F.col("a.sz"))
    return (
        a_prefix.alias("a")
        .join(
            indexed.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (
                (F.col("a.sz") < F.col("b.sz"))
                | (
                    (F.col("a.sz") == F.col("b.sz"))
                    & (F.col("a.doc_id") < F.col("b.doc_id"))
                )
            )
            & (F.col("b.sz") >= need)
            & (overlap_ub >= need),
        )
        .select(
            F.col("a.doc_id").alias("doc_small"),
            F.col("b.doc_id").alias("doc_big"),
        )
    )


def _containment_state(spark, sf_dir):
    """C82/C82s shared state, one per corpus in the family-state store:
    the exact pass and its sketch rung share one materialization of the
    token sets and the inverted index. The candidate join itself stays
    lazy (see _containment_candidates)."""

    def build():
        stage = scratch_dir(spark, "containment_state")
        docs = _containment_docs(spark, sf_dir, stage)
        return docs, _containment_index(spark, docs, stage)

    return get_or_build(spark, "containment_state", sf_dir, build)


@query(
    "q_llm_dedup_containment",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, lang, text FROM documents
        UNION ALL
        SELECT doc_id + {_CONTAIN_TRUNC_OFFSET} AS doc_id, lang,
               array_to_string(
                   string_split(text, ' ')[1:{_CONTAIN_TRUNC_TOKENS}], ' ')
                   AS text
        FROM documents WHERE doc_id % 11 = 0
    ),
    z AS (
        SELECT doc_id, lang,
               list_distinct(string_split(coalesce(text, ''), ' ')) AS ts,
               len(list_distinct(string_split(coalesce(text, ''), ' ')))
                   AS sz
        FROM corpus
    ),
    pairs AS (
        SELECT a.doc_id AS doc_small, b.doc_id AS doc_big,
               round(len(list_intersect(a.ts, b.ts)) * 1.0 / a.sz, 6)
                   AS containment
        FROM z a JOIN z b
          ON a.lang = b.lang
         AND (a.sz < b.sz OR (a.sz = b.sz AND a.doc_id < b.doc_id))
         AND b.sz >= CAST(ceil({_CONTAIN_TAU} * a.sz) AS BIGINT)
        WHERE len(list_intersect(a.ts, b.ts)) * 1.0 / a.sz
              >= {_CONTAIN_TAU}
    )
    SELECT doc_small, doc_big, containment
    FROM pairs
    QUALIFY row_number() OVER (
        PARTITION BY doc_small ORDER BY containment DESC, doc_big ASC) = 1
    """,
)
def q_llm_dedup_containment(spark, sf_dir):
    """C82: asymmetric CONTAINMENT near-dup — for each document, its best
    CONTAINER: the larger doc whose token set covers >= {_CONTAIN_TAU} of
    the smaller's (|A∩B| / |A|, max-containment winner, doc_big-asc
    tie-broken). The doc-in-doc detector (truncated re-crawls, quoted
    articles, excerpt pages) that symmetric Jaccard (C2) structurally
    misses — a 30-token excerpt of a 120-token doc has Jaccard ~0.25 but
    containment 1.0. The fixture corpus gains a truncated copy of every
    11th doc (the C1 injection convention; first {_CONTAIN_TRUNC_TOKENS}
    tokens, so its distinct-token set is a true subset). Output is top-1
    per doc_small — the actionable canonical-container assignment (who
    survives, who is dropped), and, unlike the all-pairs form, bounded at
    n rows on template-dense corpora where τ=0.95 pairs are Θ(n²)
    (measured sf0.1: 1.18M qualifying pairs from 5k docs — a result no
    100 TB pipeline should materialize).

    Blocking is the ASYMMETRIC prefix filter (the containment variant of
    PPJoin, Xiao et al. WWW 2008): fix the global (df asc, tok asc) total
    order; if C(A→B) >= τ then A must share one of its first
    sz_a - ceil(τ·sz_a) + 1 order-ranked tokens with B — so only A-side
    PREFIX tokens join the FULL B-side inverted index (no symmetric
    prefix exists: B may be arbitrarily large). Candidates then pass the
    size filter (sz_b >= ceil(τ·sz_a)) and the positional filter
    (min(sz_a - pos_a, sz_b - pos_b) + 1 >= ceil(τ·sz_a), valid because
    the first shared token's row must satisfy it), and are verified
    exactly with array_intersect. No candidate ``distinct()``: the
    row_number top-1 absorbs duplicate candidates (dup factor <= prefix
    length, ~2), saving a multi-million-row shuffle. The inverted index
    is materialized to the parquet scratch barrier (round 11; was
    localCheckpoint) — it feeds both join sides, and unmaterialized it
    re-runs the df-join + position window once per consumer. At 100 TB
    the index is the cost (every token occurrence once, like the df pass
    C2 already pays); candidates scale with token-level collisions,
    never n² — the same discipline as every other pairwise operator in
    this package."""
    tau = _CONTAIN_TAU
    docs, indexed = _containment_state(spark, sf_dir)
    cand = _containment_candidates(spark, indexed, tau)
    # Verify on the hashed-token twin (round 14): BIGINT array_intersect
    # instead of string compares — the Jaccard family's measured
    # hash_tokens win ported to the asymmetric pass. Bit-identical output
    # barring a 64-bit collision inside one candidate pair (~|vocab|²/2⁶⁴).
    da = docs.select(
        F.col("doc_id").alias("doc_small"),
        F.col("hts").alias("ta"),
        F.col("sz").alias("sa"),
    )
    db = docs.select(
        F.col("doc_id").alias("doc_big"), F.col("hts").alias("tb")
    )
    scored = (
        cand.join(da, "doc_small")
        .join(db, "doc_big")
        .select(
            "doc_small",
            "doc_big",
            "sa",
            # Single-evaluation barrier (round 14): without the
            # nondeterministic marker the tau filter below is pushed into
            # the doc_big join CONDITION with the array_intersect inlined,
            # and the projection keeps a second copy — the dominant verify
            # expression ran TWICE per candidate (seen in
            # plans/r14/q_llm_dedup_containment_before.txt). rand(7)*0 is
            # always zero; the marker forces exactly one evaluation.
            (
                F.size(F.array_intersect("ta", "tb"))
                + (F.rand(7) * 0).cast("int")
            ).alias("i"),
        )
    )
    containment = F.col("i") * 1.0 / F.col("sa")
    best_w = W.partitionBy("doc_small").orderBy(
        F.col("containment").desc(), F.col("doc_big").asc()
    )
    return (
        scored.where(containment >= tau)
        .select(
            "doc_small",
            "doc_big",
            F.round(containment, 6).alias("containment"),
        )
        .withColumn("_rn", F.row_number().over(best_w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


# --- C82s: containment-MinHash scale rung (SQL-oracled since round 13) -------

_CLSH_K = 24  # signature positions; binomial agree-count sets the estimate
# Candidate-stage effective tau for the sketch rung ONLY (VERDICT r8 #3):
# the rung's job is the high-containment head (the release cut is a top-1
# per doc_small anyway), so its prefix can be tighter than C82's exact
# tau=0.95 — prefix length sz-ceil(tau*sz)+1 shrinks ~2x, candidates
# 4.85M -> 3.05M at sf0.1, bench 7.1s -> 5.5s warm. Every true-subset pair
# (containment 1.0) survives ANY prefix; measured doc_small recall vs
# C82's exact output at sf0.01: 0.9963 at 0.95 -> 0.9907 at 0.98, both far
# above the 0.9 gate (tests/test_llm.py).
_CLSH_CAND_TAU = 0.98


def _clsh_est_duck() -> str:
    """DuckDB rendering of the containment estimate — parenthesized to
    mirror the Spark expression tree term for term (every intermediate a
    DOUBLE; DuckDB's bare `24.0` would be DECIMAL and divide differently).
    """
    j = f"(agree / CAST({_CLSH_K} AS DOUBLE))"
    return (
        f"least(CAST(1 AS DOUBLE), ({j} * (sz_a + sz_b))"
        f" / ((CAST(1 AS DOUBLE) + {j}) * sz_a))"
    )


def _containment_lsh_oracle() -> str:
    """DuckDB twin of the FULL C82s pipeline (round-13 promotion, VERDICT
    r12 item #3): corpus injection, the df-ordered asymmetric prefix
    candidate stage at tau={_CLSH_CAND_TAU} (replicated exactly — the
    output depends on which sub-threshold pairs the blocking admits, so
    the oracle must run the same blocking, not just the same estimate),
    portable-permutation signatures, agreement estimate, 0.8 cut, top-1."""
    sig_cols = ", ".join(
        f"min({g.format(h='h')}) AS h{i}" for i, g in enumerate(_MH_SIG_TERMS)
    )
    agree = " + ".join(
        f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END"
        for i in range(_CLSH_K)
    )
    from .sketches import _hex_parse_duck

    need = f"CAST(ceil({_CLSH_CAND_TAU} * a.sz) AS BIGINT)"
    return f"""
    WITH corpus AS (
        SELECT doc_id, lang, text FROM documents
        UNION ALL
        SELECT doc_id + {_CONTAIN_TRUNC_OFFSET} AS doc_id, lang,
               array_to_string(
                   string_split(text, ' ')[1:{_CONTAIN_TRUNC_TOKENS}], ' ')
                   AS text
        FROM documents WHERE doc_id % 11 = 0
    ),
    z AS (
        SELECT doc_id, lang,
               list_distinct(string_split(coalesce(text, ''), ' ')) AS ts,
               len(list_distinct(string_split(coalesce(text, ''), ' ')))
                   AS sz
        FROM corpus
    ),
    toks AS (SELECT doc_id, lang, sz, unnest(ts) AS tok FROM z),
    dfreq AS (
        SELECT lang, tok, count(*) AS df FROM toks GROUP BY lang, tok
    ),
    idx AS (
        SELECT t.doc_id, t.lang, t.sz, t.tok,
               row_number() OVER (
                   PARTITION BY t.doc_id ORDER BY d.df, t.tok) AS pos
        FROM toks t JOIN dfreq d ON t.lang = d.lang AND t.tok = d.tok
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_small, b.doc_id AS doc_big
        FROM idx a
        JOIN idx b
          ON a.tok = b.tok AND a.lang = b.lang
         AND (a.sz < b.sz OR (a.sz = b.sz AND a.doc_id < b.doc_id))
         AND b.sz >= {need}
         AND least(a.sz - a.pos, b.sz - b.pos) + 1 >= {need}
        WHERE a.pos <= a.sz - {need} + 1
    ),
    th AS (
        SELECT doc_id, {_hex_parse_duck("tok", 1)} AS h FROM toks
    ),
    sigs AS (SELECT doc_id, {sig_cols} FROM th GROUP BY doc_id),
    est AS (
        SELECT c.doc_small, c.doc_big,
               za.sz AS sz_a, zb.sz AS sz_b,
               ({agree}) AS agree
        FROM cand c
        JOIN sigs a ON c.doc_small = a.doc_id
        JOIN sigs b ON c.doc_big = b.doc_id
        JOIN z za ON c.doc_small = za.doc_id
        JOIN z zb ON c.doc_big = zb.doc_id
    )
    SELECT doc_small, doc_big, est_containment
    FROM (
        SELECT doc_small, doc_big,
               round({_clsh_est_duck()}, 6) AS est_containment
        FROM est
    )
    WHERE est_containment >= CAST(0.8 AS DOUBLE)
    QUALIFY row_number() OVER (
        PARTITION BY doc_small
        ORDER BY est_containment DESC, doc_big ASC) = 1
    """


@query("q_llm_dedup_containment_lsh", oracle=_containment_lsh_oracle())
def q_llm_dedup_containment_lsh(spark, sf_dir):
    """C82s: the signature scale rung beside C82's exact containment pass
    (completing the C3-beside-C2 ladder for the asymmetric case). Same
    corpus, same candidates — the EXACT-recall A-side prefix filter shared
    via :func:`_containment_candidates` — but verification is a
    {_CLSH_K}-position MinHash AGREEMENT estimate instead of the exact
    array_intersect: containment is recovered from the Jaccard estimate
    J_hat = agree/K and the exact sizes via C = J*(sa+sb)/((1+J)*sa).

    Why this is the template-heavy-corpus path: C82's verify joins ship
    the FULL token array of both sides to every candidate pair — at sf0.1
    that is 1.18M qualifying pairs x ~200-element arrays, and on a 100 TB
    near-self-identical crawl the verify bytes dwarf the index. Here the
    per-doc payload is {_CLSH_K} BIGINTs regardless of document size and
    the estimate is a flat-column codegen sum. A pure band-1 positional
    LSH candidate join (the symmetric-C3 shape) was built and measured
    first: on this corpus each signature position has ~12 distinct minima,
    posting lists reach 4210 of 5455 docs, and the join degenerates to
    430M probe pairs (~31 s at sf0.1) — the prefix filter's rare-token
    posting lists are the right candidate generator even for the sketch
    rung, exactly as LSH Ensemble (Zhu et al., VLDB 2016) partitions to
    keep posting lists bounded.

    Round 13 (VERDICT r12 item #3, the LAST promotable rows-only rung):
    the xxhash64-seeded signatures are swapped for the C140/C3 portable
    permutation family — h = 32-bit md5-parse of the token, sig_i = min
    over tokens of (a_i*h + b_i) mod (2^31-1) — so signatures, the
    agreement count and the containment estimate are deterministic pure
    functions of the data that DuckDB replays bit-for-bit; the oracle
    replicates the WHOLE pipeline including the tau={_CLSH_CAND_TAU}
    prefix blocking (the blocking admits some sub-threshold pairs, so a
    semantic all-pairs oracle would not hash-match — the blocking is part
    of the operator's contract, exactly like C3's banding). Signature
    build cost is one md5-parse per (doc, distinct token) + {_CLSH_K}
    map-side min aggregates — the C3 shape; the xxhash64 array-fold
    builder (cheaper at 100 TB where cross-engine parity doesn't matter)
    remains the documented alternative via C3's
    :func:`xxhash_minhash_signatures` family. The recall >= 0.9 gate vs
    C82's exact doc_small coverage (tests/test_llm.py) is unchanged —
    recall loss comes from estimate noise (binomial agree-count
    under-shooting the 0.8 cut) plus the tighter candidate prefix
    (_CLSH_CAND_TAU = 0.98 vs the exact pass's 0.95 — measured recall
    cost 0.6pp, candidate volume cost -37%; true-subset pairs survive
    any prefix)."""
    from .sketches import _hex_parse_spark

    docs, indexed = _containment_state(spark, sf_dir)
    cand = _containment_candidates(spark, indexed, _CLSH_CAND_TAU)
    th = docs.select("doc_id", "sz", F.explode("ts").alias("tok")).select(
        "doc_id", "sz", F.expr(_hex_parse_spark("tok", 1)).alias("h")
    )
    sigs = th.groupBy("doc_id").agg(
        F.max("sz").alias("sz"),
        *[
            F.min(F.expr(g.format(h="h"))).alias(f"h{i}")
            for i, g in enumerate(_MH_SIG_TERMS)
        ],
    ).localCheckpoint(eager=True)  # one groupBy; feeds both pair sides
    agree = sum(
        F.when(F.col(f"sa.h{i}") == F.col(f"sb.h{i}"), 1).otherwise(0)
        for i in range(_CLSH_K)
    )
    # Explicit broadcast: localCheckpoint drops the size statistics, so the
    # optimizer would sort-merge 4.85M candidate rows against a 5k-row sig
    # table (twice). One sig row per doc broadcasts at any corpus size a
    # single executor can hold its shard of; at true 100 TB scale this
    # becomes a bucketed join on doc id — same shape, no candidate shuffle.
    sa = F.broadcast(sigs.alias("sa"))
    sb = F.broadcast(sigs.alias("sb"))
    j_hat = F.col("agree") / float(_CLSH_K)
    c_hat = F.least(
        F.lit(1.0),
        j_hat
        * (F.col("sz_a") + F.col("sz_b"))
        / ((1.0 + j_hat) * F.col("sz_a")),
    )
    # Top-1 container per doc_small via a PACKED-BIGINT max, not a rank
    # window: the estimate keeps ~4M rows at sf0.1 (the 0.8 cut is looser
    # than exact tau by design) and partial-aggregates map-side —
    # duplicate candidates from the no-distinct prefix stage are absorbed
    # for free, where a window would first shuffle-sort every surviving
    # row. Round 14, two fixes on the round-13 max_by form:
    #
    # 1. Single evaluation of the estimate: written as select(round(est))
    #    .where(est >= 0.8), the optimizer pushed the 0.8 cut into the
    #    doc_big join CONDITION with the whole 24-term agree sum inlined,
    #    then re-evaluated the identical sum in the projection — the
    #    dominant per-candidate expression ran TWICE (seen in
    #    plans/r14/q_llm_dedup_containment_lsh_before.txt). The rand(7)*0
    #    term is always zero but marks the column nondeterministic:
    #    exactly one evaluation, not pushable.
    # 2. max_by(struct, struct) has an immutable (struct-typed) aggregate
    #    buffer, so Spark planned a SortAggregate — two full sorts of the
    #    surviving pairs around the exchange. The (est desc, doc_big asc)
    #    order packs losslessly into ONE BIGINT instead:
    #    round(c,6)*1e6 is an integer n <= 1e6 recovered exactly by
    #    floor(est*1e6 + 0.5) (est is the nearest double to n/1e6, so
    #    est*1e6 is within ~1e-10 of n), and doc ids are < 2^41;
    #    packed = n * 2^41 + (2^41-1 - doc_big) makes max(packed) the
    #    exact argmax with the asc tie-break. A plain max over BIGINT
    #    hash-aggregates with map-side combine. The unpack division
    #    CAST(n AS DOUBLE)/1e6 is IEEE-correctly-rounded, i.e. the same
    #    double round(c,6) produced — bit-identical output.
    est_nd = F.round(c_hat, 6) + F.rand(7) * 0
    _PK = 1 << 41
    packed = (
        F.floor(F.col("est_containment") * 1e6 + F.lit(0.5)).cast("bigint")
        * F.lit(_PK)
        + (F.lit(_PK - 1) - F.col("doc_big"))
    )
    return (
        cand.join(sa, F.col("doc_small") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_big") == F.col("sb.doc_id"))
        .select(
            "doc_small",
            "doc_big",
            F.col("sa.sz").alias("sz_a"),
            F.col("sb.sz").alias("sz_b"),
            agree.alias("agree"),
        )
        .select(
            "doc_small",
            "doc_big",
            est_nd.alias("est_containment"),
        )
        .where(F.col("est_containment") >= 0.8)
        .groupBy("doc_small")
        .agg(F.max(packed).alias("pk"))
        .select(
            "doc_small",
            (F.lit(_PK - 1) - F.pmod("pk", F.lit(_PK))).alias("doc_big"),
            (
                F.expr(f"CAST(pk div {_PK}L AS DOUBLE)") / F.lit(1.0e6)
            ).alias("est_containment"),
        )
    )


# --- C88: normalization-equivalent dedup (case / whitespace variants) --------

_NORM_CASE_OFFSET = 400_000
_NORM_WS_OFFSET = 500_000


@query(
    "q_llm_dedup_normalized",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {_NORM_CASE_OFFSET}, upper(text)
        FROM documents WHERE doc_id % 13 = 0
        UNION ALL
        SELECT doc_id + {_NORM_WS_OFFSET},
               '  ' || replace(text, ' ', '   ') || ' '
        FROM documents WHERE doc_id % 13 = 0
    ),
    n AS (
        SELECT doc_id,
               md5(trim(regexp_replace(
                   lower(coalesce(text, '')), ' +', ' ', 'g'))) AS nh,
               coalesce(text, '') AS raw
        FROM corpus
    )
    SELECT nh AS norm_hash,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT raw) AS BIGINT) AS n_raw_variants,
           min(doc_id) AS exemplar_doc
    FROM n GROUP BY nh HAVING count(*) > 1
    """,
)
def q_llm_dedup_normalized(spark, sf_dir):
    """C88: normalization-equivalent dedup — documents identical after
    casefold + whitespace collapse + trim: the canonicalization rung
    BETWEEN exact dedup (C1, raw-byte hash — misses a re-crawl that only
    changed case or spacing) and near-dup (C2/C13 — overkill for
    byte-cosmetic variants, and their thresholds can even miss them when
    docs are short). Every real crawl pipeline runs this normalize-then-
    hash pass first; n_raw_variants > 1 distinguishes true cosmetic
    variants from raw duplicates that C1 already catches. The fixture is
    single-case single-spaced, so (the C1 injection convention) every
    13th doc spawns an UPPER() twin and a whitespace-mangled twin — the
    operator under test is the normalize+group.

    Engine parity: lower/upper/trim are exact on the ASCII fixture;
    multi-space collapse is `regexp_replace(..., ' +', ' ')` (the 'g'
    flag spelled per dialect — Spark replaces all matches by default,
    DuckDB needs it explicit). At 100 TB: the normalized hash is computed
    in the scan stage, the shuffle carries (hash, id) pairs only — the C1
    discipline; text never rides an exchange."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    case_v = d.where(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + _NORM_CASE_OFFSET).alias("doc_id"),
        F.upper("text").alias("text"),
    )
    ws_v = d.where(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + _NORM_WS_OFFSET).alias("doc_id"),
        F.concat(
            F.lit("  "),
            F.regexp_replace("text", " ", "   "),
            F.lit(" "),
        ).alias("text"),
    )
    corpus = d.unionByName(case_v).unionByName(ws_v)
    norm = F.trim(
        F.regexp_replace(
            F.lower(F.coalesce(F.col("text"), F.lit(""))), " +", " "
        )
    )
    return (
        corpus.select(
            "doc_id",
            F.md5(norm.cast("binary")).alias("norm_hash"),
            F.coalesce(F.col("text"), F.lit("")).alias("raw"),
        )
        .groupBy("norm_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("raw").alias("n_raw_variants"),
            F.min("doc_id").alias("exemplar_doc"),
        )
        .where(F.col("n_docs") > 1)
    )


# --- C116: dedup yield curve (threshold sweep over C2's exact pairs) ---------

_YC_PCTS = (80, 85, 90, 95)  # Jaccard thresholds (percent) swept


@query(
    "q_llm_dedup_yield_curve",
    oracle=f"""
    WITH toks AS (
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
        SELECT doc_a, doc_b, i, sa.sz AS sa, sb.sz AS sb
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE 100 * i >= {int(_JACCARD_TAU * 100)} * (sa.sz + sb.sz - i)
    ),
    t AS (SELECT CAST(unnest([{", ".join(str(p) for p in _YC_PCTS)}])
                      AS BIGINT) AS tau_pct),
    qual AS (
        SELECT t.tau_pct, p.doc_a, p.doc_b, p.sb
        FROM pairs p JOIN t ON 100 * p.i >= t.tau_pct * (p.sa + p.sb - p.i)
    ),
    pa AS (SELECT tau_pct, CAST(count(*) AS BIGINT) AS n_pairs
           FROM qual GROUP BY tau_pct),
    da AS (
        SELECT tau_pct, CAST(count(*) AS BIGINT) AS n_dropped,
               CAST(sum(sb) AS BIGINT) AS tokens_dropped
        FROM (SELECT DISTINCT tau_pct, doc_b, sb FROM qual)
        GROUP BY tau_pct
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
    SELECT t.tau_pct,
           coalesce(pa.n_pairs, 0) AS n_pairs,
           coalesce(da.n_dropped, 0) AS n_dropped,
           coalesce(da.tokens_dropped, 0) AS tokens_dropped,
           CAST((1000000 * coalesce(da.n_dropped, 0)) // tot.n_docs
                AS BIGINT) AS drop_ppm
    FROM t LEFT JOIN pa USING (tau_pct) LEFT JOIN da USING (tau_pct), tot
    """,
)
def q_llm_dedup_yield_curve(spark, sf_dir):
    """C116: the dedup YIELD CURVE — how many pairs, docs and tokens each
    Jaccard threshold in {_YC_PCTS} would remove, from ONE pass of C2's
    exact PPJoin pair machinery at the loosest threshold. The
    tau-selection readout every dedup deployment needs (pick tau where
    the curve's knee sits) — without it the threshold is folklore. Drop
    rule is the deterministic keep-smallest-id convention (doc_b of a
    qualifying pair is dropped — C1's canonical-survivor rule); thresholds
    compare EXACTLY via cross-multiplication (100*i >= pct*(union)), so
    no float boundary can flip a pair between engines. Zero-yield
    thresholds still report (LEFT JOIN from the threshold spine).

    Scale: one candidate generation + one exact verify at tau=0.8 serves
    ALL thresholds (monotonicity: pairs at pct >= 80 are a subset — PPJoin
    recall at the loosest tau is complete for every tighter one); the
    sweep itself is a broadcast of a 4-row threshold spine against the
    (ids, 3 BIGINTs) pair list — no second corpus pass, no extra shuffle
    beyond the ~|pairs| rollups."""
    d = parallel_table(spark, sf_dir, "documents")
    scored = _jaccard_scored(spark, sf_dir).where(
        100 * F.col("i")
        >= int(_JACCARD_TAU * 100) * (F.col("sa") + F.col("sb") - F.col("i"))
    )
    def _spine():
        return F.broadcast(
            spark.range(1)
            .select(
                F.explode(F.array(*[F.lit(p) for p in _YC_PCTS])).alias("p")
            )
            .select(F.col("p").cast("bigint").alias("tau_pct"))
        )

    qual = scored.join(
        _spine(),
        100 * F.col("i")
        >= F.col("tau_pct") * (F.col("sa") + F.col("sb") - F.col("i")),
    ).select("tau_pct", "doc_a", "doc_b", "sb")
    pa = qual.groupBy("tau_pct").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    da = (
        qual.select("tau_pct", "doc_b", "sb")
        .distinct()
        .groupBy("tau_pct")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dropped"),
            F.sum("sb").cast("bigint").alias("tokens_dropped"),
        )
    )
    tot = F.broadcast(
        d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    return (
        _spine().join(pa, "tau_pct", "left")
        .join(da, "tau_pct", "left")
        .crossJoin(tot)
        .select(
            "tau_pct",
            F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce("n_dropped", F.lit(0))
            .cast("bigint")
            .alias("n_dropped"),
            F.coalesce("tokens_dropped", F.lit(0))
            .cast("bigint")
            .alias("tokens_dropped"),
            F.expr(
                "CAST((1000000 * coalesce(n_dropped, 0)) div n_docs "
                "AS BIGINT)"
            ).alias("drop_ppm"),
        )
    )


# --- C118: dup-graph centrality (inverse-neighbor-degree authority) ----------


@query(
    "q_llm_dup_centrality",
    oracle=f"""
    WITH toks AS (
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
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    deg AS (
        SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS deg
        FROM edges GROUP BY src
    )
    SELECT e.src AS doc_id,
           CAST(any_value(d_self.deg) AS BIGINT) AS deg,
           CAST(sum(1000 // d_nbr.deg) AS BIGINT) AS nbr_score_milli
    FROM edges e
    JOIN deg d_self ON e.src = d_self.doc_id
    JOIN deg d_nbr ON e.dst = d_nbr.doc_id
    GROUP BY e.src
    """,
)
def q_llm_dup_centrality(spark, sf_dir):
    """C118: dup-graph CENTRALITY — for each document in the C2 near-dup
    graph, the degree-discounted neighbor mass sum(1/deg(j)) over its
    neighbors j (exact floor-milli integers). The triage score between
    C103's raw degree spectrum and full PageRank: a doc tied to many
    EXCLUSIVE partners (their only dup) is the true template source and
    scores ~deg x 1000; a doc inside one big clique scores ~1000 no
    matter the clique size, because its neighbors' mass is split across
    the clique — exactly the distinction a cleanup queue ranks by (kill
    the hub first, not clique members). One step of degree-normalized
    propagation = the first PageRank iteration, in pure BIGINTs; further
    iterations would go through the C21-style parquet loop if ever needed.

    Scale: reuses C2's exact PPJoin machinery (hash-keyed candidate
    generation, array verify), then everything is (id, id) edges: the
    degree rollup and the two degree joins shuffle BIGINT pairs bounded
    by edge count. any_value(deg) is exact (deg constant per group)."""
    scored = _jaccard_scored(spark, sf_dir)
    jac = F.col("i") * 1.0 / (F.col("sa") + F.col("sb") - F.col("i"))
    pairs = scored.where(jac >= _JACCARD_TAU).select("doc_a", "doc_b")
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(
            F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
        )
    )
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    ).withColumnRenamed("src", "doc_id")
    d_self = deg.select(
        F.col("doc_id").alias("src"), F.col("deg").alias("self_deg")
    )
    d_nbr = deg.select(
        F.col("doc_id").alias("dst"), F.col("deg").alias("nbr_deg")
    )
    return (
        edges.join(d_self, "src")
        .join(d_nbr, "dst")
        .groupBy(F.col("src").alias("doc_id"))
        .agg(
            F.first("self_deg").cast("bigint").alias("deg"),
            F.sum(F.expr("1000 div nbr_deg")).cast("bigint").alias(
                "nbr_score_milli"
            ),
        )
    )


# --- C119: Bloom-filter membership audit (the dedup-probe primitive) ---------

_BLOOM_M = 1024  # bits (sized so fixture-scale load yields a visible FPR)
_BLOOM_K = 2  # probes per key (double hashing)

# The k slot indices of key h under double hashing: slot_i = (h1 + i*h2)
# mod m with h1 = h mod m, h2 = 1 + (h div m) mod (m-1) — pure integer
# arithmetic, identical on both engines (h is a non-negative 60-bit value,
# so truncating and flooring division agree). A key's k slots may collide
# with each other (m is not prime); membership therefore compares against
# the key's DISTINCT slot count, not k.
_BLOOM_H1 = f"(h % {_BLOOM_M})"
_BLOOM_H2 = f"(1 + (h // {_BLOOM_M}) % {_BLOOM_M - 1})"
_BLOOM_SLOTS_DUCK = ", ".join(
    f"({_BLOOM_H1} + {i} * {_BLOOM_H2}) % {_BLOOM_M}"
    for i in range(_BLOOM_K)
)
_BLOOM_SLOTS_SPARK = ", ".join(
    f"((h % {_BLOOM_M}) + {i} * (1 + (h div {_BLOOM_M}) % {_BLOOM_M - 1})) "
    f"% {_BLOOM_M}"
    for i in range(_BLOOM_K)
)


@query(
    "q_llm_bloom_fpr",
    oracle=f"""
    WITH keys AS (
        SELECT doc_id,
               ('0x' || substr(md5(coalesce(text, '')), 1, 15))::BIGINT AS h
        FROM documents
    ),
    ins AS (SELECT DISTINCT h FROM keys WHERE doc_id % 2 = 0),
    bits AS (
        SELECT DISTINCT unnest([{_BLOOM_SLOTS_DUCK}]) AS slot FROM ins
    ),
    probes AS (
        SELECT doc_id, h FROM keys
        WHERE doc_id % 2 = 1 AND h NOT IN (SELECT h FROM ins)
    ),
    pslots AS (
        SELECT DISTINCT doc_id,
               unnest([{_BLOOM_SLOTS_DUCK}]) AS slot
        FROM probes
    ),
    judged AS (
        SELECT p.doc_id,
               count(*) AS n_slots,
               count(b.slot) AS n_set
        FROM pslots p LEFT JOIN bits b ON p.slot = b.slot
        GROUP BY p.doc_id
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_probes,
               CAST(sum(CASE WHEN n_set = n_slots THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_false_pos
        FROM judged
    )
    SELECT CAST({_BLOOM_M} AS BIGINT) AS m_bits,
           CAST({_BLOOM_K} AS BIGINT) AS k_hashes,
           (SELECT CAST(count(*) AS BIGINT) FROM ins) AS n_inserted,
           (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set,
           n_probes, n_false_pos,
           CAST((1000000 * n_false_pos) // greatest(1, n_probes)
                AS BIGINT) AS fpr_ppm
    FROM agg
    """,
)
def q_llm_bloom_fpr(spark, sf_dir):
    """C119: BLOOM-FILTER membership audit — build an {_BLOOM_M}-bit,
    {_BLOOM_K}-probe Bloom filter over half the corpus's content hashes
    (even doc_ids), probe it with the other half's true negatives, and
    report the measured false-positive rate plus the filter's load
    (bits set). The sizing rehearsal for the 100 TB incremental-ingest
    path: C46 probes a batch against the corpus's EXACT hash set — at
    scale that set lives behind exactly this structure (RocksDB/
    Parquet-bloom, state-store filters), and m/k must be chosen from a
    measured FPR-vs-load curve, not folklore. Fully deterministic: slots
    come from double hashing on the 60-bit md5 prefix in pure integer
    arithmetic (non-negative h, so truncating and flooring div agree),
    and the oracle replays the identical filter bit-for-bit. A key's
    slots may self-collide (m is not prime), so membership compares
    matched slots against the key's DISTINCT slot count.

    Scale: the filter is |m| DISTINCT slot rows (16 KiB of bits in a real
    deployment — here a relational bit-set); build and probe are
    hash-only shuffles bounded by k x |keys|; the probe verdict is one
    LEFT-JOIN rollup per key. Text never leaves the scan (md5 beside the
    read, the C1 rule)."""
    keys = parallel_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "cast(conv(substring(md5(coalesce(text, '')), 1, 15), 16, 10) "
            "as bigint)"
        ).alias("h"),
    )
    ins = keys.where(F.col("doc_id") % 2 == 0).select("h").distinct()
    bits = (
        ins.select(
            F.explode(F.expr(f"array({_BLOOM_SLOTS_SPARK})")).alias("slot")
        )
        .distinct()
    )
    probes = (
        keys.where(F.col("doc_id") % 2 == 1)
        .join(ins.withColumnRenamed("h", "h_ins"),
              F.col("h") == F.col("h_ins"), "left_anti")
    )
    pslots = (
        probes.select(
            "doc_id",
            F.explode(F.expr(f"array({_BLOOM_SLOTS_SPARK})")).alias("slot"),
        )
        .distinct()
    )
    judged = (
        pslots.join(
            bits.withColumnRenamed("slot", "b_slot"),
            F.col("slot") == F.col("b_slot"),
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_slots"),
            F.count("b_slot").alias("n_set"),
        )
    )
    agg = judged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.sum(
            (F.col("n_set") == F.col("n_slots")).cast("bigint")
        ).cast("bigint").alias("n_false_pos"),
    )
    n_ins = ins.agg(F.count(F.lit(1)).cast("bigint").alias("n_inserted"))
    n_bits = bits.agg(F.count(F.lit(1)).cast("bigint").alias("n_bits_set"))
    return (
        agg.crossJoin(F.broadcast(n_ins))
        .crossJoin(F.broadcast(n_bits))
        .select(
            F.lit(_BLOOM_M).cast("bigint").alias("m_bits"),
            F.lit(_BLOOM_K).cast("bigint").alias("k_hashes"),
            "n_inserted",
            "n_bits_set",
            "n_probes",
            "n_false_pos",
            F.expr(
                "CAST((1000000 * n_false_pos) div greatest(1, n_probes) "
                "AS BIGINT)"
            ).alias("fpr_ppm"),
        )
    )


_PAGERANK_STEPS = 4
# The exact-Jaccard pair CTE shared by the dup-graph oracles (C21 cluster,
# C103 degree, C117 triangles, C118 centrality) — repeated here because the
# driver runs each oracle standalone.
_PAGERANK_EDGE_CTE = f"""
    WITH toks AS (
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
    ),
    edges AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    deg AS MATERIALIZED (
        SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src
    )"""


def _pagerank_oracle() -> str:
    its = []
    for k in range(1, _PAGERANK_STEPS + 1):
        its.append(f"""
    pr{k} AS (
        SELECT e.dst AS v,
               (SELECT 150000 // count(*) FROM deg)
               + CAST(sum((17 * p.p) // (20 * d.deg)) AS BIGINT) AS p
        FROM edges e
        JOIN pr{k - 1} p ON e.src = p.v
        JOIN deg d ON e.src = d.src
        GROUP BY e.dst
    )""")
    return f"""{_PAGERANK_EDGE_CTE},
    pr0 AS (
        SELECT src AS v,
               CAST(1000000 // (SELECT count(*) FROM deg) AS BIGINT) AS p
        FROM deg
    ),{",".join(its)}
    SELECT p.v AS doc_id, d.deg AS degree,
           p.p AS pr{_PAGERANK_STEPS}_ppm
    FROM pr{_PAGERANK_STEPS} p JOIN deg d ON p.v = d.src
    """


@query("q_llm_dup_pagerank", oracle=_pagerank_oracle())
def q_llm_dup_pagerank(spark, sf_dir):
    """C135: damped PageRank over the C2 near-dup graph — the full
    iterative refinement of C118's one-step degree-discounted mass:
    which documents are the STRUCTURAL hubs of duplication (template
    sources feeding many otherwise-unrelated near-dups) once influence
    is allowed to propagate, not just arrive from immediate neighbors?
    The cleanup-queue ranking for a 100 TB corpus: kill the highest-
    PageRank doc per component first and most of the near-dup mass dies
    with it.

    Exactness (the B126 Markov pattern on the dup graph): all mass in
    integer ppm from a uniform start over the graph's nodes; each of the
    {_PAGERANK_STEPS} damped steps is p'_v = 150000//N + sum over
    in-edges of (17*p_u) // (20*deg_u) — truncating integer division on
    both engines (D7-pinned), exact integer sums, so the engines walk
    the identical lattice and no float ever accumulates. The graph is
    undirected (symmetric edges), so there are no dangling nodes and no
    sink-mass correction term. Flooring leaks ppm mass (an audit
    quantity, bounded by |edges| per step), never correctness.

    Plan/scale: pairs ride the memoized C2 PPJoin state (`_jaccard_
    scored` — zero marginal candidate-generation cost in a pipeline
    that already deduped); each iteration is a join of (id, id) edges
    against a |nodes|-row rank frame — hash exchanges bounded by edge
    count, iteration cost independent of corpus size. The same loop
    would stage per-round parquet (C21's pattern) once |nodes| outgrows
    executor memory."""
    scored = _jaccard_scored(spark, sf_dir)
    jac = F.col("i") * 1.0 / (F.col("sa") + F.col("sb") - F.col("i"))
    pairs = scored.where(jac >= _JACCARD_TAU).select("doc_a", "doc_b")
    # Round 15 (guide §2.3, profiled): the r14 form checkpointed BASE =
    # edges ⋈ deg and re-read 132 MB of deserialized cache blocks per
    # iteration, paying the per-EDGE (17*p) div (20*deg) division each
    # step. The damped term depends only on the SOURCE node, so compute it
    # on the |nodes|-row frame (contrib = pr ⋈ deg, both node-scale,
    # broadcast) and stream the edges against it — the per-round edge-side
    # read is now the tau-filtered pair parquet itself (columnar,
    # column-pruned to the two id columns, explode-doubled in-stage: one
    # scan per round, ~10x fewer bytes than the old cache re-read), with
    # no base-build checkpoint job at all. Results are bit-identical:
    # term(src) summed per dst is the same integer lattice.
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                ),
                F.struct(
                    F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                ),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")
    # deg stays checkpointed: one row per node with >=1 near-dup — the
    # bounded-frame regime this loop is documented for (the C21
    # parquet-barrier form takes over once |nodes| outgrows memory).
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .localCheckpoint(eager=True)
    )
    n_nodes = deg.count()
    if n_nodes == 0:
        return deg.select(
            F.col("src").alias("doc_id"),
            F.col("deg").alias("degree"),
            F.col("deg").alias(f"pr{_PAGERANK_STEPS}_ppm"),
        )
    tele = 150_000 // n_nodes
    pr = deg.select(
        F.col("src").alias("v"),
        F.lit(1_000_000 // n_nodes).cast("bigint").alias("p"),
    )
    for _ in range(_PAGERANK_STEPS):
        contrib = (
            pr.join(F.broadcast(deg), pr.v == deg.src)
            .select(
                F.col("v").alias("cv"),
                F.expr("CAST((17 * p) div (20 * deg) AS BIGINT)").alias(
                    "c"
                ),
            )
        )
        pr = (
            edges.join(F.broadcast(contrib), edges.src == F.col("cv"))
            .groupBy(F.col("dst").alias("_v"))
            .agg((F.lit(tele) + F.sum("c")).cast("bigint").alias("p"))
            .select(F.col("_v").alias("v"), "p")
        )
    return pr.join(F.broadcast(deg), pr.v == deg.src).select(
        F.col("v").alias("doc_id"),
        F.col("deg").alias("degree"),
        F.col("p").alias(f"pr{_PAGERANK_STEPS}_ppm"),
    )


_KCORE_K = 3
_KCORE_ROUNDS = 5


def _kcore_oracle() -> str:
    rounds = []
    for r in range(1, _KCORE_ROUNDS + 1):
        rounds.append(f"""
    deg{r} AS (
        SELECT src, CAST(count(*) AS BIGINT) AS d
        FROM e{r - 1} GROUP BY src
    ),
    keep{r} AS (SELECT src FROM deg{r} WHERE d >= {_KCORE_K}),
    e{r} AS MATERIALIZED (
        SELECT e.src, e.dst
        FROM e{r - 1} e
        JOIN keep{r} a ON e.src = a.src
        JOIN keep{r} b ON e.dst = b.src
    )""")
    return f"""{_PAGERANK_EDGE_CTE},
    e0 AS MATERIALIZED (SELECT src, dst FROM edges),{",".join(rounds)}
    SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS core_degree
    FROM e{_KCORE_ROUNDS}
    GROUP BY src
    """


@query("q_llm_dup_kcore", oracle=_kcore_oracle())
def q_llm_dup_kcore(spark, sf_dir):
    """C141: {_KCORE_K}-core of the C2 near-dup graph by
    {_KCORE_ROUNDS} rounds of synchronous peeling — strip every doc
    with fewer than {_KCORE_K} near-dup partners, recompute degrees on
    the stripped graph, repeat. What survives is the DENSE DUPLICATION
    CORE: the mutually-near-identical template families that C21's
    connected components lump together with their sparse halos, and
    the first thing a cleanup crew should bulk-delete (C135's PageRank
    ranks WITHIN what this isolates). Synchronous fixed-round peeling
    is the C87/B126 fixed-iteration pattern: at these fixture scales
    the peel reaches its fixpoint in <= 3 rounds ({_KCORE_ROUNDS} adds
    slack), and the round count is part of the operator's contract, so
    both engines compute the identical intermediate graphs.

    Exactness: degrees and survivals are pure integer counts/joins —
    no floats anywhere. Deterministic under any partitioning (each
    round is a groupBy + two semi-join-shaped inner joins).

    Plan/scale: pairs ride the memoized C2 PPJoin state; each round
    shuffles (id, id) edges bounded by the shrinking edge count —
    iteration cost independent of corpus size, and monotonically
    decreasing. The same loop stages per-round parquet (C21) once the
    edge set outgrows memory."""
    scored = _jaccard_scored(spark, sf_dir)
    jac = F.col("i") * 1.0 / (F.col("sa") + F.col("sb") - F.col("i"))
    pairs = scored.where(jac >= _JACCARD_TAU).select("doc_a", "doc_b")
    # Round 15 (guide §2.3): round 1 reads the tau-filtered pair parquet
    # directly (explode-doubled in-stage — one column-pruned scan) instead
    # of first materializing a deserialized 2x-edge checkpoint (121 MB
    # profiled) that only the first peel round ever read; the loop's
    # per-round SHRINKING edge state keeps its eager checkpoints below.
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                ),
                F.struct(
                    F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                ),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")
    # Early exit at the fixpoint (round 14): each peel round filters the
    # edge set, so edges_{r+1} ⊆ edges_r; an unchanged COUNT therefore
    # means an unchanged SET, identical degrees, identical keeps — every
    # remaining round is the identity and the final result is the same.
    # The count rides the eager checkpoint's cached blocks (one cheap
    # job), while a skipped round saves a groupBy + two joins + a
    # checkpoint materialization — at sf0.1 the peel reaches its
    # fixpoint in <= 3 of the {_KCORE_ROUNDS} contract rounds, and at
    # 100 TB the saving is a full edge-scale pass per skipped round.
    prev_n = edges.count()
    for _ in range(_KCORE_ROUNDS):
        deg = edges.groupBy("src").agg(
            F.count(F.lit(1)).cast("bigint").alias("d")
        )
        keep = deg.where(F.col("d") >= _KCORE_K).select("src")
        edges = (
            edges.join(keep, "src")
            .join(
                keep.withColumnRenamed("src", "dst"),
                "dst",
            )
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
        n = edges.count()
        if n == prev_n:
            break
        prev_n = n
    return edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("core_degree")
    ).select(F.col("src").alias("doc_id"), "core_degree")


_BANDCFGS = [(8, 2), (4, 4), (2, 8)]  # (bands, rows) over a 16-slot budget


@query(
    "q_llm_band_tuning",
    oracle=f"""
    WITH toks AS (
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
    pairs AS MATERIALIZED (
        SELECT i, sa.sz + sb.sz - i AS u
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE 100 * i >= {int(_JACCARD_TAU * 100)} * (sa.sz + sb.sz - i)
    ),
    cfgs(bands, rws) AS (
        VALUES {", ".join(f"({b}, {r})" for b, r in _BANDCFGS)}
    ),
    scored AS (
        SELECT c.bands, c.rws,
               CAST(floor(1000000.0 * (1.0 - power(
                   1.0 - power(CAST(i AS DOUBLE) / CAST(u AS DOUBLE), c.rws),
                   c.bands))) AS BIGINT) AS p_micro
        FROM pairs p CROSS JOIN cfgs c
    )
    SELECT bands, CAST(rws AS BIGINT) AS rows_per_band,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(p_micro) AS BIGINT) AS detect_mass_micro,
           round(CAST(sum(p_micro) AS BIGINT)
                 / (1000000.0 * count(*)), 6) AS expected_recall
    FROM scored
    GROUP BY bands, rws
    ORDER BY bands
    """,
)
def q_llm_band_tuning(spark, sf_dir):
    """C142: LSH band/row S-curve tuning — for every exact C2 pair at
    tau={_JACCARD_TAU} and each (b bands x r rows) split of a 16-slot
    MinHash budget, the detection probability 1-(1-j^r)^b, aggregated
    to the EXPECTED RECALL each configuration would achieve on this
    corpus's actual similarity distribution. This is how the C3/C140
    banding parameters are chosen PRINCIPLED-ly instead of by folklore:
    the S-curve is textbook (Leskovec-Rajaraman-Ullman ch.3), but the
    recall integral depends on the measured pair-Jaccard histogram,
    which only the exact pass knows.

    Exactness: j = i/u is a ratio of exact integers per pair; the
    S-curve value is ONE fixed double expression (power of a ratio of
    exact ints — bit-identical on both engines), floor-quantized to
    integer micro-probability per (pair, config) so the cross-pair SUM
    commutes (the B153 discipline); expected_recall is one float per
    config row, round(6).

    Plan/scale: rides the memoized C2 pair state (zero candidate cost);
    the config spine is a 3-row broadcast; everything after the pair
    list is |pairs| x 3 arithmetic with map-side combine."""
    scored = _jaccard_scored(spark, sf_dir)
    pairs = scored.where(
        F.col("i") * 1.0 / (F.col("sa") + F.col("sb") - F.col("i"))
        >= _JACCARD_TAU
    ).select(
        F.col("i").cast("bigint").alias("i"),
        (F.col("sa") + F.col("sb") - F.col("i")).cast("bigint").alias("u"),
    )
    cfgs = spark.createDataFrame(
        [(b, r) for b, r in _BANDCFGS], "bands bigint, rws bigint"
    )
    j = F.col("i").cast("double") / F.col("u").cast("double")
    p_micro = F.floor(
        F.lit(1000000.0)
        * (
            F.lit(1.0)
            - F.pow(
                F.lit(1.0) - F.pow(j, F.col("rws").cast("int")),
                F.col("bands").cast("int"),
            )
        )
    ).cast("bigint")
    sc = pairs.crossJoin(F.broadcast(cfgs)).select(
        "bands", "rws", p_micro.alias("p_micro")
    )
    return (
        sc.groupBy("bands", "rws")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("p_micro").cast("bigint").alias("detect_mass_micro"),
        )
        .select(
            "bands",
            F.col("rws").alias("rows_per_band"),
            "n_pairs",
            "detect_mass_micro",
            F.round(
                F.col("detect_mass_micro")
                / (F.lit(1000000.0) * F.col("n_pairs")),
                6,
            ).alias("expected_recall"),
        )
    )


# --- C163: shard-locality of the near-dup graph --------------------------------

_SHARD_N = 16


@query(
    "q_llm_dedup_shard_locality",
    oracle=f"""
    WITH toks AS (
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
        WHERE i * 1.0 / (sa.sz + sb.sz - i) >= {_JACCARD_TAU}
    ),
    tagged AS (
        SELECT p.doc_a, p.doc_b,
               CASE WHEN p.doc_a % {_SHARD_N} = p.doc_b % {_SHARD_N}
                    THEN 1 ELSE 0 END AS hash_intra,
               CASE WHEN da.source = db.source THEN 1 ELSE 0 END
                   AS src_intra
        FROM pairs p
        JOIN documents da ON da.doc_id = p.doc_a
        JOIN documents db ON db.doc_id = p.doc_b
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(hash_intra) AS BIGINT) AS hash_i,
               CAST(sum(src_intra) AS BIGINT) AS src_i
        FROM tagged
    )
    SELECT 'hash{_SHARD_N}' AS scheme, n_pairs,
           hash_i AS intra_pairs,
           n_pairs - hash_i AS cross_pairs,
           CAST(1000000 * hash_i // greatest(1, n_pairs) AS BIGINT)
               AS intra_ppm
    FROM agg
    UNION ALL
    SELECT 'source' AS scheme, n_pairs,
           src_i AS intra_pairs,
           n_pairs - src_i AS cross_pairs,
           CAST(1000000 * src_i // greatest(1, n_pairs) AS BIGINT)
               AS intra_ppm
    FROM agg
    """,
)
def q_llm_dedup_shard_locality(spark, sf_dir):
    """C163: shard-locality of the near-dup graph — the question that
    decides a 100 TB dedup ARCHITECTURE: if the corpus is sharded and
    each shard deduped locally (embarrassingly parallel, no global
    shuffle), what fraction of true near-dup pairs lands INSIDE one
    shard and is actually caught? Measured for the two canonical
    assignments over C2's exact pair set: content-blind hash sharding
    (doc_id mod {_SHARD_N} — the ingestion default; dup partners
    scatter, intra share ≈ 1/{_SHARD_N} and shard-local dedup misses
    ~15/16 of pairs) vs source-grouped sharding (dup pairs concentrate
    where template families are intra-source). The gap between the two
    rows is the measured argument for C43-style locality-aware
    sharding — or for paying the global pass (C3's banded LSH) when
    locality is poor.

    Derivation discipline: the pair frame IS the memoized C2 build
    (:func:`_jaccard_scored`, shared with the six other consumers —
    this query adds two id-keyed metadata joins and a single-row
    aggregate); the oracle wraps C2's registered SQL as a CTE. Plan:
    pairs join documents on ids ONLY (source rides the build side;
    text never leaves its scan), one global agg, 2 released rows."""
    scored = _jaccard_scored(spark, sf_dir)
    jac = F.col("i") * 1.0 / (F.col("sa") + F.col("sb") - F.col("i"))
    pairs = scored.where(jac >= _JACCARD_TAU).select("doc_a", "doc_b")
    src = parallel_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    tagged = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_a"),
                F.col("source").alias("src_a"),
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"),
                F.col("source").alias("src_b"),
            ),
            "doc_b",
        )
        .select(
            F.when(
                F.col("doc_a") % _SHARD_N == F.col("doc_b") % _SHARD_N, 1
            )
            .otherwise(0)
            .alias("hash_intra"),
            F.when(F.col("src_a") == F.col("src_b"), 1)
            .otherwise(0)
            .alias("src_intra"),
        )
    )
    agg = tagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("hash_intra").cast("bigint").alias("hash_i"),
        F.sum("src_intra").cast("bigint").alias("src_i"),
    )
    out = agg.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(f"hash{_SHARD_N}").alias("scheme"),
                    F.col("hash_i").alias("intra"),
                ),
                F.struct(
                    F.lit("source").alias("scheme"),
                    F.col("src_i").alias("intra"),
                ),
            )
        ).alias("s"),
        "n_pairs",
    )
    return out.select(
        F.col("s.scheme").alias("scheme"),
        "n_pairs",
        F.col("s.intra").alias("intra_pairs"),
        (F.col("n_pairs") - F.col("s.intra"))
        .cast("bigint")
        .alias("cross_pairs"),
        F.expr(
            "CAST(1000000 * s.intra div greatest(1, n_pairs) AS BIGINT)"
        ).alias("intra_ppm"),
    )


# --- C164: token-mass dedup yield funnel ---------------------------------------


@query(
    "q_llm_token_yield_funnel",
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               len(string_split(coalesce(text, ''), ' ')) AS n_tok,
               md5(coalesce(text, '')) AS h
        FROM documents
    ),
    exact_keep AS (
        SELECT doc_id, n_tok
        FROM (
            SELECT doc_id, n_tok,
                   row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
            FROM base
        ) WHERE rn = 1
    ),
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
    losers AS (
        SELECT DISTINCT doc_b AS doc_id
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE i * 1.0 / (sa.sz + sb.sz - i) >= {_JACCARD_TAU}
    ),
    neardup_keep AS (
        SELECT e.doc_id, e.n_tok
        FROM exact_keep e
        WHERE e.doc_id NOT IN (SELECT doc_id FROM losers)
    ),
    raw_s AS (
        SELECT CAST(count(*) AS BIGINT) AS docs,
               CAST(sum(n_tok) AS BIGINT) AS toks
        FROM base
    ),
    stages AS (
        SELECT 0 AS stage, 'raw' AS name, docs, toks FROM raw_s
        UNION ALL
        SELECT 1, 'exact',
               CAST(count(*) AS BIGINT), CAST(sum(n_tok) AS BIGINT)
        FROM exact_keep
        UNION ALL
        SELECT 2, 'neardup',
               CAST(count(*) AS BIGINT), CAST(sum(n_tok) AS BIGINT)
        FROM neardup_keep
    )
    SELECT s.stage, s.name,
           CAST(s.docs AS BIGINT) AS n_docs,
           CAST(s.toks AS BIGINT) AS n_tokens,
           CAST(1000000 * s.toks // r.toks AS BIGINT) AS token_share_ppm
    FROM stages s CROSS JOIN raw_s r
    """,
)
def q_llm_token_yield_funnel(spark, sf_dir):
    """C164: the dedup funnel in TOKEN MASS — raw → exact-dedup →
    near-dup-removed, each stage's surviving doc count, token count,
    and exact floor-ppm token share. C121's funnel ledgers QUALITY
    gates in doc counts; C38 materializes the survivor corpus — but a
    training-token budget (C109) spends TOKENS, and dedup losers skew
    LONG (template families), so the token curve is the one the budget
    planner actually needs. Stage 1 keeps the min-doc_id survivor per
    exact content hash (C1's rule); stage 2 additionally drops every
    doc that appears as the LARGER id of a C2 tau-pair (the
    deterministic greedy loser rule C38's near-dup stage refines with
    full clusters — here the point is the mass curve, and the greedy
    rule is oracle-expressible without a recursive CTE).

    Plan/scale: token counts are scan-stage (D1); the exact stage is
    the C1 hash-window shape (md5 + ids only on the shuffle); the
    near-dup drop set reuses the memoized C2 pair build
    (:func:`_jaccard_scored`) reduced to a distinct-id frame and
    applied as a LEFT-ANTI join; the release is 3 rows against a 1-row
    raw-total broadcast."""
    d = table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.size(F.split(F.coalesce("text", F.lit("")), " ")).alias("n_tok"),
        F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")).alias(
            "h"
        ),
    )
    exact_w = W.partitionBy("h").orderBy(F.col("doc_id").asc())
    exact_keep = (
        base.withColumn("rn", F.row_number().over(exact_w))
        .where(F.col("rn") == 1)
        .select("doc_id", "n_tok")
    )
    scored = _jaccard_scored(spark, sf_dir)
    jac = F.col("i") * 1.0 / (F.col("sa") + F.col("sb") - F.col("i"))
    losers = (
        scored.where(jac >= _JACCARD_TAU)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    neardup_keep = exact_keep.join(losers, "doc_id", "left_anti")
    raw_s = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("docs"),
        F.sum("n_tok").cast("bigint").alias("toks"),
    )
    stage = [
        raw_s.select(
            F.lit(0).alias("stage"), F.lit("raw").alias("name"),
            "docs", "toks",
        ),
        exact_keep.agg(
            F.count(F.lit(1)).cast("bigint").alias("docs"),
            F.sum("n_tok").cast("bigint").alias("toks"),
        ).select(
            F.lit(1).alias("stage"), F.lit("exact").alias("name"),
            "docs", "toks",
        ),
        neardup_keep.agg(
            F.count(F.lit(1)).cast("bigint").alias("docs"),
            F.sum("n_tok").cast("bigint").alias("toks"),
        ).select(
            F.lit(2).alias("stage"), F.lit("neardup").alias("name"),
            "docs", "toks",
        ),
    ]
    stages = stage[0].unionByName(stage[1]).unionByName(stage[2])
    return stages.crossJoin(
        F.broadcast(raw_s.select(F.col("toks").alias("raw_toks")))
    ).select(
        F.col("stage").cast("int").alias("stage"),
        "name",
        F.col("docs").cast("bigint").alias("n_docs"),
        F.col("toks").cast("bigint").alias("n_tokens"),
        F.expr("CAST(1000000 * toks div raw_toks AS BIGINT)").alias(
            "token_share_ppm"
        ),
    )
