"""Cross-engine-exact cardinality/frequency sketches (SURVEY.md §2
C136–C137).

The xxhash64-seeded sketches (C3 MinHash, C37s Misra-Gries, C82s LSH) are
rows-only because DuckDB cannot replay Spark's hash. These two sketches are
instead built on a PORTABLE hash both engines compute bit-identically:
``md5(tok)`` (lowercase hex on both) parsed 8 hex digits at a time into
32-bit integers — so the sketch itself, not just its contract, is
SQL-oracled. The md5 parse is a fixed 8-term integer expression (no UDF, no
loop), and everything downstream is exact integer arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import parallel_table

_HEX = "0123456789abcdef"


def _jaccard_tau_ints() -> tuple[int, int]:
    """(num, den) integer rendering of dedup._JACCARD_TAU for the oracle
    exact-pair predicate ``den * i >= num * (sa.sz + sb.sz - i)`` — DERIVED
    from the same constant the Spark side filters on (ADVICE r13: a
    hardcoded 80/100 silently diverges oracle from query if tau moves).
    Exact via Fraction (the prefix_filtered_jaccard discipline), rendered
    on the house /100 lattice when tau lands on it so today's oracle
    strings stay byte-identical."""
    from fractions import Fraction

    from .dedup import _JACCARD_TAU

    frac = Fraction(_JACCARD_TAU).limit_denominator(10_000)
    if 100 % frac.denominator == 0:
        return frac.numerator * (100 // frac.denominator), 100
    return frac.numerator, frac.denominator


_TAU_NUM, _TAU_DEN = _jaccard_tau_ints()


def _hex_parse_spark(col: str, start: int) -> str:
    """Spark SQL expression: parse 8 hex chars of md5(col) starting at
    1-based position `start` into a BIGINT in [0, 2^32)."""
    terms = [
        f"(CAST(instr('{_HEX}', substr(md5({col}), {start + i}, 1))"
        f" AS BIGINT) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    ]
    return "(" + " + ".join(terms) + ")"


def _hex_parse_duck(col: str, start: int) -> str:
    """DuckDB twin of :func:`_hex_parse_spark` — strpos == instr."""
    terms = [
        f"(CAST(strpos('{_HEX}', substr(md5({col}), {start + i}, 1))"
        f" AS BIGINT) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    ]
    return "(" + " + ".join(terms) + ")"


_KMV_K = 64


@query(
    "q_llm_kmv_distinct",
    oracle=f"""
    WITH toks AS (
        SELECT DISTINCT lang, unnest(string_split(text, ' ')) AS tok
        FROM documents
        WHERE text IS NOT NULL AND lang IS NOT NULL
    ),
    hashes AS (
        SELECT DISTINCT lang, {_hex_parse_duck("tok", 1)} AS h
        FROM toks
        WHERE tok <> ''
    ),
    ranked AS (
        SELECT lang, h,
               row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
        FROM hashes
    ),
    counts AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_distinct
        FROM hashes GROUP BY lang
    ),
    kth AS (
        SELECT lang, h AS kth_hash FROM ranked WHERE rn = {_KMV_K}
    )
    SELECT c.lang AS lang,
           c.n_distinct AS n_distinct,
           CAST(coalesce(k.kth_hash, -1) AS BIGINT) AS kth_hash,
           CASE WHEN k.kth_hash IS NULL
                THEN round(CAST(c.n_distinct AS DOUBLE), 6)
                ELSE round(({_KMV_K} - 1.0) * 4294967296.0
                           / CAST(k.kth_hash AS DOUBLE), 6)
           END AS est_distinct
    FROM counts c LEFT JOIN kth k ON c.lang = k.lang
    """,
)
def q_llm_kmv_distinct(spark, sf_dir):
    """C136: KMV (k-minimum-values) distinct-count sketch per language —
    the mergeable cardinality estimator (Bar-Yossef et al. 2002) that,
    unlike C39's HLL (rows-only, Spark-internal), is built on the
    portable md5 hash so the ESTIMATE ITSELF is SQL-oracled: keep the
    {_KMV_K} smallest 32-bit hash values per group; the k-th smallest
    h_k estimates distinct = (k-1) * 2^32 / h_k. Exact-count column
    rides along for the error readout; groups with fewer than
    {_KMV_K} distinct values fall back to the exact count (the sketch
    IS exact below k).

    Exactness: hash = fixed 8-term integer parse of md5 hex (identical
    lowercase hex on both engines), dedup + rank over distinct integers
    (total order, no ties possible), estimate ONE float expression per
    group, round(6).

    Plan/scale: one corpus-scale distinct (lang, tok) rollup, then a
    per-lang window over |distinct hashes| rows. At 100 TB the rollup
    is the only data-scale job; a production variant keeps only each
    partition's k smallest per group before the exchange (min-heap
    semantics via partial aggregation), which this plan's groupBy
    already approximates with map-side combine on the distinct."""
    toks = (
        parallel_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & F.col("lang").isNotNull())
        .select(
            "lang", F.explode(F.split("text", " ")).alias("tok")
        )
        .where(F.col("tok") != "")
        .select("lang", "tok")
        .distinct()
    )
    hashes = toks.select(
        "lang", F.expr(_hex_parse_spark("tok", 1)).alias("h")
    ).distinct()
    w = Window.partitionBy("lang").orderBy(F.col("h").asc())
    ranked = hashes.withColumn("rn", F.row_number().over(w))
    counts = hashes.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct")
    )
    kth = ranked.where(F.col("rn") == _KMV_K).select(
        "lang", F.col("h").alias("kth_hash")
    )
    est = F.when(
        F.col("kth_hash").isNull(),
        F.round(F.col("n_distinct").cast("double"), 6),
    ).otherwise(
        F.round(
            F.lit(float(_KMV_K - 1))
            * F.lit(4294967296.0)
            / F.col("kth_hash").cast("double"),
            6,
        )
    )
    return counts.join(kth, "lang", "left").select(
        "lang",
        "n_distinct",
        F.coalesce(F.col("kth_hash"), F.lit(-1)).cast("bigint").alias(
            "kth_hash"
        ),
        est.alias("est_distinct"),
    )


_CMS_W = 1024  # counters per row
_CMS_D = 4  # rows: the four independent 8-hex-digit chunks of one md5
_CMS_TOPN = 10


@query(
    "q_llm_cms_heavy",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok
        FROM documents
        WHERE text IS NOT NULL
    ),
    tc AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS c
        FROM toks WHERE tok <> '' GROUP BY tok
    ),
    buckets AS (
        SELECT tok, c,
               {", ".join(f"({_hex_parse_duck('tok', 1 + 8 * j)}) % {_CMS_W} AS b{j}" for j in range(_CMS_D))}
        FROM tc
    ),
    cells AS (
        {" UNION ALL ".join(f"SELECT {j} AS row_id, b{j} AS bucket, c FROM buckets" for j in range(_CMS_D))}
    ),
    counters AS (
        SELECT row_id, bucket, CAST(sum(c) AS BIGINT) AS cnt
        FROM cells GROUP BY row_id, bucket
    ),
    heavy AS (
        SELECT tok, c, {", ".join(f"b{j}" for j in range(_CMS_D))}
        FROM buckets
        ORDER BY c DESC, tok
        LIMIT {_CMS_TOPN}
    )
    SELECT h.tok AS tok, h.c AS exact_count,
           least({", ".join(f"k{j}.cnt" for j in range(_CMS_D))}) AS cms_est,
           CAST(least({", ".join(f"k{j}.cnt" for j in range(_CMS_D))}) - h.c
                AS BIGINT) AS overestimate
    FROM heavy h
    {" ".join(f"JOIN counters k{j} ON k{j}.row_id = {j} AND k{j}.bucket = h.b{j}" for j in range(_CMS_D))}
    """,
)
def q_llm_cms_heavy(spark, sf_dir):
    """C137: count-min sketch (Cormode & Muthukrishnan 2005) over the
    corpus token stream — the {_CMS_D}x{_CMS_W} counter matrix whose
    point query min_j counters[j][h_j(tok)] upper-bounds every token's
    true frequency; read out here for the top-{_CMS_TOPN} exact heavy
    hitters with their guaranteed-nonnegative overestimate. The
    fixed-memory frequency twin of C136's cardinality sketch, and the
    SQL-oracled counterpart of C37s's Misra-Gries keyed state: a 100 TB
    ingest keeps {_CMS_D}x{_CMS_W} BIGINTs per executor and merges by
    addition.

    Exactness: the {_CMS_D} row hashes are the four INDEPENDENT
    8-hex-digit chunks of one md5 (no reseeding needed — md5's chunks
    are pairwise independent for this purpose), parsed by the same
    fixed integer expression on both engines, bucketed by % {_CMS_W}
    (nonnegative dividend, so truncation vs floor cannot diverge);
    counters and estimates are pure integer sums/mins; the heavy list
    is ordered by (count DESC, tok) — a total order.

    Plan/scale: one corpus-scale explode+groupBy(tok) (term
    frequencies), then every sketch frame is KB-sized: the counter
    matrix aggregates {_CMS_D}x|vocab| cells to {_CMS_D}x{_CMS_W}
    rows with map-side combine; the readout joins {_CMS_TOPN} rows
    against broadcast counters."""
    tc = (
        parallel_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    buckets = tc.select(
        "tok",
        "c",
        *[
            (F.expr(_hex_parse_spark("tok", 1 + 8 * j)) % _CMS_W).alias(
                f"b{j}"
            )
            for j in range(_CMS_D)
        ],
    ).localCheckpoint(eager=True)
    cells = None
    for j in range(_CMS_D):
        part = buckets.select(
            F.lit(j).alias("row_id"),
            F.col(f"b{j}").alias("bucket"),
            "c",
        )
        cells = part if cells is None else cells.unionByName(part)
    counters = cells.groupBy("row_id", "bucket").agg(
        F.sum("c").cast("bigint").alias("cnt")
    )
    heavy = buckets.orderBy(F.col("c").desc(), F.col("tok").asc()).limit(
        _CMS_TOPN
    )
    out = heavy
    for j in range(_CMS_D):
        kj = counters.where(F.col("row_id") == j).select(
            F.col("bucket").alias(f"_bk{j}"), F.col("cnt").alias(f"cnt{j}")
        )
        out = out.join(
            F.broadcast(kj), F.col(f"b{j}") == F.col(f"_bk{j}")
        )
    est = F.least(*[F.col(f"cnt{j}") for j in range(_CMS_D)])
    return out.select(
        "tok",
        F.col("c").alias("exact_count"),
        est.alias("cms_est"),
        (est - F.col("c")).cast("bigint").alias("overestimate"),
    )


_KMV_LANG_A = "en"
_KMV_LANG_B = "de"


@query(
    "q_llm_kmv_setops",
    oracle=f"""
    WITH toks AS (
        SELECT DISTINCT lang, unnest(string_split(text, ' ')) AS tok
        FROM documents
        WHERE text IS NOT NULL
          AND lang IN ('{_KMV_LANG_A}', '{_KMV_LANG_B}')
    ),
    hashes AS (
        SELECT DISTINCT lang, {_hex_parse_duck("tok", 1)} AS h
        FROM toks
        WHERE tok <> ''
    ),
    ranked AS (
        SELECT lang, h,
               row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
        FROM hashes
    ),
    sk AS (SELECT lang, h FROM ranked WHERE rn <= {_KMV_K}),
    merged AS (
        SELECT h,
               max(CASE WHEN lang = '{_KMV_LANG_A}' THEN 1 ELSE 0 END)
                   AS in_a,
               max(CASE WHEN lang = '{_KMV_LANG_B}' THEN 1 ELSE 0 END)
                   AS in_b
        FROM sk GROUP BY h
    ),
    mr AS (
        SELECT h, in_a, in_b,
               row_number() OVER (ORDER BY h) AS rn
        FROM merged
    ),
    kth AS (SELECT h AS kth_hash FROM mr WHERE rn = {_KMV_K}),
    rho AS (
        SELECT CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
               CAST(count(*) AS BIGINT) AS n_merged
        FROM mr WHERE rn <= {_KMV_K}
    ),
    exact AS (
        SELECT CAST(count(*) AS BIGINT) AS u_exact,
               CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS i_exact
        FROM (SELECT h, count(*) AS cnt FROM hashes GROUP BY h)
    )
    SELECT e.u_exact AS union_exact,
           e.i_exact AS inter_exact,
           r.n_both AS sketch_overlap,
           CASE WHEN k.kth_hash IS NULL
                THEN round(CAST(r.n_merged AS DOUBLE), 6)
                ELSE round(({_KMV_K} - 1.0) * 4294967296.0
                           / CAST(k.kth_hash AS DOUBLE), 6)
           END AS union_est,
           CASE WHEN k.kth_hash IS NULL
                THEN round(CAST(r.n_both AS DOUBLE), 6)
                ELSE round(CAST(r.n_both AS DOUBLE) / {_KMV_K}.0
                           * (({_KMV_K} - 1.0) * 4294967296.0
                              / CAST(k.kth_hash AS DOUBLE)), 6)
           END AS inter_est
    FROM exact e
    CROSS JOIN rho r
    LEFT JOIN kth k ON TRUE
    """,
)
def q_llm_kmv_setops(spark, sf_dir):
    """C139: KMV sketch SET OPERATIONS — the property that makes C136
    worth keeping per shard: two k-min sketches merge by "k smallest of
    the union of survivors" WITHOUT rescanning either side, and the
    merged sketch estimates |A∪B| while the overlap fraction inside the
    merged k-set estimates |A∩B| = rho/k * |A∪B| (Beyer et al., SIGMOD
    2007). Read out for the '{_KMV_LANG_A}'/'{_KMV_LANG_B}' vocabularies
    with the exact counts alongside — the cross-shard vocabulary-overlap
    audit a 100 TB ingest runs from KB-sized sketches instead of a
    corpus-scale distinct join.

    Exactness: portable md5-parse hashes (C136), sketches and merge are
    rank filters over distinct integers (no ties possible), rho and the
    k-th merged hash exact integers; the two estimates are fixed float
    expressions round(6) with the below-k exact fallback.

    Plan/scale: the corpus-scale work is ONE distinct (lang, tok)
    rollup shared with C136; everything after the per-lang rank filter
    runs on <= 2k = 128 rows AT ANY CORPUS SIZE — which is why the
    merged-sketch rank is a (documented, test-allowlisted) partitionless
    window: its input is bounded by construction, not by data."""
    toks = (
        parallel_table(spark, sf_dir, "documents")
        .where(
            F.col("text").isNotNull()
            & F.col("lang").isin(_KMV_LANG_A, _KMV_LANG_B)
        )
        .select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .select("lang", "tok")
        .distinct()
    )
    hashes = toks.select(
        "lang", F.expr(_hex_parse_spark("tok", 1)).alias("h")
    ).distinct().localCheckpoint(eager=True)
    w = Window.partitionBy("lang").orderBy(F.col("h").asc())
    sk = (
        hashes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _KMV_K)
        .select("lang", "h")
    )
    merged = sk.groupBy("h").agg(
        F.max(
            F.when(F.col("lang") == _KMV_LANG_A, 1).otherwise(0)
        ).alias("in_a"),
        F.max(
            F.when(F.col("lang") == _KMV_LANG_B, 1).otherwise(0)
        ).alias("in_b"),
    )
    wm = Window.orderBy(F.col("h").asc())
    mr = merged.withColumn("rn", F.row_number().over(wm))
    kth = mr.where(F.col("rn") == _KMV_K).select(
        F.col("h").alias("kth_hash")
    )
    rho = mr.where(F.col("rn") <= _KMV_K).agg(
        F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("n_both"),
        F.count(F.lit(1)).cast("bigint").alias("n_merged"),
    )
    exact = (
        hashes.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("u_exact"),
            F.sum(F.when(F.col("cnt") == 2, 1).otherwise(0))
            .cast("bigint")
            .alias("i_exact"),
        )
    )
    u_est = F.when(
        F.col("kth_hash").isNull(),
        F.round(F.col("n_merged").cast("double"), 6),
    ).otherwise(
        F.round(
            F.lit(float(_KMV_K - 1))
            * F.lit(4294967296.0)
            / F.col("kth_hash").cast("double"),
            6,
        )
    )
    i_est = F.when(
        F.col("kth_hash").isNull(),
        F.round(F.col("n_both").cast("double"), 6),
    ).otherwise(
        F.round(
            F.col("n_both").cast("double")
            / F.lit(float(_KMV_K))
            * (
                F.lit(float(_KMV_K - 1))
                * F.lit(4294967296.0)
                / F.col("kth_hash").cast("double")
            ),
            6,
        )
    )
    return (
        exact.crossJoin(F.broadcast(rho))
        .join(F.broadcast(kth), F.lit(True), "left")
        .select(
            F.col("u_exact").alias("union_exact"),
            F.col("i_exact").alias("inter_exact"),
            F.col("n_both").alias("sketch_overlap"),
            u_est.alias("union_est"),
            i_est.alias("inter_est"),
        )
    )


_PMH_K = 16
_PMH_P = 2_147_483_647  # Mersenne prime 2^31 - 1
# Affine multipliers/offsets: fixed pseudo-random constants < 2^29, so
# a*h < 2^29 * 2^32 < 2^61 never overflows BIGINT before the mod.
_PMH_A = [((1103515245 * (i + 1) + 12345) % 536870911) | 1 for i in range(_PMH_K)]
_PMH_B = [(69069 * (i + 1) + 1) % _PMH_P for i in range(_PMH_K)]
_PMH_TAU = 0.8


def _pmh_sig_terms(h: str) -> list[str]:
    """The k derived hash expressions g_i = (a_i*h + b_i) mod p — shared
    text between dialects (pure integer arithmetic, both engines)."""
    return [
        f"(({a} * {h} + {b}) % {_PMH_P})"
        for a, b in zip(_PMH_A, _PMH_B)
    ]


def _portable_sig_prefix(spark, sf_dir):
    """C140/C143's {_PMH_K}-permutation signatures, read as the first
    {_PMH_K} columns of the shared 24-permutation barrier
    (:func:`~.dedup.portable_doc_signatures`) — valid because both
    families derive constants from the same recurrence, asserted here so
    a drift in either constant table fails loudly instead of silently
    changing signatures."""
    from .dedup import _MH_A, _MH_B, portable_doc_signatures

    # An explicit raise, not `assert`: python -O strips asserts, which
    # would silently void the fails-loudly contract (ADVICE r13).
    if _PMH_A != _MH_A[:_PMH_K] or _PMH_B != _MH_B[:_PMH_K]:
        raise RuntimeError(
            "portable permutation families diverged: sketches._PMH_A/_PMH_B"
            " no longer prefix dedup._MH_A/_MH_B"
        )
    return portable_doc_signatures(spark, sf_dir).select(
        "doc_id",
        *[F.col(f"h{i}").alias(f"s{i}") for i in range(_PMH_K)],
    )


@query(
    "q_llm_minhash_portable",
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
        WHERE 100 * i >= {int(_PMH_TAU * 100)} * (sa.sz + sb.sz - i)
    ),
    th AS (
        SELECT DISTINCT doc_id, {_hex_parse_duck("tok", 1)} AS h
        FROM toks WHERE tok <> ''
    ),
    sigs AS (
        SELECT doc_id,
               {", ".join(f"min({g}) AS s{i}" for i, g in enumerate(_pmh_sig_terms("h")))}
        FROM th GROUP BY doc_id
    )
    SELECT p.doc_a, p.doc_b,
           round(p.i * 1.0 / (p.sa + p.sb - p.i), 6) AS jaccard,
           CAST({" + ".join(f"CASE WHEN x.s{i} = y.s{i} THEN 1 ELSE 0 END" for i in range(_PMH_K))}
                AS BIGINT) AS agree,
           round(({" + ".join(f"CASE WHEN x.s{i} = y.s{i} THEN 1 ELSE 0 END" for i in range(_PMH_K))})
                 / {_PMH_K}.0, 6) AS jaccard_est
    FROM pairs p
    JOIN sigs x ON p.doc_a = x.doc_id
    JOIN sigs y ON p.doc_b = y.doc_id
    """,
)
def q_llm_minhash_portable(spark, sf_dir):
    """C140: MinHash Jaccard ESTIMATOR on the portable hash — the
    SQL-oracled upgrade of C3's rows-only xxhash64 sketch: one md5 per
    distinct token, {_PMH_K} derived permutations g_i = (a_i*h + b_i)
    mod (2^31-1) (constants < 2^29 so products stay in BIGINT), sig_i =
    min over tokens; for every exact C2 pair at tau={_PMH_TAU} the
    agreement fraction agree/{_PMH_K} is the unbiased Jaccard estimate,
    read out BESIDE the exact value — the estimator-quality audit (per
    pair, not in expectation) that decides how many permutations a
    100 TB MinHash pass actually needs.

    Exactness: every signature is an exact integer min (affine mod
    arithmetic on md5-parse integers, identical on both engines); the
    agreement count is an integer; only jaccard/jaccard_est are floats,
    round(6). Candidate generation reuses C2's exact PPJoin machinery
    Spark-side (memoized `_jaccard_scored`), so this adds ZERO candidate
    cost in a pipeline already running the exact pass.

    Plan/scale: signatures come from the memoized cross-query barrier
    :func:`~..llm.dedup.portable_doc_signatures` (round 13 — C140's
    {_PMH_K} permutations are by construction the first {_PMH_K} of the
    shared 24-permutation family, asserted below), so in a pipeline the
    estimator audit adds ZERO signature cost; two broadcast-size
    signature joins onto the pair list."""
    from .dedup import _JACCARD_TAU, _jaccard_scored

    scored = _jaccard_scored(spark, sf_dir)
    jac = F.col("i") * 1.0 / (F.col("sa") + F.col("sb") - F.col("i"))
    pairs = scored.where(jac >= _JACCARD_TAU).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )
    sigs = _portable_sig_prefix(spark, sf_dir)
    x = sigs.select(
        F.col("doc_id").alias("_xa"),
        *[F.col(f"s{i}").alias(f"xs{i}") for i in range(_PMH_K)],
    )
    y = sigs.select(
        F.col("doc_id").alias("_yb"),
        *[F.col(f"s{i}").alias(f"ys{i}") for i in range(_PMH_K)],
    )
    agree = sum(
        F.when(F.col(f"xs{i}") == F.col(f"ys{i}"), 1).otherwise(0)
        for i in range(_PMH_K)
    )
    return (
        pairs.join(x, F.col("doc_a") == F.col("_xa"))
        .join(y, F.col("doc_b") == F.col("_yb"))
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            agree.cast("bigint").alias("agree"),
            F.round(agree / F.lit(float(_PMH_K)), 6).alias("jaccard_est"),
        )
    )


_BA_BANDS = 4  # 4 bands x 4 rows over the 16 portable permutations
_BA_ROWS = 4


@query(
    "q_llm_band_assign",
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
    exact AS MATERIALIZED (
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE {_TAU_DEN} * i >= {_TAU_NUM} * (sa.sz + sb.sz - i)
    ),
    th AS (
        SELECT DISTINCT doc_id, {_hex_parse_duck("tok", 1)} AS h
        FROM toks WHERE tok <> ''
    ),
    sigs AS MATERIALIZED (
        SELECT doc_id,
               {", ".join(f"min({g}) AS s{i}" for i, g in enumerate(_pmh_sig_terms("h")))}
        FROM th GROUP BY doc_id
    ),
    bands AS (
        {" UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, "
            + " || '|' || ".join(
                f"CAST(s{b * _BA_ROWS + r} AS VARCHAR)" for r in range(_BA_ROWS)
            )
            + " AS key FROM sigs"
            for b in range(_BA_BANDS)
        )}
    ),
    cand AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.key = b.key
                    AND a.doc_id < b.doc_id
    ),
    hits AS (
        SELECT CAST(count(*) AS BIGINT) AS n_hit
        FROM exact e JOIN cand c
          ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
           (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
           n_hit,
           round(n_hit * 1.0
                 / (SELECT count(*) FROM exact), 6) AS achieved_recall
    FROM hits
    """,
)
def q_llm_band_assign(spark, sf_dir):
    """C143: LSH band ASSIGNMENT on the portable signatures — runs the
    {_BA_BANDS}x{_BA_ROWS} banding that C142's S-curve tuning selects
    over C140's {_PMH_K} portable permutations, and measures the
    ACHIEVED recall against C2's exact pairs: candidates are docs
    agreeing on all {_BA_ROWS} rows of any band, recall is the hit
    fraction of exact tau=0.8 pairs. The closing of the tuning loop —
    C142 predicts expected recall from the similarity distribution,
    this row reports what the banding actually delivers (prediction
    ~0.95, achieved within noise of it), and because the hash is the
    portable one the WHOLE pipeline (signatures, banding, candidate
    join, recall) is SQL-oracled, unlike the xxhash64 C3 rung.

    Exactness: signatures are exact integer mins (C140); band keys are
    pipe-joined decimal renderings of 4 BIGINTs (identical string
    rendering both engines); candidate generation is a distinct
    self-join on (band, key); all outputs integer counts + one float.

    Plan/scale: band join shuffles (band, key-hash) pairs bounded by
    posting-list collisions — the C3 geometry; the recall join is
    |exact pairs| against |candidates|, both id-pair frames. At 100 TB
    the banding IS the candidate generator (no exact pass to lean on),
    and this audit runs on a labeled sample instead.

    Readout discipline (VERDICT r8 #6): ONE readout job — exact and
    candidate pair frames meet in a full-outer marker join whose single
    aggregate yields n_exact/n_candidates/n_hit together (each input
    consumed exactly once, so neither needs a checkpoint), instead of
    three driver-side .count() actions. Signatures are the memoized
    cross-query parquet barrier (round 13 —
    :func:`~.dedup.portable_doc_signatures`, which keeps the CC family's
    reliable-store discipline this query's private barrier used to pay
    for alone: sigs feed BOTH sides of the band self-join;
    localCheckpoint's executor-local blocks are the fault-tolerance
    hazard DESIGN-100TB §4 bans)."""
    from .dedup import _JACCARD_TAU, _jaccard_scored

    scored = _jaccard_scored(spark, sf_dir)
    jac = F.col("i") * 1.0 / (F.col("sa") + F.col("sb") - F.col("i"))
    exact = scored.where(jac >= _JACCARD_TAU).select("doc_a", "doc_b")
    sigs = _portable_sig_prefix(spark, sf_dir)
    bands = None
    for b in range(_BA_BANDS):
        key = F.concat_ws(
            "|",
            *[
                F.col(f"s{b * _BA_ROWS + r}").cast("string")
                for r in range(_BA_ROWS)
            ],
        )
        part = sigs.select(
            "doc_id", F.lit(b).alias("band"), key.alias("key")
        )
        bands = part if bands is None else bands.unionByName(part)
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
    )
    # Union marker aggregate (round 14; was distinct() + full-outer
    # marker join): the candidate pairs carried a <= {_BA_BANDS}x band
    # duplication that a distinct() shuffled once, and the full-outer
    # join then shuffled BOTH pair frames again before the single
    # readout aggregate — three pair-scale exchanges for one row of
    # counts. Flag-union + groupBy(pair) computes the identical
    # dedup-and-mark in ONE pair exchange, and the max() flags
    # partial-aggregate map-side, so band duplicates collapse before
    # the shuffle (guide §2.3/§2.4). Same counts: max(in_c) dedups
    # candidates, max(in_e) marks exact pairs, and the final aggregate
    # is unchanged.
    marked = (
        exact.select(
            "doc_a", "doc_b", F.lit(1).alias("in_e"), F.lit(None).cast("int").alias("in_c")
        )
        .unionByName(
            cand.select(
                "doc_a",
                "doc_b",
                F.lit(None).cast("int").alias("in_e"),
                F.lit(1).alias("in_c"),
            )
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.max("in_e").alias("in_e"), F.max("in_c").alias("in_c"))
    )
    return marked.agg(
        F.sum("in_e").cast("bigint").alias("n_exact"),
        F.sum("in_c").cast("bigint").alias("n_candidates"),
        F.sum(F.col("in_e") * F.col("in_c")).cast("bigint").alias("n_hit"),
    ).select(
        "n_exact",
        "n_candidates",
        "n_hit",
        F.round(F.col("n_hit") * 1.0 / F.col("n_exact"), 6).alias(
            "achieved_recall"
        ),
    )


# --- C176: achieved recall of the PRODUCTION C3 banding geometry (round 13) ----


def _c3_band_recall_oracle() -> str:
    """DuckDB twin: exact tau=0.8 pairs (C2's brute-force form) vs the
    candidates of the C3 geometry — 24 portable permutations, 6 bands x 4
    rows (dedup._MH_SIG_TERMS / _MINHASH_BANDS, imported so the audit can
    never drift from the production constants)."""
    from .dedup import _MH_SIG_TERMS, _MINHASH_BANDS, _MINHASH_K

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
    return f"""
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
    exact AS MATERIALIZED (
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE {_TAU_DEN} * i >= {_TAU_NUM} * (sa.sz + sb.sz - i)
    ),
    th AS (
        SELECT DISTINCT doc_id, {_hex_parse_duck("tok", 1)} AS h
        FROM toks WHERE tok <> ''
    ),
    sigs AS MATERIALIZED (SELECT doc_id, {sig_cols} FROM th GROUP BY doc_id),
    bands AS ({band_selects}),
    cand AS MATERIALIZED (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x
        JOIN bands y ON x.band = y.band AND x.bucket = y.bucket
                    AND x.doc_id < y.doc_id
    ),
    hits AS (
        SELECT CAST(count(*) AS BIGINT) AS n_hit
        FROM exact e JOIN cand c
          ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
           (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
           n_hit,
           round(n_hit * 1.0
                 / (SELECT count(*) FROM exact), 6) AS achieved_recall,
           round((SELECT count(*) FROM cand) * 1.0
                 / (SELECT count(*) FROM exact), 6) AS candidate_ratio
    FROM hits
    """


@query(
    "q_llm_band_recall_24",
    oracle=_c3_band_recall_oracle(),
)
def q_llm_band_recall_24(spark, sf_dir):
    """C176: ACHIEVED recall of the PRODUCTION C3 banding geometry — the
    loop C143 closes for the 16-permutation/4-band tuning family, closed
    here for the geometry the registered dedup rung actually ships
    (24 permutations, 6 bands x 4 rows, the round-12 widening that took
    design recall 0.88 -> 0.96 at tau = 0.8): candidates are docs
    agreeing on all 4 rows of any of the 6 bands, measured against C2's
    exact tau=0.8 pairs, with the CANDIDATE RATIO beside recall — the
    price axis (how many candidate pairs the banding generates per true
    pair) that, together with recall, fully prices the C3 rung before a
    100 TB run commits to it. Both constants are IMPORTED from the C3
    implementation, so this audit cannot silently drift from what the
    production rung does.

    Exactness: signatures are exact integer mins over the shared
    portable-permutation barrier (:func:`~.dedup.portable_doc_signatures`
    — zero signature cost in a pipeline already running C3/C126/C140);
    band keys are comma-joined decimal renderings; candidate generation
    is a distinct self-join on (band, bucket); outputs are integer
    counts + two round(6) ratios of exact integers.

    Plan/scale: the exact side reuses the memoized PPJoin scored frame
    (zero added candidate cost); the band self-join shuffles (band,
    bucket-hash) pairs bounded by real collisions — the C3 geometry
    itself; the readout is the C143 single-aggregate full-outer marker
    join (each pair frame consumed exactly once)."""
    from .dedup import (
        _JACCARD_TAU,
        _MINHASH_BANDS,
        _MINHASH_K,
        _jaccard_scored,
        portable_doc_signatures,
    )

    scored = _jaccard_scored(spark, sf_dir)
    jac = F.col("i") * 1.0 / (F.col("sa") + F.col("sb") - F.col("i"))
    exact = scored.where(jac >= _JACCARD_TAU).select("doc_a", "doc_b")
    sigs = portable_doc_signatures(spark, sf_dir)
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
                                F.col(f"h{b * rows_per_band + r}").cast(
                                    "string"
                                )
                                for r in range(rows_per_band)
                            ],
                        ).alias("bucket"),
                    )
                    for b in range(_MINHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
    )
    # Union marker aggregate (round 14): same rewrite as C143 — one pair
    # exchange with map-side flag combine instead of distinct() + a
    # full-outer marker join (three pair-scale exchanges). Identical
    # counts; see q_llm_band_assign.
    marked = (
        exact.select(
            "doc_a", "doc_b", F.lit(1).alias("in_e"), F.lit(None).cast("int").alias("in_c")
        )
        .unionByName(
            cand.select(
                "doc_a",
                "doc_b",
                F.lit(None).cast("int").alias("in_e"),
                F.lit(1).alias("in_c"),
            )
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.max("in_e").alias("in_e"), F.max("in_c").alias("in_c"))
    )
    return marked.agg(
        F.sum("in_e").cast("bigint").alias("n_exact"),
        F.sum("in_c").cast("bigint").alias("n_candidates"),
        F.sum(F.col("in_e") * F.col("in_c")).cast("bigint").alias("n_hit"),
    ).select(
        "n_exact",
        "n_candidates",
        "n_hit",
        F.round(F.col("n_hit") * 1.0 / F.col("n_exact"), 6).alias(
            "achieved_recall"
        ),
        F.round(F.col("n_candidates") * 1.0 / F.col("n_exact"), 6).alias(
            "candidate_ratio"
        ),
    )
