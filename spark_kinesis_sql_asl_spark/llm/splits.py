"""Corpus split / sampling / survivor operators (SURVEY.md §2 rows C35-C38).

The round-3 additions a 100 TB training-data pipeline needs between "dedup"
and "train": deterministic train/val/test assignment, fixed-size per-group
samples, per-language vocabulary heavy hitters, and the materialized
post-dedup corpus. All outputs follow the driver-canon conventions
(integer ppm ratios, BIGINT-cast sums, explicit tiebreaks, NULL-safe text).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import table
from .pipeline import _SIMHASH_PAIRS_SQL, q_llm_dedup_cluster

# 3-way split on the first md5 hex byte of the text: < 0xcc train (~79.7%),
# < 0xe6 val (~10.2%), else test (~10.2%). Membership is a pure function of
# the CONTENT, so a document lands in the same split on any cluster, any
# partitioning, any engine — re-runs and incremental ingests cannot leak
# val/test docs into train the way positional or df.randomSplit assignment
# would.
_TRAIN_BOUND = "cc"
_VAL_BOUND = "e6"

_SPLIT_EXPR = (
    f"CASE WHEN h < '{_TRAIN_BOUND}' THEN 'train' "
    f"WHEN h < '{_VAL_BOUND}' THEN 'val' ELSE 'test' END"
)


@query(
    "q_llm_split_stratified",
    oracle=f"""
    WITH hashed AS (
        SELECT lang, substr(md5(coalesce(text, '')), 1, 2) AS h
        FROM documents
    ),
    assigned AS (SELECT lang, {_SPLIT_EXPR} AS split FROM hashed)
    SELECT lang, split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST((1000000 * count(*)) //
                sum(count(*)) OVER (PARTITION BY lang) AS BIGINT) AS share_ppm
    FROM assigned
    GROUP BY lang, split
    """,
)
def q_llm_split_stratified(spark, sf_dir):
    """C35: deterministic stratified train/val/test split — hash-bucket
    assignment per document, audited per (lang, split) stratum. At 100 TB
    the split column is a scan-stage expression (no shuffle, no state);
    only the per-stratum audit counts aggregate, and the per-lang share
    rides a window over the already-tiny (lang x split) rollup. share_ppm
    is integer parts-per-million — no float division anywhere."""
    d = table(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")), 1, 2)
    assigned = d.select("lang", h.alias("h")).withColumn(
        "split", F.expr(_SPLIT_EXPR)
    )
    counts = assigned.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    lang_total = Window.partitionBy("lang")
    # integer-domain ppm: floor-div by the per-lang total (driver-canon rule)
    return counts.withColumn(
        "lang_n", F.sum("n_docs").over(lang_total)
    ).select(
        "lang",
        "split",
        "n_docs",
        F.expr("CAST((1000000 * n_docs) div lang_n AS BIGINT)").alias(
            "share_ppm"
        ),
    )


_RESERVOIR_K = 20


@query(
    "q_llm_sample_reservoir",
    oracle=f"""
    SELECT doc_id, lang, rk FROM (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(coalesce(text, '')) ASC, doc_id ASC
               ) AS rk
        FROM documents
    ) WHERE rk <= {_RESERVOIR_K}
    """,
)
def q_llm_sample_reservoir(spark, sf_dir):
    """C36: fixed-size uniform-without-replacement sample per group — the
    deterministic analog of per-stratum reservoir sampling (Vitter 1985):
    rank documents by a content hash inside each lang and keep the first
    {_RESERVOIR_K}. The md5 order is uniform over content, so the kept set
    is an unbiased size-k sample, yet reproducible across engines, runs and
    partitionings. At 100 TB Spark's rank-limit pushdown
    (WindowGroupLimit, 3.5+) keeps only k rows per partition before the
    per-lang shuffle — the full corpus is never globally sorted."""
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")).asc(),
        F.col("doc_id").asc(),
    )
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= _RESERVOIR_K)
    )


_HH_TOPK = 10


@query(
    "q_llm_heavy_hitters",
    oracle=f"""
    WITH toks AS (
        SELECT lang, unnest(list_distinct(string_split(
            coalesce(text, ''), ' '))) AS tok
        FROM documents
    ),
    df AS (
        SELECT lang, tok, CAST(count(*) AS BIGINT) AS doc_freq
        FROM toks WHERE tok <> '' GROUP BY lang, tok
    )
    SELECT lang, tok, doc_freq, rk FROM (
        SELECT lang, tok, doc_freq,
               row_number() OVER (
                   PARTITION BY lang ORDER BY doc_freq DESC, tok ASC
               ) AS rk
        FROM df
    ) WHERE rk <= {_HH_TOPK}
    """,
)
def q_llm_heavy_hitters(spark, sf_dir):
    """C37: top-{_HH_TOPK} vocabulary heavy hitters per language by DOCUMENT
    frequency (vocab pruning / stopword discovery / tokenizer audits).
    Exact: per-doc distinct tokens explode (map-side), (lang, tok) counts
    partial-aggregate before the shuffle, and the top-k is a rank-limited
    window over the aggregated frame — at 100 TB the shuffled rows are
    (lang, tok) partial counts, never raw tokens. For a vocabulary too big
    to aggregate exactly, the sketch path is Misra-Gries / Count-Min
    per-partition summaries merged at the reducer; exact is right here
    because the aggregated (lang, tok) frame is tiny relative to input."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        F.explode(
            F.array_distinct(
                F.split(F.coalesce(F.col("text"), F.lit("")), " ")
            )
        ).alias("tok"),
    ).where(F.col("tok") != "")
    df = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("doc_freq"))
    w = Window.partitionBy("lang").orderBy(
        F.col("doc_freq").desc(), F.col("tok").asc()
    )
    return (
        df.select("lang", "tok", "doc_freq", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= _HH_TOPK)
    )


@query(
    "q_llm_dedup_survivors",
    oracle=f"""
    WITH RECURSIVE exact_drop AS (
        SELECT doc_id FROM (
            SELECT doc_id, row_number() OVER (
                PARTITION BY md5(coalesce(text, ''))
                ORDER BY doc_id ASC
            ) AS rn
            FROM documents
        ) WHERE rn > 1
    ),
    pairs AS ({_SIMHASH_PAIRS_SQL}),
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
    near_drop AS (
        SELECT doc_id FROM (
            SELECT doc_id, min(root) AS cluster_id FROM cc GROUP BY doc_id
        ) WHERE doc_id <> cluster_id
    ),
    drops AS (
        -- DISTINCT over UNION ALL, not bare UNION: DuckDB 1.0.0 silently
        -- treats a non-recursive CTE's UNION as UNION ALL inside a WITH
        -- RECURSIVE chain (surfaced at sf0.1, where 6 docs are both exact-
        -- and near-dups and the duplicate keys fanned out the audit join).
        SELECT DISTINCT doc_id FROM (
            SELECT doc_id FROM exact_drop
            UNION ALL
            SELECT doc_id FROM near_drop
        )
    )
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(count(*) FILTER (WHERE dr.doc_id IS NULL) AS BIGINT) AS n_kept,
           CAST((1000000 * count(*) FILTER (WHERE dr.doc_id IS NULL))
                // count(*) AS BIGINT) AS kept_ppm
    FROM documents d LEFT JOIN drops dr ON d.doc_id = dr.doc_id
    GROUP BY d.lang
    """,
)
def q_llm_dedup_survivors(spark, sf_dir):
    """C38: the materialized post-dedup corpus — composes the exact stage
    (md5 content groups, min-doc_id survivor) with the near-dup stage (C21
    SimHash connected-component clusters, cluster_id survivor) and audits
    the kept fraction per language. This is the operator a pipeline
    actually ships: everything upstream finds duplicates; this one decides
    the corpus. At 100 TB both drop sets are (doc_id)-only frames — the
    text never shuffles — and the final membership check is a left-anti
    join on the corpus's natural key."""
    d = table(spark, sf_dir, "documents")
    exact_w = Window.partitionBy(
        F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary"))
    ).orderBy(F.col("doc_id").asc())
    exact_drop = (
        d.select("doc_id", F.row_number().over(exact_w).alias("rn"))
        .where(F.col("rn") > 1)
        .select("doc_id")
    )
    near_drop = (
        q_llm_dedup_cluster(spark, sf_dir)
        .where(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    drops = exact_drop.unionByName(near_drop).distinct()
    flagged = d.select("doc_id", "lang").join(
        drops.withColumn("dropped", F.lit(1)), "doc_id", "left"
    )
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.col("dropped").isNull(), 1)).alias("n_kept"),
        F.expr(
            "CAST((1000000 * count(CASE WHEN dropped IS NULL THEN 1 END))"
            " div count(1) AS BIGINT)"
        ).alias("kept_ppm"),
    )


_MG_COUNTERS = 64


_HH_SKETCH_M = 4096  # per-(partition, lang) summary budget for the registered query


def heavy_hitters_sketch(spark, sf_dir, m: int):
    """C37 sketch path, round-12 form: two-pass sketch-then-verify heavy
    hitters (VERDICT r11 item #3 — the bounded-m design that makes the
    output deterministic and therefore SQL-oracle-able).

    Pass 1 (sketch): each partition computes its EXACT per-(lang, tok)
    document frequencies in vectorized pandas, then TRUNCATES to the top-m
    per language. Truncation is the mergeable-summaries bound (Agarwal et
    al., PODS 2012 — same guarantee as Misra-Gries): a token dropped by a
    partition had local count <= n_p/(m+1) there, so a token dropped by
    EVERY partition has true df <= sum_p n_p/(m+1) = N_lang/(m+1).
    Contrapositive: every token with true df > N_lang/(m+1) survives in at
    least one partition's summary. The shuffle carries at most
    m * partitions * langs summary rows — independent of vocabulary size,
    which is the point at 100 TB.

    Pass 2 (verify): exact document frequency for the candidate tokens
    only (a broadcast semi-join onto the token scan — the candidate set is
    bounded by m * partitions * langs, never the vocabulary), filtered to
    the guarantee region df * (m+1) > N_lang and rank-limited top-10/lang.
    Because the candidate set is always a superset of the guarantee region,
    the final rows are a pure function of the DATA — identical under any
    partitioning, which is what lets DuckDB run the equivalent exact query
    as a hash oracle. Estimates below the guarantee were the one
    partition-dependent artifact of the old single-pass MG form; the
    verify pass replaces them with exact counts."""
    import pandas as pd

    d = table(spark, sf_dir, "documents").select("lang", "text")

    def topm_partial(batches):
        chunks = []
        for pdf in batches:
            t = pdf.assign(
                tok=pdf["text"].fillna("").map(lambda s: list(set(s.split(" "))))
            ).explode("tok")
            t = t[(t["tok"] != "") & t["tok"].notna()]
            chunks.append(
                t.groupby(["lang", "tok"], dropna=False).size().rename("cnt")
            )
        if not chunks:
            yield pd.DataFrame(columns=["lang", "tok", "cnt"])
            return
        cnt = (
            pd.concat(chunks)
            .groupby(level=["lang", "tok"], dropna=False)
            .sum()
            .reset_index()
        )
        top = (
            cnt.sort_values(["lang", "cnt", "tok"], ascending=[True, False, True])
            .groupby("lang", dropna=False)
            .head(m)
        )
        yield top[["lang", "tok", "cnt"]]

    cand = (
        d.mapInPandas(topm_partial, "lang string, tok string, cnt long")
        .select("lang", "tok")
        .distinct()
    )
    toks = d.select(
        "lang",
        F.explode(
            F.array_distinct(
                F.split(F.coalesce(F.col("text"), F.lit("")), " ")
            )
        ).alias("tok"),
    ).where(F.col("tok") != "")
    n_lang = toks.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_inc")
    )
    verified = (
        toks.join(
            F.broadcast(cand),
            (toks["lang"].eqNullSafe(cand["lang"])) & (toks["tok"] == cand["tok"]),
            "leftsemi",
        )
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("doc_freq"))
        .join(F.broadcast(n_lang), "lang")
        .where(F.col("doc_freq") * (m + 1) > F.col("n_inc"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("doc_freq").desc(), F.col("tok").asc()
    )
    return (
        verified.select(
            "lang", "tok", "doc_freq", F.row_number().over(w).alias("rk")
        )
        .where(F.col("rk") <= _HH_TOPK)
    )


@query(
    "q_llm_heavy_hitters_sketch",
    oracle=f"""
    WITH toks AS (
        SELECT lang, unnest(list_distinct(string_split(
            coalesce(text, ''), ' '))) AS tok
        FROM documents
    ),
    df AS (
        SELECT lang, tok, CAST(count(*) AS BIGINT) AS doc_freq
        FROM toks WHERE tok <> '' GROUP BY lang, tok
    ),
    n AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_inc
        FROM toks WHERE tok <> '' GROUP BY lang
    )
    SELECT lang, tok, doc_freq, rk FROM (
        SELECT df.lang, df.tok, df.doc_freq,
               row_number() OVER (
                   PARTITION BY df.lang ORDER BY df.doc_freq DESC, df.tok ASC
               ) AS rk
        FROM df JOIN n USING (lang)
        WHERE df.doc_freq * {_HH_SKETCH_M + 1} > n.n_inc
    ) WHERE rk <= {_HH_TOPK}
    """,
)
def q_llm_heavy_hitters_sketch(spark, sf_dir):
    """C37s registered rung: :func:`heavy_hitters_sketch` at
    m={_HH_SKETCH_M}. The oracle is the EXACT heavy-hitter query over the
    guarantee region df > N_lang/(m+1) — legal because the two-pass output
    is deterministic (see helper docstring); the guarantee-bound behavior
    under vocabulary pressure (m=64 << vocab) stays pinned in
    tests/test_llm.py."""
    return heavy_hitters_sketch(spark, sf_dir, _HH_SKETCH_M)


# --- C58: quota sampling (per-stratum caps) ----------------------------------

_QUOTA_K = 3  # exemplars kept per (lang, source) stratum


@query(
    "q_llm_quota_sample",
    oracle=f"""
    SELECT doc_id, lang, source, rk FROM (
        SELECT doc_id, lang, source,
               row_number() OVER (
                   PARTITION BY lang, source
                   ORDER BY md5(coalesce(text, '')), doc_id
               ) AS rk
        FROM documents
    ) WHERE rk <= {_QUOTA_K}
    """,
)
def q_llm_quota_sample(spark, sf_dir):
    """C58: quota sampling — at most {_QUOTA_K} exemplar documents per
    (lang, source) stratum, the eval-holdout / human-review draw where a
    proportional sample (C35/C36) would starve small strata entirely.
    Rank-by-content-hash makes membership a pure function of the text:
    re-run-stable on any partitioning and cluster size, immune to input
    order (a doc_id tiebreak pins hash collisions). Plan (asserted in
    tests/test_plans.py): the rank<=K predicate pushes into
    WindowGroupLimit, so every partition keeps only K rows per stratum
    BEFORE the stratum shuffle — at 100 TB the shuffle carries
    O(K x strata x partitions) rows, not the corpus."""
    w = Window.partitionBy("lang", "source").orderBy(
        F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")),
        F.col("doc_id"),
    )
    return (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id", "lang", "source", F.row_number().over(w).alias("rk")
        )
        .where(F.col("rk") <= _QUOTA_K)
    )


_WS_SEED = "r8ws"
_WS_TOPK = 20
_LN_1E6_MICRO_WS = 13_815_511  # round(1e6 * ln(1e6)), the D14 constant


def _ws_hash(instr_fn: str, expr: str) -> str:
    """Portable 32-bit hash (md5 hex, fixed 8-term parse) — the
    llm/sketches.py primitive; `instr_fn` is 'instr' (Spark) or
    'strpos' (DuckDB)."""
    terms = [
        f"(CAST({instr_fn}('0123456789abcdef', substr(md5({expr}),"
        f" {1 + i}, 1)) AS BIGINT) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    ]
    return "(" + " + ".join(terms) + ")"


def _ws_oracle() -> str:
    h = _ws_hash("strpos", f"concat('{_WS_SEED}|', CAST(doc_id AS VARCHAR))")
    return f"""
    WITH s AS (
        SELECT doc_id, n_chars,
               ({h}) % 999999 + 1 AS m
        FROM documents
        WHERE n_chars IS NOT NULL AND n_chars > 0
    ),
    keyed AS (
        SELECT doc_id, n_chars, m,
               (CAST(round(1000000 * ln(m)) AS BIGINT)
                - {_LN_1E6_MICRO_WS}) AS ln_u_micro,
               CAST(CAST(round(1000000 * ln(m)) AS BIGINT)
                    - {_LN_1E6_MICRO_WS} AS DOUBLE)
               / CAST(n_chars AS DOUBLE) AS key
        FROM s
    )
    SELECT doc_id, n_chars, ln_u_micro,
           round(key, 6) AS sample_key
    FROM keyed
    ORDER BY key DESC, doc_id
    LIMIT {_WS_TOPK}
    """


@query("q_llm_weighted_sample", oracle=_ws_oracle())
def q_llm_weighted_sample(spark, sf_dir):
    """C138: weighted sampling without replacement (Efraimidis &
    Spirakis 2006, A-ES) — draw {_WS_TOPK} documents with probability
    proportional to length (n_chars): each doc gets key u^(1/w) for
    uniform u, and the top-k keys ARE a weighted sample. The
    length-proportional draw is how curation pipelines sample
    token-budget-representative eval slices (a uniform draw
    over-represents short docs per token). Distributed top-k by key =
    one WindowGroupLimit — no global sort materializes.

    Determinism discipline (seeded, replayable — C136's portable
    md5-parse hash): u = m/1e6 with integer m in [1, 999999]; comparing
    u^(1/w) is comparing ln(u)/w, and ln(u) = ln_q(m) - ln_q(1e6) in
    EXACT micro-nats (the D14-pinned primitive), so each key is ONE
    double division of exact integers — bit-identical on both engines —
    and the order has a doc_id tiebreak. The key column is round(6) for
    display; the ORDER uses the unrounded double (identical bits, so
    identical order).

    Plan/scale: one documents-scale scan computing (hash, key), then
    top-{_WS_TOPK} via ORDER BY ... LIMIT — Spark plans a per-partition
    TakeOrdered (k rows per partition exchange, not a sort of the
    corpus). At 100 TB this is the cheapest possible weighted draw:
    no prefix sums, no rejection loop, one pass."""
    h = _ws_hash("instr", f"concat('{_WS_SEED}|', CAST(doc_id AS STRING))")
    s = (
        table(spark, sf_dir, "documents")
        .where(F.col("n_chars").isNotNull() & (F.col("n_chars") > 0))
        .select(
            "doc_id",
            "n_chars",
            (F.expr(f"({h})") % 999999 + 1).alias("m"),
        )
    )
    ln_u = (
        F.expr("CAST(round(1000000 * ln(m)) AS BIGINT)")
        - F.lit(_LN_1E6_MICRO_WS)
    ).alias("ln_u_micro")
    keyed = s.select(
        "doc_id",
        "n_chars",
        ln_u,
    ).select(
        "doc_id",
        "n_chars",
        "ln_u_micro",
        (
            F.col("ln_u_micro").cast("double")
            / F.col("n_chars").cast("double")
        ).alias("key"),
    )
    return (
        keyed.orderBy(F.col("key").desc(), F.col("doc_id").asc())
        .limit(_WS_TOPK)
        .select(
            "doc_id",
            "n_chars",
            "ln_u_micro",
            F.round(F.col("key"), 6).alias("sample_key"),
        )
    )
