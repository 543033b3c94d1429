"""Retrieval scoring operators (SURVEY.md §2 C83-C84): BM25 lexical
ranking over `documents` and reciprocal-rank fusion over `embeddings` —
the hybrid-search layer a curation pipeline uses to mine / triage corpora
(query-focused subset extraction, contamination triage, eval-set mining),
composing with C27's inverted index (lexical side) and C4's cosine top-k
(dense side).

Robertson & Walker / Robertson-Sparck-Jones BM25 (TREC-3, 1994) and
Cormack, Clarke & Buettcher reciprocal-rank fusion (SIGIR 2009) — public
formulas, implemented Spark-first.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from ..tables import table
from ..operators.analytics import global_rank
from .similarity import as_double, dot, safe_cosine, sq_norm

# Fixed query: one rare discriminative term + two common ones (fixture
# dfs at sf0.01: dup≈25, spark≈385, join≈394 of 500 docs) so idf spread
# is real and the rare term dominates, as BM25 intends.
_BM25_TERMS = ("dup", "spark", "join")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20


def _bm25_oracle() -> str:
    t1, t2, t3 = _BM25_TERMS
    per_term = " + ".join(
        f"""(CASE WHEN tf{i} > 0 THEN
             ln((n - df{i} + 0.5) / (df{i} + 0.5) + 1.0)
             * (tf{i} * ({_BM25_K1} + 1.0))
             / (tf{i} + {_BM25_K1}
                * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl))
           ELSE 0.0 END)"""
        for i in (1, 2, 3)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id,
               string_split(coalesce(text, ''), ' ') AS w
        FROM documents
    ),
    d AS (
        SELECT doc_id, len(w) AS dl,
               len(list_filter(w, x -> x = '{t1}')) AS tf1,
               len(list_filter(w, x -> x = '{t2}')) AS tf2,
               len(list_filter(w, x -> x = '{t3}')) AS tf3
        FROM toks
    ),
    stats AS (
        SELECT count(*) AS n,
               sum(dl) * 1.0 / count(*) AS avgdl,
               sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
               sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
               sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
        FROM d
    )
    SELECT doc_id, tf1, tf2, tf3,
           round({per_term}, 6) AS bm25
    FROM d CROSS JOIN stats
    WHERE tf1 + tf2 + tf3 > 0
    ORDER BY {per_term} DESC, doc_id
    LIMIT {_BM25_TOPK}
    """


@query("q_llm_bm25", oracle=_bm25_oracle())
def q_llm_bm25(spark, sf_dir):
    """C83: BM25 top-{_BM25_TOPK} for a fixed 3-term query — the lexical
    ranking half of hybrid retrieval (k1={_BM25_K1}, b={_BM25_B}, the
    ln(1 + (N-df+0.5)/(df+0.5)) idf that keeps scores positive).

    Determinism discipline: the per-term scores are SUMMED AS A FIXED
    EXPRESSION (s1 + s2 + s3), never as an aggregate over exploded term
    rows — a float sum over a groupBy has engine-chosen addend order, a
    fixed expression tree is bit-identical IEEE given identical integer
    inputs (tf, dl, df, N; the lone libm call, ln, is the B50/C8-proven
    convention). Ranking uses the unrounded score with a doc_id tiebreak
    (the C4 convention).

    Plan: tf and dl are scan-stage array expressions (no token explode at
    all — term filters beat building a posting join for a 3-term query);
    the (N, avgdl, df1..3) scalars are ONE aggregate row broadcast via
    crossJoin; top-k is orderBy+limit = TakeOrderedAndProject, no global
    window. At 100 TB: one corpus scan + a 1-row broadcast — embarrassingly
    parallel; for ad-hoc many-term queries you'd flip to the C27 inverted
    index instead of per-term scan expressions."""
    t1, t2, t3 = _BM25_TERMS
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("w")
    )
    d = docs.select(
        "doc_id",
        F.size("w").alias("dl"),
        *[
            F.size(F.expr(f"filter(w, x -> x = '{t}')")).alias(f"tf{i}")
            for i, t in enumerate(_BM25_TERMS, 1)
        ],
    )
    stats = d.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl") * 1.0 / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("bigint")).alias(f"df{i}")
            for i in (1, 2, 3)
        ],
    )
    k1, b = _BM25_K1, _BM25_B

    def term_score(i: int):
        tf, df = F.col(f"tf{i}"), F.col(f"df{i}")
        idf = F.log((F.col("n") - df + 0.5) / (df + 0.5) + 1.0)
        s = (
            idf
            * (tf * (k1 + 1.0))
            / (tf + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
        )
        return F.when(tf > 0, s).otherwise(F.lit(0.0))

    score = term_score(1) + term_score(2) + term_score(3)
    return (
        d.crossJoin(F.broadcast(stats))
        .where(F.col("tf1") + F.col("tf2") + F.col("tf3") > 0)
        .select("doc_id", "tf1", "tf2", "tf3", score.alias("_s"))
        .orderBy(F.col("_s").desc(), "doc_id")
        .limit(_BM25_TOPK)
        .select(
            "doc_id", "tf1", "tf2", "tf3", F.round("_s", 6).alias("bm25")
        )
    )


_RRF_K = 60
_RRF_TOPK = 20
_RRF_QUERY_ID = 0


@query(
    "q_llm_rrf_fusion",
    oracle=f"""
    WITH q AS (
        SELECT embedding::DOUBLE[] AS qe FROM embeddings
        WHERE vec_id = {_RRF_QUERY_ID}
    ),
    scored AS (
        SELECT vec_id,
               coalesce(list_dot_product(qe, ce) / nullif(
                   sqrt(list_sum(list_transform(qe, x -> x * x))) *
                   sqrt(list_sum(list_transform(ce, x -> x * x))), 0), 0)
                   AS cos,
               list_dot_product(qe, ce) AS dp
        FROM (SELECT vec_id, embedding::DOUBLE[] AS ce FROM embeddings
              WHERE vec_id <> {_RRF_QUERY_ID})
             CROSS JOIN q
    ),
    ranked AS (
        SELECT vec_id,
               row_number() OVER (ORDER BY cos DESC, vec_id) AS r_cos,
               row_number() OVER (ORDER BY dp DESC, vec_id) AS r_dot
        FROM scored
    )
    SELECT vec_id, r_cos, r_dot,
           round(1.0 / ({_RRF_K} + r_cos) + 1.0 / ({_RRF_K} + r_dot), 6)
               AS rrf
    FROM ranked
    ORDER BY 1.0 / ({_RRF_K} + r_cos) + 1.0 / ({_RRF_K} + r_dot) DESC,
             vec_id
    LIMIT {_RRF_TOPK}
    """,
)
def q_llm_rrf_fusion(spark, sf_dir):
    """C84: reciprocal-rank fusion (RRF, k={_RRF_K}) of two rankers over
    the same query vector — cosine (normalized) and raw dot product
    (magnitude-sensitive): the standard way hybrid search merges
    incomparable score scales by USING ONLY RANKS, and the fusion step
    every BM25+dense stack (C83 + C4) needs.

    rrf(d) = Σ_r 1/(k + rank_r(d)) — ranks are exact integers from total
    orders (metric desc, vec_id), so the two divisions and one addition
    are deterministic IEEE in a fixed expression order; rounding only at
    the output boundary (the C4 convention).

    Plan: the query vector is a 1-row broadcast; per-vector metrics are
    scan-stage higher-order-function folds; BOTH full-list ranks come from
    :func:`global_rank` (range-repartition + per-slice row_number + offset
    join) so the plan carries no single-partition WindowExec even though
    the ranking is global; the fused top-k is orderBy+limit =
    TakeOrderedAndProject. At 100 TB you'd feed it the C20/C77 ANN
    shortlists instead of the full corpus — the fusion shape is
    unchanged."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("ce")
    )
    q = (
        emb.where(F.col("vec_id") == _RRF_QUERY_ID)
        .select(
            F.col("ce").alias("qe"),
            F.sqrt(sq_norm(F.col("ce"))).alias("qn"),
        )
    )
    scored = (
        emb.where(F.col("vec_id") != _RRF_QUERY_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            safe_cosine(
                dot(F.col("qe"), F.col("ce")),
                F.col("qn"),
                F.sqrt(sq_norm(F.col("ce"))),
            ).alias("cos"),
            dot(F.col("qe"), F.col("ce")).alias("dp"),
        )
    )
    r1 = global_rank(
        scored.select("vec_id", "cos"),
        [F.col("cos").desc(), F.col("vec_id").asc()],
        out_name="r_cos",
    ).select("vec_id", "r_cos")
    r2 = global_rank(
        scored.select("vec_id", "dp"),
        [F.col("dp").desc(), F.col("vec_id").asc()],
        out_name="r_dot",
    ).select("vec_id", "r_dot")
    rrf = 1.0 / (_RRF_K + F.col("r_cos")) + 1.0 / (_RRF_K + F.col("r_dot"))
    return (
        r1.join(r2, "vec_id")
        .select("vec_id", "r_cos", "r_dot", rrf.alias("_f"))
        .orderBy(F.col("_f").desc(), "vec_id")
        .limit(_RRF_TOPK)
        .select("vec_id", "r_cos", "r_dot", F.round("_f", 6).alias("rrf"))
    )


_HN_TOPK = 5
_HN_QUERIES = 5  # vec_id < 5 are query vectors (the C4 convention)


@query(
    "q_llm_hard_negatives",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, label AS qlabel,
               embedding::DOUBLE[] AS qe
        FROM embeddings WHERE vec_id < {_HN_QUERIES}
    ),
    c AS (
        SELECT vec_id AS neg_id, label AS nlabel,
               embedding::DOUBLE[] AS ce
        FROM embeddings
    ),
    sims AS (
        SELECT query_id, neg_id,
               coalesce(list_dot_product(qe, ce) / nullif(
                   sqrt(list_sum(list_transform(qe, x -> x * x))) *
                   sqrt(list_sum(list_transform(ce, x -> x * x))), 0), 0)
                   AS cos
        FROM q JOIN c ON qlabel <> nlabel
    )
    SELECT query_id, neg_id, round(cos, 6) AS cosine, rn
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neg_id) AS rn
        FROM sims
    )
    WHERE rn <= {_HN_TOPK}
    """,
)
def q_llm_hard_negatives(spark, sf_dir):
    """C86: hard-negative mining — per query vector, the top-{_HN_TOPK}
    most-similar vectors with a DIFFERENT label: the contrastive-training
    staple (triplet / InfoNCE batches live or die on negatives that are
    hard, i.e. near the anchor yet wrong-class). Same exact-cosine and
    rank discipline as C4; the only semantic delta is the label-mismatch
    join predicate, which is precisely what makes the result a training
    batch rather than a neighbor list.

    Plan: queries broadcast (≤{_HN_QUERIES} rows), candidate side streams
    partition-local with norms precomputed scan-side, per-query top-k is a
    WindowGroupLimit rank. At 100 TB you'd mine from the C20/C77 IVF
    shortlist per query instead of the full corpus — the label-filter +
    rank shape is unchanged."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double("embedding").alias("e")
    )
    withn = emb.withColumn("nrm", F.sqrt(sq_norm(F.col("e"))))
    q = withn.where(F.col("vec_id") < _HN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    c = withn.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("nlabel"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    cos = safe_cosine(dot(F.col("qe"), F.col("ce")), F.col("qn"), F.col("cn"))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neg_id")
    )
    return (
        c.join(F.broadcast(q), F.col("qlabel") != F.col("nlabel"))
        .select("query_id", "neg_id", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _HN_TOPK)
        .select(
            "query_id", "neg_id", F.round("cos", 6).alias("cosine"), "rn"
        )
    )


_MMR_CAND = 20
_MMR_STEPS = 5
_MMR_QUERY_ID = 0


def _mmr_oracle() -> str:
    from .curation import _Q_VEC_SQL_DUCK

    steps = []
    for k in range(2, _MMR_STEPS + 1):
        sel = " UNION ALL ".join(
            f"SELECT vec_id FROM s{j}" for j in range(1, k)
        )
        steps.append(f"""
    r{k} AS (
        SELECT c.vec_id, c.qdot, max(p.pdot) AS max_sel
        FROM cand c JOIN ps p ON p.va = c.vec_id
        WHERE p.vb IN ({sel}) AND c.vec_id NOT IN ({sel})
        GROUP BY c.vec_id, c.qdot
    ),
    s{k} AS (
        SELECT vec_id, qdot, max_sel, qdot - max_sel AS mmr,
               CAST({k} AS BIGINT) AS step
        FROM r{k} ORDER BY qdot - max_sel DESC, vec_id LIMIT 1
    )""")
    union = " UNION ALL ".join(
        f"SELECT step, vec_id, qdot, max_sel, mmr FROM s{j}"
        for j in range(1, _MMR_STEPS + 1)
    )
    return f"""
    WITH q AS (
        SELECT {_Q_VEC_SQL_DUCK} AS qv FROM embeddings
        WHERE vec_id = {_MMR_QUERY_ID}
    ),
    c0 AS (
        SELECT vec_id, {_Q_VEC_SQL_DUCK} AS cv FROM embeddings
        WHERE vec_id <> {_MMR_QUERY_ID}
    ),
    qd AS (
        SELECT vec_id, cv,
               CAST(list_sum(list_transform(range(1, 65),
                   i -> qv[i] * cv[i])) AS BIGINT) AS qdot
        FROM c0 CROSS JOIN q
    ),
    cand AS (SELECT * FROM qd ORDER BY qdot DESC, vec_id LIMIT {_MMR_CAND}),
    ps AS (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               CAST(list_sum(list_transform(range(1, 65),
                   i -> a.cv[i] * b.cv[i])) AS BIGINT) AS pdot
        FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ),
    s1 AS (
        SELECT vec_id, qdot, CAST(NULL AS BIGINT) AS max_sel,
               qdot AS mmr, CAST(1 AS BIGINT) AS step
        FROM cand ORDER BY qdot DESC, vec_id LIMIT 1
    ),{",".join(steps)}
    {union}
    """


@query("q_llm_mmr_select", oracle=_mmr_oracle())
def q_llm_mmr_select(spark, sf_dir):
    """C87: Maximal Marginal Relevance selection (Carbonell & Goldstein,
    SIGIR 1998) — greedily pick {_MMR_STEPS} of the top-{_MMR_CAND}
    candidates, each step taking argmax of relevance − max-similarity-to-
    already-selected (λ=0.5, so the two terms weigh equally and the
    ×2-scaled score stays INTEGER). The diversity re-ranker: dedup at
    selection time for eval-set construction, few-shot pools, and
    retrieval-augmented batches where five near-identical neighbors are
    worth one.

    Exactness: every similarity is an INTEGER dot product on the C24
    quantized grid — greedy argmax chains are maximally drift-sensitive
    (one flipped comparison rewrites the whole tail), so no float may
    enter the ordering; ties break on vec_id. The greedy loop is
    structurally sequential ({_MMR_STEPS} fixed rounds — the C56/C77
    unrolled-iteration pattern, DuckDB-expressible as chained CTEs).

    Plan: candidate pool via TakeOrdered over scan-stage folds; the
    {_MMR_CAND}×{_MMR_CAND} pairwise matrix and every greedy round are
    constant-size (localCheckpointed once, joined per round) — corpus
    scale touches ONLY the initial relevance scan; at 100 TB the pool
    would come from the C20 IVF shortlist and the loop cost is unchanged."""
    from .curation import _Q_VEC_SQL_SPARK

    emb = table(spark, sf_dir, "embeddings")
    q = (
        emb.where(F.col("vec_id") == _MMR_QUERY_ID)
        .select(F.expr(_Q_VEC_SQL_SPARK).alias("qv"))
    )
    c0 = emb.where(F.col("vec_id") != _MMR_QUERY_ID).select(
        "vec_id", F.expr(_Q_VEC_SQL_SPARK).alias("cv")
    )
    qdot = F.expr(
        "aggregate(sequence(1, 64), CAST(0 AS BIGINT), (acc, i) -> "
        "acc + element_at(qv, i) * element_at(cv, i))"
    )
    cand = (
        c0.crossJoin(F.broadcast(q))
        .select("vec_id", "cv", qdot.alias("qdot"))
        .orderBy(F.col("qdot").desc(), "vec_id")
        .limit(_MMR_CAND)
        .localCheckpoint(eager=True)  # constant 20 rows, reused every round
    )
    pdot = F.expr(
        "aggregate(sequence(1, 64), CAST(0 AS BIGINT), (acc, i) -> "
        "acc + element_at(acv, i) * element_at(bcv, i))"
    )
    ps = (
        cand.select(F.col("vec_id").alias("va"), F.col("cv").alias("acv"))
        .join(
            cand.select(
                F.col("vec_id").alias("vb"), F.col("cv").alias("bcv")
            ),
            F.col("va") != F.col("vb"),
        )
        .select("va", "vb", pdot.alias("pdot"))
        .localCheckpoint(eager=True)  # 20x19 integer sims
    )
    pool = cand.select("vec_id", "qdot")
    s1 = (
        pool.orderBy(F.col("qdot").desc(), "vec_id")
        .limit(1)
        .select(
            "vec_id",
            "qdot",
            F.lit(None).cast("bigint").alias("max_sel"),
            F.col("qdot").alias("mmr"),
            F.lit(1).cast("bigint").alias("step"),
        )
    )
    steps = [s1]
    selected = s1.select("vec_id")
    for k in range(2, _MMR_STEPS + 1):
        rem = pool.join(selected, "vec_id", "left_anti")
        maxsel = (
            ps.join(
                F.broadcast(selected.select(F.col("vec_id").alias("vb"))),
                "vb",
            )
            .groupBy(F.col("va").alias("vec_id"))
            .agg(F.max("pdot").alias("max_sel"))
        )
        sk = (
            rem.join(maxsel, "vec_id")
            .select(
                "vec_id",
                "qdot",
                "max_sel",
                (F.col("qdot") - F.col("max_sel")).alias("mmr"),
            )
            .orderBy(F.col("mmr").desc(), "vec_id")
            .limit(1)
            .withColumn("step", F.lit(k).cast("bigint"))
            .localCheckpoint(eager=True)  # pin the pick; keep lineage flat
        )
        steps.append(sk)
        selected = selected.unionByName(sk.select("vec_id"))
    out = steps[0]
    for sk in steps[1:]:
        out = out.unionByName(sk)
    return out.select("step", "vec_id", "qdot", "max_sel", "mmr")


_RK_K = 10
_RK_QUERIES = 5


@query(
    "q_llm_recall_at_k",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        FROM embeddings WHERE vec_id < {_RK_QUERIES}
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce
          FROM embeddings),
    sims AS (
        SELECT query_id, neighbor_id,
               coalesce(list_dot_product(qe, ce) / nullif(
                   sqrt(list_sum(list_transform(qe, x -> x * x))) *
                   sqrt(list_sum(list_transform(ce, x -> x * x))), 0), 0)
                   AS cos,
               list_dot_product(qe, ce) AS dp
        FROM q CROSS JOIN c WHERE neighbor_id <> query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY cos DESC, neighbor_id
               ) AS r_true,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY dp DESC, neighbor_id
               ) AS r_sys
        FROM sims
    )
    SELECT query_id,
           CAST(count(*) FILTER (r_true <= {_RK_K} AND r_sys <= {_RK_K})
                AS BIGINT) AS n_hit,
           CAST((1000000 * count(*) FILTER (r_true <= {_RK_K}
                                            AND r_sys <= {_RK_K}))
                // {_RK_K} AS BIGINT) AS recall_ppm
    FROM ranked
    GROUP BY query_id
    """,
)
def q_llm_recall_at_k(spark, sf_dir):
    """C91: recall@{_RK_K} evaluation-as-query — per query vector, how
    many of the true cosine top-{_RK_K} the cheaper raw-dot-product
    ranking recovers, in exact integer ppm: the retrieval-eval step a
    pipeline runs BEFORE swapping in a cheaper scorer (unnormalized dot
    ≈ cosine only when vector norms are uniform — this measures exactly
    how much that assumption costs on YOUR corpus). The same harness
    evaluates any system ranking (ANN, PQ, pruned index) against the
    exact baseline; pytest gates C5/C20 recall the same way, this row
    makes the metric itself a driver-verified operator.

    Determinism: both rankings are total orders (metric desc, vec_id) on
    per-pair IEEE-identical scores (the C4 rule); the hit count and
    floor-ppm are pure integers. Plan: queries broadcast, one scan of
    the candidate side computes both metrics, two WindowGroupLimit-
    prunable rank windows over the same (query_id) exchange, |queries|
    output rows."""
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("e")
    )
    withn = emb.withColumn("nrm", F.sqrt(sq_norm(F.col("e"))))
    q = withn.where(F.col("vec_id") < _RK_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    c = withn.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    sims = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            safe_cosine(
                dot(F.col("qe"), F.col("ce")), F.col("qn"), F.col("cn")
            ).alias("cos"),
            dot(F.col("qe"), F.col("ce")).alias("dp"),
        )
    )
    w_true = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    w_sys = Window.partitionBy("query_id").orderBy(
        F.col("dp").desc(), F.col("neighbor_id")
    )
    hit = (
        (F.col("r_true") <= _RK_K) & (F.col("r_sys") <= _RK_K)
    ).cast("bigint")
    return (
        sims.withColumn("r_true", F.row_number().over(w_true))
        .withColumn("r_sys", F.row_number().over(w_sys))
        .groupBy("query_id")
        .agg(F.sum(hit).alias("n_hit"))
        .select(
            "query_id",
            "n_hit",
            F.expr(f"CAST((1000000 * n_hit) div {_RK_K} AS BIGINT)").alias(
                "recall_ppm"
            ),
        )
    )


# DCG position weights 1/log2(i+1) for ranks 1..10, pre-quantized to
# integer micro-units IN PYTHON so both engines consume the same BIGINT
# literals (no cross-engine transcendental evaluation at all — stricter
# even than D14's micro-nat discipline, since log2 never runs in either
# engine).
_NDCG_K = 10
_NDCG_W = [round(1e6 / __import__("math").log2(i + 1)) for i in range(1, _NDCG_K + 1)]
_NDCG_QUERIES = 5


def _rel_case(a: str, b: str) -> str:
    """Graded relevance from labels: 2 = same class, 1 = adjacent class
    (|Δlabel| = 1 — the fixture's labels are ordinal cluster ids), 0
    otherwise. Pure integer CASE, identical text in both engines."""
    return (
        f"CASE WHEN {a} = {b} THEN 2 "
        f"WHEN abs({a} - {b}) = 1 THEN 1 ELSE 0 END"
    )


@query(
    "q_llm_ndcg",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe,
               label AS qlab
        FROM embeddings WHERE vec_id < {_NDCG_QUERIES}
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce,
                 label AS clab
          FROM embeddings),
    sims AS (
        SELECT query_id, neighbor_id,
               list_dot_product(qe, ce) AS dp,
               CAST(power(2, {_rel_case("qlab", "clab")}) - 1 AS BIGINT)
                   AS gain
        FROM q CROSS JOIN c WHERE neighbor_id <> query_id
    ),
    ranked AS (
        SELECT query_id, gain,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY dp DESC, neighbor_id
               ) AS r_sys,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY gain DESC, neighbor_id
               ) AS r_ideal
        FROM sims
    ),
    w(r, wmu) AS (VALUES {", ".join(f"({i + 1}, {w})" for i, w in enumerate(_NDCG_W))}),
    dcg AS (
        SELECT query_id,
               CAST(sum(CASE WHEN ws.r IS NOT NULL THEN gain * ws.wmu
                             ELSE 0 END) AS BIGINT) AS dcg_mu
        FROM ranked LEFT JOIN w ws ON ranked.r_sys = ws.r
        GROUP BY query_id
    ),
    idcg AS (
        SELECT query_id,
               CAST(sum(CASE WHEN wi.r IS NOT NULL THEN gain * wi.wmu
                             ELSE 0 END) AS BIGINT) AS idcg_mu
        FROM ranked LEFT JOIN w wi ON ranked.r_ideal = wi.r
        GROUP BY query_id
    )
    SELECT d.query_id AS query_id, d.dcg_mu AS dcg_mu,
           i.idcg_mu AS idcg_mu,
           round(CAST(d.dcg_mu AS DOUBLE) / CAST(i.idcg_mu AS DOUBLE), 6)
               AS ndcg
    FROM dcg d JOIN idcg i ON d.query_id = i.query_id
    """,
)
def q_llm_ndcg(spark, sf_dir):
    """C144: NDCG@{_NDCG_K} of the raw-dot-product system ranking against
    graded label relevance (2 = same class, 1 = adjacent, 0 = other) —
    the standard graded retrieval metric (Järvelin & Kekäläinen 2002)
    beside C91's binary recall@k: it also scores WHERE in the top-k the
    relevant neighbors land. Evaluation-as-query like C91/C105: the
    metric itself is a driver-verified operator, reusable against any
    system ranking (ANN, PQ, pruned index).

    Exactness: position discounts 1/log2(r+1) are pre-quantized to
    BIGINT micro-units in Python and injected as literals into BOTH
    engines, so no transcendental is evaluated in either engine (stricter
    than D14); gains (2^rel - 1 ∈ {{0,1,3}}) and both DCG sums are exact
    BIGINT; ndcg is ONE float division of two <2^53 integers, round(6).
    Both rank orders are total (dp has the C4 per-pair IEEE-identical
    property; ties broken by neighbor_id).

    Plan/scale: queries broadcast (|Q| rows), one candidate-side scan,
    two rank windows over the same (query_id) exchange — both
    WindowGroupLimit-prunable at r <= {_NDCG_K}; |Q| output rows."""
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("e"), "label"
    )
    q = emb.where(F.col("vec_id") < _NDCG_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("label").alias("qlab"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("ce"),
        F.col("label").alias("clab"),
    )
    sims = c.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        dot(F.col("qe"), F.col("ce")).alias("dp"),
        F.expr(
            f"CAST(power(2, {_rel_case('qlab', 'clab')}) - 1 AS BIGINT)"
        ).alias("gain"),
    )
    w_sys = Window.partitionBy("query_id").orderBy(
        F.col("dp").desc(), F.col("neighbor_id")
    )
    w_ideal = Window.partitionBy("query_id").orderBy(
        F.col("gain").desc(), F.col("neighbor_id")
    )
    warr = f"array({', '.join(str(w) for w in _NDCG_W)})"
    wmu = (
        f"CASE WHEN r_sys <= {_NDCG_K} THEN gain * element_at({warr}, "
        f"CAST(r_sys AS INT)) ELSE 0 END"
    )
    wmu_ideal = (
        f"CASE WHEN r_ideal <= {_NDCG_K} THEN gain * element_at({warr}, "
        f"CAST(r_ideal AS INT)) ELSE 0 END"
    )
    return (
        sims.withColumn("r_sys", F.row_number().over(w_sys))
        .withColumn("r_ideal", F.row_number().over(w_ideal))
        .groupBy("query_id")
        .agg(
            F.sum(F.expr(wmu)).cast("bigint").alias("dcg_mu"),
            F.sum(F.expr(wmu_ideal)).cast("bigint").alias("idcg_mu"),
        )
        .select(
            "query_id",
            "dcg_mu",
            "idcg_mu",
            F.round(
                F.col("dcg_mu").cast("double")
                / F.col("idcg_mu").cast("double"),
                6,
            ).alias("ndcg"),
        )
    )


_MRR_K = 10


@query(
    "q_llm_mrr",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe,
               label AS qlab
        FROM embeddings WHERE vec_id < {_NDCG_QUERIES}
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce,
                 label AS clab
          FROM embeddings),
    sims AS (
        SELECT query_id, neighbor_id,
               list_dot_product(qe, ce) AS dp,
               CASE WHEN qlab = clab THEN 1 ELSE 0 END AS rel
        FROM q CROSS JOIN c WHERE neighbor_id <> query_id
    ),
    ranked AS (
        SELECT query_id, rel,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY dp DESC, neighbor_id
               ) AS r_sys
        FROM sims
    )
    SELECT query_id,
           CAST(coalesce(min(CASE WHEN rel = 1 THEN r_sys END), 0)
                AS BIGINT) AS first_rel_rank,
           CAST(CASE WHEN min(CASE WHEN rel = 1 THEN r_sys END) IS NULL
                THEN 0
                ELSE 1000000 // min(CASE WHEN rel = 1 THEN r_sys END)
                END AS BIGINT) AS rr_ppm
    FROM ranked
    WHERE r_sys <= {_MRR_K}
    GROUP BY query_id
    """,
)
def q_llm_mrr(spark, sf_dir):
    """C145: MRR@{_MRR_K} (reciprocal rank of the first same-label
    neighbor in the system top-{_MRR_K}; 0 when none lands there) — the
    third leg of the retrieval-eval stool beside C91 recall@k and C144
    NDCG, the metric that scores HOW FAST a ranking reaches its first
    relevant hit (the navigational / RAG-first-passage criterion).

    Exactness: reciprocal rank released as floor(1e6 / rank) BIGINT ppm
    (exact integer division, no float anywhere); rank window is a total
    order on per-pair IEEE-identical dot products.

    Plan/scale: identical shape to C144 — queries broadcast, one
    candidate scan, ONE rank window WindowGroupLimit-prunable at
    r <= {_MRR_K}, |Q| output rows."""
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("e"), "label"
    )
    q = emb.where(F.col("vec_id") < _NDCG_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("label").alias("qlab"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("ce"),
        F.col("label").alias("clab"),
    )
    sims = c.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        dot(F.col("qe"), F.col("ce")).alias("dp"),
        (F.col("qlab") == F.col("clab")).cast("int").alias("rel"),
    )
    w_sys = Window.partitionBy("query_id").orderBy(
        F.col("dp").desc(), F.col("neighbor_id")
    )
    first_rel = F.min(F.when(F.col("rel") == 1, F.col("r_sys")))
    return (
        sims.withColumn("r_sys", F.row_number().over(w_sys))
        .where(F.col("r_sys") <= _MRR_K)
        .groupBy("query_id")
        .agg(first_rel.alias("fr"))
        .select(
            "query_id",
            F.coalesce(F.col("fr"), F.lit(0))
            .cast("bigint")
            .alias("first_rel_rank"),
            F.when(F.col("fr").isNull(), F.lit(0))
            .otherwise(F.expr("1000000 div fr"))
            .cast("bigint")
            .alias("rr_ppm"),
        )
    )
