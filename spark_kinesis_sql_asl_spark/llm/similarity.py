"""Similarity search + vector ops (SURVEY.md §2 rows C4-C6) over
`embeddings` (array<float> dim 64, verified).

All vector math is JVM-side higher-order functions over double arrays — no
Python UDFs in any hot path. Casting float→double first keeps both engines
in the same arithmetic domain (float32→float64 is exact).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.column import Column

from ..registry import query
from ..tables import table


def as_double(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sq_norm(a) -> Column:
    return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)


def safe_cosine(dot_col: Column, na: Column, nb: Column) -> Column:
    """Cosine with the zero-vector case pinned: ``coalesce(dot /
    nullif(na*nb, 0), 0.0)``. A zero-norm vector makes the denominator 0,
    which under Spark 4's default ANSI mode is a runtime DIVIDE_BY_ZERO
    crash (and NaN/Inf elsewhere); defining it as 0.0 (orthogonal) is
    deterministic, crash-free, and engine-identical. Oracles use the same
    ``coalesce(... / nullif(...), 0)`` shape."""
    return F.coalesce(
        dot_col / F.nullif(na * nb, F.lit(0.0)), F.lit(0.0)
    )


_TOPK = 5
_N_QUERIES = 5  # vec_id < 5 are the query vectors


@query(
    "q_llm_sim_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        FROM embeddings WHERE vec_id < {_N_QUERIES}
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce FROM embeddings),
    sims AS (
        SELECT query_id, neighbor_id,
               coalesce(list_dot_product(qe, ce) / nullif(
                   sqrt(list_sum(list_transform(qe, x -> x * x))) *
                   sqrt(list_sum(list_transform(ce, x -> x * x))), 0), 0)
                   AS cos
        FROM q CROSS JOIN c
        WHERE neighbor_id <> query_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id
        ) AS rn
        FROM sims
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rn
    FROM ranked WHERE rn <= {_TOPK}
    """,
)
def q_llm_sim_topk(spark, sf_dir):
    """C4: brute-force cosine top-k — the exact baseline ANN is judged
    against. Norms are precomputed per vector BEFORE the join (linear work),
    so the quadratic stage is one fused multiply-add per pair. The query
    side is broadcast; at 100 TB the candidate side streams partition-local
    with no shuffle."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("e")
    )
    withn = emb.withColumn("nrm", F.sqrt(sq_norm(F.col("e"))))
    q = withn.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    c = withn.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    cos = safe_cosine(dot(F.col("qe"), F.col("ce")), F.col("qn"), F.col("cn"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _TOPK)
        .select(
            "query_id", "neighbor_id", F.round("cos", 6).alias("cosine"), "rn"
        )
    )


_N_PLANES = 16
_DIM = 64
# Query-side multi-probe Hamming radius (Lv et al., VLDB 2007): each query
# probes every bucket within `radius` bit flips of its own, per band —
# sum(C(8,r) for r<=radius) masks. Radius is THE recall/candidate dial:
# measured on the sf0.01 fixture vs C4's exact top-5 (deterministic —
# fixed planes, fixed data): r=0 0.08, r=1 0.28, r=2 0.56, r=3 0.76,
# r=4 0.96 recall. The random-gaussian fixture is LSH's worst case (true
# neighbors sit near cos≈0.4, every bit a near-coin-flip), so clearing the
# 0.8 gate costs r=4 (163 masks/band) here; on clustered corpora (the real
# 100 TB case — see test_sim_lsh_clustered_radius1 for a planted-cluster
# demonstration) r=1 recovers 0.9+ while probing 9/256 of bucket space.
_LSH_PROBE_RADIUS = 4


def _plane_sign(p: int, d: int) -> float:
    # Deterministic ±1 pseudo-random hyperplane components (no RNG: stable
    # across sessions/resumes). splitmix64-style finalizer: the previous
    # `((p*A) ^ (d*B)) & 0x10` probe read ONE structured bit and collapsed
    # the 16 planes to ~2 distinct sign patterns — every vector landed in
    # 2 buckets per band and "LSH" was silently a half-corpus scan
    # (round-9 root cause of the 0.4-recall-gate era).
    h = (p * 0x9E3779B97F4A7C15 + d * 0xC2B2AE3D27D4EB4F) & (2**64 - 1)
    h ^= h >> 33
    h = (h * 0xFF51AFD7ED558CCD) & (2**64 - 1)
    h ^= h >> 33
    return 1.0 if h & 1 else -1.0


_PLANES = [[_plane_sign(p, d) for d in range(_DIM)] for p in range(_N_PLANES)]

# The 16 deterministic hyperplanes as DuckDB DOUBLE[] literals — the planes
# are plain ±1.0 Python literals (splitmix64-seeded, no RNG), so oracles can
# carry them as an inline VALUES table and recompute the identical sign bits
# / band buckets in SQL. Shared by C148's probe-curve oracle (the round-10
# proof of the technique) and, since round 11, C5's own oracle.
_PLANES_VALUES_SQL = ",\n        ".join(
    "({}, [{}]::DOUBLE[])".format(
        p, ", ".join(str(v) for v in _PLANES[p])
    )
    for p in range(_N_PLANES)
)

# Band CTEs shared by every plane-literal oracle: sign bits -> two 8-bit
# band buckets (b0 = planes 0..7, b1 = planes 8..15), exactly mirroring
# hyperplane_bands().
_BANDS_CTE_SQL = f"""planes(p, pv) AS (VALUES
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
    )"""


def probe_masks(radius: int, bits: int = _N_PLANES // 2) -> list[int]:
    """All XOR masks within Hamming `radius` of 0 over `bits` bits, mask 0
    (the home bucket) first."""
    from itertools import combinations

    masks = [0]
    for r in range(1, radius + 1):
        for combo in combinations(range(bits), r):
            m = 0
            for b in combo:
                m |= 1 << b
            masks.append(m)
    return masks


def hyperplane_bands(e_col: Column) -> Column:
    """LSH banding shared by C5 (sim search) and C15 (embed dedup): 16
    deterministic random-hyperplane sign bits folded into two 8-bit band
    buckets, returned as ``array<struct<band:int, bucket:int>>`` ready to
    explode. All JVM-side arithmetic — the planes ride the plan as
    literals, so the signature computes in the scan stage with no shuffle
    and no Python."""
    bits = [
        F.when(
            dot(e_col, F.array(*[F.lit(v) for v in _PLANES[p]])) >= 0, 1
        ).otherwise(0)
        for p in range(_N_PLANES)
    ]
    half = _N_PLANES // 2
    b0 = sum(bits[i] * (1 << i) for i in range(half))
    b1 = sum(bits[half + i] * (1 << i) for i in range(half))
    return F.array(
        F.struct(F.lit(0).alias("band"), b0.alias("bucket")),
        F.struct(F.lit(1).alias("band"), b1.alias("bucket")),
    )


@query(
    "q_llm_sim_lsh",
    oracle=f"""
    WITH {_BANDS_CTE_SQL},
    cand AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               coalesce(list_dot_product(q.e, c.e)
                        / nullif(q.nrm * c.nrm, 0), 0) AS cos
        FROM v q JOIN v c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {_N_QUERIES}
          AND least(bit_count(xor(q.b0, c.b0)),
                    bit_count(xor(q.b1, c.b1))) <= {_LSH_PROBE_RADIUS}
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id
        ) AS rn
        FROM cand
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rn
    FROM ranked WHERE rn <= {_TOPK}
    """,
)
def q_llm_sim_lsh(spark, sf_dir):
    """C5: random-hyperplane LSH with query-side MULTI-PROBE — the 100 TB
    similarity path. 16 sign bits → two 8-bit band buckets; the DATA side
    keeps exactly one bucket per band (index size 2·n rows at any scale),
    while each QUERY additionally probes every bucket within Hamming
    radius {_LSH_PROBE_RADIUS} of its own (probe_masks: 163 masks/band at
    r=4) — the Lv et al. multi-probe trade: probe count, not index size,
    buys recall. Candidates = (band, bucket) equi-join collisions, then
    exact cosine re-rank of candidates only. The query side is tiny
    (|queries|·masks rows, broadcast); the candidate side never replicates
    or reshuffles. tests/test_llm.py gates recall ≥ 0.8 vs C4's exact
    top-5 (measured 0.96 on the worst-case random-gaussian fixture, where
    r=4 is needed; clustered data reaches 0.9+ at r=1 — see the planted-
    cluster test).

    Hash-matched oracle since round 11 (was rows-only): the planes are
    deterministic ±1.0 literals, so the DuckDB twin recomputes the same
    sign bits / band buckets from an inline VALUES table, and the
    probe-mask equi-join is replaced by its closed form — a candidate
    collides with a query iff some band's bucket XOR has popcount ≤ the
    probe radius, i.e. ``least(bit_count(qb0^b0), bit_count(qb1^b1)) <=
    {_LSH_PROBE_RADIUS}`` (probe_masks enumerates exactly the
    Hamming-radius ball, and dropDuplicates collapses multi-band
    collisions to one row per pair)."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("e")
    )
    withn = emb.withColumn("nrm", F.sqrt(sq_norm(F.col("e")))).withColumn(
        "bands", hyperplane_bands(F.col("e"))
    )
    buckets = withn.select(
        "vec_id", "e", "nrm", F.explode("bands").alias("bb")
    ).select("vec_id", "e", "nrm", "bb.band", "bb.bucket").localCheckpoint(
        eager=True  # consumed by both the query side and the candidate side
    )
    masks = probe_masks(_LSH_PROBE_RADIUS)
    q = (
        buckets.where(F.col("vec_id") < _N_QUERIES)
        .withColumn(
            "mask", F.explode(F.array(*[F.lit(m) for m in masks]))
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            F.col("nrm").alias("qn"),
            "band",
            F.expr("int(bucket ^ mask)").alias("bucket"),
        )
    )
    # Round 14 (guide §2.3): score BEFORE deduplicating. dropDuplicates on
    # (query_id, neighbor_id) carried the two 64-dim double arrays through
    # first() aggregates — non-hash-aggregable, so the planner ran TWO
    # SortAggregates with full sorts of the candidate set around the
    # exchange, shuffling vector payloads to dedup an id pair. Computing
    # the cosine per collision row (a pair collides at most once per band,
    # so <= 2 evaluations) lets a plain max() hash-aggregate on ids+cos
    # dedup map-side — duplicates are bitwise-identical evaluations of the
    # same arrays, so max() releases the very same value. SortAggregate
    # count 2 -> 0; the exchange now moves 24 bytes/pair, never vectors.
    cand = (
        buckets.join(
            F.broadcast(q),
            ["band", "bucket"],
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            safe_cosine(
                dot(F.col("qe"), F.col("e")), F.col("qn"), F.col("nrm")
            ).alias("cos"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cos").alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _TOPK)
        .select(
            "query_id", "neighbor_id", F.round("cos", 6).alias("cosine"), "rn"
        )
    )


@query(
    "q_llm_vec_ops",
    oracle="""
    WITH norms AS (
        SELECT label, sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
        FROM embeddings
    ),
    per_label AS (
        SELECT label, count(*) AS n_vecs, round(avg(nrm), 6) AS avg_norm
        FROM norms GROUP BY label
    ),
    exploded AS (
        SELECT label,
               unnest(list_transform(embedding::DOUBLE[], (x, i) -> i - 1)) AS pos,
               unnest(embedding::DOUBLE[]) AS val
        FROM embeddings
    ),
    centroid AS (
        SELECT label, pos, avg(val) AS c FROM exploded GROUP BY label, pos
    ),
    cnorm AS (
        SELECT label, round(sqrt(sum(c * c)), 6) AS centroid_norm
        FROM centroid GROUP BY label
    )
    SELECT p.label, p.n_vecs, p.avg_norm, c.centroid_norm
    FROM per_label p JOIN cnorm c ON p.label = c.label
    """,
)
def q_llm_vec_ops(spark, sf_dir):
    """C6: per-label L2 norms and centroid norm. Norms use the per-row
    array fold (no explode); only the centroid needs the (label, pos)
    shuffle — 64·|labels| groups regardless of row count."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double("embedding").alias("e")
    )
    per_label = (
        emb.withColumn("nrm", F.sqrt(sq_norm(F.col("e"))))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("nrm"), 6).alias("avg_norm"),
        )
    )
    centroid = (
        emb.select("label", F.posexplode("e").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.avg("val").alias("c"))
        .groupBy("label")
        .agg(F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 6).alias("centroid_norm"))
    )
    return per_label.join(centroid, "label")


# --- C68: late-interaction (maxsim) retrieval --------------------------------

_MAXSIM_TOKENS = 8  # token-vectors per doc (64-dim sliced into 8 x 8)
_MAXSIM_DIM = 8
_MAXSIM_TOPK = 3


@query(
    "q_llm_maxsim",
    oracle=f"""
    WITH tv AS (
        SELECT vec_id,
               list_transform(range(0, {_MAXSIM_TOKENS}),
                   t -> (embedding::DOUBLE[])[t * {_MAXSIM_DIM} + 1 :
                                              (t + 1) * {_MAXSIM_DIM}]) AS tvs
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, tvs AS qts FROM tv
          WHERE vec_id < {_N_QUERIES}),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               round(list_sum(list_transform(q.qts,
                   qt -> list_max(list_transform(c.tvs,
                       dt -> list_sum(list_transform(range(1, {_MAXSIM_DIM} + 1),
                           i -> qt[i] * dt[i])))))), 6) AS maxsim
        FROM q JOIN tv c ON c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, maxsim, rn FROM (
        SELECT query_id, neighbor_id, maxsim,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY maxsim DESC, neighbor_id
               ) AS rn
        FROM scored
    ) WHERE rn <= {_MAXSIM_TOPK}
    """,
)
def q_llm_maxsim(spark, sf_dir):
    """C68: late-interaction retrieval (the ColBERT scoring function,
    Khattab & Zaharia SIGIR'20): each document is a BAG of token vectors,
    and score(q, d) = sum over query tokens of the max dot product against
    d's tokens — the multi-vector semantics single-vector cosine (C4)
    cannot express (a doc matching ALL query terms in different places
    beats one matching one term everywhere). Fixture token vectors are the
    64-dim embedding sliced into {_MAXSIM_TOKENS}x{_MAXSIM_DIM} — the
    slicing is synthetic, the scoring algebra is the real thing. Entirely
    JVM higher-order folds (nested transform/aggregate — no Python, no
    explode: candidates stay one ROW per (query, doc) pair with the token
    loop inside the expression); scores rounded to 6 before ranking so
    rank order is engine-identical; per-query top-{_MAXSIM_TOPK} gets
    WindowGroupLimit. At 100 TB the query side broadcasts and candidates
    come from an ANN prefilter (C5/C20) instead of the full cross join —
    the scoring expression is unchanged, which is the point: rerank stages
    swap candidate generators, not scorers."""
    tv = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            f"transform(sequence(0, {_MAXSIM_TOKENS - 1}), "
            f"t -> slice(transform(embedding, x -> cast(x as double)), "
            f"t * {_MAXSIM_DIM} + 1, {_MAXSIM_DIM}))"
        ).alias("tvs"),
    )
    q = tv.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("tvs").alias("qts")
    )
    maxsim = F.round(
        F.expr(
            f"aggregate(qts, 0D, (acc, qt) -> acc + "
            f"array_max(transform(tvs, dt -> "
            f"aggregate(sequence(1, {_MAXSIM_DIM}), 0D, "
            f"(a, i) -> a + element_at(qt, i) * element_at(dt, i)))))"
        ),
        6,
    )
    scored = (
        tv.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            maxsim.alias("maxsim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("maxsim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _MAXSIM_TOPK)
    )
