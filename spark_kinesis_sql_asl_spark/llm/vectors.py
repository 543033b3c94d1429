"""Vector / clustering operators beyond the assignment step (SURVEY.md §2
rows C39–C40): the k-means M-step (centroid recompute) and product
quantization encoding.

Together with C33 (the E-step) and C24 (int8 quantization) these complete
the embedding-compression toolchain a 100 TB corpus needs for clustering
and ANN: E-step → M-step closes the Lloyd iteration, and PQ codes are the
storage/recall format IVF-PQ indexes serve from (Jégou et al., PAMI 2011).
Everything runs on the C24 integer grid — squared-L2, sums, and floor-div
means in pure BIGINT arithmetic — so results are bit-identical across
engines and partitionings (the driver-canon rule).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import get_or_build, parallel_table, table
from .curation import _KMEANS_K, _Q_VEC_SQL_DUCK, _Q_VEC_SQL_SPARK
from .iterative import parquet_barrier, scratch_dir

# Shared DuckDB CTE: quantize + seed + assign (identical to C33's oracle,
# re-stated here so each oracle stays self-contained for the driver).
_ASSIGN_CTES_DUCK = f"""
    q AS (
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
"""


def _assigned(spark, sf_dir):
    """Shared Spark assignment frame: (vec_id, cell_id, qv) at rn=1 —
    the C33 E-step re-expressed as a reusable building block."""
    e = parallel_table(spark, sf_dir, "embeddings", key="vec_id").select(
        "vec_id", F.expr(_Q_VEC_SQL_SPARK).alias("qv")
    )
    seeds = e.where(F.col("vec_id") < _KMEANS_K).select(
        F.col("vec_id").alias("seed_id"), F.col("qv").alias("sv")
    )
    dists = e.crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        "qv",
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
        .select("vec_id", F.col("seed_id").alias("cell_id"), "qv")
    )


@query(
    "q_llm_kmeans_mstep",
    priority=30,
    oracle=f"""
    WITH {_ASSIGN_CTES_DUCK},
    av AS (
        SELECT a.seed_id AS cell_id, q.qv
        FROM assign a JOIN q ON a.vec_id = q.vec_id
        WHERE a.rn = 1
    ),
    dims AS (
        SELECT cell_id, t.i AS dim, qv[t.i + 1] AS qval
        FROM av, range(0, 64) t(i)
    )
    SELECT cell_id, dim,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(qval) AS BIGINT) AS sum_q,
           CAST(sum(qval) // count(*) AS BIGINT) AS centroid_q
    FROM dims GROUP BY cell_id, dim
    """,
)
def q_llm_kmeans_mstep(spark, sf_dir):
    """C39: the k-means M-step — recompute each cell's centroid from its
    assigned vectors, completing one full Lloyd iteration with C33. The
    centroid is emitted per (cell, dim) as an integer floor-mean on the C24
    grid ({_KMEANS_K}×64 rows), so the next E-step can consume it without
    any float crossing an engine boundary. Plan: the assignment frame
    (broadcast seeds, scan-stage distance fold, per-vector argmin window)
    flows into one posexplode + groupBy(cell, dim) — the shuffle carries
    (cell, dim, qval) triples with map-side partial sums, bounded by
    64·|vectors| small integers, never the raw embedding arrays. At 100 TB
    the M-step is exactly this rollup; iterating Lloyd is a loop of
    (broadcast centroids → assign → this), with each round's centroid
    table {_KMEANS_K}×64 rows — trivially broadcastable."""
    exploded = _assigned(spark, sf_dir).select(
        "cell_id", F.posexplode("qv").alias("dim", "qval")
    )
    return exploded.groupBy("cell_id", "dim").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("qval").cast("bigint").alias("sum_q"),
        F.expr("CAST(sum(qval) div count(1) AS BIGINT)").alias("centroid_q"),
    )


_PQ_SUBSPACES = 8
_PQ_SUBDIM = 8  # 64 dims / 8 subspaces


@query(
    "q_llm_pq_encode",
    priority=30,
    oracle=f"""
    WITH q AS (
        SELECT vec_id, {_Q_VEC_SQL_DUCK} AS qv FROM embeddings
    ),
    seeds AS (SELECT vec_id AS seed_id, qv AS sv FROM q WHERE vec_id < {_KMEANS_K}),
    sub AS (
        SELECT q.vec_id, s.seed_id, t.i AS subspace,
               list_sum(list_transform(range(1, {_PQ_SUBDIM + 1}),
                   j -> (qv[t.i * {_PQ_SUBDIM} + j] - sv[t.i * {_PQ_SUBDIM} + j])
                      * (qv[t.i * {_PQ_SUBDIM} + j] - sv[t.i * {_PQ_SUBDIM} + j])))
                   AS dist
        FROM q CROSS JOIN seeds s CROSS JOIN range(0, {_PQ_SUBSPACES}) t(i)
    )
    SELECT vec_id, subspace, seed_id AS code, CAST(dist AS BIGINT) AS dist
    FROM (
        SELECT vec_id, subspace, seed_id, dist,
               row_number() OVER (
                   PARTITION BY vec_id, subspace ORDER BY dist, seed_id
               ) AS rn
        FROM sub
    ) WHERE rn = 1
    """,
)
def q_llm_pq_encode(spark, sf_dir):
    """C40: product-quantization encoding (Jégou et al., PAMI 2011) — split
    each 64-d vector into {_PQ_SUBSPACES} subvectors of {_PQ_SUBDIM} dims
    and assign each to its nearest sub-codeword ({_KMEANS_K} deterministic
    codewords per subspace: the first {_KMEANS_K} vectors' subvectors, the
    C33 seeding convention). The emitted (vec_id, subspace, code) triples
    are the compressed representation an IVF-PQ index stores — 8 small
    codes instead of 64 floats, a 32× compression at recall governed by the
    codebook. All distances are integer squared-L2 on the C24 grid, so the
    argmin can never flip on a float ulp. Plan: codebook broadcasts
    ({_KMEANS_K} rows); the subspace expansion is a scan-stage explode
    (×{_PQ_SUBSPACES}); the per-(vector, subspace) argmin is a window over
    {_KMEANS_K}-row groups. At 100 TB: identical shape — no shuffle
    touches the raw vectors, and the encode is embarrassingly parallel."""
    e = parallel_table(spark, sf_dir, "embeddings", key="vec_id").select(
        "vec_id", F.expr(_Q_VEC_SQL_SPARK).alias("qv")
    )
    seeds = e.where(F.col("vec_id") < _KMEANS_K).select(
        F.col("vec_id").alias("seed_id"), F.col("qv").alias("sv")
    )
    sub = (
        e.crossJoin(F.broadcast(seeds))
        .select(
            "vec_id",
            "seed_id",
            "qv",
            "sv",
            F.explode(F.sequence(F.lit(0), F.lit(_PQ_SUBSPACES - 1))).alias(
                "subspace"
            ),
        )
        .select(
            "vec_id",
            "seed_id",
            "subspace",
            F.expr(
                f"aggregate(sequence(1, {_PQ_SUBDIM}), CAST(0 AS BIGINT), "
                f"(acc, j) -> acc + "
                f"(element_at(qv, subspace * {_PQ_SUBDIM} + j) - "
                f" element_at(sv, subspace * {_PQ_SUBDIM} + j)) * "
                f"(element_at(qv, subspace * {_PQ_SUBDIM} + j) - "
                f" element_at(sv, subspace * {_PQ_SUBDIM} + j)))"
            ).alias("dist"),
        )
    )
    w = Window.partitionBy("vec_id", "subspace").orderBy("dist", "seed_id")
    return (
        sub.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "vec_id",
            "subspace",
            F.col("seed_id").alias("code"),
            F.col("dist").cast("bigint").alias("dist"),
        )
    )


# --- C33+C39 composed: the full Lloyd training loop --------------------------

_TRAIN_ROUNDS = 3  # fixed so the oracle unrolls to a finite CTE chain

_DIST_DUCK = (
    "list_sum(list_transform(range(1, 65), "
    "i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])))"
)


def _duck_assign_cte(name: str, cents: str, keep_dist: bool = False) -> str:
    """One unrolled E-step CTE: nearest centroid per vector (integer L2,
    cell_id tiebreak), optionally carrying the winning distance."""
    cols = "vec_id, cell_id" + (", dist" if keep_dist else "")
    return f"""
    {name} AS (
        SELECT {cols} FROM (
            SELECT vec_id, cell_id, dist,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY dist, cell_id) AS rn
            FROM (
                SELECT q.vec_id, c.cell_id, {_DIST_DUCK} AS dist
                FROM q CROSS JOIN {cents} c
            )
        ) WHERE rn = 1
    )"""


def _duck_mstep_cte(name: str, assign: str) -> str:
    """One unrolled M-step CTE: per-cell truncating integer mean per dim,
    reassembled into an ordered centroid list."""
    return f"""
    {name} AS (
        SELECT cell_id, list(centroid ORDER BY dim) AS cv FROM (
            SELECT a.cell_id, t.i AS dim,
                   CAST(sum(q.qv[t.i + 1]) // count(*) AS BIGINT) AS centroid
            FROM {assign} a JOIN q USING (vec_id), range(0, 64) t(i)
            GROUP BY a.cell_id, t.i
        ) GROUP BY cell_id
    )"""


_TRAIN_CTES = "".join(
    _duck_assign_cte(f"a{r}", f"c{r - 1}") + "," + _duck_mstep_cte(f"c{r}", f"a{r}")
    + ("," if r < _TRAIN_ROUNDS else "")
    for r in range(1, _TRAIN_ROUNDS + 1)
)


def lloyd_estep(e, cents):
    """One E-step: nearest-centroid assignment by integer squared-L2 on the
    C24 grid (broadcast centroids, scan-stage fold, per-vector argmin)."""
    dists = e.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "qv",
        "cell_id",
        F.expr(
            "aggregate(sequence(1, 64), CAST(0 AS BIGINT), (acc, i) -> "
            "acc + (element_at(qv, i) - element_at(cv, i)) * "
            "(element_at(qv, i) - element_at(cv, i)))"
        ).alias("dist"),
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "cell_id")
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "cell_id", "qv", "dist")
    )


def train_centroids(spark, sf_dir, rounds=_TRAIN_ROUNDS, k=_KMEANS_K):
    """Run ``rounds`` Lloyd iterations from the C33 seeds (first ``k``
    vec_ids) and return the trained centroid table (cell_id, cv
    array<bigint>), each round's centroids materialized to parquet (flat
    lineage, replayable state). Shared by q_llm_kmeans_train, the
    trained-IVF recall gate in tests/test_llm.py, and the C125/C127
    semantic-dedup state, so it is held per (corpus, rounds, k) in the
    family-state store: consumers re-read the final round's parquet, never
    recompute the loop.

    ``k`` defaults to the oracle-pinned {_KMEANS_K}; the semantic family
    reads it from ``spark.kinesislike.semantic.cells`` (see
    :func:`_semantic_k`) so a 100 TB deployment can keep CELL SIZE, not
    cell count, constant — the scaling-decade gate runs exactly that
    configuration."""

    def build():
        e = parallel_table(spark, sf_dir, "embeddings", key="vec_id").select(
            "vec_id", F.expr(_Q_VEC_SQL_SPARK).alias("qv")
        )
        cents = e.where(F.col("vec_id") < k).select(
            F.col("vec_id").alias("cell_id"), F.col("qv").alias("cv")
        )
        stage = scratch_dir(spark, "spark_kmeans_rounds")
        for r in range(1, rounds + 1):
            new_cents = (
                lloyd_estep(e, cents)
                .select("cell_id", F.posexplode("qv").alias("dim", "qval"))
                .groupBy("cell_id", "dim")
                .agg(
                    F.expr("CAST(sum(qval) div count(1) AS BIGINT)").alias(
                        "centroid"
                    )
                )
                .groupBy("cell_id")
                .agg(
                    F.expr(
                        "transform(array_sort(collect_list(struct(dim, centroid))),"
                        " s -> s.centroid)"
                    ).alias("cv")
                )
            )
            cents = parquet_barrier(spark, new_cents, stage, f"cents_{r}")
        return cents

    return get_or_build(spark, ("centroids", rounds, k), sf_dir, build)


@query(
    "q_llm_kmeans_train",
    priority=30,
    oracle=f"""
    WITH q AS (
        SELECT vec_id, {_Q_VEC_SQL_DUCK} AS qv FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cell_id, qv AS cv FROM q WHERE vec_id < {_KMEANS_K}),
    {_TRAIN_CTES},
    {_duck_assign_cte("final", f"c{_TRAIN_ROUNDS}", keep_dist=True)}
    SELECT f.cell_id,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(f.dist) AS BIGINT) AS inertia,
           CAST(max(cs.csum) AS BIGINT) AS centroid_sum
    FROM final f JOIN (
        SELECT cell_id, list_sum(cv) AS csum FROM c{_TRAIN_ROUNDS}
    ) cs USING (cell_id)
    GROUP BY f.cell_id
    """,
)
def q_llm_kmeans_train(spark, sf_dir):
    """C33+C39 composed (round-4 verdict item 3): {_TRAIN_ROUNDS} full Lloyd
    iterations — E-step assign (C33's broadcast-centroid integer-L2 argmin)
    then M-step centroid recompute (C39's per-(cell, dim) truncating
    integer mean) — followed by a final assignment pass whose per-cell
    population, inertia, and centroid checksum are the trained-index
    acceptance report. Everything stays on the C24 int8 grid, so every
    round's argmin and centroid is bit-identical across engines and
    partitionings, and the fixed round count keeps the oracle a finite
    unrolled CTE chain.

    Scale shape (the C21 parquet-round pattern): each round's centroid
    table (≤{_KMEANS_K}×64 integers) is MATERIALIZED TO PARQUET — lineage
    stays flat across rounds, an executor loss replays from disk, and the
    next E-step broadcasts a {_KMEANS_K}-row read instead of a growing
    plan. The vectors themselves are re-read from the source scan each
    round and never shuffle: per round it's broadcast-join + scan-stage
    fold + a (cell, dim)-keyed rollup of small integers. At 100 TB that is
    exactly how an IVF coarse quantizer is trained (sampled or full), and
    tests/test_llm.py gates the payoff — IVF recall against the TRAINED
    centroids beats the untrained-seed index of C20."""
    e = parallel_table(spark, sf_dir, "embeddings", key="vec_id").select(
        "vec_id", F.expr(_Q_VEC_SQL_SPARK).alias("qv")
    )
    cents = train_centroids(spark, sf_dir)
    csum = cents.select(
        "cell_id",
        F.expr("aggregate(cv, CAST(0 AS BIGINT), (a, x) -> a + x)").alias(
            "csum"
        ),
    )
    return (
        lloyd_estep(e, cents)
        .groupBy("cell_id")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("dist").cast("bigint").alias("inertia"),
        )
        .join(F.broadcast(csum), "cell_id")
        .select(
            "cell_id",
            "n_vecs",
            "inertia",
            F.col("csum").cast("bigint").alias("centroid_sum"),
        )
    )


_OUT_TOPK = 10


@query(
    "q_llm_semantic_outliers",
    priority=30,
    oracle=f"""
    WITH q AS (
        SELECT vec_id, label, {_Q_VEC_SQL_DUCK} AS qv FROM embeddings
    ),
    dims AS (
        SELECT label, t.i AS dim, qv[t.i + 1] AS qval
        FROM q, range(0, 64) t(i)
    ),
    cent AS (
        SELECT label,
               list(CAST(s AS BIGINT) ORDER BY dim) AS sums
        FROM (SELECT label, dim, sum(qval) AS s
              FROM dims GROUP BY label, dim)
        GROUP BY label
    ),
    nn AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM q GROUP BY label),
    scored AS (
        SELECT q.vec_id, q.label,
               list_sum(list_transform(range(1, 65),
                   i -> (n * qv[i] - sums[i]) * (n * qv[i] - sums[i])))
                   AS dist_n2
        FROM q JOIN cent USING (label) JOIN nn USING (label)
    )
    SELECT vec_id, label, CAST(dist_n2 AS BIGINT) AS dist_n2, rn
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY label ORDER BY dist_n2 DESC, vec_id) AS rn
        FROM scored
    )
    WHERE rn <= {_OUT_TOPK}
    """,
)
def q_llm_semantic_outliers(spark, sf_dir):
    """C85: per-label embedding outliers — the top-{_OUT_TOPK} vectors
    farthest from their own label's centroid: the mislabeled/junk-sample
    detector a curation pass runs after clustering (a doc whose embedding
    sits far from its class mean is a labeling error, an encoding
    artifact, or genuinely out-of-distribution — all three are what you
    pull for review before training).

    Exactness on the C24 integer grid: the centroid is NEVER materialized
    as floats — distance to the mean is scaled by n² so everything stays
    BIGINT: dist_n2 = Σ_d (n·qv_d − Σ_d')², identical to n²·‖qv − μ‖²
    with μ = Σ/n. No float aggregation order anywhere (the C39 rule:
    engine-chosen addend order makes float sums unreproducible; integer
    sums commute exactly).

    Plan: per-(label, dim) integer sums via posexplode + two-phase agg
    (64·|vectors| small-int shuffle rows, map-side partials), rolled into
    |labels| centroid rows that broadcast back onto the scan for a
    per-vector fold; top-k per label is a WindowGroupLimit rank. At
    100 TB: one corpus-scale shuffle (the dim rollup), everything else
    broadcast or scan-stage."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.expr(_Q_VEC_SQL_SPARK).alias("qv")
    )
    dims = e.select("label", F.posexplode("qv").alias("dim", "qval"))
    cent = (
        dims.groupBy("label", "dim")
        .agg(F.sum("qval").alias("s"))
        .groupBy("label")
        .agg(
            F.expr("array_sort(collect_list(struct(dim, s)))").alias("_ds"),
        )
        .select(
            "label",
            F.expr("transform(_ds, x -> CAST(x.s AS BIGINT))").alias("sums"),
        )
    )
    n_per_label = e.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    scored = (
        e.join(F.broadcast(cent), "label")
        .join(F.broadcast(n_per_label), "label")
        .select(
            "vec_id",
            "label",
            F.expr(
                "aggregate(sequence(1, 64), CAST(0 AS BIGINT), (acc, i) -> "
                "acc + (n * element_at(qv, i) - element_at(sums, i)) * "
                "(n * element_at(qv, i) - element_at(sums, i)))"
            ).alias("dist_n2"),
        )
    )
    w = Window.partitionBy("label").orderBy(
        F.col("dist_n2").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _OUT_TOPK)
        .select("vec_id", "label", "dist_n2", "rn")
    )


_MARGIN_BOTTOMK = 20


@query(
    "q_llm_margin_sample",
    priority=30,
    oracle=f"""
    WITH {_ASSIGN_CTES_DUCK}
    SELECT vec_id,
           CAST(min(CASE WHEN rn = 1 THEN seed_id END) AS BIGINT)
               AS cell_1,
           CAST(min(CASE WHEN rn = 1 THEN dist END) AS BIGINT) AS d1,
           CAST(min(CASE WHEN rn = 2 THEN dist END) AS BIGINT) AS d2,
           CAST(min(CASE WHEN rn = 2 THEN dist END)
                - min(CASE WHEN rn = 1 THEN dist END) AS BIGINT) AS margin
    FROM assign WHERE rn <= 2
    GROUP BY vec_id
    ORDER BY margin, vec_id
    LIMIT {_MARGIN_BOTTOMK}
    """,
)
def q_llm_margin_sample(spark, sf_dir):
    """C89: uncertainty-margin sampling — the {_MARGIN_BOTTOMK} vectors
    whose nearest and second-nearest cluster centroids are closest in
    distance (smallest d2 − d1): the active-learning selection rule
    (margin sampling, Scheffer et al. 2001) over the C33 assignment. A
    tiny margin means the vector sits on a cluster boundary — exactly the
    samples worth human labels, a quality-score audit, or exclusion from
    prototype-based auto-labeling; the complement of C85 (which pulls
    far-from-centroid outliers, this pulls between-centroid ambiguity).

    Exactness: squared-L2 distances on the C24 integer grid are BIGINT,
    so margins are exact integer differences — no float rank can flip the
    bottom-k. The top-2 per vector come from the same (dist, seed_id)
    argmin window C33 pins, kept to rn <= 2 (WindowGroupLimit); the
    final bottom-k is orderBy+limit = TakeOrderedAndProject, no global
    window. Plan: broadcast seeds, scan-stage distance folds, one
    per-vector window — the E-step plan plus a conditional pivot."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_Q_VEC_SQL_SPARK).alias("qv")
    )
    from .curation import _KMEANS_K

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
    top2 = dists.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= 2
    )
    pick = lambda r, c: F.min(F.when(F.col("rn") == r, F.col(c)))
    agg = top2.groupBy("vec_id").agg(
        pick(1, "seed_id").cast("bigint").alias("cell_1"),
        pick(1, "dist").cast("bigint").alias("d1"),
        pick(2, "dist").cast("bigint").alias("d2"),
        (pick(2, "dist") - pick(1, "dist")).cast("bigint").alias("margin"),
    )
    return agg.orderBy("margin", "vec_id").limit(_MARGIN_BOTTOMK)


@query(
    "q_llm_cluster_purity",
    priority=30,
    oracle=f"""
    WITH {_ASSIGN_CTES_DUCK},
    lab AS (
        SELECT a.seed_id AS cell_id, e.label
        FROM assign a JOIN embeddings e ON a.vec_id = e.vec_id
        WHERE a.rn = 1
    ),
    cells AS (
        SELECT cell_id, label, CAST(count(*) AS BIGINT) AS n
        FROM lab GROUP BY cell_id, label
    ),
    best AS (
        SELECT cell_id, label AS majority_label, n AS n_majority,
               CAST(sum(n) OVER (PARTITION BY cell_id) AS BIGINT) AS n_cell
        FROM cells
        QUALIFY row_number() OVER (
            PARTITION BY cell_id ORDER BY n DESC, label ASC) = 1
    )
    SELECT cell_id, majority_label, n_majority, n_cell,
           CAST((1000000 * n_majority) // n_cell AS BIGINT) AS purity_ppm
    FROM best
    """,
)
def q_llm_cluster_purity(spark, sf_dir):
    """C90: cluster-purity audit — per C33 cell, its majority true label,
    that label's share in exact integer ppm, and the cell size: the
    standard external clustering-quality metric (purity), run as a query
    so a 100 TB clustering job can be GATED on it (cells below a purity
    floor get re-clustered or quarantined before any auto-labeling step
    consumes them — the audit C85/C89 sampling decisions read). Majority
    tie-break is (count desc, label asc), the B109 deterministic-mode
    convention; all arithmetic is integer (the floor-ppm rule from C30).

    Plan: the E-step assignment (broadcast seeds, scan-stage folds) joins
    labels — at fixture scale the join rides the same broadcast; the
    contingency rollup is a (cell, label) groupBy bounded by k·|labels|
    rows, and the majority pick is a WindowGroupLimit rank over those few
    rows. At 100 TB: one corpus-scale shuffle (the contingency rollup),
    everything downstream is k-bounded."""
    e = table(spark, sf_dir, "embeddings")
    assigned = _assigned(spark, sf_dir).select("vec_id", "cell_id")
    lab = assigned.join(e.select("vec_id", "label"), "vec_id")
    cells = lab.groupBy("cell_id", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("cell_id").orderBy(
        F.col("n").desc(), F.col("label").asc()
    )
    tot = Window.partitionBy("cell_id")
    return (
        cells.withColumn("n_cell", F.sum("n").over(tot).cast("bigint"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "cell_id",
            F.col("label").alias("majority_label"),
            F.col("n").alias("n_majority"),
            "n_cell",
            F.expr("CAST((1000000 * n) div n_cell AS BIGINT)").alias(
                "purity_ppm"
            ),
        )
    )


_KNN_K = 5
_KNN_UNLABELED_MOD = 20  # every 20th vector is "unlabeled" (SF-invariant)


@query(
    "q_llm_knn_label_vote",
    priority=35,
    oracle=f"""
    WITH q AS (
        SELECT vec_id, label, {_Q_VEC_SQL_DUCK} AS qv FROM embeddings
    ),
    un AS (SELECT vec_id, qv FROM q WHERE vec_id % {_KNN_UNLABELED_MOD} = 0),
    lab AS (SELECT vec_id, label, qv FROM q
            WHERE vec_id % {_KNN_UNLABELED_MOD} <> 0),
    dists AS (
        SELECT un.vec_id, lab.label, lab.vec_id AS nbr,
               list_sum(list_transform(range(1, 65),
                   i -> (un.qv[i] - lab.qv[i]) * (un.qv[i] - lab.qv[i])))
                   AS dist
        FROM un CROSS JOIN lab
    ),
    knn AS (
        SELECT vec_id, label
        FROM (
            SELECT vec_id, label, dist, nbr,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY dist, nbr) AS rn
            FROM dists
        ) WHERE rn <= {_KNN_K}
    ),
    votes AS (
        SELECT vec_id, label, CAST(count(*) AS BIGINT) AS n_votes
        FROM knn GROUP BY vec_id, label
    )
    SELECT vec_id, label AS voted_label, n_votes
    FROM votes
    QUALIFY row_number() OVER (
        PARTITION BY vec_id ORDER BY n_votes DESC, label ASC) = 1
    """,
)
def q_llm_knn_label_vote(spark, sf_dir):
    """C92: k-NN auto-labeling — for each "unlabeled" vector (every
    {_KNN_UNLABELED_MOD}th by id — SF-invariant, so the driver's sf0.01
    slice exercises it too), the majority label
    of its {_KNN_K} nearest labeled neighbors: the prototype of every
    label-propagation / weak-supervision pass that extends a small
    labeled seed over a 100 TB corpus. Neighbor order is exact integer
    squared-L2 on the C24 grid with an id tie-break; the vote is the
    B109 deterministic-majority convention (count desc, label asc).

    Plan: the labeled side would be the IVF-indexed side at scale (probe
    the C20/C77 cells instead of CROSS JOIN — the fixture-scale exact
    form keeps the oracle checkable); per-query top-k is WindowGroupLimit,
    the vote is a tiny (query, label) rollup + rank."""
    e = parallel_table(spark, sf_dir, "embeddings", key="vec_id").select(
        "vec_id", "label", F.expr(_Q_VEC_SQL_SPARK).alias("qv")
    )
    un = e.where(F.col("vec_id") % _KNN_UNLABELED_MOD == 0).select(
        "vec_id", F.col("qv").alias("uq")
    )
    lab = e.where(F.col("vec_id") % _KNN_UNLABELED_MOD != 0).select(
        F.col("vec_id").alias("nbr"), "label", F.col("qv").alias("lq")
    )
    dists = lab.join(F.broadcast(un)).select(
        "vec_id",
        "label",
        "nbr",
        F.expr(
            "aggregate(sequence(1, 64), CAST(0 AS BIGINT), (acc, i) -> "
            "acc + (element_at(uq, i) - element_at(lq, i)) * "
            "(element_at(uq, i) - element_at(lq, i)))"
        ).alias("dist"),
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "nbr")
    knn = dists.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= _KNN_K
    )
    votes = knn.groupBy("vec_id", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    vw = Window.partitionBy("vec_id").orderBy(
        F.col("n_votes").desc(), F.col("label").asc()
    )
    return (
        votes.withColumn("vrn", F.row_number().over(vw))
        .where(F.col("vrn") == 1)
        .select("vec_id", F.col("label").alias("voted_label"), "n_votes")
    )


# --- C40a: PQ asymmetric-distance (ADC) top-k --------------------------------

_ADC_QUERY_MOD = 251  # query set: vec_id % 251 == 0 (2 at sf0.01, 20 at sf0.1)
_ADC_K = 10

from ..registry import _ORACLES as _REG_ORACLES  # noqa: E402


@query(
    "q_llm_pq_adc_topk",
    priority=30,
    # Wrap C40's REGISTERED oracle verbatim as the codes CTE (the C96
    # derive-never-duplicate rule): a codebook/encoding change cannot
    # desync this query stage from the index it searches.
    oracle=f"""
    WITH codes AS ({_REG_ORACLES["q_llm_pq_encode"]}),
    q AS (
        SELECT vec_id, {_Q_VEC_SQL_DUCK} AS qv FROM embeddings
    ),
    queries AS (
        SELECT vec_id AS query_id, qv FROM q
        WHERE vec_id % {_ADC_QUERY_MOD} = 0
    ),
    seeds AS (
        SELECT vec_id AS seed_id, qv AS sv FROM q WHERE vec_id < {_KMEANS_K}
    ),
    lut AS (
        SELECT queries.query_id, t.i AS subspace, s.seed_id AS code,
               list_sum(list_transform(range(1, {_PQ_SUBDIM + 1}),
                   j -> (queries.qv[t.i * {_PQ_SUBDIM} + j]
                         - s.sv[t.i * {_PQ_SUBDIM} + j])
                      * (queries.qv[t.i * {_PQ_SUBDIM} + j]
                         - s.sv[t.i * {_PQ_SUBDIM} + j]))) AS d
        FROM queries CROSS JOIN seeds s
             CROSS JOIN range(0, {_PQ_SUBSPACES}) t(i)
    ),
    adc AS (
        SELECT l.query_id, c.vec_id,
               CAST(sum(l.d) AS BIGINT) AS adc_dist
        FROM codes c JOIN lut l
          ON c.subspace = l.subspace AND c.code = l.code
        GROUP BY 1, 2
    )
    SELECT query_id, vec_id, adc_dist, rk FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY adc_dist, vec_id
        ) AS BIGINT) AS rk
        FROM adc
    ) WHERE rk <= {_ADC_K}
    """,
)
def q_llm_pq_adc_topk(spark, sf_dir):
    """C40a: PQ ASYMMETRIC-distance top-k (ADC, Jégou et al. PAMI 2011
    §III.B) — the query stage that makes C40's compressed codes a working
    index. Per query vector, build a {_PQ_SUBSPACES}×{_KMEANS_K} lookup
    table of EXACT squared-L2 sub-distances between the raw query
    subvector and every sub-codeword (asymmetric: the query is never
    quantized — the precision advantage over symmetric SDC), then score
    each database vector as the sum of {_PQ_SUBSPACES} table lookups on
    its stored codes and keep the top {_ADC_K}.

    Derivation discipline: the codes frame IS the registered C40 query
    (called directly) and the oracle wraps C40's registered SQL as a CTE —
    encode and search can never drift apart. All distances are integer
    squared-L2 on the C24 grid (argmin/rank can never flip on a float
    ulp); ties break on vec_id.

    Plan: the LUT is |queries|·{_KMEANS_K}·{_PQ_SUBSPACES} rows —
    broadcast; codes join the LUT map-side, the (query, vec) rollup is the
    one corpus-scale shuffle (map-side-combined integer sums), and the
    per-query top-{_ADC_K} is a WindowGroupLimit rank. At 100 TB with an
    IVF front (C20/C77), codes are scanned per probed cell and this exact
    shape scores them — ADC is the standard IVF-PQ inner loop."""
    codes = q_llm_pq_encode(spark, sf_dir).select("vec_id", "subspace", "code")
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_Q_VEC_SQL_SPARK).alias("qv")
    )
    queries = e.where(F.col("vec_id") % _ADC_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "qv"
    )
    seeds = e.where(F.col("vec_id") < _KMEANS_K).select(
        F.col("vec_id").alias("seed_id"), F.col("qv").alias("sv")
    )
    lut = (
        queries.crossJoin(seeds)
        .select(
            "query_id",
            F.col("seed_id").alias("code"),
            "qv",
            "sv",
            F.explode(F.sequence(F.lit(0), F.lit(_PQ_SUBSPACES - 1))).alias(
                "subspace"
            ),
        )
        .select(
            "query_id",
            "code",
            "subspace",
            F.expr(
                f"aggregate(sequence(1, {_PQ_SUBDIM}), CAST(0 AS BIGINT), "
                f"(acc, j) -> acc + "
                f"(element_at(qv, subspace * {_PQ_SUBDIM} + j) - "
                f" element_at(sv, subspace * {_PQ_SUBDIM} + j)) * "
                f"(element_at(qv, subspace * {_PQ_SUBDIM} + j) - "
                f" element_at(sv, subspace * {_PQ_SUBDIM} + j)))"
            ).alias("d"),
        )
    )
    adc = (
        codes.join(F.broadcast(lut), ["subspace", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d").cast("bigint").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        adc.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= _ADC_K)
        .select("query_id", "vec_id", "adc_dist", "rk")
    )

# --- C125/C127: label-free semantic dedup (SemDeDup) --------------------------

# Cosine threshold for "semantic duplicate", as an exact rational so the
# comparison is pure integer arithmetic on the C24 grid: cos >= 0.3  <=>
# dot > 0 AND 100*dot^2 >= 9*|a|^2*|b|^2. Matches C15's _EMBED_TAU (the
# fixture corpus is near-orthogonal; max pair ~0.47), so the recall gate in
# tests/test_llm.py compares like with like.
_SEMDEDUP_TAU_NUM_SQ = 9  # tau^2 = 9/100
_SEMDEDUP_TAU_DEN_SQ = 100

# IVF-style multi-probe: each vector blocks into its 3 nearest trained
# cells, so near-boundary pairs (the k-means Voronoi edges that single-cell
# SemDeDup misses) still collide. Measured on the fixture: C15-pair recall
# 0.27 -> 0.83 going nprobe 1 -> 3, with every C15 pair above cos 0.40
# recovered. Candidate volume scales as nprobe^2 * N^2 / k — at production
# k ~ sqrt(N) (the paper runs k=50k on 5B docs) that is ~9*N^1.5, still
# sub-quadratic; the fixture's k=16 makes the fixture-scale reduction
# modest, which the C127 audit makes visible rather than hiding.
_SEMDEDUP_NPROBE = 3

# Shared DuckDB CTE chain for the SemDeDup family (C125/C129/C130): train
# (the C77 unrolled chain), rank cells per vector, multi-probe, candidate
# pairs, norms, scored pairs, thresholded semantic-dup pairs. Each oracle
# stays self-contained for the driver by prepending this block.
_SEM_CTES = f"""
    q AS (
        SELECT vec_id, {{qvec}} AS qv FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cell_id, qv AS cv FROM q WHERE vec_id < {{k}}),
    {{train}},
    ranked AS (
        SELECT vec_id, cell_id,
               row_number() OVER (
                   PARTITION BY vec_id ORDER BY dist, cell_id) AS rn
        FROM (
            SELECT q.vec_id, c.cell_id, {{dist}} AS dist
            FROM q CROSS JOIN c{{r}} c
        )
    ),
    probes AS (SELECT vec_id, cell_id FROM ranked WHERE rn <= {{nprobe}}),
    prim AS (SELECT vec_id, cell_id FROM ranked WHERE rn = 1),
    cand AS (
        SELECT DISTINCT fa.vec_id AS vec_a, fb.vec_id AS vec_b
        FROM probes fa
        JOIN probes fb ON fa.cell_id = fb.cell_id AND fa.vec_id < fb.vec_id
    ),
    nrm AS (
        SELECT vec_id, list_sum(list_transform(qv, x -> x * x)) AS nrm2
        FROM q
    ),
    p AS (
        SELECT c.vec_a, c.vec_b,
               list_sum(list_transform(range(1, 65),
                   i -> a.qv[i] * b.qv[i])) AS dq,
               na.nrm2 AS na2, nb.nrm2 AS nb2
        FROM cand c
        JOIN q a ON a.vec_id = c.vec_a
        JOIN q b ON b.vec_id = c.vec_b
        JOIN nrm na ON na.vec_id = c.vec_a
        JOIN nrm nb ON nb.vec_id = c.vec_b
    ),
    sem AS (
        SELECT vec_a, vec_b, CAST(dq AS BIGINT) AS dot_q,
               CAST((1000000 * CAST(dq AS HUGEINT) * dq)
                    // (CAST(na2 AS HUGEINT) * nb2) AS BIGINT) AS cos2_ppm
        FROM p
        WHERE dq > 0
          AND {{dsq}} * CAST(dq AS HUGEINT) * dq
              >= {{nsq}} * CAST(na2 AS HUGEINT) * nb2
    )
""".format(
    qvec=_Q_VEC_SQL_DUCK,
    k=_KMEANS_K,
    train=_TRAIN_CTES,
    dist=_DIST_DUCK,
    r=_TRAIN_ROUNDS,
    nprobe=_SEMDEDUP_NPROBE,
    dsq=_SEMDEDUP_TAU_DEN_SQ,
    nsq=_SEMDEDUP_TAU_NUM_SQ,
)


def _semantic_k(spark) -> int:
    """Cell count for the semantic-dedup blocking structure. Defaults to
    the oracle-pinned {_KMEANS_K}; ``spark.kinesislike.semantic.cells``
    overrides it so a deployment can size k ~ N/cell_target (bounded cell
    SIZE — the SemDeDup paper's k ~ sqrt(N) is the other common choice).
    The driver's bare sessions never set the conf, so every oracle
    comparison runs the pinned default; the constant-density decade gate
    in tests/test_scaling.py runs the scaled configuration."""
    return int(
        spark.conf.get("spark.kinesislike.semantic.cells", str(_KMEANS_K))
    )


def _semantic_state(spark, sf_dir):
    """The trained-cell assignment state (primary, probes, sem_pairs) that
    C125, C127 and the recall gates share — C77's 3-round Lloyd centroids
    reused as SemDeDup's blocking structure, held per (corpus, k) in the
    family-state store: the first consumer pays, the rest ride.

    primary = (vec_id, cell_id, qv, dist, nrm2) at rn=1; probes =
    (vec_id, cell_id) at rn <= _SEMDEDUP_NPROBE; sem_pairs = the
    thresholded semantic-dup pairs (vec_a, vec_b, dot_q, cos2_ppm)."""
    k = _semantic_k(spark)
    return get_or_build(
        spark,
        ("semantic_state", k),
        sf_dir,
        lambda: _build_semantic_state(spark, sf_dir, k),
    )


def _build_semantic_state(spark, sf_dir, k):
    stage = scratch_dir(spark, "semantic_state")
    cents = train_centroids(spark, sf_dir, k=k)
    e = parallel_table(spark, sf_dir, "embeddings", key="vec_id").select(
        "vec_id", F.expr(_Q_VEC_SQL_SPARK).alias("qv")
    )
    dists = e.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "qv",
        "cell_id",
        F.expr(
            "aggregate(sequence(1, 64), CAST(0 AS BIGINT), (acc, i) -> "
            "acc + (element_at(qv, i) - element_at(cv, i)) * "
            "(element_at(qv, i) - element_at(cv, i)))"
        ).alias("dist"),
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "cell_id")
    ranked = dists.withColumn("rn", F.row_number().over(w))
    # Parquet barriers, not localCheckpoint: primary/probes/sem_pairs each
    # feed 2+ downstream queries and both sides of the candidate join — on
    # a 1000-executor run a lost executor re-reads the file instead of
    # invalidating the whole stored family state (localCheckpoint blocks
    # are unrecoverable once their executor dies).
    primary = parquet_barrier(
        spark,
        ranked.where(F.col("rn") == 1)
        .withColumn(
            "nrm2",
            F.expr(
                "aggregate(qv, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"
            ),
        )
        .select("vec_id", "cell_id", "qv", "dist", "nrm2"),
        stage,
        "primary",
    )
    probes = parquet_barrier(
        spark,
        ranked.where(F.col("rn") <= _SEMDEDUP_NPROBE).select(
            "vec_id", "cell_id"
        ),
        stage,
        "probes",
    )
    a = probes.select(F.col("vec_id").alias("vec_a"), "cell_id")
    b = probes.select(F.col("vec_id").alias("vec_b"), "cell_id")
    cand = (
        a.join(b, "cell_id")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    vecs = primary.select("vec_id", "qv", "nrm2")
    va = vecs.select(
        F.col("vec_id").alias("vec_a"),
        F.col("qv").alias("qa"),
        F.col("nrm2").alias("na2"),
    )
    vb = vecs.select(
        F.col("vec_id").alias("vec_b"),
        F.col("qv").alias("qb"),
        F.col("nrm2").alias("nb2"),
    )
    scored = cand.join(va, "vec_a").join(vb, "vec_b").withColumn(
        "dq",
        F.expr(
            "aggregate(sequence(1, 64), CAST(0 AS BIGINT), (acc, i) -> "
            "acc + element_at(qa, i) * element_at(qb, i))"
        ),
    )
    # dq^2 must be computed WIDE: a contract-conformant but hostile
    # magnitude (the adversarial [1e3]*64 vector -> dq ~ 2.6e11) overflows
    # BIGINT on the square; DECIMAL(38,0) here, HUGEINT in the oracle.
    dqd = F.col("dq").cast("decimal(38,0)")
    na2d = F.col("na2").cast("decimal(38,0)")
    sem_pairs = parquet_barrier(
        spark,
        scored.where(
            (F.col("dq") > 0)
            & (
                _SEMDEDUP_TAU_DEN_SQ * dqd * dqd
                >= _SEMDEDUP_TAU_NUM_SQ * na2d * F.col("nb2")
            )
        ).select(
            "vec_a",
            "vec_b",
            F.col("dq").cast("bigint").alias("dot_q"),
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * dq * dq) "
                "div (CAST(na2 AS DECIMAL(38,0)) * nb2) AS BIGINT)"
            ).alias("cos2_ppm"),
        ),
        stage,
        "sem_pairs",
    )
    return primary, probes, sem_pairs


def semantic_pairs(spark, sf_dir):
    """The thresholded semantic-dup pair frame (vec_a, vec_b, dot_q,
    cos2_ppm) — C125's result, memoized so C129/C130 ride it."""
    return _semantic_state(spark, sf_dir)[2]


def semantic_assigned(spark, sf_dir):
    """(vec_id, cell_id, qv, dist, nrm2) under the TRAINED centroids —
    the rn=1 (primary-cell) assignment. Cell populations, inertia and the
    C127 audit read from here."""
    return _semantic_state(spark, sf_dir)[0]


def semantic_probes(spark, sf_dir):
    """(vec_id, cell_id) multi-probe assignment (rn <= 3) — C125's
    blocking key."""
    return _semantic_state(spark, sf_dir)[1]


@query(
    "q_llm_dedup_semantic",
    priority=30,
    oracle=f"""
    WITH {_SEM_CTES}
    SELECT vec_a, vec_b, dot_q, cos2_ppm FROM sem
    """,
)
def q_llm_dedup_semantic(spark, sf_dir):
    """C125: label-free semantic dedup (SemDeDup, Abbas et al. 2023, with
    IVF-style multi-probe) — pairs of embeddings whose cosine exceeds tau
    and which share at least one of their 3 nearest trained k-means
    cells. Closes the dedup ladder's one supervised gap: C15 blocks on
    ``label``, supervision a real 100 TB corpus does not have; here the
    blocking structure is LEARNED (C77's 3-round Lloyd centroids, C33's
    integer E-step), so the operator runs on any unlabeled corpus, and
    multi-probe repairs the Voronoi-boundary recall loss single-cell
    SemDeDup accepts (measured on the fixture: C15-pair recall 0.27 at
    nprobe=1 -> 0.83 at nprobe=3; every pair above cos 0.40 recovered —
    gates in tests/test_llm.py). Exactness on the C24 grid: assignment,
    dot products, and norms are all BIGINT; the tau comparison is the
    exact rational identity cos>=0.3 <=> dot>0 AND 100*dot^2 >=
    9*|a|^2*|b|^2 (no sqrt, no float, no ulp); cos2_ppm is an integer
    floor-div (squared cosine in ppm) so the score column hashes
    identically on both engines.

    Plan/scale: centroids broadcast; candidate generation is the
    cell-blocked probe self-join (ids only on the exchange — the
    64-int vectors join back AFTER the distinct, the C3 shape), volume
    ~nprobe^2 * N^2 / k, i.e. ~9*N^1.5 at the paper's k ~ sqrt(N) —
    never N^2 — with AQE skew-split handling any fat cell. The
    sub-quadratic scaling entry lives in tests/test_scaling.py; the
    C127 audit prices the blocked volume BEFORE this join runs. Pair
    state is held per corpus in the family-state store: C129's survivor
    ledger and C130's yield curve ride the same barrier."""
    return semantic_pairs(spark, sf_dir)


@query(
    "q_llm_semantic_cell_audit",
    priority=30,
    oracle=f"""
    WITH q AS (
        SELECT vec_id, {_Q_VEC_SQL_DUCK} AS qv FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cell_id, qv AS cv FROM q WHERE vec_id < {_KMEANS_K}),
    {_TRAIN_CTES},
    ranked AS (
        SELECT vec_id, cell_id, dist,
               row_number() OVER (
                   PARTITION BY vec_id ORDER BY dist, cell_id) AS rn
        FROM (
            SELECT q.vec_id, c.cell_id, {_DIST_DUCK} AS dist
            FROM q CROSS JOIN c{_TRAIN_ROUNDS} c
        )
    ),
    g AS (
        SELECT cell_id,
               CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_vecs,
               CAST(sum(dist) FILTER (WHERE rn = 1) AS BIGINT) AS inertia,
               CAST(count(*) AS BIGINT) AS n_probe_vecs,
               CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS n_pairs
        FROM ranked WHERE rn <= {_SEMDEDUP_NPROBE}
        GROUP BY cell_id
    ),
    tot AS (
        SELECT CAST(sum(n_vecs) AS BIGINT) AS nt,
               CAST(sum(n_pairs) AS BIGINT) AS blocked_pairs
        FROM g
    )
    SELECT g.cell_id, g.n_vecs, g.n_probe_vecs, g.n_pairs,
           CAST(g.inertia // g.n_vecs AS BIGINT) AS mean_dist_q,
           CAST((1000000 * g.n_pairs)
                // (tot.nt * (tot.nt - 1) // 2) AS BIGINT) AS allpairs_ppm,
           tot.blocked_pairs
    FROM g CROSS JOIN tot
    """,
)
def q_llm_semantic_cell_audit(spark, sf_dir):
    """C127: SemDeDup blocking audit — per trained cell: primary
    population and tightness (mean assignment distance), the multi-probe
    population, the pair volume C125's join will generate in that cell
    (n_probe*(n_probe-1)/2 — an upper bound on distinct pairs, since a
    pair sharing two cells counts in both but dedups in C125), that
    volume as ppm of the unblocked N^2 all-pairs count, and the total
    blocked volume. The C72 discipline (price the expensive pass with a
    CHEAP exact pass before running it): a fat cell shows up here as a
    pair-volume spike — the signal to raise k or band within the cell —
    BEFORE the pairwise join runs. Shares C125's memoized trained
    assignment, so the audit costs two |cells|-row rollups on top of
    state that is already built.

    Plan/scale: groupBy(cell_id) with map-side combine to k rows; totals
    are a 1-row aggregate of those k, broadcast back."""
    primary = semantic_assigned(spark, sf_dir).select(
        "vec_id", "cell_id", "dist"
    )
    probes = semantic_probes(spark, sf_dir)
    gp = primary.groupBy("cell_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum("dist").cast("bigint").alias("inertia"),
    )
    gm = probes.groupBy("cell_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probe_vecs"),
        F.expr(
            "CAST(count(1) * (count(1) - 1) div 2 AS BIGINT)"
        ).alias("n_pairs"),
    )
    g = gp.join(gm, "cell_id")
    tot = g.agg(
        F.sum("n_vecs").cast("bigint").alias("nt"),
        F.sum("n_pairs").cast("bigint").alias("blocked_pairs"),
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "cell_id",
        "n_vecs",
        "n_probe_vecs",
        "n_pairs",
        F.expr("CAST(inertia div n_vecs AS BIGINT)").alias("mean_dist_q"),
        F.expr(
            "CAST((1000000 * n_pairs) div (nt * (nt - 1) div 2) AS BIGINT)"
        ).alias("allpairs_ppm"),
        "blocked_pairs",
    )


@query(
    "q_llm_semantic_survivors",
    priority=35,  # round-8 window full — driver row in r9
    oracle=f"""
    WITH {_SEM_CTES},
    dropped AS (SELECT DISTINCT vec_b AS vec_id FROM sem)
    SELECT pr.cell_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(count(d.vec_id) AS BIGINT) AS n_dropped,
           CAST(count(*) - count(d.vec_id) AS BIGINT) AS n_survivors,
           CAST((1000000 * count(d.vec_id)) // count(*) AS BIGINT)
               AS drop_ppm
    FROM prim pr LEFT JOIN dropped d ON pr.vec_id = d.vec_id
    GROUP BY pr.cell_id
    """,
)
def q_llm_semantic_survivors(spark, sf_dir):
    """C129: the SemDeDup KEEP decision — per primary cell, how many
    vectors survive pair-dominance pruning (drop every vector that is
    the GREATER member of any semantic-dup pair, keep the rest). This is
    the epsilon-ball keep-one rule the SemDeDup paper applies inside each
    cluster, made deterministic by the id order (canonical member = the
    smallest id, C1's min() convention); it is deliberately NOT C38's
    connected-component rule — per-pair dominance is the form an online
    pruner can apply without a transitive-closure pass, and for the
    tight epsilon-balls semantic dedup targets the two rules coincide
    (every member pairs with the canonical one). Rides C125's memoized
    pair state; the ledger itself is one |cells|-row rollup.

    Plan/scale: the dropped set is a DISTINCT over pair ids (hash-only
    exchange), the survivor count a broadcast-left-join + groupBy on the
    |N|-row primary assignment — linear everywhere."""
    prim = semantic_assigned(spark, sf_dir).select("vec_id", "cell_id")
    dropped = (
        semantic_pairs(spark, sf_dir)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        prim.join(F.broadcast(dropped), "vec_id", "left")
        .groupBy("cell_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.count("hit").cast("bigint").alias("n_dropped"),
            (F.count(F.lit(1)) - F.count("hit"))
            .cast("bigint")
            .alias("n_survivors"),
            F.expr(
                "CAST((1000000 * count(hit)) div count(1) AS BIGINT)"
            ).alias("drop_ppm"),
        )
    )


# Yield-curve thresholds: tau^2 in ppm. cos2_ppm >= floor(tau^2 * 1e6) is
# EXACT for these taus (each tau^2*1e6 is an integer, and floor(x) >= k
# <=> x >= k for integer k), so the curve needs no re-scoring pass.
_SEM_YIELD_BANDS = (
    (30, 90_000),
    (35, 122_500),
    (40, 160_000),
    (45, 202_500),
    (50, 250_000),
)


@query(
    "q_llm_semantic_yield",
    priority=35,  # round-8 window full — driver row in r9
    oracle=f"""
    WITH {_SEM_CTES},
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM q),
    bands(tau_pct, tau2_ppm) AS (VALUES
        {", ".join(f"({p}, {t})" for p, t in _SEM_YIELD_BANDS)}
    )
    SELECT b.tau_pct,
           CAST(count(s.vec_a) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT s.vec_b) AS BIGINT) AS n_dropped,
           CAST(n.n_vecs - count(DISTINCT s.vec_b) AS BIGINT) AS n_retained,
           CAST((1000000 * (n.n_vecs - count(DISTINCT s.vec_b)))
                // n.n_vecs AS BIGINT) AS retained_ppm
    FROM bands b
    CROSS JOIN n
    LEFT JOIN sem s ON s.cos2_ppm >= b.tau2_ppm
    GROUP BY b.tau_pct, n.n_vecs
    """,
)
def q_llm_semantic_yield(spark, sf_dir):
    """C130: semantic-dedup yield curve — corpus retention as a function
    of tau, read from ONE loosest-tau pass (C116's discipline applied to
    the semantic rung): because cos2_ppm is an exact integer floor and
    every band's tau^2*1e6 is an integer, re-thresholding the memoized
    pair frame is EXACT — no re-scoring, no float boundary. The curve is
    what a data engineer reads before choosing tau: how much corpus each
    tightening step costs (n_retained under the C129 dominance rule).

    Plan/scale: |bands| x |pairs| band join on an already-blocked pair
    frame, then a per-band distinct — bounded by the loosest pass's
    volume, which C127 priced in advance."""
    pairs = semantic_pairs(spark, sf_dir)
    n = semantic_assigned(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs")
    )
    bands = spark.createDataFrame(
        list(_SEM_YIELD_BANDS), "tau_pct int, tau2_ppm bigint"
    )
    joined = (
        F.broadcast(bands)
        .crossJoin(F.broadcast(n))
        .join(pairs, F.col("cos2_ppm") >= F.col("tau2_ppm"), "left")
    )
    return joined.groupBy("tau_pct", "n_vecs").agg(
        F.count("vec_a").cast("bigint").alias("n_pairs"),
        F.countDistinct("vec_b").cast("bigint").alias("n_dropped"),
        (F.col("n_vecs") - F.countDistinct("vec_b"))
        .cast("bigint")
        .alias("n_retained"),
        F.expr(
            "CAST((1000000 * (n_vecs - count(DISTINCT vec_b))) "
            "div n_vecs AS BIGINT)"
        ).alias("retained_ppm"),
    ).drop("n_vecs")


def semantic_cc_labels(spark, sf_dir):
    """Min-label CC over the C125 semantic pair graph, held per corpus in
    the family-state store and shared by C131 (cluster histogram) and
    C170 (tightness audit): one label loop (~8 barrier jobs) serves both,
    booked to whichever family member runs first."""
    from .pipeline import min_label_components

    def build():
        pairs = semantic_pairs(spark, sf_dir).select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
        )
        return min_label_components(
            spark, pairs, prefix="spark_semcc_rounds"
        )[0]

    return get_or_build(spark, "semantic_cc_labels", sf_dir, build)


@query(
    "q_llm_semantic_clusters",
    priority=35,  # round-8 window full — driver row in r9
    oracle=f"""
    WITH RECURSIVE {_SEM_CTES},
    edges AS (
        SELECT vec_a AS a, vec_b AS b FROM sem
        UNION ALL
        SELECT vec_b, vec_a FROM sem
    ),
    cc(vec_id, root) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.b, c.root FROM cc c JOIN edges e ON e.a = c.vec_id
        WHERE c.root < e.b
    ),
    labeled AS (
        SELECT vec_id, min(root) AS cluster_id FROM cc GROUP BY vec_id
    ),
    sizes AS (
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        FROM labeled GROUP BY cluster_id
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM q),
    ln AS (SELECT CAST(count(*) AS BIGINT) AS n_labeled FROM labeled)
    SELECT cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_vecs_in
    FROM sizes GROUP BY cluster_size
    UNION ALL
    SELECT 1, n.n_vecs - ln.n_labeled, n.n_vecs - ln.n_labeled
    FROM n CROSS JOIN ln
    """,
)
def q_llm_semantic_clusters(spark, sf_dir):
    """C131: semantic duplicate CLUSTERS — connected components over
    C125's pair graph (C21's checkpointed min-label propagation, via the
    extracted :func:`min_label_components`), rolled up to a cluster-size
    histogram with singletons accounted from the corpus total. The
    transitive view beside C129's per-pair dominance ledger: dominance
    tells you what an online pruner drops, components tell you how much
    of that is ONE semantic equivalence class (the SemDeDup paper's
    dedup unit) — comparing n_clusters here with C129's survivor count
    measures how far greedy pruning over-drops on chain-shaped graphs.

    Plan/scale: the propagation loop is per-round one edge join + one
    min-groupBy with labels materialized to parquet (flat lineage,
    executor-loss-safe — DESIGN-100TB.md §4); converges in O(component
    diameter) rounds. Edges are id pairs only; the histogram is a
    |clusters|-row rollup."""
    labels = semantic_cc_labels(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1)))
        .cast("bigint")
        .alias("n_vecs_in"),
    )
    n = semantic_assigned(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs")
    )
    ln = labels.agg(F.count(F.lit(1)).cast("bigint").alias("n_labeled"))
    singletons = (
        n.crossJoin(F.broadcast(ln))
        .select(
            F.lit(1).cast("bigint").alias("cluster_size"),
            (F.col("n_vecs") - F.col("n_labeled"))
            .cast("bigint")
            .alias("n_clusters"),
            (F.col("n_vecs") - F.col("n_labeled"))
            .cast("bigint")
            .alias("n_vecs_in"),
        )
    )
    return hist.unionByName(singletons)


# --- C132: top principal direction by integer power iteration -----------------

_PCA_SCALE = 1024  # |v|_inf after each renormalization (2^10)
_PCA_ROUNDS = 3

_PCA_GRAM_DUCK = """
    m AS (
        SELECT ii.i AS i, jj.i AS j,
               CAST(sum(qv[ii.i + 1] * qv[jj.i + 1]) AS BIGINT) AS m
        FROM q, range(0, 64) ii(i), range(0, 64) jj(i)
        GROUP BY ii.i, jj.i
    )
"""


def _pca_iter_duck_divfirst(r: int) -> str:
    """C169's renormalization: divide mx FIRST (v = w div (mx div SCALE))
    so the w*SCALE product never forms — the centered matrix is up to n
    times larger than C132's raw Gram, and the adversarial embedding
    fixture's 1e3-magnitude row pushes w*SCALE past 2^63 (measured
    ARITHMETIC_OVERFLOW under ANSI mode). Same 10-bit lattice scale,
    exact integers, D7 truncation."""
    return f"""
    w{r} AS (
        SELECT m.i, CAST(sum(m.m * v.v) AS BIGINT) AS w
        FROM m JOIN v{r - 1} v ON m.j = v.i GROUP BY m.i
    ),
    n{r} AS (SELECT max(abs(w)) AS mx FROM w{r}),
    v{r} AS (
        SELECT i, CAST(w // greatest(mx // {_PCA_SCALE}, 1) AS BIGINT) AS v
        FROM w{r} CROSS JOIN n{r}
    )"""


def _pca_iter_duck(r: int) -> str:
    return f"""
    w{r} AS (
        SELECT m.i, CAST(sum(m.m * v.v) AS BIGINT) AS w
        FROM m JOIN v{r - 1} v ON m.j = v.i GROUP BY m.i
    ),
    n{r} AS (SELECT max(abs(w)) AS mx FROM w{r}),
    v{r} AS (
        SELECT i, CAST((w * {_PCA_SCALE}) // mx AS BIGINT) AS v
        FROM w{r} CROSS JOIN n{r}
    )"""


@query(
    "q_llm_embed_pca_power",
    priority=35,  # round-8 window full — driver row in r9
    oracle=f"""
    WITH q AS (
        SELECT vec_id, {_Q_VEC_SQL_DUCK} AS qv FROM embeddings
    ),
    {_PCA_GRAM_DUCK},
    v0 AS (SELECT i, CAST({_PCA_SCALE} AS BIGINT) AS v FROM range(0, 64) t(i)),
    {",".join(_pca_iter_duck(r) for r in range(1, _PCA_ROUNDS + 1))}
    SELECT v{_PCA_ROUNDS}.i AS dim, v{_PCA_ROUNDS}.v AS eig_q,
           CAST(n{_PCA_ROUNDS}.mx // {_PCA_SCALE} AS BIGINT) AS lambda_est
    FROM v{_PCA_ROUNDS} CROSS JOIN n{_PCA_ROUNDS}
    """,
)
def q_llm_embed_pca_power(spark, sf_dir):
    """C132: top principal direction of the embedding cloud by POWER
    ITERATION on the exact integer Gram matrix — the missing rung of the
    vector-algebra family (C52 has per-dim moments, C70 drift, C33/C39
    k-means; this adds the spectral primitive behind whitening, drift
    DIRECTION, and low-rank compression). Distributed-PCA shape: the
    64x64 Gram M = X^T X accumulates exactly (each row expands its 4096
    integer products in the SCAN stage via a nested transform — indices
    from the 2-arg lambda, the legitimate use of the (elem, index) form —
    then one map-side-combined groupBy; this IS tree-aggregated Gram
    accumulation, the first step of every production PCA). Iteration is
    64-row arithmetic: w = M v (a broadcast join), then integer
    renormalization v' = (w * {_PCA_SCALE}) div max|w| — truncating div,
    pinned cross-engine by the D7 canary — unrolled {_PCA_ROUNDS} rounds
    from the all-ones seed, so every intermediate is a BIGINT and both
    engines walk the identical lattice (sign and all). lambda_est =
    max|w|/scale is the dominant-eigenvalue estimate the iteration
    yields for free.

    Plan/scale: the only data-scale job is the Gram rollup (shuffle
    carries (i, j, partial) — 4096 keys); everything after is 64-row
    frames. At 100 TB: identical — that is the point of Gram-space
    iteration (the N-row matrix never re-enters the loop)."""
    e = parallel_table(spark, sf_dir, "embeddings", key="vec_id").select(
        F.expr(_Q_VEC_SQL_SPARK).alias("qv")
    )
    prods = e.select(
        F.explode(
            F.expr(
                "flatten(transform(qv, (vi, i) -> "
                "transform(qv, (vj, j) -> "
                "struct(i AS i, j AS j, vi * vj AS p))))"
            )
        ).alias("s")
    ).select("s.i", "s.j", "s.p")
    m = prods.groupBy("i", "j").agg(F.sum("p").cast("bigint").alias("m"))
    # Round 14 (guide §2.4): materialize the 4096-row Gram ONCE. The loop
    # below references `m` every round, so without a lineage cut the
    # corpus-scale Gram subtree (scan + 4096-way explode + rollup) is
    # replanned per round — and each round also read `w` twice (once for
    # the mx aggregate, once for the renormalization crossJoin), doubling
    # every subtree per round: 3 rounds planned 74 Exchanges. The window
    # form evaluates mx over the SAME 64-row frame (all 64 dims in one
    # partition — a fixed-width frame at any corpus size), so each round
    # references its predecessor exactly once: linear plan, one Gram job.
    m = m.localCheckpoint(eager=True)
    v = spark.range(64).select(
        F.col("id").cast("int").alias("i"),
        F.lit(_PCA_SCALE).cast("bigint").alias("v"),
    )
    wm = None
    for _ in range(_PCA_ROUNDS):
        w = (
            m.join(
                F.broadcast(v.select(F.col("i").alias("j"), "v")), "j"
            )
            .groupBy("i")
            .agg(F.sum(F.col("m") * F.col("v")).cast("bigint").alias("w"))
        )
        wm = w.withColumn(
            "mx", F.max(F.abs(F.col("w"))).over(Window.partitionBy())
        )
        v = wm.select(
            "i",
            F.expr(f"CAST((w * {_PCA_SCALE}) div mx AS BIGINT)").alias("v"),
        )
    return wm.select(
        F.col("i").alias("dim"),
        F.expr(f"CAST((w * {_PCA_SCALE}) div mx AS BIGINT)").alias("eig_q"),
        F.expr(f"CAST(mx div {_PCA_SCALE} AS BIGINT)").alias("lambda_est"),
    )


@query(
    "q_llm_semantic_dedup_e2e",
    priority=35,  # round-8 window full — driver row in r9
    oracle=f"""
    WITH {_SEM_CTES},
    dropped AS (SELECT DISTINCT vec_b AS vec_id FROM sem),
    docs AS (
        SELECT d.doc_id, d.lang,
               CAST(len(string_split(coalesce(d.text, ''), ' '))
                    AS BIGINT) AS ntok,
               CASE WHEN dr.vec_id IS NULL THEN 1 ELSE 0 END AS kept
        FROM documents d
        JOIN embeddings e ON d.doc_id = e.vec_id
        LEFT JOIN dropped dr ON e.vec_id = dr.vec_id
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           CAST(sum(ntok) AS BIGINT) AS tokens_total,
           CAST(sum(kept * ntok) AS BIGINT) AS tokens_kept,
           CAST((1000000 * sum(kept * ntok)) // sum(ntok) AS BIGINT)
               AS kept_tok_ppm
    FROM docs GROUP BY lang
    """,
)
def q_llm_semantic_dedup_e2e(spark, sf_dir):
    """C134: the SemDeDup pass END-TO-END — from raw corpus + embeddings
    to the per-language kept-document and kept-token mass after
    semantic dedup (C125 pairs -> C129 dominance pruning -> document
    join via the fixture's 1:1 vec_id == doc_id key, the C45/C11
    convention). This is the number the training-mixture owner actually
    consumes: C133 prices NEAR-dup inflation from the SimHash ladder,
    this prices SEMANTIC redundancy from the embedding ladder — the two
    decks of the same budget audit (C109). Rides the memoized semantic
    pair state; the document join adds one broadcast of the dropped-id
    set and one lang rollup — tokens count in the scan stage, text
    never shuffles.

    Plan/scale: |dropped| ids broadcast against the corpus scan; at
    100 TB the dropped set is the parquet artifact the C129 stage
    materializes, and this query is the reporting join every downstream
    pipeline stage reuses."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.expr("CAST(size(split(coalesce(text, ''), ' ')) AS BIGINT)").alias(
            "ntok"
        ),
    )
    e = table(spark, sf_dir, "embeddings").select("vec_id")
    dropped = (
        semantic_pairs(spark, sf_dir)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    docs = (
        d.join(e, d.doc_id == e.vec_id)
        .join(F.broadcast(dropped), "vec_id", "left")
        .select(
            "lang",
            "ntok",
            F.when(F.col("hit").isNull(), 1).otherwise(0).alias("kept"),
        )
    )
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("kept").cast("bigint").alias("n_kept"),
        F.sum("ntok").cast("bigint").alias("tokens_total"),
        F.sum(F.col("kept") * F.col("ntok")).cast("bigint").alias("tokens_kept"),
        F.expr(
            "CAST((1000000 * sum(kept * ntok)) div sum(ntok) AS BIGINT)"
        ).alias("kept_tok_ppm"),
    )


# --- C169: embedding isotropy audit (all-but-the-top diagnostics) -------------


@query(
    "q_llm_embed_isotropy",
    priority=30,  # round-11 addition: first driver row in round 12
    oracle=f"""
    WITH q AS (
        SELECT vec_id, {_Q_VEC_SQL_DUCK} AS qv FROM embeddings
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q),
    s AS (
        SELECT ii.i AS i, CAST(sum(qv[ii.i + 1]) AS BIGINT) AS s
        FROM q, range(0, 64) ii(i) GROUP BY ii.i
    ),
    tt AS (
        SELECT CAST(sum(qv[ii.i + 1] * qv[ii.i + 1]) AS BIGINT) AS t
        FROM q, range(0, 64) ii(i)
    ),
    s2 AS (SELECT CAST(sum(s * s) AS BIGINT) AS s2 FROM s),
    g AS (
        SELECT ii.i AS i, jj.i AS j,
               CAST(sum(qv[ii.i + 1] * qv[jj.i + 1]) AS BIGINT) AS m
        FROM q, range(0, 64) ii(i), range(0, 64) jj(i)
        GROUP BY ii.i, jj.i
    ),
    m AS (
        SELECT g.i, g.j,
               CAST(nn.n * g.m - sa.s * sb.s AS BIGINT) AS m
        FROM g JOIN s sa ON sa.i = g.i JOIN s sb ON sb.i = g.j
        CROSS JOIN nn
    ),
    v0 AS (SELECT i, CAST({_PCA_SCALE} AS BIGINT) AS v FROM range(0, 64) t(i)),
    {",".join(_pca_iter_duck_divfirst(r) for r in range(1, _PCA_ROUNDS + 1))}
    SELECT nn.n, tt.t AS trace_q, s2.s2 AS mean_norm2_num,
           s2.s2 - tt.t AS pair_dot_num,
           CAST((nn.n * ((1000000 * (s2.s2 - tt.t)) // tt.t))
                // (nn.n - 1) AS BIGINT) AS exp_pair_cos_ppm,
           CAST(n{_PCA_ROUNDS}.mx // {_PCA_SCALE} AS BIGINT) AS lam1_c,
           nn.n * tt.t - s2.s2 AS trace_c,
           CAST((1000 * CAST(n{_PCA_ROUNDS}.mx // {_PCA_SCALE} AS BIGINT))
                // greatest((nn.n * tt.t - s2.s2) // 1000, 1) AS BIGINT)
               AS pc1_share_ppm
    FROM nn CROSS JOIN tt CROSS JOIN s2 CROSS JOIN n{_PCA_ROUNDS}
    """,
)
def q_llm_embed_isotropy(spark, sf_dir):
    """C169: embedding-cloud isotropy audit — the two numbers behind the
    "all-but-the-top" post-processing decision (Mu & Viswanath, ICLR
    2018: subtract the mean, strip the top PCs, similarity improves):
    (a) the MEAN-VECTOR energy — the expected dot product of two random
    distinct embeddings is (‖Σx‖² − Σ‖x‖²)/(n(n−1)), nonzero exactly
    when a common direction inflates every cosine (released as the
    exact ratio-to-mean-square-norm in ppm; ~0 for an isotropic
    cloud); (b) the PC1 variance share of the mean-CENTERED cloud —
    λ₁/trace of the centered Gram, the "top" whose removal the paper
    prescribes. Centering is EXACT in integers: n²·Cov ∝ n·G − s·sᵀ
    with G the C132 Gram and s the per-dim sums; C132's integer power
    iteration runs on the centered matrix with ONE change — the
    renormalization divides mx FIRST (v = w div (mx div {_PCA_SCALE}),
    D7 truncation, same 10-bit lattice) because the centered matrix is
    n× larger than C132's and the w·{_PCA_SCALE} product was MEASURED
    to overflow 2^63 on the adversarial fixture's 1e3-magnitude row;
    the ppm releases use the same divide-first split-scaling (the C170
    double-floor convention) for the same reason.

    Cross-engine float shape: NO float — grid quantization (C24), all
    moments and the iteration are BIGINT, releases are exact floor-div
    ppm (negative pair-dot truncation is the D7-pinned agreeing class).
    Overflow headroom: max |n·G − s·sᵀ| ≤ 2n²·max|q|²·... stays under
    2^63 for n·64·grid² < 2^31-ish — beyond that (≳1e9 rows) subtract
    the integer floor mean per row in the scan stage instead (one extra
    pass, same statistic by the shift-invariance the B201 property
    pins). Plan/scale: ONE corpus-scale job (the 4096-key Gram rollup +
    the 64-key dim sums in the same scan family); everything after is
    64-row frames and 1-row broadcasts — the C132 argument."""
    e = parallel_table(spark, sf_dir, "embeddings", key="vec_id").select(
        F.expr(_Q_VEC_SQL_SPARK).alias("qv")
    )
    prods = e.select(
        F.explode(
            F.expr(
                "flatten(transform(qv, (vi, i) -> "
                "transform(qv, (vj, j) -> "
                "struct(i AS i, j AS j, vi * vj AS p))))"
            )
        ).alias("s")
    ).select("s.i", "s.j", "s.p")
    g = prods.groupBy("i", "j").agg(F.sum("p").cast("bigint").alias("m"))
    dims = e.select(F.posexplode("qv").alias("i", "qval"))
    s = dims.groupBy("i").agg(F.sum("qval").cast("bigint").alias("s"))
    nn = e.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tt = dims.agg(
        F.sum(F.col("qval") * F.col("qval")).cast("bigint").alias("t")
    )
    s2 = s.agg(F.sum(F.col("s") * F.col("s")).cast("bigint").alias("s2"))
    m = (
        g.join(F.broadcast(s.select(F.col("i").alias("gi"), F.col("s").alias("sa"))), g.i == F.col("gi"))
        .join(F.broadcast(s.select(F.col("i").alias("gj"), F.col("s").alias("sb"))), g.j == F.col("gj"))
        .crossJoin(F.broadcast(nn))
        .select(
            "i",
            "j",
            (F.col("n") * F.col("m") - F.col("sa") * F.col("sb"))
            .cast("bigint")
            .alias("m"),
        )
    )
    # Round 14 (guide §2.4): same duplicated-subtree fix as C132 — one
    # eager checkpoint of the 4096-row centered matrix, and the per-round
    # renormalization reads mx from a global window over the 64-row w
    # frame instead of re-referencing w through an aggregate + crossJoin
    # (3 rounds planned 74 Exchanges before; the loop is linear now).
    m = m.localCheckpoint(eager=True)
    v = spark.range(64).select(
        F.col("id").cast("int").alias("i"),
        F.lit(_PCA_SCALE).cast("bigint").alias("v"),
    )
    wm = None
    for _ in range(_PCA_ROUNDS):
        w = (
            m.join(F.broadcast(v.select(F.col("i").alias("j"), "v")), "j")
            .groupBy("i")
            .agg(F.sum(F.col("m") * F.col("v")).cast("bigint").alias("w"))
        )
        wm = w.withColumn(
            "mx", F.max(F.abs(F.col("w"))).over(Window.partitionBy())
        )
        v = wm.select(
            "i",
            F.expr(
                f"CAST(w div greatest(mx div {_PCA_SCALE}, 1) AS BIGINT)"
            ).alias("v"),
        )
    mx = wm.agg(F.max(F.col("mx")).alias("mx"))
    return (
        nn.crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(s2))
        .crossJoin(F.broadcast(mx))
        .select(
            "n",
            F.col("t").alias("trace_q"),
            F.col("s2").alias("mean_norm2_num"),
            (F.col("s2") - F.col("t")).alias("pair_dot_num"),
            F.expr(
                "CAST((n * ((1000000 * (s2 - t)) div t))"
                " div (n - 1) AS BIGINT)"
            ).alias("exp_pair_cos_ppm"),
            F.expr(f"CAST(mx div {_PCA_SCALE} AS BIGINT)").alias("lam1_c"),
            (F.col("n") * F.col("t") - F.col("s2")).alias("trace_c"),
            F.expr(
                f"CAST((1000 * CAST(mx div {_PCA_SCALE} AS BIGINT))"
                " div greatest((n * t - s2) div 1000, 1) AS BIGINT)"
            ).alias("pc1_share_ppm"),
        )
    )


# --- C170: within-cluster dispersion audit ------------------------------------


@query(
    "q_llm_cluster_tightness",
    priority=30,  # round-11 addition: first driver row in round 12
    oracle=f"""
    WITH RECURSIVE {_SEM_CTES},
    edges AS (
        SELECT vec_a AS a, vec_b AS b FROM sem
        UNION ALL
        SELECT vec_b, vec_a FROM sem
    ),
    cc(vec_id, root) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.b, c.root FROM cc c JOIN edges e ON e.a = c.vec_id
        WHERE c.root < e.b
    ),
    labeled AS (
        SELECT vec_id, min(root) AS cluster_id FROM cc GROUP BY vec_id
    ),
    mem AS (
        SELECT l.cluster_id, q.vec_id, q.qv
        FROM labeled l JOIN q ON q.vec_id = l.vec_id
    ),
    dimsums AS (
        SELECT cluster_id, ii.i AS i,
               CAST(sum(qv[ii.i + 1]) AS BIGINT) AS s
        FROM mem, range(0, 64) ii(i) GROUP BY 1, 2
    ),
    cstat AS (
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
               CAST(sum(list_sum(list_transform(qv, x -> x * x)))
                    AS BIGINT) AS sumsq
        FROM mem GROUP BY 1
    ),
    cnorm AS (
        SELECT cluster_id, CAST(sum(s * s) AS BIGINT) AS norm2
        FROM dimsums GROUP BY 1
    ),
    gdim AS (
        SELECT ii.i AS i, CAST(sum(qv[ii.i + 1]) AS BIGINT) AS s
        FROM q, range(0, 64) ii(i) GROUP BY 1
    ),
    g AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM q) AS ng,
               (SELECT CAST(sum(list_sum(list_transform(qv, x -> x * x)))
                            AS BIGINT) FROM q) AS t,
               (SELECT CAST(sum(s * s) AS BIGINT) FROM gdim) AS s2
    )
    SELECT c.cluster_id, c.n_members,
           c.n_members * c.sumsq - n.norm2 AS disp_num,
           CAST((2000 * (c.n_members * c.sumsq - n.norm2))
                // (c.n_members * (c.n_members - 1)) AS BIGINT)
               AS mean_pair_q2_milli,
           CAST((2000 * (g.ng * g.t - g.s2))
                // (g.ng * (g.ng - 1)) AS BIGINT) AS corpus_pair_q2_milli,
           CAST((1000 * CAST((2000 * (c.n_members * c.sumsq - n.norm2))
                    // (c.n_members * (c.n_members - 1)) AS BIGINT))
                // nullif(CAST((2000 * (g.ng * g.t - g.s2))
                    // (g.ng * (g.ng - 1)) AS BIGINT) // 1000, 0) AS BIGINT)
               AS tightness_ppm
    FROM cstat c JOIN cnorm n USING (cluster_id) CROSS JOIN g
    """,
)
def q_llm_cluster_tightness(spark, sf_dir):
    """C170: within-cluster dispersion audit over the C131 semantic
    duplicate clusters — the eps-validation a SemDeDup deployment runs
    before trusting the threshold: per cluster, the mean pairwise
    SQUARED distance on the C24 grid via the exact zero-expansion
    identity Σ_pairs ‖x−y‖² = n·Σ‖x‖² − ‖Σx‖² (the B198 variance
    identity in vector form — no pair ever materializes), released
    beside the corpus-wide baseline and their ratio in ppm: a healthy
    threshold yields tightness ≪ 1e6 (members far closer than random
    pairs); a cluster whose ratio approaches 1e6 is a transitive-chain
    artifact (the C131-vs-C129 over-merge failure mode, localized to
    the cluster id to inspect).

    Cross-engine float shape: NO float — member counts, grid moments
    and both dispersion numerators are exact BIGINTs; the two
    mean-pair-distance columns are exact milli floor-divs and the ppm
    ratio divides the two PRE-FLOORED milli values with the divide-first
    split scaling 1000·c div (g div 1000) (double-floor convention; the
    1e6·milli product was MEASURED past 2^63 when an adversarial
    1e3-magnitude vector lands in a cluster) with a nullif guard (D11)
    — all-positive, D7-safe.
    Plan/scale: rides the memoized semantic pair state (C125) and the
    C131 min-label loop; the tightness math is one |members|x64
    posexplode rollup keyed by (cluster, dim) — ids and 8-byte sums on
    every exchange, clusters bounded by the subcritical pair graph;
    release is |multi-clusters| rows."""
    labels = semantic_cc_labels(spark, sf_dir)
    q = parallel_table(spark, sf_dir, "embeddings", key="vec_id").select(
        "vec_id", F.expr(_Q_VEC_SQL_SPARK).alias("qv")
    )
    sumsq_expr = "aggregate(qv, 0L, (acc, x) -> acc + x * x)"
    mem = labels.join(q, labels.doc_id == q.vec_id).select(
        "cluster_id", "vec_id", "qv"
    )
    dimsums = (
        mem.select("cluster_id", F.posexplode("qv").alias("i", "qval"))
        .groupBy("cluster_id", "i")
        .agg(F.sum("qval").cast("bigint").alias("s"))
    )
    cnorm = dimsums.groupBy("cluster_id").agg(
        F.sum(F.col("s") * F.col("s")).cast("bigint").alias("norm2")
    )
    cstat = mem.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum(F.expr(sumsq_expr)).cast("bigint").alias("sumsq"),
    )
    gdim = (
        q.select(F.posexplode("qv").alias("i", "qval"))
        .groupBy("i")
        .agg(F.sum("qval").cast("bigint").alias("s"))
    )
    g = (
        q.agg(
            F.count(F.lit(1)).cast("bigint").alias("ng"),
            F.sum(F.expr(sumsq_expr)).cast("bigint").alias("t"),
        )
        .crossJoin(
            F.broadcast(
                gdim.agg(
                    F.sum(F.col("s") * F.col("s")).cast("bigint").alias("s2")
                )
            )
        )
    )
    milli_c = (
        "CAST((2000 * (n_members * sumsq - norm2))"
        " div (n_members * (n_members - 1)) AS BIGINT)"
    )
    milli_g = "CAST((2000 * (ng * t - s2)) div (ng * (ng - 1)) AS BIGINT)"
    return (
        cstat.join(cnorm, "cluster_id")
        .crossJoin(F.broadcast(g))
        .select(
            "cluster_id",
            "n_members",
            (F.col("n_members") * F.col("sumsq") - F.col("norm2")).alias(
                "disp_num"
            ),
            F.expr(milli_c).alias("mean_pair_q2_milli"),
            F.expr(milli_g).alias("corpus_pair_q2_milli"),
            F.expr(
                f"CAST((1000 * {milli_c})"
                f" div nullif({milli_g} div 1000, 0) AS BIGINT)"
            ).alias("tightness_ppm"),
        )
    )


# --- C172: PQ quantization distortion audit -----------------------------------


@query(
    "q_llm_pq_distortion",
    priority=30,  # round-11 addition: first driver row in round 12
    oracle=f"""
    WITH q AS (
        SELECT vec_id, {_Q_VEC_SQL_DUCK} AS qv FROM embeddings
    ),
    seeds AS (SELECT vec_id AS seed_id, qv AS sv FROM q
              WHERE vec_id < {_KMEANS_K}),
    sub AS (
        SELECT q.vec_id, s.seed_id, t.i AS subspace,
               list_sum(list_transform(range(1, {_PQ_SUBDIM + 1}),
                   j -> (qv[t.i * {_PQ_SUBDIM} + j]
                         - sv[t.i * {_PQ_SUBDIM} + j])
                      * (qv[t.i * {_PQ_SUBDIM} + j]
                         - sv[t.i * {_PQ_SUBDIM} + j])))
                   AS dist
        FROM q CROSS JOIN seeds s CROSS JOIN range(0, {_PQ_SUBSPACES}) t(i)
    ),
    enc AS (
        SELECT vec_id, subspace, CAST(dist AS BIGINT) AS dist
        FROM (
            SELECT vec_id, subspace, dist,
                   row_number() OVER (
                       PARTITION BY vec_id, subspace ORDER BY dist, seed_id
                   ) AS rn
            FROM sub
        ) WHERE rn = 1
    ),
    sse AS (
        SELECT CAST(subspace AS BIGINT) AS subspace,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(dist) AS BIGINT) AS sse_q
        FROM enc GROUP BY subspace
    ),
    energy AS (
        SELECT CAST(t.i AS BIGINT) AS subspace,
               CAST(sum(list_sum(list_transform(range(1, {_PQ_SUBDIM + 1}),
                   j -> qv[t.i * {_PQ_SUBDIM} + j]
                      * qv[t.i * {_PQ_SUBDIM} + j]))) AS BIGINT) AS energy_q
        FROM q CROSS JOIN range(0, {_PQ_SUBSPACES}) t(i)
        GROUP BY t.i
    )
    SELECT s.subspace, s.n, s.sse_q, e.energy_q,
           CAST((1000 * s.sse_q) // s.n AS BIGINT) AS mean_dist_milli,
           CAST((1000 * s.sse_q) // nullif(e.energy_q // 1000, 0) AS BIGINT)
               AS distortion_ppm
    FROM sse s JOIN energy e USING (subspace)
    """,
)
def q_llm_pq_distortion(spark, sf_dir):
    """C172: product-quantization distortion audit — per subspace, the
    total squared reconstruction error of C40's nearest-codeword
    assignment against the subspace's raw energy (Jégou et al. 2011
    §III: per-subquantizer MSE is THE dial for allocating codebook bits
    — a subspace whose distortion_ppm dwarfs the others needs more
    centroids or a rotation, and the sum over subspaces bounds the ADC
    error C40a's ranking pays). Releases, for each of the
    {_PQ_SUBSPACES} subspaces: assignment count, exact SSE, exact
    energy, mean per-vector distortion (milli) and SSE/energy in ppm via the
    divide-first split scaling (1000·sse div (energy div 1000) — the
    1e6·sse product was MEASURED past 2^63 on the adversarial
    fixture's extreme-magnitude rows; C170's double-floor convention)
    — the quantization-SNR complement (distortion = 1 − SNR share).

    Cross-engine float shape: NO float — C40's per-assignment ``dist``
    is already an exact BIGINT on the C24 grid; SSE, energy and both
    releases are exact floor-divs (D11 nullif on the energy). Plan/
    scale: rides the C40 encode shape (|vectors|x{_PQ_SUBSPACES}
    assignment rows collapse in one map-side-combined rollup) plus one
    scan-stage energy rollup keyed by the {_PQ_SUBSPACES}-value
    subspace id; release is {_PQ_SUBSPACES} rows."""
    enc = q_llm_pq_encode(spark, sf_dir)
    sse = enc.groupBy(F.col("subspace").cast("bigint").alias("subspace")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dist").cast("bigint").alias("sse_q"),
    )
    q = parallel_table(spark, sf_dir, "embeddings", key="vec_id").select(
        F.expr(_Q_VEC_SQL_SPARK).alias("qv")
    )
    energy = (
        q.select(F.posexplode("qv").alias("d", "qval"))
        .groupBy(
            (F.col("d") / F.lit(_PQ_SUBDIM))
            .cast("bigint")
            .alias("subspace")
        )
        .agg(
            F.sum(F.col("qval") * F.col("qval"))
            .cast("bigint")
            .alias("energy_q")
        )
    )
    return sse.join(energy, "subspace").select(
        "subspace",
        "n",
        "sse_q",
        "energy_q",
        F.expr("CAST((1000 * sse_q) div n AS BIGINT)").alias(
            "mean_dist_milli"
        ),
        F.expr(
            "CAST((1000 * sse_q) div nullif(energy_q div 1000, 0)"
            " AS BIGINT)"
        ).alias("distortion_ppm"),
    )
