"""Geospatial blocking operators (SURVEY.md §2 rows B163–B166, B196).

The reference ships no spatial operators (it is a Kinesis connector whose
query surface is Spark SQL itself — SURVEY §0 [PK]); these rows add the
spatial primitives a location-bearing event corpus needs at 100 TB, built
on the grid-cell blocking discipline the dedup family already pins: never
all-pairs — block by cell, join only neighboring cells, and keep the
completeness argument (block size ≥ distance threshold) in the operator
itself rather than in reviewer goodwill.

Coordinates: the fixture tables carry no lat/lon, so each entity gets a
DETERMINISTIC PORTABLE position derived from ``md5('c'||key)`` via the
fixed 8-term hex parse both engines compute bit-identically
(llm/sketches.py's portable-hash toolkit): two 32-bit words, reduced mod
8_000_000, give integer micro-degree coordinates on an 8°×8° planar
grid. Everything downstream is exact BIGINT arithmetic — squared
Euclidean distance in micro-degrees (the equirectangular planar metric;
haversine's transcendentals would break cross-engine float parity and
change no blocking decision at city scale), truncating division for cell
ids on the non-negative shifted plane (D7-safe).

Scale posture per operator:

* cell density / hotspot — one hash aggregation keyed by cell id (cells
  ≪ points at any SF), then cell-level 3×3 neighbor joins on the tiny
  aggregate, never on points. Coordinates are extra columns on the ONE
  point scan (``_with_coords``), never a key-projection joined back.
* distance join — the small side (suppliers: a broadcastable dim) is
  replicated into its 9 neighboring cells and broadcast; the point-scale
  side joins on exact cell id equality. Block size C == radius R makes
  the 3×3 neighborhood provably complete: |Δ| ≤ R ⇒ cell index differs
  by ≤ 1. No shuffle of the big side beyond the final per-nation agg.
* kNN — the same cell blocking, two-phase (VERDICT r8 #2): phase 1
  scores each point only against the suppliers replicated into its own
  cell (the 3×3 neighborhood ∩ dist ≤ R == the exact R-ball, by the C==R
  argument); points whose ball already holds ≥ k candidates are exact.
  Phase 2 brute-force-scores ONLY the residue (sparse-region/boundary
  points, measured 0.7% at sf0.1) against the broadcast
  dim. Candidate volume is O(points·ball + residue·dims), never the
  O(points·dims) cross product that is quadratic in SF.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..llm.iterative import parquet_barrier, scratch_dir
from ..llm.pipeline import min_label_components
from ..llm.sketches import _hex_parse_duck, _hex_parse_spark
from ..registry import query
from ..tables import get_or_build, parallel_table, table

# 8°×8° planar region in integer micro-degrees.
_PLANE = 8_000_000
# Distance-join radius == blocking cell size (completeness: C == R).
_R = 500_000
_R2 = _R * _R
# Density/hotspot analysis cells: 1° → an 8×8 grid.
_DCELL = 1_000_000
_KNN_K = 3


def _coords_duck(alias_key: str, key: str, tbl: str, where: str) -> str:
    """DuckDB CTE body: portable micro-degree coordinates for one table."""
    expr = f"('{alias_key}' || CAST({key} AS VARCHAR))"
    return (
        f"SELECT {key}, "
        f"{_hex_parse_duck(expr, 1)} % {_PLANE} AS slat, "
        f"{_hex_parse_duck(expr, 9)} % {_PLANE} AS slon "
        f"FROM {tbl} WHERE {where}"
    )


def _coords_spark(df, alias_key: str, key: str):
    """Spark twin of :func:`_coords_duck` — same md5 parse, same reduction."""
    return _with_coords(df, alias_key, key).select(key, "slat", "slon")


def _with_coords(df, alias_key: str, key: str):
    """Add portable micro-degree coordinates as EXTRA COLUMNS on the scan.

    This is the big-side form (ADVICE r8): the md5 parse pipelines inside
    the point table's own scan stage, so carrying c_nationkey/c_acctbal
    alongside slat/slon costs no join and no second scan — the r8 shape
    (key-only projection joined back on the key) was a big×big self-join.
    """
    expr = f"concat('{alias_key}', CAST({key} AS STRING))"
    return df.where(F.col(key).isNotNull()).withColumns(
        {
            "slat": F.expr(f"{_hex_parse_spark(expr, 1)} % {_PLANE}"),
            "slon": F.expr(f"{_hex_parse_spark(expr, 9)} % {_PLANE}"),
        }
    )


def _supp_neighborhood(supp):
    """Replicate the (broadcastable) supplier dim into its 9 neighboring
    R-cells: the shared blocking frame of B164/B165. 9·|dim| rows."""
    offsets = F.expr("explode(array(-1, 0, 1))")
    return (
        supp.select(
            "s_suppkey",
            F.col("slat").alias("s_slat"),
            F.col("slon").alias("s_slon"),
            F.expr(f"slat div {_R}").alias("s_cell_lat"),
            F.expr(f"slon div {_R}").alias("s_cell_lon"),
        )
        .withColumn("dlat", offsets)
        .withColumn("dlon", offsets)
        .select(
            "s_suppkey",
            "s_slat",
            "s_slon",
            (F.col("s_cell_lat") + F.col("dlat")).alias("cell_lat"),
            (F.col("s_cell_lon") + F.col("dlon")).alias("cell_lon"),
        )
    )


@query(
    "q_geo_cell_density",
    priority=35,  # round-8 window full — driver row in r9
    oracle=f"""
    WITH cust AS (
        SELECT c.*, pos.slat, pos.slon
        FROM customer c
        JOIN ({_coords_duck("c", "c_custkey", "customer",
                            "c_custkey IS NOT NULL")}) pos
          USING (c_custkey)
    ),
    cells AS (
        SELECT slat // {_DCELL} AS cell_lat,
               slon // {_DCELL} AS cell_lon,
               CAST(count(*) AS BIGINT) AS n_points,
               CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
               CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                   AS bal_cents
        FROM cust
        GROUP BY 1, 2
    )
    SELECT CAST(cell_lat AS BIGINT) AS cell_lat,
           CAST(cell_lon AS BIGINT) AS cell_lon,
           n_points, n_nations, bal_cents
    FROM cells
    ORDER BY n_points DESC, cell_lat, cell_lon
    LIMIT 20
    """,
)
def q_geo_cell_density(spark, sf_dir):
    """B163: per-cell point density on the 1° grid — the partition-layout
    audit every spatial pipeline runs before choosing a blocking scheme
    (it is C72's bucket-size audit transplanted to space: a skewed cell
    histogram predicts the blocked join's straggler BEFORE the join
    runs). One hash aggregation keyed by (cell_lat, cell_lon) over ONE
    customer scan — coordinates are withColumn expressions on that scan
    (ADVICE r8: the previous key-projection join-back was a big×big
    self-join that only AQE broadcasting hid at driver SFs); at 100 TB
    the aggregate is |cells|-sized, the top-20 head rides TakeOrdered.
    Balance released as exact floor-cents BIGINT (the D2-pinned money
    pattern; floor of an IEEE-exact double product is engine-identical),
    NULL balances dropped by sum semantics on both engines."""
    cust = parallel_table(spark, sf_dir, "customer", key="c_custkey")
    enriched = _with_coords(cust, "c", "c_custkey").select(
        F.expr(f"slat div {_DCELL}").alias("cell_lat"),
        F.expr(f"slon div {_DCELL}").alias("cell_lon"),
        "c_nationkey",
        F.floor(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
    )
    return (
        enriched.groupBy("cell_lat", "cell_lon")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.countDistinct("c_nationkey").cast("bigint").alias("n_nations"),
            F.sum("cents").cast("bigint").alias("bal_cents"),
        )
        .orderBy(F.desc("n_points"), "cell_lat", "cell_lon")
        .limit(20)
    )


@query(
    "q_geo_dist_join",
    priority=35,  # round-8 window full — driver row in r9
    oracle=f"""
    WITH cust AS ({_coords_duck("c", "c_custkey", "customer",
                                "c_custkey IS NOT NULL")}),
    cnat AS (
        SELECT c_custkey, c_nationkey FROM customer
        WHERE c_custkey IS NOT NULL
    ),
    supp AS ({_coords_duck("s", "s_suppkey", "supplier",
                           "s_suppkey IS NOT NULL")}),
    pairs AS (
        SELECT n.c_nationkey,
               c.c_custkey,
               (c.slat - s.slat) * (c.slat - s.slat)
             + (c.slon - s.slon) * (c.slon - s.slon) AS dist2
        FROM cust c
        JOIN cnat n USING (c_custkey)
        CROSS JOIN supp s
    ),
    hit AS (SELECT * FROM pairs WHERE dist2 <= {_R2})
    SELECT CAST(c_nationkey AS INTEGER) AS c_nationkey,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_matched_customers,
           CAST(min(dist2) AS BIGINT) AS min_dist2,
           CAST(sum(dist2 // 1000000) AS BIGINT) AS dist2_mega_sum
    FROM hit
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_geo_dist_join(spark, sf_dir):
    """B164: radius distance join customers↔suppliers (R = 0.5°) by cell
    blocking — the never-all-pairs spatial join. The supplier side (a
    broadcastable dim) is exploded into its 3×3 neighboring cells
    (9 rows per supplier) and broadcast; customers join on EXACT cell-id
    equality, then the true predicate dist2 ≤ R² filters candidates.
    Completeness is arithmetic, not hope: cell size C == R, so any pair
    within R differs by ≤ 1 cell index per axis and meets in the
    customer's cell. No (c, s) pair can match twice — the customer's
    cell id is unique, and each supplier replica carries a distinct cell.
    The oracle is the brute-force cross join (driver SFs only); the
    engine side never materializes it. c_nationkey rides the SAME
    customer scan as the coordinates (ADVICE r8: the previous second
    scan + broadcast of a customer-scale key projection collects
    |customers| rows to the driver and OOMs at real SF — the big side
    must never be broadcast). Per-pair dist2 is exact BIGINT; the
    released sum is of per-pair ``dist2 // 1e6`` (truncating division
    of non-negative ints — D7-safe) to stay far below 2^53 at any SF
    (D15 wide-int rule)."""
    cust = _with_coords(
        parallel_table(spark, sf_dir, "customer", key="c_custkey"),
        "c",
        "c_custkey",
    )
    supp = _coords_spark(table(spark, sf_dir, "supplier"), "s", "s_suppkey")
    supp_cells = _supp_neighborhood(supp)
    cust_cells = cust.select(
        "c_custkey",
        "c_nationkey",
        "slat",
        "slon",
        F.expr(f"slat div {_R}").alias("cell_lat"),
        F.expr(f"slon div {_R}").alias("cell_lon"),
    )
    hits = (
        cust_cells.join(
            F.broadcast(supp_cells), ["cell_lat", "cell_lon"]
        )
        .withColumn(
            "dist2",
            (F.col("slat") - F.col("s_slat"))
            * (F.col("slat") - F.col("s_slat"))
            + (F.col("slon") - F.col("s_slon"))
            * (F.col("slon") - F.col("s_slon")),
        )
        .where(F.col("dist2") <= _R2)
    )
    return (
        hits.groupBy(F.col("c_nationkey").cast("int").alias("c_nationkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.countDistinct("c_custkey")
            .cast("bigint")
            .alias("n_matched_customers"),
            F.min("dist2").cast("bigint").alias("min_dist2"),
            F.sum(F.expr("dist2 div 1000000"))
            .cast("bigint")
            .alias("dist2_mega_sum"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "q_geo_knn",
    priority=35,  # round-8 window full — driver row in r9
    oracle=f"""
    WITH cust AS ({_coords_duck("c", "c_custkey", "customer",
                                "c_custkey IS NOT NULL")}),
    supp AS ({_coords_duck("s", "s_suppkey", "supplier",
                           "s_suppkey IS NOT NULL")}),
    pairs AS (
        SELECT c.c_custkey, s.s_suppkey,
               (c.slat - s.slat) * (c.slat - s.slat)
             + (c.slon - s.slon) * (c.slon - s.slon) AS dist2
        FROM cust c CROSS JOIN supp s
    ),
    ranked AS (
        SELECT c_custkey, s_suppkey, dist2,
               row_number() OVER (
                   PARTITION BY c_custkey ORDER BY dist2, s_suppkey
               ) AS knn_rank
        FROM pairs
    )
    SELECT c_custkey,
           CAST(knn_rank AS INTEGER) AS knn_rank,
           s_suppkey,
           CAST(dist2 AS BIGINT) AS dist2
    FROM ranked WHERE knn_rank <= {_KNN_K}
    ORDER BY c_custkey, knn_rank
    """,
)
def q_geo_knn(spark, sf_dir):
    """B165: exact k-nearest-suppliers per customer (k = 3) by CELL-BLOCKED
    two-phase search (VERDICT r8 #2 — the r8 broadcast-nested-loop scored
    |cust|·|supp| rows, O(n·m) quadratic in SF; this plan's candidate
    volume is O(points·ball + residue·dims)).

    Phase 1: suppliers replicate into their 3×3 R-cell neighborhoods
    (broadcast, 9·|supp| rows) and customers join on EXACT cell-id
    equality — a BroadcastHashJoin, not a nested loop. Filtering the
    matches to dist² ≤ R² yields each customer's exact R-ball: C == R
    makes the neighborhood provably complete (any supplier within R
    differs by ≤ 1 cell index per axis), and any supplier OUTSIDE the
    3×3 differs by ≥ 2 cells on some axis, hence is > R away. So when a
    ball already holds ≥ k candidates, its k nearest are globally exact.
    The rank window partitions by customer over ~|ball| (≈12 on the
    uniform fixture) rows — never the dim.

    Phase 2 (exactness fallback, VERDICT's expanding-ring role): the
    residue — customers whose R-ball holds < k suppliers (sparse regions
    and plane-boundary points; measured 0.7% of the sf0.1 uniform fixture) —
    brute-force-scores against the broadcast full dim. Residue size
    shrinks as density grows, so the O(residue·dims) term is the rare
    path by construction, and the common path never touches it.

    Total order (dist2, s_suppkey) makes row_number deterministic on
    both engines; dist2 is exact BIGINT. Oracle: unchanged brute force."""
    cust = _coords_spark(
        parallel_table(spark, sf_dir, "customer", key="c_custkey"),
        "c",
        "c_custkey",
    ).select(
        "c_custkey",
        "slat",
        "slon",
        F.expr(f"slat div {_R}").alias("cell_lat"),
        F.expr(f"slon div {_R}").alias("cell_lon"),
    )
    supp = _coords_spark(
        table(spark, sf_dir, "supplier"), "s", "s_suppkey"
    )
    supp_cells = _supp_neighborhood(supp)

    dist2 = (
        (F.col("slat") - F.col("s_slat")) * (F.col("slat") - F.col("s_slat"))
        + (F.col("slon") - F.col("s_slon"))
        * (F.col("slon") - F.col("s_slon"))
    ).alias("dist2")
    out_cols = [
        "c_custkey",
        F.col("knn_rank").cast("int").alias("knn_rank"),
        "s_suppkey",
        F.col("dist2").cast("bigint").alias("dist2"),
    ]
    w = Window.partitionBy("c_custkey").orderBy("dist2", "s_suppkey")
    wc = Window.partitionBy("c_custkey")

    # Phase 1: the exact R-ball per customer via the blocked equi-join.
    ball = (
        cust.join(F.broadcast(supp_cells), ["cell_lat", "cell_lon"])
        .select("c_custkey", "slat", "slon", "s_suppkey", dist2)
        .where(F.col("dist2") <= _R2)
    )
    ranked = ball.withColumn("knn_rank", F.row_number().over(w)).withColumn(
        "ball_n", F.count(F.lit(1)).over(wc)
    )
    resolved = ranked.where(
        (F.col("ball_n") >= _KNN_K) & (F.col("knn_rank") <= _KNN_K)
    ).select(*out_cols)

    # Phase 2: residue = customers whose ball holds < k candidates. The
    # anti-join key is c_custkey (ids only — text/coords never reshuffle);
    # the full-dim rescore is a broadcast join over the residue alone.
    full = ranked.where(F.col("ball_n") >= _KNN_K).select("c_custkey")
    residue = cust.join(full, "c_custkey", "left_anti")
    supp_flat = supp.select(
        "s_suppkey",
        F.col("slat").alias("s_slat"),
        F.col("slon").alias("s_slon"),
    )
    fallback = (
        residue.join(F.broadcast(supp_flat))
        .select("c_custkey", "s_suppkey", dist2)
        .withColumn("knn_rank", F.row_number().over(w))
        .where(F.col("knn_rank") <= _KNN_K)
        .select(*out_cols)
    )
    return resolved.unionByName(fallback).orderBy("c_custkey", "knn_rank")


@query(
    "q_geo_hotspot",
    priority=35,  # round-8 window full — driver row in r9
    oracle=f"""
    WITH cust AS ({_coords_duck("c", "c_custkey", "customer",
                                "c_custkey IS NOT NULL")}),
    cells AS (
        SELECT slat // {_DCELL} AS cell_lat,
               slon // {_DCELL} AS cell_lon,
               CAST(count(*) AS BIGINT) AS n
        FROM cust GROUP BY 1, 2
    ),
    total AS (SELECT sum(n) AS n_total FROM cells),
    neigh AS (
        SELECT a.cell_lat, a.cell_lon,
               max(a.n) AS n_local,
               CAST(sum(b.n) AS BIGINT) AS n_neighborhood
        FROM cells a
        JOIN cells b
          ON b.cell_lat BETWEEN a.cell_lat - 1 AND a.cell_lat + 1
         AND b.cell_lon BETWEEN a.cell_lon - 1 AND a.cell_lon + 1
        GROUP BY a.cell_lat, a.cell_lon
    )
    SELECT CAST(cell_lat AS BIGINT) AS cell_lat,
           CAST(cell_lon AS BIGINT) AS cell_lon,
           CAST(n_local AS BIGINT) AS n_local,
           n_neighborhood,
           round(CAST(n_neighborhood AS DOUBLE)
                 / CAST((SELECT n_total FROM total) AS DOUBLE), 6)
               AS neigh_share
    FROM neigh
    ORDER BY n_neighborhood DESC, cell_lat, cell_lon
    LIMIT 15
    """,
)
def q_geo_hotspot(spark, sf_dir):
    """B166: spatial hot-spot detection — a Getis-Ord-style local
    statistic computed as each cell's 3×3 neighborhood count against the
    global total. The point-scale work is ONE hash aggregation to cell
    counts; the neighbor stencil is a cell-level self-join (|cells|² at
    worst, |cells| ≪ points always — at 100 TB the stencil input is
    kilobytes) done by exploding each cell into its 9 (cell, neighbor)
    keys and joining on equality, which keeps the join equi- and
    broadcastable rather than the oracle's range-predicate form. The
    released share is a plain count ratio (≪ 2^53 — D15-safe), rounded
    to 6 places."""
    cust = _coords_spark(
        parallel_table(spark, sf_dir, "customer", key="c_custkey"),
        "c",
        "c_custkey",
    )
    cells = (
        cust.select(
            F.expr(f"slat div {_DCELL}").alias("cell_lat"),
            F.expr(f"slon div {_DCELL}").alias("cell_lon"),
        )
        .groupBy("cell_lat", "cell_lon")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    offsets = F.expr("explode(array(-1, 0, 1))")
    # Each source cell contributes its count to the 9 cells around it;
    # grouping the contributions by target cell IS the 3×3 stencil sum.
    contrib = (
        cells.withColumn("dlat", offsets)
        .withColumn("dlon", offsets)
        .select(
            (F.col("cell_lat") + F.col("dlat")).alias("t_lat"),
            (F.col("cell_lon") + F.col("dlon")).alias("t_lon"),
            "n",
        )
        .groupBy("t_lat", "t_lon")
        .agg(F.sum("n").cast("bigint").alias("n_neighborhood"))
    )
    total = cells.agg(F.sum("n").alias("n_total"))
    return (
        cells.join(
            contrib,
            (F.col("cell_lat") == F.col("t_lat"))
            & (F.col("cell_lon") == F.col("t_lon")),
        )
        .crossJoin(F.broadcast(total))
        .select(
            F.col("cell_lat").cast("bigint").alias("cell_lat"),
            F.col("cell_lon").cast("bigint").alias("cell_lon"),
            F.col("n").cast("bigint").alias("n_local"),
            "n_neighborhood",
            F.round(
                F.col("n_neighborhood").cast("double")
                / F.col("n_total").cast("double"),
                6,
            ).alias("neigh_share"),
        )
        .orderBy(F.desc("n_neighborhood"), "cell_lat", "cell_lon")
        .limit(15)
    )


# --- B178: geofence occupancy --------------------------------------------------

_N_FENCES = 12
_FENCE_W = 1_500_000  # 1.5° fence width/height in micro-degrees


@query(
    "q_geo_geofence",
    priority=30,  # round-10 addition: first driver row in round 11
    oracle=f"""
    WITH fences AS (
        SELECT CAST(k AS BIGINT) AS fence_id,
               {_hex_parse_duck("('f' || CAST(k AS VARCHAR))", 1)}
                   % {_PLANE - _FENCE_W} AS flat,
               {_hex_parse_duck("('f' || CAST(k AS VARCHAR))", 9)}
                   % {_PLANE - _FENCE_W} AS flon
        FROM range({_N_FENCES}) t(k)
    ),
    cust AS (
        SELECT c.c_nationkey, c.c_acctbal, pos.slat, pos.slon
        FROM customer c
        JOIN ({_coords_duck("c", "c_custkey", "customer",
                            "c_custkey IS NOT NULL")}) pos
          USING (c_custkey)
    ),
    hits AS (
        SELECT f.fence_id, f.flat, f.flon,
               CAST(count(*) AS BIGINT) AS n_points,
               CAST(count(DISTINCT c.c_nationkey) AS BIGINT) AS n_nations,
               CAST(sum(CAST(floor(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
                   AS bal_cents
        FROM fences f
        JOIN cust c
          ON c.slat >= f.flat AND c.slat < f.flat + {_FENCE_W}
         AND c.slon >= f.flon AND c.slon < f.flon + {_FENCE_W}
        GROUP BY f.fence_id, f.flat, f.flon
    )
    SELECT f.fence_id, f.flat, f.flon,
           coalesce(h.n_points, 0) AS n_points,
           coalesce(h.n_nations, 0) AS n_nations,
           coalesce(h.bal_cents, 0) AS bal_cents
    FROM fences f LEFT JOIN hits h USING (fence_id, flat, flon)
    """,
)
def q_geo_geofence(spark, sf_dir):
    """B178: geofence occupancy — point-in-rectangle membership counts
    for {_N_FENCES} arbitrary (possibly overlapping) rectangular fences,
    the alerting/zone-billing staple the fixed-grid B163 density rollup
    cannot express (fences are arbitrary boxes, not grid cells; a point
    may lie in several). Fence corners derive from the same portable
    md5 hex-parse as the point coordinates (keyed 'f'||k), so both
    engines construct bit-identical fences with no fixture dependence.

    Plan/scale: the fence table is {_N_FENCES} rows broadcast into a
    range-predicate nested-loop join — the point side streams through
    its own scan once, each point testing {_N_FENCES} boxes scan-side
    (at 100 TB with thousands of fences, block fences into the B164
    R-cell grid first; the operator keeps the broadcast form because
    |fences| is bounded-by-construction here). Occupancy is a
    |fences|-key hash aggregate with map-side combine; empty fences
    are restored by a left join against the (broadcast) fence table —
    the D10 empty-group shape. Exact integer micro-degrees and cents
    throughout."""
    fkey = "concat('f', CAST(id AS STRING))"
    fences = (
        spark.range(_N_FENCES)
        .select(
            F.col("id").cast("bigint").alias("fence_id"),
            F.expr(
                f"{_hex_parse_spark(fkey, 1)} % {_PLANE - _FENCE_W}"
            ).alias("flat"),
            F.expr(
                f"{_hex_parse_spark(fkey, 9)} % {_PLANE - _FENCE_W}"
            ).alias("flon"),
        )
    )
    cust = _with_coords(
        parallel_table(spark, sf_dir, "customer", key="c_custkey"),
        "c",
        "c_custkey",
    ).select("c_nationkey", "c_acctbal", "slat", "slon")
    hits = (
        cust.join(
            F.broadcast(fences),
            (F.col("slat") >= F.col("flat"))
            & (F.col("slat") < F.col("flat") + _FENCE_W)
            & (F.col("slon") >= F.col("flon"))
            & (F.col("slon") < F.col("flon") + _FENCE_W),
        )
        .groupBy("fence_id", "flat", "flon")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.countDistinct("c_nationkey").cast("bigint").alias("n_nations"),
            F.sum(F.floor(F.col("c_acctbal") * 100).cast("bigint"))
            .cast("bigint")
            .alias("bal_cents"),
        )
    )
    return fences.join(hits, ["fence_id", "flat", "flon"], "left").select(
        "fence_id",
        "flat",
        "flon",
        F.coalesce("n_points", F.lit(0)).cast("bigint").alias("n_points"),
        F.coalesce("n_nations", F.lit(0)).cast("bigint").alias("n_nations"),
        F.coalesce("bal_cents", F.lit(0)).cast("bigint").alias("bal_cents"),
    )


# --- B196: grid-blocked DBSCAN ------------------------------------------------

# minPts: ball (incl. the point itself) must hold >= 4 points to be core.
_DBSCAN_MINPTS = 4
# eps numerator: eps = _DBSCAN_EPS_NUM div isqrt(N) = 0.892 * PLANE / sqrt(N),
# which pins the mean eps-ball degree at lambda*pi*eps^2 ~ 2.5 REGARDLESS of
# scale factor (lambda = N/PLANE^2). 2.5 is deliberately below the Gilbert-
# graph percolation threshold (~4.51): components stay small at every SF, so
# cluster diameters (and the oracle's recursive-CTE working set) are bounded.
_DBSCAN_EPS_NUM = 7_136_000

_DBSCAN_EPS_DUCK = (
    f"SELECT CAST({_DBSCAN_EPS_NUM} // CAST(floor(sqrt(CAST(count(*) AS "
    f"DOUBLE))) AS BIGINT) AS BIGINT) AS eps "
    f"FROM customer WHERE c_custkey IS NOT NULL"
)


@query(
    "q_geo_dbscan",
    priority=30,  # round-11 addition: first driver row in round 12
    oracle=f"""
    WITH RECURSIVE pos AS (
        {_coords_duck("c", "c_custkey", "customer", "c_custkey IS NOT NULL")}
    ),
    eps AS ({_DBSCAN_EPS_DUCK}),
    g AS (
        SELECT c_custkey AS k, slat, slon,
               slat // eps AS cl, slon // eps AS cn
        FROM pos CROSS JOIN eps
    ),
    repl AS (
        SELECT g.k, g.slat, g.slon,
               g.cl + o1.dl AS cl, g.cn + o2.dn AS cn
        FROM g
        CROSS JOIN (VALUES (-1), (0), (1)) o1(dl)
        CROSS JOIN (VALUES (-1), (0), (1)) o2(dn)
    ),
    pairs AS (
        SELECT a.k AS a, b.k AS b
        FROM g a JOIN repl b ON a.cl = b.cl AND a.cn = b.cn AND a.k <> b.k
        CROSS JOIN eps
        WHERE (a.slat - b.slat) * (a.slat - b.slat)
            + (a.slon - b.slon) * (a.slon - b.slon) <= eps.eps * eps.eps
    ),
    nbr AS (SELECT a AS k, CAST(count(*) AS BIGINT) AS nn FROM pairs GROUP BY a),
    pt AS (
        SELECT g.k, CAST(COALESCE(nbr.nn, 0) + 1 AS BIGINT) AS n_ball
        FROM g LEFT JOIN nbr USING (k)
    ),
    core AS (SELECT k FROM pt WHERE n_ball >= {_DBSCAN_MINPTS}),
    ce AS (
        SELECT p.a, p.b FROM pairs p
        JOIN core ca ON ca.k = p.a
        JOIN core cb ON cb.k = p.b
    ),
    cc(k, root) AS (
        SELECT a, a FROM ce
        UNION
        SELECT e.b, c.root FROM cc c JOIN ce e ON e.a = c.k
        WHERE c.root < e.b
    ),
    lab AS (SELECT k, min(root) AS cid FROM cc GROUP BY k),
    core_lab AS (
        SELECT core.k, COALESCE(lab.cid, core.k) AS cluster_id
        FROM core LEFT JOIN lab ON lab.k = core.k
    ),
    border_lab AS (
        SELECT p.a AS k, min(cl.cluster_id) AS cluster_id
        FROM pairs p
        JOIN core_lab cl ON cl.k = p.b
        WHERE p.a NOT IN (SELECT k FROM core)
        GROUP BY p.a
    )
    SELECT pt.k AS c_custkey,
           CASE WHEN co.cluster_id IS NOT NULL THEN 'core'
                WHEN bo.cluster_id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           COALESCE(co.cluster_id, bo.cluster_id) AS cluster_id,
           pt.n_ball
    FROM pt
    LEFT JOIN core_lab co ON co.k = pt.k
    LEFT JOIN border_lab bo ON bo.k = pt.k
    """,
)
def q_geo_dbscan(spark, sf_dir):
    """B196: grid-blocked DBSCAN (Ester et al., KDD 1996) over the portable
    customer positions — every point labeled core (>= {_DBSCAN_MINPTS}
    points in its eps-ball, self included), border (non-core but inside a
    core's ball, adopting the smallest adjacent core cluster id), or
    noise; clusters are connected components of the core-core eps-graph
    with cluster_id = the component's min custkey.

    The density dial IS the scale argument: eps = 0.892*PLANE/isqrt(N)
    pins the mean ball degree at ~2.5 for ANY corpus size (lambda*pi*eps^2
    is SF-invariant), below the Gilbert-graph percolation threshold
    (~4.51, Penrose 2003) — so components stay small, min-label CC
    converges in a few rounds, and the DuckDB recursive-CTE twin's
    working set is bounded at every SF the suite runs. isqrt is
    floor(sqrt(double)) of an exact BIGINT count — IEEE sqrt is
    correctly rounded, so both engines land the same integer.

    Plan/scale: the eps-ball self-join is the dedup family's grid-cell
    blocking (cell size == eps makes the 3x3 neighborhood provably
    complete); only (key, coords, cell) ride the exchange, replicated x9
    on one side, and candidate volume is 9*N*occupancy where occupancy is
    pinned by the density dial. Core-core components ride
    :func:`min_label_components` (parquet-barrier min-label propagation,
    the C21 loop). N-scalars (count, eps) are 1-row broadcast frames —
    no driver collect."""
    pts = _coords_spark(
        parallel_table(spark, sf_dir, "customer", key="c_custkey"),
        "c",
        "c_custkey",
    )
    eps = pts.agg(F.count(F.lit(1)).alias("n")).select(
        F.expr(
            f"CAST({_DBSCAN_EPS_NUM} div CAST(floor(sqrt(CAST(n AS DOUBLE)))"
            " AS BIGINT) AS BIGINT)"
        ).alias("eps")
    )
    g = pts.crossJoin(F.broadcast(eps)).select(
        F.col("c_custkey").alias("k"),
        "slat",
        "slon",
        "eps",
        F.expr("slat div eps").alias("cl"),
        F.expr("slon div eps").alias("cn"),
    )
    offsets = F.expr("explode(array(-1, 0, 1))")
    repl = (
        g.select("k", "slat", "slon", "cl", "cn")
        .withColumn("dlat", offsets)
        .withColumn("dlon", offsets)
        .select(
            F.col("k").alias("b"),
            F.col("slat").alias("b_lat"),
            F.col("slon").alias("b_lon"),
            (F.col("cl") + F.col("dlat")).alias("cl"),
            (F.col("cn") + F.col("dlon")).alias("cn"),
        )
    )
    left = g.select(
        F.col("k").alias("a"),
        F.col("slat").alias("a_lat"),
        F.col("slon").alias("a_lon"),
        "eps",
        "cl",
        "cn",
    )
    d_lat = F.col("a_lat") - F.col("b_lat")
    d_lon = F.col("a_lon") - F.col("b_lon")
    eps_pairs = (
        left.join(repl, ["cl", "cn"])
        .where(
            (F.col("a") != F.col("b"))
            & (d_lat * d_lat + d_lon * d_lon <= F.col("eps") * F.col("eps"))
        )
        .select("a", "b")
    )

    def ball(pairs):
        """(k, n_ball) for every point, and the core points' keys."""
        pt = g.join(
            pairs.groupBy("a").agg(F.count(F.lit(1)).alias("nn")),
            g.k == F.col("a"),
            "left",
        ).select(
            "k",
            (F.coalesce(F.col("nn"), F.lit(0)) + 1)
            .cast("bigint")
            .alias("n_ball"),
        )
        return pt, pt.where(F.col("n_ball") >= _DBSCAN_MINPTS).select("k")

    # The verified eps-pair frame feeds three consumers (ball counts, the
    # core-core edge list, border adoption) — barrier it once so the cell
    # self-join runs once, downstream plans start at a stats-bearing
    # parquet scan, and the 1-row eps broadcast stops re-expanding per
    # consumer (the measured-barrier policy, DESIGN-100TB §16).
    # Pair frame + CC labels live in the family-state store: repeat calls
    # — plan sweeps, determinism re-runs — read the staged parquet instead
    # of re-running the eager self-join and label loop.
    def build():
        pairs = parquet_barrier(
            spark, eps_pairs, scratch_dir(spark, "spark_dbscan_pairs"), "pairs"
        )
        core = ball(pairs)[1]
        core_edges = (
            pairs.join(core.select(F.col("k").alias("a")), "a")
            .join(core.select(F.col("k").alias("b")), "b")
            .where(F.col("a") < F.col("b"))
            .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        )
        labels, _ = min_label_components(
            spark, core_edges, prefix="spark_dbscan_cc", shortcut=True
        )
        return pairs, labels

    pairs, labels = get_or_build(spark, "dbscan", sf_dir, build)
    pt, core = ball(pairs)
    core_lab = core.join(labels, core.k == labels.doc_id, "left").select(
        "k", F.coalesce("cluster_id", "k").alias("cluster_id")
    )
    border_lab = (
        pairs.join(
            core_lab.select(F.col("k").alias("b"), "cluster_id"), "b"
        )
        .join(core.select(F.col("k").alias("a")), "a", "left_anti")
        .groupBy("a")
        .agg(F.min("cluster_id").alias("cluster_id"))
        .select(F.col("a").alias("k"), "cluster_id")
    )
    return (
        pt.join(
            core_lab.select("k", F.col("cluster_id").alias("co_cid")), "k", "left"
        )
        .join(
            border_lab.select("k", F.col("cluster_id").alias("bo_cid")),
            "k",
            "left",
        )
        .select(
            F.col("k").alias("c_custkey"),
            F.when(F.col("co_cid").isNotNull(), F.lit("core"))
            .when(F.col("bo_cid").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce("co_cid", "bo_cid").alias("cluster_id"),
            "n_ball",
        )
    )
