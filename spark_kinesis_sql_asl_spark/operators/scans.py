"""Scans (SURVEY.md §2 rows B1-B3).

The reference delegates all scanning to Spark once records are ingested;
these queries pin the batch scan surface: full scan, column-pruned scan
(pruning reaches the Parquet reader), predicate-pushdown scan (row-group
filtering). Verified via .explain: ReadSchema shows only selected columns,
PushedFilters shows the shipdate predicate.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from ..tables import table


@query(
    "q_scan_full",
    oracle="SELECT * FROM lineitem",
)
def q_scan_full(spark, sf_dir):
    return table(spark, sf_dir, "lineitem")


@query(
    "q_scan_pruned",
    oracle="SELECT l_orderkey, l_quantity FROM lineitem",
)
def q_scan_pruned(spark, sf_dir):
    # Column pruning: ReadSchema must contain exactly these two columns.
    return table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")


@query(
    "q_scan_pushdown",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1996-01-01'
    """,
)
def q_scan_pushdown(spark, sf_dir):
    # Predicate reaches the Parquet reader as PushedFilters → row-group skip;
    # at 100 TB with a date-partitioned layout this becomes partition pruning.
    return (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
    )


def _morton16(p: str, s: str, shift_fn: str) -> str:
    """16-bit Morton (Z-order) interleave of two 8-bit coordinates.

    `shift_fn` is 'shiftright' (Spark) or '>>' handled via format
    (DuckDB); emitted as a fixed 16-term integer expression — no UDF."""
    terms = []
    for i in range(8):
        if shift_fn == "shiftright":
            pa = f"(CAST(shiftright({p}, {i}) AS BIGINT) & 1)"
            sa = f"(CAST(shiftright({s}, {i}) AS BIGINT) & 1)"
        else:
            pa = f"(CAST(({p} >> {i}) AS BIGINT) & 1)"
            sa = f"(CAST(({s} >> {i}) AS BIGINT) & 1)"
        terms.append(f"{pa} * {2 ** (2 * i + 1)} + {sa} * {2 ** (2 * i)}")
    return "(" + " + ".join(terms) + ")"


_Z_P_LO, _Z_P_HI = 60, 75
_Z_S_LO, _Z_S_HI = 40, 55
_Z_FILE_ROWS = 256  # z-codes per file tile -> a 16x16 block in (p, s) space


@query(
    "q_zorder_layout",
    oracle=f"""
    WITH coords AS (
        SELECT CAST(l_partkey % 256 AS BIGINT) AS p,
               CAST(l_orderkey % 256 AS BIGINT) AS s
        FROM lineitem
        WHERE l_partkey IS NOT NULL AND l_orderkey IS NOT NULL
    ),
    hit AS (
        SELECT p, s,
               {_morton16("p", "s", ">>")} AS z
        FROM coords
        WHERE p BETWEEN {_Z_P_LO} AND {_Z_P_HI}
          AND s BETWEEN {_Z_S_LO} AND {_Z_S_HI}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT z // {_Z_FILE_ROWS}) AS BIGINT) AS z_files,
           CAST(count(DISTINCT (p * 256 + s) // {_Z_FILE_ROWS}) AS BIGINT)
               AS rowmajor_files,
           CAST(min(z) AS BIGINT) AS z_min,
           CAST(max(z) AS BIGINT) AS z_max
    FROM hit
    """,
)
def q_zorder_layout(spark, sf_dir):
    """B158: Z-order (Morton curve) layout audit — the data-clustering
    decision behind every 2-D-predicate scan at 100 TB: if lineitem is
    written clustered by the interleaved key z(p, s) instead of
    row-major (p, s), how many file-sized tiles does the box query
    p in [{_Z_P_LO},{_Z_P_HI}] x s in [{_Z_S_LO},{_Z_S_HI}] touch?
    The readout (z_files vs rowmajor_files, here 4 vs 16 on a box
    straddling four 16x16 Morton tiles) is the min/max-pruning win a
    lakehouse gets from OPTIMIZE ... ZORDER BY — computed exactly, per
    actual data, not asymptotically. z_min/z_max bound the single
    z-range a file-skipping reader would scan.

    Exactness: the interleave is a fixed 16-term integer expression
    (shiftright/&/multiply — no UDF, stays in codegen) over nonnegative
    8-bit coordinates; file ids are truncating integer division of
    nonnegative codes (D7-safe); every output is an exact BIGINT
    count/min/max.

    Plan/scale: one lineitem-scale scan with BOTH box predicates pushed
    to parquet (PushedFilters on p, s derive from l_partkey/l_suppkey
    range frames at write time in a production layout; the s coordinate
    rides l_orderkey so the box is non-empty at every test SF); the distinct
    counts run on the filtered subset only. The operator is the AUDIT
    half; the WRITE half is `repartitionByRange(z)` + sortWithinPartitions
    at ingest, which this query's z expression makes deterministic."""
    z_expr = _morton16("p", "s", "shiftright")
    coords = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_partkey").isNotNull() & F.col("l_orderkey").isNotNull())
        .select(
            (F.col("l_partkey") % 256).cast("bigint").alias("p"),
            (F.col("l_orderkey") % 256).cast("bigint").alias("s"),
        )
    )
    hit = coords.where(
        F.col("p").between(_Z_P_LO, _Z_P_HI)
        & F.col("s").between(_Z_S_LO, _Z_S_HI)
    ).select("p", "s", F.expr(z_expr).alias("z"))
    return hit.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct(
            F.expr(f"z div {_Z_FILE_ROWS}")
        ).cast("bigint").alias("z_files"),
        F.countDistinct(
            F.expr(f"(p * 256 + s) div {_Z_FILE_ROWS}")
        ).cast("bigint").alias("rowmajor_files"),
        F.min("z").cast("bigint").alias("z_min"),
        F.max("z").cast("bigint").alias("z_max"),
    )
