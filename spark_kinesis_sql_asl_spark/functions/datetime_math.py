"""Date/time, math, conditional, cast bundles (SURVEY.md §2 rows B49-B52).

Cross-engine alignment notes (probed against DuckDB 1.0 this session):
- DuckDB date_trunc('month') returns DATE, Spark returns TIMESTAMP → cast.
- DuckDB floor/ceil(double) return DOUBLE, Spark return BIGINT → cast oracle.
- DuckDB CAST(double AS INT) rounds, Spark truncates → oracle uses trunc().
- DuckDB sign() returns INT, Spark DOUBLE → cast oracle.
- DuckDB log() is log10; always spell ln()/log10() explicitly.
- Fixture prices carry exactly 2 decimals → never round() them per-row below
  2 decimals (exact .5 boundaries where engine rounding diverges).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from ..tables import table


@query(
    "q_fn_datetime",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate) AS y,
           month(o_orderdate) AS m,
           day(o_orderdate) AS d,
           CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS STRING)
               AS month_start,
           datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
           CAST(CAST(o_orderdate AS DATE) + 30 AS STRING) AS plus30,
           CAST(last_day(o_orderdate) AS STRING) AS month_end,
           CAST(date_trunc('hour', o_orderdate) AS TIMESTAMP) AS hour_start
    FROM orders
    """,
)
def q_fn_datetime(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    od = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(od).alias("y"),
        F.month(od).alias("m"),
        F.dayofmonth(od).alias("d"),
        # DATE-typed outputs are rendered as ISO strings in BOTH engines:
        # pandas turns DuckDB DATE into datetime64 but Spark DATE into
        # object-dtype date cells, a canonicalizer divergence surface.
        F.date_trunc("month", od).cast("date").cast("string").alias(
            "month_start"
        ),
        F.datediff(od.cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since"
        ),
        F.date_add(od.cast("date"), 30).cast("string").alias("plus30"),
        F.last_day(od).cast("string").alias("month_end"),
        F.date_trunc("hour", od).alias("hour_start"),
    )


@query(
    "q_fn_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice, 2) AS price_r2,
           CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_k_floor,
           CAST(ceil(l_extendedprice / 1000) AS BIGINT) AS price_k_ceil,
           abs(l_quantity - 25) AS qty_dev,
           round(pow(l_quantity, 2), 4) AS qty_sq,
           round(sqrt(l_extendedprice), 6) AS price_sqrt,
           round(ln(l_extendedprice), 6) AS price_ln,
           round(log10(l_extendedprice), 6) AS price_log10,
           (((l_orderkey - 30000) % 7) + 7) % 7 AS key_pmod,
           CAST(sign(l_quantity - 25) AS DOUBLE) AS qty_sign
    FROM lineitem
    """,
)
def q_fn_math(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice")
    qty = F.col("l_quantity")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(price, 2).alias("price_r2"),
        F.floor(price / 1000).alias("price_k_floor"),
        F.ceil(price / 1000).alias("price_k_ceil"),
        F.abs(qty - 25).alias("qty_dev"),
        F.round(F.pow(qty, 2), 4).alias("qty_sq"),
        F.round(F.sqrt(price), 6).alias("price_sqrt"),
        F.round(F.log(price), 6).alias("price_ln"),
        F.round(F.log10(price), 6).alias("price_log10"),
        F.pmod(F.col("l_orderkey") - 30000, F.lit(7)).alias("key_pmod"),
        F.signum(qty - 25).alias("qty_sign"),
    )


@query(
    "q_fn_case",
    oracle="""
    SELECT event_id,
           CASE WHEN value > 75 THEN 'high'
                WHEN value > 25 THEN 'mid'
                ELSE 'low' END AS bucket,
           least(value, 75.0) AS capped,
           greatest(value, 25.0) AS floored,
           coalesce(nullif(event_type, 'error'), 'ok') AS et_clean
    FROM events
    """,
)
def q_fn_case(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    v = F.col("value")
    return e.select(
        "event_id",
        F.when(v > 75, "high").when(v > 25, "mid").otherwise("low").alias("bucket"),
        F.least(v, F.lit(75.0)).alias("capped"),
        F.greatest(v, F.lit(25.0)).alias("floored"),
        F.coalesce(F.nullif(F.col("event_type"), F.lit("error")), F.lit("ok")).alias(
            "et_clean"
        ),
    )


@query(
    "q_fn_cast",
    oracle="""
    SELECT o_orderkey,
           CAST(trunc(o_totalprice) AS BIGINT) AS price_int,
           CAST(o_orderkey AS DOUBLE) AS key_dbl,
           CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_roundtrip,
           CAST('2024-01-15 12:30:00' AS TIMESTAMP) AS ts_lit,
           CAST(o_orderstatus = 'O' AS INTEGER) AS is_open_int
    FROM orders
    """,
)
def q_fn_cast(spark, sf_dir):
    # Spark's double→int cast truncates toward zero; DuckDB's rounds, hence
    # trunc() in the oracle. String→timestamp kept to ISO format only.
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("bigint").alias("price_int"),
        F.col("o_orderkey").cast("double").alias("key_dbl"),
        F.col("o_orderkey").cast("string").cast("bigint").alias("key_roundtrip"),
        F.lit("2024-01-15 12:30:00").cast("timestamp").alias("ts_lit"),
        (F.col("o_orderstatus") == "O").cast("int").alias("is_open_int"),
    )


@query(
    "q_fn_bitwise",
    oracle="""
    SELECT o_orderkey,
           o_orderkey & 255 AS and_lo,
           o_orderkey | 4096 AS or_hi,
           xor(o_orderkey, o_custkey) AS xor_keys,
           o_orderkey << 2 AS shl2,
           o_orderkey >> 3 AS shr3,
           bit_count(o_orderkey) AS popcount
    FROM orders
    """,
)
def q_fn_bitwise(spark, sf_dir):
    """Bitwise bundle: AND/OR/XOR, shifts, popcount — the primitives behind
    the SimHash/banding operators (C13), exercised standalone."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.expr("o_orderkey & 255").alias("and_lo"),
        F.expr("o_orderkey | 4096").alias("or_hi"),
        F.expr("o_orderkey ^ o_custkey").alias("xor_keys"),
        F.expr("shiftleft(o_orderkey, 2)").alias("shl2"),
        F.expr("shiftright(o_orderkey, 3)").alias("shr3"),
        F.expr("bit_count(o_orderkey)").alias("popcount"),
    )
