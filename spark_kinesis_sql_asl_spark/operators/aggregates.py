"""Aggregation surface (SURVEY.md §2 rows B21-B33).

All float aggregates are rounded identically in query and oracle (sum order
differs between engines; SURVEY.md §4 rounding discipline). Every groupBy
here is a 2-phase hash aggregate (partial map-side combine → final after
shuffle) — the shape that scales: shuffled bytes are per-group partials, not
rows.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import parallel_table, table


@query(
    "q_agg_global",
    oracle="""
    SELECT count(*) AS n_rows,
           round(sum(l_extendedprice), 2) AS sum_price,
           round(avg(l_quantity), 4) AS avg_qty,
           min(l_shipdate) AS min_ship,
           max(l_shipdate) AS max_ship
    FROM lineitem
    """,
)
def q_agg_global(spark, sf_dir):
    return table(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )


@query(
    "q_agg_group",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_group(spark, sf_dir):
    """TPC-H Q1 shape — the canonical pricing-summary hash aggregate."""
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(
            F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))), 2
        ).alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "q_agg_distinct",
    oracle="""
    SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_distinct(spark, sf_dir):
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n_parts"))
    )


@query(
    "q_agg_multi_distinct",
    oracle="""
    SELECT l_linestatus,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(*) AS n_rows
    FROM lineitem GROUP BY l_linestatus
    """,
)
def q_agg_multi_distinct(spark, sf_dir):
    # Two distinct aggregates → Catalyst Expand (one shuffle, grouping-id
    # fan-out) rather than N self-joins; stays a single pass at scale.
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "q_agg_rollup",
    oracle="""
    SELECT r_name, n_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS sum_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q_agg_rollup(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
    )


@query(
    "q_agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_agg_cube(spark, sf_dir):
    return (
        table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@query(
    "q_agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_rf,
           GROUPING(l_linestatus) AS g_ls,
           count(*) AS n_rows,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q_agg_grouping_sets(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_gsets")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               GROUPING(l_returnflag) AS g_rf,
               GROUPING(l_linestatus) AS g_ls,
               count(*) AS n_rows,
               round(sum(l_extendedprice), 2) AS sum_price
        FROM lineitem_gsets
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "q_agg_having",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders, round(avg(o_totalprice), 4) AS avg_price
    FROM orders
    GROUP BY o_orderpriority
    HAVING count(*) > 100 AND avg(o_totalprice) > 1000
    """,
)
def q_agg_having(spark, sf_dir):
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.avg("o_totalprice").alias("_avg_raw"),
        )
        .where((F.col("n_orders") > 100) & (F.col("_avg_raw") > 1000))
        .select(
            "o_orderpriority",
            "n_orders",
            F.round(F.col("_avg_raw"), 4).alias("avg_price"),
        )
    )


@query("q_agg_approx_distinct")  # rows-only: HLL++ sketch differs from DuckDB's
def q_agg_approx_distinct(spark, sf_dir):
    """B29: approx_count_distinct (HyperLogLog++). No cross-engine oracle —
    sketches differ; tests/test_approx.py bounds the relative error vs exact
    instead. At 100 TB this replaces exact distinct's shuffle of every key
    with fixed-size mergeable sketches."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"))
    )


@query("q_agg_percentile_approx")  # rows-only: sketch values are engine-specific
def q_agg_percentile_approx(spark, sf_dir):
    """B29b: percentile_approx (Greenwald–Khanna quantile sketch) — p50/p95
    of extended price per return flag. No cross-engine oracle (GK sketches
    are engine- and accuracy-parameter-specific); tests/test_approx.py
    bounds the rank error vs the exact percentile instead. At 100 TB the
    sketch is the only viable form: exact percentile needs a full sort or
    all values collected per group, GK merges fixed-size summaries
    map-side like any partial aggregate."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", [0.5, 0.95], 1000).alias(
                "approx_p"
            )
        )
        .select(
            "l_returnflag",
            F.round(F.element_at("approx_p", 1), 2).alias("p50"),
            F.round(F.element_at("approx_p", 2), 2).alias("p95"),
        )
    )


@query(
    "q_agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_stats(spark, sf_dir):
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
            F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
                "corr_qty_price"
            ),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
                "covar_qty_price"
            ),
        )
    )


@query(
    "q_agg_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_percentile(spark, sf_dir):
    # Exact interpolated percentile (Spark `percentile` ≡ DuckDB
    # quantile_cont). At 100 TB prefer approx_percentile — documented
    # trade-off; the exact form is the oracle-able contract.
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_quantity", 0.5), 4).alias("median_qty"),
            F.round(F.percentile("l_extendedprice", 0.95), 4).alias("p95_price"),
        )
    )


@query(
    "q_agg_collect",
    oracle="""
    SELECT l_orderkey,
           array_to_string(list_sort(list(l_linenumber)), ',') AS linenumbers,
           count(*) AS n_lines
    FROM lineitem GROUP BY l_orderkey
    """,
)
def q_agg_collect(spark, sf_dir):
    # collect_list is unordered across partitions → sort_array before
    # rendering; string form avoids cross-engine array formatting drift.
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("l_linenumber")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("linenumbers"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q_agg_argmax",
    oracle="""
    SELECT o_orderpriority, best_key, round(best_price, 2) AS best_price
    FROM (
        SELECT o_orderpriority, o_orderkey AS best_key, o_totalprice AS best_price,
               row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey DESC
               ) AS rn
        FROM orders
    ) WHERE rn = 1
    """,
)
def q_agg_argmax(spark, sf_dir):
    """B33 min_by/max_by. The fixture HAS one duplicated o_totalprice within
    a priority group (verified), so ordering uses a (price, key) struct —
    deterministic max_by, mirrored by the oracle's DESC,DESC row_number."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.max_by(
                "o_orderkey", F.struct("o_totalprice", "o_orderkey")
            ).alias("best_key"),
            F.max(F.struct("o_totalprice", "o_orderkey")).alias("_best"),
        )
        .select(
            "o_orderpriority",
            "best_key",
            F.round(F.col("_best.o_totalprice"), 2).alias("best_price"),
        )
    )


@query(
    "q_agg_listagg",
    oracle="""
    WITH pc AS (
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag,
           string_agg(l_linestatus || ':' || CAST(cnt AS VARCHAR), ','
                      ORDER BY l_linestatus) AS status_counts,
           CAST(count(*) AS BIGINT) AS n_statuses
    FROM pc GROUP BY l_returnflag
    """,
)
def q_agg_listagg(spark, sf_dir):
    """B97: SQL-standard ordered string aggregation — ``LISTAGG ... WITHIN
    GROUP (ORDER BY ...)`` (Spark 4's listagg; DuckDB's ordered
    string_agg). The report-formatting aggregate every BI surface expects;
    distinct from B32 collect_list in that the ORDER is part of the
    aggregate contract, not a post-sort. Aggregated over the pre-rolled
    (flag, status) count frame so the concatenation input is bounded (a
    raw listagg over fact rows would build megabyte strings — the at-scale
    rule is: aggregate first, concatenate the aggregate)."""
    pc = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pc.createOrReplaceTempView("v_listagg_pc")
    return spark.sql(
        """
        SELECT l_returnflag,
               listagg(l_linestatus || ':' || CAST(cnt AS STRING), ',')
                   WITHIN GROUP (ORDER BY l_linestatus) AS status_counts,
               count(*) AS n_statuses
        FROM v_listagg_pc GROUP BY l_returnflag
        """
    )


@query(
    "q_agg_decimal",
    oracle="""
    WITH dec AS (
        SELECT l_returnflag, l_linestatus,
               CAST(CAST(pc // 100 AS VARCHAR) || '.' ||
                    lpad(CAST(pc % 100 AS VARCHAR), 2, '0')
                    AS DECIMAL(14,2)) AS price,
               CAST('0.' || lpad(CAST(dc AS VARCHAR), 2, '0')
                    AS DECIMAL(4,2)) AS disc
        FROM (
            SELECT l_returnflag, l_linestatus,
                   CAST(floor(l_extendedprice * 100) AS BIGINT) AS pc,
                   CAST(floor(l_discount * 100) AS BIGINT) AS dc
            FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
        )
    )
    SELECT l_returnflag, l_linestatus,
           CAST(CAST(sum(price) AS DECIMAL(18,2)) AS VARCHAR) AS sum_price_s,
           CAST(CAST(sum(CAST(price * (1 - disc) AS DECIMAL(18,4)))
                AS DECIMAL(18,4)) AS VARCHAR) AS sum_disc_price_s,
           CAST(count(*) AS BIGINT) AS n
    FROM dec GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_decimal(spark, sf_dir):
    """B98: exact-money aggregation in DecimalType — the TPC-H Q1 shape
    (pricing summary by returnflag/linestatus) computed entirely in
    DECIMAL, the dtype a billing pipeline is obliged to use where double
    drift is unacceptable. Follows the D8 hardened decimal conventions
    (q_canary_decimal_sum): decimals constructed exactly from integer
    cents via string cast (double->decimal cast rounding diverges across
    engines at .5-ulp boundaries), every aggregate's scale pinned by
    explicit CAST (engines widen sum/avg precision differently), results
    crossing the driver boundary as strings (DuckDB .df() renders DECIMAL
    as float64, Spark as decimal.Decimal — different canon dtypes). The
    disc_price multiply is scale 2+2=4, exact on both engines before the
    pinned cast. Plan shape: scan-stage projection + one partial-agg
    shuffle on the 6-group key — decimal arithmetic stays inside
    whole-stage codegen (Spark Decimal ops are JVM-native, no Python)."""
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("date")
    )
    dec = li.select(
        "l_returnflag",
        "l_linestatus",
        F.expr(
            "CAST(concat(CAST(CAST(floor(l_extendedprice * 100) AS BIGINT) "
            "div 100 AS STRING), '.', "
            "lpad(CAST(CAST(floor(l_extendedprice * 100) AS BIGINT) % 100 "
            "AS STRING), 2, '0')) AS DECIMAL(14,2))"
        ).alias("price"),
        F.expr(
            "CAST(concat('0.', lpad(CAST(CAST(floor(l_discount * 100) "
            "AS BIGINT) AS STRING), 2, '0')) AS DECIMAL(4,2))"
        ).alias("disc"),
    )
    return dec.groupBy("l_returnflag", "l_linestatus").agg(
        F.expr("CAST(CAST(sum(price) AS DECIMAL(18,2)) AS STRING)").alias(
            "sum_price_s"
        ),
        F.expr(
            "CAST(CAST(sum(CAST(price * (1 - disc) AS DECIMAL(18,4))) "
            "AS DECIMAL(18,4)) AS STRING)"
        ).alias("sum_disc_price_s"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_agg_boolcond",
    oracle="""
    SELECT l_returnflag,
           CAST(count_if(l_quantity > 25) AS BIGINT) AS n_bulk,
           bool_and(l_quantity > 0) AS all_positive,
           bool_or(l_discount > 0.09) AS any_deep_discount,
           bool_or(l_tax > l_discount) AS any_tax_over_discount
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_boolcond(spark, sf_dir):
    """B100: conditional/boolean aggregate surface — ``count_if``,
    ``bool_and`` (SQL EVERY), ``bool_or`` (SQL ANY/SOME), the data-audit
    aggregates ("do ALL rows satisfy the invariant, how many violate
    it?"). All four fold map-side like any partial aggregate and carry
    1-bit/8-byte state, so the shuffle is |groups|-sized at any corpus
    scale — the assertion layer a 100 TB pipeline runs after every load
    (e.g. C60's quarantine counts are exactly a count_if). BOOLEAN columns
    cross the driver canon natively (both engines -> pandas bool;
    canon renders 'b:')."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("count_if(l_quantity > 25)").alias("n_bulk"),
        F.expr("bool_and(l_quantity > 0)").alias("all_positive"),
        F.expr("bool_or(l_discount > 0.09)").alias("any_deep_discount"),
        F.expr("bool_or(l_tax > l_discount)").alias(
            "any_tax_over_discount"
        ),
    )


@query(
    "q_agg_mode",
    oracle="""
    SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt FROM (
        SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
               row_number() OVER (
                   PARTITION BY o_orderstatus
                   ORDER BY count(*) DESC, o_orderpriority) AS rn
        FROM orders GROUP BY o_orderstatus, o_orderpriority
    ) WHERE rn = 1
    """,
)
def q_agg_mode(spark, sf_dir):
    """B109: deterministic per-group MODE — the most frequent
    o_orderpriority per o_orderstatus, ties broken lexicographically.
    Built as count-then-rank rather than the engines' native ``mode()``
    because both Spark and DuckDB document arbitrary tie-breaking there —
    the explicit (count desc, value asc) row_number is a total order, so
    the answer is identical on any engine and any partitioning. Plan: one
    (status, priority)-keyed rollup with map-side partial counts, then a
    row_number window over |priorities|-sized groups (5 rows per status)
    — nothing bigger than the distinct-combination frame ever moves,
    same shape at 100 TB."""
    o = table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("cnt").desc(), F.col("o_orderpriority")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            "cnt",
        )
    )


@query(
    "q_agg_weighted_median",
    oracle="""
    WITH d AS (
        SELECT lang, doc_id,
               len(string_split(coalesce(text, ''), ' ')) AS toks,
               CAST(n_chars AS BIGINT) AS w
        FROM documents
    ),
    c AS (
        SELECT lang, doc_id, toks, w,
               sum(w) OVER (
                   PARTITION BY lang ORDER BY toks, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cumw,
               sum(w) OVER (PARTITION BY lang) AS totw
        FROM d
    )
    SELECT lang,
           toks AS wmedian_toks,
           CAST(totw AS BIGINT) AS total_weight
    FROM c
    WHERE cumw * 2 >= totw
    QUALIFY row_number() OVER (
        PARTITION BY lang ORDER BY toks, doc_id) = 1
    """,
)
def q_agg_weighted_median(spark, sf_dir):
    """B116: WEIGHTED median — per language, the token count at which
    half the total char mass (n_chars-weighted) is reached: the "median
    document a BYTE lives in", which on skewed corpora sits far from the
    count-median (half the documents can be short while most bytes live
    in long ones — the packing/truncation planner needs the byte view).
    Neither engine has a weighted-median aggregate; the distributed form
    is a cumulative-weight window over the (toks, doc_id) total order,
    then the FIRST row where 2·cumw >= total — the lower weighted median,
    exact in BIGINTs with no interpolation to drift.

    Plan: one exchange on lang serves the cumulative window, the per-lang
    total, and the row_number pick (same partition key; WindowGroupLimit
    caps the rank scan). At 100 TB this is the textbook one-pass
    distributed weighted-quantile shape — no sort of the full corpus,
    only per-lang ordered scans."""
    d = table(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " ")).alias(
            "toks"
        ),
        F.col("n_chars").cast("bigint").alias("w"),
    )
    cum = (
        Window.partitionBy("lang")
        .orderBy("toks", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("lang")
    c = d.select(
        "lang",
        "doc_id",
        "toks",
        F.sum("w").over(cum).alias("cumw"),
        F.sum("w").over(tot).alias("totw"),
    )
    pick = Window.partitionBy("lang").orderBy("toks", "doc_id")
    return (
        c.where(F.col("cumw") * 2 >= F.col("totw"))
        .withColumn("_rn", F.row_number().over(pick))
        .where(F.col("_rn") == 1)
        .select(
            "lang",
            F.col("toks").alias("wmedian_toks"),
            F.col("totw").cast("bigint").alias("total_weight"),
        )
    )


@query(
    "q_agg_winsorized_mean",
    oracle="""
    WITH c AS (
        SELECT event_type,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    b AS (
        SELECT event_type,
               CAST(ceil(quantile_cont(cents, 0.05)) AS BIGINT) AS lo,
               CAST(floor(quantile_cont(cents, 0.95)) AS BIGINT) AS hi
        FROM c GROUP BY event_type
    )
    SELECT c.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(least(greatest(cents, lo), hi)) AS BIGINT)
               AS winsor_sum_cents,
           round(CAST(sum(least(greatest(cents, lo), hi)) AS DOUBLE)
                 / count(*), 6) AS winsor_mean_cents
    FROM c JOIN b ON c.event_type = b.event_type
    GROUP BY c.event_type
    """,
)
def q_agg_winsorized_mean(spark, sf_dir):
    """B121: winsorized mean — per event_type, the mean after clamping
    values into [p05, p95]: the robust central-tendency metric that
    survives the fat-tailed / bot-spiked value distributions raw means
    drown in (MAD outliers, B104, FLAGS the tail; winsorizing BOUNDS its
    influence on the summary statistic).

    Exactness: the clamp bounds are the B31 interpolated percentiles
    INTEGERIZED (ceil of p05, floor of p95 — any consistent rule works,
    this one only ever narrows) so every clamped value is BIGINT and the
    sum is exact — no float aggregation order anywhere; the single float
    op is the final Σ/n division, round(6). Plan: two passes over the
    (type, cents) pairs — one percentile rollup (|types| rows, broadcast
    back), one clamped sum — both riding the same event_type shuffle key.
    At 100 TB swap the exact percentile for approx_percentile (the B29b
    trade-off) and the shape is unchanged."""
    c = (
        table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            "event_type",
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    b = c.groupBy("event_type").agg(
        F.ceil(F.percentile("cents", 0.05)).cast("bigint").alias("lo"),
        F.floor(F.percentile("cents", 0.95)).cast("bigint").alias("hi"),
    )
    clamped = F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi"))
    return (
        c.join(F.broadcast(b), "event_type")
        .select("event_type", clamped.alias("w"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("w").cast("bigint").alias("winsor_sum_cents"),
            F.round(
                F.sum("w").cast("double") / F.count(F.lit(1)), 6
            ).alias("winsor_mean_cents"),
        )
    )


@query(
    "q_agg_skew_kurtosis",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
               CAST(sum(CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s2,
               CAST(sum(CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s3,
               CAST(sum(CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s4
        FROM lineitem GROUP BY l_returnflag
    ),
    m AS (
        SELECT l_returnflag, n,
               CAST(s1 AS DOUBLE) / n AS mu,
               CAST(s2 AS DOUBLE) / n
                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                 AS m2,
               CAST(s3 AS DOUBLE) / n
                 - 3.0 * (CAST(s1 AS DOUBLE) / n)
                       * (CAST(s2 AS DOUBLE) / n)
                 + 2.0 * (CAST(s1 AS DOUBLE) / n)
                       * (CAST(s1 AS DOUBLE) / n)
                       * (CAST(s1 AS DOUBLE) / n) AS m3,
               CAST(s4 AS DOUBLE) / n
                 - 4.0 * (CAST(s1 AS DOUBLE) / n)
                       * (CAST(s3 AS DOUBLE) / n)
                 + 6.0 * (CAST(s1 AS DOUBLE) / n)
                       * (CAST(s1 AS DOUBLE) / n)
                       * (CAST(s2 AS DOUBLE) / n)
                 - 3.0 * (CAST(s1 AS DOUBLE) / n)
                       * (CAST(s1 AS DOUBLE) / n)
                       * (CAST(s1 AS DOUBLE) / n)
                       * (CAST(s1 AS DOUBLE) / n) AS m4
        FROM s
    )
    SELECT l_returnflag, n,
           round(mu, 6) AS mean_qty,
           round(m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)), 6) AS skew_g1,
           round(m4 / (m2 * m2) - 3.0, 6) AS exkurt_g2
    FROM m
    """,
)
def q_agg_skew_kurtosis(spark, sf_dir):
    """B129: skewness + excess kurtosis — the 3rd/4th-moment shape
    summary B30's stddev/corr bundle stops short of (fat tails and
    asymmetry are what decide between mean- and median-based downstream
    rules — B104/B121 exist because these moments say so). NOT the
    built-ins: Spark's skewness/kurtosis are population g-statistics
    while DuckDB's are bias-corrected sample G-statistics — same names,
    DIFFERENT formulas, a guaranteed cross-engine hash failure. Instead:
    integer power sums Σq..Σq⁴ (exact BIGINTs — l_quantity is a small
    integer, Σq⁴ ≲ 4e12 at sf0.1) feed the population-moment identities
    in ONE FIXED float expression per output — deterministic IEEE on
    identical exact inputs, g1 = m3/m2^{3/2} (spelled sqrt·sqrt·sqrt so
    no pow() libm call), g2 = m4/m2² − 3, round(6).

    Plan: one groupBy with five integer partial aggregates — moment
    sketches merge exactly across partitions by construction, the same
    reason C39 keeps centroids integer. At 100 TB this IS how you
    compute higher moments: never the two-pass central-moment form."""
    q = F.col("l_quantity").cast("bigint")
    s = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(q).cast("bigint").alias("s1"),
            F.sum(q * q).cast("bigint").alias("s2"),
            F.sum(q * q * q).cast("bigint").alias("s3"),
            F.sum(q * q * q * q).cast("bigint").alias("s4"),
        )
    )
    n = F.col("n").cast("double")
    mu = F.col("s1").cast("double") / n
    m2 = F.col("s2").cast("double") / n - mu * mu
    m3 = (
        F.col("s3").cast("double") / n
        - 3.0 * mu * (F.col("s2").cast("double") / n)
        + 2.0 * mu * mu * mu
    )
    m4 = (
        F.col("s4").cast("double") / n
        - 4.0 * mu * (F.col("s3").cast("double") / n)
        + 6.0 * mu * mu * (F.col("s2").cast("double") / n)
        - 3.0 * mu * mu * mu * mu
    )
    return s.select(
        "l_returnflag",
        "n",
        F.round(mu, 6).alias("mean_qty"),
        F.round(m3 / (F.sqrt(m2) * F.sqrt(m2) * F.sqrt(m2)), 6).alias(
            "skew_g1"
        ),
        F.round(m4 / (m2 * m2) - 3.0, 6).alias("exkurt_g2"),
    )


# --- B133: Herfindahl-Hirschman concentration index --------------------------


@query(
    "q_agg_hhi",
    oracle="""
    WITH rev AS (
        SELECT r.r_name, s.s_suppkey,
               CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE l.l_extendedprice IS NOT NULL
        GROUP BY r.r_name, s.s_suppkey
    ),
    tot AS (
        SELECT r_name, CAST(sum(cents) AS BIGINT) AS total_cents
        FROM rev GROUP BY r_name
    ),
    sh AS (
        SELECT rev.r_name,
               (10000 * rev.cents) // tot.total_cents AS bps
        FROM rev JOIN tot ON rev.r_name IS NOT DISTINCT FROM tot.r_name
    )
    SELECT r_name,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(max(bps) AS BIGINT) AS top_share_bps,
           CAST(sum(bps * bps) AS BIGINT) AS hhi
    FROM sh GROUP BY r_name
    """,
)
def q_agg_hhi(spark, sf_dir):
    """B133: Herfindahl-Hirschman INDEX of supplier revenue concentration
    per region — the antitrust/market-structure statistic (sum of squared
    market shares; 10000-scale convention: >2500 = highly concentrated)
    that complements the B118 Gini (inequality of a distribution) with the
    concentration-of-power readout procurement and risk teams act on.
    Shares are exact basis points via integer floor division of floor-cent
    revenues (the D2 canary rule), so hhi = sum(bps^2) is a pure BIGINT —
    no float share can drift an engine; max(bps) doubles as the top-1
    dominance readout.

    Plan/scale: ONE lineitem-scale shuffle (the (region, supplier)
    rollup with map-side partial sums); supplier/nation/region dims all
    broadcast; the totals join and both downstream rollups run on the
    |suppliers|-row frame. NULL-safe region join so an unmapped region
    group survives adversarial fixtures."""
    li = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_extendedprice").isNotNull())
        .select(
            "l_suppkey",
            F.floor(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("cents"),
        )
    )
    s = F.broadcast(
        table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    )
    n = F.broadcast(
        table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    )
    r = F.broadcast(
        table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    )
    rev = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "s_suppkey")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    tot = rev.groupBy("r_name").agg(
        F.sum("cents").cast("bigint").alias("total_cents")
    ).withColumnRenamed("r_name", "t_r_name")
    sh = rev.join(
        F.broadcast(tot),
        F.col("r_name").eqNullSafe(F.col("t_r_name")),
    ).select(
        "r_name",
        F.expr("(10000 * cents) div total_cents").alias("bps"),
    )
    return sh.groupBy("r_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.max("bps").cast("bigint").alias("top_share_bps"),
        F.sum(F.col("bps") * F.col("bps")).cast("bigint").alias("hhi"),
    )


# --- B139: bivariate statistics (corr / regression) --------------------------


@query(
    "q_agg_bivariate",
    oracle="""
    WITH t AS (
        SELECT l_returnflag,
               CAST(round(l_quantity) AS BIGINT) AS q,
               CAST(floor(l_extendedprice * 100) AS BIGINT) AS p
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ),
    m AS (
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(q AS HUGEINT)) AS HUGEINT) AS sq,
               CAST(sum(CAST(p AS HUGEINT)) AS HUGEINT) AS sp,
               CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS sqq,
               CAST(sum(CAST(p AS HUGEINT) * p) AS HUGEINT) AS spp,
               CAST(sum(CAST(q AS HUGEINT) * p) AS HUGEINT) AS sqp
        FROM t GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round((CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE)
                  - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
                         - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
                           - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))),
                 6) AS corr_qp,
           round((CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE)
                  - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
                    - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)),
                 6) AS slope_cents_per_unit,
           round((CAST(sp AS DOUBLE)
                  - CAST(sq AS DOUBLE)
                    * ((CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE)
                        - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
                          - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))))
                 / CAST(n AS DOUBLE), 6) AS intercept_cents
    FROM m
    """,
)
def q_agg_bivariate(spark, sf_dir):
    """B139: bivariate statistics — Pearson correlation plus OLS slope and
    intercept of price-vs-quantity per returnflag, from EXACT integer
    moment sums. The built-ins are the same trap B129 documents for
    skew/kurtosis: Spark's corr/regr_* and DuckDB's aggregate internally
    in streaming floats whose partial-aggregation order differs per
    engine and per partitioning, so the last digits are not reproducible.
    Here every moment (n, Σq, Σp, Σq², Σp², Σqp) accumulates in wide
    exact integers (DECIMAL(38,0) on Spark, HUGEINT on DuckDB —
    order-independent, partial-aggregation-safe), and the ONLY float ops
    are the final fixed expressions over those six scalars — both engines
    take nearest-double of identical integers, round(6).

    Plan/scale: one map-side-combined rollup over lineitem; output is
    |returnflag| rows. The moment-sums-then-one-expression shape is the
    pattern for ANY exact second-order statistic at 100 TB."""
    t = (
        table(spark, sf_dir, "lineitem")
        .where(
            F.col("l_quantity").isNotNull()
            & F.col("l_extendedprice").isNotNull()
        )
        .select(
            "l_returnflag",
            F.round("l_quantity").cast("bigint").alias("q"),
            F.floor(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("p"),
        )
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    m = t.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec("q")).alias("sq"),
        F.sum(dec("p")).alias("sp"),
        F.sum(dec("q") * F.col("q")).alias("sqq"),
        F.sum(dec("p") * F.col("p")).alias("spp"),
        F.sum(dec("q") * F.col("p")).alias("sqp"),
    )
    n, sq, sp = [F.col(c).cast("double") for c in ("n", "sq", "sp")]
    sqq, spp, sqp = [
        F.col(c).cast("double") for c in ("sqq", "spp", "sqp")
    ]
    cov_n = n * sqp - sq * sp
    var_q = n * sqq - sq * sq
    var_p = n * spp - sp * sp
    slope = cov_n / var_q
    return m.select(
        "l_returnflag",
        "n",
        F.round(cov_n / F.sqrt(var_q * var_p), 6).alias("corr_qp"),
        F.round(slope, 6).alias("slope_cents_per_unit"),
        F.round((sp - sq * slope) / n, 6).alias("intercept_cents"),
    )


# --- B142: Welch two-sample t statistic (exact moment sums) ------------------

_WELCH_SPLIT_DATE = "1996-07-01"  # same timeline midpoint as B141


@query(
    "q_agg_welch_t",
    oracle=f"""
    WITH t AS (
        SELECT n.n_name,
               CASE WHEN o.o_orderdate < TIMESTAMP '{_WELCH_SPLIT_DATE}'
                    THEN 1 ELSE 2 END AS period,
               CAST(round(100 * o.o_totalprice) AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate IS NOT NULL AND o.o_totalprice IS NOT NULL
    ),
    m AS (
        SELECT n_name, period,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS s1,
               CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS s2
        FROM t GROUP BY n_name, period
    ),
    wide AS (
        SELECT a.n_name,
               a.n AS n1, a.s1 AS a1, a.s2 AS a2,
               b.n AS n2, b.s1 AS b1, b.s2 AS b2
        FROM m a JOIN m b
          ON a.n_name IS NOT DISTINCT FROM b.n_name
         AND a.period = 1 AND b.period = 2
        WHERE a.n > 1 AND b.n > 1
    )
    SELECT n_name, n1, n2,
           round((CAST(b1 AS DOUBLE) / CAST(n2 AS DOUBLE)
                  - CAST(a1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                 / sqrt(
                     ((CAST(a2 AS DOUBLE)
                       - CAST(a1 AS DOUBLE) * CAST(a1 AS DOUBLE)
                         / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1))
                       / CAST(n1 AS DOUBLE)
                     + ((CAST(b2 AS DOUBLE)
                         - CAST(b1 AS DOUBLE) * CAST(b1 AS DOUBLE)
                           / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1))
                       / CAST(n2 AS DOUBLE)),
                 6) AS welch_t
    FROM wide
    """,
)
def q_agg_welch_t(spark, sf_dir):
    """B142: Welch two-sample t statistic — did mean order value per
    nation CHANGE between the two timeline halves, with unequal-variance
    (Welch 1947) pooling? The parametric mean-shift test beside B120's
    categorical chi-square and B131's sequential CUSUM: chi-square sees
    composition, CUSUM sees when, Welch quantifies how many standard
    errors the level moved. The B139 discipline: per-(nation, period)
    moments (n, Σx, Σx²) accumulate in wide exact integers (HUGEINT /
    DECIMAL(38,0) — order-independent, partial-aggregation-safe), and
    the t statistic is ONE fixed float expression over six exact scalars,
    round(6). Groups with n <= 1 drop (variance undefined) on both
    engines identically.

    Plan/scale: one orders-scale rollup (dims broadcast, map-side
    combine) to |nations|x2 rows; the period self-join and the t
    expression run on that tiny frame. NULL-safe nation join."""
    t = (
        table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate").isNotNull()
            & F.col("o_totalprice").isNotNull()
        )
        .select(
            "o_custkey",
            F.when(
                F.col("o_orderdate")
                < F.lit(_WELCH_SPLIT_DATE).cast("timestamp"),
                F.lit(1),
            )
            .otherwise(F.lit(2))
            .alias("period"),
            F.expr("CAST(round(100 * o_totalprice) AS BIGINT)").alias(
                "cents"
            ),
        )
        .join(
            F.broadcast(
                table(spark, sf_dir, "customer").select(
                    "c_custkey", "c_nationkey"
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                table(spark, sf_dir, "nation").select(
                    "n_nationkey", "n_name"
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
    )
    dec = F.col("cents").cast("decimal(38,0)")
    m = t.groupBy("n_name", "period").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec).alias("s1"),
        F.sum(dec * F.col("cents")).alias("s2"),
    )
    a = m.where((F.col("period") == 1) & (F.col("n") > 1)).select(
        F.col("n_name").alias("a_name"),
        F.col("n").alias("n1"),
        F.col("s1").alias("a1"),
        F.col("s2").alias("a2"),
    )
    b = m.where((F.col("period") == 2) & (F.col("n") > 1)).select(
        F.col("n_name").alias("b_name"),
        F.col("n").alias("n2"),
        F.col("s1").alias("b1"),
        F.col("s2").alias("b2"),
    )
    wide = a.join(b, F.col("a_name").eqNullSafe(F.col("b_name")))
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    a1, a2 = F.col("a1").cast("double"), F.col("a2").cast("double")
    b1, b2 = F.col("b1").cast("double"), F.col("b2").cast("double")
    var1 = (a2 - a1 * a1 / n1) / (n1 - 1)
    var2 = (b2 - b1 * b1 / n2) / (n2 - 1)
    return wide.select(
        F.col("a_name").alias("n_name"),
        "n1",
        "n2",
        F.round(
            (b1 / n2 - a1 / n1) / F.sqrt(var1 / n1 + var2 / n2), 6
        ).alias("welch_t"),
    )


@query(
    "q_agg_theil",
    oracle="""
    WITH t AS (
        SELECT o_orderpriority AS grp,
               CAST(round(100 * o_totalprice) AS BIGINT) AS cents,
               CAST(round(1000000 * ln(round(100 * o_totalprice))) AS BIGINT)
                   AS ln_q
        FROM orders
        WHERE o_totalprice IS NOT NULL AND round(100 * o_totalprice) >= 1
    ),
    g AS (
        SELECT grp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS s1,
               CAST(sum(CAST(cents AS HUGEINT) * ln_q) AS HUGEINT) AS sxlnx_q
        FROM t GROUP BY grp
    ),
    tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS nt,
               CAST(sum(s1) AS HUGEINT) AS st,
               CAST(sum(sxlnx_q) AS HUGEINT) AS sxlnx_t
        FROM g
    )
    SELECT g.grp, g.n, CAST(g.s1 AS BIGINT) AS sum_cents,
           CAST((1000000 * g.s1) // tot.st AS BIGINT) AS share_ppm,
           round(CAST(g.sxlnx_q AS DOUBLE) / 1000000.0 / CAST(g.s1 AS DOUBLE)
                 - ln(CAST(g.s1 AS DOUBLE) / CAST(g.n AS DOUBLE)), 6)
               AS theil_within,
           round(CAST(g.s1 AS DOUBLE) / CAST(tot.st AS DOUBLE)
                 * ln((CAST(g.s1 AS DOUBLE) / CAST(g.n AS DOUBLE))
                      / (CAST(tot.st AS DOUBLE) / CAST(tot.nt AS DOUBLE))), 6)
               AS between_term,
           round(CAST(tot.sxlnx_t AS DOUBLE) / 1000000.0
                     / CAST(tot.st AS DOUBLE)
                 - ln(CAST(tot.st AS DOUBLE) / CAST(tot.nt AS DOUBLE)), 6)
               AS theil_total
    FROM g CROSS JOIN tot
    """,
)
def q_agg_theil(spark, sf_dir):
    """B143: Theil-T inequality index with within/between decomposition —
    how concentrated is order revenue, and how much of that concentration
    is *explained by* order priority vs internal to each priority class?
    The inequality-accounting companion to B118's Gini: Gini ranks, Theil
    decomposes additively (T_total = T_between + sum share_g * T_g), which
    is what a mixture audit actually consumes.

    The B142 float discipline, adapted for the one genuinely
    transcendental term: ln(cents) is quantized PER ROW to integer
    micro-nats (round(1e6*ln(c)) — the nearest round boundary sits ~1e6
    ulps away from any double ln result, so both engines quantize
    identically), and every aggregate (n, sum cents, sum cents*ln_q) is
    then an exact wide-integer sum — order-independent under partial
    aggregation, no float ever enters a SUM. Each output statistic is ONE
    fixed float expression over those exact scalars, round(6), via the
    identity T_g = (sum c ln c)/S_g - ln(S_g/n_g) (unit-invariant:
    working in cents shifts both terms by ln(100), which cancels).

    Plan/scale: one orders-scale groupBy to |priorities| rows with
    map-side combine; the totals row is a 1-row aggregate of that tiny
    frame, cross-joined back broadcast-style. At 100 TB: a single
    shuffle of 5 rows' moments."""
    t = (
        table(spark, sf_dir, "orders")
        # guard on the CENTS, not the price: an adversarial 0.004 price is
        # > 0 but rounds to 0 cents, and ln(0) must never be evaluated
        .where(
            F.col("o_totalprice").isNotNull()
            & (F.expr("round(100 * o_totalprice)") >= 1)
        )
        .select(
            F.col("o_orderpriority").alias("grp"),
            F.expr("CAST(round(100 * o_totalprice) AS BIGINT)").alias("cents"),
            F.expr(
                "CAST(round(1000000 * ln(round(100 * o_totalprice))) AS BIGINT)"
            ).alias("ln_q"),
        )
    )
    dec = F.col("cents").cast("decimal(38,0)")
    g = t.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec).alias("s1"),
        F.sum(dec * F.col("ln_q")).alias("sxlnx_q"),
    )
    tot = g.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("s1").cast("decimal(38,0)").alias("st"),
        F.sum("sxlnx_q").cast("decimal(38,0)").alias("sxlnx_t"),
    )
    j = g.crossJoin(F.broadcast(tot))
    s1d = F.col("s1").cast("double")
    std = F.col("st").cast("double")
    nd = F.col("n").cast("double")
    ntd = F.col("nt").cast("double")
    return j.select(
        "grp",
        "n",
        F.col("s1").cast("bigint").alias("sum_cents"),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * s1) div st AS BIGINT)"
        ).alias("share_ppm"),
        F.round(
            F.col("sxlnx_q").cast("double") / 1000000.0 / s1d
            - F.log(s1d / nd),
            6,
        ).alias("theil_within"),
        F.round(s1d / std * F.log((s1d / nd) / (std / ntd)), 6).alias(
            "between_term"
        ),
        F.round(
            F.col("sxlnx_t").cast("double") / 1000000.0 / std
            - F.log(std / ntd),
            6,
        ).alias("theil_total"),
    )


_COV_VARS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _cov_oracle() -> str:
    sums = []
    for v in _COV_VARS:
        sums.append(
            f"CAST(sum(CAST(q_{v} AS HUGEINT)) AS HUGEINT) AS s_{v}"
        )
    for i, a in enumerate(_COV_VARS):
        for b in _COV_VARS[i:]:
            sums.append(
                f"CAST(sum(CAST(q_{a} AS HUGEINT) * q_{b}) AS HUGEINT)"
                f" AS p_{a}_{b}"
            )
    rows = []
    for i, a in enumerate(_COV_VARS):
        for b in _COV_VARS[i:]:
            rows.append(f"""
    SELECT '{a}' AS var_a, '{b}' AS var_b,
           CAST(n AS BIGINT) AS n,
           CAST((n * p_{a}_{b} - s_{a} * s_{b}) // nullif(n * (n - 1), 0)
                AS BIGINT) AS cov_cents2_floor,
           round(CAST(n * p_{a}_{b} - s_{a} * s_{b} AS DOUBLE)
                 / nullif(sqrt(CAST(n * p_{a}_{a} - s_{a} * s_{a} AS DOUBLE)
                               * CAST(n * p_{b}_{b} - s_{b} * s_{b}
                                      AS DOUBLE)),
                          0.0), 6) AS corr
    FROM mo""")
    quant = ", ".join(
        f"CAST(floor(100.0 * {v} + 0.5) AS BIGINT) AS q_{v}"
        for v in _COV_VARS
    )
    return f"""
    WITH s AS (
        SELECT {quant}
        FROM lineitem
        WHERE {" AND ".join(f"{v} IS NOT NULL" for v in _COV_VARS)}
    ),
    mo AS MATERIALIZED (
        SELECT CAST(count(*) AS HUGEINT) AS n, {", ".join(sums)}
        FROM s
    ){" UNION ALL ".join(rows)}
    """


@query("q_agg_cov_matrix", oracle=_cov_oracle())
def q_agg_cov_matrix(spark, sf_dir):
    """B162: full covariance/correlation matrix over the four lineitem
    measures (quantity, extendedprice, discount, tax) — the
    multivariate completion of B139's pairwise moments: 10 upper-
    triangle cells from ONE pass of exact integer moments, the matrix
    every downstream PCA/whitening/feature-selection step starts from
    (C132's Gram accumulation is the embedding-space sibling).

    Exactness: each measure cents-quantized once via floor(100x + 0.5)
    (B154's round-half-up-as-floor); all 4 sums + 10 cross-products are
    exact DECIMAL(38,0)/HUGEINT aggregates of one groupBy-less pass;
    each matrix cell's NUMERATOR n*Sab - Sa*Sb is computed exactly in
    DECIMAL(38,0)/HUGEINT; the COVARIANCE is released as the exact
    integer floor-quotient (never a float: DuckDB misrounds ~1.5% of
    >2^53 wide-int->double casts via a double-rounded 2^64 split —
    found by this query's extendedprice variance at sf0.1, pinned by
    D15 — so a LARGE-magnitude float output computed from wide ints is
    never driver-safe); the CORRELATION is a float but O(1)-scale, so
    a worst-case 1-ulp operand misround is a 1e-16 relative error,
    invisible at round(6). The 10-row unpivot is a driver-free union
    over the broadcast 1-row moment frame.

    Plan/scale: one lineitem-scale scan, map-side partial aggregation
    of 15 wide-integer accumulators, then constant-size arithmetic —
    the cheapest possible shape for a covariance matrix at 100 TB (no
    shuffle wider than one row)."""
    conds = None
    for v in _COV_VARS:
        c = F.col(v).isNotNull()
        conds = c if conds is None else (conds & c)
    # parallel_table (round 14): the 15 DECIMAL(38,0) partial accumulators
    # run in the scan stage, and the single-row-group fixture scan made
    # that ONE task of wide-decimal arithmetic over every lineitem row
    # (profiled as the dominant serial stage). The helper exchanges by
    # l_orderkey only when splits < cores — no shuffle added at scale.
    s = (
        parallel_table(spark, sf_dir, "lineitem", key="l_orderkey")
        .where(conds)
        .select(
            *[
                F.floor(F.lit(100.0) * F.col(v) + F.lit(0.5))
                .cast("bigint")
                .alias(f"q_{v}")
                for v in _COV_VARS
            ]
        )
    )
    aggs = [F.count(F.lit(1)).cast("decimal(38,0)").alias("n")]
    for v in _COV_VARS:
        aggs.append(
            F.sum(F.col(f"q_{v}").cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias(f"s_{v}")
        )
    for i, a in enumerate(_COV_VARS):
        for b in _COV_VARS[i:]:
            aggs.append(
                F.sum(
                    F.col(f"q_{a}").cast("decimal(38,0)") * F.col(f"q_{b}")
                )
                .cast("decimal(38,0)")
                .alias(f"p_{a}_{b}")
            )
    mo = s.agg(*aggs).localCheckpoint(eager=True)
    out = None
    for i, a in enumerate(_COV_VARS):
        for b in _COV_VARS[i:]:
            nn = F.col("n")
            num = (nn * F.col(f"p_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")).cast("double")
            vara = (nn * F.col(f"p_{a}_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")).cast("double")
            varb = (nn * F.col(f"p_{b}_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")).cast("double")
            cov_exact = F.expr(
                f"CAST((n * p_{a}_{b} - s_{a} * s_{b})"
                f" div nullif(n * (n - 1), 0) AS BIGINT)"
            )
            corr = num / F.nullif(
                F.sqrt(vara * varb), F.lit(0.0)
            )
            row = mo.select(
                F.lit(a).alias("var_a"),
                F.lit(b).alias("var_b"),
                F.col("n").cast("bigint").alias("n"),
                cov_exact.alias("cov_cents2_floor"),
                F.round(corr, 6).alias("corr"),
            )
            out = row if out is None else out.unionByName(row)
    return out


# --- B170: rollup with GROUPING() disambiguation ------------------------------


@query(
    "q_agg_grouping_id",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) AS INTEGER) AS g_rf,
           CAST(grouping(l_linestatus) AS INTEGER) AS g_ls,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_agg_grouping_id(spark, sf_dir):
    """B170: ROLLUP with GROUPING() flags — the disambiguation B25 leaves
    implicit: a NULL group key in a rollup result is ambiguous between
    "the subtotal row" and "a genuinely NULL key value"; grouping(col)
    returns 1 only for the subtotal rows, which is what every BI layer
    keys its drill-down on. Same two-phase Expand+hash-agg plan as B25
    (the Expand adds the flag bits map-side, no extra shuffle); counts
    BIGINT, quantity sum released round-2 (sub-2^53 exact integral
    doubles on this column, the B21 argument)."""
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_rf"),
        F.grouping("l_linestatus").cast("int").alias("g_ls"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    ).select(
        "l_returnflag", "l_linestatus", "g_rf", "g_ls", "n", "sum_qty"
    )


# --- B183: paired t-test (year-over-year spend) --------------------------------

_PAIRED_Y0 = 1996
_PAIRED_Y1 = 1997


@query(
    "q_agg_paired_ttest",
    oracle=f"""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(coalesce(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                    FILTER (WHERE year(o_orderdate) = {_PAIRED_Y0}), 0)
                    // 1000 AS BIGINT) AS kc0,
               CAST(coalesce(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                    FILTER (WHERE year(o_orderdate) = {_PAIRED_Y1}), 0)
                    // 1000 AS BIGINT) AS kc1
        FROM orders
        WHERE o_orderdate IS NOT NULL
          AND year(o_orderdate) IN ({_PAIRED_Y0}, {_PAIRED_Y1})
        GROUP BY o_custkey
    ),
    diffs AS (SELECT kc1 - kc0 AS d FROM per_cust),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(d) AS BIGINT) AS sd,
               CAST(sum(d * d) AS BIGINT) AS sdd
        FROM diffs
    )
    SELECT n, sd AS sum_diff_kc, sdd AS sum_sq_diff,
           CAST(sd // greatest(1, n) AS BIGINT) AS mean_diff_kc,
           round((CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))
                 / nullif(sqrt(((CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
                          - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))
                         / nullif(CAST(n AS DOUBLE)
                                  * (CAST(n AS DOUBLE) - 1.0), 0.0))
                        / CAST(n AS DOUBLE)), 0.0),
                 6) AS t_stat
    FROM s
    """,
)
def q_agg_paired_ttest(spark, sf_dir):
    """B183: paired t-test on year-over-year customer spend
    ({_PAIRED_Y0} vs {_PAIRED_Y1}) — did the SAME customers spend more?
    The dependent-samples complement of B142's Welch test (independent
    arms): pairing differences out each customer's own level, so the
    test sees only within-customer change; customers active in either
    year enter with the missing year as 0 (the spend-delta design).

    Cross-engine float shape: per-customer yearly kilocents and their
    differences are exact BIGINTs (kilocent scaling keeps Σd² inside
    BIGINT up to ~1e8 customers); the statistic
    t = d̄ / sqrt(s²/n) is ONE identical-text float expression over the
    three exact sums (n, Σd, Σd²) with IEEE-correctly-rounded sqrt —
    no libm drift; NULL when n = 1 or the diffs are constant (the D11
    nullif guard on the zero variance). Plan/scale: ONE customer-keyed
    rollup with map-side-combined FILTER sums (year predicate pushed to
    the scan), then a single-row aggregate. Nothing after the rollup
    scales with corpus size."""
    y = F.year("o_orderdate")
    cents = F.floor(F.col("o_totalprice") * 100).cast("bigint")
    per_cust = (
        table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate").isNotNull()
            & y.isin(_PAIRED_Y0, _PAIRED_Y1)
        )
        .groupBy("o_custkey")
        .agg(
            F.expr(
                f"CAST(coalesce(sum(CAST(floor(o_totalprice * 100)"
                f" AS BIGINT)) FILTER (WHERE year(o_orderdate)"
                f" = {_PAIRED_Y0}), 0) div 1000 AS BIGINT)"
            ).alias("kc0"),
            F.expr(
                f"CAST(coalesce(sum(CAST(floor(o_totalprice * 100)"
                f" AS BIGINT)) FILTER (WHERE year(o_orderdate)"
                f" = {_PAIRED_Y1}), 0) div 1000 AS BIGINT)"
            ).alias("kc1"),
        )
    )
    diffs = per_cust.select((F.col("kc1") - F.col("kc0")).alias("d"))
    s = diffs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("sd"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("sdd"),
    )
    return s.select(
        "n",
        F.col("sd").alias("sum_diff_kc"),
        F.col("sdd").alias("sum_sq_diff"),
        F.expr("CAST(sd div greatest(1, n) AS BIGINT)").alias(
            "mean_diff_kc"
        ),
        F.expr(
            "round(try_divide(CAST(sd AS DOUBLE) / CAST(n AS DOUBLE),"
            " nullif(sqrt(try_divide((CAST(n AS DOUBLE)"
            " * CAST(sdd AS DOUBLE)"
            " - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)),"
            " nullif(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0), 0.0))"
            " / CAST(n AS DOUBLE)), 0.0)), 6)"
        ).alias("t_stat"),
    )


# --- B184: deterministic Poisson bootstrap CI ----------------------------------

# Cumulative Poisson(1) thresholds scaled to the 2^32 hash domain:
# P(X<=k) * 2^32 for k = 0..4; draws above the last threshold clip to 5.
_BOOT_T = (1580030169, 3160060337, 3950075422, 4213413783, 4279248374)
_BOOT_GROUPS = 8  # md5 calls per event; each yields 4 independent words
_BOOT_B = _BOOT_GROUPS * 4  # 32 bootstrap replicates
# count expression over a 32-bit word column `w` (identical text on both
# engines).
_BOOT_CNT = (
    f"CASE WHEN w < {_BOOT_T[0]} THEN 0 WHEN w < {_BOOT_T[1]} THEN 1"
    f" WHEN w < {_BOOT_T[2]} THEN 2 WHEN w < {_BOOT_T[3]} THEN 3"
    f" WHEN w < {_BOOT_T[4]} THEN 4 ELSE 5 END"
)



def _boot_oracle() -> str:
    from ..llm.sketches import _hex_parse_duck

    return f"""
    WITH ev AS (
        SELECT event_id, CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events
        WHERE value IS NOT NULL AND event_type = 'purchase'
    ),
    hashed AS (
        SELECT cents, g,
               md5(CAST(event_id AS VARCHAR) || ':' || CAST(g AS VARCHAR))
                   AS h
        FROM ev CROSS JOIN range({_BOOT_GROUPS}) t(g)
    ),
    words AS (
        SELECT cents, CAST(g * 4 + j AS INTEGER) AS rep,
               CASE j WHEN 0 THEN {_hex_parse_duck("h", 1)}
                      WHEN 1 THEN {_hex_parse_duck("h", 9)}
                      WHEN 2 THEN {_hex_parse_duck("h", 17)}
                      ELSE {_hex_parse_duck("h", 25)} END AS w
        FROM hashed CROSS JOIN (VALUES (0), (1), (2), (3)) AS jj(j)
    ),
    reps AS (
        SELECT rep,
               CAST(sum(cnt * cents) AS BIGINT) AS s,
               CAST(sum(cnt) AS BIGINT) AS m
        FROM (SELECT cents, rep, {_BOOT_CNT} AS cnt FROM words)
        GROUP BY rep
    ),
    means AS (
        SELECT rep, CAST(s AS DOUBLE) / nullif(CAST(m AS DOUBLE), 0.0)
                   AS mean_rep,
               row_number() OVER (
                   ORDER BY CAST(s AS DOUBLE)
                            / nullif(CAST(m AS DOUBLE), 0.0) ASC
                            NULLS LAST, rep) AS rk
        FROM reps
    ),
    band AS (
        SELECT min(mean_rep) AS ci_lo_raw, max(mean_rep) AS ci_hi_raw
        FROM means WHERE rk IN (2, {_BOOT_B - 1})
    ),
    pt AS (
        SELECT CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(cents) AS DOUBLE)
                   / nullif(CAST(count(*) AS DOUBLE), 0.0) AS mean_raw
        FROM ev
    )
    SELECT n_events, CAST({_BOOT_B} AS INTEGER) AS n_replicates,
           round(mean_raw, 6) AS mean_cents,
           round(ci_lo_raw, 6) AS ci_lo_cents,
           round(ci_hi_raw, 6) AS ci_hi_cents
    FROM pt CROSS JOIN band
    """


@query(
    "q_agg_bootstrap_ci",
    oracle=_boot_oracle(),
)
def q_agg_bootstrap_ci(spark, sf_dir):
    """B184: Poisson-bootstrap confidence interval for the mean purchase
    value — the distributed bootstrap done WITHOUT any RNG: replicate b
    includes each event with multiplicity ~ Poisson(1), the standard
    streaming approximation of multinomial resampling (Chamandy et al.,
    "Estimating Uncertainty for Massive Data Streams", Google 2012),
    and every multiplicity is a pure FUNCTION of (event_id, b) — one
    md5 per (event, word-group) parsed into four independent 32-bit
    words by the portable hex-parse toolkit (the B163-B166 coordinate
    trick), thresholded against precomputed cumulative-Poisson literals.
    Fully deterministic, identical on both engines, restart-safe at any
    scale — properties a seeded RNG bootstrap has on neither engine.

    Cross-engine float shape: per-replicate sums are exact BIGINTs
    (multiplicity × floor-cents); each replicate mean is ONE division
    of exact ints; the 95% band picks ranked replicate means (exact
    value selection over {_BOOT_B} rows, no interpolation) with the
    replicate id as tiebreak; the point estimate is the full-sample
    exact ratio. round(6) at release. Plan/scale: the {_BOOT_GROUPS}×
    group explode and 4-word unnest pipeline inside the scan stage
    (md5 computed ONCE per group — {_BOOT_GROUPS} hashes per event,
    not {_BOOT_B}); the only shuffle is the {_BOOT_B}-key replicate
    rollup with map-side combine; the CI selection runs on a
    {_BOOT_B}-row frame."""
    from ..llm.sketches import _hex_parse_spark

    # parallel_table (round 14): the fixture events scan is ONE row-group
    # split, so the whole md5-per-(event, group) replicate pipeline below
    # ran as a single task (profiled 3.3 s serial of the 4.2 s total at
    # sf0.1). The helper exchanges by event_id only when splits < cores —
    # at 100 TB the scan has thousands of natural splits and no shuffle
    # is added.
    ev = (
        parallel_table(spark, sf_dir, "events", key="event_id")
        .where(
            F.col("value").isNotNull()
            & (F.col("event_type") == "purchase")
        )
        .select(
            "event_id",
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    grouped = ev.select(
        "event_id",
        "cents",
        F.explode(F.expr(f"sequence(0, {_BOOT_GROUPS - 1})")).alias("g"),
    ).withColumn(
        "h", F.expr("md5(concat(CAST(event_id AS STRING), ':', g))")
    )
    words = grouped.select(
        "cents",
        "g",
        F.explode(F.expr("array(0, 1, 2, 3)")).alias("j"),
        F.col("h"),
    ).select(
        "cents",
        (F.col("g") * 4 + F.col("j")).cast("int").alias("rep"),
        F.expr(
            "CASE j"
            f" WHEN 0 THEN {_hex_parse_spark('h', 1)}"
            f" WHEN 1 THEN {_hex_parse_spark('h', 9)}"
            f" WHEN 2 THEN {_hex_parse_spark('h', 17)}"
            f" ELSE {_hex_parse_spark('h', 25)} END"
        ).alias("w"),
    )
    reps = (
        words.withColumn("cnt", F.expr(_BOOT_CNT))
        .groupBy("rep")
        .agg(
            F.sum(F.col("cnt") * F.col("cents"))
            .cast("bigint")
            .alias("s"),
            F.sum("cnt").cast("bigint").alias("m"),
        )
        .select(
            "rep",
            F.expr(
                "try_divide(CAST(s AS DOUBLE), CAST(m AS DOUBLE))"
            ).alias("mean_rep"),
        )
    )
    wr = Window.orderBy(
        F.col("mean_rep").asc_nulls_last(), F.col("rep").asc()
    )
    ranked = reps.withColumn("rk", F.row_number().over(wr))
    lo_rk, hi_rk = 2, _BOOT_B - 1  # ~95% band over 32 replicates
    band = ranked.where(F.col("rk").isin(lo_rk, hi_rk)).agg(
        F.min("mean_rep").alias("ci_lo_raw"),
        F.max("mean_rep").alias("ci_hi_raw"),
    )
    point = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.expr(
            "try_divide(CAST(sum(cents) AS DOUBLE),"
            " CAST(count(*) AS DOUBLE))"
        ).alias("mean_raw"),
    )
    return point.crossJoin(F.broadcast(band)).select(
        "n_events",
        F.lit(_BOOT_B).cast("int").alias("n_replicates"),
        F.round("mean_raw", 6).alias("mean_cents"),
        F.round("ci_lo_raw", 6).alias("ci_lo_cents"),
        F.round("ci_hi_raw", 6).alias("ci_hi_cents"),
    )
