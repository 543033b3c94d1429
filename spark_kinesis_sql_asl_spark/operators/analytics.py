"""Analytics operator bundle (SURVEY.md §2 rows B79–B84, round-2 widening):
subqueries, per-group top-k, equi-width histogram, funnel conversion,
distribution windows.

These are query shapes the reference's SQL consumers run daily that the
round-1 inventory expressed only as building blocks. Each is declarative
DataFrame/SQL so Catalyst keeps pushdown/broadcast/AQE; scale notes inline.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import table


@query(
    "q_subquery_scalar",
    oracle="""
    WITH a AS (SELECT avg(o_totalprice) AS av FROM orders)
    SELECT o_orderkey, round(o_totalprice, 2) AS price
    FROM orders, a
    WHERE o_totalprice > 1.5 * av
    """,
)
def q_subquery_scalar(spark, sf_dir):
    """B79: scalar-subquery filter (orders priced >1.5x the global mean).
    The scalar rides in as a 1-row broadcast (crossJoin), so the fact scan
    evaluates the predicate scan-side — no shuffle, no second pass. At
    100 TB the aggregate is one map-side-combined column scan."""
    o = table(spark, sf_dir, "orders")
    av = o.agg(F.avg("o_totalprice").alias("av"))
    return (
        o.join(F.broadcast(av))
        .where(F.col("o_totalprice") > 1.5 * F.col("av"))
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
    )


@query(
    "q_subquery_exists",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    """,
)
def q_subquery_exists(spark, sf_dir):
    """B80: correlated EXISTS through the SQL parser path (Catalyst rewrites
    it to a left-semi hash join — same physical plan as B14, different API
    surface). Registered as temp views so the text is plain ANSI SQL."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("v_sq_customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("v_sq_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM v_sq_customer c
        WHERE EXISTS (
            SELECT 1 FROM v_sq_orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderpriority = '1-URGENT'
        )
        """
    )


@query(
    "q_topk_per_group",
    oracle="""
    WITH rev AS (
        SELECT n_name, s_suppkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name, s_suppkey
    )
    SELECT n_name, s_suppkey, revenue, rn
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY n_name ORDER BY revenue DESC, s_suppkey
        ) AS rn
        FROM rev
    )
    WHERE rn <= 3
    """,
)
def q_topk_per_group(spark, sf_dir):
    """B81: top-3 suppliers by revenue within each nation. The rank runs on
    the ROUNDED revenue with a key tiebreak, so ordering is deterministic
    across engines despite float-sum ordering. One fact shuffle (the
    groupBy); supplier/nation broadcast; the window partitions by nation —
    25 groups, trivially parallel. At 100 TB the per-group window input is
    the aggregated (nation, supplier) frame, not the fact table."""
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name", "s_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    w = Window.partitionBy("n_name").orderBy(
        F.col("revenue").desc(), F.col("s_suppkey")
    )
    return (
        rev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("n_name", "s_suppkey", "revenue", "rn")
    )


@query(
    "q_agg_histogram",
    oracle="""
    WITH b AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx
               FROM orders)
    SELECT CAST(least(floor((o_totalprice - mn) * 10.0 / (mx - mn)), 9)
                AS BIGINT) AS bucket,
           count(*) AS n_orders
    FROM orders, b
    GROUP BY 1
    """,
)
def q_agg_histogram(spark, sf_dir):
    """B82: equi-width 10-bucket histogram of order totals. Bounds are a
    1-row broadcast; the bucket expression is written with IDENTICAL
    operation order in Spark and the oracle so IEEE doubles agree bit-for-
    bit. Single scan + 10-group aggregate — the CDF/quantile-sketch shape
    without any sketch approximation."""
    o = table(spark, sf_dir, "orders")
    b = o.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    return (
        o.join(F.broadcast(b))
        .select(
            F.least(
                F.floor(
                    (F.col("o_totalprice") - F.col("mn"))
                    * 10.0
                    / (F.col("mx") - F.col("mn"))
                ),
                F.lit(9),
            )
            .cast("bigint")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "q_events_funnel",
    oracle="""
    WITH c AS (
        SELECT user_id, min(ts) AS click_ts
        FROM events WHERE event_type = 'click' GROUP BY user_id
    ),
    conv AS (
        SELECT DISTINCT c.user_id
        FROM c JOIN events e
          ON e.user_id = c.user_id
         AND e.event_type = 'purchase'
         AND e.ts >= c.click_ts
         AND e.ts <= c.click_ts + INTERVAL 1 HOUR
    )
    SELECT (SELECT count(*) FROM c) AS n_clickers,
           (SELECT count(*) FROM conv) AS n_converted,
           round(100.0 * (SELECT count(*) FROM conv)
                 / (SELECT count(*) FROM c), 4) AS conv_pct
    """,
)
def q_events_funnel(spark, sf_dir):
    """B83: click→purchase funnel — users whose first click converts to a
    purchase within 1 hour. Clicks aggregate to one row per user before the
    join (the funnel join input is |users|, not |events|), the purchase
    probe is a left-semi range join on the user key, and the final counts
    are two 1-row aggregates crossed — no driver collect."""
    ev = table(spark, sf_dir, "events")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    converted = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("click_ts"))
        & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_semi",
    )
    n_clickers = clicks.agg(F.count(F.lit(1)).alias("n_clickers"))
    n_conv = converted.agg(F.count(F.lit(1)).alias("n_converted"))
    return n_clickers.crossJoin(n_conv).select(
        "n_clickers",
        "n_converted",
        F.round(
            100.0 * F.col("n_converted") / F.col("n_clickers"), 4
        ).alias("conv_pct"),
    )


@query(
    "q_win_distribution",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice NULLS LAST, o_orderkey)
    """,
)
def q_win_distribution(spark, sf_dir):
    """B84: distribution windows (percent_rank, cume_dist) per priority
    class. The (price, orderkey) ordering is a total order, so peer groups
    are singletons and both functions are rank arithmetic — deterministic
    doubles across engines."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc_nulls_last(), "o_orderkey"
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


_SPINE_SQL = """
WITH RECURSIVE spine(k, mon) AS (
    SELECT 0, CAST(date_trunc('month', min(o_orderdate)) AS DATE) FROM {tbl}
    UNION ALL
    SELECT k + 1, CAST(mon + INTERVAL 1 MONTH AS DATE) FROM spine
    WHERE k < 99
)
SELECT CAST(s.mon AS STRING) AS mon, count(o.o_orderkey) AS n_orders,
       round(coalesce(sum(o.o_totalprice), 0), 2) AS revenue
FROM spine s LEFT JOIN {tbl} o
  ON CAST(date_trunc('month', o.o_orderdate) AS DATE) = s.mon
WHERE s.mon <= (SELECT CAST(date_trunc('month', max(o_orderdate)) AS DATE)
                FROM {tbl})
GROUP BY s.mon
"""


@query("q_sql_recursive_spine", priority=0, oracle=_SPINE_SQL.format(tbl="orders"))
def q_sql_recursive_spine(spark, sf_dir):
    """B85: recursive CTE (new SQL surface in Spark 4) — a month spine from
    min to max order date, left-joined to monthly revenue so gap months
    appear with zero counts (time-series calendar fill). The IDENTICAL SQL
    text runs on Spark and DuckDB; CAST AS DATE pins the cross-engine type
    (DuckDB's date_trunc yields DATE, Spark's TIMESTAMP).

    Perf note (measured at sf0.1): the termination predicate is a CONSTANT
    iteration bound (k < 99, under Spark's default 100-level recursion
    limit) with the data-driven max-date cut applied ONCE in the outer
    WHERE — a scalar subquery inside the recursive term re-executes its
    fact-table aggregate on every iteration in Spark (80 iterations ×
    full orders scan = 14.1 s; the constant-bound form is 1.9 s warmed).
    The fact table is touched twice total (bounds + grouped join), and the
    join broadcasts the ≤100-row spine, never shuffling the facts."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("v_spine_orders")
    return spark.sql(_SPINE_SQL.format(tbl="v_spine_orders"))


@query(
    "q_set_except_all",
    oracle="""
    SELECT l_partkey FROM lineitem WHERE l_quantity > 40
    EXCEPT ALL
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def q_set_except_all(spark, sf_dir):
    """B86: EXCEPT ALL — bag difference preserving multiplicities (the
    dedup-aware form B45's EXCEPT DISTINCT can't express). Catalyst plans a
    single-shuffle aggregate over (value, count) pairs."""
    li = table(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_quantity") > 40).select("l_partkey")
    b = li.where(F.col("l_returnflag") == "R").select("l_partkey")
    return a.exceptAll(b)


@query(
    "q_set_intersect_all",
    oracle="""
    SELECT l_partkey FROM lineitem WHERE l_quantity > 40
    INTERSECT ALL
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def q_set_intersect_all(spark, sf_dir):
    """B87: INTERSECT ALL — bag intersection with min-multiplicity
    semantics."""
    li = table(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_quantity") > 40).select("l_partkey")
    b = li.where(F.col("l_returnflag") == "R").select("l_partkey")
    return a.intersectAll(b)


@query(
    "q_win_time_range",
    priority=0,
    oracle="""
    SELECT event_id, user_id,
           count(*) OVER w AS n_7d,
           coalesce(CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w
                         AS BIGINT), 0) AS sum_cents_7d
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)
    """,
)
def q_win_time_range(spark, sf_dir):
    """B88: time-interval RANGE frame — per-user trailing-7-day activity
    (count + spend), the rolling-metric shape dashboards run constantly.
    The frame is TIME-based (`RANGE BETWEEN INTERVAL`), not row-based, so
    sparse/bursty users get correct calendar windows. Spend is summed in
    integer cents: sliding-frame float aggregation differs between engines
    (incremental add/remove vs rescan), integers are exact either way, and
    the sum is coalesced to 0 so an all-NULL-value frame cannot promote the
    int64 column to float64 in pandas on one engine only. One shuffle on
    user_id; frame evaluation is sorted partition-local."""
    table(spark, sf_dir, "events").createOrReplaceTempView("v_wtr_events")
    return spark.sql(
        """
        SELECT event_id, user_id,
               count(*) OVER w AS n_7d,
               coalesce(CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w
                             AS BIGINT), 0) AS sum_cents_7d
        FROM v_wtr_events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)
        """
    )


@query(
    "q_join_null_safe",
    oracle="""
    WITH a AS (
        SELECT user_id, nullif(event_type, 'click') AS k, count(*) AS cnt_a
        FROM events WHERE event_id % 2 = 0 GROUP BY user_id, nullif(event_type, 'click')
    ),
    b AS (
        SELECT user_id, nullif(event_type, 'click') AS k, count(*) AS cnt_b
        FROM events WHERE event_id % 2 = 1 GROUP BY user_id, nullif(event_type, 'click')
    )
    SELECT a.user_id, a.k, cnt_a, cnt_b
    FROM a JOIN b
      ON a.user_id = b.user_id AND a.k IS NOT DISTINCT FROM b.k
    """,
)
def q_join_null_safe(spark, sf_dir):
    """B89: null-safe equi-join (`<=>` / IS NOT DISTINCT FROM) — NULL keys
    match NULL keys instead of silently dropping, the semantics ETL joins
    on optional attributes need (a plain inner join here loses every
    'click' row nullified by the nullif). Catalyst treats `<=>` as an
    equi-key, so this stays a hash join, not a theta scan."""
    ev = table(spark, sf_dir, "events")
    k = F.nullif(F.col("event_type"), F.lit("click"))
    a = (
        ev.where(F.col("event_id") % 2 == 0)
        .groupBy("user_id", k.alias("k"))
        .agg(F.count(F.lit(1)).alias("cnt_a"))
    )
    b = (
        ev.where(F.col("event_id") % 2 == 1)
        .groupBy("user_id", k.alias("k"))
        .agg(F.count(F.lit(1)).alias("cnt_b"))
        .select(
            F.col("user_id").alias("b_user"),
            F.col("k").alias("b_k"),
            "cnt_b",
        )
    )
    return a.join(
        b,
        (F.col("user_id") == F.col("b_user"))
        & F.col("k").eqNullSafe(F.col("b_k")),
    ).select("user_id", "k", "cnt_a", "cnt_b")


@query(
    "q_subquery_correlated_scalar",
    oracle="""
    SELECT c_custkey,
           (SELECT max(o_orderdate) FROM orders
            WHERE o_custkey = c_custkey) AS last_order
    FROM customer
    """,
)
def q_subquery_correlated_scalar(spark, sf_dir):
    """B90: correlated scalar subquery in the SELECT list — last order date
    per customer, NULL for never-ordered customers. Catalyst de-correlates
    into a left-outer aggregate join (one orders shuffle on the customer
    key, no per-row re-execution), which is exactly the plan to want at
    100 TB: the naive interpretation is one orders scan per customer."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("v_csq_customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("v_csq_orders")
    return spark.sql(
        """
        SELECT c_custkey,
               (SELECT max(o_orderdate) FROM v_csq_orders
                WHERE o_custkey = c_custkey) AS last_order
        FROM v_csq_customer
        """
    )


@query(
    "q_lateral_topn",
    oracle="""
    SELECT n.n_name, t.s_suppkey, t.s_name, round(t.s_acctbal, 2) AS acctbal
    FROM nation n,
    LATERAL (
        SELECT s_suppkey, s_name, s_acctbal
        FROM supplier
        WHERE s_nationkey = n.n_nationkey
        ORDER BY s_acctbal DESC, s_suppkey
        LIMIT 2
    ) t
    """,
)
def q_lateral_topn(spark, sf_dir):
    """B91: LATERAL derived table — per-nation top-2 suppliers by account
    balance, the 'for each row, run this parameterized subquery' surface.
    Catalyst de-correlates the lateral into a ranked window under the hood
    (same physical shape as B81), so it stays one shuffle; the ORDER BY has
    a key tiebreak and ranks a raw stored column (no float aggregation), so
    the pick is engine-deterministic."""
    table(spark, sf_dir, "nation").createOrReplaceTempView("v_lat_nation")
    table(spark, sf_dir, "supplier").createOrReplaceTempView("v_lat_supplier")
    return spark.sql(
        """
        SELECT n.n_name, t.s_suppkey, t.s_name, round(t.s_acctbal, 2) AS acctbal
        FROM v_lat_nation n,
        LATERAL (
            SELECT s_suppkey, s_name, s_acctbal
            FROM v_lat_supplier
            WHERE s_nationkey = n.n_nationkey
            ORDER BY s_acctbal DESC, s_suppkey
            LIMIT 2
        ) t
        """
    )


@query(
    "q_agg_filter_clause",
    priority=0,
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_rows,
           count(*) FILTER (WHERE l_quantity > 30) AS n_bulk,
           coalesce(CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
               FILTER (WHERE l_discount > 0.05) AS BIGINT), 0) AS disc_cents
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_filter_clause(spark, sf_dir):
    """B92: the SQL FILTER clause on aggregates — per-flag conditional
    rollups in ONE pass over the fact table (the alternative is N filtered
    scans or N self-joins). Summed in integer cents for engine-exact
    results; the filtered sum is coalesced to 0 because an empty filtered
    set yields NULL, which pandas promotes to float64 on a nullable int
    column (a driver-canon divergence surface). Single shuffle, partial
    aggregation map-side."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_fc_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               count(*) AS n_rows,
               count(*) FILTER (WHERE l_quantity > 30) AS n_bulk,
               coalesce(CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
                   FILTER (WHERE l_discount > 0.05) AS BIGINT), 0) AS disc_cents
        FROM v_fc_lineitem
        GROUP BY l_returnflag
        """
    )


_GAPFILL_HOUR_US = 3_600 * 1_000_000


@query(
    "q_ts_gapfill",
    priority=30,
    oracle=f"""
    WITH b AS (
        SELECT event_type,
               CAST(epoch_us(ts) // {_GAPFILL_HOUR_US} AS BIGINT) AS h,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(coalesce(CAST(floor(value * 100) AS BIGINT), 0))
                    AS BIGINT) AS sum_cents
        FROM events WHERE ts IS NOT NULL
        GROUP BY 1, 2
    ),
    spine AS (
        SELECT event_type, unnest(range(min(h), max(h) + 1)) AS h
        FROM b GROUP BY event_type
    )
    SELECT s.event_type, s.h AS hour_epoch,
           coalesce(b.n_events, 0) AS n_events,
           CAST(last_value(b.sum_cents IGNORE NULLS) OVER (
               PARTITION BY s.event_type ORDER BY s.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS filled_cents,
           CAST(b.h IS NULL AS BIGINT) AS is_gap
    FROM spine s LEFT JOIN b ON s.event_type = b.event_type AND s.h = b.h
    """,
)
def q_ts_gapfill(spark, sf_dir):
    """B99: hypertable-style downsample + gap-fill — hourly rollup per
    event_type joined against a DENSE hour spine (min..max per type), with
    empty buckets carried forward from the last observed bucket
    (``last(..., ignorenulls=True)`` / ``last_value(... IGNORE NULLS)``,
    identical frame semantics both engines). This is the time-series
    staple behind dashboards and downstream window features: without the
    spine, absent buckets silently vanish and moving averages skew. All
    arithmetic stays in exact integers (epoch-µs floor-div hour index,
    floor-cents sums). Plan: one (type, hour) partial-agg shuffle builds
    the buckets; the spine explodes from a |types|-row min/max aggregate
    (broadcast); the fill window rides the same (type) partitioning. At
    100 TB buckets ≪ raw events — the rollup is the only corpus-scale
    stage, and a hypertable layout (partition by day, cluster by type)
    prunes the scan to the queried range."""
    ev = table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    b = (
        ev.select(
            "event_type",
            # integer div, never float-divide-then-cast: a double quotient
            # can land 1 ulp under an integer boundary and truncate into
            # the previous hour bucket on one engine only
            F.expr(f"unix_micros(ts) div {_GAPFILL_HOUR_US}").alias("h"),
            F.coalesce(
                F.floor(F.col("value") * 100).cast("bigint"), F.lit(0)
            ).alias("cents"),
        )
        .groupBy("event_type", "h")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
    )
    spine = (
        b.groupBy("event_type")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "event_type",
            F.explode(F.expr("sequence(h0, h1)")).alias("h"),
        )
    )
    bb = b.select(
        F.col("event_type").alias("b_type"),
        F.col("h").alias("b_h"),
        "n_events",
        "sum_cents",
    )
    j = spine.join(
        bb,
        (spine.event_type == bb.b_type) & (spine.h == bb.b_h),
        "left",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "event_type",
        F.col("h").alias("hour_epoch"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.last("sum_cents", ignorenulls=True)
        .over(w)
        .cast("bigint")
        .alias("filled_cents"),
        F.col("b_h").isNull().cast("bigint").alias("is_gap"),
    )


_BASKET_MIN_SUPPORT = 2
_BASKET_TOP = 30


@query(
    "q_basket_pairs",
    priority=30,
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    n_orders AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n FROM items),
    item_supp AS (
        SELECT pk, CAST(count(*) AS BIGINT) AS supp FROM items GROUP BY pk
    ),
    pairs AS (
        SELECT a.pk AS pk_a, b.pk AS pk_b, CAST(count(*) AS BIGINT) AS supp_ab
        FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY a.pk, b.pk
        HAVING count(*) >= {_BASKET_MIN_SUPPORT}
    ),
    scored AS (
        SELECT p.pk_a, p.pk_b, p.supp_ab,
               CAST((1000000 * p.supp_ab * n.n) //
                    (sa.supp * sb.supp) AS BIGINT) AS lift_ppm
        FROM pairs p
        JOIN item_supp sa ON p.pk_a = sa.pk
        JOIN item_supp sb ON p.pk_b = sb.pk
        CROSS JOIN n_orders n
    )
    SELECT pk_a, pk_b, supp_ab, lift_ppm, rk FROM (
        SELECT pk_a, pk_b, supp_ab, lift_ppm,
               row_number() OVER (
                   ORDER BY supp_ab DESC, lift_ppm DESC, pk_a, pk_b
               ) AS rk
        FROM scored
    ) WHERE rk <= {_BASKET_TOP}
    """,
)
def q_basket_pairs(spark, sf_dir):
    """B101: market-basket pair mining — co-purchased part pairs with
    support and LIFT (P(a,b)/(P(a)P(b)) in integer ppm), the association-
    rule primitive (Agrawal/Srikant's Apriori at its 2-itemset core). The
    pair self-join keys on the ORDER — candidate volume is
    sum over orders of |basket|², and baskets are bounded (TPC-H: <=7
    lines), so the join is linear in orders at any corpus scale; the
    support filter then prunes before the two |parts|-sized dimension
    joins (bucketable on pk at 100 TB; broadcast at fixture scale). The
    order count rides a 1-row cross join. Lift stays in exact integer ppm
    — deterministic across engines and summation orders; ranking goes
    through orderBy+limit (TakeOrderedAndProject), never a full-frame
    window sort."""
    # Round 15 (guide §2.4): the old form planned the lineitem scan +
    # (ok, pk) distinct FIVE times (self-join a/b, item_supp via sa and
    # sb, n_orders). Shuffle raw (ok, pk) rows by ok ONCE, then run the
    # distinct ON TOP of that exchange — HashPartitioning(ok) satisfies
    # the (ok, pk) aggregate's clustering requirement (ok is a subset of
    # the keys), so the dedup adds no exchange — and derive every
    # consumer (self-join, per-part support, order count) from the same
    # subtree, which ReuseExchange then materializes once.
    # Round 14 (guide §2.5, the parallel_table rationale): the basket
    # self-join must exchange by ok either way, but AQE sizes that
    # exchange by BYTES (~5 MB here -> 5 tasks) while the |basket|²
    # expansion + pair rollup it feeds is CPU-bound — profiled 3.4 s of
    # CPU serialized onto 5 of 32 cores. An explicit user-specified width
    # pins the same shuffle at the session's parallelism; all consumers
    # share the one exchange.
    spread = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .repartition(spark.sparkContext.defaultParallelism, "ok")
        .dropDuplicates(["ok", "pk"])
    )
    n_orders = spread.agg(
        F.countDistinct("ok").cast("bigint").alias("n")
    )
    item_supp = spread.groupBy("pk").agg(F.count(F.lit(1)).alias("supp"))
    a = spread.select(F.col("ok"), F.col("pk").alias("pk_a"))
    b = spread.select(F.col("ok").alias("ok_b"), F.col("pk").alias("pk_b"))
    pairs = (
        a.join(b, (a.ok == b.ok_b) & (F.col("pk_a") < F.col("pk_b")))
        .groupBy("pk_a", "pk_b")
        .agg(F.count(F.lit(1)).alias("supp_ab"))
        .where(F.col("supp_ab") >= _BASKET_MIN_SUPPORT)
    )
    sa = item_supp.select(
        F.col("pk").alias("pk_a"), F.col("supp").alias("supp_a")
    )
    sb = item_supp.select(
        F.col("pk").alias("pk_b"), F.col("supp").alias("supp_b")
    )
    scored = (
        pairs.join(sa, "pk_a")
        .join(sb, "pk_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "pk_a",
            "pk_b",
            "supp_ab",
            F.expr(
                "CAST((1000000 * supp_ab * n) div (supp_a * supp_b) "
                "AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    top = scored.orderBy(
        F.col("supp_ab").desc(),
        F.col("lift_ppm").desc(),
        F.col("pk_a"),
        F.col("pk_b"),
    ).limit(_BASKET_TOP)
    w = Window.orderBy(
        F.col("supp_ab").desc(),
        F.col("lift_ppm").desc(),
        F.col("pk_a"),
        F.col("pk_b"),
    )
    return top.select(
        "pk_a", "pk_b", "supp_ab", "lift_ppm",
        F.row_number().over(w).alias("rk"),
    )


@query(
    "q_skew_audit",
    priority=30,
    oracle="""
    WITH kc AS (
        SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS c
        FROM orders GROUP BY o_custkey
    ),
    t AS (
        SELECT CAST(sum(c) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(max(c) AS BIGINT) AS max_c
        FROM kc
    ),
    top AS (SELECT k, c FROM kc ORDER BY c DESC, k LIMIT 1)
    SELECT t.n_keys, t.max_c,
           CAST((1000000 * t.max_c) // t.total AS BIGINT) AS top_share_ppm,
           (SELECT k FROM top) AS top_key,
           CAST((SELECT count(*) FROM kc
                 WHERE length(bin(c)) = length(bin(t.max_c))) AS BIGINT)
               AS n_keys_in_top_octave
    FROM t
    """,
)
def q_skew_audit(spark, sf_dir):
    """B102: join-key skew audit — the operational report a pipeline runs
    BEFORE choosing a join strategy on a key: distinct-key count, the
    heaviest key and its corpus share in integer ppm, and how many keys
    share the top frequency octave (one mega-key → salt exactly it, as
    B75 does; a whole heavy octave → repartition or AQE skew-join). One
    map-side-combined rollup over the key, a 3-column scalar aggregate, a
    TakeOrdered(1) for the exemplar key, and an octave count using the
    C51 bit-length trick — the audit costs one scan regardless of corpus
    size, and the per-key frame it aggregates is exactly the shuffle the
    real join would perform, so its skew IS the join's skew."""
    kc = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)  # consumed 3x: totals, top-1, octave
    )
    t = kc.agg(
        F.sum("c").cast("bigint").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("c").cast("bigint").alias("max_c"),
    )
    top = kc.orderBy(F.col("c").desc(), F.col("k")).limit(1).select(
        F.col("k").alias("top_key")
    )
    octave = kc.join(F.broadcast(t)).where(
        F.length(F.expr("bin(c)")) == F.length(F.expr("bin(max_c)"))
    ).agg(F.count(F.lit(1)).alias("n_keys_in_top_octave"))
    return (
        t.crossJoin(F.broadcast(top))
        .crossJoin(F.broadcast(octave))
        .select(
            "n_keys",
            "max_c",
            F.expr("CAST((1000000 * max_c) div total AS BIGINT)").alias(
                "top_share_ppm"
            ),
            "top_key",
            "n_keys_in_top_octave",
        )
    )


# monotonically_increasing_id()'s stride between partitions: ids are
# (partition_id << 33) + row_index, so global_rank's per-partition index is
# exact only below this many rows per range partition.
_RANK_PARTITION_ROWS = 1 << 33


def global_rank(df, sort_cols, out_name="_rank", with_total=False):
    """Exact 1-based gap-free global rank over a TOTAL order with NO
    single-partition window.

    Plan: (1) range-repartition on the sort key (each task gets a
    contiguous, bounded key range; range-partition ids are ordered by the
    sort spec), (2) per-partition ``row_number`` with NO second exchange:
    ``sortWithinPartitions`` orders each range slice in place and
    ``monotonically_increasing_id()`` — whose documented value is
    ``(partition_id << 33) + row_index`` in the partition's physical row
    order, here the just-sorted total order — yields the 0-based
    per-partition index by subtracting the partition term (round 15: the
    old ``row_number`` window required ClusteredDistribution(_pid), which
    RangePartitioning does not satisfy, so EVERY caller paid a second
    data-scale hashpartitioning(_pid) exchange right after the range
    exchange; measured plan diff on q_customer_rfm: 30 → 21 Exchanges).
    Rows per partition are bounded by 2^33 (the rank fails loudly past
    it) — at larger scale raise the range partition count, exactly the
    knob this helper already rides.
    (3) per-partition row counts (a ≤#partitions-row aggregate) turned
    into rank offsets via a broadcast triangular self-join (no window at
    all, so the plan carries zero partitionless WindowExec).

    ``sort_cols`` are Column sort expressions (e.g. ``F.col("x").desc()``)
    forming a total order (callers include a key tiebreak); the same list
    drives the range partitioner and the row-number order, so the rank is
    bit-identical to the old window form. Returns ``df`` plus a BIGINT
    ``out_name`` column (and, when ``with_total``, a ``_total`` row-count
    column for rank arithmetic).
    """
    # Materialize the range-partitioned frame ONCE (round 15): the rank
    # joins per-partition offsets back on _pid, so the rn and counts
    # branches MUST see the identical partition layout — but each branch
    # replans the range exchange, whose boundary SAMPLE is only shared
    # when ReuseExchange happens to fire, and AQE can coalesce the two
    # reads differently (both failure modes were MEASURED this round:
    # 64% of theil_sen's ranked rows silently dropped under a default
    # 200-partition session; q_events_mannwhitney's prefix sums went
    # nondeterministically wrong at sf0.1). The eager localCheckpoint
    # freezes boundaries, layout and _pid in one materialization that
    # every branch reads — consistency by construction, not by optimizer
    # accident. Transient within-query build state (the C2 build-frame
    # precedent), not long-lived family state, so the checkpoint is the
    # right barrier kind; the explicit partition count keeps the width
    # cluster-scaled (defaultParallelism).
    par = df.sparkSession.sparkContext.defaultParallelism
    part = (
        df.repartitionByRange(par, *sort_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    rn = (
        part.sortWithinPartitions(*sort_cols)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn(
            "_rn",
            F.expr(f"_mid - (CAST(_pid AS BIGINT) * {_RANK_PARTITION_ROWS}) + 1"),
        )
        .drop("_mid")
    )
    # Invariant: every branch (rn, counts, and through counts offs and
    # total) derives from the one checkpointed `part`, so all of them see
    # its boundaries and `_pid`s. Build no branch from `df` again: a second
    # range exchange draws its own boundary sample, which can disagree with
    # `part`'s. The counts read `part`, not `rn`, as they need the layout
    # only, not the per-partition sort.
    counts = part.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    a, b = counts.alias("a"), counts.alias("b")
    # The partition-size guard rides `_off`, which the rank reads: a check
    # in a column nothing reads would be pruned away.
    offs = (
        a.join(F.broadcast(b), F.col("b._pid") < F.col("a._pid"), "left")
        .groupBy(F.col("a._pid").alias("_pid"), F.col("a._cnt").alias("_cnt"))
        .agg(
            F.when(
                F.col("a._cnt") < _RANK_PARTITION_ROWS,
                F.coalesce(F.sum("b._cnt"), F.lit(0)),
            )
            .otherwise(
                F.raise_error(
                    F.lit(
                        "global_rank: a range partition holds at least "
                        f"{_RANK_PARTITION_ROWS} rows"
                    )
                )
            )
            .alias("_off")
        )
    )
    ranked = (
        rn.join(F.broadcast(offs.select("_pid", "_off")), "_pid")
        .withColumn(out_name, (F.col("_rn") + F.col("_off")).cast("bigint"))
        .drop("_pid", "_rn", "_off")
    )
    if with_total:
        total = counts.agg(F.sum("_cnt").cast("bigint").alias("_total"))
        ranked = ranked.crossJoin(F.broadcast(total))
    return ranked


def global_running_sums(df, sort_cols, sums):
    """Exact global running sums over a TOTAL order with NO
    single-partition window — the prefix-sum sibling of :func:`global_rank`
    (same three-step plan: range-repartition on the sort key, per-range
    cumulative window partitioned on ``spark_partition_id()``, then
    per-partition totals turned into additive offsets via a broadcast
    triangular self-join). ``sums`` maps output column name -> input
    column name; each output is the cumulative sum of its input in
    ``sort_cols`` order, BIGINT. Used by the ECDF family (B144): at 100 TB
    every task cumulates one bounded key range and the offset table is
    |partitions| rows.

    Materialized root (round 15): same rationale as :func:`global_rank`
    — the offset join keys on _pid, so the cumulate and counts branches
    must see the identical boundaries/layout; each branch replanning the
    range exchange only shares the boundary sample when ReuseExchange
    happens to fire (q_events_mannwhitney's prefix sums were MEASURED
    nondeterministically wrong at sf0.1 without this). One eager
    localCheckpoint of the range-partitioned frame freezes it for every
    branch."""
    par = df.sparkSession.sparkContext.defaultParallelism
    part = (
        df.repartitionByRange(par, *sort_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = part
    for out, col in sums.items():
        run = run.withColumn(out, F.sum(col).over(w))
    counts = part.groupBy("_pid").agg(
        *[F.sum(col).alias(f"_t_{out}") for out, col in sums.items()]
    )
    a, b = counts.alias("a"), counts.alias("b")
    offs = (
        a.join(F.broadcast(b), F.col("b._pid") < F.col("a._pid"), "left")
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(
            *[
                F.coalesce(F.sum(f"b._t_{out}"), F.lit(0)).alias(f"_o_{out}")
                for out in sums
            ]
        )
    )
    joined = run.join(F.broadcast(offs), "_pid")
    for out in sums:
        joined = joined.withColumn(
            out, (F.col(out) + F.col(f"_o_{out}")).cast("bigint")
        )
    return joined.drop("_pid", *[f"_o_{out}" for out in sums])


def global_exact_ntile(df, n, sort_cols, out_name):
    """Exact ``ntile(n) OVER (ORDER BY sort_cols)`` with NO single-partition
    window — the 100 TB form of a global quantile score (round-4 verdict
    item 2: q_customer_rfm / q_pareto_deciles ran 3 resp. 1 partitionless
    ntile windows, i.e. the whole frame through ONE task).

    Builds on :func:`global_rank`, then recomputes ntile's bucket
    arithmetic from the exact global rank: with N rows and n buckets the
    first N%n buckets take ``N//n + 1`` rows — pure integer expressions,
    bit-identical to the SQL ``ntile`` on any engine and any partitioning.
    Returns ``df`` plus a BIGINT ``out_name`` bucket column.
    """
    ranked = global_rank(df, sort_cols, "_rank", with_total=True)
    # ntile(n): q = N div n, rem = N mod n; the first rem buckets hold q+1
    # rows (ranks 1.._cut), the rest hold q. CASE guards the q=0 branch
    # (N < n) so the DIV by _q is never evaluated there (ANSI-safe).
    bucket = F.expr(
        f"CAST(CASE WHEN _rank <= _cut THEN (_rank + _q) DIV (_q + 1) "
        f"ELSE _rem + ((_rank - _cut + _q - 1) DIV _q) END AS BIGINT)"
    )
    return (
        ranked.withColumn("_q", F.expr(f"_total DIV {n}"))
        .withColumn("_rem", F.expr(f"_total % {n}"))
        .withColumn("_cut", F.expr("_rem * (_q + 1)"))
        .withColumn(out_name, bucket)
        .drop("_total", "_rank", "_q", "_rem", "_cut")
    )


_RFM_ASOF = "1998-12-31"  # fixed "today" for recency — reproducible


@query(
    "q_customer_rfm",
    priority=35,  # round-4 window is full (49/50) — first driver row in r5
    oracle=f"""
    WITH base AS (
        SELECT o_custkey AS ck,
               CAST(date_diff('day', max(o_orderdate), DATE '{_RFM_ASOF}')
                    AS BIGINT) AS rec_days,
               CAST(count(*) AS BIGINT) AS freq,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS monetary_cents
        FROM orders GROUP BY o_custkey
    )
    SELECT ck, rec_days, freq, monetary_cents,
           CAST(ntile(5) OVER (ORDER BY rec_days ASC, ck) AS BIGINT) AS r_score,
           CAST(ntile(5) OVER (ORDER BY freq DESC, ck) AS BIGINT) AS f_score,
           CAST(ntile(5) OVER (ORDER BY monetary_cents DESC, ck) AS BIGINT)
               AS m_score
    FROM base
    """,
)
def q_customer_rfm(spark, sf_dir):
    """B103: RFM segmentation — recency (days since last order, against a
    FIXED as-of date so the result is reproducible), frequency, monetary
    (exact integer cents), each scored into quintiles. The classic
    customer-value crosstab every warehouse ships. Recency/monetary stay
    in exact integers (date_diff days, floor-cents) so quintile boundaries
    cannot drift on float rounding, and every quintile ORDER BY carries
    the ck tiebreak — bucket assignment is a total order, identical on
    any partitioning and engine. Plan: one |customers|-group rollup off
    the fact scan, then three :func:`global_exact_ntile` passes over the
    AGGREGATED frame — each is a range-repartition + bounded-partition
    row_number + broadcast offset join, so no task ever holds more than
    one range slice (the round-4 plan sent all |customers| rows through
    ONE task per score; this one spreads every stage across the cluster
    while staying bit-identical to the SQL ntile oracle), re-joined on ck."""
    o = table(spark, sf_dir, "orders")
    base = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.datediff(
            F.lit(_RFM_ASOF).cast("date"), F.max("o_orderdate")
        )
        .cast("bigint")
        .alias("rec_days"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
        .cast("bigint")
        .alias("monetary_cents"),
    )
    # Round 14 (guide §2.4): the per-customer rollup feeds three ntile
    # passes plus the final re-join, and each reference replanted the
    # orders-scale aggregate (43 Exchanges planned). One materialization
    # of the frame all four consumers must hold anyway runs the fact scan
    # once.
    base = base.localCheckpoint(eager=True)
    r = global_exact_ntile(
        base.select("ck", "rec_days"),
        5,
        [F.col("rec_days").asc(), F.col("ck")],
        "r_score",
    ).select("ck", "r_score")
    f = global_exact_ntile(
        base.select("ck", "freq"),
        5,
        [F.col("freq").desc(), F.col("ck")],
        "f_score",
    ).select("ck", "f_score")
    m = global_exact_ntile(
        base.select("ck", "monetary_cents"),
        5,
        [F.col("monetary_cents").desc(), F.col("ck")],
        "m_score",
    ).select("ck", "m_score")
    return base.join(r, "ck").join(f, "ck").join(m, "ck").select(
        "ck", "rec_days", "freq", "monetary_cents",
        "r_score", "f_score", "m_score",
    )


@query(
    "q_events_mad_outliers",
    priority=35,  # round-4 window full — first driver row in round 5
    oracle="""
    WITH c AS (
        SELECT event_type, event_id,
               CAST(floor(coalesce(value, 0) * 100) AS BIGINT) AS cents
        FROM events
    ),
    med AS (
        SELECT event_type, quantile_cont(cents, 0.5) AS med
        FROM c GROUP BY event_type
    ),
    dev AS (
        SELECT c.event_type, c.event_id, c.cents, m.med,
               abs(c.cents - m.med) AS adev
        FROM c JOIN med m ON c.event_type = m.event_type
    ),
    mad AS (
        SELECT event_type, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(max(d.med), 6) AS median_cents,
           round(max(m.mad), 6) AS mad_cents,
           CAST(count(CASE WHEN d.adev > 3 * 1.4826 * m.mad THEN 1 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    GROUP BY d.event_type
    """,
)
def q_events_mad_outliers(spark, sf_dir):
    """B104: robust anomaly detection — median absolute deviation per
    event_type, flagging |x - median| > 3·1.4826·MAD (the standard
    normal-consistent robust z-score; mean/stddev versions break on the
    very outliers they hunt). Inputs are exact integer cents; both
    medians use linear-interpolation percentile (``percentile(x, 0.5)``
    = DuckDB ``quantile_cont`` — the B31-pinned convention) and the two
    reported medians round(…,6) at the boundary. Plan: two
    |event_types|-row aggregate tables broadcast back onto the scan —
    at 100 TB the exact median becomes approx_percentile or the C61s
    streaming octave sketch, with this exact form as the verification
    twin; the flag predicate fuses into the joined scan, so the whole
    audit is two passes with no row-level shuffle."""
    c = table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.expr("CAST(floor(coalesce(value, 0) * 100) AS BIGINT)").alias(
            "cents"
        ),
    )
    med = c.groupBy("event_type").agg(
        F.expr("percentile(cents, 0.5)").alias("med")
    )
    dev = c.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        "cents",
        "med",
        F.abs(F.col("cents") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max("med"), 6).alias("median_cents"),
            F.round(F.max("mad"), 6).alias("mad_cents"),
            F.count(
                F.when(F.col("adev") > 3 * 1.4826 * F.col("mad"), 1)
            ).alias("n_outliers"),
        )
    )


# Benford expected first-digit frequencies in ppm: round(log10(1+1/d)*1e6).
# Precomputed constants — no libm at query time, engine-identical.
_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910,
    5: 79181, 6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


@query(
    "q_benford_audit",
    priority=35,  # round-4 window full — first driver row in round 5
    oracle=f"""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM orders WHERE o_totalprice >= 1
    ),
    t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM d),
    obs AS (
        SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit
    )
    SELECT o.digit, o.n,
           CAST((1000000 * o.n) // t.total AS BIGINT) AS observed_ppm,
           CAST(CASE o.digit
                {" ".join(f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items())}
           END AS BIGINT) AS benford_ppm
    FROM obs o, t
    """,
)
def q_benford_audit(spark, sf_dir):
    """B105: Benford's-law first-digit audit — the classic fabricated-data
    / unit-mixing detector for financial-style columns (naturally-grown
    magnitudes follow log-uniform first digits; synthetic, capped, or
    unit-mixed columns don't). First digit extracted by integer→string
    head (no log10 at query time; the Benford expectations are
    precomputed ppm literals), observed share in exact integer ppm.
    TPC-H totals are uniform-ish so the fixture audit correctly FLAGS
    them as non-Benford — the operator reports, the pipeline judges. One
    9-group rollup; a 1-row total broadcast; nothing else."""
    d = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") >= 1)
        .select(
            F.expr(
                "CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) "
                "AS STRING), 1, 1) AS BIGINT)"
            ).alias("digit")
        )
    )
    t = d.agg(F.count(F.lit(1)).alias("total"))
    obs = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    benford = F.expr(
        "CAST(CASE digit "
        + " ".join(f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items())
        + " END AS BIGINT)"
    )
    return (
        obs.crossJoin(F.broadcast(t))
        .select(
            "digit",
            "n",
            F.expr("CAST((1000000 * n) div total AS BIGINT)").alias(
                "observed_ppm"
            ),
            benford.alias("benford_ppm"),
        )
    )


@query(
    "q_pareto_deciles",
    priority=35,  # round-4 window full — first driver row in round 5
    oracle="""
    WITH rev AS (
        SELECT l_partkey AS pk,
               CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem GROUP BY l_partkey
    ),
    t AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM rev),
    ranked AS (
        SELECT pk, cents,
               ntile(10) OVER (ORDER BY cents DESC, pk) AS decile
        FROM rev
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(cents) AS BIGINT) AS cents,
           CAST((1000000 * sum(cents)) // max(t.total) AS BIGINT) AS share_ppm
    FROM ranked, t
    GROUP BY decile
    """,
)
def q_pareto_deciles(spark, sf_dir):
    """B107: Pareto concentration curve — parts ranked by revenue, cut
    into deciles, each decile's share of total revenue in exact ppm (the
    80/20 audit: a healthy catalog shows the top decile carrying most
    revenue; a flat curve means the ranking dimension is meaningless).
    Revenue stays in integer cents; decile assignment is exact-ntile over
    the AGGREGATED |parts| frame with a pk tiebreak (total order — engine-
    and partitioning-independent) via :func:`global_exact_ntile`:
    range-repartition + bounded-partition row_number + broadcast offsets,
    so no single task ever holds the whole |parts| frame (the round-4 form
    was one partitionless ntile window). One fact shuffle (the pk rollup),
    one range shuffle of the dimension-scale aggregate, one 1-row total
    broadcast, a 10-row output."""
    rev = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("pk"))
        .agg(
            F.sum(F.expr("CAST(floor(l_extendedprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("cents")
        )
    )
    t = rev.agg(F.sum("cents").cast("bigint").alias("total"))
    ranked = global_exact_ntile(
        rev, 10, [F.col("cents").desc(), F.col("pk")], "decile"
    )
    return (
        ranked.crossJoin(F.broadcast(t))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("cents").cast("bigint").alias("cents"),
            F.expr(
                "CAST((1000000 * sum(cents)) div max(total) AS BIGINT)"
            ).alias("share_ppm"),
        )
    )


@query(
    "q_agg_gini",
    priority=30,
    oracle="""
    WITH x AS (
        SELECT o_custkey,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ),
    r AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents, o_custkey) AS i
        FROM x
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS total_cents,
               sum(CAST(i AS HUGEINT) * cents) AS iwx
        FROM r
    )
    SELECT n, total_cents,
           round((2.0 * CAST(iwx AS DOUBLE)
                  - (n + 1.0) * CAST(total_cents AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(total_cents AS DOUBLE)),
                 6) AS gini
    FROM s
    """,
)
def q_agg_gini(spark, sf_dir):
    """B118: Gini coefficient of customer spend — THE inequality /
    concentration summary (0 = uniform, →1 = one whale), the one-number
    companion to B107's Pareto decile curve, computed from the
    rank-weighted identity G = (2Σi·x_i − (n+1)Σx) / (nΣx) over
    ascending-sorted exact floor-cents totals.

    Determinism: ranks come from a (cents, custkey) total order; Σi·x_i
    aggregates in wide exact integers (DECIMAL(38,0) Spark / HUGEINT
    DuckDB — rank×cents overflows int64 once n·max_cents passes ~9e18,
    which a 100 TB customer base genuinely reaches), and exact sums are
    addend-order-free. The final expression is fixed-shape double math on
    three exact scalars, round(6).

    Plan: per-customer rollup shuffle, then :func:`global_rank` (range-
    partitioned — no single-partition window even though the rank is
    global), then a 1-row aggregate. At 100 TB: two shuffles and a scalar."""
    x = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    r = global_rank(
        x, [F.col("cents").asc(), F.col("o_custkey").asc()], out_name="i"
    )
    s = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.sum(F.col("i").cast("decimal(25,0)") * F.col("cents")).alias("iwx"),
    )
    gini = (
        2.0 * F.col("iwx").cast("double")
        - (F.col("n") + 1.0) * F.col("total_cents").cast("double")
    ) / (F.col("n").cast("double") * F.col("total_cents").cast("double"))
    return s.select("n", "total_cents", F.round(gini, 6).alias("gini"))


@query(
    "q_agg_entropy",
    priority=30,
    oracle="""
    WITH d AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               event_type
        FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
    ),
    c AS (
        SELECT day, event_type, CAST(count(*) AS BIGINT) AS n
        FROM d GROUP BY day, event_type
    ),
    t AS (
        SELECT day, event_type, n,
               CAST(sum(n) OVER (PARTITION BY day) AS BIGINT) AS tot
        FROM c
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(min(tot) AS BIGINT) AS n_events,
           round(sum(-1.0 * (n * 1.0 / tot) * ln(n * 1.0 / tot)), 6)
               AS entropy_nats
    FROM t GROUP BY day
    """,
)
def q_agg_entropy(spark, sf_dir):
    """B119: Shannon entropy of the daily event-type mix (nats) — the
    distribution-health alarm: entropy collapsing toward 0 means one type
    is flooding the stream (bot storm, ingestion loop), climbing toward
    ln(|types|) means uniform mix; with C74's no-log Gini-Simpson this
    gives both standard diversity indices, and the per-day trend is the
    drift signal.

    Float discipline: p = n/tot is a division of exact BIGINTs (per-row
    IEEE-identical), ln is the B50/C8-proven libm convention, and the
    summation runs over AT MOST |types| addends per day — but a float
    sum's addend order is engine-chosen, so this query is deliberately
    summed per (day, type) rows and rounded at 6 where the ≤|types|-term
    reassociation error (≲1e-15 here) cannot surface (the C74 route goes
    fully integer precisely because its Σn² has no such bound at corpus
    scale; entropy's log forces this compromise and the tight addend
    bound is what makes it safe). Plan: one (day, type) rollup with
    map-side partials, the per-day total rides a window on the same day
    partitioning, |days| output rows."""
    ev = table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    c = (
        ev.select(
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            "event_type",
        )
        .groupBy("day", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("day")
    t = c.withColumn("tot", F.sum("n").over(tot).cast("bigint"))
    p = F.col("n") * 1.0 / F.col("tot")
    return t.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.min("tot").cast("bigint").alias("n_events"),
        F.round(F.sum(-1.0 * p * F.log(p)), 6).alias("entropy_nats"),
    )


_SHIFT_SPLIT_DAY = 15  # first half vs second half of the fixture month


@query(
    "q_events_chisq_shift",
    priority=35,
    oracle=f"""
    WITH d AS (
        SELECT event_type,
               CASE WHEN CAST(epoch_us(ts) // 86400000000 AS BIGINT)
                         % 31 < {_SHIFT_SPLIT_DAY}
                    THEN 0 ELSE 1 END AS half
        FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
    ),
    c AS (
        SELECT event_type,
               CAST(count(*) FILTER (half = 0) AS BIGINT) AS n0,
               CAST(count(*) FILTER (half = 1) AS BIGINT) AS n1
        FROM d GROUP BY event_type
    ),
    tot AS (
        SELECT CAST(sum(n0) AS BIGINT) AS t0,
               CAST(sum(n1) AS BIGINT) AS t1
        FROM c
    ),
    t AS (SELECT event_type, n0, n1, t0, t1 FROM c CROSS JOIN tot)
    SELECT event_type, n0, n1,
           round(
             (CAST(n0 AS DOUBLE) / t0 - CAST(n1 AS DOUBLE) / t1)
             * (CAST(n0 AS DOUBLE) / t0 - CAST(n1 AS DOUBLE) / t1)
             / ((CAST(n0 AS DOUBLE) / t0 + CAST(n1 AS DOUBLE) / t1)
                / 2.0), 6) AS chisq_term
    FROM t
    """,
)
def q_events_chisq_shift(spark, sf_dir):
    """B120: distribution-shift test statistic — per event type, the
    chi-square-style term ((p0 − p1)² / p̄) between the first- and
    second-half event-type mixes of the window: the drift detector run
    between two crawls / two ingestion windows before concluding "same
    pipeline, same data" (C57 diffs CONTENT; this tests the SHAPE of the
    mix). Per-type terms are emitted un-summed so the hot type is
    attributable — summing (× N/2) gives the aggregate statistic, but the
    per-type view is what an on-call actually reads.

    Float discipline: each term is a FIXED expression over four exact
    BIGINTs (n0, n1, t0, t1) — per-row IEEE-identical, no float
    aggregation at all (the C83 rule), round(6) at the boundary. Plan:
    one (type) rollup with conditional counts, totals via a 1-row
    aggregate broadcast back (the C83 crossJoin rule — no partitionless
    window, even over a ≤|types|-row frame), |types| output rows."""
    ev = table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    d = ev.select(
        "event_type",
        F.when(
            F.expr("(unix_micros(ts) div 86400000000) % 31")
            < _SHIFT_SPLIT_DAY,
            0,
        )
        .otherwise(1)
        .alias("half"),
    )
    c = d.groupBy("event_type").agg(
        F.sum((F.col("half") == 0).cast("bigint")).alias("n0"),
        F.sum((F.col("half") == 1).cast("bigint")).alias("n1"),
    )
    tot = c.agg(
        F.sum("n0").cast("bigint").alias("t0"),
        F.sum("n1").cast("bigint").alias("t1"),
    )
    t = c.crossJoin(F.broadcast(tot))
    p0 = F.col("n0").cast("double") / F.col("t0")
    p1 = F.col("n1").cast("double") / F.col("t1")
    term = (p0 - p1) * (p0 - p1) / ((p0 + p1) / 2.0)
    return t.select(
        "event_type", "n0", "n1", F.round(term, 6).alias("chisq_term")
    )


# --- B141: customer tier migration matrix ------------------------------------

_TIER_SPLIT_DATE = "1996-07-01"  # timeline midpoint: period 1 < split <= 2
_TIER_N = 5  # revenue quintiles per period


@query(
    "q_customer_tier_migration",
    priority=30,
    oracle=f"""
    WITH spend AS (
        SELECT o_custkey AS cust,
               CASE WHEN o_orderdate < TIMESTAMP '{_TIER_SPLIT_DATE}'
                    THEN 1 ELSE 2 END AS period,
               CAST(sum(CAST(round(100 * o_totalprice) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT cust, period, cents,
               CAST(ntile({_TIER_N}) OVER (
                   PARTITION BY period ORDER BY cents, cust
               ) AS BIGINT) AS tier
        FROM spend
    ),
    both_p AS (
        SELECT a.cust, a.tier AS tier_p1, b.tier AS tier_p2
        FROM ranked a JOIN ranked b
          ON a.cust = b.cust AND a.period = 1 AND b.period = 2
    )
    SELECT tier_p1, tier_p2,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM both_p GROUP BY tier_p1, tier_p2
    """,
)
def q_customer_tier_migration(spark, sf_dir):
    """B141: customer TIER-MIGRATION matrix — each customer's revenue
    quintile in the first half of the timeline vs the second, as the
    {_TIER_N}x{_TIER_N} transition matrix (who climbed, who churned
    toward the bottom tier, how sticky the top is). The longitudinal
    readout B103's single-snapshot RFM cannot express — retention teams
    act on the MOVEMENT, not the level. Tiers are exact quintiles with a
    full (cents, cust) tie-break, computed per period via
    global_exact_ntile (range-partitioned global rank + integer bucket
    arithmetic — NO partitionless ntile window, the round-4 rule; the
    oracle's ntile is bit-identical to that arithmetic by construction).
    Customers active in only one period drop from the matrix (they are
    B94 cohort-retention's subject, not migration's).

    Plan/scale: one orders-scale rollup, then two period-partitioned
    global sorts over the |customers|-row frame and a cust equi-join;
    output is at most {_TIER_N}² rows."""
    spend = (
        table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate").isNotNull()
            & F.col("o_totalprice").isNotNull()
        )
        .select(
            F.col("o_custkey").alias("cust"),
            F.when(
                F.col("o_orderdate") < F.lit(_TIER_SPLIT_DATE).cast(
                    "timestamp"
                ),
                F.lit(1),
            )
            .otherwise(F.lit(2))
            .alias("period"),
            F.expr("CAST(round(100 * o_totalprice) AS BIGINT)").alias(
                "cents"
            ),
        )
        .groupBy("cust", "period")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
        # Round 14 (guide §2.4): the per-(customer, period) rollup feeds
        # two ntile chains; one materialization runs the orders scan once
        # (29 Exchanges planned before).
        .localCheckpoint(eager=True)
    )
    p1 = global_exact_ntile(
        spend.where(F.col("period") == 1),
        _TIER_N,
        ["cents", "cust"],
        "tier_p1",
    ).select("cust", "tier_p1")
    p2 = global_exact_ntile(
        spend.where(F.col("period") == 2),
        _TIER_N,
        ["cents", "cust"],
        "tier_p2",
    ).select("cust", "tier_p2")
    return (
        p1.join(p2, "cust")
        .groupBy("tier_p1", "tier_p2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )


# --- B171: supplier similarity by customer-set overlap -------------------------

_COPURCHASE_CAP = 64  # skip customers buying from more suppliers (hot keys)
_COPURCHASE_TOP_K = 20
_COPURCHASE_MIN_INTER = 2


@query(
    "q_graph_copurchase",
    priority=30,  # round-9 addition: first driver row in round 10
    oracle=f"""
    WITH sc AS (
        SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    kept AS (
        SELECT ck FROM sc GROUP BY ck
        HAVING count(*) <= {_COPURCHASE_CAP}
    ),
    scc AS (SELECT sk, sc.ck FROM sc JOIN kept ON sc.ck = kept.ck),
    totals AS (SELECT sk, CAST(count(*) AS BIGINT) AS t FROM scc GROUP BY sk),
    inter AS (
        SELECT a.sk AS supp_a, b.sk AS supp_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM scc a JOIN scc b ON a.ck = b.ck AND a.sk < b.sk
        GROUP BY 1, 2
        HAVING count(*) >= {_COPURCHASE_MIN_INTER}
    ),
    scored AS (
        SELECT supp_a, supp_b, n_shared,
               CAST((1000000 * n_shared) // (ta.t + tb.t - n_shared)
                    AS BIGINT) AS jaccard_ppm
        FROM inter
        JOIN totals ta ON ta.sk = supp_a
        JOIN totals tb ON tb.sk = supp_b
    )
    SELECT supp_a, supp_b, n_shared, jaccard_ppm, rnk FROM (
        SELECT *, CAST(row_number() OVER (
                   ORDER BY jaccard_ppm DESC, supp_a, supp_b) AS INTEGER)
                   AS rnk
        FROM scored
    ) WHERE rnk <= {_COPURCHASE_TOP_K}
    """,
)
def q_graph_copurchase(spark, sf_dir):
    """B171: supplier-pair similarity by customer-set Jaccard — the
    entity-overlap graph analytic ("suppliers serving the same
    customers") that complements B101's item-lift: B101 scores co-
    occurrence IN one basket, this scores overlap of each entity's whole
    neighborhood, floor-ppm Jaccard from three exact BIGINTs. The
    bipartite blow-up is bounded the PPJoin way: pair generation fans
    out per shared CUSTOMER, so customers buying from more than
    {_COPURCHASE_CAP} suppliers (hot keys: Σ deg² killers, and
    similarity-information-free — everyone shares them) are excluded
    from BOTH the pair counts and the per-supplier totals, keeping the
    subsample self-consistent (exact Jaccard of the capped relation, not
    a biased estimate of the raw one). Two aggregates + one equi-self-
    join on ck; totals broadcast; top-k via TakeOrdered."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    sc = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("l_suppkey").alias("sk"), F.col("o_custkey").alias("ck"))
        .distinct()
    )
    kept = (
        sc.groupBy("ck")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") <= _COPURCHASE_CAP)
        .select("ck")
    )
    # Round 14 (guide §2.4, the round-10/11 measured-barrier policy): the
    # capped edge list feeds THREE consumers (totals + both sides of the
    # pair self-join), and each reference replanted the lineitem⋈orders
    # join + distinct + cap semi-join (19 Exchanges / 5 SortMergeJoins
    # planned). One materialization runs the bipartite build once; the
    # checkpoint is the (sk, ck) edge frame the self-join must hold anyway.
    scc = sc.join(kept, "ck", "left_semi").localCheckpoint(eager=True)
    totals = scc.groupBy("sk").agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    inter = (
        scc.alias("a")
        .join(
            scc.alias("b"),
            (F.col("a.ck") == F.col("b.ck")) & (F.col("a.sk") < F.col("b.sk")),
        )
        .groupBy(F.col("a.sk").alias("supp_a"), F.col("b.sk").alias("supp_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= _COPURCHASE_MIN_INTER)
    )
    ta = F.broadcast(totals.select(F.col("sk").alias("supp_a"), F.col("t").alias("ta")))
    tb = F.broadcast(totals.select(F.col("sk").alias("supp_b"), F.col("t").alias("tb")))
    scored = (
        inter.join(ta, "supp_a")
        .join(tb, "supp_b")
        .select(
            "supp_a",
            "supp_b",
            "n_shared",
            F.expr("(1000000 * n_shared) div (ta + tb - n_shared)")
            .cast("bigint")
            .alias("jaccard_ppm"),
        )
    )
    top = scored.orderBy(
        F.col("jaccard_ppm").desc(), "supp_a", "supp_b"
    ).limit(_COPURCHASE_TOP_K)
    from pyspark.sql import Window as W

    w = W.orderBy(F.col("jaccard_ppm").desc(), "supp_a", "supp_b")
    return top.select(
        "supp_a",
        "supp_b",
        "n_shared",
        "jaccard_ppm",
        F.row_number().over(w).cast("int").alias("rnk"),
    )


# --- B195: ABC-XYZ inventory classification ------------------------------------

_ABC_A_PCT = 70
_ABC_B_PCT = 90


@query(
    "q_part_abc_xyz",
    priority=30,  # round-11 addition: first driver row in round 12
    oracle=f"""
    WITH rev AS (
        SELECT l_partkey AS pk,
               CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem GROUP BY l_partkey
    ),
    t AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM rev),
    abc AS (
        SELECT pk, cents,
               CAST(sum(cents) OVER (
                   ORDER BY cents DESC, pk
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM rev
    ),
    abc_cls AS (
        SELECT pk, cents,
               CASE WHEN 100 * (cum - cents) < {_ABC_A_PCT} * t.total
                        THEN 'A'
                    WHEN 100 * (cum - cents) < {_ABC_B_PCT} * t.total
                        THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM abc CROSS JOIN t
    ),
    monthly AS (
        SELECT l_partkey AS pk,
               year(CAST(l_shipdate AS DATE)) * 12
                   + month(CAST(l_shipdate AS DATE)) AS mon_idx,
               CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS q
        FROM lineitem WHERE l_shipdate IS NOT NULL
        GROUP BY 1, 2
    ),
    xyz AS (
        SELECT pk,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(q) AS BIGINT) AS s,
               CAST(sum(q * q) AS BIGINT) AS qq
        FROM monthly GROUP BY pk
    ),
    xyz_cls AS (
        SELECT pk, s AS qty,
               CASE WHEN n < 2 THEN 'Z'
                    WHEN 4 * n * (n * qq - s * s) < (n - 1) * s * s
                        THEN 'X'
                    WHEN n * (n * qq - s * s) < (n - 1) * s * s THEN 'Y'
                    ELSE 'Z' END AS xyz_class
        FROM xyz
    )
    SELECT a.abc_class, x.xyz_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(a.cents) AS BIGINT) AS revenue_cents,
           CAST((1000000 * sum(a.cents)) // max(t.total) AS BIGINT)
               AS revenue_ppm,
           CAST(sum(x.qty) AS BIGINT) AS total_qty
    FROM abc_cls a JOIN xyz_cls x USING (pk) CROSS JOIN t
    GROUP BY a.abc_class, x.xyz_class
    """,
)
def q_part_abc_xyz(spark, sf_dir):
    """B195: ABC-XYZ inventory classification — the supply-chain planning
    matrix: ABC cuts parts by cumulative revenue contribution (A carries
    the first {_ABC_A_PCT}%, B to {_ABC_B_PCT}%, C the tail — B107's
    Pareto curve turned into the actionable class label), XYZ cuts them
    by demand VOLATILITY (coefficient of variation of monthly shipped
    quantity: X steady cv < 1/2, Y seasonal cv < 1, Z erratic — or under
    2 observed months, where cv is undefined). The 3×3 release is the
    table a planner sets service levels from (AX: automate; CZ: make to
    order).

    Exactness: BOTH class boundaries are integer cross-multiplications —
    ABC via 100·(cum − cents) < pct·total (a part is in A if it STARTS
    before the {_ABC_A_PCT}% line), XYZ via the cv² identity
    cv < k ⟺ k²·n·(n·Σq² − S²) < (n−1)·S² — so no float ever decides a
    class and the matrix hashes identically on any engine/partitioning.
    Plan/scale: the cumulative revenue uses :func:`global_running_sums`
    (range-repartition + per-range prefix + broadcast offsets — NO
    single-partition window; the round-4 B107/B103 discipline); monthly
    demand is one (part, month) hash rollup collapsed to |parts| rows;
    the release is a ≤9-row rollup with the 1-row total broadcast."""
    li = table(spark, sf_dir, "lineitem")
    # Round 14 (guide §2.4): the |parts|-row revenue rollup feeds the
    # total, the prefix-sum pass (whose run/counts branches each reference
    # it) and the ABC release — checkpointing the catalog-bounded frame
    # runs the lineitem rollup once instead of per branch (16 Exchanges
    # planned before).
    rev = (
        li.groupBy(F.col("l_partkey").alias("pk"))
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
        .localCheckpoint(eager=True)
    )
    tot = rev.agg(F.sum("cents").cast("bigint").alias("total"))
    run = global_running_sums(
        rev.withColumn("neg", (-F.col("cents")).cast("bigint")),
        ["neg", "pk"],
        {"cum": "cents"},
    )
    abc = run.crossJoin(F.broadcast(tot)).select(
        "pk",
        "cents",
        F.when(
            100 * (F.col("cum") - F.col("cents"))
            < _ABC_A_PCT * F.col("total"),
            F.lit("A"),
        )
        .when(
            100 * (F.col("cum") - F.col("cents"))
            < _ABC_B_PCT * F.col("total"),
            F.lit("B"),
        )
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )
    monthly = (
        li.where(F.col("l_shipdate").isNotNull())
        .groupBy(
            F.col("l_partkey").alias("pk"),
            (
                F.year("l_shipdate") * 12 + F.month("l_shipdate")
            ).alias("mon_idx"),
        )
        .agg(
            F.sum(F.floor("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("q")
        )
    )
    xyz = monthly.groupBy("pk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("s"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("qq"),
    )
    var_num = F.col("n") * F.col("qq") - F.col("s") * F.col("s")
    mean_den = (F.col("n") - 1) * F.col("s") * F.col("s")
    xyz_cls = xyz.select(
        "pk",
        F.col("s").alias("qty"),
        F.when(F.col("n") < 2, F.lit("Z"))
        .when(4 * F.col("n") * var_num < mean_den, F.lit("X"))
        .when(F.col("n") * var_num < mean_den, F.lit("Y"))
        .otherwise(F.lit("Z"))
        .alias("xyz_class"),
    )
    return (
        abc.join(xyz_cls, "pk")
        .crossJoin(F.broadcast(tot))
        .groupBy("abc_class", "xyz_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
            F.expr(
                "CAST((1000000 * sum(cents)) div max(total) AS BIGINT)"
            ).alias("revenue_ppm"),
            F.sum("qty").cast("bigint").alias("total_qty"),
        )
    )


@query(
    "q_cohort_ltv",
    priority=30,  # round-11 addition: first driver row in round 12
    oracle="""
    WITH o AS (
        SELECT o_custkey,
               CAST(year(CAST(o_orderdate AS DATE)) * 12
                    + month(CAST(o_orderdate AS DATE)) AS BIGINT) AS ym,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderdate IS NOT NULL
    ),
    first_ym AS (
        SELECT o_custkey, CAST(min(ym) AS BIGINT) AS cohort_ym
        FROM o GROUP BY o_custkey
    ),
    sizes AS (
        SELECT cohort_ym, CAST(count(*) AS BIGINT) AS cohort_size
        FROM first_ym GROUP BY cohort_ym
    ),
    cells AS (
        SELECT f.cohort_ym, o.ym - f.cohort_ym AS age_m,
               CAST(sum(o.cents) AS BIGINT) AS period_cents
        FROM o JOIN first_ym f USING (o_custkey)
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT cohort_ym, age_m, period_cents,
               CAST(sum(period_cents) OVER
                    (PARTITION BY cohort_ym ORDER BY age_m
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_cents
        FROM cells
    )
    SELECT c.cohort_ym, c.age_m, s.cohort_size, c.period_cents, c.cum_cents,
           CAST(c.cum_cents // s.cohort_size AS BIGINT) AS ltv_cents
    FROM cum c JOIN sizes s USING (cohort_ym)
    """,
)
def q_cohort_ltv(spark, sf_dir):
    """B199: cohort lifetime-value triangle — the revenue companion to
    B94's cohort retention: customers are grouped by first-order month
    (their acquisition cohort) and every later order's revenue lands in
    the (cohort, age-in-months) cell; the release carries the period
    revenue, the running cumulative revenue, and cumulative revenue PER
    ACQUIRED CUSTOMER — the LTV curve a growth team reads against CAC,
    and the payback-period input (first age where ltv_cents crosses
    acquisition cost). Month arithmetic uses the explicit portable
    ``year*12 + month`` index throughout (the D17 canary pins that month
    DIFFERENCES must never use engine month-diff primitives).

    Cross-engine float shape: NO float ever — cohort keys, ages,
    sizes, period and cumulative revenue are exact BIGINTs (floor-cents
    at the scan) and the per-customer LTV is released as the exact
    integer floor division ``cum_cents div cohort_size`` (a round(2)
    double release was built first and MEASURED to hit a real .575
    half-way case at sf0.1 where the engines' half-rounding of an
    inexact double diverges — the D5 canary's hazard class; the floor
    release is the repo's revenue_ppm convention instead). Plan/scale: one |customers|-row
    first-order rollup, one shuffle equi-join of orders with it on
    custkey (both sides hash-partition on the same key; at 100 TB the
    orders side dominates and the |customers| side is still far too big
    to broadcast — the shuffle is the correct plan), then a
    bounded-key (|months| x |ages|) hash aggregate; the cumulative
    window partitions by cohort over ≤|months| rows; release ≤
    |months|²/2 rows."""
    o = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate").isNotNull())
        .select(
            "o_custkey",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("ym"),
            F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    )
    first_ym = o.groupBy("o_custkey").agg(
        F.min("ym").cast("bigint").alias("cohort_ym")
    )
    sizes = first_ym.groupBy("cohort_ym").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size")
    )
    cells = (
        o.join(first_ym, "o_custkey")
        .groupBy("cohort_ym", (F.col("ym") - F.col("cohort_ym")).alias("age_m"))
        .agg(F.sum("cents").cast("bigint").alias("period_cents"))
    )
    w = (
        Window.partitionBy("cohort_ym")
        .orderBy("age_m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cells.select(
        "cohort_ym",
        "age_m",
        "period_cents",
        F.sum("period_cents").over(w).cast("bigint").alias("cum_cents"),
    )
    return cum.join(F.broadcast(sizes), "cohort_ym").select(
        "cohort_ym",
        "age_m",
        "cohort_size",
        "period_cents",
        "cum_cents",
        F.expr("CAST(cum_cents div cohort_size AS BIGINT)").alias(
            "ltv_cents"
        ),
    )


@query(
    "q_part_safety_stock",
    priority=30,  # round-11 addition: first driver row in round 12
    oracle="""
    WITH wk AS (
        SELECT l_partkey,
               date_diff('day', DATE '1970-01-01',
                         CAST(l_shipdate AS DATE)) // 7 AS w,
               CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS q
        FROM lineitem WHERE l_shipdate IS NOT NULL
        GROUP BY 1, 2
    ),
    span AS (
        SELECT CAST(max(w) - min(w) + 1 AS BIGINT) AS n_weeks FROM wk
    ),
    per_part AS (
        SELECT l_partkey,
               CAST(count(*) AS BIGINT) AS weeks_observed,
               CAST(sum(q) AS BIGINT) AS s,
               CAST(sum(q * q) AS BIGINT) AS qq
        FROM wk GROUP BY l_partkey
    )
    SELECT l_partkey, weeks_observed, s AS total_qty,
           CAST((1000 * s) // n_weeks AS BIGINT) AS mu_mq_wk,
           round(sqrt(CAST(n_weeks * qq - s * s AS DOUBLE)
                      / CAST(n_weeks * (n_weeks - 1) AS DOUBLE)), 3)
               AS sigma_qty,
           round(1.645 * sqrt(2.0)
                 * sqrt(CAST(n_weeks * qq - s * s AS DOUBLE)
                        / CAST(n_weeks * (n_weeks - 1) AS DOUBLE)), 2)
               AS safety_stock,
           round(2.0 * CAST(s AS DOUBLE) / CAST(n_weeks AS DOUBLE)
                 + 1.645 * sqrt(2.0)
                   * sqrt(CAST(n_weeks * qq - s * s AS DOUBLE)
                          / CAST(n_weeks * (n_weeks - 1) AS DOUBLE)), 2)
               AS reorder_point
    FROM per_part CROSS JOIN span
    ORDER BY s DESC, l_partkey
    LIMIT 100
    """,
)
def q_part_safety_stock(spark, sf_dir):
    """B198: safety stock and reorder point per part under the classical
    normal-demand model (Silver-Meal / king-of-inventory textbook form:
    ``SS = z·sigma_w·sqrt(L)``, ``ROP = mu_w·L + SS`` with z = 1.645 —
    the 95% cycle-service level — and a modeled lead time of L = 2
    weeks): the planning companion to B195's ABC-XYZ classification —
    XYZ says WHICH parts are volatile, this says HOW MUCH buffer each
    needs. Weekly demand statistics are computed over the GLOBAL week
    span (a 1-row broadcast), so weeks a part sold nothing count as
    exact zero demand without materializing the |parts|x|weeks|
    zero-filled grid: zero weeks contribute 0 to both the sum and the
    sum of squares, so ``var = (span*Q - S^2) / (span*(span-1))`` over
    the observed rows alone is the sample variance of the FULL
    zero-filled series (the B99 gap-fill semantics at rollup cost).

    Cross-engine float shape: per-(part, week) quantities, S, Q and the
    variance numerator/denominator are exact BIGINTs; the weekly mean is
    released as the exact integer milli-qty floor-div (the B199/revenue
    _ppm convention); sigma/SS/ROP are ONE identical-text expression
    each over exact integers — IEEE sqrt of an exact-rational quotient
    (the B194 discipline), round(3)/round(2) at release. Plan/scale: one
    (part, week) hash aggregate collapses corpus-scale lineitem, one
    |parts|-row rollup, a 1-row span broadcast, and a TakeOrdered
    top-100 head (demand-desc, partkey tie-break) — no windows at all."""
    # Integer week bucket must be floor-div (`div 7`), never
    # cast-of-true-div: pre-1970 dates would truncate toward zero.
    wk = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate").isNotNull())
        .select(
            "l_partkey",
            F.expr(
                "CAST(datediff(CAST(l_shipdate AS DATE),"
                " DATE '1970-01-01') AS BIGINT) div 7"
            ).alias("w"),
            F.floor("l_quantity").cast("bigint").alias("qty"),
        )
        .groupBy("l_partkey", "w")
        .agg(F.sum("qty").cast("bigint").alias("q"))
    )
    span = wk.agg(
        (F.max("w") - F.min("w") + 1).cast("bigint").alias("n_weeks")
    )
    per_part = wk.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("weeks_observed"),
        F.sum("q").cast("bigint").alias("s"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("qq"),
    )
    sig = (
        "sqrt(CAST(n_weeks * qq - s * s AS DOUBLE)"
        " / CAST(n_weeks * (n_weeks - 1) AS DOUBLE))"
    )
    return (
        per_part.crossJoin(F.broadcast(span))
        .select(
            "l_partkey",
            "weeks_observed",
            F.col("s").alias("total_qty"),
            F.expr("CAST((1000 * s) div n_weeks AS BIGINT)").alias("mu_mq_wk"),
            F.expr(f"round({sig}, 3)").alias("sigma_qty"),
            F.expr(f"round(1.645 * sqrt(2.0) * {sig}, 2)").alias(
                "safety_stock"
            ),
            F.expr(
                "round(2.0 * CAST(s AS DOUBLE) / CAST(n_weeks AS DOUBLE)"
                f" + 1.645 * sqrt(2.0) * {sig}, 2)"
            ).alias("reorder_point"),
            F.col("s").alias("_s"),
        )
        .orderBy(F.col("_s").desc(), "l_partkey")
        .limit(100)
        .drop("_s")
    )


@query(
    "q_sales_pvm_bridge",
    priority=30,  # round-11 addition: first driver row in round 12
    oracle="""
    WITH pm AS (
        SELECT l_partkey,
               CAST(year(CAST(l_shipdate AS DATE)) * 12
                    + month(CAST(l_shipdate AS DATE)) AS BIGINT) AS mon_idx,
               CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents,
               CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem WHERE l_shipdate IS NOT NULL
        GROUP BY 1, 2
    ),
    bm AS (
        SELECT p.p_brand AS brand, pm.mon_idx,
               CAST(sum(pm.cents) AS BIGINT) AS r,
               CAST(sum(pm.qty) AS BIGINT) AS q
        FROM pm JOIN part p ON p.p_partkey = pm.l_partkey
        GROUP BY 1, 2
    ),
    lagd AS (
        SELECT brand, mon_idx, r, q,
               lag(r) OVER w AS r0, lag(q) OVER w AS q0
        FROM bm
        WINDOW w AS (PARTITION BY brand ORDER BY mon_idx)
    )
    SELECT brand, mon_idx, r0, r AS r1, q0, q AS q1,
           r - r0 AS delta_cents,
           CAST((r * q0 - q * r0) // q0 AS BIGINT) AS price_effect_cents,
           CAST(((q - q0) * r0) // q0 AS BIGINT) AS volume_effect_cents
    FROM lagd WHERE r0 IS NOT NULL
    """,
)
def q_sales_pvm_bridge(spark, sf_dir):
    """B200: price-volume revenue bridge per brand — the FP&A waterfall
    that decomposes each period-over-period revenue change into what
    came from PRICE (average realized unit price moved) and what came
    from VOLUME (units moved): ``delta = price + volume`` holds as an
    exact rational identity under the standard anchoring
    (price effect = (p1 − p0)·q1 = R1 − Q1·R0/Q0, volume effect =
    (Q1 − Q0)·p0 — current-volume price anchor, prior-price volume
    anchor; the property test pins the identity). Periods are observed
    ship months per brand in the D17-pinned portable ``year*12+month``
    index, compared observed-to-previous-observed (the B197 lag
    convention). At brand level the "price" movement folds in part mix —
    the bridge every revenue review starts from before drilling to part
    grain.

    Cross-engine float shape: NO float ever — R (floor-cents of
    extendedprice) and Q (floor units) are exact BIGINTs through both
    rollups and the lag; the two effects release as exact
    truncate-toward-zero integer divisions by q0 (a round(2) double
    release was built first and MEASURED to hit a real .865 half-way
    case at sf0.1 — the same D5 hazard B199 hit; both engines truncate
    negative integer div identically, the D7-pinned class, and the
    cross-multiplied numerators stay under 1e14 at the tested SFs —
    re-grain to kilocents before the bridge if a deployment's
    brand-month cents approach the BIGINT significand). Plan/scale:
    lineitem collapses FIRST to the (part, month) grain — corpus-scale
    rows never carry brand strings — then one partkey shuffle join
    against the part dim (both sides key-partitioned; the dim is too
    big to broadcast at 100 TB), a bounded (|brands| x |months|)
    rollup, and a brand-partitioned lag window over ≤|months| rows."""
    pm = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate").isNotNull())
        .groupBy(
            "l_partkey",
            (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
            .cast("bigint")
            .alias("mon_idx"),
        )
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
            F.sum(F.floor("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("qty"),
        )
    )
    part = table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_brand").alias("brand")
    )
    bm = (
        pm.join(part, pm.l_partkey == part.p_partkey)
        .groupBy("brand", "mon_idx")
        .agg(
            F.sum("cents").cast("bigint").alias("r"),
            F.sum("qty").cast("bigint").alias("q"),
        )
    )
    w = Window.partitionBy("brand").orderBy("mon_idx")
    lagd = bm.select(
        "brand",
        "mon_idx",
        "r",
        "q",
        F.lag("r").over(w).alias("r0"),
        F.lag("q").over(w).alias("q0"),
    )
    return lagd.where(F.col("r0").isNotNull()).select(
        "brand",
        "mon_idx",
        "r0",
        F.col("r").alias("r1"),
        "q0",
        F.col("q").alias("q1"),
        (F.col("r") - F.col("r0")).alias("delta_cents"),
        F.expr("CAST((r * q0 - q * r0) div q0 AS BIGINT)").alias(
            "price_effect_cents"
        ),
        F.expr("CAST(((q - q0) * r0) div q0 AS BIGINT)").alias(
            "volume_effect_cents"
        ),
    )


_ELAST_SLOPE_NUM = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
)
_ELAST_SLOPE_DEN = (
    "nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0)"
)
_ELAST_R2_DEN_Y = (
    "nullif(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE), 0.0)"
)


@query(
    "q_part_price_elasticity",
    priority=30,  # round-11 addition: first driver row in round 12
    oracle=f"""
    WITH r AS (
        SELECT l_partkey,
               CAST(round(1000000 * ln(
                   CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT) // CAST(floor(l_quantity) AS BIGINT)
               )) AS BIGINT) AS x,
               CAST(round(1000000 * ln(CAST(floor(l_quantity) AS BIGINT)))
                    AS BIGINT) AS y
        FROM lineitem
        WHERE l_quantity >= 1 AND l_extendedprice > 0
    ),
    pk AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM r GROUP BY l_partkey
    ),
    b AS (
        SELECT p.p_brand AS brand,
               CAST(sum(n) AS BIGINT) AS n,
               CAST(sum(sx) AS BIGINT) AS sx, CAST(sum(sy) AS BIGINT) AS sy,
               CAST(sum(sxy) AS BIGINT) AS sxy,
               CAST(sum(sxx) AS BIGINT) AS sxx,
               CAST(sum(syy) AS BIGINT) AS syy
        FROM pk JOIN part p ON p.p_partkey = pk.l_partkey
        GROUP BY 1
    )
    SELECT brand, n,
           round({_ELAST_SLOPE_NUM} / {_ELAST_SLOPE_DEN}, 6) AS elasticity,
           round({_ELAST_SLOPE_NUM} * {_ELAST_SLOPE_NUM}
                 / ({_ELAST_SLOPE_DEN} * {_ELAST_R2_DEN_Y}), 6) AS r2
    FROM b
    """,
)
def q_part_price_elasticity(spark, sf_dir):
    """B201: own-price demand elasticity per brand — the log-log OLS
    slope of quantity on realized unit price (elasticity is THE number a
    pricing team reads; the B200 bridge says what price DID to revenue,
    this estimates what it WOULD do): for every lineitem,
    x = ln(realized unit price) and y = ln(units), slope =
    (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²) per brand, with the fit's r² beside
    it. Realized price folds the discount in — within a brand the
    discount spread is the identifying price variation (classic
    elasticity-from-transactions shortcut; no instrument, and the
    docstring makes no causal claim the estimator can't).

    Cross-engine float shape: both regressors are D14's micro-nat
    quantization ``round(1e6·ln(exact integer))`` — the canary-pinned
    primitive (a 1-ulp libm divergence cannot flip the rounded BIGINT);
    the unit price is the exact truncating integer division
    rev_cents div qty (D7 class); all six moment sums are exact BIGINTs
    through both rollups (Σx² ≈ n·8.5e13 stays under 2^63 up to ~1e8
    rows per brand — re-center the quantized logs if a deployment
    exceeds that); slope and r² are ONE identical-text double
    expression each over the exact sums (n·Σxx and the cancellation
    happen in IEEE doubles on BOTH engines — bit-identical), D11 nullif
    guards, round(6) at release. Plan/scale: per-row logs collapse
    map-side into the (partkey) moment rollup — corpus-scale rows never
    carry brand strings — then one partkey shuffle join with the part
    dim and a |brands|-row rollup; release ≤|brands| rows, no windows."""
    r = (
        table(spark, sf_dir, "lineitem")
        .where((F.col("l_quantity") >= 1) & (F.col("l_extendedprice") > 0))
        .select(
            "l_partkey",
            F.expr(
                "CAST(round(1000000 * ln("
                "CAST(floor(l_extendedprice * (1 - l_discount) * 100)"
                " AS BIGINT) div CAST(floor(l_quantity) AS BIGINT)"
                ")) AS BIGINT)"
            ).alias("x"),
            F.expr(
                "CAST(round(1000000 * ln(CAST(floor(l_quantity) AS BIGINT)))"
                " AS BIGINT)"
            ).alias("y"),
        )
    )
    pk = r.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    part = table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_brand").alias("brand")
    )
    b = (
        pk.join(part, pk.l_partkey == part.p_partkey)
        .groupBy("brand")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("sx").cast("bigint").alias("sx"),
            F.sum("sy").cast("bigint").alias("sy"),
            F.sum("sxy").cast("bigint").alias("sxy"),
            F.sum("sxx").cast("bigint").alias("sxx"),
            F.sum("syy").cast("bigint").alias("syy"),
        )
    )
    return b.select(
        "brand",
        "n",
        F.expr(
            f"round({_ELAST_SLOPE_NUM} / {_ELAST_SLOPE_DEN}, 6)"
        ).alias("elasticity"),
        F.expr(
            f"round({_ELAST_SLOPE_NUM} * {_ELAST_SLOPE_NUM}"
            f" / ({_ELAST_SLOPE_DEN} * {_ELAST_R2_DEN_Y}), 6)"
        ).alias("r2"),
    )


@query(
    "q_trade_flow_matrix",
    priority=30,  # round-11 addition: first driver row in round 12
    oracle="""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           CAST(year(CAST(l.l_shipdate AS DATE)) AS BIGINT) AS ship_year,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS cents
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    WHERE l.l_shipdate IS NOT NULL
    GROUP BY 1, 2, 3
    """,
)
def q_trade_flow_matrix(spark, sf_dir):
    """B204: bilateral trade-flow matrix — discounted revenue by
    (customer nation, supplier nation, ship year): the generalized
    TPC-H Q7 "volume shipping" query (Q7 fixes two nations and
    cross-filters; this releases the full matrix a trade dashboard
    actually draws), and the five-table join shape the flagship
    `entry()` star lacks — BOTH fact-adjacent dims (customer and
    supplier) resolve simultaneously, which is the plan Catalyst must
    get right at 100 TB: lineitem⋈orders is the one unavoidable
    big-big shuffle (orderkey-keyed), customer and supplier resolve as
    key-partitioned joins (both far too big to broadcast at scale; AQE
    picks broadcast at test SFs — either is correct, neither is
    cartesian), and the two 25-row nation lookups broadcast. Rollup
    keys are bounded (|nations|² × |years| ≤ ~4.4k rows), so the final
    aggregate collapses map-side.

    Cross-engine float shape: revenue is the per-row exact
    ``floor(extendedprice·(1−discount)·100)`` BIGINT (per-row IEEE
    arithmetic is bit-identical across engines — the conftest
    discipline; B200's convention), summed as BIGINT; year via the
    D13-safe year() of an explicit DATE cast; NO float release."""
    li = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate").isNotNull())
        .select(
            "l_orderkey",
            "l_suppkey",
            F.year("l_shipdate").cast("bigint").alias("ship_year"),
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            )
            .cast("bigint")
            .alias("cents"),
        )
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("cnk"),
                                 F.col("n_name").alias("cust_nation"))),
            F.col("c_nationkey") == F.col("cnk"),
        )
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("snk"),
                                 F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("snk"),
        )
        .groupBy("cust_nation", "supp_nation", "ship_year")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
    )


@query(
    "q_orders_priority_aging",
    priority=30,  # round-11 addition: first driver row in round 12
    oracle="""
    WITH spans AS (
        SELECT o.o_orderkey, o.o_orderpriority,
               date_diff('day', DATE '1970-01-01',
                         CAST(o.o_orderdate AS DATE)) AS s,
               date_diff('day', DATE '1970-01-01',
                         CAST(min(l.l_shipdate) AS DATE)) AS e,
               CAST(floor(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderdate IS NOT NULL AND l.l_shipdate IS NOT NULL
          AND o.o_totalprice IS NOT NULL
        GROUP BY 1, 2, 3, 5
    ),
    ref AS (
        SELECT CAST(min(s) + (9 * (max(s) - min(s))) // 10 AS BIGINT) AS t
        FROM spans
    ),
    open_orders AS (
        SELECT sp.o_orderpriority, ref.t - sp.s AS age_days, sp.cents
        FROM spans sp CROSS JOIN ref
        WHERE sp.s <= ref.t AND sp.e > ref.t
    )
    SELECT o_orderpriority AS priority,
           CASE WHEN age_days <= 7 THEN '0-7'
                WHEN age_days <= 30 THEN '8-30'
                WHEN age_days <= 90 THEN '31-90'
                ELSE '90+' END AS age_bucket,
           CAST(count(*) AS BIGINT) AS n_open,
           CAST(sum(cents) AS BIGINT) AS open_cents,
           CAST(max(age_days) AS BIGINT) AS oldest_days
    FROM open_orders
    GROUP BY 1, 2
    """,
)
def q_orders_priority_aging(spark, sf_dir):
    """B207: open-order aging matrix — the work-in-progress report an
    operations review reads beside B202's Little's-law reconciliation:
    at a reference day (the 90% point of the order calendar, an exact
    integer floor-div of a 1-row broadcast — deterministic at any SF),
    every order that is OPEN (ordered on or before, first-shipped
    strictly after — the B172/B202 interval convention) lands in an
    (order priority × age bucket) cell with its count, tied-up revenue
    and the oldest age; the classic 0-7/8-30/31-90/90+ aging buckets,
    decided by exact integer day comparisons.

    Cross-engine float shape: NO float — days, cents, bucket edges and
    every release are exact BIGINTs; NULL-price orders filtered at the
    scan (the B203 lesson). Plan/scale: one orderkey shuffle join +
    per-order rollup to (s, e) — the corpus-scale step, shared shape
    with B202 — then a 1-row broadcast reference day, a filter that
    keeps only the open ledger (weeks of inventory, not the corpus),
    and a bounded (|priorities| × 4) hash aggregate."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate", "o_totalprice"
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    epoch = F.lit("1970-01-01").cast("date")
    spans = (
        o.where(
            F.col("o_orderdate").isNotNull()
            & F.col("o_totalprice").isNotNull()
        )
        .join(
            li.where(F.col("l_shipdate").isNotNull()),
            F.col("o_orderkey") == li.l_orderkey,
        )
        .groupBy(
            "o_orderkey",
            "o_orderpriority",
            F.datediff(F.col("o_orderdate").cast("date"), epoch)
            .cast("bigint")
            .alias("s"),
            F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .agg(
            F.datediff(F.min("l_shipdate").cast("date"), epoch)
            .cast("bigint")
            .alias("e")
        )
    )
    ref = spans.agg(
        F.expr(
            "CAST(min(s) + (9 * (max(s) - min(s))) div 10 AS BIGINT)"
        ).alias("t")
    )
    open_orders = (
        spans.crossJoin(F.broadcast(ref))
        .where((F.col("s") <= F.col("t")) & (F.col("e") > F.col("t")))
        .select(
            "o_orderpriority",
            (F.col("t") - F.col("s")).alias("age_days"),
            "cents",
        )
    )
    bucket = (
        F.when(F.col("age_days") <= 7, F.lit("0-7"))
        .when(F.col("age_days") <= 30, F.lit("8-30"))
        .when(F.col("age_days") <= 90, F.lit("31-90"))
        .otherwise(F.lit("90+"))
    )
    return open_orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        bucket.alias("age_bucket"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_open"),
        F.sum("cents").cast("bigint").alias("open_cents"),
        F.max("age_days").cast("bigint").alias("oldest_days"),
    )
