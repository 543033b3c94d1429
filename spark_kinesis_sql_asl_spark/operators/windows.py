"""Window-function surface (SURVEY.md §2 rows B34-B39).

Every orderBy feeding a ranking/frame carries a unique tiebreak column
(SURVEY.md §4) so both engines resolve ties identically. Partition keys are
real keys (user_id, priority) — at 100 TB a window is one shuffle on its
partition key; none of these use a global (empty) partition except where
noted in sorts_sets.py.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import table


@query(
    "q_win_rank",
    oracle="""
    SELECT o_orderkey, o_orderpriority, round(o_totalprice, 2) AS price,
           row_number()  OVER w AS rn,
           rank()        OVER w AS rk,
           dense_rank()  OVER w AS drk
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q_win_rank(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round("o_totalprice", 2).alias("price"),
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rk"),
        F.dense_rank().over(w).alias("drk"),
    )


@query(
    "q_win_lag_lead",
    oracle="""
    SELECT event_id, user_id, value,
           lag(value)  OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           lag(event_id, 2) OVER w AS prev2_event
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_win_lag_lead(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.lag("event_id", 2).over(w).alias("prev2_event"),
    )


@query(
    "q_win_running",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 4) AS running_value,
           count(*) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS running_n
    FROM events
    """,
)
def q_win_running(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("running_value"),
        F.count(F.lit(1)).over(w).alias("running_n"),
    )


@query(
    "q_win_range_frame",
    oracle="""
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           count(*) OVER w AS n_last_hour,
           round(sum(value) OVER w, 4) AS sum_last_hour
    FROM events
    WINDOW w AS (
        PARTITION BY user_id ORDER BY epoch_us(ts)
        RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
    )
    """,
)
def q_win_range_frame(spark, sf_dir):
    """RANGE frame over integer µs (unix_micros ≡ epoch_us) — a trailing
    1-hour sliding aggregate per user; integer order key keeps frame
    boundaries bit-identical across engines."""
    e = table(spark, sf_dir, "events").withColumn("ts_us", F.unix_micros("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts_us",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.round(F.sum("value").over(w), 4).alias("sum_last_hour"),
    )


@query(
    "q_win_ntile",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           ntile(4) OVER (PARTITION BY c_mktsegment
                          ORDER BY c_acctbal NULLS LAST, c_custkey) AS quartile
    FROM customer
    """,
)
def q_win_ntile(spark, sf_dir):
    # Explicit NULLS LAST: Spark defaults to NULLS FIRST on ASC, DuckDB to
    # NULLS LAST — a NULL-bearing order column silently reorders the tiles.
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc_nulls_last(), "c_custkey"
    )
    return c.select(
        "c_custkey", "c_mktsegment", F.ntile(4).over(w).alias("quartile")
    )


@query(
    "q_win_first_last",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           first_value(o_orderkey) OVER w AS top_key,
           last_value(o_orderkey)  OVER w AS bottom_key
    FROM orders
    WINDOW w AS (
        PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
)
def q_win_first_last(spark, sf_dir):
    # last_value needs the explicit full frame — the default frame ends at
    # CURRENT ROW, which silently returns the current row in both engines.
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.first("o_orderkey").over(w).alias("top_key"),
        F.last("o_orderkey").over(w).alias("bottom_key"),
    )


@query(
    "q_win_nth_value",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           nth_value(o_orderkey, 3) OVER w AS third_key,
           CAST(nth_value(o_totalprice, 3) OVER w AS DOUBLE) AS third_price
    FROM orders
    WINDOW w AS (
        PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
)
def q_win_nth_value(spark, sf_dir):
    """B123: nth_value — the "bronze medal" window primitive (3rd-highest
    order per priority class, broadcast onto every row): the remaining
    ordered-access window function B39's first/last pair does not cover.
    Same discipline as B39: the FULL explicit frame (the default frame
    ends at CURRENT ROW, making nth_value NULL until 3 rows have passed —
    identically in both engines, but the full-frame semantics is the one
    a reader means), and a (price desc, key) total order so the 3rd row
    is the same row everywhere. NULL in groups with fewer than 3 rows on
    both engines."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.nth_value("o_orderkey", 3).over(w).alias("third_key"),
        F.nth_value("o_totalprice", 3).over(w).cast("double").alias(
            "third_price"
        ),
    )


# --- B134: month-over-month growth (lag window, exact basis points) ----------


@query(
    "q_win_mom_growth",
    oracle="""
    WITH monthly AS (
        SELECT n.n_name,
               CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP)
                   AS month,
               CAST(sum(CAST(round(100 * o.o_totalprice) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate IS NOT NULL AND o.o_totalprice IS NOT NULL
        GROUP BY n.n_name, date_trunc('month', o.o_orderdate)
    ),
    lagged AS (
        SELECT n_name, month, rev_cents,
               lag(rev_cents) OVER (
                   PARTITION BY n_name ORDER BY month) AS prev_cents
        FROM monthly
    )
    SELECT n_name, month, rev_cents, prev_cents,
           CASE WHEN prev_cents > 0
                THEN ((rev_cents - prev_cents) * 10000) // prev_cents
                END AS growth_bps
    FROM lagged
    """,
)
def q_win_mom_growth(spark, sf_dir):
    """B134: month-over-month revenue growth per nation in exact basis
    points — the period-over-period KPI every revenue dashboard leads
    with, as a lag() window over the monthly rollup. Growth is integer
    cross-multiplied ((delta * 10000) div prev — truncating div, the D7
    canary class, since deltas go negative) so no engine's float division
    can flip a boundary month; the first month and zero-revenue months
    report NULL growth rather than a fabricated number (guard mirrors the
    D11 try_divide rule).

    Plan/scale: the orders-scale rollup is the only big shuffle (dims
    broadcast, map-side partial sums); the lag window rides a
    (nation)-partitioned exchange over the |nations|x|months| frame —
    bounded by the calendar, never by row count."""
    o = (
        table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate").isNotNull()
            & F.col("o_totalprice").isNotNull()
        )
        .select(
            "o_custkey",
            F.date_trunc("month", "o_orderdate").alias("month"),
            F.expr("CAST(round(100 * o_totalprice) AS BIGINT)").alias(
                "cents"
            ),
        )
    )
    c = F.broadcast(
        table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    )
    n = F.broadcast(
        table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "month")
        .agg(F.sum("cents").cast("bigint").alias("rev_cents"))
    )
    w = Window.partitionBy("n_name").orderBy("month")
    lagged = monthly.withColumn(
        "prev_cents", F.lag("rev_cents").over(w)
    )
    return lagged.select(
        "n_name",
        "month",
        "rev_cents",
        "prev_cents",
        F.when(
            F.col("prev_cents") > 0,
            F.expr("((rev_cents - prev_cents) * 10000) div prev_cents"),
        ).alias("growth_bps"),
    )


# --- B140: running distinct count (first-occurrence flag + running sum) ------


@query(
    "q_win_running_distinct",
    oracle="""
    WITH li AS (
        SELECT o.o_custkey AS cust, l.l_partkey AS part,
               o.o_orderdate AS odate, o.o_orderkey AS okey
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderdate IS NOT NULL AND o.o_custkey % 50 = 0
    ),
    flagged AS (
        SELECT cust, odate, okey,
               CASE WHEN row_number() OVER (
                   PARTITION BY cust, part ORDER BY odate, okey) = 1
               THEN 1 ELSE 0 END AS first_time
        FROM li
    ),
    per_order AS (
        SELECT cust, odate, okey,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(first_time) AS BIGINT) AS n_new
        FROM flagged GROUP BY cust, odate, okey
    )
    SELECT cust, odate, okey, n_items, n_new,
           CAST(sum(n_new) OVER (
               PARTITION BY cust ORDER BY odate, okey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS distinct_parts_to_date
    FROM per_order
    """,
)
def q_win_running_distinct(spark, sf_dir):
    """B140: RUNNING DISTINCT count — per customer, the cumulative number
    of distinct parts ever ordered, as of each order. The
    assortment-expansion / new-vs-repeat analytic that a naive
    count(DISTINCT) OVER cannot express (no engine supports windowed
    distinct aggregation) — the portable identity is first-occurrence
    FLAGGING (row_number = 1 over (cust, part) in arrival order) followed
    by a running SUM of flags, the same ledger algebra as C112's
    first-line accounting. Both windows ride TOTAL orders ((odate, okey)
    per (cust, part); (odate, okey) per cust after the per-order rollup —
    okey unique), so the result is deterministic under any partitioning
    (the C111 lesson). The cust % 50 slice keeps fixture output bounded
    without changing the shape.

    Plan/scale: one (cust, part) window + one per-order rollup + one
    cust window — all three share cust-hash locality, and the per-order
    frame is |orders|-scale, not |lineitem|-scale, when the running sum
    runs. At 100 TB the flag window is the one lineitem-scale sort."""
    li = (
        table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate").isNotNull()
            & (F.col("o_custkey") % 50 == 0)
        )
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .join(
            table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_partkey"
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("l_partkey").alias("part"),
            F.col("o_orderdate").alias("odate"),
            F.col("o_orderkey").alias("okey"),
        )
    )
    first_w = Window.partitionBy("cust", "part").orderBy("odate", "okey")
    flagged = li.withColumn(
        "first_time",
        (F.row_number().over(first_w) == 1).cast("bigint"),
    )
    per_order = flagged.groupBy("cust", "odate", "okey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum("first_time").cast("bigint").alias("n_new"),
    )
    run_w = (
        Window.partitionBy("cust")
        .orderBy("odate", "okey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return per_order.withColumn(
        "distinct_parts_to_date",
        F.sum("n_new").over(run_w).cast("bigint"),
    )


@query(
    "q_win_streaks",
    oracle="""
    WITH o AS (
        SELECT o_custkey AS cust, o_orderdate AS odate,
               o_orderkey AS okey, o_totalprice AS price
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
    ),
    flagged AS (
        SELECT cust, odate, okey, price,
               CASE WHEN lag(price) OVER w IS NOT NULL
                         AND price > lag(price) OVER w
                    THEN 0 ELSE 1 END AS new_run
        FROM o WINDOW w AS (PARTITION BY cust ORDER BY odate, okey)
    ),
    runs AS (
        SELECT cust,
               sum(new_run) OVER (
                   PARTITION BY cust ORDER BY odate, okey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS run_id
        FROM flagged
    ),
    sized AS (
        SELECT cust, run_id, CAST(count(*) AS BIGINT) AS run_len
        FROM runs GROUP BY cust, run_id
    )
    SELECT cust,
           CAST(sum(run_len) AS BIGINT) AS n_orders,
           CAST(count(*) AS BIGINT) AS n_runs,
           CAST(max(run_len) AS BIGINT) AS longest_run
    FROM sized GROUP BY cust
    """,
)
def q_win_streaks(spark, sf_dir):
    """B145: gaps-and-islands streak mining — per customer, the longest
    run of strictly increasing order values in order-date order. The
    classic islands identity (B93's lag-flag + running-sum, applied to a
    VALUE comparison instead of a time gap): flag each order that does
    not extend the increasing run, cumulative-sum the flags into island
    ids, size the islands. Both windows ride the TOTAL order
    (odate, okey) within each customer (the C111 determinism rule), and
    the price comparison is raw fixture doubles — compared, never
    aggregated — so no float arithmetic crosses the engine boundary.

    Plan/scale: one shuffle on cust feeds the lag window, the running
    sum, and both rollups (same partitioning key — exchange reuse); the
    per-key window state is one lag value + one running counter, flat
    memory at any corpus size."""
    o = (
        table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
        )
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("o_orderdate").alias("odate"),
            F.col("o_orderkey").alias("okey"),
            F.col("o_totalprice").alias("price"),
        )
    )
    order = [F.col("odate").asc(), F.col("okey").asc()]
    w_lag = Window.partitionBy("cust").orderBy(*order)
    w_run = (
        Window.partitionBy("cust")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev = F.lag("price").over(w_lag)
    flagged = o.withColumn(
        "new_run",
        F.when(prev.isNotNull() & (F.col("price") > prev), 0).otherwise(1),
    )
    runs = flagged.select(
        "cust", F.sum("new_run").over(w_run).alias("run_id")
    )
    sized = runs.groupBy("cust", "run_id").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return sized.groupBy("cust").agg(
        F.sum("run_len").cast("bigint").alias("n_orders"),
        F.count(F.lit(1)).alias("n_runs"),
        F.max("run_len").cast("bigint").alias("longest_run"),
    )


@query(
    "q_win_skyline",
    oracle="""
    WITH o AS (
        SELECT o_orderpriority AS grp, o_orderkey AS okey,
               CAST(round(100 * o_totalprice) AS BIGINT) AS cents,
               epoch_us(o_orderdate) // 86400000000 AS day
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
    ),
    ranked AS (
        SELECT grp, okey, cents, day,
               min(day) OVER (
                   PARTITION BY grp ORDER BY cents, day, okey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS best_day_before
        FROM o
    )
    SELECT grp, okey, cents, CAST(day AS BIGINT) AS day
    FROM ranked
    WHERE best_day_before IS NULL OR day < best_day_before
    """,
)
def q_win_skyline(spark, sf_dir):
    """B150: 2-D skyline (Pareto frontier) — per priority class, the
    orders not dominated on (price, delivery date): no cheaper-or-equal
    order also came earlier-or-equal. The classic Borzsony/Kossmann
    skyline operator, expressed as ONE window: sort by (cents, day, key)
    and keep a row iff its day beats the running MIN day over all
    strictly-preceding rows — a preceding row has cents <= mine (sort
    order), so min-day-before < my day is exactly "somebody dominates
    me". Coordinate ties resolve deterministically: of identical
    (cents, day) points only the first in key order survives (documented
    dedup semantics — a skyline wants distinct frontier POINTS). Pure
    integers (cents, epoch-day), total window order (the C111 rule).

    Plan/scale: one shuffle on the partition key, one window, one
    filter — the running min is O(1) state per partition slot, and the
    frontier emits streamingly. At 100 TB this beats the textbook
    block-nested-loop skyline by doing exactly one sort."""
    o = (
        table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
        )
        .select(
            F.col("o_orderpriority").alias("grp"),
            F.col("o_orderkey").alias("okey"),
            F.expr("CAST(round(100 * o_totalprice) AS BIGINT)").alias("cents"),
            F.expr("unix_micros(o_orderdate) div 86400000000").alias("day"),
        )
    )
    w = (
        Window.partitionBy("grp")
        .orderBy(F.col("cents").asc(), F.col("day").asc(), F.col("okey").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = o.withColumn("best_day_before", F.min("day").over(w))
    return (
        ranked.where(
            F.col("best_day_before").isNull()
            | (F.col("day") < F.col("best_day_before"))
        )
        .select("grp", "okey", "cents", F.col("day").cast("bigint").alias("day"))
    )


# --- B186: rolling revenue/volume correlation ----------------------------------

_ROLL_CORR_FRAME = 28  # trailing observed-day frame (ROWS, B173's convention)

# Identical-text Pearson r over the five exact window sums + the frame
# count; NULL via nullif when either variance is zero inside the frame.
_ROLL_CORR_EXPR = (
    "round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / nullif(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 0.0), 6)"
)


@query(
    "q_win_rolling_corr",
    oracle=f"""
    WITH daily AS (
        SELECT date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) AS d,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   // 1000 AS x,
               CAST(count(*) AS BIGINT) AS y
        FROM orders WHERE o_orderdate IS NOT NULL
        GROUP BY 1
    ),
    sums AS (
        SELECT d, x, y,
               CAST(count(*) OVER w AS BIGINT) AS n,
               CAST(sum(x) OVER w AS BIGINT) AS sx,
               CAST(sum(y) OVER w AS BIGINT) AS sy,
               CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
               CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
               CAST(sum(y * y) OVER w AS BIGINT) AS syy
        FROM daily
        WINDOW w AS (ORDER BY d
                     ROWS BETWEEN {_ROLL_CORR_FRAME - 1} PRECEDING
                     AND CURRENT ROW)
    )
    SELECT d AS epoch_day, x AS kcents, y AS n_orders,
           CAST(n AS INTEGER) AS n_in_frame,
           {_ROLL_CORR_EXPR} AS roll_corr
    FROM sums
    """,
)
def q_win_rolling_corr(spark, sf_dir):
    """B186: trailing {_ROLL_CORR_FRAME}-observation rolling Pearson
    correlation between daily revenue (kilocents) and daily order count
    — the bivariate member the rolling family lacked (B132 smooths one
    series, B113 regresses one on time, B173 medians one; this tracks
    whether volume and value MOVE TOGETHER, the demand-mix drift signal
    a price change shows up in first).

    Cross-engine float shape: all five frame sums (Σx, Σy, Σxy, Σx²,
    Σy²) are window sums over exact BIGINTs (kilocent scaling keeps Σx²
    inside BIGINT for any calendar), so the only float arithmetic is
    ONE identical-text Pearson expression per day over six exact ints
    with an IEEE sqrt, NULL via nullif when a frame variance is zero,
    round(6) at release. Plan/scale: ONE daily hash aggregate; both
    windows share the single day-ordered |days| frame (calendar-bounded
    — the B146/B169/B172 argument, allowlisted)."""
    epoch = F.lit("1970-01-01").cast("date")
    daily = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate").isNotNull())
        .groupBy(
            F.datediff(F.col("o_orderdate").cast("date"), epoch).alias("d")
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))"
                " AS BIGINT) div 1000"
            ).alias("x"),
            F.count(F.lit(1)).cast("bigint").alias("y"),
        )
    )
    w = Window.orderBy("d").rowsBetween(-(_ROLL_CORR_FRAME - 1), 0)
    sums = daily.select(
        "d",
        "x",
        "y",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"),
        F.sum("x").over(w).cast("bigint").alias("sx"),
        F.sum("y").over(w).cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).cast("bigint").alias("syy"),
    )
    return sums.select(
        F.col("d").alias("epoch_day"),
        F.col("x").alias("kcents"),
        F.col("y").alias("n_orders"),
        F.col("n").cast("int").alias("n_in_frame"),
        F.expr(_ROLL_CORR_EXPR).alias("roll_corr"),
    )


# --- B194: Bollinger-band breakout days ----------------------------------------

_BOLL_FRAME = 20  # the classic 20-observation band frame
_BOLL_K = 2.0  # band width in sample standard deviations

_BOLL_Z_EXPR = (
    "round((CAST(n AS DOUBLE) * CAST(x AS DOUBLE)"
    " - CAST(sx AS DOUBLE))"
    " / CAST(n AS DOUBLE)"
    " / nullif(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    "                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    "               / (CAST(n AS DOUBLE)"
    "                  * (CAST(n AS DOUBLE) - 1.0))), 0.0), 6)"
)


@query(
    "q_win_bollinger",
    oracle=f"""
    WITH daily AS (
        SELECT date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) AS d,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   // 1000 AS x
        FROM orders WHERE o_orderdate IS NOT NULL
        GROUP BY 1
    ),
    sums AS (
        SELECT d, x,
               CAST(count(*) OVER w AS BIGINT) AS n,
               CAST(sum(x) OVER w AS BIGINT) AS sx,
               CAST(sum(x * x) OVER w AS BIGINT) AS sxx
        FROM daily
        WINDOW w AS (ORDER BY d
                     ROWS BETWEEN {_BOLL_FRAME - 1} PRECEDING
                               AND CURRENT ROW)
    ),
    z AS (
        SELECT d, x, {_BOLL_Z_EXPR} AS z
        FROM sums WHERE n = {_BOLL_FRAME}
    )
    SELECT d AS epoch_day, x AS kcents, z,
           CASE WHEN z >= {_BOLL_K} THEN 'high' ELSE 'low' END AS side
    FROM z
    WHERE z >= {_BOLL_K} OR z <= -{_BOLL_K}
    """,
)
def q_win_bollinger(spark, sf_dir):
    """B194: Bollinger-band breakouts of the daily revenue series — the
    days whose revenue sits more than {_BOLL_K} sample standard
    deviations from its own trailing {_BOLL_FRAME}-day mean, with the
    standardized z-score and the band side. The band is the adaptive
    version of B104's global MAD cut: the envelope FOLLOWS the local
    level, so a level shift (B131's alarm) stops flagging once absorbed,
    while a one-day spike always does — the complementary anomaly lens
    to B169's weekday-profile outliers. Only full frames release (the
    first {_BOLL_FRAME - 1} days are warm-up, the B173 convention).

    Cross-engine float shape: the three frame sums are BIGINT window
    sums in kilocent units (the B186 quantization — Σx² stays inside
    BIGINT for any calendar); z is ONE identical-text float expression
    over three exact ints with an IEEE sqrt and a D11 nullif guard,
    round(6) at release (z is O(1) magnitude — well inside the double
    significand); the breakout filter compares the ALREADY-ROUNDED z on
    both engines, so a boundary value can never flag on one engine
    only. Plan/scale: ONE daily hash aggregate; the trailing window
    runs over the |days| frame (calendar-bounded — the B173 argument,
    allowlisted)."""
    epoch = F.lit("1970-01-01").cast("date")
    daily = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate").isNotNull())
        .groupBy(
            F.datediff(F.col("o_orderdate").cast("date"), epoch)
            .cast("bigint")
            .alias("d")
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))"
                " AS BIGINT) div 1000"
            ).alias("x")
        )
    )
    w = Window.orderBy("d").rowsBetween(-(_BOLL_FRAME - 1), 0)
    sums = daily.select(
        "d",
        "x",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"),
        F.sum("x").over(w).cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("bigint").alias("sxx"),
    )
    z = sums.where(F.col("n") == _BOLL_FRAME).select(
        "d", "x", F.expr(_BOLL_Z_EXPR).alias("z")
    )
    return z.where(
        (F.col("z") >= _BOLL_K) | (F.col("z") <= -_BOLL_K)
    ).select(
        F.col("d").alias("epoch_day"),
        F.col("x").alias("kcents"),
        "z",
        F.when(F.col("z") >= _BOLL_K, F.lit("high"))
        .otherwise(F.lit("low"))
        .alias("side"),
    )
