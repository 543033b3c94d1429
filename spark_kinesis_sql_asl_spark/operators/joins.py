"""Join surface (SURVEY.md §2 rows B9-B20).

Scale posture (100 TB): fact-to-fact joins (lineitem⋈orders) shuffle on the
join key and rely on AQE for skew splitting; dimension joins (nation, region,
in-code period tables) are explicitly broadcast so no shuffle of the fact
side ever happens for them. Non-equi joins are kept to broadcastable sides —
a BroadcastNestedLoopJoin against a big build side would not survive scale.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

from ..registry import query
from ..tables import get_or_build, table


@query(
    "q_join_inner",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_custkey, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def q_join_inner(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "q_join_multiway",
    oracle="""
    SELECT r_name,
           n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN orders   ON l_orderkey  = o_orderkey
    JOIN customer ON o_custkey   = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
      AND c_mktsegment = 'BUILDING'
    GROUP BY r_name, n_name
    """,
)
def q_join_multiway(spark, sf_dir):
    """Flagship (entry()): 5-table star join → filtered revenue by nation.

    Plan shape at scale: lineitem⋈orders shuffles on orderkey (both huge);
    customer arrives via shuffle too, but nation/region are broadcast. The
    o_orderdate + c_mktsegment predicates are pushed below the joins by
    Catalyst, so the shuffled fact side is pre-filtered.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q_join_left",
    oracle="""
    SELECT c_custkey, c_name, event_id, event_type, value
    FROM customer LEFT JOIN events ON c_custkey = user_id
    """,
)
def q_join_left(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    e = table(spark, sf_dir, "events")
    return c.join(e, c.c_custkey == e.user_id, "left").select(
        "c_custkey", "c_name", "event_id", "event_type", "value"
    )


@query(
    "q_join_right",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_custkey, c_name
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    """,
)
def q_join_right(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "right").select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name"
    )


@query(
    "q_join_full",
    oracle="""
    SELECT c_custkey, c_name, event_id, event_type
    FROM customer FULL JOIN events ON c_custkey = user_id
    """,
)
def q_join_full(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    e = table(spark, sf_dir, "events")
    return c.join(e, c.c_custkey == e.user_id, "full").select(
        "c_custkey", "c_name", "event_id", "event_type"
    )


@query(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q_join_semi(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
    )
    """,
)
def q_join_anti(spark, sf_dir):
    # "no URGENT order" rather than "no order": every customer has some
    # order at sf0.01 (verified), which would make the plain anti-join an
    # empty — and therefore weak — check.
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "q_join_cross",
    oracle="SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def q_join_cross(spark, sf_dir):
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@query(
    "q_join_theta",
    oracle="""
    SELECT a.n_name AS a_name, b.n_name AS b_name,
           a.n_nationkey AS a_key, b.n_nationkey AS b_key
    FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
    """,
)
def q_join_theta(spark, sf_dir):
    # Non-equi condition → BroadcastNestedLoopJoin; only safe because nation
    # is a tiny broadcastable dim (SURVEY.md B17).
    a = table(spark, sf_dir, "nation").alias("a")
    b = table(spark, sf_dir, "nation").alias("b")
    return a.join(b, F.col("a.n_nationkey") < F.col("b.n_nationkey")).select(
        F.col("a.n_name").alias("a_name"),
        F.col("b.n_name").alias("b_name"),
        F.col("a.n_nationkey").alias("a_key"),
        F.col("b.n_nationkey").alias("b_key"),
    )


@query(
    "q_join_broadcast",
    oracle="""
    SELECT c_custkey, c_name, n_name
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    """,
)
def q_join_broadcast(spark, sf_dir):
    # Same result as a plain equi-join; the broadcast hint pins the physical
    # strategy (BroadcastHashJoin — no shuffle of the customer side).
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", "c_name", "n_name"
    )


@query(
    "q_join_asof",
    oracle="""
    WITH tagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN event_type = 'click' THEN ts END AS click_ts,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
        FROM events
        WHERE event_type IN ('click', 'purchase')
    )
    SELECT event_id, user_id, ts, last_click_ts
    FROM (
        SELECT *,
               max(click_ts) OVER (
                   PARTITION BY user_id
                   ORDER BY ts, is_p, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS last_click_ts
        FROM tagged
    )
    WHERE event_type = 'purchase'
    """,
)
def q_join_asof(spark, sf_dir):
    """As-of join (B19): for each purchase, the latest click at-or-before it
    by the same user. Spark has no native ASOF JOIN; the scalable idiom is a
    single window pass (one shuffle on user_id) instead of a range join —
    this is O(n log n) per key and holds at 100 TB, unlike a ts-range join.

    Clicks sort before purchases at equal ts (is_p tiebreak) so an
    exactly-simultaneous click counts as "prior" in both engines.
    """
    e = table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
        F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(0).alias("is_p"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("last_click_ts", F.max("click_ts").over(w))
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "last_click_ts")
    )


_PERIODS = [
    (f"Y{y}", dt.datetime(y, 1, 1), dt.datetime(y + 1, 1, 1)) for y in range(1995, 2002)
]


@query(
    "q_join_interval",
    oracle="""
    SELECT o_orderkey, o_orderdate, period_name
    FROM orders
    JOIN (
        VALUES """
    + ",\n             ".join(
        f"('Y{y}', TIMESTAMP '{y}-01-01', TIMESTAMP '{y + 1}-01-01')"
        for y in range(1995, 2002)
    )
    + """
    ) AS periods(period_name, p_start, p_end)
      ON o_orderdate >= p_start AND o_orderdate < p_end
    """,
)
def q_join_interval(spark, sf_dir):
    """Interval/band join (B20): orderdate ∈ [p_start, p_end). The period dim
    is tiny and in-code → broadcast nested-loop, no fact-side shuffle."""
    o = table(spark, sf_dir, "orders")
    schema = StructType(
        [
            StructField("period_name", StringType()),
            StructField("p_start", TimestampType()),
            StructField("p_end", TimestampType()),
        ]
    )
    periods = spark.createDataFrame(_PERIODS, schema)
    cond = (F.col("o_orderdate") >= F.col("p_start")) & (
        F.col("o_orderdate") < F.col("p_end")
    )
    return o.join(F.broadcast(periods), cond).select(
        "o_orderkey", "o_orderdate", "period_name"
    )


_SALT_BUCKETS = 8


@query(
    "q_join_salted",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_join_salted(spark, sf_dir):
    """Skew-mitigated equi-join (the salting pattern, DESIGN-100TB.md §2):
    results are identical to the plain join the oracle states, but a hot
    user_id can no longer pin one reducer — the probe side spreads each key
    across 8 salt buckets (deterministic per-row salt) and the build side
    replicates once per salt, so the shuffle key is (key, salt). At fixture
    scale AQE handles skew on its own; this operator pins the explicit
    pattern for key distributions AQE can't split (single monster key)."""
    e = table(spark, sf_dir, "events").select("user_id", "value")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    probe = e.withColumn(
        "salt", F.pmod(F.xxhash64("user_id", "value"), F.lit(_SALT_BUCKETS))
    )
    build = c.withColumn(
        "salt", F.explode(F.array(*[F.lit(s) for s in range(_SALT_BUCKETS)]))
    )
    return (
        probe.join(
            build,
            (probe.user_id == build.c_custkey) & (probe.salt == build.salt),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


_ASOF_TOL_US = 86_400_000_000  # 1-day tolerance


@query(
    "q_join_asof_tolerance",
    oracle=f"""
    WITH tagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN event_type = 'click' THEN ts END AS click_ts,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
        FROM events
        WHERE event_type IN ('click', 'purchase')
    ),
    carried AS (
        SELECT event_id, user_id, ts, event_type,
               max(click_ts) OVER (
                   PARTITION BY user_id
                   ORDER BY ts, is_p, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS last_click_ts
        FROM tagged
    )
    SELECT event_id, user_id, ts,
           CASE WHEN epoch_us(ts) - epoch_us(last_click_ts)
                     <= {_ASOF_TOL_US}
                THEN last_click_ts END AS attributed_click_ts
    FROM carried
    WHERE event_type = 'purchase'
    """,
)
def q_join_asof_tolerance(spark, sf_dir):
    """B125: as-of join WITH TOLERANCE — B19's backward as-of, but the
    match NULLs out when the latest prior click is more than 1 day old:
    `pandas.merge_asof(tolerance=...)` / kdb `wj` semantics, and the form
    attribution logic actually ships (a purchase 3 weeks after the last
    click is organic, not click-attributed — unbounded as-of silently
    over-attributes). Same single window pass over one user_id shuffle
    (the tolerance is a scan-side CASE on the carried value — zero extra
    plan cost over B19), same is_p tie-break so an exactly-simultaneous
    click attributes in both engines; the age test is exact integer
    epoch-µs."""
    e = table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "click", F.col("ts")).alias(
            "click_ts"
        ),
        F.when(F.col("event_type") == "purchase", F.lit(1))
        .otherwise(0)
        .alias("is_p"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.withColumn("last_click_ts", F.max("click_ts").over(w))
    fresh = (
        F.expr("unix_micros(ts) - unix_micros(last_click_ts)")
        <= _ASOF_TOL_US
    )
    return (
        carried.where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.when(fresh, F.col("last_click_ts")).alias(
                "attributed_click_ts"
            ),
        )
    )


@query(
    "q_join_asof_nearest",
    oracle="""
    WITH tagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN event_type = 'click' THEN ts END AS click_ts,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
        FROM events
        WHERE event_type IN ('click', 'purchase')
    ),
    carried AS (
        SELECT event_id, user_id, ts, event_type,
               max(click_ts) OVER (
                   PARTITION BY user_id ORDER BY ts, is_p, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS prev_click_ts,
               min(click_ts) OVER (
                   PARTITION BY user_id ORDER BY ts, is_p, event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) AS next_click_ts
        FROM tagged
    )
    SELECT event_id, user_id, ts,
           CASE
             WHEN prev_click_ts IS NULL THEN next_click_ts
             WHEN next_click_ts IS NULL THEN prev_click_ts
             WHEN epoch_us(ts) - epoch_us(prev_click_ts)
                  <= epoch_us(next_click_ts) - epoch_us(ts)
             THEN prev_click_ts
             ELSE next_click_ts
           END AS nearest_click_ts
    FROM carried
    WHERE event_type = 'purchase'
    """,
)
def q_join_asof_nearest(spark, sf_dir):
    """B128: NEAREST as-of join — for each purchase, the click closest in
    time in EITHER direction (pandas merge_asof direction='nearest'),
    completing the as-of trio with B19 (backward) and B112 (forward).
    Both candidates come from the SAME window pass — one backward max
    and one forward min over one (user_id; ts, is_p, event_id) sort, so
    the plan still carries exactly one exchange and one sort — and the
    tie (equidistant click before and after) resolves BACKWARD, pandas'
    documented rule, via <= on exact epoch-µs distances. The is_p
    tiebreak keeps an exactly-simultaneous click on the backward side in
    both engines (distance 0 wins either way, but which COLUMN carries
    it must match for the CASE to pick identically)."""
    e = table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "click", F.col("ts")).alias(
            "click_ts"
        ),
        F.when(F.col("event_type") == "purchase", F.lit(1))
        .otherwise(0)
        .alias("is_p"),
    )
    back = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = tagged.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.max("click_ts").over(back).alias("prev_click_ts"),
        F.min("click_ts").over(fwd).alias("next_click_ts"),
    )
    d_prev = F.expr("unix_micros(ts) - unix_micros(prev_click_ts)")
    d_next = F.expr("unix_micros(next_click_ts) - unix_micros(ts)")
    nearest = (
        F.when(F.col("prev_click_ts").isNull(), F.col("next_click_ts"))
        .when(F.col("next_click_ts").isNull(), F.col("prev_click_ts"))
        .when(d_prev <= d_next, F.col("prev_click_ts"))
        .otherwise(F.col("next_click_ts"))
    )
    return (
        carried.where(F.col("event_type") == "purchase")
        .select(
            "event_id", "user_id", "ts", nearest.alias("nearest_click_ts")
        )
    )


# --- B148: bucketed co-located join (round 8) --------------------------------

# Bucketed table registration, once per corpus (held in the family-state
# store, so a rewritten fixture re-registers). At 100 TB this is the
# persistent layout decision a warehouse makes ONCE at write time — both
# fact tables bucketed+sorted on the join key — so every subsequent join
# on that key is exchange-free on both sides. The fixture twin registers
# external parquet tables (explicit scratch LOCATION, nothing under a
# warehouse dir the caller may not own) in the session catalog.
_BUCKETS = 8


def bucketed_orders_customer(spark, sf_dir):
    """Register (once) and return the names of bucketed twins of orders
    and customer, both CLUSTERED BY custkey INTO 8 BUCKETS and sorted
    within buckets — the co-location contract q_join_bucketed relies on."""
    import hashlib
    import os as _os

    from ..llm.iterative import scratch_dir

    def build():
        tag = hashlib.md5(_os.path.abspath(sf_dir).encode()).hexdigest()[:8]
        o_name, c_name = f"orders_bkt_{tag}", f"customer_bkt_{tag}"
        stage = scratch_dir(spark, "bucketed_join")
        specs = (
            (o_name, table(spark, sf_dir, "orders"), "o_custkey"),
            (c_name, table(spark, sf_dir, "customer"), "c_custkey"),
        )
        for name, df, key_col in specs:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                df.write.format("parquet")
                .bucketBy(_BUCKETS, key_col)
                .sortBy(key_col)
                .option("path", _os.path.join(stage, name))
                .saveAsTable(name)
            )
        return o_name, c_name

    return get_or_build(spark, "bucketed_orders_customer", sf_dir, build)


@query(
    "q_join_bucketed",
    oracle="""
    SELECT c.c_nationkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(100 * o.o_totalprice) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    """,
)
def q_join_bucketed(spark, sf_dir):
    """B148: co-located fact-to-fact join via BUCKETING — the layout-level
    answer to the shuffle that B9's plain inner join pays. Both sides are
    bucketed (CLUSTERED BY custkey INTO 8 BUCKETS, sorted within buckets)
    at write time, so the SortMergeJoin reads bucket i against bucket i
    with NO Exchange and NO Sort on either side — at 100 TB this converts
    the single biggest network event of a fact-fact join into a purely
    local merge, paid once at layout time and amortized over every query
    on that key (the same decision behind Hive bucketing / Iceberg
    bucket partition transforms). tests/test_plans.py pins the contract:
    the only Exchange in this plan is the tiny nationkey rollup's.
    Results are identical to the unbucketed join (the oracle runs on the
    raw tables) — bucketing is a physical property, never semantic."""
    o_name, c_name = bucketed_orders_customer(spark, sf_dir)
    o = spark.table(o_name).select("o_custkey", "o_totalprice")
    c = spark.table(c_name).select("c_custkey", "c_nationkey")
    # hint("merge"): at fixture scale Catalyst would broadcast the small
    # side, hiding the layout contract this operator demonstrates; at
    # 100 TB both sides are fact-scale and SMJ is what the planner picks
    # anyway. With the bucket+sort layout the SMJ needs no Exchange and
    # no Sort on either side (pinned in tests/test_plans.py).
    return (
        o.join(c.hint("merge"), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.expr("CAST(round(100 * o_totalprice) AS BIGINT)")
            )
            .cast("bigint")
            .alias("sum_cents"),
        )
    )


# --- B181: bucketed big-x-big interval join ------------------------------------

_IVL_LEN = 7  # attribution-window length in days == time-bucket size


@query(
    "q_join_interval_bucketed",
    oracle=f"""
    WITH ords AS (
        SELECT o_orderkey, o_orderpriority,
               date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) AS start_d,
               o_custkey
        FROM orders WHERE o_orderdate IS NOT NULL
    ),
    evs AS (
        SELECT user_id, value,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ev_d
        FROM events WHERE ts IS NOT NULL
    )
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_matches,
           CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders_hit,
           CAST(sum(CAST(floor(coalesce(e.value, 0) * 100) AS BIGINT))
                AS BIGINT) AS value_cents
    FROM ords o
    JOIN evs e
      ON e.user_id = o.o_custkey
     AND e.ev_d >= o.start_d AND e.ev_d < o.start_d + {_IVL_LEN}
    GROUP BY o.o_orderpriority
    """,
)
def q_join_interval_bucketed(spark, sf_dir):
    """B181: big×big interval join done the SCALABLE way — attribute
    each event to every same-customer order whose {_IVL_LEN}-day
    post-order window contains it. B20's interval join broadcasts a
    tiny period dim; here BOTH sides are fact-scale, where a
    range-condition nested loop is quadratic and a plain theta join
    cannot shuffle. The classic bucketing re-plan (the temporal twin of
    B164's R-cell grid, same completeness discipline): time buckets of
    C == {_IVL_LEN} days == the interval length, so every interval
    spans ≤ 2 buckets — the interval side replicates into exactly those
    (≤ 2×|orders| rows), the event side computes its single bucket
    scan-side, and the join becomes an EQUI-join on (customer, bucket)
    with the exact range refine inside the join condition. Both sides
    hash-shuffle on bounded keys; no broadcast, no nested loop; AQE
    handles hot customers (B75's salting is the manual fallback).
    Released as the bounded per-priority rollup with floor-cent sums.

    Oracle: the plain range join — bucketing is exact (interval ⊆ its
    ≤ 2 buckets; refine restores equality), so both produce identical
    rows."""
    epoch = F.lit("1970-01-01").cast("date")
    ords = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate").isNotNull())
        .select(
            "o_orderkey",
            "o_orderpriority",
            "o_custkey",
            F.datediff(F.col("o_orderdate").cast("date"), epoch).alias(
                "start_d"
            ),
        )
    )
    rep = ords.select(
        "o_orderkey",
        "o_orderpriority",
        "o_custkey",
        "start_d",
        F.explode(
            F.array_distinct(
                F.array(
                    F.expr(f"start_d div {_IVL_LEN}"),
                    F.expr(f"(start_d + {_IVL_LEN - 1}) div {_IVL_LEN}"),
                )
            )
        ).alias("obkt"),
    )
    evs = (
        table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select(
            "user_id",
            "value",
            F.datediff(F.col("ts").cast("date"), epoch).alias("ev_d"),
        )
        .withColumn("ebkt", F.expr(f"ev_d div {_IVL_LEN}"))
    )
    joined = rep.join(
        evs,
        (F.col("user_id") == F.col("o_custkey"))
        & (F.col("obkt") == F.col("ebkt"))
        & (F.col("ev_d") >= F.col("start_d"))
        & (F.col("ev_d") < F.col("start_d") + _IVL_LEN),
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matches"),
        F.countDistinct("o_orderkey").cast("bigint").alias("n_orders_hit"),
        F.sum(
            F.floor(F.coalesce(F.col("value"), F.lit(0)) * 100).cast(
                "bigint"
            )
        )
        .cast("bigint")
        .alias("value_cents"),
    )
