"""Hypertable-style time-series operators over `events` (SURVEY.md §2
B110-B112) — the TimescaleDB/kdb-shaped surface a metrics pipeline runs on
top of the B99 gap-fill rollup: OHLC candles, time-weighted averages, and
the forward as-of join (conversion lag).

Conventions shared with operators/events.py and q_ts_gapfill: exact
integer arithmetic end-to-end (floor-cents, epoch-µs, integer `div`
bucketing — never float-divide-then-cast), deterministic total orders
with event_id tie-breaks, and one shuffle per operator (windows and
aggregates ride the same (key) partitioning).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import table
from .analytics import global_rank

_HOUR_US = 3_600_000_000


@query(
    "q_ts_ohlc",
    oracle=f"""
    WITH t AS (
        SELECT event_type,
               CAST(epoch_us(ts) // {_HOUR_US} AS BIGINT) AS h,
               CAST(floor(value * 100) AS BIGINT) AS cents,
               ts, event_id
        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    w AS (
        SELECT event_type, h, cents,
               first_value(cents) OVER (
                   PARTITION BY event_type, h ORDER BY ts, event_id
               ) AS open_c,
               first_value(cents) OVER (
                   PARTITION BY event_type, h ORDER BY ts DESC, event_id DESC
               ) AS close_c
        FROM t
    )
    SELECT event_type, h AS hour_epoch,
           CAST(min(open_c) AS BIGINT) AS open_cents,
           CAST(max(cents) AS BIGINT) AS high_cents,
           CAST(min(cents) AS BIGINT) AS low_cents,
           CAST(min(close_c) AS BIGINT) AS close_cents,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(cents) AS BIGINT) AS volume_cents
    FROM w GROUP BY 1, 2
    """,
)
def q_ts_ohlc(spark, sf_dir):
    """B110: OHLC candlestick rollup — per (event_type, hour): the first
    (open) and last (close) value in (ts, event_id) order plus high / low /
    count / volume. The financial-downsample staple; `first/last in bucket`
    is exactly what a naive groupBy cannot express (no ordered aggregate
    without a deterministic tie-break — B33's min_by needs a total order
    too). Values as floor-cents BIGINTs, bucket index as epoch-µs integer
    `div` (the B99 rule: a double quotient can land 1 ulp under the hour
    boundary and bucket-shift on one engine only).

    Plan: one exchange on (event_type, h) serves both first_value windows
    (same partition keys, two sort orders) AND the final groupBy — open_c /
    close_c are constant within the group, so min() collapses them without
    re-shuffling. At 100 TB: |buckets| = |types| × |hours| ≪ |events|; with
    a date-partitioned hypertable layout the scan prunes to the queried
    range and the rollup is the only corpus-scale stage."""
    ev = table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    t = ev.select(
        "event_type",
        F.expr(f"unix_micros(ts) div {_HOUR_US}").alias("h"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        "ts",
        "event_id",
    )
    asc = Window.partitionBy("event_type", "h").orderBy("ts", "event_id")
    desc = Window.partitionBy("event_type", "h").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    w = t.select(
        "event_type",
        "h",
        "cents",
        F.first("cents").over(asc).alias("open_c"),
        F.first("cents").over(desc).alias("close_c"),
    )
    return w.groupBy("event_type", F.col("h").alias("hour_epoch")).agg(
        F.min("open_c").cast("bigint").alias("open_cents"),
        F.max("cents").cast("bigint").alias("high_cents"),
        F.min("cents").cast("bigint").alias("low_cents"),
        F.min("close_c").cast("bigint").alias("close_cents"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").cast("bigint").alias("volume_cents"),
    )


@query(
    "q_ts_time_weighted",
    oracle="""
    WITH t AS (
        SELECT event_type,
               epoch_us(ts) AS us,
               CAST(floor(value * 100) AS BIGINT) AS cents,
               event_id
        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    seg AS (
        SELECT event_type, cents,
               lead(us) OVER (
                   PARTITION BY event_type ORDER BY us, event_id
               ) - us AS w_us
        FROM t
    )
    SELECT event_type,
           CAST(count(w_us) AS BIGINT) AS n_segments,
           CAST(sum(w_us) AS BIGINT) AS total_us,
           round(CAST(sum(CAST(cents AS HUGEINT) * w_us) AS DOUBLE)
                 / CAST(sum(w_us) AS DOUBLE), 6) AS twa_cents
    FROM seg WHERE w_us IS NOT NULL
    GROUP BY event_type
    """,
)
def q_ts_time_weighted(spark, sf_dir):
    """B111: time-weighted average per event_type — TimescaleDB
    `time_weight('LOCF', ...)` semantics: each observation holds until the
    next one, so its weight is the epoch-µs gap to the successor (the last
    point carries no weight; zero-gap simultaneous events contribute
    nothing, exactly as LOCF dictates). The honest mean for irregularly
    sampled series, where the arithmetic mean over-weights bursts.

    Exactness: weights are BIGINT µs deltas from one lead() pass, values
    are floor-cents, and Σ cents·w_us aggregates in WIDE EXACT integers —
    DECIMAL(38,0) on Spark, HUGEINT on DuckDB — because the product
    overflows int64 at hostile-but-legal magnitudes (1e6-valued events ×
    a month span ≈ 2.5e20; the adversarial driver-canon fixture exercises
    exactly this, and ANSI Spark rightly refuses to wrap). Exact decimal
    and int128 sums are order-independent, so partial aggregation cannot
    drift; the single float op is the final cast-to-double Σ/Σ division
    (both engines take nearest-double of the SAME exact integer), round(6).
    Plan: one shuffle on event_type for the lead() window, aggregate rides
    the same partitioning — |types| output rows."""
    ev = table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    t = ev.select(
        "event_type",
        F.expr("unix_micros(ts)").alias("us"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    seg = t.select(
        "event_type",
        "cents",
        (F.lead("us").over(w) - F.col("us")).alias("w_us"),
    ).where(F.col("w_us").isNotNull())
    return seg.groupBy("event_type").agg(
        F.count("w_us").alias("n_segments"),
        F.sum("w_us").cast("bigint").alias("total_us"),
        F.round(
            F.sum(F.col("cents").cast("decimal(25,0)") * F.col("w_us"))
            .cast("double")
            / F.sum("w_us").cast("double"),
            6,
        ).alias("twa_cents"),
    )


@query(
    "q_join_asof_forward",
    oracle="""
    WITH tagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN event_type = 'purchase' THEN ts END AS purchase_ts,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
        FROM events
        WHERE event_type IN ('click', 'purchase')
    )
    SELECT event_id, user_id, ts, next_purchase_ts
    FROM (
        SELECT *,
               min(purchase_ts) OVER (
                   PARTITION BY user_id
                   ORDER BY ts, is_p, event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) AS next_purchase_ts
        FROM tagged
    )
    WHERE event_type = 'click'
    """,
)
def q_join_asof_forward(spark, sf_dir):
    """B112: FORWARD as-of join — for each click, the earliest purchase
    at-or-after it by the same user: the conversion-lag primitive, and the
    mirror of B19's backward form (joins.py q_join_asof). Spark has no
    native ASOF JOIN in either direction; the scalable idiom is one window
    pass over a (user_id) shuffle — O(n log n) per key at 100 TB where a
    ts-range join degenerates.

    Clicks sort BEFORE purchases at equal ts (is_p tiebreak), so with a
    CURRENT ROW → FOLLOWING frame an exactly-simultaneous purchase counts
    as "at-or-after" in both engines — the symmetric convention to B19,
    where the simultaneous click counts as "prior"."""
    e = table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "purchase", F.col("ts")).alias(
            "purchase_ts"
        ),
        F.when(F.col("event_type") == "purchase", F.lit(1))
        .otherwise(0)
        .alias("is_p"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return (
        tagged.withColumn("next_purchase_ts", F.min("purchase_ts").over(w))
        .where(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts", "next_purchase_ts")
    )


_SLOPE_FRAME = 24  # rolling OLS over the trailing 24 observations


@query(
    "q_win_rolling_slope",
    oracle=f"""
    WITH t AS (
        SELECT event_type, event_id,
               epoch_us(ts) AS us,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    rel AS (
        SELECT event_type, event_id, cents,
               (us - first_value(us) OVER (
                   PARTITION BY event_type ORDER BY us, event_id
               )) // 1000000 AS x
        FROM t
    ),
    s AS (
        SELECT event_type, event_id,
               CAST(count(*) OVER w AS BIGINT) AS n,
               CAST(sum(x) OVER w AS BIGINT) AS sx,
               CAST(sum(cents) OVER w AS BIGINT) AS sy,
               CAST(sum(x * cents) OVER w AS BIGINT) AS sxy,
               CAST(sum(x * x) OVER w AS BIGINT) AS sxx
        FROM rel
        WINDOW w AS (
            PARTITION BY event_type ORDER BY x, event_id
            ROWS BETWEEN {_SLOPE_FRAME - 1} PRECEDING AND CURRENT ROW
        )
    )
    SELECT event_type, event_id, n,
           round((n * sxy - sx * sy) * 1.0
                 / nullif(n * sxx - sx * sx, 0), 6) AS slope
    FROM s WHERE n = {_SLOPE_FRAME}
    """,
)
def q_win_rolling_slope(spark, sf_dir):
    """B113: rolling OLS slope — the trend detector: per event_type, the
    least-squares slope (cents per second) over the trailing
    {_SLOPE_FRAME} observations, slope = (nΣxy − ΣxΣy)/(nΣxx − (Σx)²).
    Every windowed sum is EXACT BIGINT: x is integer seconds relative to
    the series start (a first_value window — absolute epoch-µs squared
    would overflow; relative seconds keep nΣxx ≲ 4e15 at the fixture's
    30-day span, re-derive past ~5-year spans), y is floor-cents. The
    single float op is the final division of two exact BIGINTs —
    deterministic IEEE, round(6), nullif for the all-x-equal degenerate
    frame. Partial frames (n < {_SLOPE_FRAME}) are suppressed: their
    slopes are noise and their exclusion is the cross-engine-stable rule.

    Plan: ONE exchange on event_type serves the first_value window, the
    five frame sums (same partition + order ⇒ one sort, shared frame
    buffer), and the filter. At 100 TB the frame is O(1) state per row —
    window sliding-sum, not recompute-per-row."""
    ev = table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    t = ev.select(
        "event_type",
        "event_id",
        F.expr("unix_micros(ts)").alias("us"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    base = Window.partitionBy("event_type").orderBy("us", "event_id")
    rel = t.select(
        "event_type",
        "event_id",
        "cents",
        F.expr(
            "(us - first(us) OVER (PARTITION BY event_type "
            "ORDER BY us, event_id)) div 1000000"
        ).alias("x"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("x", "event_id")
        .rowsBetween(-(_SLOPE_FRAME - 1), Window.currentRow)
    )
    s = rel.select(
        "event_type",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).cast("bigint").alias("sx"),
        F.sum("cents").over(w).cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("cents")).over(w).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("bigint").alias("sxx"),
    )
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        * 1.0
        / F.nullif(
            F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0)
        )
    )
    return s.where(F.col("n") == _SLOPE_FRAME).select(
        "event_type", "event_id", "n", F.round(slope, 6).alias("slope")
    )


# --- B131: CUSUM change-point detection over daily revenue --------------------

# slack = mu/20 (5% of the mean daily revenue): CUSUM accumulates only
# sustained exceedance above mean+slack, the standard one-sided form.
_CUSUM_SLACK_DIV = 20
# alarm once the accumulated exceedance tops 5x the mean daily revenue
_CUSUM_ALARM_MULT = 5


@query(
    "q_cusum_changepoint",
    oracle=f"""
    WITH daily AS (
        SELECT n.n_name,
               date_trunc('day', o.o_orderdate) AS day,
               CAST(sum(CAST(round(100 * o.o_totalprice) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, date_trunc('day', o.o_orderdate)
    ),
    g AS (
        SELECT n_name,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(cents) // count(*) AS BIGINT) AS mu
        FROM daily GROUP BY n_name
    ),
    -- One-sided CUSUM via the prefix-sum identity (no fold needed):
    -- with d_t = x_t - mu - slack and P_t = sum_(i<=t) d_i,
    --   S_t = P_t - min(0, min_(j<=t) P_j)
    -- (P_0 = 0 supplies the clamp-at-zero of the recurrence).
    pref AS (
        SELECT d.n_name, d.day, g.n_days, g.mu,
               CAST(sum(d.cents - g.mu - g.mu // {_CUSUM_SLACK_DIV})
                    OVER (PARTITION BY d.n_name ORDER BY d.day
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS BIGINT) AS p
        FROM daily d
        JOIN g ON d.n_name IS NOT DISTINCT FROM g.n_name
    ),
    s AS (
        SELECT n_name, day, n_days, mu,
               p - least(CAST(0 AS BIGINT),
                         min(p) OVER (PARTITION BY n_name ORDER BY day
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW)) AS s_t
        FROM pref
    ),
    fin AS (
        SELECT *, max(s_t) OVER (PARTITION BY n_name) AS best
        FROM s
    )
    SELECT n_name, n_days, mu AS mu_cents,
           best AS max_cusum_cents,
           CASE WHEN best > 0
                THEN min(CASE WHEN s_t = best THEN day END)
                ELSE CAST(NULL AS TIMESTAMP) END AS alarm_day,
           best > {_CUSUM_ALARM_MULT} * mu AS alarm
    FROM fin
    GROUP BY n_name, n_days, mu, best
    """,
)
def q_cusum_changepoint(spark, sf_dir):
    """B131: one-sided CUSUM change-point detection (Page 1954) over daily
    order revenue per nation — the sequential drift alarm that catches a
    sustained level shift long before a per-day MAD outlier test (B104)
    fires: S_t = max(0, S_(t-1) + x_t - mu - slack), alarm when the peak
    exceeds {_CUSUM_ALARM_MULT}x the mean day. Reports the peak statistic
    and the FIRST day it was attained (strict-> keeps the earliest).

    Exactness: revenue in floor-cents BIGINT end-to-end (the D2/D8
    canary rule); mu and the 5% slack are integer floor divisions; the
    recurrence is inherently sequential so it runs as a FOLD over the
    day-ordered packed array (the C97/C98 ordering rule, struct state) —
    never a float or a window whose addend order the planner may permute.

    Scale: the daily rollup is the only order-scale stage (map-side
    combined, one shuffle on (nation, day)); the fold state per nation is
    one struct over an array bounded by the CALENDAR (~2.4k days), not by
    row count — the same bounded-by-days argument as B99/B110. nation
    and customer dims broadcast."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_trunc("day", "o_orderdate").alias("day"),
        F.expr(
            "CAST(round(100 * o_totalprice) AS BIGINT)"
        ).alias("cents"),
    )
    c = F.broadcast(
        table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    )
    n = F.broadcast(
        table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    daily = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "day")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    g = daily.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.expr("CAST(sum(cents) div count(1) AS BIGINT)").alias("mu"),
        F.expr(
            "transform(array_sort(collect_list(struct(day, cents))), "
            "e -> named_struct('x', e.cents, 'd', e.day))"
        ).alias("arr"),
    )
    step = (
        f"greatest(CAST(0 AS BIGINT), a.s + e.x - mu - "
        f"mu div {_CUSUM_SLACK_DIV})"
    )
    folded = g.select(
        "n_name",
        "n_days",
        "mu",
        F.expr(
            "aggregate(arr, "
            "named_struct('s', CAST(0 AS BIGINT), "
            "'best', CAST(0 AS BIGINT), "
            "'bd', CAST(NULL AS TIMESTAMP)), "
            f"(a, e) -> named_struct("
            f"'s', {step}, "
            f"'best', IF({step} > a.best, {step}, a.best), "
            f"'bd', IF({step} > a.best, e.d, a.bd)))"
        ).alias("st"),
    )
    return folded.select(
        "n_name",
        "n_days",
        F.col("mu").alias("mu_cents"),
        F.col("st.best").alias("max_cusum_cents"),
        F.col("st.bd").alias("alarm_day"),
        (F.col("st.best") > _CUSUM_ALARM_MULT * F.col("mu")).alias(
            "alarm"
        ),
    )


# --- B132: integer EWMA fast/slow crossover --------------------------------

# EWMA smoothing as exact integer recurrences (alpha = 1/4 and 1/16):
# E_t = E_(t-1) + (x_t - E_(t-1)) div a. Spark `div` and DuckDB `//` both
# truncate toward zero on negatives (pinned by the D7 canary), so the two
# engines walk identical integer trajectories.
_EWMA_FAST_DIV = 4
_EWMA_SLOW_DIV = 16


@query(
    "q_ts_ewma_cross",
    oracle=f"""
    WITH RECURSIVE daily AS (
        SELECT n.n_name,
               date_trunc('day', o.o_orderdate) AS day,
               CAST(sum(CAST(round(100 * o.o_totalprice) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate IS NOT NULL AND o.o_totalprice IS NOT NULL
        GROUP BY n.n_name, date_trunc('day', o.o_orderdate)
    ),
    idx AS (
        SELECT n_name, day, cents,
               CAST(row_number() OVER (
                   PARTITION BY n_name ORDER BY day) AS BIGINT) AS rn
        FROM daily
    ),
    rec AS (
        SELECT n_name, rn, cents AS f, cents AS s,
               CAST(0 AS BIGINT) AS ncross,
               CAST(NULL AS TIMESTAMP) AS fc
        FROM idx WHERE rn = 1
        UNION ALL
        SELECT i.n_name, i.rn,
               r.f + (i.cents - r.f) // {_EWMA_FAST_DIV},
               r.s + (i.cents - r.s) // {_EWMA_SLOW_DIV},
               r.ncross + CASE WHEN
                   r.f + (i.cents - r.f) // {_EWMA_FAST_DIV}
                     > r.s + (i.cents - r.s) // {_EWMA_SLOW_DIV}
                   AND r.f <= r.s THEN 1 ELSE 0 END,
               coalesce(r.fc, CASE WHEN
                   r.f + (i.cents - r.f) // {_EWMA_FAST_DIV}
                     > r.s + (i.cents - r.s) // {_EWMA_SLOW_DIV}
                   AND r.f <= r.s THEN i.day END)
        FROM rec r JOIN idx i
          ON i.n_name IS NOT DISTINCT FROM r.n_name AND i.rn = r.rn + 1
    ),
    last AS (
        SELECT r.n_name, r.rn, r.f, r.s, r.ncross, r.fc
        FROM rec r
        JOIN (SELECT n_name, max(rn) AS mx FROM rec GROUP BY n_name) m
          ON r.n_name IS NOT DISTINCT FROM m.n_name AND r.rn = m.mx
    )
    SELECT n_name, rn AS n_days, f AS fast_cents, s AS slow_cents,
           ncross AS n_cross_up, fc AS first_cross_day
    FROM last
    """,
)
def q_ts_ewma_cross(spark, sf_dir):
    """B132: EWMA fast/slow CROSSOVER detection over daily order revenue
    per nation — the trend-turn signal (fast EWMA alpha=1/{_EWMA_FAST_DIV}
    crossing above slow alpha=1/{_EWMA_SLOW_DIV}) that complements B131's
    CUSUM level-shift alarm: CUSUM fires on sustained exceedance of a
    FIXED baseline, the crossover fires when the recent trend overtakes
    the long-run trend, baseline-free. Both EWMAs run as exact integer
    recurrences (truncating div — the D7 canary pins that Spark `div` and
    DuckDB `//` agree on negatives), so the trajectories are bit-identical
    on every engine — no float smoothing constant anywhere. Reports final
    fast/slow levels, the up-cross count and the first up-cross day.

    Scale: identical shape to B131 — the daily rollup is the only
    order-scale stage (one shuffle, dims broadcast); the fold state per
    nation is 5 BIGINTs over a calendar-bounded array (~2.4k days). The
    oracle walks the same recurrence via a recursive CTE (per-nation
    row_number spine) — NOT list_reduce, whose outer-reference handling
    DuckDB 1.0.0 gets wrong (the r6 cusum lesson)."""
    o = (
        table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate").isNotNull()
            & F.col("o_totalprice").isNotNull()
        )
        .select(
            "o_custkey",
            F.date_trunc("day", "o_orderdate").alias("day"),
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
    daily = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "day")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    g = daily.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.expr(
            "transform(array_sort(collect_list(struct(day, cents))), "
            "e -> named_struct('x', e.cents, 'd', e.day))"
        ).alias("arr"),
    )
    nf = f"a.f + (e.x - a.f) div {_EWMA_FAST_DIV}"
    ns = f"a.s + (e.x - a.s) div {_EWMA_SLOW_DIV}"
    crossed = f"({nf} > {ns} AND a.f <= a.s)"
    folded = g.select(
        "n_name",
        "n_days",
        F.expr(
            "aggregate(arr, "
            "named_struct('f', CAST(NULL AS BIGINT), "
            "'s', CAST(NULL AS BIGINT), "
            "'ncross', CAST(0 AS BIGINT), "
            "'fc', CAST(NULL AS TIMESTAMP)), "
            "(a, e) -> IF(a.f IS NULL, "
            "named_struct('f', e.x, 's', e.x, "
            "'ncross', CAST(0 AS BIGINT), 'fc', CAST(NULL AS TIMESTAMP)), "
            f"named_struct('f', {nf}, 's', {ns}, "
            f"'ncross', a.ncross + IF({crossed}, 1, 0), "
            f"'fc', coalesce(a.fc, IF({crossed}, e.d, "
            "CAST(NULL AS TIMESTAMP))))))"
        ).alias("st"),
    )
    return folded.select(
        "n_name",
        "n_days",
        F.col("st.f").alias("fast_cents"),
        F.col("st.s").alias("slow_cents"),
        F.col("st.ncross").alias("n_cross_up"),
        F.col("st.fc").alias("first_cross_day"),
    )


# --- B135: concurrent-interval backlog (open orders in flight) ---------------


@query(
    "q_ts_backlog",
    oracle="""
    WITH opens AS (
        SELECT o_orderpriority AS pri,
               CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
               CAST(1 AS BIGINT) AS delta,
               o_orderkey
        FROM orders WHERE o_orderdate IS NOT NULL
    ),
    closes AS (
        SELECT o.o_orderpriority AS pri,
               CAST(date_trunc('day', max(l.l_shipdate))
                    + INTERVAL 1 DAY AS TIMESTAMP) AS day,
               CAST(-1 AS BIGINT) AS delta,
               o.o_orderkey
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderdate IS NOT NULL AND l.l_shipdate IS NOT NULL
        GROUP BY o.o_orderpriority, o.o_orderkey
    ),
    deltas AS (
        SELECT pri, day, CAST(sum(delta) AS BIGINT) AS net
        FROM (SELECT pri, day, delta FROM opens
              UNION ALL SELECT pri, day, delta FROM closes)
        GROUP BY pri, day
    ),
    run AS (
        SELECT pri, day, net,
               CAST(sum(net) OVER (
                   PARTITION BY pri ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS backlog
        FROM deltas
    )
    SELECT pri, CAST(date_trunc('month', day) AS TIMESTAMP) AS month,
           CAST(max(backlog) AS BIGINT) AS peak_backlog,
           CAST(max_by(backlog, day) AS BIGINT) AS eom_backlog
    FROM run GROUP BY pri, date_trunc('month', day)
    """,
)
def q_ts_backlog(spark, sf_dir):
    """B135: CONCURRENT-INTERVAL counting — how many orders are in flight
    (placed, not yet fully shipped) per priority class over time, as the
    classic +1/-1 delta sweep: +1 at the order day, -1 the day AFTER its
    last lineitem ships, cumulative sum over the day-ordered per-priority
    frame, rolled up to monthly peak and end-of-month levels. The
    capacity-planning staple (simultaneous sessions / open tickets /
    WIP inventory) that naive day-grouping cannot express because an
    order spans MANY days. Deterministic: after the (pri, day) rollup,
    days are unique per priority, so the running-sum order is total (the
    C111 lesson); eom via max_by(backlog, day) with unique days is exact
    on both engines.

    Scale: the per-order close rollup (one shuffle on orderkey, map-side
    max) and the (pri, day) delta rollup are the only lineitem/order-scale
    stages; the running sum rides a |priorities|-way partition over a
    calendar-bounded frame (~5x2.4k rows). The one-day close offset makes
    the backlog inclusive of the ship day itself."""
    opens = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate").isNotNull())
        .select(
            F.col("o_orderpriority").alias("pri"),
            F.date_trunc("day", "o_orderdate").alias("day"),
            F.lit(1).cast("bigint").alias("delta"),
        )
    )
    closes = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate").isNotNull())
        .select("o_orderkey", F.col("o_orderpriority").alias("pri"))
        .join(
            table(spark, sf_dir, "lineitem")
            .where(F.col("l_shipdate").isNotNull())
            .select("l_orderkey", "l_shipdate"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("pri", "o_orderkey")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            "pri",
            F.expr(
                "date_trunc('day', last_ship) + INTERVAL 1 DAY"
            ).alias("day"),
            F.lit(-1).cast("bigint").alias("delta"),
        )
    )
    deltas = (
        opens.unionByName(closes)
        .groupBy("pri", "day")
        .agg(F.sum("delta").cast("bigint").alias("net"))
    )
    w = (
        Window.partitionBy("pri")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = deltas.withColumn(
        "backlog", F.sum("net").over(w).cast("bigint")
    )
    return run.groupBy(
        "pri", F.date_trunc("month", "day").alias("month")
    ).agg(
        F.max("backlog").cast("bigint").alias("peak_backlog"),
        F.expr("CAST(max_by(backlog, day) AS BIGINT)").alias(
            "eom_backlog"
        ),
    )


# --- B136: inter-arrival gap spectrum ---------------------------------------


@query(
    "q_events_inter_arrival",
    oracle="""
    WITH t AS (
        SELECT event_type, epoch_us(ts) AS us, event_id
        FROM events WHERE ts IS NOT NULL
    ),
    gaps AS (
        SELECT event_type,
               us - lag(us) OVER (
                   PARTITION BY event_type ORDER BY us, event_id
               ) AS gap_us
        FROM t
    ),
    oct AS (
        SELECT event_type,
               CAST(CASE WHEN gap_us = 0 THEN 0
                         ELSE length(bin(gap_us)) END AS BIGINT) AS octave
        FROM gaps WHERE gap_us IS NOT NULL
    )
    SELECT event_type, octave,
           CAST(count(*) AS BIGINT) AS n_gaps
    FROM oct GROUP BY event_type, octave
    """,
)
def q_events_inter_arrival(spark, sf_dir):
    """B136: inter-arrival GAP SPECTRUM per event_type — the distribution
    of µs gaps between consecutive events in exact power-of-two octaves
    (floor(log2(gap))+1 via the length(bin()) identity, C48/C51; octave 0
    = simultaneous). The burstiness fingerprint stream-capacity planning
    reads: a Poissonian type shows one broad mode, a bursty type splits
    into an intra-burst spike and an inter-burst tail — and the octave
    histogram is the exact input a B137-style burst detector would
    threshold on. Deterministic: lag runs over the (us, event_id) total
    order (the B110/B111 tie-break convention), octaves are pure integer
    bit-lengths — no float log, no quantile estimate.

    Plan/scale: one shuffle on event_type for the lag window; the octave
    rollup rides the same partitioning (map-side combine), output is
    |types| x ~60 rows. With a date-partitioned hypertable the scan
    prunes to the queried range; per-partition windows never see more
    than their slice."""
    t = (
        table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select(
            "event_type",
            F.expr("unix_micros(ts)").alias("us"),
            "event_id",
        )
    )
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    gaps = t.select(
        "event_type",
        (F.col("us") - F.lag("us").over(w)).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    octave = F.when(F.col("gap_us") == 0, F.lit(0)).otherwise(
        F.length(F.bin("gap_us"))
    )
    return (
        gaps.select("event_type", octave.cast("bigint").alias("octave"))
        .groupBy("event_type", "octave")
        .agg(F.count(F.lit(1)).alias("n_gaps"))
    )


@query(
    "q_ts_seasonality",
    oracle="""
    WITH o AS (
        SELECT dayofweek(o_orderdate) AS dow,
               CAST(round(100 * o_totalprice) AS BIGINT) AS cents
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
    ),
    g AS (
        SELECT dow,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS s1
        FROM o GROUP BY dow
    ),
    tot AS (
        SELECT CAST(sum(n_orders) AS BIGINT) AS nt,
               CAST(sum(s1) AS HUGEINT) AS st
        FROM g
    )
    SELECT g.dow, g.n_orders,
           CAST(g.s1 AS BIGINT) AS sum_cents,
           CAST(g.s1 // g.n_orders AS BIGINT) AS mean_cents,
           round((CAST(g.s1 AS DOUBLE) / CAST(g.n_orders AS DOUBLE))
                 / (CAST(tot.st AS DOUBLE) / CAST(tot.nt AS DOUBLE)), 6)
               AS seasonal_index
    FROM g CROSS JOIN tot
    """,
)
def q_ts_seasonality(spark, sf_dir):
    """B146: day-of-week seasonal index — mean order value per weekday
    relative to the overall mean, the multiplicative seasonal profile a
    forecast pipeline divides out before trend fitting (and the calendar
    sibling of B122's hourly profile, which profiles COUNTS; this
    profiles LEVELS). Cross-engine day-numbering is pinned to DuckDB's
    ``dayofweek`` convention (0 = Sunday .. 6 = Saturday; Spark's
    ``dayofweek`` is 1-based, so the Spark side subtracts 1 — the D13
    class of calendar-function divergence, resolved in code rather than
    discovered by the driver). Moments accumulate exactly (BIGINT cents,
    wide-integer sums); mean_cents is an integer floor-div and the index
    is ONE fixed float expression over four exact scalars, round(6) —
    the B142 discipline.

    Plan/scale: one orders-scale groupBy to 7 rows with map-side
    combine; totals are a 1-row aggregate of those 7, broadcast back."""
    o = (
        table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
        )
        .select(
            (F.dayofweek("o_orderdate") - 1).alias("dow"),
            F.expr("CAST(round(100 * o_totalprice) AS BIGINT)").alias("cents"),
        )
    )
    g = o.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s1"),
    )
    tot = g.agg(
        F.sum("n_orders").cast("bigint").alias("nt"),
        F.sum("s1").cast("decimal(38,0)").alias("st"),
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "dow",
        "n_orders",
        F.col("s1").cast("bigint").alias("sum_cents"),
        F.expr("CAST(s1 div n_orders AS BIGINT)").alias("mean_cents"),
        F.round(
            (F.col("s1").cast("double") / F.col("n_orders").cast("double"))
            / (F.col("st").cast("double") / F.col("nt").cast("double")),
            6,
        ).alias("seasonal_index"),
    )


_ACF_MAX_LAG = 7
_DAY_US_TS = 86_400_000_000


@query(
    "q_ts_acf",
    oracle=f"""
    WITH daily AS (
        SELECT epoch_us(o_orderdate) // {_DAY_US_TS} AS day,
               CAST(sum(CAST(round(100 * o_totalprice) AS BIGINT))
                    AS BIGINT) AS x
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
        GROUP BY day
    ),
    tot AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS s,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2
        FROM daily
    ),
    lags(lag) AS (
        SELECT * FROM range(1, {_ACF_MAX_LAG + 1})
    ),
    pairs AS (
        SELECT l.lag,
               CAST(count(*) AS HUGEINT) AS np,
               CAST(sum(CAST(a.x AS HUGEINT) * b.x) AS HUGEINT) AS sxy,
               CAST(sum(CAST(a.x AS HUGEINT) + b.x) AS HUGEINT) AS sxpy
        FROM lags l
        JOIN daily a ON TRUE
        JOIN daily b ON a.day = b.day + l.lag
        GROUP BY l.lag
    )
    SELECT p.lag AS lag, CAST(p.np AS BIGINT) AS n_pairs,
           round(
             CAST(t.n * t.n * p.sxy - t.n * t.s * p.sxpy + p.np * t.s * t.s
                  AS DOUBLE)
             / CAST(t.n * t.n * t.s2 - t.n * t.s * t.s AS DOUBLE), 6)
               AS acf
    FROM pairs p CROSS JOIN tot t
    """,
)
def q_ts_acf(spark, sf_dir):
    """B151: autocorrelation function of the daily-revenue series at lags
    1..{_ACF_MAX_LAG} — the diagnostics staple behind every forecasting
    decision (is there weekly structure? how fast does memory decay?),
    completing the time-series stats family (B113 rolling slope, B132
    EWMA, B146 seasonal index; ACF is how you decide WHICH of those to
    fit). Exactness: the centered cross-products expand to the integer
    identity n^2*sum(x_t*x_(t-L)) - n*S*sum(x_t + x_(t-L)) + n_pairs*S^2
    over wide exact integers (HUGEINT/DECIMAL(38,0)), so numerator and
    denominator are exact and the ratio is ONE float division round(6)
    per lag — the B139 moment discipline stretched to lagged products.
    The lag alignment is an equi-JOIN on (day = day + L), not a window:
    deterministic under any partitioning, no partitionless sort, and the
    |lags| x |days| expansion broadcasts the tiny lag spine.

    Plan/scale: one orders-scale rollup to |days| rows; the lag join and
    every moment run on that ~thousands-row frame. At 100 TB the daily
    rollup is the only data-scale job — same shape as B99/B110."""
    daily = (
        table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
        )
        .groupBy(
            F.expr(f"unix_micros(o_orderdate) div {_DAY_US_TS}").alias("day")
        )
        .agg(
            F.sum(F.expr("CAST(round(100 * o_totalprice) AS BIGINT)"))
            .cast("bigint")
            .alias("x")
        )
    )
    dec = F.col("x").cast("decimal(38,0)")
    tot = daily.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(dec).cast("decimal(38,0)").alias("s"),
        F.sum(dec * F.col("x")).cast("decimal(38,0)").alias("s2"),
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").cast("bigint").alias("lag")
    )
    a = daily.select(F.col("day").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("day").alias("db"), F.col("x").alias("xb"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("da") == F.col("db") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("np"),
            F.sum(F.col("xa").cast("decimal(38,0)") * F.col("xb"))
            .cast("decimal(38,0)")
            .alias("sxy"),
            F.sum(F.col("xa").cast("decimal(38,0)") + F.col("xb"))
            .cast("decimal(38,0)")
            .alias("sxpy"),
        )
    )
    num = (
        F.col("n") * F.col("n") * F.col("sxy")
        - F.col("n") * F.col("s") * F.col("sxpy")
        + F.col("np") * F.col("s") * F.col("s")
    )
    den = F.col("n") * F.col("n") * F.col("s2") - F.col("n") * F.col("s") * F.col("s")
    return pairs.crossJoin(F.broadcast(tot)).select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("np").cast("bigint").alias("n_pairs"),
        F.round(num.cast("double") / den.cast("double"), 6).alias("acf"),
    )


@query(
    "q_ts_pacf",
    oracle=f"""
    WITH daily AS (
        SELECT epoch_us(o_orderdate) // {_DAY_US_TS} AS day,
               CAST(sum(CAST(round(100 * o_totalprice) AS BIGINT))
                    AS BIGINT) AS x
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
        GROUP BY day
    ),
    tot AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS s,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2
        FROM daily
    ),
    pairs AS (
        SELECT l.range AS lag,
               CAST(count(*) AS HUGEINT) AS np,
               CAST(sum(CAST(a.x AS HUGEINT) * b.x) AS HUGEINT) AS sxy,
               CAST(sum(CAST(a.x AS HUGEINT) + b.x) AS HUGEINT) AS sxpy
        FROM range(1, 4) l
        JOIN daily a ON TRUE
        JOIN daily b ON a.day = b.day + l.range
        GROUP BY l.range
    ),
    rs AS (
        SELECT p.lag,
               CAST(t.n * t.n * p.sxy - t.n * t.s * p.sxpy + p.np * t.s * t.s
                    AS DOUBLE)
               / CAST(t.n * t.n * t.s2 - t.n * t.s * t.s AS DOUBLE) AS r
        FROM pairs p CROSS JOIN tot t
    ),
    wide AS (
        SELECT max(CASE WHEN lag = 1 THEN r END) AS r1,
               max(CASE WHEN lag = 2 THEN r END) AS r2,
               max(CASE WHEN lag = 3 THEN r END) AS r3
        FROM rs
    )
    SELECT round(r1, 6) AS pacf1,
           round((r2 - r1 * r1) / (1 - r1 * r1), 6) AS pacf2,
           round(
             (r3 - (r1 * (1 - r2) / (1 - r1 * r1)) * r2
                 - ((r2 - r1 * r1) / (1 - r1 * r1)) * r1)
             / (1 - (r1 * (1 - r2) / (1 - r1 * r1)) * r1
                  - ((r2 - r1 * r1) / (1 - r1 * r1)) * r2), 6) AS pacf3
    FROM wide
    """,
)
def q_ts_pacf(spark, sf_dir):
    """B152: partial autocorrelation at lags 1..3 via the Durbin-Levinson
    closed forms — the AR-order selector that completes B151 (ACF says
    whether memory exists; PACF says how many AR terms explain it, the
    standard Box-Jenkins identification pair). Each raw autocorrelation
    r_L is ONE float division of exact wide-integer moments (the B151
    identity — exact rationals would need ~1e56 numerators, past any
    fixed decimal, so the division happens first and the Durbin recursion
    runs as a deterministic double chain over three identical inputs,
    round(6) — the B142 discipline, one step deeper). pacf2 =
    (r2-r1^2)/(1-r1^2); pacf3 via the order-2 Durbin coefficients.

    Plan/scale: identical to B151 (daily rollup + tiny lag join) with a
    3-way conditional pivot to one output row; at 100 TB the daily
    rollup is the only data-scale job and ACF/PACF share it."""
    daily = (
        table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
        )
        .groupBy(
            F.expr(f"unix_micros(o_orderdate) div {_DAY_US_TS}").alias("day")
        )
        .agg(
            F.sum(F.expr("CAST(round(100 * o_totalprice) AS BIGINT)"))
            .cast("bigint")
            .alias("x")
        )
    )
    dec = F.col("x").cast("decimal(38,0)")
    tot = daily.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(dec).cast("decimal(38,0)").alias("s"),
        F.sum(dec * F.col("x")).cast("decimal(38,0)").alias("s2"),
    )
    lags = spark.range(1, 4).select(F.col("id").cast("bigint").alias("lag"))
    a = daily.select(F.col("day").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("day").alias("db"), F.col("x").alias("xb"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("da") == F.col("db") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("np"),
            F.sum(F.col("xa").cast("decimal(38,0)") * F.col("xb"))
            .cast("decimal(38,0)")
            .alias("sxy"),
            F.sum(F.col("xa").cast("decimal(38,0)") + F.col("xb"))
            .cast("decimal(38,0)")
            .alias("sxpy"),
        )
    )
    num = (
        F.col("n") * F.col("n") * F.col("sxy")
        - F.col("n") * F.col("s") * F.col("sxpy")
        + F.col("np") * F.col("s") * F.col("s")
    )
    den = (
        F.col("n") * F.col("n") * F.col("s2")
        - F.col("n") * F.col("s") * F.col("s")
    )
    rs = pairs.crossJoin(F.broadcast(tot)).select(
        "lag", (num.cast("double") / den.cast("double")).alias("r")
    )
    wide = rs.agg(
        F.max(F.when(F.col("lag") == 1, F.col("r"))).alias("r1"),
        F.max(F.when(F.col("lag") == 2, F.col("r"))).alias("r2"),
        F.max(F.when(F.col("lag") == 3, F.col("r"))).alias("r3"),
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    phi21 = r1 * (1 - r2) / (1 - r1 * r1)
    phi22 = (r2 - r1 * r1) / (1 - r1 * r1)
    return wide.select(
        F.round(r1, 6).alias("pacf1"),
        F.round(phi22, 6).alias("pacf2"),
        F.round(
            (r3 - phi21 * r2 - phi22 * r1) / (1 - phi21 * r1 - phi22 * r2), 6
        ).alias("pacf3"),
    )


_CCF_MAX_LAG = 3
_CCF_TYPE_X = "purchase"
_CCF_TYPE_Y = "error"


@query(
    "q_ts_ccf",
    oracle=f"""
    WITH daily AS (
        SELECT epoch_us(ts) // {_DAY_US_TS} AS day,
               CAST(sum(CASE WHEN event_type = '{_CCF_TYPE_X}'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = '{_CCF_TYPE_Y}'
                             THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM events
        WHERE ts IS NOT NULL
          AND event_type IN ('{_CCF_TYPE_X}', '{_CCF_TYPE_Y}')
        GROUP BY day
    ),
    lags(lag) AS (
        SELECT * FROM range(-{_CCF_MAX_LAG}, {_CCF_MAX_LAG + 1})
    ),
    pairs AS (
        SELECT l.lag,
               CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(CAST(a.x AS HUGEINT)) AS HUGEINT) AS sx,
               CAST(sum(CAST(b.y AS HUGEINT)) AS HUGEINT) AS sy,
               CAST(sum(CAST(a.x AS HUGEINT) * a.x) AS HUGEINT) AS sx2,
               CAST(sum(CAST(b.y AS HUGEINT) * b.y) AS HUGEINT) AS sy2,
               CAST(sum(CAST(a.x AS HUGEINT) * b.y) AS HUGEINT) AS sxy
        FROM lags l
        JOIN daily a ON TRUE
        JOIN daily b ON b.day = a.day + l.lag
        GROUP BY l.lag
    )
    SELECT CAST(lag AS BIGINT) AS lag,
           CAST(n AS BIGINT) AS n_pairs,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / nullif(sqrt((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
                                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                               * (CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
                                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                          0.0),
                 6) AS ccf
    FROM pairs
    """,
)
def q_ts_ccf(spark, sf_dir):
    """B156: cross-correlation function between the daily
    '{_CCF_TYPE_X}' and '{_CCF_TYPE_Y}' count series at lags
    -{_CCF_MAX_LAG}..+{_CCF_MAX_LAG} — B151's ACF generalized to TWO
    series: does today's purchase volume predict errors N days out
    (positive lags), or trail them (negative lags)? The lead/lag
    diagnostic every ops/forecasting pipeline runs between a driver
    metric and an outcome metric.

    Exactness: daily counts are exact integers off one conditional
    rollup; per-lag Pearson uses the per-overlap moments (not B151's
    global-mean shortcut — with two series the textbook CCF re-centers
    on each overlap window), all six moments exact wide integers, the
    correlation ONE guarded float per lag, round(6). Lag alignment is
    an equi-join against a 7-row broadcast lag spine — deterministic,
    no partitionless window (negative lags ride the same join with
    b.day = a.day + L, L < 0).

    Plan/scale: one events-scale conditional rollup to |days| rows;
    the |lags| x |days| expansion and all moments run on that KB-scale
    frame. Identical shape to B151/B152 — at 100 TB the daily rollup
    is the only data-scale job and the three diagnostics share it."""
    daily = (
        table(spark, sf_dir, "events")
        .where(
            F.col("ts").isNotNull()
            & F.col("event_type").isin(_CCF_TYPE_X, _CCF_TYPE_Y)
        )
        .groupBy(
            F.expr(f"unix_micros(ts) div {_DAY_US_TS}").alias("day")
        )
        .agg(
            F.sum(
                F.when(F.col("event_type") == _CCF_TYPE_X, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("x"),
            F.sum(
                F.when(F.col("event_type") == _CCF_TYPE_Y, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("y"),
        )
    )
    lags = spark.range(-_CCF_MAX_LAG, _CCF_MAX_LAG + 1).select(
        F.col("id").cast("bigint").alias("lag")
    )
    a = daily.select(F.col("day").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("day").alias("db"), F.col("y").alias("yb"))
    xd = F.col("xa").cast("decimal(38,0)")
    yd = F.col("yb").cast("decimal(38,0)")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.col("da") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum(xd).cast("decimal(38,0)").alias("sx"),
            F.sum(yd).cast("decimal(38,0)").alias("sy"),
            F.sum(xd * F.col("xa")).cast("decimal(38,0)").alias("sx2"),
            F.sum(yd * F.col("yb")).cast("decimal(38,0)").alias("sy2"),
            F.sum(xd * F.col("yb")).cast("decimal(38,0)").alias("sxy"),
        )
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sx2d = F.col("sx2").cast("double")
    sy2d = F.col("sy2").cast("double")
    sxyd = F.col("sxy").cast("double")
    ccf = (nd * sxyd - sxd * syd) / F.nullif(
        F.sqrt((nd * sx2d - sxd * sxd) * (nd * sy2d - syd * syd)),
        F.lit(0.0),
    )
    return pairs.select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").cast("bigint").alias("n_pairs"),
        F.round(ccf, 6).alias("ccf"),
    )


_TREND_H = 3  # forecast horizon in days


@query(
    "q_ts_trend_forecast",
    oracle=f"""
    WITH daily AS (
        SELECT epoch_us(o_orderdate) // {_DAY_US_TS} AS day,
               CAST(sum(CAST(round(100 * o_totalprice) AS BIGINT))
                    AS BIGINT) AS x
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
        GROUP BY day
    ),
    mo AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               CAST(min(day) AS BIGINT) AS d0,
               CAST(max(day) AS BIGINT) AS dmax,
               CAST(sum(CAST(day - (SELECT min(day) FROM daily) AS HUGEINT))
                    AS HUGEINT) AS st,
               CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
               CAST(sum(CAST(day - (SELECT min(day) FROM daily) AS HUGEINT)
                        * (day - (SELECT min(day) FROM daily)))
                    AS HUGEINT) AS st2,
               CAST(sum(CAST(day - (SELECT min(day) FROM daily) AS HUGEINT)
                        * x) AS HUGEINT) AS stx
        FROM daily
    ),
    hs(h) AS (SELECT * FROM range(1, {_TREND_H + 1}))
    SELECT CAST(h AS BIGINT) AS h,
           CAST(dmax + h AS BIGINT) AS day,
           round((CAST(n AS DOUBLE) * CAST(stx AS DOUBLE)
                  - CAST(st AS DOUBLE) * CAST(sx AS DOUBLE))
                 / nullif(CAST(n AS DOUBLE) * CAST(st2 AS DOUBLE)
                          - CAST(st AS DOUBLE) * CAST(st AS DOUBLE), 0.0),
                 6) AS slope_cents_per_day,
           round((CAST(sx AS DOUBLE)
                  - (CAST(n AS DOUBLE) * CAST(stx AS DOUBLE)
                     - CAST(st AS DOUBLE) * CAST(sx AS DOUBLE))
                    / nullif(CAST(n AS DOUBLE) * CAST(st2 AS DOUBLE)
                             - CAST(st AS DOUBLE) * CAST(st AS DOUBLE), 0.0)
                    * CAST(st AS DOUBLE)) / CAST(n AS DOUBLE)
                 + (CAST(n AS DOUBLE) * CAST(stx AS DOUBLE)
                    - CAST(st AS DOUBLE) * CAST(sx AS DOUBLE))
                   / nullif(CAST(n AS DOUBLE) * CAST(st2 AS DOUBLE)
                            - CAST(st AS DOUBLE) * CAST(st AS DOUBLE), 0.0)
                   * CAST(dmax + h - d0 AS DOUBLE),
                 6) AS forecast_cents
    FROM hs CROSS JOIN mo
    """,
)
def q_ts_trend_forecast(spark, sf_dir):
    """B159: linear-trend forecast of the daily-revenue series — OLS of
    cents on day index, extrapolated {_TREND_H} days past the last
    observation; the baseline every forecasting bake-off starts from
    (and what B151/B152's diagnostics decide to replace it with). The
    global twin of B113's rolling slope.

    Exactness: day index is re-based to t = day - min(day) (keeps t*x
    products small), all four OLS moments are exact wide integers; the
    slope is ONE float ratio of exact scalars, the forecast intercept +
    slope*(t_max + h) ONE fixed float expression per horizon row,
    round(6), zero-variance guarded. The horizon spine is a 3-row
    broadcast.

    Plan/scale: one orders-scale daily rollup (shared shape with
    B151/B152/B146 — a real pipeline computes all four diagnostics off
    one pass); moments and forecasts are KB-scale."""
    daily = (
        table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
        )
        .groupBy(
            F.expr(f"unix_micros(o_orderdate) div {_DAY_US_TS}").alias("day")
        )
        .agg(
            F.sum(F.expr("CAST(round(100 * o_totalprice) AS BIGINT)"))
            .cast("bigint")
            .alias("x")
        )
    )
    d0 = daily.agg(F.min("day").alias("d0")).select("d0")
    based = daily.crossJoin(F.broadcast(d0)).select(
        (F.col("day") - F.col("d0")).cast("decimal(38,0)").alias("t"),
        F.col("x").cast("decimal(38,0)").alias("x"),
        "day",
        "d0",
    )
    mo = based.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.first("d0").alias("d0"),
        F.max("day").cast("bigint").alias("dmax"),
        F.sum("t").cast("decimal(38,0)").alias("st"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("t") * F.col("t")).cast("decimal(38,0)").alias("st2"),
        F.sum(F.col("t") * F.col("x")).cast("decimal(38,0)").alias("stx"),
    )
    hs = spark.range(1, _TREND_H + 1).select(
        F.col("id").cast("bigint").alias("h")
    )
    nd = F.col("n").cast("double")
    std = F.col("st").cast("double")
    sxd = F.col("sx").cast("double")
    st2d = F.col("st2").cast("double")
    stxd = F.col("stx").cast("double")
    den = F.nullif(nd * st2d - std * std, F.lit(0.0))
    slope = (nd * stxd - std * sxd) / den
    intercept = (sxd - slope * std) / nd
    return hs.crossJoin(F.broadcast(mo)).select(
        "h",
        (F.col("dmax") + F.col("h")).cast("bigint").alias("day"),
        F.round(slope, 6).alias("slope_cents_per_day"),
        F.round(
            intercept
            + slope
            * (F.col("dmax") + F.col("h") - F.col("d0")).cast("double"),
            6,
        ).alias("forecast_cents"),
    )


@query(
    "q_ts_peaks",
    oracle=f"""
    WITH daily AS MATERIALIZED (
        SELECT epoch_us(o_orderdate) // {_DAY_US_TS} AS day,
               CAST(sum(CAST(round(100 * o_totalprice) AS BIGINT))
                    AS BIGINT) AS x
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
        GROUP BY day
    )
    SELECT c.day AS day, c.x AS revenue_cents,
           CAST(c.x - greatest(l.x, r.x) AS BIGINT) AS prominence_cents
    FROM daily c
    JOIN daily l ON l.day = c.day - 1
    JOIN daily r ON r.day = c.day + 1
    WHERE c.x > l.x AND c.x > r.x
    """,
)
def q_ts_peaks(spark, sf_dir):
    """B161: local-maximum (peak) detection on the daily-revenue series
    — days strictly above both calendar neighbors, with prominence =
    height over the taller neighbor; the event-detection primitive
    under every anomaly/burst dashboard (B136's burst episodes detect
    sustained elevation, this detects single-day spikes — the two
    triage differently).

    Exactness: all integer cents; strict > comparisons; neighbors are
    equi-JOINs on day±1 rather than lag/lead windows, so a missing
    calendar day simply disqualifies the peak on both engines
    identically and NO window (partitioned or otherwise) exists in the
    plan at all. Deterministic under any partitioning.

    Plan/scale: one orders-scale daily rollup (the shared B151-family
    pass); the three-way self-join runs on |days| rows. At 100 TB the
    rollup is the only data-scale job."""
    daily = (
        table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
        )
        .groupBy(
            F.expr(f"unix_micros(o_orderdate) div {_DAY_US_TS}").alias("day")
        )
        .agg(
            F.sum(F.expr("CAST(round(100 * o_totalprice) AS BIGINT)"))
            .cast("bigint")
            .alias("x")
        )
        .localCheckpoint(eager=True)
    )
    c = daily.select(F.col("day").alias("day"), F.col("x").alias("xc"))
    left = daily.select(
        (F.col("day") + 1).alias("day"), F.col("x").alias("xl")
    )
    right = daily.select(
        (F.col("day") - 1).alias("day"), F.col("x").alias("xr")
    )
    return (
        c.join(left, "day")
        .join(right, "day")
        .where((F.col("xc") > F.col("xl")) & (F.col("xc") > F.col("xr")))
        .select(
            "day",
            F.col("xc").alias("revenue_cents"),
            (F.col("xc") - F.greatest(F.col("xl"), F.col("xr")))
            .cast("bigint")
            .alias("prominence_cents"),
        )
    )


# --- B169: weekday-deseasonalized revenue outliers ----------------------------

_SEASONAL_TOP_K = 10


@query(
    "q_ts_seasonal_outliers",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS d,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders WHERE o_orderdate IS NOT NULL
        GROUP BY 1
    ),
    dev AS (
        SELECT d, cents,
               CAST(date_diff('day', DATE '1970-01-01', CAST(d AS DATE)) % 7
                    AS INTEGER) AS wd
        FROM daily
    ),
    season AS (
        SELECT d, cents, wd,
               round(cents - avg(cents) OVER (PARTITION BY wd), 6)
                   AS residual_cents
        FROM dev
    )
    SELECT d, wd, cents, residual_cents, rnk FROM (
        SELECT *, CAST(row_number() OVER (
                   ORDER BY abs(residual_cents) DESC, d) AS INTEGER) AS rnk
        FROM season
    ) WHERE rnk <= {_SEASONAL_TOP_K}
    """,
)
def q_ts_seasonal_outliers(spark, sf_dir):
    """B169: seasonality-adjusted anomaly ranking — deseasonalize the
    daily revenue series by its weekday profile (B146's seasonal decomp
    put to work), then rank days by absolute residual: the "was Tuesday
    actually unusual FOR a Tuesday" question raw z-scores get wrong.
    Weekday is the PORTABLE epoch-day modulus (epoch_days % 7), never the
    engine-defined dayofweek()/isodow() whose week origin differs between
    engines. Daily cents are exact BIGINTs (D2 floor-cents); the weekday
    mean is the one double op, computed identically per row (round 6).
    Plan: point-scale work is ONE hash aggregate to |days| rows; the
    weekday window and the global rank run on that kilobyte-scale frame
    (the global window is bounded by |days| — the B41 caveat doesn't
    bite, same argument as B146). At 100 TB nothing else changes: |days|
    is calendar-bounded."""
    daily = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate").isNotNull())
        .groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
        .withColumn(
            "wd",
            (
                F.datediff(F.col("d").cast("date"), F.lit("1970-01-01").cast("date"))
                % 7
            ).cast("int"),
        )
    )
    season = daily.withColumn(
        "residual_cents",
        F.round(
            F.col("cents") - F.avg("cents").over(Window.partitionBy("wd")), 6
        ),
    )
    # TakeOrdered head first (B41 discipline), rank only the survivors —
    # the partitionless rank window sits above a GlobalLimit.
    top = season.orderBy(
        F.abs(F.col("residual_cents")).desc(), "d"
    ).limit(_SEASONAL_TOP_K)
    w = Window.orderBy(F.abs(F.col("residual_cents")).desc(), "d")
    return top.select(
        "d",
        "wd",
        "cents",
        "residual_cents",
        F.row_number().over(w).cast("int").alias("rnk"),
    )


# --- B172: open-order concurrency profile --------------------------------------

_CONCURRENCY_TOP_K = 10


@query(
    "q_win_order_concurrency",
    oracle=f"""
    WITH spans AS (
        SELECT o.o_orderkey,
               date_diff('day', DATE '1970-01-01',
                         CAST(o.o_orderdate AS DATE)) AS start_d,
               date_diff('day', DATE '1970-01-01',
                         CAST(min(l.l_shipdate) AS DATE)) AS end_d
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderdate IS NOT NULL AND l.l_shipdate IS NOT NULL
        GROUP BY o.o_orderkey, o.o_orderdate
    ),
    deltas AS (
        SELECT start_d AS d, 1 AS delta FROM spans
        UNION ALL
        SELECT end_d + 1, -1 FROM spans
    ),
    daily AS (
        SELECT d, CAST(sum(delta) AS BIGINT) AS net FROM deltas GROUP BY d
    ),
    running AS (
        SELECT d, CAST(sum(net) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS open_orders
        FROM daily
    )
    SELECT d AS epoch_day, open_orders, rnk FROM (
        SELECT *, CAST(row_number() OVER (
                   ORDER BY open_orders DESC, d) AS INTEGER) AS rnk
        FROM running
    ) WHERE rnk <= {_CONCURRENCY_TOP_K}
    """,
)
def q_win_order_concurrency(spark, sf_dir):
    """B172: interval-stabbing concurrency — the peak number of
    simultaneously open orders (ordered, not yet first-shipped), the
    classic "max concurrent sessions" analytic done the scalable way:
    never expand intervals to their member days (O(Σ duration) rows) —
    convert each interval to a +1 at start and a -1 after end, aggregate
    to per-day net change (ONE shuffle keyed by day), and run the
    running sum over the |days|-row frame (calendar-bounded, kilobytes
    at any SF — the B146/B169 argument for the global window). Interval
    end = the order's FIRST shipment (min l_shipdate per order: one
    partial-aggregatable min). Days are portable epoch-day BIGINTs
    (D13: date_trunc result types diverge; integer days cannot). Top-
    {_CONCURRENCY_TOP_K} busiest days released with deterministic
    (count desc, day) order."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    epoch = F.lit("1970-01-01").cast("date")
    spans = (
        o.where(F.col("o_orderdate").isNotNull())
        .join(
            li.where(F.col("l_shipdate").isNotNull()),
            o.o_orderkey == li.l_orderkey,
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.min("l_shipdate").alias("first_ship"))
        .select(
            F.datediff(F.col("o_orderdate").cast("date"), epoch).alias(
                "start_d"
            ),
            F.datediff(F.col("first_ship").cast("date"), epoch).alias(
                "end_d"
            ),
        )
    )
    deltas = spans.select(
        F.col("start_d").alias("d"), F.lit(1).alias("delta")
    ).unionByName(
        spans.select((F.col("end_d") + 1).alias("d"), F.lit(-1).alias("delta"))
    )
    daily = deltas.groupBy("d").agg(
        F.sum("delta").cast("bigint").alias("net")
    )
    wrun = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    running = daily.select(
        F.col("d").alias("epoch_day"),
        F.sum("net").over(wrun).cast("bigint").alias("open_orders"),
    )
    top = running.orderBy(
        F.col("open_orders").desc(), "epoch_day"
    ).limit(_CONCURRENCY_TOP_K)
    wr = Window.orderBy(F.col("open_orders").desc(), "epoch_day")
    return top.select(
        F.col("epoch_day").cast("bigint").alias("epoch_day"),
        "open_orders",
        F.row_number().over(wr).cast("int").alias("rnk"),
    )


# --- B173: rolling-median smoothing -------------------------------------------

_ROLL_MED_FRAME = 7  # trailing frame rows (days observed, ROWS not RANGE)


@query(
    "q_win_rolling_median",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS d,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders WHERE o_orderdate IS NOT NULL
        GROUP BY 1
    )
    SELECT d, cents,
           round(median(cents) OVER (ORDER BY d
                 ROWS BETWEEN {_ROLL_MED_FRAME - 1} PRECEDING AND CURRENT ROW),
                 1) AS med_cents,
           CAST(count(*) OVER (ORDER BY d
                ROWS BETWEEN {_ROLL_MED_FRAME - 1} PRECEDING AND CURRENT ROW)
                AS INTEGER) AS n_in_frame
    FROM daily
    """,
)
def q_win_rolling_median(spark, sf_dir):
    """B173: trailing {_ROLL_MED_FRAME}-observation rolling MEDIAN of the
    daily revenue series — the robust smoother B113's rolling OLS and
    B132's EWMA lack (one flash-sale day drags a rolling MEAN for a week;
    the median shrugs it off). Exact interpolating percentile over BIGINT
    cents inside a ROWS frame (observed days, the trading-days
    convention; B31 pins cross-engine percentile interpolation parity,
    and the even-frame midpoint of two ints is a dyadic double — exact on
    both engines, released round-1). Point-scale work is the ONE daily
    hash aggregate; both windows share the |days|-row frame's single
    day-ordered pass (calendar-bounded — the B146/B169/B172 argument)."""
    daily = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate").isNotNull())
        .groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w = Window.orderBy("d").rowsBetween(-(_ROLL_MED_FRAME - 1), 0)
    return daily.select(
        "d",
        "cents",
        F.round(F.expr("percentile(cents, 0.5)").over(w), 1).alias(
            "med_cents"
        ),
        F.count(F.lit(1)).over(w).cast("int").alias("n_in_frame"),
    )


# --- B175: largest-triangle downsampling (parallel LTTB) -----------------------

_LTTB_BUCKETS = 24

# Identical-text float expression on both engines (IEEE *,-,/ only): the
# triangle area of point (x, y*cl) against the LEFT bucket's mean anchor
# (sxl/cl, syl/cl) and the RIGHT bucket's mean anchor (sxr/cr, syr/cr),
# cleared of denominators by cl^2*cr > 0 (constant within a bucket, so the
# per-bucket argmax is unchanged), then divided back out for the released
# comparable area.
_LTTB_AREA = (
    "(CAST(sxl AS DOUBLE) * CAST(cr AS DOUBLE)"
    " - CAST(sxr AS DOUBLE) * CAST(cl AS DOUBLE))"
    " * (CAST(y AS DOUBLE) * CAST(cl AS DOUBLE) - CAST(syl AS DOUBLE))"
    " - (CAST(sxl AS DOUBLE) - CAST(x AS DOUBLE) * CAST(cl AS DOUBLE))"
    " * (CAST(syr AS DOUBLE) * CAST(cl AS DOUBLE)"
    " - CAST(syl AS DOUBLE) * CAST(cr AS DOUBLE))"
)
_LTTB_SEL = (
    f"CASE WHEN bkt = 0 THEN CAST(-x AS DOUBLE)"
    f" WHEN bkt = {_LTTB_BUCKETS - 1} THEN CAST(x AS DOUBLE)"
    f" WHEN cl IS NULL OR cr IS NULL THEN -1.0"
    f" ELSE abs({_LTTB_AREA}) END"
)
_LTTB_OUT_AREA = (
    f"CASE WHEN bkt = 0 OR bkt = {_LTTB_BUCKETS - 1}"
    f" OR cl IS NULL OR cr IS NULL THEN NULL"
    f" ELSE round(abs({_LTTB_AREA})"
    f" / (2.0 * CAST(cl AS DOUBLE) * CAST(cl AS DOUBLE)"
    f" * CAST(cr AS DOUBLE)), 6) END"
)


@query(
    "q_ts_lttb",
    oracle=f"""
    WITH daily AS (
        SELECT date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) AS x,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   // 1000 AS y
        FROM orders WHERE o_orderdate IS NOT NULL
        GROUP BY 1
    ),
    pts AS (
        SELECT x, y,
               CAST(((row_number() OVER (ORDER BY x)) - 1)
                    * {_LTTB_BUCKETS} // (count(*) OVER ()) AS BIGINT)
                   AS bkt
        FROM daily
    ),
    aggs AS (
        SELECT bkt, CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy
        FROM pts GROUP BY bkt
    ),
    armed AS (
        SELECT p.bkt, p.x, p.y, a.cnt AS n_in_bucket,
               l.cnt AS cl, l.sx AS sxl, l.sy AS syl,
               r.cnt AS cr, r.sx AS sxr, r.sy AS syr
        FROM pts p
        JOIN aggs a ON a.bkt = p.bkt
        LEFT JOIN aggs l ON l.bkt = p.bkt - 1
        LEFT JOIN aggs r ON r.bkt = p.bkt + 1
    ),
    ranked AS (
        SELECT bkt, x, y, n_in_bucket,
               {_LTTB_OUT_AREA} AS area,
               row_number() OVER (
                   PARTITION BY bkt
                   ORDER BY {_LTTB_SEL} DESC, x) AS rnk
        FROM armed
    )
    SELECT CAST(bkt AS INTEGER) AS bucket, x AS epoch_day,
           y AS kcents, n_in_bucket, area
    FROM ranked WHERE rnk = 1
    """,
)
def q_ts_lttb(spark, sf_dir):
    """B175: Largest-Triangle downsampling of the daily revenue series to
    {_LTTB_BUCKETS} visually-representative points (Steinarsson 2013's
    LTTB, in its parallelizable mean-anchor form: each interior bucket
    keeps the point with the largest triangle area against the NEIGHBOR
    BUCKETS' mean points, instead of the sequential previously-selected
    point — the independence that lets every bucket elect concurrently;
    first/last bucket pin the series endpoints, as in the original).
    The dashboard-rendering staple B146/B173 smooth but never shrink.

    Cross-engine float shape: the area comparator is ONE identical-text
    left-to-right expression over exact BIGINTs (day index, kilocent
    bucket sums/counts) using IEEE *,-,/ only — no libm — with bucket-mean
    denominators cleared so the argmax compares products of exact
    integers in double; released area divides back out, round(6).
    Deterministic tiebreak (area desc, day asc); unique day keys make the
    election exact. Plan/scale: ONE daily hash aggregate does all the
    point-scale work; the bucket index is a row_number over the |days|
    frame (calendar-bounded — the B146/B169/B172 argument, allowlisted in
    the plan sweep); bucket aggregates are {_LTTB_BUCKETS} rows broadcast
    to both neighbor joins; the election window partitions by bucket."""
    epoch = F.lit("1970-01-01").cast("date")
    daily = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate").isNotNull())
        .groupBy(
            F.datediff(F.col("o_orderdate").cast("date"), epoch).alias("x")
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))"
                " AS BIGINT) div 1000"
            ).alias("y")
        )
    )
    wn = Window.orderBy("x")
    n_tot = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    pts = (
        daily.withColumn("rn", F.row_number().over(wn).cast("bigint"))
        .crossJoin(F.broadcast(n_tot))
        .select(
            "x",
            "y",
            F.expr(
                f"CAST((rn - 1) * {_LTTB_BUCKETS} div n AS BIGINT)"
            ).alias("bkt"),
        )
    )
    aggs = pts.groupBy("bkt").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    armed = (
        pts.join(
            F.broadcast(aggs.select("bkt", F.col("cnt").alias("n_in_bucket"))),
            "bkt",
        )
        .join(
            F.broadcast(
                aggs.select(
                    (F.col("bkt") + 1).alias("bkt"),
                    F.col("cnt").alias("cl"),
                    F.col("sx").alias("sxl"),
                    F.col("sy").alias("syl"),
                )
            ),
            "bkt",
            "left",
        )
        .join(
            F.broadcast(
                aggs.select(
                    (F.col("bkt") - 1).alias("bkt"),
                    F.col("cnt").alias("cr"),
                    F.col("sx").alias("sxr"),
                    F.col("sy").alias("syr"),
                )
            ),
            "bkt",
            "left",
        )
    )
    we = Window.partitionBy("bkt").orderBy(
        F.expr(_LTTB_SEL).desc(), F.col("x").asc()
    )
    return (
        armed.withColumn("area", F.expr(_LTTB_OUT_AREA))
        .withColumn("rnk", F.row_number().over(we))
        .where(F.col("rnk") == 1)
        .select(
            F.col("bkt").cast("int").alias("bucket"),
            F.col("x").alias("epoch_day"),
            F.col("y").alias("kcents"),
            "n_in_bucket",
            "area",
        )
    )


# --- B176: Theil-Sen robust trend ---------------------------------------------


@query(
    "q_ts_theil_sen",
    oracle="""
    WITH daily AS (
        SELECT date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) AS x,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS y
        FROM orders WHERE o_orderdate IS NOT NULL
        GROUP BY 1
    ),
    pairs AS (
        SELECT (CAST(b.y AS DOUBLE) - CAST(a.y AS DOUBLE))
               / (CAST(b.x AS DOUBLE) - CAST(a.x AS DOUBLE)) AS slope
        FROM daily a JOIN daily b ON a.x < b.x
    ),
    med AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               round(median(slope), 6) AS slope_med
        FROM pairs
    ),
    icept AS (
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               median(CAST(d.y AS DOUBLE)
                      - m.slope_med * CAST(d.x AS DOUBLE)) AS icept_med
        FROM daily d CROSS JOIN med m
    )
    SELECT i.n_days, m.n_pairs,
           m.slope_med AS slope_cents_per_day,
           round(i.icept_med, 6) AS intercept_cents
    FROM med m CROSS JOIN icept i
    """,
)
def q_ts_theil_sen(spark, sf_dir):
    """B176: Theil-Sen estimator — the robust trend line for the daily
    revenue series (median of all pairwise slopes, then median residual
    intercept; 29% breakdown point where B113/B159's OLS slope is
    dragged by a single flash-sale day; the standard robust complement
    to B173's rolling median). Sen 1968 / Theil 1950.

    Cross-engine float shape: each pairwise slope is ONE IEEE division
    of exact BIGINTs (bit-deterministic, no libm); the slope median is
    a distributed RANK-SELECT — :func:`global_rank` over the pair set,
    keep the two middle ranks, midpoint (a+b)/2 — never a single-buffer
    percentile over millions of doubles; the selected median is
    QUANTIZED round(6) before reuse so the intercept residuals on both
    engines start from the identical released value (one *,-
    expression; the |days|-row residual median then uses the exact
    percentile B31 pins). Plan/scale: point-scale work is the ONE daily
    hash aggregate; the pair set is |days|^2/2 on the CALENDAR-bounded
    daily frame (~3e6 pairs for a 7-year fixture, ~5e7 for two decades
    — constant in corpus size), built by broadcasting the kilobyte
    daily frame to a theta join; the rank-select shuffles ~24 MB of
    slopes across the range partitioner, independent of SF."""
    epoch = F.lit("1970-01-01").cast("date")
    daily = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate").isNotNull())
        .groupBy(
            F.datediff(F.col("o_orderdate").cast("date"), epoch).alias("x")
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
    )
    a = daily.select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = daily.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    # try_divide, not '/': Catalyst pushes the downstream isnotnull(slope)
    # filter INTO the nested-loop join condition, where the division is
    # evaluated on xa == xb candidate rows BEFORE the xa < xb conjunct
    # prunes them — a bare ANSI '/' crashes there. Values are identical on
    # every surviving pair (denominator >= 1).
    pairs = a.join(F.broadcast(b), F.col("xa") < F.col("xb")).select(
        F.expr(
            "try_divide(CAST(yb AS DOUBLE) - CAST(ya AS DOUBLE),"
            " CAST(xb AS DOUBLE) - CAST(xa AS DOUBLE))"
        ).alias("slope")
    )
    # n_pairs arithmetically (round 14): the released count keeps EVERY
    # generated pair, and x is distinct (a groupBy key), so count(pairs)
    # is exactly n_days*(n_days-1)/2 — a one-row aggregate over the daily
    # frame instead of a second full pass through the broadcast theta
    # join (the pair generation ran TWICE: once for the rank-select, once
    # just to count itself).
    n_all = daily.agg(F.count(F.lit(1)).alias("nd")).select(
        F.expr("CAST(nd * (nd - 1) div 2 AS BIGINT)").alias("n_pairs")
    )
    # rank only NON-NULL slopes: both engines' median/percentile skip
    # NULLs (a day whose prices are all NULL yields a NULL daily sum and
    # a NULL slope — the adversarial fixture exercises this), while the
    # released pair count keeps every generated pair.
    ranked = global_rank(
        pairs.where(F.col("slope").isNotNull()),
        [F.col("slope").asc()],
        "rk",
        with_total=True,
    )
    med = (
        ranked.where(
            (F.col("rk") == F.expr("(_total + 1) div 2"))
            | (F.col("rk") == F.expr("_total div 2 + 1"))
        )
        .agg(
            F.round(
                (F.min("slope") + F.max("slope")) / 2.0, 6
            ).alias("slope_med")
        )
        .crossJoin(F.broadcast(n_all))
    )
    # Round 14 (guide §2.4): reference `med` ONCE. The old form crossJoined
    # med into the residual pass AND again into the final select, planning
    # the whole rank-select chain (range exchange + window) twice; riding
    # slope_med/n_pairs through the residual aggregate (min over the
    # constant column the 1-row crossJoin replicated — value-identical,
    # with n_pairs coalesced to 0 for the empty-daily frame exactly like
    # the old n_all path released) halves the pair-scale work.
    icept = (
        daily.crossJoin(F.broadcast(med))
        .select(
            F.expr(
                "CAST(y AS DOUBLE) - slope_med * CAST(x AS DOUBLE)"
            ).alias("resid"),
            "slope_med",
            "n_pairs",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.expr("percentile(resid, 0.5)").alias("icept_med"),
            F.min("slope_med").alias("slope_med"),
            F.coalesce(F.min("n_pairs"), F.lit(0).cast("bigint")).alias(
                "n_pairs"
            ),
        )
    )
    return icept.select(
        "n_days",
        "n_pairs",
        F.col("slope_med").alias("slope_cents_per_day"),
        F.round("icept_med", 6).alias("intercept_cents"),
    )


# --- B179: rescaled-range (Hurst) long-memory audit ----------------------------

# Block sizes and their ln(m) in micro-nats — PRECOMPUTED literals so the
# regression x-axis never touches either engine's libm.
_HURST_SIZES = {16: 2772589, 32: 3465736, 64: 4158883, 128: 4852030}

# Identical-text per-block R/S and per-row squared-deviation expressions.
_HURST_SQ = (
    "CAST(round((CAST(dd AS DOUBLE) / CAST(m AS DOUBLE))"
    " * (CAST(dd AS DOUBLE) / CAST(m AS DOUBLE))) AS BIGINT)"
)
_HURST_LNRS = (
    "CAST(round(1000000 * ln((CAST(rp AS DOUBLE) / CAST(m AS DOUBLE))"
    " / sqrt(CAST(ssq AS DOUBLE) / CAST(m AS DOUBLE)))) AS BIGINT)"
)


@query(
    "q_ts_hurst",
    oracle=f"""
    WITH daily AS (
        SELECT date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) AS x,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   // 1000 AS y
        FROM orders WHERE o_orderdate IS NOT NULL
        GROUP BY 1
    ),
    idxd AS (
        SELECT x, y,
               CAST(row_number() OVER (ORDER BY x) - 1 AS BIGINT) AS idx
        FROM daily
    ),
    sized AS (
        SELECT s.m, CAST(s.lnm AS BIGINT) AS lnm,
               i.idx // s.m AS blk, i.idx, i.y
        FROM idxd i
        CROSS JOIN (VALUES {", ".join(f"({m}, {lnm})"
                                      for m, lnm in _HURST_SIZES.items())})
            AS s(m, lnm)
    ),
    bagg AS (
        SELECT m, lnm, blk,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(y) AS BIGINT) AS sum_y
        FROM sized GROUP BY m, lnm, blk
    ),
    devs AS (
        SELECT s.m, s.lnm, s.blk, s.idx,
               CAST(s.m AS BIGINT) * s.y - b.sum_y AS dd
        FROM sized s JOIN bagg b
          ON b.m = s.m AND b.blk = s.blk
        WHERE b.cnt = s.m
    ),
    zs AS (
        SELECT m, lnm, blk, dd,
               CAST(sum(dd) OVER (PARTITION BY m, blk ORDER BY idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS z
        FROM devs
    ),
    rs AS (
        SELECT m, lnm, blk,
               CAST(max(z) - min(z) AS BIGINT) AS rp,
               CAST(sum({_HURST_SQ}) AS BIGINT) AS ssq
        FROM zs GROUP BY m, lnm, blk
    ),
    lnrs AS (
        SELECT m, lnm, {_HURST_LNRS} AS lnrs_q
        FROM rs WHERE ssq > 0
    ),
    per_m AS (
        SELECT m, lnm,
               CAST(count(*) AS BIGINT) AS n_blocks,
               CAST(sum(lnrs_q) // count(*) AS BIGINT) AS mean_lnrs_micro
        FROM lnrs GROUP BY m, lnm
    ),
    ols AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(lnm) AS BIGINT) AS sx,
               CAST(sum(mean_lnrs_micro) AS BIGINT) AS sy,
               CAST(sum(lnm * mean_lnrs_micro) AS BIGINT) AS sxy,
               CAST(sum(lnm * lnm) AS BIGINT) AS sxx
        FROM per_m
    )
    SELECT p.m, p.n_blocks, p.mean_lnrs_micro,
           round((CAST(o.k AS DOUBLE) * CAST(o.sxy AS DOUBLE)
                  - CAST(o.sx AS DOUBLE) * CAST(o.sy AS DOUBLE))
                 / (CAST(o.k AS DOUBLE) * CAST(o.sxx AS DOUBLE)
                    - CAST(o.sx AS DOUBLE) * CAST(o.sx AS DOUBLE)),
                 6) AS hurst
    FROM per_m p CROSS JOIN ols o
    """,
)
def q_ts_hurst(spark, sf_dir):
    """B179: rescaled-range (R/S) Hurst exponent of the daily revenue
    series — the long-memory audit (H≈0.5 random walk, H>0.5 trending/
    persistent, H<0.5 mean-reverting) that B151/B152's ACF/PACF summarize
    only at fixed lags; Hurst 1951 / Mandelbrot-Wallis 1969. Full blocks
    of m ∈ {{16,32,64,128}} days: R = range of the cumulative deviation
    walk, S = population σ, H = OLS slope of mean ln(R/S) on ln(m).

    Cross-engine float shape (the strictest yet): deviations are kept
    EXACT by scaling — dd = m·y − Σy is pure BIGINT, so the cumulative
    walk Z (a window sum, where double summation order could differ
    engine-to-engine) is integer-exact, and R = (max−min)/m defers the
    division to one per-block float expression; per-row squared
    deviations quantize round-to-integer in kilocent² units (BIGINT sum);
    ln(R/S) quantizes to micro-nats per BLOCK (the D14-pinned libm
    assumption); the regression x-axis ln(m) is a PRECOMPUTED literal
    table, and H is one float expression over five exact-int OLS sums,
    round(6). Mean ln(R/S) released as floor-division micro-nats.
    Plan/scale: ONE daily hash aggregate; the |days|-frame index is the
    allowlisted calendar-bounded row_number (B173/B175's argument); the
    4× size-explode, block rollups, and the partitioned cumulative
    window all live on the bounded daily frame; the OLS table is ≤4
    rows broadcast."""
    epoch = F.lit("1970-01-01").cast("date")
    daily = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate").isNotNull())
        .groupBy(
            F.datediff(F.col("o_orderdate").cast("date"), epoch).alias("x")
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))"
                " AS BIGINT) div 1000"
            ).alias("y")
        )
    )
    idxd = daily.withColumn(
        "idx", (F.row_number().over(Window.orderBy("x")) - 1).cast("bigint")
    )
    sizes = spark.createDataFrame(
        [(m, lnm) for m, lnm in _HURST_SIZES.items()], "m INT, lnm BIGINT"
    )
    sized = idxd.crossJoin(F.broadcast(sizes)).select(
        "m", "lnm", F.expr("idx div m").alias("blk"), "idx", "y"
    )
    bagg = sized.groupBy("m", "lnm", "blk").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("y").cast("bigint").alias("sum_y"),
    )
    devs = (
        sized.join(bagg.drop("lnm"), ["m", "blk"])
        .where(F.col("cnt") == F.col("m"))
        .select(
            "m",
            "lnm",
            "blk",
            "idx",
            (F.col("m").cast("bigint") * F.col("y") - F.col("sum_y")).alias(
                "dd"
            ),
        )
    )
    wz = (
        Window.partitionBy("m", "blk")
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    zs = devs.withColumn("z", F.sum("dd").over(wz).cast("bigint"))
    rs = zs.groupBy("m", "lnm", "blk").agg(
        (F.max("z") - F.min("z")).cast("bigint").alias("rp"),
        F.sum(F.expr(_HURST_SQ)).cast("bigint").alias("ssq"),
    )
    lnrs = rs.where(F.col("ssq") > 0).select(
        "m", "lnm", F.expr(_HURST_LNRS).alias("lnrs_q")
    )
    per_m = lnrs.groupBy("m", "lnm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.expr("CAST(sum(lnrs_q) div count(*) AS BIGINT)").alias(
            "mean_lnrs_micro"
        ),
    )
    ols = per_m.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("lnm").cast("bigint").alias("sx"),
        F.sum("mean_lnrs_micro").cast("bigint").alias("sy"),
        F.sum(F.col("lnm") * F.col("mean_lnrs_micro"))
        .cast("bigint")
        .alias("sxy"),
        F.sum(F.col("lnm") * F.col("lnm")).cast("bigint").alias("sxx"),
    )
    return per_m.crossJoin(F.broadcast(ols)).select(
        "m",
        "n_blocks",
        "mean_lnrs_micro",
        F.expr(
            "round((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
            " / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)"
        ).alias("hurst"),
    )


# --- B180: revenue drawdown (demeaned cumulative walk) -------------------------

_DRAWDOWN_TOP_K = 10


@query(
    "q_win_drawdown",
    oracle=f"""
    WITH daily AS (
        SELECT date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) AS d,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders WHERE o_orderdate IS NOT NULL
        GROUP BY 1
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS s
        FROM daily
    ),
    walk AS (
        SELECT d.d, t.n,
               CAST(sum(t.n * d.cents - t.s) OVER (ORDER BY d.d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS w
        FROM daily d CROSS JOIN tot t
    ),
    dd AS (
        SELECT d, n,
               CAST(max(w) OVER (ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - w
                    AS BIGINT) AS dd_scaled
        FROM walk
    ),
    ranked AS (
        SELECT d AS epoch_day,
               CAST(dd_scaled // n AS BIGINT) AS drawdown_cents,
               CAST(row_number() OVER (
                    ORDER BY dd_scaled DESC, d) AS INTEGER) AS rnk
        FROM dd
    )
    SELECT epoch_day, drawdown_cents, rnk
    FROM ranked WHERE rnk <= {_DRAWDOWN_TOP_K}
    """,
)
def q_win_drawdown(spark, sf_dir):
    """B180: maximum-drawdown profile of the DEMEANED daily revenue walk
    — the deepest cumulative slump below the period's own average run
    rate, the finance staple (underwater curve) re-aimed at revenue
    telemetry: a raw revenue cumsum is monotone so its drawdown is
    degenerate, but the walk of (revenue − period mean) dips exactly
    when a sustained soft streak runs, and its running-max gap is the
    slump depth B131's CUSUM alarms on and B145's streaks count — here
    it is measured in exact cents. Top-{_DRAWDOWN_TOP_K} deepest days
    released with deterministic (depth desc, day) order.

    Cross-engine shape: the walk stays pure BIGINT via the B179 scaling
    (n·y − Σ keeps the mean exact without division); running sum,
    running max, and their gap are all integer window folds; the
    released depth divides the scale back out by floor-div (D7-safe).
    Plan/scale: ONE daily hash aggregate, a 1-row total broadcast, then
    the windows run over the |days| frame (calendar-bounded — the
    B146/B169/B172 argument, allowlisted)."""
    epoch = F.lit("1970-01-01").cast("date")
    daily = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate").isNotNull())
        .groupBy(
            F.datediff(F.col("o_orderdate").cast("date"), epoch).alias("d")
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    wrun = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    walk = daily.crossJoin(F.broadcast(tot)).select(
        "d",
        "n",
        F.sum(F.col("n") * F.col("cents") - F.col("s"))
        .over(wrun)
        .cast("bigint")
        .alias("w"),
    )
    dd = walk.select(
        "d",
        "n",
        (F.max("w").over(wrun) - F.col("w")).cast("bigint").alias(
            "dd_scaled"
        ),
    )
    top = dd.orderBy(F.col("dd_scaled").desc(), "d").limit(_DRAWDOWN_TOP_K)
    wr = Window.orderBy(F.col("dd_scaled").desc(), "d")
    return top.select(
        F.col("d").alias("epoch_day"),
        F.expr("CAST(dd_scaled div n AS BIGINT)").alias("drawdown_cents"),
        F.row_number().over(wr).cast("int").alias("rnk"),
    )


# --- B187: Mann-Kendall trend test ---------------------------------------------


@query(
    "q_ts_mann_kendall",
    oracle="""
    WITH daily AS (
        SELECT date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) AS x,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS y
        FROM orders WHERE o_orderdate IS NOT NULL
        GROUP BY 1
    ),
    s AS (
        SELECT CAST(sum(CASE WHEN b.y > a.y THEN 1
                             WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT)
                   AS s_stat
        FROM daily a JOIN daily b ON a.x < b.x
    ),
    ties AS (
        SELECT CAST(coalesce(sum(CAST(t AS BIGINT) * (t - 1)
                                 * (2 * t + 5)), 0) AS BIGINT) AS tsum
        FROM (SELECT count(*) AS t FROM daily GROUP BY y HAVING count(*) > 1)
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily)
    SELECT n.n AS n_days, s.s_stat,
           CAST((n.n * (n.n - 1) * (2 * n.n + 5) - t.tsum) // 18 AS BIGINT)
               AS var_s,
           round(CASE WHEN s.s_stat > 0 THEN CAST(s.s_stat - 1 AS DOUBLE)
                      WHEN s.s_stat < 0 THEN CAST(s.s_stat + 1 AS DOUBLE)
                      ELSE 0.0 END
                 / nullif(sqrt(CAST((n.n * (n.n - 1) * (2 * n.n + 5)
                                     - t.tsum) // 18 AS DOUBLE)), 0.0),
                 6) AS z_score
    FROM s CROSS JOIN ties t CROSS JOIN n
    """,
)
def q_ts_mann_kendall(spark, sf_dir):
    """B187: Mann-Kendall trend test on the daily revenue series — the
    nonparametric significance companion B176's Theil-Sen slope is
    always reported with (Sen estimates the slope; MK says whether a
    monotone trend exists at all, immune to outliers and any monotone
    transform): S = Σ sign(y_j − y_i) over ordered day pairs,
    tie-corrected variance n(n−1)(2n+5)/18 − Σt(t−1)(2t+5)/18, and the
    continuity-corrected z.

    Cross-engine float shape: S, the tie term, and the variance are
    pure BIGINT (n ~ |days|, n³ ≪ 2^63 for any calendar; integer
    floor-division per D7); z is ONE identical-text float expression
    over three exact ints with an IEEE sqrt and the D11 nullif guard.
    Plan/scale: ONE daily hash aggregate; the sign-pair set is the
    same CALENDAR-bounded |days|²/2 broadcast theta join as B176
    (constant in corpus size), collapsed by a single-row aggregate —
    no window at all; the tie rollup is |distinct revenue values| ≤
    |days| rows."""
    epoch = F.lit("1970-01-01").cast("date")
    daily = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate").isNotNull())
        .groupBy(
            F.datediff(F.col("o_orderdate").cast("date"), epoch).alias("x")
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
    )
    a = daily.select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = daily.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    s = (
        a.join(F.broadcast(b), F.col("xa") < F.col("xb"))
        .agg(
            F.sum(
                F.when(F.col("yb") > F.col("ya"), 1)
                .when(F.col("yb") < F.col("ya"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    ties = (
        daily.groupBy("y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tsum")
        )
    )
    n = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        s.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(n))
        .select(
            F.col("n").alias("n_days"),
            "s_stat",
            F.expr(
                "CAST((n * (n - 1) * (2 * n + 5) - tsum) div 18"
                " AS BIGINT)"
            ).alias("var_s"),
            F.expr(
                "round(CASE WHEN s_stat > 0 THEN"
                " CAST(s_stat - 1 AS DOUBLE)"
                " WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)"
                " ELSE 0.0 END"
                " / nullif(sqrt(CAST((n * (n - 1) * (2 * n + 5) - tsum)"
                " div 18 AS DOUBLE)), 0.0), 6)"
            ).alias("z_score"),
        )
    )


# --- B188: Wald-Wolfowitz runs test --------------------------------------------


@query(
    "q_ts_runs_test",
    oracle="""
    WITH daily AS (
        SELECT date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) AS x,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS y
        FROM orders WHERE o_orderdate IS NOT NULL
        GROUP BY 1
    ),
    med AS (SELECT quantile_disc(y, 0.5) AS m FROM daily),
    signs AS (
        SELECT d.x, CASE WHEN d.y > md.m THEN 1 ELSE 0 END AS s
        FROM daily d CROSS JOIN med md
        WHERE d.y <> md.m
    ),
    flagged AS (
        SELECT s,
               CASE WHEN lag(s) OVER (ORDER BY x) IS NULL
                         OR lag(s) OVER (ORDER BY x) <> s
                    THEN 1 ELSE 0 END AS new_run
        FROM signs
    ),
    agg AS (
        SELECT CAST(sum(new_run) AS BIGINT) AS r,
               CAST(sum(s) AS BIGINT) AS n1,
               CAST(count(*) - sum(s) AS BIGINT) AS n2
        FROM flagged
    )
    SELECT n1, n2, r,
           round((CAST(r AS DOUBLE)
                  - (1.0 + 2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                     / CAST(n1 + n2 AS DOUBLE)))
                 / nullif(sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                        * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                           - CAST(n1 + n2 AS DOUBLE))
                        / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                           * (CAST(n1 + n2 AS DOUBLE) - 1.0))), 0.0),
                 6) AS z_score
    FROM agg
    """,
)
def q_ts_runs_test(spark, sf_dir):
    """B188: Wald-Wolfowitz runs test on the daily revenue series —
    above/below-median sign sequence, run count R vs its null
    expectation: the RANDOMNESS check completing the trend family (B187
    detects monotone trend, B146 fixed-period seasonality; a failing
    runs test flags ANY serial dependence — clustering, alternation,
    regime blocks — with no model). Median-equal days drop (the
    standard convention); the median is the exact DISCRETE middle
    BIGINT (quantile_disc twin: the lower-middle element both engines
    select identically — no interpolated double enters the compare).

    Cross-engine float shape: R, n1, n2 are exact BIGINTs (the run
    boundary is a lag-inequality fold over the day order); z is ONE
    identical-text float expression over the three with IEEE sqrt and
    the D11 nullif guard. Plan/scale: ONE daily hash aggregate; the
    sign/lag pass runs over the |days| frame (calendar-bounded — the
    B146/B169/B172 argument, allowlisted); the release is one row."""
    epoch = F.lit("1970-01-01").cast("date")
    daily = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate").isNotNull())
        .groupBy(
            F.datediff(F.col("o_orderdate").cast("date"), epoch).alias("x")
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
    )
    med = daily.agg(
        F.expr("percentile_approx(y, 0.5, 2147483647)")
        .cast("bigint")
        .alias("m")
    )
    signs = (
        daily.crossJoin(F.broadcast(med))
        .where(F.col("y") != F.col("m"))
        .select(
            "x", F.when(F.col("y") > F.col("m"), 1).otherwise(0).alias("s")
        )
    )
    wl = Window.orderBy("x")
    flagged = signs.select(
        "s",
        F.when(
            F.lag("s").over(wl).isNull() | (F.lag("s").over(wl) != F.col("s")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = flagged.agg(
        F.sum("new_run").cast("bigint").alias("r"),
        F.sum("s").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("s")).cast("bigint").alias("n2"),
    )
    return agg.select(
        "n1",
        "n2",
        "r",
        F.expr(
            "round((CAST(r AS DOUBLE)"
            " - (1.0 + 2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
            " / CAST(n1 + n2 AS DOUBLE)))"
            " / nullif(sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
            " * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
            " - CAST(n1 + n2 AS DOUBLE))"
            " / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)"
            " * (CAST(n1 + n2 AS DOUBLE) - 1.0))), 0.0), 6)"
        ).alias("z_score"),
    )


# --- B189: over-dispersion (Fano factor) audit ---------------------------------


@query(
    "q_ts_fano_dispersion",
    oracle="""
    WITH daily AS (
        SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
                   AS mon_idx,
               date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) AS d,
               CAST(count(*) AS BIGINT) AS c
        FROM orders WHERE o_orderdate IS NOT NULL
        GROUP BY 1, 2
    ),
    per_mon AS (
        SELECT mon_idx,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(c) AS BIGINT) AS sc,
               CAST(sum(c * c) AS BIGINT) AS scc
        FROM daily GROUP BY mon_idx
    )
    SELECT mon_idx, n_days, sc AS n_orders,
           round(CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE), 6)
               AS mean_per_day,
           round((CAST(n_days AS DOUBLE) * CAST(scc AS DOUBLE)
                  - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
                 / nullif(CAST(n_days AS DOUBLE)
                          * (CAST(n_days AS DOUBLE) - 1.0), 0.0)
                 / nullif(CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE), 0.0),
                 6) AS fano
    FROM per_mon
    """,
)
def q_ts_fano_dispersion(spark, sf_dir):
    """B189: monthly Fano factor (variance-to-mean ratio) of the daily
    order-count series — the over-dispersion audit: a Poisson arrival
    process has Fano = 1, bursty demand (B137's episodes) pushes it
    above, quota-smoothed flow below; per-month so regime changes show
    as a series, quantifying what B137 only flags. Month key is the
    PORTABLE year*12+month index (D17: month differences have no
    shared engine primitive; the explicit index always does).

    Cross-engine float shape: per-(month, day) counts and their
    square sums are exact BIGINTs; mean and the sample-variance/mean
    ratio are ONE identical-text float expression per month over three
    exact ints with D11 nullif guards (single-day months and
    zero-count months release NULL). Plan/scale: ONE (month, day) hash
    aggregate then a |months|-key rollup, both map-side combinable;
    the release is calendar-bounded |months| rows."""
    daily = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate").isNotNull())
        .groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("mon_idx"),
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            ).alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    per_mon = daily.groupBy("mon_idx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("scc"),
    )
    return per_mon.select(
        "mon_idx",
        "n_days",
        F.col("sc").alias("n_orders"),
        F.expr(
            "round(CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE), 6)"
        ).alias("mean_per_day"),
        F.expr(
            "round((CAST(n_days AS DOUBLE) * CAST(scc AS DOUBLE)"
            " - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))"
            " / nullif(CAST(n_days AS DOUBLE)"
            " * (CAST(n_days AS DOUBLE) - 1.0), 0.0)"
            " / nullif(CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE), 0.0),"
            " 6)"
        ).alias("fano"),
    )


# --- B190: weekly seasonal decomposition + naive seasonal forecast -------------

_SEAS_HALF = 3  # centered 7-day trend frame: 3 preceding + current + 3 following


@query(
    "q_ts_seasonal_forecast",
    oracle="""
    WITH daily AS (
        SELECT date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) AS d,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders WHERE o_orderdate IS NOT NULL
        GROUP BY 1
    ),
    fr AS (
        SELECT d, cents,
               CAST(sum(cents) OVER w AS BIGINT) AS sum7,
               CAST(count(*) OVER w AS BIGINT) AS n7
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
        SELECT d % 7 AS dow, 7 * cents - sum7 AS detr7
        FROM fr WHERE n7 = 7
    ),
    per_dow AS (
        SELECT dow, CAST(count(*) AS BIGINT) AS nd,
               CAST(sum(detr7) AS BIGINT) AS sd
        FROM det GROUP BY dow
    ),
    g AS (
        SELECT CAST(count(*) AS BIGINT) AS ng,
               CAST(sum(detr7) AS BIGINT) AS sg
        FROM det
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS td,
               CAST(sum(cents) AS BIGINT) AS tc
        FROM daily
    ),
    shares AS (
        SELECT d % 7 AS dow, CAST(sum(cents) AS BIGINT) AS dow_cents
        FROM daily GROUP BY 1
    )
    SELECT p.dow, p.nd AS n_days,
           CAST((1000000 * s.dow_cents) // t.tc AS BIGINT) AS revenue_ppm,
           round(CAST(p.sd AS DOUBLE) / (7.0 * CAST(p.nd AS DOUBLE)), 2)
               AS mean_detr_cents,
           round(CAST(p.sd AS DOUBLE) / (7.0 * CAST(p.nd AS DOUBLE))
                 - CAST(g.sg AS DOUBLE) / (7.0 * CAST(g.ng AS DOUBLE)), 2)
               AS seasonal_cents,
           round(CAST(t.tc AS DOUBLE) / CAST(t.td AS DOUBLE)
                 + CAST(p.sd AS DOUBLE) / (7.0 * CAST(p.nd AS DOUBLE))
                 - CAST(g.sg AS DOUBLE) / (7.0 * CAST(g.ng AS DOUBLE)), 2)
               AS forecast_cents
    FROM per_dow p JOIN shares s USING (dow)
    CROSS JOIN g CROSS JOIN tot t
    """,
)
def q_ts_seasonal_forecast(spark, sf_dir):
    """B190: classical weekly seasonal decomposition (the moving-average
    method behind statsmodels' seasonal_decompose / X-11's first pass)
    plus a naive seasonal forecast — the seasonality companion the
    forecast family lacked: B159 fits a LINEAR trend (seasonality is its
    residual noise), B146 detects that a weekly cycle EXISTS, B169 flags
    days that break it; this measures the cycle itself, per day-of-week
    class, in cents. Trend is the centered 7-observed-day moving average
    (full frames only — the first/last 3 days release no detrended row,
    the classical convention); the seasonal index of each dow class is
    the mean detrended value recentered against the overall detrended
    mean; the released forecast is mean daily revenue + recentered
    index — what next Monday looks like if the week repeats. Day-of-week
    class is the PORTABLE ``d % 7`` of the epoch-day index (engine-
    identical for the fixture's post-1970 calendar; no weekday-name
    primitive crosses engines).

    Cross-engine float shape: the walk stays exact — detrended values
    are the B179/B180 scaling trick ``7·y − Σ7`` (no division inside the
    window), per-class sums are BIGINT, and the only float arithmetic is
    the identical-text mean/recenter/forecast expressions over five
    exact integers, round(2) at release — cent-scale magnitudes reach
    1e9·1e2, so a 6-decimal release would demand 16 significant digits
    and sit past the double significand (measured: sub-ulp drift at
    sf0.1); 2 decimals keeps the release 11-13 digits, inside the
    budget at any SF. The revenue share is an exact
    integer ppm floor-div (all-positive, D7-safe). Plan/scale: ONE daily
    hash aggregate; the trend window and both rollups run over the
    |days| frame (calendar-bounded — the B146/B169/B172 argument,
    allowlisted); the release is 7 rows joined against two 1-row
    broadcasts."""
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
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w7 = Window.orderBy("d").rowsBetween(-_SEAS_HALF, _SEAS_HALF)
    fr = daily.select(
        "d",
        "cents",
        F.sum("cents").over(w7).cast("bigint").alias("sum7"),
        F.count(F.lit(1)).over(w7).cast("bigint").alias("n7"),
    )
    det = fr.where(F.col("n7") == 7).select(
        (F.col("d") % 7).alias("dow"),
        (F.lit(7) * F.col("cents") - F.col("sum7")).alias("detr7"),
    )
    per_dow = det.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("detr7").cast("bigint").alias("sd"),
    )
    g = det.agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        F.sum("detr7").cast("bigint").alias("sg"),
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("td"),
        F.sum("cents").cast("bigint").alias("tc"),
    )
    shares = daily.groupBy((F.col("d") % 7).alias("dow")).agg(
        F.sum("cents").cast("bigint").alias("dow_cents")
    )
    return (
        per_dow.join(shares, "dow")
        .crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(tot))
        .select(
            "dow",
            F.col("nd").alias("n_days"),
            F.expr(
                "CAST((1000000 * dow_cents) div tc AS BIGINT)"
            ).alias("revenue_ppm"),
            F.expr(
                "round(CAST(sd AS DOUBLE) / (7.0 * CAST(nd AS DOUBLE)), 2)"
            ).alias("mean_detr_cents"),
            F.expr(
                "round(CAST(sd AS DOUBLE) / (7.0 * CAST(nd AS DOUBLE))"
                " - CAST(sg AS DOUBLE) / (7.0 * CAST(ng AS DOUBLE)), 2)"
            ).alias("seasonal_cents"),
            F.expr(
                "round(CAST(tc AS DOUBLE) / CAST(td AS DOUBLE)"
                " + CAST(sd AS DOUBLE) / (7.0 * CAST(nd AS DOUBLE))"
                " - CAST(sg AS DOUBLE) / (7.0 * CAST(ng AS DOUBLE)), 2)"
            ).alias("forecast_cents"),
        )
    )


# --- B197: rolling-origin forecast backtest ------------------------------------


@query(
    "q_ts_forecast_backtest",
    oracle="""
    WITH daily AS (
        SELECT date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) AS d,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders WHERE o_orderdate IS NOT NULL
        GROUP BY 1
    ),
    preds AS (
        SELECT d, cents,
               lag(cents) OVER (ORDER BY d) AS p_naive,
               lag(cents) OVER (PARTITION BY d % 7 ORDER BY d) AS p_snaive,
               CAST(sum(cents) OVER
                    (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) AS BIGINT) AS sp,
               CAST(count(*) OVER
                    (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) AS BIGINT) AS np
        FROM daily
    ),
    unp AS (
        SELECT 'naive' AS method, cents, p_naive AS pred
        FROM preds WHERE p_naive IS NOT NULL
        UNION ALL
        SELECT 'seasonal_naive' AS method, cents, p_snaive AS pred
        FROM preds WHERE p_snaive IS NOT NULL
        UNION ALL
        SELECT 'expanding_mean' AS method, cents, sp // np AS pred
        FROM preds WHERE np > 0
    )
    SELECT method, CAST(count(*) AS BIGINT) AS n_fc,
           round(CAST(sum(abs(cents - pred)) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 2) AS mae_cents,
           round(CAST(sum(cents - pred) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 2) AS bias_cents,
           round(CAST(sum((1000000 * abs(cents - pred))
                          // nullif(cents, 0)) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 2) AS mape_ppm
    FROM unp GROUP BY method
    """,
)
def q_ts_forecast_backtest(spark, sf_dir):
    """B197: rolling-origin one-step-ahead forecast backtest (Hyndman &
    Athanasopoulos, *Forecasting: Principles and Practice* §5.10 "time
    series cross-validation") over the daily revenue series — the
    evaluation companion the forecast family lacked: B159 fits a trend
    and B190 a seasonal index, but neither says which baseline a
    forecast must BEAT. Three standard baselines are scored at every
    origin day: *naive* (yesterday's revenue), *seasonal_naive* (the
    previous observation in the same day-of-week class, the ``d % 7``
    portable key from B190), and *expanding_mean* (the mean of all
    preceding days). Released per method: forecast count, MAE, signed
    bias (mean error — negative means the method over-forecasts), and
    mean absolute percentage error in ppm.

    Cross-engine float shape: every prediction is an exact BIGINT — the
    two lag methods release prior observed cents verbatim, and the
    expanding mean is DEFINED as the floor integer division
    ``sum_prev div n_prev`` (documented convention; at cent scale the
    floor loses <1 cent, far below the round(2) release grid) — so
    every per-day error is exact BIGINT, the per-day percentage error
    is the exact integer ppm floor-div with a D11 nullif guard (a
    zero-revenue day — possible under adversarial refund data — yields
    a NULL ppm row that both engines' sum skips while count(*) keeps,
    the documented convention), and the only float arithmetic is the identical-text
    mean expressions over exact integer sums, round(2) at release.
    Plan/scale: ONE daily hash aggregate collapses corpus-scale input
    to |days| rows; the lag/cumulative windows run over that
    calendar-bounded frame (the B173 argument, allowlisted — a
    one-step-behind expanding frame cannot be limit-bounded by
    construction); the seasonal lag partitions by dow; release is 3
    rows from a bounded-key hash aggregate."""
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
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w_ord = Window.orderBy("d")
    w_dow = Window.partitionBy((F.col("d") % 7).alias("dow")).orderBy("d")
    w_cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    preds = daily.select(
        "d",
        "cents",
        F.lag("cents").over(w_ord).alias("p_naive"),
        F.lag("cents").over(w_dow).alias("p_snaive"),
        F.sum("cents").over(w_cum).cast("bigint").alias("sp"),
        F.count(F.lit(1)).over(w_cum).cast("bigint").alias("np"),
    )
    unp = (
        preds.where(F.col("p_naive").isNotNull()).select(
            F.lit("naive").alias("method"),
            "cents",
            F.col("p_naive").alias("pred"),
        )
        .unionAll(
            preds.where(F.col("p_snaive").isNotNull()).select(
                F.lit("seasonal_naive").alias("method"),
                "cents",
                F.col("p_snaive").alias("pred"),
            )
        )
        .unionAll(
            preds.where(F.col("np") > 0).select(
                F.lit("expanding_mean").alias("method"),
                "cents",
                F.expr("sp div np").alias("pred"),
            )
        )
    )
    return unp.groupBy("method").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fc"),
        F.expr(
            "round(CAST(sum(abs(cents - pred)) AS DOUBLE)"
            " / CAST(count(*) AS DOUBLE), 2)"
        ).alias("mae_cents"),
        F.expr(
            "round(CAST(sum(cents - pred) AS DOUBLE)"
            " / CAST(count(*) AS DOUBLE), 2)"
        ).alias("bias_cents"),
        F.expr(
            "round(CAST(sum((1000000 * abs(cents - pred))"
            " div nullif(cents, 0))"
            " AS DOUBLE) / CAST(count(*) AS DOUBLE), 2)"
        ).alias("mape_ppm"),
    )


# --- B202: Little's law reconciliation -----------------------------------------


@query(
    "q_orders_littles_law",
    oracle="""
    WITH spans AS (
        SELECT o.o_orderkey,
               date_diff('day', DATE '1970-01-01',
                         CAST(o.o_orderdate AS DATE)) AS s,
               date_diff('day', DATE '1970-01-01',
                         CAST(min(l.l_shipdate) AS DATE)) AS e
        FROM orders o
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderdate IS NOT NULL AND l.l_shipdate IS NOT NULL
        GROUP BY 1, 2
    ),
    deltas AS (
        SELECT s AS d, 1 AS chg FROM spans
        UNION ALL
        SELECT e + 1 AS d, -1 AS chg FROM spans
    ),
    net AS (SELECT d, CAST(sum(chg) AS BIGINT) AS net FROM deltas GROUP BY d),
    conc AS (
        SELECT d, CAST(sum(net) OVER (ORDER BY d ROWS BETWEEN
                   UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open_now,
               CAST(COALESCE(lead(d) OVER (ORDER BY d), d + 1) - d AS BIGINT)
                   AS run_days
        FROM net
    ),
    cal AS (
        SELECT d, open_now FROM (
            SELECT conc.d + g.i AS d, conc.open_now
            FROM conc CROSS JOIN LATERAL
                 (SELECT unnest(range(CAST(conc.run_days AS INTEGER))) AS i) g
        )
    ),
    mc AS (
        SELECT CAST(year(DATE '1970-01-01' + INTERVAL (d) DAY) * 12
                    + month(DATE '1970-01-01' + INTERVAL (d) DAY) AS BIGINT)
                   AS mon_idx,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(open_now) AS BIGINT) AS area
        FROM cal GROUP BY 1
    ),
    arr AS (
        SELECT CAST(year(DATE '1970-01-01' + INTERVAL (s) DAY) * 12
                    + month(DATE '1970-01-01' + INTERVAL (s) DAY) AS BIGINT)
                   AS mon_idx,
               CAST(count(*) AS BIGINT) AS n_arrivals,
               CAST(sum(e - s + 1) AS BIGINT) AS sum_dur_days
        FROM spans GROUP BY 1
    )
    SELECT m.mon_idx, m.n_days, m.area, a.n_arrivals, a.sum_dur_days,
           CAST((1000 * m.area) // m.n_days AS BIGINT) AS mean_open_milli,
           CAST((1000 * a.sum_dur_days) // a.n_arrivals AS BIGINT)
               AS mean_wait_milli_days,
           CAST((1000000 * a.sum_dur_days) // m.area AS BIGINT)
               AS lw_over_l_ppm
    FROM mc m JOIN arr a USING (mon_idx)
    """,
)
def q_orders_littles_law(spark, sf_dir):
    """B202: Little's law reconciliation (L = lambda*W, Little 1961) over
    the order fulfillment queue — the operational audit that says whether
    a month's arrival rate, waiting time and work-in-progress are
    CONSISTENT: per calendar month, L*days = the time integral of open
    orders (area under the B172 concurrency curve) and lambda*W*days =
    the total open-duration of orders ARRIVING that month; their ratio
    in ppm is exactly 1e6 over any horizon with no boundary-crossing
    intervals (the conservation identity, property-pinned) and its
    monthly deviation isolates edge-crossing work — the drilldown a
    capacity review runs when B135's backlog trends up. Intervals are
    the B172 family's: ordered -> FIRST shipment, inclusive day grain.

    Cross-engine float shape: NO float — durations, per-day net
    changes, the running concurrency, the monthly area and every
    release are exact BIGINTs (milli/ppm floor-divs, all-positive).
    Plan/scale: the interval frame never expands per day on the
    corpus-scale side — one orderkey shuffle join + rollup to (s, e)
    per order, then the B172 +1/-1 trick collapses everything to a
    |distinct days|-row net-change frame in ONE day-keyed shuffle; the
    running sum and the run-length expansion (lead + sequence — at most
    |days| output rows TOTAL, since runs partition the calendar) ride
    the calendar-bounded global window (B172 argument, allowlisted);
    release is |months| rows."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    epoch = F.lit("1970-01-01").cast("date")
    spans = (
        o.where(F.col("o_orderdate").isNotNull())
        .join(
            li.where(F.col("l_shipdate").isNotNull()),
            o.o_orderkey == li.l_orderkey,
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.min("l_shipdate").alias("first_ship"))
        .select(
            F.datediff(F.col("o_orderdate").cast("date"), epoch)
            .cast("bigint")
            .alias("s"),
            F.datediff(F.col("first_ship").cast("date"), epoch)
            .cast("bigint")
            .alias("e"),
        )
    )
    deltas = spans.select(F.col("s").alias("d"), F.lit(1).alias("chg")).unionAll(
        spans.select((F.col("e") + 1).alias("d"), F.lit(-1).alias("chg"))
    )
    net = deltas.groupBy("d").agg(F.sum("chg").cast("bigint").alias("net"))
    w_run = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    w_ord = Window.orderBy("d")
    conc = net.select(
        "d",
        F.sum("net").over(w_run).cast("bigint").alias("open_now"),
        (F.coalesce(F.lead("d").over(w_ord), F.col("d") + 1) - F.col("d"))
        .cast("bigint")
        .alias("run_days"),
    )
    cal = conc.select(
        F.expr("explode(sequence(0, CAST(run_days - 1 AS INT)))").alias("i"),
        "d",
        "open_now",
    ).select((F.col("d") + F.col("i")).alias("d"), "open_now")
    mon_of_day = (
        "CAST(year(date_add(DATE '1970-01-01', CAST({col} AS INT))) * 12"
        " + month(date_add(DATE '1970-01-01', CAST({col} AS INT)))"
        " AS BIGINT)"
    )
    mc = cal.groupBy(
        F.expr(mon_of_day.format(col="d")).alias("mon_idx")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("open_now").cast("bigint").alias("area"),
    )
    arr = spans.groupBy(
        F.expr(mon_of_day.format(col="s")).alias("mon_idx")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_arrivals"),
        F.sum(F.col("e") - F.col("s") + 1).cast("bigint").alias("sum_dur_days"),
    )
    return mc.join(arr, "mon_idx").select(
        "mon_idx",
        "n_days",
        "area",
        "n_arrivals",
        "sum_dur_days",
        F.expr("CAST((1000 * area) div n_days AS BIGINT)").alias(
            "mean_open_milli"
        ),
        F.expr(
            "CAST((1000 * sum_dur_days) div n_arrivals AS BIGINT)"
        ).alias("mean_wait_milli_days"),
        F.expr("CAST((1000000 * sum_dur_days) div area AS BIGINT)").alias(
            "lw_over_l_ppm"
        ),
    )


# --- B203: Holt linear-trend exponential smoothing ------------------------------

_HOLT_H = 7  # forecast horizon released (days ahead)


@query(
    "q_ts_holt_linear",
    oracle=f"""
    WITH RECURSIVE daily AS (
        SELECT date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) AS d,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
        GROUP BY 1
    ),
    seq AS (
        SELECT cents, row_number() OVER (ORDER BY d) AS t FROM daily
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM seq),
    rec(t, l, b, e) AS (
        SELECT CAST(1 AS BIGINT),
               CAST(1000 * s1.cents AS BIGINT),
               CAST(1000 * (s2.cents - s1.cents) AS BIGINT),
               CAST(0 AS BIGINT)
        FROM seq s1, seq s2 WHERE s1.t = 1 AND s2.t = 2
        UNION ALL
        SELECT r.t + 1,
               (1000 * s.cents + 3 * (r.l + r.b)) // 4,
               (((1000 * s.cents + 3 * (r.l + r.b)) // 4) - r.l + 3 * r.b)
                   // 4,
               r.e + abs(1000 * s.cents - (r.l + r.b))
        FROM rec r JOIN seq s ON s.t = r.t + 1
    ),
    fin AS (
        SELECT r.l, r.b, r.e, nn.n
        FROM rec r CROSS JOIN nn WHERE r.t = nn.n
    )
    SELECT h.h, fin.l AS level_milli, fin.b AS trend_milli,
           fin.l + h.h * fin.b AS forecast_milli,
           CAST((fin.l + h.h * fin.b) // 1000 AS BIGINT) AS forecast_cents,
           CAST(fin.e // (fin.n - 1) AS BIGINT) AS mae_milli
    FROM fin CROSS JOIN (SELECT unnest(range(1, {_HOLT_H + 1})) AS h) h
    """,
)
def q_ts_holt_linear(spark, sf_dir):
    """B203: Holt's linear-trend double exponential smoothing (Holt 1957;
    Hyndman & Athanasopoulos fpp §8.2) over the daily revenue series —
    the adaptive-trend rung between B159's single global line and B190's
    fixed weekly index, and the first RECURRENT forecaster in the family
    (level and trend update each day from the previous state, which no
    window frame expresses): l_t = α·y_t + (1−α)(l_t−1 + b_t−1),
    b_t = β(l_t − l_t−1) + (1−β)b_t−1 at the classic α = β = 1/4,
    initialized l₁ = y₁, b₁ = y₂ − y₁; released: the final state, the
    h = 1..{_HOLT_H} day forecasts l + h·b, and the walk's one-step MAE.
    NULL-price orders are filtered at the scan (a NULL entering the
    recurrence would poison the whole state, and the two engines'
    NULL-propagation paths through the fold differ — measured on the
    adversarial fixture); a series with fewer than two observed days
    releases zero rows on both engines (the recurrence is undefined — the oracle's base CTE
    is empty and the Spark side filters size(ys) >= 2 explicitly, which
    also keeps the ANSI-mode element_at init in bounds).

    Cross-engine float shape: NO float — the smoothing state walks in
    exact integer MILLI-cents with α, β as the rational 1/4 applied as
    a truncating integer division per step (D7-pinned identical on
    negatives, which the trend hits; the ≤1 milli-cent per-step
    truncation is the documented convention, far under the cent-scale
    signal — the B179/B197 exact-recurrence discipline), so both
    engines walk the IDENTICAL lattice: Spark folds the series with
    ``aggregate`` (one executor-side pass over the array), DuckDB walks
    the same recurrence as a recursive CTE. Plan/scale: ONE daily hash
    aggregate collapses corpus-scale input; the fold runs over the
    |days| array collected from that calendar-bounded frame (kilobytes
    at any SF — the B173 bound, here as one array row instead of a
    window); release is {_HOLT_H} rows."""
    epoch = F.lit("1970-01-01").cast("date")
    daily = (
        table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate").isNotNull()
            & F.col("o_totalprice").isNotNull()
        )
        .groupBy(
            F.datediff(F.col("o_orderdate").cast("date"), epoch)
            .cast("bigint")
            .alias("d")
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    arr = daily.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(d, cents))),"
            " s -> s.cents)"
        ).alias("ys")
    ).where(F.expr("size(ys) >= 2"))
    folded = arr.select(
        F.expr(
            """
            aggregate(
              slice(ys, 2, size(ys) - 1),
              named_struct(
                'l', CAST(1000 * element_at(ys, 1) AS BIGINT),
                'b', CAST(1000 * (element_at(ys, 2) - element_at(ys, 1))
                          AS BIGINT),
                'e', CAST(0 AS BIGINT)),
              (acc, y) -> named_struct(
                'l', (1000 * y + 3 * (acc.l + acc.b)) div 4,
                'b', (((1000 * y + 3 * (acc.l + acc.b)) div 4)
                      - acc.l + 3 * acc.b) div 4,
                'e', acc.e + abs(1000 * y - (acc.l + acc.b)))
            )
            """
        ).alias("fin"),
        F.expr("CAST(size(ys) AS BIGINT)").alias("n"),
    ).select(
        F.col("fin.l").alias("l"),
        F.col("fin.b").alias("b"),
        F.col("fin.e").alias("e"),
        "n",
    )
    return folded.select(
        F.explode(F.expr(f"sequence(1, {_HOLT_H})")).alias("h"),
        F.col("l").alias("level_milli"),
        F.col("b").alias("trend_milli"),
        "l",
        "b",
        "e",
        "n",
    ).select(
        F.col("h").cast("bigint").alias("h"),
        "level_milli",
        "trend_milli",
        (F.col("l") + F.col("h") * F.col("b")).alias("forecast_milli"),
        F.expr("CAST((l + h * b) div 1000 AS BIGINT)").alias(
            "forecast_cents"
        ),
        F.expr("CAST(e div (n - 1) AS BIGINT)").alias("mae_milli"),
    )


# --- B208: Holt-Winters multiplicative seasonal forecast (round 12) ----------

_HW_M = 7  # weekly season over the observed-day index (the B190 convention)
_HW_H = 14  # forecast horizon released (two full seasons ahead)
_HW_S_MIN = 62_500  # seasonal-index clamp: 1/16x .. 16x of level (ppm)
_HW_S_MAX = 16_000_000


def _hw_step(y: str, l: str, b: str, s1: str, e: str, div: str) -> dict:
    """The one-step Holt-Winters multiplicative recurrence at
    α = β = γ = 1/4 on the integer (milli-cent, ppm) lattice — ONE
    formula text rendered per dialect (`div` is Spark's ``div`` /
    DuckDB's ``//``, both truncate toward zero per the D7 canary), so
    the two engines walk the identical walk by construction. The
    seasonal index clamps to [{_HW_S_MIN}, {_HW_S_MAX}] ppm (1/16x ..
    16x of level — the dial that keeps every product in BIGINT range on
    hostile series; real weekly retail seasonality sits well inside);
    the one-step error accumulates in DESEASONED milli-cents (comparing
    deseason_t against l+b needs no (level x ppm) product at all)."""
    deseason = f"((1000 * {y} * 1000000) {div} {s1})"
    lnew = f"(({deseason} + 3 * ({l} + {b})) {div} 4)"
    bnew = f"((({lnew} - {l}) + 3 * {b}) {div} 4)"
    snew = (
        f"least({_HW_S_MAX}, greatest({_HW_S_MIN},"
        f" (((1000 * {y} * 1000000) {div} greatest({lnew}, 1))"
        f" + 3 * {s1}) {div} 4))"
    )
    enew = f"({e} + abs({deseason} - ({l} + {b})))"
    return {"l": lnew, "b": bnew, "s": snew, "e": enew}


_HW_DUCK_STEP = _hw_step("q.cents", "r.l", "r.b", "r.s[1]", "r.e", "//")
_HW_SPARK_STEP = _hw_step(
    "y", "acc.l", "acc.b", "element_at(acc.s, 1)", "acc.e", "div"
)


@query(
    "q_ts_holt_winters_mul",
    oracle=f"""
    WITH RECURSIVE daily AS (
        SELECT date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) AS d,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
        GROUP BY 1
    ),
    seq AS (
        SELECT cents, row_number() OVER (ORDER BY d) AS t FROM daily
    ),
    nn AS (
        -- multiplicative decomposition is defined for strictly positive
        -- series only (fpp 8.3): a non-positive day releases zero rows
        SELECT CAST(count(*) AS BIGINT) AS n FROM seq
        HAVING count(*) >= {2 * _HW_M} AND min(cents) > 0
    ),
    init AS (
        -- CASTs are load-bearing (D8/D15 class): DuckDB sum(BIGINT) widens
        -- to HUGEINT, which would ride the whole recursion and bridge to
        -- float64 at the driver boundary.
        SELECT CAST((1000 * sum(CASE WHEN t <= {_HW_M} THEN cents END))
                   // {_HW_M} AS BIGINT) AS l0,
               CAST((1000 * (sum(CASE WHEN t > {_HW_M} THEN cents END)
                        - sum(CASE WHEN t <= {_HW_M} THEN cents END)))
                   // {_HW_M * _HW_M} AS BIGINT) AS b0
        FROM seq, nn WHERE t <= {2 * _HW_M}
        GROUP BY nn.n
    ),
    s0 AS (
        SELECT list(CAST(least({_HW_S_MAX}, greatest({_HW_S_MIN},
                   (1000 * cents * 1000000) // greatest(l0, 1))) AS BIGINT)
                   ORDER BY t) AS s
        FROM seq, init WHERE t <= {_HW_M}
        GROUP BY l0
    ),
    rec(t, l, b, s, e) AS (
        SELECT CAST({_HW_M} AS BIGINT), init.l0, init.b0, s0.s,
               CAST(0 AS BIGINT)
        FROM init, s0
        UNION ALL
        SELECT r.t + 1,
               {{duck_l}},
               {{duck_b}},
               r.s[2:] || [{{duck_s}}],
               {{duck_e}}
        FROM rec r JOIN seq q ON q.t = r.t + 1
    ),
    fin AS (
        SELECT r.l, r.b, r.s, r.e, nn.n
        FROM rec r CROSS JOIN nn WHERE r.t = nn.n
    )
    SELECT h.h, CAST(fin.l AS BIGINT) AS level_milli,
           CAST(fin.b AS BIGINT) AS trend_milli,
           CAST(fin.s[CAST((h.h - 1) % {_HW_M} AS BIGINT) + 1] AS BIGINT)
               AS season_ppm,
           CAST((((fin.l + h.h * fin.b) // 1000)
                 * (fin.s[CAST((h.h - 1) % {_HW_M} AS BIGINT) + 1] // 1000))
                // 1000 AS BIGINT) AS forecast_cents,
           CAST(fin.e // (fin.n - {_HW_M}) AS BIGINT) AS mae_deseason_milli
    FROM fin CROSS JOIN (SELECT unnest(range(1, {_HW_H + 1})) AS h) h
    """.format(
        duck_l=_HW_DUCK_STEP["l"],
        duck_b=_HW_DUCK_STEP["b"],
        duck_s=_HW_DUCK_STEP["s"],
        duck_e=_HW_DUCK_STEP["e"],
    ),
)
def q_ts_holt_winters_mul(spark, sf_dir):
    """B208: Holt-Winters MULTIPLICATIVE triple exponential smoothing
    (Winters 1960; Hyndman & Athanasopoulos fpp §8.3) over the daily
    revenue series — the seasonal rung above B203's Holt linear (VERDICT
    r11 item #7): level and trend as in B203, plus a rotating m={_HW_M}
    seasonal-index queue updated each observed day at α = β = γ = 1/4,
    l_t = α·(y_t/s_t−m) + (1−α)(l_t−1 + b_t−1),
    b_t = β(l_t − l_t−1) + (1−β)b_t−1, s_t = γ(y_t/l_t) + (1−γ)s_t−m.
    Init: l = first-week mean, b = classic two-season slope
    ((mean₂ − mean₁)/m via integer sums), s_j = y_j/l ratios of week one.
    Multiplicative decomposition is DEFINED only for strictly positive
    series (fpp §8.3) — a series with any non-positive day, or shorter
    than 2m, releases zero rows on BOTH engines (the adversarial-fixture
    negative-revenue days exercise this guard). Released: the final
    state, the h = 1..{_HW_H} forecasts (l + h·b)·s, and the walk's
    one-step MAE in DESEASONED milli-cents.

    Cross-engine float shape: NO float — level/trend walk in exact
    integer MILLI-cents and the seasonal indices in integer PPM; every
    ratio is a truncating integer division (D7-pinned identical on
    negatives, which the trend hits) rendered from ONE shared formula
    text per step (:func:`_hw_step`), so both engines walk the identical
    lattice: Spark folds the series with ``aggregate`` carrying the
    m-slot seasonal queue in the accumulator struct, DuckDB walks the
    same recurrence as a recursive CTE with a LIST column. Overflow
    posture: the seasonal clamp [{_HW_S_MIN}, {_HW_S_MAX}] ppm bounds
    deseasoned values at 16× the raw series, the MAE accumulates in
    deseasoned space (no level×ppm product), and the forecast multiplies
    (milli div 1000) × (ppm div 1000) — every intermediate stays under
    2⁶³ while daily revenue is under ~$10¹¹ (documented dial: drop to a
    1e3 seasonal scale beyond, the D15 wide-int rule). Plan/scale: ONE
    daily hash aggregate collapses corpus-scale input; the fold runs
    over the |days| array (kilobytes at any SF — the B173 bound);
    release is {_HW_H} rows."""
    epoch = F.lit("1970-01-01").cast("date")
    daily = (
        table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate").isNotNull()
            & F.col("o_totalprice").isNotNull()
        )
        .groupBy(
            F.datediff(F.col("o_orderdate").cast("date"), epoch)
            .cast("bigint")
            .alias("d")
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    m, m2 = _HW_M, 2 * _HW_M
    arr = daily.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(d, cents))),"
            " s -> s.cents)"
        ).alias("ys")
    ).where(
        F.expr(f"size(ys) >= {m2} AND forall(ys, y -> y > 0)")
    )
    init = arr.select(
        "ys",
        F.expr(
            f"(1000 * aggregate(slice(ys, 1, {m}), CAST(0 AS BIGINT),"
            f" (a, y) -> a + y)) div {m}"
        ).alias("l0"),
        F.expr(
            f"(1000 * (aggregate(slice(ys, {m + 1}, {m}), CAST(0 AS BIGINT),"
            f" (a, y) -> a + y)"
            f" - aggregate(slice(ys, 1, {m}), CAST(0 AS BIGINT),"
            f" (a, y) -> a + y))) div {m * m}"
        ).alias("b0"),
    ).select(
        "ys",
        "l0",
        "b0",
        F.expr(
            f"transform(slice(ys, 1, {m}),"
            f" y -> CAST(least({_HW_S_MAX}, greatest({_HW_S_MIN},"
            f" (1000 * y * 1000000) div greatest(l0, 1))) AS BIGINT))"
        ).alias("s0"),
    )
    folded = init.select(
        F.expr(
            f"""
            aggregate(
              slice(ys, {m + 1}, size(ys) - {m}),
              named_struct('l', l0, 'b', b0, 's', s0,
                           'e', CAST(0 AS BIGINT)),
              (acc, y) -> named_struct(
                'l', {_HW_SPARK_STEP["l"]},
                'b', {_HW_SPARK_STEP["b"]},
                's', concat(slice(acc.s, 2, {m - 1}),
                            array({_HW_SPARK_STEP["s"]})),
                'e', {_HW_SPARK_STEP["e"]})
            )
            """
        ).alias("fin"),
        F.expr("CAST(size(ys) AS BIGINT)").alias("n"),
    )
    return folded.select(
        F.explode(F.expr(f"sequence(1, {_HW_H})")).alias("h"),
        F.col("fin.l").alias("l"),
        F.col("fin.b").alias("b"),
        F.col("fin.s").alias("s"),
        F.col("fin.e").alias("e"),
        "n",
    ).select(
        F.col("h").cast("bigint").alias("h"),
        F.col("l").alias("level_milli"),
        F.col("b").alias("trend_milli"),
        F.expr(f"element_at(s, CAST((h - 1) % {m} AS INT) + 1)").alias(
            "season_ppm"
        ),
        F.expr(
            f"CAST((((l + h * b) div 1000)"
            f" * (element_at(s, CAST((h - 1) % {m} AS INT) + 1) div 1000))"
            f" div 1000 AS BIGINT)"
        ).alias("forecast_cents"),
        F.expr(f"CAST(e div (n - {m}) AS BIGINT)").alias(
            "mae_deseason_milli"
        ),
    )


# --- B209: Croston intermittent-demand forecast (round 12) --------------------

_CROSTON_MOD = 97  # orderkey % 97 == 0 -> ~1% of orders: a sparse demand feed


def _croston_step(y: str, q: str, z: str, p: str, div: str) -> dict:
    """One Croston update at α = 1/4 on the integer lattice — ONE formula
    text per dialect (the B208 `_hw_step` convention): z in milli-cents,
    p in milli-days, sentinel p < 0 means 'first interval' (init-by-copy,
    which the EWMA fixed-point makes identical to DuckDB's t=2 base)."""
    znew = f"((1000 * {y} + 3 * {z}) {div} 4)"
    pnew = (
        f"(CASE WHEN {p} < 0 THEN 1000 * {q}"
        f" ELSE (1000 * {q} + 3 * {p}) {div} 4 END)"
    )
    return {"z": znew, "p": pnew}


_CROSTON_DUCK = _croston_step("s.y", "s.q", "r.z", "r.p", "//")
_CROSTON_SPARK = _croston_step("s.y", "(s.d - acc.prev_d)", "acc.z", "acc.p", "div")


@query(
    "q_ts_croston",
    oracle=f"""
    WITH RECURSIVE demand AS (
        SELECT o_orderpriority AS grp,
               date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) AS d,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS y
        FROM orders
        WHERE o_orderkey % {_CROSTON_MOD} = 0
          AND o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
          AND o_orderpriority IS NOT NULL
        GROUP BY 1, 2
    ),
    seq AS (
        SELECT grp, d, y,
               row_number() OVER (PARTITION BY grp ORDER BY d) AS t,
               d - lag(d) OVER (PARTITION BY grp ORDER BY d) AS q
        FROM demand
    ),
    nn AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n,
               CAST(min(d) AS BIGINT) AS first_d,
               CAST(max(d) AS BIGINT) AS last_d
        FROM seq GROUP BY grp HAVING count(*) >= 2
    ),
    rec(grp, t, z, p) AS (
        SELECT s1.grp, CAST(1 AS BIGINT),
               CAST(1000 * s1.y AS BIGINT), CAST(-1 AS BIGINT)
        FROM seq s1 JOIN nn ON s1.grp = nn.grp
        WHERE s1.t = 1
        UNION ALL
        SELECT r.grp, r.t + 1,
               {_CROSTON_DUCK["z"]},
               {_CROSTON_DUCK["p"]}
        FROM rec r JOIN seq s ON s.grp = r.grp AND s.t = r.t + 1
    )
    SELECT r.grp, nn.n AS n_demands,
           r.z AS z_milli, r.p AS p_milli,
           CAST((1000 * r.z) // r.p AS BIGINT) AS forecast_milli_cpd,
           CAST(((last_d - first_d) * 1000) // (nn.n - 1) AS BIGINT)
               AS mean_interval_milli
    FROM rec r JOIN nn ON r.grp = nn.grp AND r.t = nn.n
    """,
)
def q_ts_croston(spark, sf_dir):
    """B209: Croston's method (Croston 1972; Hyndman & Athanasopoulos fpp
    §13.2) — INTERMITTENT-demand forecasting, the sparse-series rung the
    B159/B190/B203/B208 family lacks: when most days have NO demand, a
    plain EWMA decays toward zero between events and systematically
    under-forecasts. Croston smooths two series at the demand EVENTS
    only — demand size z (milli-cents) and inter-demand interval p
    (milli-days), both at α = 1/4 — and forecasts the per-day demand
    RATE z/p. The demand feed models a slow-moving item: daily revenue
    of the ~1% order slice o_orderkey % {_CROSTON_MOD} == 0, per order
    priority (5 independent series; groups with < 2 events release
    nothing on either engine).

    Cross-engine float shape: NO float — the same integer-lattice walk
    as B203/B208, one shared per-step formula text
    (:func:`_croston_step`, truncating division D7-pinned): Spark folds
    each group's (day, cents) array carrying (z, p, prev_day) in the
    accumulator, DuckDB walks the grouped recursive CTE; the p
    initialization-by-copy sentinel is EXACTLY the t=2 EWMA fixed point
    ((1000q + 3·1000q) div 4 = 1000q), so both inits coincide by
    algebra, not by luck. Released per priority: event count, final
    (z, p), the forecast rate in milli-cents/day, and the exact mean
    inter-demand interval. Plan/scale: one filtered daily aggregate
    (predicate pushed to the scan), then a 5-group fold over
    calendar-bounded arrays — kilobytes at any SF."""
    epoch = F.lit("1970-01-01").cast("date")
    demand = (
        table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderkey") % _CROSTON_MOD == 0)
            & F.col("o_orderdate").isNotNull()
            & F.col("o_totalprice").isNotNull()
            & F.col("o_orderpriority").isNotNull()
        )
        .groupBy(
            F.col("o_orderpriority").alias("grp"),
            F.datediff(F.col("o_orderdate").cast("date"), epoch)
            .cast("bigint")
            .alias("d"),
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
    )
    arr = (
        demand.groupBy("grp")
        .agg(
            F.expr(
                "array_sort(collect_list(struct(d, y)))"
            ).alias("ev"),
            F.count(F.lit(1)).cast("bigint").alias("n_demands"),
            F.min("d").cast("bigint").alias("first_d"),
            F.max("d").cast("bigint").alias("last_d"),
        )
        .where(F.col("n_demands") >= 2)
    )
    folded = arr.select(
        "grp",
        "n_demands",
        "first_d",
        "last_d",
        F.expr(
            f"""
            aggregate(
              slice(ev, 2, size(ev) - 1),
              named_struct(
                'z', CAST(1000 * element_at(ev, 1).y AS BIGINT),
                'p', CAST(-1 AS BIGINT),
                'prev_d', element_at(ev, 1).d),
              (acc, s) -> named_struct(
                'z', {_CROSTON_SPARK["z"]},
                'p', {_CROSTON_SPARK["p"]},
                'prev_d', s.d)
            )
            """
        ).alias("fin"),
    )
    return folded.select(
        "grp",
        "n_demands",
        F.col("fin.z").alias("z_milli"),
        F.col("fin.p").alias("p_milli"),
        F.expr("CAST((1000 * fin.z) div fin.p AS BIGINT)").alias(
            "forecast_milli_cpd"
        ),
        F.expr(
            "CAST(((last_d - first_d) * 1000) div (n_demands - 1)"
            " AS BIGINT)"
        ).alias("mean_interval_milli"),
    )


# --- B211: classical seasonal-trend decomposition readout (round 13) ----------

_STL_M = 7  # weekly period over the daily revenue series
_STL_HALF = _STL_M // 2


@query(
    "q_ts_stl_decompose",
    oracle=f"""
    WITH daily AS (
        SELECT date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) AS d,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
        GROUP BY 1
    ),
    tr AS (
        SELECT d, cents,
               count(*) OVER w AS nw,
               CAST(sum(cents) OVER w AS BIGINT) AS sw,
               CAST(max(d) OVER w - min(d) OVER w AS BIGINT) AS dspan
        FROM daily
        WINDOW w AS (ORDER BY d
                     ROWS BETWEEN {_STL_HALF} PRECEDING
                              AND {_STL_HALF} FOLLOWING)
    ),
    det AS (
        SELECT d % {_STL_M} AS slot,
               1000 * cents - (1000 * sw) // {_STL_M} AS detr
        FROM tr WHERE nw = {_STL_M} AND dspan = {_STL_M - 1}
    ),
    rawix AS (
        SELECT slot,
               CAST(count(*) AS BIGINT) AS n_obs,
               CAST(CAST(sum(detr) AS BIGINT) // count(*) AS BIGINT)
                   AS raw_ix
        FROM det GROUP BY slot
    ),
    grand AS (
        SELECT CAST(CAST(sum(raw_ix) AS BIGINT) // {_STL_M} AS BIGINT) AS g
        FROM rawix
    ),
    seas AS (
        SELECT slot, n_obs, CAST(raw_ix - g AS BIGINT) AS seasonal_milli
        FROM rawix CROSS JOIN grand
    ),
    remstat AS (
        SELECT det.slot,
               CAST(sum(abs(det.detr - s.seasonal_milli)) AS BIGINT) AS sa
        FROM det JOIN seas s ON det.slot = s.slot
        GROUP BY det.slot
    )
    SELECT s.slot, s.n_obs, s.seasonal_milli,
           CAST(r.sa // s.n_obs AS BIGINT) AS remainder_mae_milli
    FROM seas s JOIN remstat r ON s.slot = r.slot
    """,
)
def q_ts_stl_decompose(spark, sf_dir):
    """B211: classical additive seasonal-trend decomposition READOUT
    (Hyndman & Athanasopoulos fpp §3.4 "classical decomposition" — the
    decomposition twin beside B208's Holt-Winters FORECASTER, VERDICT r12
    item #7a) over the daily revenue series at weekly period m={_STL_M}:

    - trend_t  = centered {_STL_M}-day moving average (odd period, so the
      plain centered mean; rows without a FULL window release nothing —
      the classical edge rule, identical on both engines via the window
      row count — AND, because the frame is {_STL_M} ROWS over the
      OBSERVED series, rows whose {_STL_M}-row window spans more than
      {_STL_M} calendar days are gated out too (max(d)−min(d) must equal
      {_STL_M - 1}), so a calendar gap cannot mislabel the seasonal
      readout on sparse series — ADVICE r13);
    - detrended_t = y_t − trend_t;
    - seasonal index s_j (j = epoch-day mod {_STL_M}) = mean of the
      detrended values in slot j, re-centered so Σ_j s_j ≈ 0 (grand-mean
      subtraction — the "seasonal components sum to zero" normalization);
    - remainder_t = detrended_t − s_j, released as a per-slot MAE.

    The 7-row readout (slot, n_obs, seasonal_milli, remainder_mae_milli)
    is the seasonality audit a pipeline runs BEFORE committing to a
    seasonal forecaster: strong stable indices + small remainder justify
    B208/B190; indices within remainder noise mean seasonality is not
    real and a simpler B203 level/trend model wins.

    Cross-engine float shape: NO float — detrended values in exact
    integer MILLI-cents ((1000·Σwindow) div {_STL_M} trend, the B208
    lattice), slot means and the grand mean as truncating integer
    divisions (D7-pinned on negatives, which detrended values hit by
    construction), MAE likewise; DuckDB's HUGEINT sum is cast back to
    BIGINT before every division (the D8/D15 rule).

    Plan/scale: the corpus-scale work is the ONE daily hash aggregate
    (map-side combined, calendar-bounded output); the moving-average
    window, slot aggregate, 1-row grand mean (broadcast) and remainder
    join all run on the |days|-row frame — kilobytes at any SF (the B173
    bound). The trend window is partitionless by construction (a single
    global daily series — the documented B88/B172 class, allowlisted in
    tests/test_plans.py) and bounded by the calendar, not the data."""
    epoch = F.lit("1970-01-01").cast("date")
    daily = (
        table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate").isNotNull()
            & F.col("o_totalprice").isNotNull()
        )
        .groupBy(
            F.datediff(F.col("o_orderdate").cast("date"), epoch)
            .cast("bigint")
            .alias("d")
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w = Window.orderBy("d").rowsBetween(-_STL_HALF, _STL_HALF)
    det = (
        daily.select(
            "d",
            "cents",
            F.count(F.lit(1)).over(w).alias("nw"),
            F.sum("cents").over(w).cast("bigint").alias("sw"),
            (F.max("d").over(w) - F.min("d").over(w))
            .cast("bigint")
            .alias("dspan"),
        )
        .where((F.col("nw") == _STL_M) & (F.col("dspan") == _STL_M - 1))
        .select(
            (F.col("d") % _STL_M).alias("slot"),
            F.expr(f"1000 * cents - (1000 * sw) div {_STL_M}").alias(
                "detr"
            ),
        )
    )
    rawix = det.groupBy("slot").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.expr("CAST(sum(detr) div count(1) AS BIGINT)").alias("raw_ix"),
    )
    grand = F.broadcast(
        rawix.agg(
            F.expr(f"CAST(sum(raw_ix) div {_STL_M} AS BIGINT)").alias("g")
        )
    )
    seas = rawix.crossJoin(grand).select(
        "slot",
        "n_obs",
        (F.col("raw_ix") - F.col("g")).cast("bigint").alias("seasonal_milli"),
    )
    remstat = (
        det.join(F.broadcast(seas), "slot")
        .groupBy("slot")
        .agg(
            F.sum(F.abs(F.col("detr") - F.col("seasonal_milli")))
            .cast("bigint")
            .alias("sa")
        )
    )
    return seas.join(remstat, "slot").select(
        "slot",
        "n_obs",
        "seasonal_milli",
        F.expr("CAST(sa div n_obs AS BIGINT)").alias("remainder_mae_milli"),
    )


# --- B212: Wilder RSI on the integer lattice (round 13) ------------------------

_RSI_N = 14  # Wilder's smoothing length


def _rsi_step(y: str, prev: str, ag: str, al: str, div: str) -> dict:
    """One Wilder update at α = 1/{_RSI_N} on the integer milli-cent
    lattice — ONE formula text per dialect (the B208/B209 convention).
    Sentinel ag < 0 means 'first delta' (init-by-copy: both averages seed
    from the first gain/loss pair, the B209 init convention — NOT the
    textbook 14-bar SMA seed, chosen so the fold is single-phase and the
    recurrence identical on both engines; after ~4·{_RSI_N} bars the two
    seeds converge geometrically)."""
    g = f"greatest({y} - {prev}, CAST(0 AS BIGINT))"
    ls = f"greatest({prev} - {y}, CAST(0 AS BIGINT))"
    return {
        "ag": (
            f"(CASE WHEN {ag} < 0 THEN 1000 * {g}"
            f" ELSE ({_RSI_N - 1} * {ag} + 1000 * {g}) {div} {_RSI_N} END)"
        ),
        "al": (
            f"(CASE WHEN {al} < 0 THEN 1000 * {ls}"
            f" ELSE ({_RSI_N - 1} * {al} + 1000 * {ls}) {div} {_RSI_N} END)"
        ),
        "up": f"(CASE WHEN {y} > {prev} THEN 1 ELSE 0 END)",
        "down": f"(CASE WHEN {y} < {prev} THEN 1 ELSE 0 END)",
    }


_RSI_DUCK = _rsi_step("s.y", "r.prev", "r.ag", "r.al", "//")
_RSI_SPARK = _rsi_step("s.y", "acc.prev", "acc.ag", "acc.al", "div")


@query(
    "q_ts_rsi",
    oracle=f"""
    WITH RECURSIVE daily AS (
        SELECT o_orderpriority AS grp,
               date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) AS d,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS y
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
          AND o_orderpriority IS NOT NULL
        GROUP BY 1, 2
    ),
    seq AS (
        SELECT grp, d, y,
               row_number() OVER (PARTITION BY grp ORDER BY d) AS t
        FROM daily
    ),
    nn AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n
        FROM seq GROUP BY grp HAVING count(*) >= 2
    ),
    rec(grp, t, prev, ag, al, up, down) AS (
        SELECT s1.grp, CAST(1 AS BIGINT), s1.y,
               CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
               CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        FROM seq s1 JOIN nn ON s1.grp = nn.grp
        WHERE s1.t = 1
        UNION ALL
        SELECT r.grp, r.t + 1, s.y,
               {_RSI_DUCK["ag"]},
               {_RSI_DUCK["al"]},
               r.up + {_RSI_DUCK["up"]},
               r.down + {_RSI_DUCK["down"]}
        FROM rec r JOIN seq s ON s.grp = r.grp AND s.t = r.t + 1
    )
    SELECT r.grp, nn.n AS n_days, r.up AS n_up, r.down AS n_down,
           r.ag AS avg_gain_milli, r.al AS avg_loss_milli,
           CASE WHEN r.ag + r.al > 0
                THEN CAST((1000000 * r.ag) // (r.ag + r.al) AS BIGINT)
           END AS rsi_ppm
    FROM rec r JOIN nn ON r.grp = nn.grp AND r.t = nn.n
    """,
)
def q_ts_rsi(spark, sf_dir):
    """B212: Wilder's RELATIVE STRENGTH INDEX (Wilder 1978) over the
    daily revenue series per order priority — the momentum-oscillator
    rung of the B194 (Bollinger) / B203 (Holt) indicator family: average
    gain and average loss each smoothed at α = 1/{_RSI_N} (Wilder's
    n={_RSI_N}), RSI = 100·ag/(ag+al) released in exact ppm. The
    overbought/oversold readout (RSI > 70 / < 30 in the classic rule, >
    700000 / < 300000 ppm here) a revenue-ops pipeline alarms on, with
    the raw up/down day counts beside it so the reader can tell a
    one-sided drift from genuine momentum.

    Cross-engine float shape: NO float — gains/losses in exact integer
    cents, both Wilder averages walk the MILLI-cent lattice with
    truncating division (D7-pinned), one shared per-step formula text
    (:func:`_rsi_step`): Spark folds each priority's sorted daily array
    carrying (prev, ag, al, up, down), DuckDB walks the grouped
    recursive CTE. Init-by-copy at the first delta (ag<0 sentinel — the
    B209 convention; the textbook {_RSI_N}-bar SMA seed differs only in
    the geometrically-vanishing seed term, and BOTH engines share this
    exact recurrence, which is what the oracle verifies). rsi_ppm is an
    exact integer floor-div with the ag+al=0 flat-series guard releasing
    NULL on both engines.

    Plan/scale: one daily hash aggregate (predicates pushed), then a
    5-group fold over calendar-bounded arrays — kilobytes at any SF (the
    B209 shape: no window, no join in the corpus-scale stage)."""
    epoch = F.lit("1970-01-01").cast("date")
    daily = (
        table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate").isNotNull()
            & F.col("o_totalprice").isNotNull()
            & F.col("o_orderpriority").isNotNull()
        )
        .groupBy(
            F.col("o_orderpriority").alias("grp"),
            F.datediff(F.col("o_orderdate").cast("date"), epoch)
            .cast("bigint")
            .alias("d"),
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
    )
    arr = (
        daily.groupBy("grp")
        .agg(
            F.expr("array_sort(collect_list(struct(d, y)))").alias("ev"),
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
        )
        .where(F.col("n_days") >= 2)
    )
    folded = arr.select(
        "grp",
        "n_days",
        F.expr(
            f"""
            aggregate(
              slice(ev, 2, size(ev) - 1),
              named_struct(
                'prev', element_at(ev, 1).y,
                'ag', CAST(-1 AS BIGINT), 'al', CAST(-1 AS BIGINT),
                'up', CAST(0 AS BIGINT), 'down', CAST(0 AS BIGINT)),
              (acc, s) -> named_struct(
                'prev', s.y,
                'ag', {_RSI_SPARK["ag"]},
                'al', {_RSI_SPARK["al"]},
                'up', acc.up + {_RSI_SPARK["up"]},
                'down', acc.down + {_RSI_SPARK["down"]})
            )
            """
        ).alias("fin"),
    )
    return folded.select(
        "grp",
        "n_days",
        F.col("fin.up").alias("n_up"),
        F.col("fin.down").alias("n_down"),
        F.col("fin.ag").alias("avg_gain_milli"),
        F.col("fin.al").alias("avg_loss_milli"),
        F.expr(
            "CASE WHEN fin.ag + fin.al > 0 THEN"
            " CAST((1000000 * fin.ag) div (fin.ag + fin.al) AS BIGINT)"
            " END"
        ).alias("rsi_ppm"),
    )


# --- B213: MACD crossover on the integer lattice (round 14) --------------------

_MACD_FAST = 12  # fast EWMA 1/12 (the classic 12/26/9 geometry)
_MACD_SLOW = 26
_MACD_SIG = 9


def _macd_step(y: str, f: str, s: str, sig: str, d: str, div: str) -> dict:
    """One MACD update on the integer cents lattice — ONE formula text per
    dialect (the B208/B209/B212 convention). EWMAs as exact integer
    recurrences E += (x−E) div a (the B132 form, D7-pinned truncating
    division); the signal line smooths the NEW macd value; crossings
    compare (old macd vs old signal) against (new macd vs new signal)."""
    nf = f"({f} + ({y} - {f}) {div} {_MACD_FAST})"
    ns = f"({s} + ({y} - {s}) {div} {_MACD_SLOW})"
    nm = f"({nf} - {ns})"
    nsig = f"({sig} + (({nm}) - {sig}) {div} {_MACD_SIG})"
    om = f"({f} - {s})"
    up_cond = f"({nm} > {nsig} AND {om} <= {sig})"
    down_cond = f"({nm} < {nsig} AND {om} >= {sig})"
    return {
        "f": nf,
        "s": ns,
        "sig": nsig,
        "up": f"(CASE WHEN {up_cond} THEN 1 ELSE 0 END)",
        "down": f"(CASE WHEN {down_cond} THEN 1 ELSE 0 END)",
        "up_cond": up_cond,
        "fcd": f"(CASE WHEN {up_cond} THEN {d} END)",
    }


_MACD_DUCK = _macd_step("s.y", "r.f", "r.s", "r.sig", "s.d", "//")
_MACD_SPARK = _macd_step("e.y", "a.f", "a.s", "a.sig", "e.d", "div")


@query(
    "q_ts_macd",
    oracle=f"""
    WITH RECURSIVE daily AS (
        SELECT o_orderpriority AS grp,
               date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) AS d,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS y
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
          AND o_orderpriority IS NOT NULL
        GROUP BY 1, 2
    ),
    seq AS (
        SELECT grp, d, y,
               row_number() OVER (PARTITION BY grp ORDER BY d) AS t
        FROM daily
    ),
    nn AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n
        FROM seq GROUP BY grp HAVING count(*) >= 2
    ),
    rec(grp, t, f, s, sig, up, down, fcd) AS (
        SELECT s1.grp, CAST(1 AS BIGINT), s1.y, s1.y,
               CAST(0 AS BIGINT),
               CAST(0 AS BIGINT), CAST(0 AS BIGINT),
               CAST(NULL AS BIGINT)
        FROM seq s1 JOIN nn ON s1.grp = nn.grp
        WHERE s1.t = 1
        UNION ALL
        SELECT r.grp, r.t + 1,
               {_MACD_DUCK["f"]},
               {_MACD_DUCK["s"]},
               {_MACD_DUCK["sig"]},
               r.up + {_MACD_DUCK["up"]},
               r.down + {_MACD_DUCK["down"]},
               coalesce(r.fcd, {_MACD_DUCK["fcd"]})
        FROM rec r JOIN seq s ON s.grp = r.grp AND s.t = r.t + 1
    )
    SELECT r.grp, nn.n AS n_days,
           CAST(r.f - r.s AS BIGINT) AS macd_cents,
           r.sig AS signal_cents,
           CAST(r.f - r.s - r.sig AS BIGINT) AS hist_cents,
           r.up AS n_cross_up,
           r.down AS n_cross_down,
           r.fcd AS first_cross_d
    FROM rec r JOIN nn ON r.grp = nn.grp AND r.t = nn.n
    """,
)
def q_ts_macd(spark, sf_dir):
    """B213: MACD (moving-average convergence/divergence, Appel's
    {_MACD_FAST}/{_MACD_SLOW}/{_MACD_SIG} geometry) over the daily
    revenue series per order priority — the trend-momentum rung beside
    B212's RSI oscillator (VERDICT r13 item #7c), reusing the B212
    fold discipline at a second timescale: the B132 fast/slow EWMA pair
    plus a SIGNAL line (an EWMA of the macd difference itself), with
    bullish/bearish crossover counts and the first bullish-cross day —
    the entry/exit readout a revenue-ops pipeline alarms on where B132
    alarms on the raw pair.

    Cross-engine float shape: NO float — daily revenue in exact integer
    cents; all three EWMAs walk the cents lattice as exact integer
    recurrences E += (x−E) div a (truncating div, D7-pinned on the
    negatives macd genuinely hits), ONE shared per-step formula text
    (:func:`_macd_step`): Spark folds each priority's sorted daily
    array carrying (f, s, sig, up, down, fcd), DuckDB walks the grouped
    recursive CTE. Init-by-copy at bar 1 (f = s = y, so macd = 0 and
    the signal seeds from it — the B209/B212 convention; both engines
    share the exact recurrence, which is what the oracle verifies).
    A crossing is (new macd vs new signal) flipping against (old macd
    vs old signal) — the B132 compare, applied to the derived pair.

    Plan/scale: identical to B212 — one daily hash aggregate (predicates
    pushed to the orders scan), then a 5-group fold over
    calendar-bounded arrays (kilobytes at any SF; no window, no join in
    the corpus-scale stage)."""
    epoch = F.lit("1970-01-01").cast("date")
    daily = (
        table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate").isNotNull()
            & F.col("o_totalprice").isNotNull()
            & F.col("o_orderpriority").isNotNull()
        )
        .groupBy(
            F.col("o_orderpriority").alias("grp"),
            F.datediff(F.col("o_orderdate").cast("date"), epoch)
            .cast("bigint")
            .alias("d"),
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
    )
    arr = (
        daily.groupBy("grp")
        .agg(
            F.expr("array_sort(collect_list(struct(d, y)))").alias("ev"),
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
        )
        .where(F.col("n_days") >= 2)
    )
    folded = arr.select(
        "grp",
        "n_days",
        F.expr(
            f"""
            aggregate(
              slice(ev, 2, size(ev) - 1),
              named_struct(
                'f', element_at(ev, 1).y,
                's', element_at(ev, 1).y,
                'sig', CAST(0 AS BIGINT),
                'up', CAST(0 AS BIGINT), 'down', CAST(0 AS BIGINT),
                'fcd', CAST(NULL AS BIGINT)),
              (a, e) -> named_struct(
                'f', {_MACD_SPARK["f"]},
                's', {_MACD_SPARK["s"]},
                'sig', {_MACD_SPARK["sig"]},
                'up', a.up + {_MACD_SPARK["up"]},
                'down', a.down + {_MACD_SPARK["down"]},
                'fcd', coalesce(a.fcd, {_MACD_SPARK["fcd"]}))
            )
            """
        ).alias("fin"),
    )
    return folded.select(
        "grp",
        "n_days",
        (F.col("fin.f") - F.col("fin.s")).cast("bigint").alias("macd_cents"),
        F.col("fin.sig").alias("signal_cents"),
        (F.col("fin.f") - F.col("fin.s") - F.col("fin.sig"))
        .cast("bigint")
        .alias("hist_cents"),
        F.col("fin.up").alias("n_cross_up"),
        F.col("fin.down").alias("n_cross_down"),
        F.col("fin.fcd").alias("first_cross_d"),
    )


# --- B214: Wilder's Average True Range on the integer lattice (round 14) ------

_ATR_N = 14  # Wilder's classic n=14 smoothing window


def _atr_step(h: str, l: str, pc: str, atr: str, mx: str, div: str) -> dict:
    """One ATR update on the MILLI-cent lattice — ONE formula text per
    dialect (the B208/B209/B212/B213 convention). True range at bar t is
    greatest(high-low, |high-prev_close|, |low-prev_close|) in exact
    integer cents; Wilder's smoothing walks the milli-cent lattice as
    atr' = ((n-1)·atr + 1000·tr) div n (truncating division — atr and tr
    are non-negative by construction, so floor and trunc agree)."""
    tr = f"greatest({h} - {l}, abs({h} - {pc}), abs({l} - {pc}))"
    return {
        "atr": f"(({_ATR_N - 1} * {atr} + 1000 * ({tr})) {div} {_ATR_N})",
        "mx": f"greatest({mx}, {tr})",
    }


_ATR_DUCK = _atr_step("s.h", "s.l", "r.pc", "r.atr", "r.mx", "//")
_ATR_SPARK = _atr_step("s.h", "s.l", "a.pc", "a.atr", "a.mx", "div")


@query(
    "q_ts_atr",
    oracle=f"""
    WITH RECURSIVE t AS (
        SELECT event_type AS grp,
               CAST(epoch_us(ts) // {_DAY_US_TS} AS BIGINT) AS d,
               CAST(floor(value * 100) AS BIGINT) AS cents,
               ts, event_id
        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
          AND event_type IS NOT NULL
    ),
    w AS (
        SELECT grp, d, cents,
               first_value(cents) OVER (
                   PARTITION BY grp, d ORDER BY ts DESC, event_id DESC
               ) AS close_c
        FROM t
    ),
    daily AS (
        SELECT grp, d,
               CAST(max(cents) AS BIGINT) AS h,
               CAST(min(cents) AS BIGINT) AS l,
               CAST(min(close_c) AS BIGINT) AS c
        FROM w GROUP BY 1, 2
    ),
    seq AS (
        SELECT grp, d, h, l, c,
               row_number() OVER (PARTITION BY grp ORDER BY d) AS t
        FROM daily
    ),
    nn AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n
        FROM seq GROUP BY grp HAVING count(*) >= 2
    ),
    rec(grp, t, pc, atr, mx) AS (
        SELECT s1.grp, CAST(1 AS BIGINT), s1.c,
               CAST(1000 * (s1.h - s1.l) AS BIGINT),
               CAST(s1.h - s1.l AS BIGINT)
        FROM seq s1 JOIN nn ON s1.grp = nn.grp
        WHERE s1.t = 1
        UNION ALL
        SELECT r.grp, r.t + 1, s.c,
               {_ATR_DUCK["atr"]},
               {_ATR_DUCK["mx"]}
        FROM rec r JOIN seq s ON s.grp = r.grp AND s.t = r.t + 1
    )
    SELECT r.grp, nn.n AS n_days,
           r.pc AS close_cents,
           r.mx AS max_tr_cents,
           r.atr AS atr_milli,
           CASE WHEN r.pc > 0
                THEN CAST((1000 * r.atr) // r.pc AS BIGINT)
           END AS natr_ppm
    FROM rec r JOIN nn ON r.grp = nn.grp AND r.t = nn.n
    """,
)
def q_ts_atr(spark, sf_dir):
    """B214: Wilder's AVERAGE TRUE RANGE (Wilder 1978) over daily
    (event_type, day) OHLC bars from the events stream — the volatility
    rung of the indicator family beside B212's RSI (momentum) and
    B213's MACD (trend): true range folds the overnight gap into the
    bar's range (greatest of high−low, |high−prev close|,
    |low−prev close|), smoothed at Wilder's α = 1/{_ATR_N}, with the
    normalized ATR (atr/close, exact ppm) beside it so volatility is
    comparable across price levels — the position-sizing / anomaly-band
    readout an ops pipeline alarms on.

    Cross-engine float shape: NO float — bars in exact integer cents
    (the B110 OHLC discipline: close is first_value in (ts, event_id)
    DESC order so ties break identically), the Wilder average walks the
    MILLI-cent lattice with truncating division (atr and tr are
    non-negative by construction so floor/trunc agree), ONE shared
    per-step formula text (:func:`_atr_step`): Spark folds each type's
    sorted daily array carrying (pc, atr, mx), DuckDB walks the grouped
    recursive CTE. Init-by-copy at bar 1 (atr = 1000·(h₁−l₁) — bar 1's
    true range is its plain range, no prev close exists; both engines
    share the exact recurrence, which is what the oracle verifies).
    natr_ppm is an exact integer floor-div with a close>0 guard
    releasing NULL on both engines.

    Plan/scale: one (grp, d) window pass + hash aggregate build the
    daily bars (predicates pushed to the events scan), then a per-type
    fold over calendar-bounded arrays — kilobytes at any SF (the
    B209/B212/B213 shape: no window, no join in the corpus-scale stage
    beyond the bar build)."""
    ev = table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
        & F.col("value").isNotNull()
        & F.col("event_type").isNotNull()
    )
    t = ev.select(
        F.col("event_type").alias("grp"),
        F.expr(f"unix_micros(ts) div {_DAY_US_TS}").cast("bigint").alias("d"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        "ts",
        "event_id",
    )
    desc = Window.partitionBy("grp", "d").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    w = t.select(
        "grp", "d", "cents", F.first("cents").over(desc).alias("close_c")
    )
    daily = w.groupBy("grp", "d").agg(
        F.max("cents").cast("bigint").alias("h"),
        F.min("cents").cast("bigint").alias("l"),
        F.min("close_c").cast("bigint").alias("c"),
    )
    arr = (
        daily.groupBy("grp")
        .agg(
            F.expr("array_sort(collect_list(struct(d, h, l, c)))").alias(
                "ev"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
        )
        .where(F.col("n_days") >= 2)
    )
    folded = arr.select(
        "grp",
        "n_days",
        F.expr(
            f"""
            aggregate(
              slice(ev, 2, size(ev) - 1),
              named_struct(
                'pc', element_at(ev, 1).c,
                'atr', CAST(1000 * (element_at(ev, 1).h
                                    - element_at(ev, 1).l) AS BIGINT),
                'mx', CAST(element_at(ev, 1).h
                           - element_at(ev, 1).l AS BIGINT)),
              (a, s) -> named_struct(
                'pc', s.c,
                'atr', {_ATR_SPARK["atr"]},
                'mx', {_ATR_SPARK["mx"]})
            )
            """
        ).alias("fin"),
    )
    return folded.select(
        "grp",
        "n_days",
        F.col("fin.pc").alias("close_cents"),
        F.col("fin.mx").alias("max_tr_cents"),
        F.col("fin.atr").alias("atr_milli"),
        F.expr(
            "CASE WHEN fin.pc > 0 THEN"
            " CAST((1000 * fin.atr) div fin.pc AS BIGINT)"
            " END"
        ).alias("natr_ppm"),
    )


# --- B215: stochastic oscillator %K/%D on the integer lattice (round 14) ------

_STO_N = 14  # %K lookback (Lane's classic 14)
_STO_D = 3  # %D smoothing: 3-bar SMA of %K
_STO_HI = 800_000  # overbought: %K > 80 (ppm)
_STO_LO = 200_000  # oversold:  %K < 20 (ppm)


@query(
    "q_ts_stochastic",
    oracle=f"""
    WITH t AS (
        SELECT event_type AS grp,
               CAST(epoch_us(ts) // {_DAY_US_TS} AS BIGINT) AS d,
               CAST(floor(value * 100) AS BIGINT) AS cents,
               ts, event_id
        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
          AND event_type IS NOT NULL
    ),
    w AS (
        SELECT grp, d, cents,
               first_value(cents) OVER (
                   PARTITION BY grp, d ORDER BY ts DESC, event_id DESC
               ) AS close_c
        FROM t
    ),
    daily AS (
        SELECT grp, d,
               CAST(max(cents) AS BIGINT) AS h,
               CAST(min(cents) AS BIGINT) AS l,
               CAST(min(close_c) AS BIGINT) AS c
        FROM w GROUP BY 1, 2
    ),
    k AS (
        SELECT grp, d, c,
               row_number() OVER (PARTITION BY grp ORDER BY d) AS t,
               count(*) OVER (PARTITION BY grp) AS n,
               CASE WHEN count(*) OVER w14 = {_STO_N}
                     AND d - min(d) OVER w14 = {_STO_N - 1}
                     AND max(h) OVER w14 > min(l) OVER w14
                    THEN CAST((1000000 * (c - min(l) OVER w14))
                              // (max(h) OVER w14 - min(l) OVER w14)
                         AS BIGINT)
               END AS k_ppm
        FROM daily
        WINDOW w14 AS (PARTITION BY grp ORDER BY d
                       ROWS BETWEEN {_STO_N - 1} PRECEDING AND CURRENT ROW)
    ),
    kd AS (
        SELECT grp, d, t, n, k_ppm,
               CASE WHEN count(k_ppm) OVER w3 = {_STO_D}
                    THEN CAST(sum(k_ppm) OVER w3 // {_STO_D} AS BIGINT)
               END AS d_ppm
        FROM k
        WINDOW w3 AS (PARTITION BY grp ORDER BY d
                      ROWS BETWEEN {_STO_D - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT grp,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(count(k_ppm) AS BIGINT) AS n_k,
           CAST(count(CASE WHEN k_ppm > {_STO_HI} THEN 1 END) AS BIGINT)
               AS n_overbought,
           CAST(count(CASE WHEN k_ppm < {_STO_LO} THEN 1 END) AS BIGINT)
               AS n_oversold,
           max(CASE WHEN t = n THEN k_ppm END) AS last_k_ppm,
           max(CASE WHEN t = n THEN d_ppm END) AS last_d_ppm,
           min(CASE WHEN k_ppm > {_STO_HI} THEN d END) AS first_ob_d
    FROM kd GROUP BY grp
    """,
)
def q_ts_stochastic(spark, sf_dir):
    """B215: Lane's STOCHASTIC OSCILLATOR (%K/%D) over daily
    (event_type, day) OHLC bars — the range-position rung of the
    indicator family beside B212 RSI, B213 MACD and B214 ATR: %K places
    today's close inside the rolling {_STO_N}-bar high/low envelope
    (exact ppm), %D is the {_STO_D}-bar SMA of %K, with
    overbought/oversold day counts (>{_STO_HI // 10000}/<
    {_STO_LO // 10000} in classic percent terms) and the first
    overbought day — the mean-reversion entry readout.

    Cross-engine float shape: NO float — bars in exact integer cents
    (the B110/B214 close-election discipline), %K an exact integer
    floor-div (numerator c−L is non-negative because L is the min over
    a frame CONTAINING the current bar's low ≤ close, so floor/trunc
    agree), %D an integer div {_STO_D} of the 3-bar sum. The %K frame is
    ROW-based and therefore gated BOTH on a full {_STO_N}-row frame AND
    on the frame spanning exactly {_STO_N} consecutive days
    (d − min(d) = {_STO_N - 1}) — the B211 dense-calendar lesson
    (ADVICE r13) applied up front: a sparse series releases NULL
    instead of silently mislabeling a longer span as "{_STO_N}-day".
    Flat envelopes (H = L) release NULL on both engines.

    Plan/scale: the bar build is the B214 shape (one (grp, d) window
    pass + hash aggregate, predicates pushed); the oscillator stages are
    two window passes over the collapsed |types|×|days| daily frame and
    a final hash aggregate — all calendar-bounded, kilobytes at any SF;
    no join anywhere."""
    ev = table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
        & F.col("value").isNotNull()
        & F.col("event_type").isNotNull()
    )
    t = ev.select(
        F.col("event_type").alias("grp"),
        F.expr(f"unix_micros(ts) div {_DAY_US_TS}").cast("bigint").alias("d"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        "ts",
        "event_id",
    )
    desc = Window.partitionBy("grp", "d").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    w = t.select(
        "grp", "d", "cents", F.first("cents").over(desc).alias("close_c")
    )
    daily = w.groupBy("grp", "d").agg(
        F.max("cents").cast("bigint").alias("h"),
        F.min("cents").cast("bigint").alias("l"),
        F.min("close_c").cast("bigint").alias("c"),
    )
    w14 = (
        Window.partitionBy("grp")
        .orderBy("d")
        .rowsBetween(-(_STO_N - 1), 0)
    )
    seq = Window.partitionBy("grp").orderBy("d")
    full = Window.partitionBy("grp")
    h14 = F.max("h").over(w14)
    l14 = F.min("l").over(w14)
    dense = (
        (F.count(F.lit(1)).over(w14) == _STO_N)
        & ((F.col("d") - F.min("d").over(w14)) == _STO_N - 1)
        & (h14 > l14)
    )
    k = daily.select(
        "grp",
        "d",
        F.row_number().over(seq).cast("bigint").alias("t"),
        F.count(F.lit(1)).over(full).cast("bigint").alias("n"),
        F.when(
            dense,
            F.expr(
                f"CAST((1000000 * (c - min(l) OVER (PARTITION BY grp"
                f" ORDER BY d ROWS BETWEEN {_STO_N - 1} PRECEDING AND"
                f" CURRENT ROW))) div (max(h) OVER (PARTITION BY grp"
                f" ORDER BY d ROWS BETWEEN {_STO_N - 1} PRECEDING AND"
                f" CURRENT ROW) - min(l) OVER (PARTITION BY grp ORDER BY d"
                f" ROWS BETWEEN {_STO_N - 1} PRECEDING AND CURRENT ROW))"
                f" AS BIGINT)"
            ),
        ).alias("k_ppm"),
    )
    w3 = (
        Window.partitionBy("grp")
        .orderBy("d")
        .rowsBetween(-(_STO_D - 1), 0)
    )
    kd = k.select(
        "grp",
        "d",
        "t",
        "n",
        "k_ppm",
        F.when(
            F.count("k_ppm").over(w3) == _STO_D,
            F.sum("k_ppm").over(w3).cast("bigint"),
        ).alias("_s3"),
    ).withColumn(
        "d_ppm",
        F.when(
            F.col("_s3").isNotNull(),
            F.expr(f"CAST(_s3 div {_STO_D} AS BIGINT)"),
        ),
    )
    return kd.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.count("k_ppm").cast("bigint").alias("n_k"),
        F.count(F.when(F.col("k_ppm") > _STO_HI, 1))
        .cast("bigint")
        .alias("n_overbought"),
        F.count(F.when(F.col("k_ppm") < _STO_LO, 1))
        .cast("bigint")
        .alias("n_oversold"),
        F.max(F.when(F.col("t") == F.col("n"), F.col("k_ppm"))).alias(
            "last_k_ppm"
        ),
        F.max(F.when(F.col("t") == F.col("n"), F.col("d_ppm"))).alias(
            "last_d_ppm"
        ),
        F.min(F.when(F.col("k_ppm") > _STO_HI, F.col("d"))).alias(
            "first_ob_d"
        ),
    )
