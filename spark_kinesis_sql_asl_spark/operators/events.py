"""Event-stream batch analytics (SURVEY.md §2 rows B93–B95): gap-based
sessionization, cohort retention, and null-ordered ranked reads.

These are the three event-table shapes every clickstream/telemetry workload
runs on top of the relational core. All outputs follow the driver-canon
conventions: integer epoch-microseconds (``unix_micros`` / ``epoch_us`` are
BIGINT-exact on both engines, unlike second-granularity ``unix_timestamp``
whose sub-second truncation direction is engine-defined), explicit
deterministic tiebreaks on every window order, and BIGINT-cast counts.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import table
from .analytics import global_running_sums

# Session gap: 30 minutes, expressed in integer microseconds so the
# comparison is exact on both engines.
_GAP_US = 30 * 60 * 1_000_000

_DAY_US = 86_400 * 1_000_000


@query(
    "q_events_sessionize",
    oracle=f"""
    WITH e AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id
        FROM events
    ),
    flagged AS (
        SELECT user_id, ts_us, event_id,
               CASE WHEN ts_us - lag(ts_us) OVER w > {_GAP_US}
                         OR lag(ts_us) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us NULLS FIRST, event_id)
    ),
    numbered AS (
        SELECT user_id, ts_us,
               CAST(sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts_us NULLS FIRST, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT user_id, session_id,
           CAST(min(ts_us) AS BIGINT) AS session_start_us,
           CAST(max(ts_us) - min(ts_us) AS BIGINT) AS duration_us,
           CAST(count(*) AS BIGINT) AS n_events
    FROM numbered GROUP BY user_id, session_id
    """,
)
def q_events_sessionize(spark, sf_dir):
    """B93: gap-based sessionization — split each user's event stream into
    sessions wherever two consecutive events are more than 30 minutes
    apart, then roll up per-session start/duration/size. The classic
    lag-flag + running-sum formulation: one shuffle on user_id feeds BOTH
    windows and the final rollup (same partitioning key, so Catalyst reuses
    the exchange; AQE coalesces the tiny tail). Timestamps stay in integer
    epoch-microseconds end-to-end — no interval arithmetic, no sub-second
    truncation ambiguity. Ties on ts break on event_id, making session
    numbering reproducible on any partitioning. At 100 TB: sessions per
    user are bounded; the per-user window state is a single lag value and a
    running sum, so executor memory is flat regardless of corpus size.
    NULL ts ordering is pinned to NULLS FIRST on both engines (Spark's ASC
    default, made explicit here and in the oracle) so a stream with NULL
    timestamps sessionizes identically everywhere."""
    e = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    order = [F.col("ts_us").asc_nulls_first(), F.col("event_id").asc()]
    w_lag = Window.partitionBy("user_id").orderBy(*order)
    w_run = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = e.withColumn(
        "new_session",
        F.when(
            (F.col("ts_us") - F.lag("ts_us").over(w_lag) > _GAP_US)
            | F.lag("ts_us").over(w_lag).isNull(),
            1,
        ).otherwise(0),
    )
    numbered = flagged.select(
        "user_id",
        "ts_us",
        F.sum("new_session").over(w_run).cast("bigint").alias("session_id"),
    )
    return numbered.groupBy("user_id", "session_id").agg(
        F.min("ts_us").cast("bigint").alias("session_start_us"),
        (F.max("ts_us") - F.min("ts_us")).cast("bigint").alias("duration_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "q_events_cohort_retention",
    oracle=f"""
    WITH e AS (
        SELECT user_id, epoch_us(ts) // {_DAY_US} AS day FROM events
    ),
    cohorts AS (
        SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id
    )
    SELECT c.cohort_day,
           e.day - c.cohort_day AS day_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
    FROM e JOIN cohorts c ON e.user_id = c.user_id
    GROUP BY c.cohort_day, e.day - c.cohort_day
    """,
)
def q_events_cohort_retention(spark, sf_dir):
    """B94: cohort retention triangle — users grouped by first-seen day
    (their cohort), counted distinct on each subsequent activity-day
    offset. The product-analytics staple (D1/D7/D30 retention reads
    straight off the offsets). Day numbers are integer epoch-day floors
    (``epoch_us div 86400e6``) — no timezone-dependent date_trunc, no
    calendar types crossing the engine boundary. Plan: the cohort frame is
    one groupBy(user) over the already-user-keyed event days; the join back
    is on the same key (exchange reuse), and the distinct-count shuffles
    (cohort_day, offset, user) triples — at 100 TB that is bounded by
    |events| with map-side partial distinct, never a cross product."""
    e = table(spark, sf_dir, "events").select(
        "user_id", F.expr(f"unix_micros(ts) div {_DAY_US}").alias("day")
    )
    cohorts = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        e.join(cohorts, "user_id")
        .groupBy(
            "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset")
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


_NULLSORT_LIMIT = 100


@query(
    "q_sort_nulls_first",
    oracle=f"""
    SELECT event_id,
           nullif(event_type, 'click') AS et,
           CAST(coalesce(CAST(floor(value * 100) AS BIGINT), 0) AS BIGINT)
               AS cents
    FROM events
    ORDER BY et ASC NULLS FIRST, event_id ASC
    LIMIT {_NULLSORT_LIMIT}
    """,
)
def q_sort_nulls_first(spark, sf_dir):
    """B95: explicit NULL-ordering ranked read. Spark's default ASC sort
    places NULLs FIRST while DuckDB's places them LAST — a silent
    cross-engine divergence whenever a LIMIT rides a sort over a nullable
    key. This operator pins the semantics explicitly (``NULLS FIRST`` in
    both engines) so the kept set under LIMIT is engine-independent;
    ``nullif`` manufactures NULL keys even on fixtures whose columns are
    fully populated, and event_id breaks all ties. At 100 TB a sort+LIMIT
    is a TakeOrderedAndProject: per-partition top-k then a single merge —
    no global sort materializes."""
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        F.nullif(F.col("event_type"), F.lit("click")).alias("et"),
        F.coalesce(
            F.floor(F.col("value") * 100).cast("bigint"), F.lit(0)
        ).alias("cents"),
    )
    return ev.orderBy(
        F.col("et").asc_nulls_first(), F.col("event_id").asc()
    ).limit(_NULLSORT_LIMIT)


@query(
    "q_events_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY ts NULLS FIRST, event_id
               ) AS next_type
        FROM events
    ),
    trans AS (
        SELECT event_type AS src, next_type AS dst,
               CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    ),
    outdeg AS (
        SELECT src, CAST(sum(n) AS BIGINT) AS total FROM trans GROUP BY src
    )
    SELECT t.src, t.dst, t.n,
           CAST((1000000 * t.n) // o.total AS BIGINT) AS p_ppm
    FROM trans t JOIN outdeg o ON t.src = o.src
    """,
)
def q_events_transitions(spark, sf_dir):
    """B106: event-type transition matrix — first-order Markov estimation
    over per-user event sequences: P(next | current) in exact integer
    ppm. This is the sequence statistic behind journey analysis, anomaly
    detection on behavioral logs (improbable transitions), and simulation
    seeding — one level below B83's fixed funnel (every path, not one).
    The successor comes from lead() over the SAME (user_id; ts, event_id)
    ordering B93's sessionizer pins (NULLS FIRST explicit on both
    engines), so the per-user shuffle is shared machinery; transition
    counts partial-aggregate map-side into an |event_types|²-row matrix
    and the row-normalization join touches only that matrix. At 100 TB
    the window state is one lookahead row per user — flat memory — and
    the matrix is KB-scale regardless of corpus."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_first(), F.col("event_id").asc()
    )
    seq = table(spark, sf_dir, "events").select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    )
    trans = (
        seq.where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("src"), F.col("next_type").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    outdeg = trans.groupBy("src").agg(
        F.sum("n").cast("bigint").alias("total")
    )
    return trans.join(outdeg, "src").select(
        "src",
        "dst",
        "n",
        F.expr("CAST((1000000 * n) div total AS BIGINT)").alias("p_ppm"),
    )


@query(
    "q_events_dau_wau",
    oracle=f"""
    WITH du AS (
        SELECT DISTINCT epoch_us(ts) // {_DAY_US} AS day, user_id
        FROM events WHERE ts IS NOT NULL
    ),
    days AS (SELECT DISTINCT day FROM du),
    dau AS (
        SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY day
    ),
    wau AS (
        SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
        FROM days d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
        GROUP BY d.day
    )
    SELECT CAST(a.day AS BIGINT) AS day, a.dau, w.wau,
           CAST((1000000 * a.dau) // w.wau AS BIGINT) AS stickiness_ppm
    FROM dau a JOIN wau w ON a.day = w.day
    """,
)
def q_events_dau_wau(spark, sf_dir):
    """B108: DAU/WAU stickiness — daily active users, 7-day-trailing
    weekly actives, and their ratio in exact ppm (the engagement metric
    product analytics watches daily; WAU is EXACT rolling distinct, which
    no window frame can express because count(DISTINCT) isn't a window
    aggregate). Shape: events dedup to (day, user) pairs FIRST (the only
    corpus-scale stage, map-side partial distinct), then the 7-day range
    join runs |days| x |day-user-pairs| — day-bounded, so at 100 TB it is
    a range join over a frame already thousands of times smaller than
    the fact table, keyed to at most 7 candidate days per pair. Integer
    epoch-day floors end-to-end (B94's convention)."""
    du = (
        table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select(
            F.expr(f"unix_micros(ts) div {_DAY_US}").alias("day"), "user_id"
        )
        .distinct()
    )
    days = du.select("day").distinct().select(F.col("day").alias("d"))
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    wau = (
        days.join(
            du,
            (F.col("day") >= F.col("d") - 6) & (F.col("day") <= F.col("d")),
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, dau.day == wau.d)
        .select(
            F.col("day").cast("bigint").alias("day"),
            "dau",
            "wau",
            F.expr("CAST((1000000 * dau) div wau AS BIGINT)").alias(
                "stickiness_ppm"
            ),
        )
    )


@query(
    "q_events_hourly_profile",
    oracle="""
    WITH t AS (
        SELECT event_type,
               CAST(hour(ts) AS BIGINT) AS hod,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    )
    SELECT event_type, hod,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(sum(cents) // count(*) AS BIGINT) AS mean_cents_floor
    FROM t GROUP BY event_type, hod
    """,
)
def q_events_hourly_profile(spark, sf_dir):
    """B122: hour-of-day seasonality profile — per (event_type, hour-of-
    day): count, exact cents sum, floor-mean. The "seasonal template"
    every anomaly baseline subtracts before flagging (B104's MAD outliers
    fire on absolute deviation; real traffic deviates by HOUR, so the
    profile is the reference curve) and the capacity-planning histogram.
    hour() on a UTC-pinned session is deterministic (the session factory
    pins spark.sql.session.timeZone=UTC — same extraction both engines);
    arithmetic is the floor-cents / integer-div discipline.

    Plan: one (type, hod) rollup with map-side partials — |types|×24
    output rows, embarrassingly parallel at any scale; with the
    date-partitioned hypertable layout (DESIGN-100TB §1) the scan prunes
    to the profiled range."""
    ev = table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    t = ev.select(
        "event_type",
        F.hour("ts").cast("bigint").alias("hod"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return t.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.expr("CAST(sum(cents) div count(1) AS BIGINT)").alias(
            "mean_cents_floor"
        ),
    )


_MARKOV_STEPS = 3


def _markov_oracle() -> str:
    prs = []
    for k in range(1, _MARKOV_STEPS + 1):
        prs.append(f"""
    pr{k} AS (
        SELECT t.dst AS v,
               CAST(sum((p.p * t.n) // o.total) AS BIGINT) AS p
        FROM pr{k - 1} p
        JOIN trans t ON t.src = p.v
        JOIN outdeg o ON o.src = p.v
        GROUP BY t.dst
    )""")
    return f"""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY ts NULLS FIRST, event_id
               ) AS next_type
        FROM events
    ),
    trans AS (
        SELECT event_type AS src, next_type AS dst,
               CAST(count(*) AS BIGINT) AS n
        FROM seq
        WHERE next_type IS NOT NULL AND event_type IS NOT NULL
        GROUP BY 1, 2
    ),
    outdeg AS (
        SELECT src, CAST(sum(n) AS BIGINT) AS total FROM trans GROUP BY src
    ),
    pr0 AS (
        SELECT src AS v,
               CAST(1000000 // (SELECT count(*) FROM outdeg) AS BIGINT) AS p
        FROM outdeg
    ),{",".join(prs)}
    SELECT v AS event_type, p AS pr{_MARKOV_STEPS}_ppm FROM pr{_MARKOV_STEPS}
    """


@query("q_events_markov_stationary", oracle=_markov_oracle())
def q_events_markov_stationary(spark, sf_dir):
    """B126: stationary-distribution estimate — {_MARKOV_STEPS} power-
    iteration steps of the B106 transition matrix from a uniform start:
    where user behavior CONVERGES (the long-run share of each event
    type), vs B106's one-step conditional view; the 3-step unroll is the
    C77/C87 fixed-iteration pattern, and the difference pr3 − pr0 is the
    behavioral-drift direction.

    Exactness: all mass in integer ppm; each step floors per (source →
    dest) term — floor((p_u · n_uv) / total_u), then an exact integer
    sum — so engines cannot diverge and partial aggregation cannot
    reorder anything that matters (sum of integers commutes). Flooring
    leaks ≤|edges| ppm of mass per step — an audit quantity, not an
    error (documented over a conservation property in the test suite).

    Plan: one corpus-scale pass builds the ≤|types|²-row matrix (the
    B106 machinery verbatim); every iteration is a join among KB-scale
    frames — iteration cost independent of corpus size, the same shape
    a full PageRank would run with per-round parquet staging (C21) once
    the node set outgrows a broadcast."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_first(), "event_id"
    )
    ev = table(spark, sf_dir, "events")
    seq = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    )
    trans = (
        seq.where(
            F.col("next_type").isNotNull() & F.col("event_type").isNotNull()
        )
        .groupBy(
            F.col("event_type").alias("src"),
            F.col("next_type").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    outdeg = trans.groupBy("src").agg(
        F.sum("n").cast("bigint").alias("total")
    )
    base = trans.join(outdeg, "src").localCheckpoint(eager=True)
    n_nodes = base.select("src").distinct().count()
    pr = base.select("src").distinct().select(
        F.col("src").alias("v"),
        F.lit(1_000_000 // n_nodes).cast("bigint").alias("p"),
    )
    for _ in range(_MARKOV_STEPS):
        pr = (
            base.join(pr, base.src == pr.v)
            .select(
                F.col("dst"),
                F.expr("CAST((p * n) div total AS BIGINT)").alias("term"),
            )
            .groupBy(F.col("dst").alias("_v"))
            .agg(F.sum("term").cast("bigint").alias("p"))
            .select(F.col("_v").alias("v"), "p")
        )
    return pr.select(
        F.col("v").alias("event_type"),
        F.col("p").alias(f"pr{_MARKOV_STEPS}_ppm"),
    )


_CONV_WINDOW_US = 86_400_000_000  # attribute conversions within 1 day


@query(
    "q_events_conversion_rate",
    oracle=f"""
    WITH tagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN event_type = 'purchase' THEN ts END AS purchase_ts,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
        FROM events
        WHERE event_type IN ('click', 'purchase')
    ),
    clicks AS (
        SELECT event_id, ts,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS click_day,
               min(purchase_ts) OVER (
                   PARTITION BY user_id
                   ORDER BY ts, is_p, event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) AS next_purchase_ts
        FROM tagged
        QUALIFY event_type = 'click'
    )
    SELECT click_day,
           CAST(count(*) AS BIGINT) AS n_clicks,
           CAST(count(*) FILTER (
               next_purchase_ts IS NOT NULL
               AND epoch_us(next_purchase_ts) - epoch_us(ts)
                   <= {_CONV_WINDOW_US}) AS BIGINT) AS n_converted,
           CAST((1000000 * count(*) FILTER (
               next_purchase_ts IS NOT NULL
               AND epoch_us(next_purchase_ts) - epoch_us(ts)
                   <= {_CONV_WINDOW_US})) // count(*) AS BIGINT)
               AS conv_ppm
    FROM clicks
    GROUP BY click_day
    """,
)
def q_events_conversion_rate(spark, sf_dir):
    """B130: daily conversion rate — per click-day, the share of clicks
    followed by a purchase from the same user within 1 day, in exact
    floor-ppm: the composition B112 (forward as-of) and B125 (tolerance)
    exist to serve, rolled into the business metric itself — the
    A/B-readout / funnel-health number, with the attribution window
    making it honest (an unbounded "ever converted" rate only ever goes
    up). Same single (user_id) window pass as B112; the 1-day test is a
    scan-side exact epoch-µs comparison; the rollup is |days| rows."""
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
    clicks = (
        tagged.withColumn(
            "next_purchase_ts", F.min("purchase_ts").over(w)
        )
        .where(F.col("event_type") == "click")
        .select(
            F.expr("unix_micros(ts) div 86400000000").alias("click_day"),
            (
                F.col("next_purchase_ts").isNotNull()
                & (
                    F.expr(
                        "unix_micros(next_purchase_ts) - unix_micros(ts)"
                    )
                    <= _CONV_WINDOW_US
                )
            )
            .cast("bigint")
            .alias("converted"),
        )
    )
    return clicks.groupBy("click_day").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        F.expr(
            "CAST((1000000 * sum(converted)) div count(1) AS BIGINT)"
        ).alias("conv_ppm"),
    )


# --- B137: burst-episode detection ------------------------------------------

_BURST_RATE_MULT = 2  # a burst hour runs at >= 2x the type's average rate
_BURST_BUCKET_US = 3_600_000_000  # hourly buckets


@query(
    "q_events_burst_episodes",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type,
               CAST(epoch_us(ts) // {_BURST_BUCKET_US} AS BIGINT)
                   AS hour_idx,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events WHERE ts IS NOT NULL
        GROUP BY event_type,
                 CAST(epoch_us(ts) // {_BURST_BUCKET_US} AS BIGINT)
    ),
    tot AS (
        SELECT event_type,
               CAST(sum(cnt) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS n_hours
        FROM hourly GROUP BY event_type
    ),
    bursts AS (
        SELECT h.event_type, h.hour_idx, h.cnt
        FROM hourly h JOIN tot t
          ON h.event_type IS NOT DISTINCT FROM t.event_type
        WHERE h.cnt * t.n_hours >= {_BURST_RATE_MULT} * t.total
    ),
    isl AS (
        SELECT event_type, hour_idx, cnt,
               hour_idx - row_number() OVER (
                   PARTITION BY event_type ORDER BY hour_idx) AS grp
        FROM bursts
    )
    SELECT event_type,
           CAST(min(hour_idx) AS BIGINT) AS start_hour,
           CAST(max(hour_idx) AS BIGINT) AS end_hour,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(max(cnt) AS BIGINT) AS peak_cnt,
           CAST(sum(cnt) AS BIGINT) AS burst_events
    FROM isl GROUP BY event_type, grp
    """,
)
def q_events_burst_episodes(spark, sf_dir):
    """B137: BURST-EPISODE detection — maximal runs of consecutive clock
    hours where an event type runs at >= {_BURST_RATE_MULT}x its own
    average hourly rate, reported as episodes (start/end/peak/volume).
    The incident-shaped readout (attack windows, crawler storms, flash
    sales) that B136's gap spectrum summarizes only in aggregate and a
    per-bucket outlier test (B104) fragments into disconnected points —
    the EPISODE is the unit an on-call runbook reasons about. The rate
    test is exact integer cross-multiplication (cnt * n_hours >= mult *
    total — no float average at the threshold boundary; n_hours counts
    OBSERVED hours, so sparse types self-normalize); episode grouping is
    the islands trick on the integer hour index (unique per type, so the
    row_number order is total — the C111 lesson).

    Plan/scale: ONE events-scale shuffle (the (type, hour) rollup,
    map-side combined); totals broadcast back; the islands window rides a
    |types|-way partition over burst hours only — a frame bounded by the
    calendar, not by event volume."""
    hourly = (
        table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select(
            "event_type",
            F.expr(f"unix_micros(ts) div {_BURST_BUCKET_US}").alias(
                "hour_idx"
            ),
        )
        .groupBy("event_type", "hour_idx")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    tot = (
        hourly.groupBy("event_type")
        .agg(
            F.sum("cnt").cast("bigint").alias("total"),
            F.count(F.lit(1)).cast("bigint").alias("n_hours_t"),
        )
        .withColumnRenamed("event_type", "t_type")
    )
    bursts = hourly.join(
        F.broadcast(tot),
        F.col("event_type").eqNullSafe(F.col("t_type")),
    ).where(
        F.col("cnt") * F.col("n_hours_t")
        >= _BURST_RATE_MULT * F.col("total")
    )
    w = Window.partitionBy("event_type").orderBy("hour_idx")
    isl = bursts.withColumn(
        "grp", F.col("hour_idx") - F.row_number().over(w)
    )
    return (
        isl.groupBy("event_type", "grp")
        .agg(
            F.min("hour_idx").cast("bigint").alias("start_hour"),
            F.max("hour_idx").cast("bigint").alias("end_hour"),
            F.count(F.lit(1)).cast("bigint").alias("n_hours"),
            F.max("cnt").cast("bigint").alias("peak_cnt"),
            F.sum("cnt").cast("bigint").alias("burst_events"),
        )
        .drop("grp")
    )


_KS_TYPE_A = "click"
_KS_TYPE_B = "purchase"


@query(
    "q_events_ks_test",
    oracle=f"""
    WITH s AS (
        SELECT value,
               CASE WHEN event_type = '{_KS_TYPE_A}' THEN 1 ELSE 0 END AS is_a,
               CASE WHEN event_type = '{_KS_TYPE_B}' THEN 1 ELSE 0 END AS is_b
        FROM events
        WHERE event_type IN ('{_KS_TYPE_A}', '{_KS_TYPE_B}')
          AND value IS NOT NULL
    ),
    v AS (
        SELECT value,
               CAST(sum(is_a) AS BIGINT) AS na_here,
               CAST(sum(is_b) AS BIGINT) AS nb_here
        FROM s GROUP BY value
    ),
    cum AS (
        SELECT value,
               sum(na_here) OVER w AS ca,
               sum(nb_here) OVER w AS cb
        FROM v WINDOW w AS (ORDER BY value
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    tot AS (
        SELECT CAST(sum(na_here) AS BIGINT) AS n_a,
               CAST(sum(nb_here) AS BIGINT) AS n_b
        FROM v
    ),
    gaps AS (
        SELECT c.value, t.n_a, t.n_b,
               abs(c.ca * t.n_b - c.cb * t.n_a) AS gap
        FROM cum c CROSS JOIN tot t
    )
    SELECT n_a, n_b,
           CAST(max(gap) AS BIGINT) AS ks_num,
           CAST((1000000 * max(gap)) // (n_a * n_b) AS BIGINT) AS ks_ppm,
           min(value) FILTER (
               WHERE gap = (SELECT max(gap) FROM gaps)) AS at_value
    FROM gaps GROUP BY n_a, n_b
    """,
)
def q_events_ks_test(spark, sf_dir):
    """B144: two-sample Kolmogorov-Smirnov statistic — the largest gap
    between the empirical CDFs of '{_KS_TYPE_A}' and '{_KS_TYPE_B}' event
    values. The distribution-shape companion to B142 (mean shift) and
    B120 (categorical composition): KS sees ANY distributional change,
    parameter-free. Kept exact the B139 way: D = max|F_a - F_b| is
    computed as integer cross-products max|c_a*n_b - c_b*n_a| over the
    pooled DISTINCT values (ties collapse identically on both engines
    because the ECDF steps are grouped by value BEFORE the cumulative
    window — and distinct values are a total order, the C111 rule), with
    ks_ppm an integer floor-div. at_value reports the smallest value
    attaining the max (deterministic tie-break); it is a raw fixture
    double, never arithmetic output.

    Plan/scale: one events-scale groupBy(value) with map-side combine,
    then the B104/B118 distributed-prefix-sum shape via
    :func:`global_running_sums` — range-repartition on value, per-range
    cumulative windows, broadcast offset join — so NO single-partition
    window exists even though the ECDF is global. The window input is
    |distinct values|, not |events| (if value cardinality ever approached
    event cardinality the ECDF would be pre-bucketed first, the B82
    histogram pattern); the final frame is ONE row."""
    s = (
        table(spark, sf_dir, "events")
        .where(
            F.col("event_type").isin(_KS_TYPE_A, _KS_TYPE_B)
            & F.col("value").isNotNull()
        )
        .select(
            "value",
            F.when(F.col("event_type") == _KS_TYPE_A, 1).otherwise(0).alias("is_a"),
            F.when(F.col("event_type") == _KS_TYPE_B, 1).otherwise(0).alias("is_b"),
        )
    )
    v = s.groupBy("value").agg(
        F.sum("is_a").cast("bigint").alias("na_here"),
        F.sum("is_b").cast("bigint").alias("nb_here"),
    )
    # Round 14 (guide §2.4): the per-distinct-value histogram feeds the
    # prefix-sum pass (run + counts branches) and the totals; the gap
    # frame below feeds the max rollup and the argmax re-join. Both are
    # histogram-bounded, and without the lineage cuts each reference
    # replanted the events scan + rollup (24 Exchanges planned).
    v = v.localCheckpoint(eager=True)
    cum = global_running_sums(
        v, [F.col("value").asc()], {"ca": "na_here", "cb": "nb_here"}
    ).select("value", "ca", "cb")
    tot = v.agg(
        F.sum("na_here").cast("bigint").alias("n_a"),
        F.sum("nb_here").cast("bigint").alias("n_b"),
    )
    gaps = cum.crossJoin(F.broadcast(tot)).select(
        "value",
        "n_a",
        "n_b",
        F.abs(F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a")).alias(
            "gap"
        ),
    ).localCheckpoint(eager=True)
    mx = gaps.groupBy("n_a", "n_b").agg(
        F.max("gap").cast("bigint").alias("ks_num"),
        F.expr("CAST((1000000 * max(gap)) div (n_a * n_b) AS BIGINT)").alias(
            "ks_ppm"
        ),
    )
    return (
        gaps.join(F.broadcast(mx), ["n_a", "n_b"])
        .where(F.col("gap") == F.col("ks_num"))
        .groupBy("n_a", "n_b", "ks_num", "ks_ppm")
        .agg(F.min("value").alias("at_value"))
        .select("n_a", "n_b", "ks_num", "ks_ppm", "at_value")
    )


@query(
    "q_events_mannwhitney",
    oracle=f"""
    WITH s AS (
        SELECT value,
               CASE WHEN event_type = '{_KS_TYPE_A}' THEN 1 ELSE 0 END AS is_a,
               CASE WHEN event_type = '{_KS_TYPE_B}' THEN 1 ELSE 0 END AS is_b
        FROM events
        WHERE event_type IN ('{_KS_TYPE_A}', '{_KS_TYPE_B}')
          AND value IS NOT NULL
    ),
    v AS (
        SELECT value,
               CAST(count(*) AS BIGINT) AS m,
               CAST(sum(is_a) AS BIGINT) AS na_here
        FROM s GROUP BY value
    ),
    cum AS (
        SELECT value, m, na_here,
               sum(m) OVER (ORDER BY value
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum_m
        FROM v
    ),
    agg AS (
        SELECT CAST(sum(na_here) AS BIGINT) AS n_a,
               CAST(sum(m) - sum(na_here) AS BIGINT) AS n_b,
               CAST(sum(m) AS BIGINT) AS n,
               CAST(sum(na_here * (2 * cum_m - m + 1)) AS BIGINT) AS r2_a,
               CAST(sum(m * m * m - m) AS BIGINT) AS tie_cubes
        FROM cum
    )
    SELECT n_a, n_b,
           CAST(2 * n_a * n_b + n_a * (n_a + 1) - r2_a AS BIGINT) AS u2_a,
           round((CAST(2 * n_a * n_b + n_a * (n_a + 1) - r2_a AS DOUBLE) / 2.0
                  - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
                 / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
                        * (CAST(n + 1 AS DOUBLE)
                           - CAST(tie_cubes AS DOUBLE)
                             / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))),
                 6) AS z_score
    FROM agg
    """,
)
def q_events_mannwhitney(spark, sf_dir):
    """B147: Mann-Whitney U (Wilcoxon rank-sum) — the nonparametric
    location test beside B142 (parametric means) and B144 (full-shape
    KS): does '{_KS_TYPE_A}' stochastically dominate '{_KS_TYPE_B}'?
    Exactness discipline: ranks never materialize per row — the
    tie-averaged rank of a value group is the rational (2*cum_m - m +
    1)/2, so TWICE the rank sum (r2_a) is a pure integer aggregate over
    the per-value rollup, as is the tie-correction term sum(m^3 - m);
    2*U_a is then an integer identity and the normal-approximation
    z-score (with tie-corrected variance) is ONE fixed float expression
    over five exact scalars, round(6) — the B142/B143 pattern. The
    cumulative pooled count rides :func:`global_running_sums` (B144's
    range-partitioned prefix sum), so no partitionless window exists.

    Plan/scale: one events-scale groupBy(value) with map-side combine,
    one distributed prefix sum over |distinct values|, one 1-row
    aggregate. Identical shape to B144 — the two tests share a scan in
    a real pipeline."""
    s = (
        table(spark, sf_dir, "events")
        .where(
            F.col("event_type").isin(_KS_TYPE_A, _KS_TYPE_B)
            & F.col("value").isNotNull()
        )
        .select(
            "value",
            F.when(F.col("event_type") == _KS_TYPE_A, 1).otherwise(0).alias("is_a"),
        )
    )
    v = s.groupBy("value").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("is_a").cast("bigint").alias("na_here"),
    )
    cum = global_running_sums(v, [F.col("value").asc()], {"cum_m": "m"})
    agg = cum.agg(
        F.sum("na_here").cast("bigint").alias("n_a"),
        (F.sum("m") - F.sum("na_here")).cast("bigint").alias("n_b"),
        F.sum("m").cast("bigint").alias("n"),
        F.sum(
            F.col("na_here") * (2 * F.col("cum_m") - F.col("m") + 1)
        )
        .cast("bigint")
        .alias("r2_a"),
        F.sum(
            F.col("m") * F.col("m") * F.col("m") - F.col("m")
        )
        .cast("bigint")
        .alias("tie_cubes"),
    )
    u2 = (
        2 * F.col("n_a") * F.col("n_b")
        + F.col("n_a") * (F.col("n_a") + 1)
        - F.col("r2_a")
    ).cast("bigint")
    nad = F.col("n_a").cast("double")
    nbd = F.col("n_b").cast("double")
    nd = F.col("n").cast("double")
    return agg.select(
        "n_a",
        "n_b",
        u2.alias("u2_a"),
        F.round(
            (u2.cast("double") / 2.0 - nad * nbd / 2.0)
            / F.sqrt(
                nad
                * nbd
                / 12.0
                * (
                    (nd + 1)
                    - F.col("tie_cubes").cast("double") / (nd * (nd - 1))
                )
            ),
            6,
        ).alias("z_score"),
    )


_KM_START = "signup"
_KM_EVENT = "purchase"


@query(
    "q_events_survival",
    oracle=f"""
    WITH starts AS (
        SELECT user_id, min(epoch_us(ts)) AS t0
        FROM events WHERE event_type = '{_KM_START}'
        GROUP BY user_id
    ),
    ev AS (
        SELECT s.user_id, s.t0,
               min(epoch_us(e.ts)) FILTER (
                   WHERE e.event_type = '{_KM_EVENT}'
                     AND epoch_us(e.ts) >= s.t0) AS tp,
               max(epoch_us(e.ts)) AS tlast
        FROM starts s JOIN events e ON e.user_id = s.user_id
        GROUP BY s.user_id, s.t0
    ),
    durations AS (
        SELECT user_id,
               CASE WHEN tp IS NOT NULL
                    THEN (tp - t0) // {_DAY_US}
                    ELSE (tlast - t0) // {_DAY_US} END AS dur,
               CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS observed
        FROM ev
    ),
    steps AS (
        SELECT dur,
               CAST(count(*) AS BIGINT) AS m,
               CAST(sum(observed) AS BIGINT) AS n_events
        FROM durations GROUP BY dur
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM durations),
    cum AS (
        SELECT dur, m, n_events,
               sum(m) OVER (ORDER BY dur
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum_m
        FROM steps
    ),
    hazard AS (
        SELECT c.dur, c.m, c.n_events,
               t.n_users - (c.cum_m - c.m) AS n_at_risk,
               CASE WHEN c.n_events = 0 THEN 0
                    WHEN c.n_events = t.n_users - (c.cum_m - c.m) THEN NULL
                    ELSE CAST(round(1000000 * ln(
                        1.0 - CAST(c.n_events AS DOUBLE)
                            / CAST(t.n_users - (c.cum_m - c.m) AS DOUBLE)))
                        AS BIGINT) END AS ln_q
        FROM cum c CROSS JOIN tot t
    )
    SELECT dur AS duration_day,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           n_events,
           CAST(m - n_events AS BIGINT) AS n_censored,
           CASE WHEN count(ln_q) OVER w < count(*) OVER w THEN 0.0
                ELSE round(exp(CAST(sum(ln_q) OVER w AS DOUBLE)
                               / 1000000.0), 6) END AS survival
    FROM hazard
    WINDOW w AS (ORDER BY dur
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q_events_survival(spark, sf_dir):
    """B149: Kaplan-Meier survival curve — time from first '{_KM_START}'
    to first subsequent '{_KM_EVENT}' per user, right-censored at the
    user's last observed event. The product-limit estimator S(d) =
    prod(1 - d_i/n_i) opens the survival/churn family (nothing in
    B93-B148 models censoring). Cross-engine exactness for a cumulative
    PRODUCT of rationals — the hardest float shape yet — via the B143
    log-quantization identity: each step's ln(1 - d/n) is ONE float
    expression over two exact integers, quantized to integer micro-nats
    per STEP (boundaries ~1e6 ulps away), so the cumulative sum is pure
    BIGINT and S is one exp() over an exact integer, round(6). A step
    that exhausts the risk set (d_i = n_i) sends ln to -inf: both
    engines emit survival 0 from that step on via an explicit NULL
    sentinel + count guard, never an inf crossing the bridge.

    Plan/scale: two user-keyed rollups (starts, first-event/censor
    fold), one |distinct durations| rollup, then the B144 distributed
    prefix-sum shape (:func:`global_running_sums` twice — user counts
    and quantized hazards) — no partitionless window, no per-row state.
    At 100 TB the curve's window input is |distinct durations| (~1e4
    days at day grain), not |users|."""
    e_us = F.unix_micros("ts")
    ev = table(spark, sf_dir, "events")
    starts = (
        ev.where(F.col("event_type") == _KM_START)
        .groupBy("user_id")
        .agg(F.min(e_us).alias("t0"))
    )
    folded = (
        ev.join(starts, "user_id")
        .groupBy("user_id", "t0")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == _KM_EVENT)
                    & (e_us >= F.col("t0")),
                    e_us,
                )
            ).alias("tp"),
            F.max(e_us).alias("tlast"),
        )
    )
    durations = folded.select(
        F.when(
            F.col("tp").isNotNull(),
            F.expr(f"(tp - t0) div {_DAY_US}"),
        )
        .otherwise(F.expr(f"(tlast - t0) div {_DAY_US}"))
        .alias("dur"),
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("observed"),
    )
    steps = durations.groupBy("dur").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("observed").cast("bigint").alias("n_events"),
    )
    # Round 14 (guide §2.4): everything below operates on |distinct
    # durations| rows (~1e4 at day grain, corpus-size-independent — the
    # docstring's scale argument), but it references `steps` through two
    # chained global_running_sums whose run/counts/offset branches each
    # replant the events-scale starts+fold subtree (55 Exchanges planned,
    # 37 jobs executed). One eager checkpoint of the tiny step table runs
    # the events-scale work exactly once.
    steps = steps.localCheckpoint(eager=True)
    tot = steps.agg(F.sum("m").cast("bigint").alias("n_users"))
    cum = global_running_sums(steps, [F.col("dur").asc()], {"cum_m": "m"})
    at_risk = F.col("n_users") - (F.col("cum_m") - F.col("m"))
    hazard = cum.crossJoin(F.broadcast(tot)).select(
        "dur",
        "m",
        "n_events",
        at_risk.cast("bigint").alias("n_at_risk"),
        F.when(F.col("n_events") == 0, F.lit(0).cast("bigint"))
        .when(F.col("n_events") == at_risk, F.lit(None).cast("bigint"))
        .otherwise(
            F.expr(
                "CAST(round(1000000 * ln(1.0 - CAST(n_events AS DOUBLE) "
                "/ CAST(n_at_risk AS DOUBLE))) AS BIGINT)"
            )
        )
        .alias("ln_q"),
    )
    # Same O(|durations|) lineage cut before the second prefix-sum pass
    # (its run/counts branches would otherwise replant the whole first
    # pass per reference); the range sampling inside each pass stays
    # within one action, so rank/offset consistency is untouched.
    hazard = hazard.localCheckpoint(eager=True)
    # cumulative quantized log-hazard + a cumulative NULL detector: once
    # any step exhausted the risk set, survival is 0 forever after.
    cum2 = global_running_sums(
        hazard.withColumn(
            "is_null", F.when(F.col("ln_q").isNull(), 1).otherwise(0)
        ).withColumn("ln_q0", F.coalesce(F.col("ln_q"), F.lit(0))),
        [F.col("dur").asc()],
        {"cum_lnq": "ln_q0", "cum_null": "is_null"},
    )
    return cum2.select(
        F.col("dur").alias("duration_day"),
        "n_at_risk",
        "n_events",
        (F.col("m") - F.col("n_events")).cast("bigint").alias("n_censored"),
        F.when(F.col("cum_null") > 0, F.lit(0.0))
        .otherwise(
            F.round(F.exp(F.col("cum_lnq").cast("double") / 1000000.0), 6)
        )
        .alias("survival"),
    )


@query(
    "q_events_kruskal",
    oracle="""
    WITH s AS (
        SELECT event_type AS g, value AS x
        FROM events
        WHERE event_type IS NOT NULL AND value IS NOT NULL
    ),
    v AS (
        SELECT x, CAST(count(*) AS BIGINT) AS m FROM s GROUP BY x
    ),
    cum AS (
        SELECT x, m,
               sum(m) OVER (ORDER BY x
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum_m
        FROM v
    ),
    gv AS (
        SELECT g, x, CAST(count(*) AS BIGINT) AS cnt FROM s GROUP BY g, x
    ),
    per_g AS (
        SELECT gv.g,
               CAST(sum(gv.cnt) AS BIGINT) AS n_g,
               CAST(sum(CAST(gv.cnt AS HUGEINT)
                        * (2 * c.cum_m - c.m + 1)) AS HUGEINT) AS r2_g
        FROM gv JOIN cum c ON gv.x = c.x
        GROUP BY gv.g
    ),
    qs AS (
        SELECT g, n_g, r2_g,
               CAST(floor(CAST(r2_g AS DOUBLE) * CAST(r2_g AS DOUBLE)
                          / (4.0 * CAST(n_g AS DOUBLE))) AS HUGEINT) AS q_g
        FROM per_g
    ),
    ties AS (
        SELECT CAST(sum(CAST(m AS HUGEINT) * m * m - m) AS HUGEINT) AS t
        FROM v
    ),
    tot AS (
        SELECT CAST(sum(n_g) AS HUGEINT) AS n,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum(q_g) AS HUGEINT) AS sq
        FROM qs
    )
    SELECT CAST(tot.n AS BIGINT) AS n,
           tot.k AS n_groups,
           CAST(ties.t AS BIGINT) AS tie_cubes,
           round((12.0 * CAST(tot.sq AS DOUBLE)
                  / (CAST(tot.n AS DOUBLE) * (CAST(tot.n AS DOUBLE) + 1.0))
                  - 3.0 * (CAST(tot.n AS DOUBLE) + 1.0))
                 * (CAST(tot.n AS DOUBLE) * CAST(tot.n AS DOUBLE)
                    * CAST(tot.n AS DOUBLE) - CAST(tot.n AS DOUBLE))
                 / nullif(CAST(tot.n AS DOUBLE) * CAST(tot.n AS DOUBLE)
                          * CAST(tot.n AS DOUBLE) - CAST(tot.n AS DOUBLE)
                          - CAST(ties.t AS DOUBLE), 0.0),
                 6) AS h_stat
    FROM tot CROSS JOIN ties
    """,
)
def q_events_kruskal(spark, sf_dir):
    """B153: Kruskal-Wallis H — the k-group generalization of B147's
    Mann-Whitney (does ANY of the five event types shift `value`'s
    location?), with tie-corrected statistic. Completes the rank-test
    family: B147 two-group location, B144 two-group shape, B153 k-group
    omnibus.

    Exactness discipline (the B147 pattern stretched to k groups): ranks
    never materialize per row. TWICE the rank sum of group g is the pure
    integer aggregate r2_g = sum over value-cells of cnt_g(x) *
    (2*cum_m(x) - m(x) + 1) via the pooled distributed prefix sum; the
    per-group rational R_g^2/n_g = r2_g^2/(4*n_g) is floor-quantized to
    an integer through ONE double division evaluated identically on both
    engines (the D14/B143 quantized-accumulation discipline — sum of
    quantized integers commutes, so partial aggregation cannot reorder
    anything); H with tie correction is then ONE fixed float expression
    over five exact scalars, round(6).

    Plan/scale: one events-scale groupBy(value) + one groupBy(g, value)
    with map-side combine, one distributed prefix sum over |distinct
    values| (:func:`global_running_sums` — no partitionless window), a
    k-row broadcast-size tail. Same shape as B144/B147, so all three
    tests share the pooled rollup in a real pipeline."""
    s = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isNotNull() & F.col("value").isNotNull())
        .select(F.col("event_type").alias("g"), F.col("value").alias("x"))
    )
    v = s.groupBy("x").agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    cum = global_running_sums(v, [F.col("x").asc()], {"cum_m": "m"})
    gv = s.groupBy("g", "x").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    per_g = (
        gv.join(cum, "x")
        .groupBy("g")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_g"),
            F.sum(
                F.col("cnt").cast("decimal(38,0)")
                * (2 * F.col("cum_m") - F.col("m") + 1)
            )
            .cast("decimal(38,0)")
            .alias("r2_g"),
        )
    )
    r2d = F.col("r2_g").cast("double")
    qs = per_g.select(
        "g",
        "n_g",
        F.floor(r2d * r2d / (F.lit(4.0) * F.col("n_g").cast("double")))
        .cast("decimal(38,0)")
        .alias("q_g"),
    )
    ties = v.agg(
        F.sum(
            F.col("m").cast("decimal(38,0)") * F.col("m") * F.col("m")
            - F.col("m")
        )
        .cast("decimal(38,0)")
        .alias("t")
    )
    tot = qs.agg(
        F.sum("n_g").cast("decimal(38,0)").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("q_g").cast("decimal(38,0)").alias("sq"),
    )
    nd = F.col("n").cast("double")
    td = F.col("t").cast("double")
    h = (
        (
            F.lit(12.0) * F.col("sq").cast("double") / (nd * (nd + F.lit(1.0)))
            - F.lit(3.0) * (nd + F.lit(1.0))
        )
        * (nd * nd * nd - nd)
        / F.nullif(nd * nd * nd - nd - td, F.lit(0.0))
    )
    return tot.crossJoin(F.broadcast(ties)).select(
        F.col("n").cast("bigint").alias("n"),
        F.col("k").alias("n_groups"),
        F.col("t").cast("bigint").alias("tie_cubes"),
        F.round(h, 6).alias("h_stat"),
    )


@query(
    "q_events_anova",
    oracle="""
    WITH s AS (
        SELECT event_type AS g,
               CAST(floor(100.0 * value + 0.5) AS BIGINT) AS xq
        FROM events
        WHERE event_type IS NOT NULL AND value IS NOT NULL
    ),
    per_g AS (
        SELECT g,
               CAST(count(*) AS BIGINT) AS n_g,
               CAST(sum(CAST(xq AS HUGEINT)) AS HUGEINT) AS s_g,
               CAST(sum(CAST(xq AS HUGEINT) * xq) AS HUGEINT) AS s2_g
        FROM s GROUP BY g
    ),
    qs AS (
        SELECT g, n_g, s_g, s2_g,
               CAST(floor(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                          / CAST(n_g AS DOUBLE)) AS HUGEINT) AS q_g
        FROM per_g
    ),
    tot AS (
        SELECT CAST(sum(n_g) AS HUGEINT) AS n,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum(s_g) AS HUGEINT) AS s,
               CAST(sum(s2_g) AS HUGEINT) AS s2,
               CAST(sum(q_g) AS HUGEINT) AS gq
        FROM qs
    )
    SELECT CAST(n AS BIGINT) AS n,
           k AS n_groups,
           round((CAST(gq AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                 / nullif(CAST(k AS DOUBLE) - 1.0, 0.0)
                 / nullif((CAST(s2 AS DOUBLE) - CAST(gq AS DOUBLE))
                          / nullif(CAST(n AS DOUBLE) - CAST(k AS DOUBLE), 0.0),
                          0.0),
                 6) AS f_stat,
           round((CAST(gq AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                 / nullif(CAST(s2 AS DOUBLE)
                          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                            / CAST(n AS DOUBLE),
                          0.0),
                 6) AS eta_sq
    FROM tot
    """,
)
def q_events_anova(spark, sf_dir):
    """B154: one-way ANOVA — F statistic and effect size eta^2 of
    `value` across the five event types; the parametric omnibus beside
    B153's rank-based Kruskal-Wallis and B142's two-group Welch t.

    Exactness discipline: `value` is quantized once to integer cents
    via floor(100*x + 0.5) (round-half-up spelled as floor — both
    engines' round() disagree on ties-to-even vs away-from-zero, floor
    never does); every sum/sum-of-squares is then an exact wide-integer
    aggregate (DECIMAL(38,0)/HUGEINT — the square of a hostile 1e8-cent
    value needs 128 bits, the r8 adversarial-magnitude rule; cents — not
    finer — keep the floored per-group quotient S_g^2/n_g inside BIGINT,
    since floor(double) lands in a LONG on the Spark side).
    The per-group S_g^2/n_g rational is floor-quantized through ONE
    double division (B153's discipline), so SSB = GQ - S^2/N and SSW =
    S2 - GQ reduce to fixed float expressions over five exact scalars;
    F and eta^2 are round(6) with zero-variance/one-group NULL guards.
    The quantization scale cancels in both ratios.

    Plan/scale: one events-scale groupBy(g) with map-side combine into
    k rows, then constant-size arithmetic. The cheapest of the stats
    family — no prefix sum, no value-level rollup."""
    s = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isNotNull() & F.col("value").isNotNull())
        .select(
            F.col("event_type").alias("g"),
            F.floor(F.lit(100.0) * F.col("value") + F.lit(0.5))
            .cast("bigint")
            .alias("xq"),
        )
    )
    xd = F.col("xq").cast("decimal(38,0)")
    per_g = s.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum(xd).cast("decimal(38,0)").alias("s_g"),
        F.sum(xd * F.col("xq")).cast("decimal(38,0)").alias("s2_g"),
    )
    sgd = F.col("s_g").cast("double")
    qs = per_g.select(
        "g",
        "n_g",
        "s_g",
        "s2_g",
        F.floor(sgd * sgd / F.col("n_g").cast("double"))
        .cast("decimal(38,0)")
        .alias("q_g"),
    )
    tot = qs.agg(
        F.sum("n_g").cast("decimal(38,0)").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("s_g").cast("decimal(38,0)").alias("s"),
        F.sum("s2_g").cast("decimal(38,0)").alias("s2"),
        F.sum("q_g").cast("decimal(38,0)").alias("gq"),
    )
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    sd = F.col("s").cast("double")
    s2d = F.col("s2").cast("double")
    gqd = F.col("gq").cast("double")
    ssb = gqd - sd * sd / nd
    f_stat = (
        ssb
        / F.nullif(kd - F.lit(1.0), F.lit(0.0))
        / F.nullif(
            (s2d - gqd) / F.nullif(nd - kd, F.lit(0.0)), F.lit(0.0)
        )
    )
    eta = ssb / F.nullif(s2d - sd * sd / nd, F.lit(0.0))
    return tot.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("k").alias("n_groups"),
        F.round(f_stat, 6).alias("f_stat"),
        F.round(eta, 6).alias("eta_sq"),
    )


@query(
    "q_events_spearman",
    oracle="""
    WITH s AS (
        SELECT event_type AS g, value AS x,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS y
        FROM events
        WHERE event_type IS NOT NULL AND value IS NOT NULL
          AND CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
    ),
    vx AS (SELECT g, x, CAST(count(*) AS BIGINT) AS m FROM s GROUP BY g, x),
    cx AS (
        SELECT g, x, m,
               sum(m) OVER (PARTITION BY g ORDER BY x
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
        FROM vx
    ),
    rx AS (SELECT g, x, (2 * cum - m + 1) AS u FROM cx),
    vy AS (SELECT g, y, CAST(count(*) AS BIGINT) AS m FROM s GROUP BY g, y),
    cy AS (
        SELECT g, y, m,
               sum(m) OVER (PARTITION BY g ORDER BY y
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
        FROM vy
    ),
    ry AS (SELECT g, y, (2 * cum - m + 1) AS v FROM cy),
    j AS (
        SELECT s.g, rx.u AS u, ry.v AS v
        FROM s
        JOIN rx ON s.g = rx.g AND s.x = rx.x
        JOIN ry ON s.g = ry.g AND s.y = ry.y
    ),
    mo AS (
        SELECT g,
               CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(CAST(u AS HUGEINT)) AS HUGEINT) AS su,
               CAST(sum(CAST(v AS HUGEINT)) AS HUGEINT) AS sv,
               CAST(sum(CAST(u AS HUGEINT) * u) AS HUGEINT) AS su2,
               CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS sv2,
               CAST(sum(CAST(u AS HUGEINT) * v) AS HUGEINT) AS suv
        FROM j GROUP BY g
    )
    SELECT g AS event_type,
           CAST(n AS BIGINT) AS n,
           round((CAST(n AS DOUBLE) * CAST(suv AS DOUBLE)
                  - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE))
                 / nullif(sqrt((CAST(n AS DOUBLE) * CAST(su2 AS DOUBLE)
                                - CAST(su AS DOUBLE) * CAST(su AS DOUBLE))
                               * (CAST(n AS DOUBLE) * CAST(sv2 AS DOUBLE)
                                  - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))),
                          0.0),
                 6) AS rho
    FROM mo
    """,
)
def q_events_spearman(spark, sf_dir):
    """B155: Spearman rank correlation per event type between `value`
    and the JSON payload's `k` — the monotone-association companion to
    B139's Pearson-style moments: is the payload knob driving the
    metric, in any monotone way, within each event family?

    Exactness discipline: midranks never materialize as halves — TWICE
    the midrank of a tied cell is the integer 2*cum - m + 1 off a
    per-group value-level rollup (B147's identity, partitioned here, so
    a plain window with a total in-partition order suffices — no
    partitionless sort); rho is Pearson on the doubled ranks (the
    doubling cancels), so all five moments are exact wide-integer
    aggregates and rho is ONE float expression per group, round(6),
    with a zero-variance NULL guard.

    Plan/scale: two groupBy(g, value-cell) rollups + two broadcast-size
    per-group windows + one row-level join back on (g, cell) — hash
    exchanges only, bounded by |distinct cells|; the join back to rows
    is the only events-scale shuffle. JSON parity with the B34 family:
    get_json_object vs json_extract_string, both NULL on missing key,
    '{}' and malformed payloads."""
    y = F.get_json_object("props", "$.k").cast("bigint")
    s = (
        table(spark, sf_dir, "events")
        .where(
            F.col("event_type").isNotNull()
            & F.col("value").isNotNull()
            & y.isNotNull()
        )
        .select(
            F.col("event_type").alias("g"),
            F.col("value").alias("x"),
            y.alias("y"),
        )
    )
    wx = Window.partitionBy("g").orderBy(F.col("x").asc())
    rx = (
        s.groupBy("g", "x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("m"))
        .withColumn(
            "cum",
            F.sum("m").over(wx.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .select("g", "x", (2 * F.col("cum") - F.col("m") + 1).alias("u"))
    )
    wy = Window.partitionBy("g").orderBy(F.col("y").asc())
    ry = (
        s.groupBy("g", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("m"))
        .withColumn(
            "cum",
            F.sum("m").over(wy.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .select("g", "y", (2 * F.col("cum") - F.col("m") + 1).alias("v"))
    )
    j = s.join(rx, ["g", "x"]).join(ry, ["g", "y"]).select("g", "u", "v")
    ud = F.col("u").cast("decimal(38,0)")
    vd = F.col("v").cast("decimal(38,0)")
    mo = j.groupBy("g").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(ud).cast("decimal(38,0)").alias("su"),
        F.sum(vd).cast("decimal(38,0)").alias("sv"),
        F.sum(ud * F.col("u")).cast("decimal(38,0)").alias("su2"),
        F.sum(vd * F.col("v")).cast("decimal(38,0)").alias("sv2"),
        F.sum(ud * F.col("v")).cast("decimal(38,0)").alias("suv"),
    )
    nd = F.col("n").cast("double")
    sud = F.col("su").cast("double")
    svd = F.col("sv").cast("double")
    su2d = F.col("su2").cast("double")
    sv2d = F.col("sv2").cast("double")
    suvd = F.col("suv").cast("double")
    rho = (nd * suvd - sud * svd) / F.nullif(
        F.sqrt((nd * su2d - sud * sud) * (nd * sv2d - svd * svd)),
        F.lit(0.0),
    )
    return mo.select(
        F.col("g").alias("event_type"),
        F.col("n").cast("bigint").alias("n"),
        F.round(rho, 6).alias("rho"),
    )


def _entropy_rate_oracle() -> str:
    prs = []
    for k in range(1, 4):
        prs.append(f"""
    pr{k} AS (
        SELECT t.dst AS v,
               CAST(sum((p.p * t.n) // o.total) AS BIGINT) AS p
        FROM pr{k - 1} p
        JOIN trans t ON t.src = p.v
        JOIN outdeg o ON o.src = p.v
        GROUP BY t.dst
    )""")
    return f"""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY ts NULLS FIRST, event_id
               ) AS next_type
        FROM events
    ),
    trans AS MATERIALIZED (
        SELECT event_type AS src, next_type AS dst,
               CAST(count(*) AS BIGINT) AS n
        FROM seq
        WHERE next_type IS NOT NULL AND event_type IS NOT NULL
        GROUP BY 1, 2
    ),
    outdeg AS MATERIALIZED (
        SELECT src, CAST(sum(n) AS BIGINT) AS total FROM trans GROUP BY src
    ),
    pr0 AS (
        SELECT src AS v,
               CAST(1000000 // (SELECT count(*) FROM outdeg) AS BIGINT) AS p
        FROM outdeg
    ),{",".join(prs)},
    terms AS (
        SELECT CAST(sum(
                   (CAST(pi.p AS HUGEINT) * t.n
                    * (CAST(round(1000000 * ln(o.total)) AS BIGINT)
                       - CAST(round(1000000 * ln(t.n)) AS BIGINT)))
                   // o.total
               ) AS HUGEINT) AS mass
        FROM trans t
        JOIN outdeg o ON t.src = o.src
        JOIN pr3 pi ON t.src = pi.v
    )
    SELECT CAST(mass AS BIGINT) AS entropy_mass_micro2,
           round(CAST(mass AS BIGINT) / 1000000000000.0, 6)
               AS entropy_rate_nats
    FROM terms
    """


@query("q_events_entropy_rate", oracle=_entropy_rate_oracle())
def q_events_entropy_rate(spark, sf_dir):
    """B160: Markov-chain entropy rate of user behavior — H = -sum_i
    pi_i sum_j P_ij ln P_ij over the B106 transition matrix with B126's
    3-step power-iteration stationary estimate as pi: how PREDICTABLE
    is the next event given the current one, in nats per step? The
    one-number summary that says whether a session model is worth
    building (low rate: behavior is near-deterministic; high rate:
    next-event modeling caps out fast). Composes three pinned
    primitives: B106's exact transition counts, B126's integer-ppm
    stationary lattice, and D14's micro-nat ln quantization.

    Exactness: per (i, j) the term pi_i * (n_ij/total_i) * (ln
    total_i - ln n_ij) is evaluated as an all-integer product (ppm x
    count x micro-nat difference) followed by ONE truncating division
    by total_i (D7-pinned), summed as exact wide integers; the nats
    value is one float division, round(6). The exact micro^2-scaled
    mass rides along as the audit column.

    Plan/scale: the transition rollup is the only events-scale job
    (shared with B106/B126 in a pipeline); the iteration and entropy
    frames are |types|^2 rows."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_first(), "event_id"
    )
    ev = table(spark, sf_dir, "events")
    seq = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    )
    trans = (
        seq.where(
            F.col("next_type").isNotNull() & F.col("event_type").isNotNull()
        )
        .groupBy(
            F.col("event_type").alias("src"),
            F.col("next_type").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    outdeg = trans.groupBy("src").agg(
        F.sum("n").cast("bigint").alias("total")
    )
    base = trans.join(outdeg, "src").localCheckpoint(eager=True)
    n_nodes = base.select("src").distinct().count()
    pr = base.select("src").distinct().select(
        F.col("src").alias("v"),
        F.lit(1_000_000 // n_nodes).cast("bigint").alias("p"),
    )
    for _ in range(3):
        pr = (
            base.join(pr, base.src == pr.v)
            .select(
                F.col("dst"),
                F.expr("CAST((p * n) div total AS BIGINT)").alias("term"),
            )
            .groupBy(F.col("dst").alias("_v"))
            .agg(F.sum("term").cast("bigint").alias("p"))
            .select(F.col("_v").alias("v"), "p")
        )
    terms = (
        base.join(pr, base.src == pr.v)
        .select(
            F.expr(
                "CAST((CAST(p AS DECIMAL(38,0)) * n"
                " * (CAST(round(1000000 * ln(total)) AS BIGINT)"
                "    - CAST(round(1000000 * ln(n)) AS BIGINT)))"
                " div total AS DECIMAL(38,0))"
            ).alias("t")
        )
        .agg(F.sum("t").cast("decimal(38,0)").alias("mass"))
    )
    return terms.select(
        F.col("mass").cast("bigint").alias("entropy_mass_micro2"),
        F.round(
            F.col("mass").cast("bigint") / F.lit(1000000000000.0), 6
        ).alias("entropy_rate_nats"),
    )


# --- B167: event-type association lift ---------------------------------------

_LIFT_PPM = 1_000_000


@query(
    "q_events_lift_matrix",
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
               event_type
        FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
    ),
    nb AS (SELECT count(DISTINCT (user_id, d)) AS n FROM baskets),
    singles AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS c
        FROM baskets GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM baskets a
        JOIN baskets b ON a.user_id = b.user_id AND a.d = b.d
                      AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_ab,
           round(n_ab * 1.0 * (SELECT n FROM nb) / (sa.c * sb.c), 6) AS lift
    FROM pairs
    JOIN singles sa ON sa.event_type = type_a
    JOIN singles sb ON sb.event_type = type_b
    ORDER BY type_a, type_b
    """,
)
def q_events_lift_matrix(spark, sf_dir):
    """B167: association lift between event-type pairs at the
    (user, day) basket grain — P(a∧b)·N / (P(a)·P(b)) rendered over
    exact counts, the co-occurrence statistic behind "users who X also
    Y". The B101 basket discipline: baskets collapse to DISTINCT
    (user, day, type) FIRST (one hash aggregate), so the pair self-join
    fans out by the per-basket DISTINCT-TYPE count — bounded by the
    event-type domain (|types| ≪ |events| at any SF), never by events².
    Lift is computed from three exact BIGINTs per pair (n_ab, c_a, c_b)
    plus the global basket count (a broadcast single-row frame); the one
    double division is per-row and engine-identical, released round 6.
    At 100 TB: two shuffles (basket distinct, pair count), both keyed on
    bounded-cardinality keys; singles broadcast."""
    baskets = (
        table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "user_id",
            F.date_trunc("day", "ts").alias("d"),
            "event_type",
        )
        .distinct()
    )
    nb = baskets.select("user_id", "d").distinct().agg(
        F.count(F.lit(1)).alias("n")
    )
    singles = baskets.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    pairs = (
        baskets.alias("a")
        .join(
            baskets.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.d") == F.col("b.d"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )
    sa = singles.select(
        F.col("event_type").alias("type_a"), F.col("c").alias("ca")
    )
    sb = singles.select(
        F.col("event_type").alias("type_b"), F.col("c").alias("cb")
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            F.round(
                F.col("n_ab") * 1.0 * F.col("n") / (F.col("ca") * F.col("cb")),
                6,
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


# --- B168: session-opening path prefixes --------------------------------------

_PATH_LEN = 3
_PATH_TOP_K = 10


@query(
    "q_events_path_prefix",
    oracle=f"""
    WITH ranked AS (
        SELECT user_id, event_type,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY ts NULLS FIRST, event_id
               ) AS rn
        FROM events
    ),
    paths AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM ranked WHERE rn <= {_PATH_LEN}
        GROUP BY user_id
    ),
    counted AS (
        SELECT path, CAST(count(*) AS BIGINT) AS n_users
        FROM paths GROUP BY path
    )
    SELECT path, n_users, rnk FROM (
        SELECT path, n_users,
               CAST(row_number() OVER (ORDER BY n_users DESC, path)
                    AS INTEGER) AS rnk
        FROM counted
    ) WHERE rnk <= {_PATH_TOP_K}
    """,
)
def q_events_path_prefix(spark, sf_dir):
    """B168: top opening paths — the first {_PATH_LEN} event types per
    user in (ts, event_id) order, joined into a '>' path string, counted
    and top-{_PATH_TOP_K}'d: the funnel-discovery complement of B83's
    fixed-funnel match (B83 checks a KNOWN sequence; this mines which
    openings dominate). The rank window's rn <= {_PATH_LEN} filter pushes
    into WindowGroupLimit (map-side top-{_PATH_LEN} per user — the B41
    discipline), so the exchange carries ≤{_PATH_LEN} rows per user;
    the path assembles via array_sort(collect_list(struct(rn, type)))
    (order carried IN the data, not assumed of the aggregate); the final
    top-k is orderBy().limit() → TakeOrderedAndProject, with the rank
    column windowed over only the ≤{_PATH_TOP_K} survivors. NULL ts
    pinned NULLS FIRST as everywhere."""
    ranked = (
        table(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts", "event_id")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("ts").asc_nulls_first(), F.col("event_id").asc()
                )
            ),
        )
        .where(F.col("rn") <= _PATH_LEN)
    )
    paths = ranked.groupBy("user_id").agg(
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(rn, event_type))), x -> x.event_type)"),
            ">",
        ).alias("path")
    )
    counted = paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    top = counted.orderBy(F.col("n_users").desc(), "path").limit(_PATH_TOP_K)
    w = Window.orderBy(F.col("n_users").desc(), "path")
    return top.select(
        "path", "n_users", F.row_number().over(w).cast("int").alias("rnk")
    )


# --- B174: two-cohort log-rank test --------------------------------------------


@query(
    "q_events_logrank",
    oracle=f"""
    WITH starts AS (
        SELECT user_id, min(epoch_us(ts)) AS t0
        FROM events WHERE event_type = '{_KM_START}'
        GROUP BY user_id
    ),
    ev AS (
        SELECT s.user_id, s.t0,
               min(epoch_us(e.ts)) FILTER (
                   WHERE e.event_type = '{_KM_EVENT}'
                     AND epoch_us(e.ts) >= s.t0) AS tp,
               max(epoch_us(e.ts)) AS tlast
        FROM starts s JOIN events e ON e.user_id = s.user_id
        GROUP BY s.user_id, s.t0
    ),
    durations AS (
        SELECT CAST(user_id % 2 AS INTEGER) AS grp,
               CASE WHEN tp IS NOT NULL
                    THEN (tp - t0) // {_DAY_US}
                    ELSE (tlast - t0) // {_DAY_US} END AS dur,
               CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS observed
        FROM ev
    ),
    steps AS (
        SELECT grp, dur,
               CAST(count(*) AS BIGINT) AS m,
               CAST(sum(observed) AS BIGINT) AS d_g
        FROM durations GROUP BY grp, dur
    ),
    grid AS (
        SELECT d.dur, g.grp
        FROM (SELECT DISTINCT dur FROM steps) d
        CROSS JOIN (VALUES (0), (1)) AS g(grp)
    ),
    full_steps AS (
        SELECT grid.grp, grid.dur,
               coalesce(s.m, 0) AS m,
               coalesce(s.d_g, 0) AS d_g
        FROM grid LEFT JOIN steps s
            ON s.grp = grid.grp AND s.dur = grid.dur
    ),
    totals AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n_g
        FROM durations GROUP BY grp
    ),
    cum AS (
        SELECT f.grp, f.dur, f.m, f.d_g,
               sum(f.m) OVER (PARTITION BY f.grp ORDER BY f.dur
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum_m,
               t.n_g
        FROM full_steps f JOIN totals t ON t.grp = f.grp
    ),
    wide AS (
        SELECT dur,
               CAST(sum(CASE WHEN grp = 0 THEN d_g ELSE 0 END) AS BIGINT)
                   AS d0,
               CAST(sum(CASE WHEN grp = 1 THEN d_g ELSE 0 END) AS BIGINT)
                   AS d1,
               CAST(sum(CASE WHEN grp = 0
                             THEN n_g - (cum_m - m) ELSE 0 END) AS BIGINT)
                   AS n0,
               CAST(sum(CASE WHEN grp = 1
                             THEN n_g - (cum_m - m) ELSE 0 END) AS BIGINT)
                   AS n1
        FROM cum GROUP BY dur
    ),
    terms AS (
        SELECT d0, d1,
               CAST(round(1000000.0 * CAST(d0 + d1 AS DOUBLE)
                          * CAST(n0 AS DOUBLE)
                          / CAST(n0 + n1 AS DOUBLE)) AS BIGINT) AS e0q,
               CASE WHEN n0 + n1 > 1 THEN
                   CAST(round(1000000.0 * CAST(d0 + d1 AS DOUBLE)
                              * CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)
                              * (CAST(n0 + n1 AS DOUBLE)
                                 - CAST(d0 + d1 AS DOUBLE))
                              / (CAST(n0 + n1 AS DOUBLE)
                                 * CAST(n0 + n1 AS DOUBLE)
                                 * (CAST(n0 + n1 AS DOUBLE) - 1.0)))
                        AS BIGINT)
               ELSE 0 END AS vq
        FROM wide WHERE d0 + d1 > 0
    ),
    sums AS (
        SELECT CAST(sum(d0) AS BIGINT) AS o0,
               CAST(sum(d1) AS BIGINT) AS o1,
               CAST(sum(e0q) AS BIGINT) AS e0_micro,
               CAST(sum(vq) AS BIGINT) AS var_micro
        FROM terms
    ),
    npair AS (
        SELECT CAST(sum(CASE WHEN grp = 0 THEN n_g ELSE 0 END) AS BIGINT)
                   AS n0_users,
               CAST(sum(CASE WHEN grp = 1 THEN n_g ELSE 0 END) AS BIGINT)
                   AS n1_users
        FROM totals
    )
    SELECT n0_users, n1_users, o0, o1, e0_micro, var_micro,
           round((CAST(o0 AS DOUBLE) - CAST(e0_micro AS DOUBLE) / 1000000.0)
                 * (CAST(o0 AS DOUBLE)
                    - CAST(e0_micro AS DOUBLE) / 1000000.0)
                 / nullif(CAST(var_micro AS DOUBLE) / 1000000.0, 0.0),
                 6) AS chi2
    FROM sums CROSS JOIN npair
    """,
)
def q_events_logrank(spark, sf_dir):
    """B174: two-cohort log-rank (Mantel-Cox) test over B149's
    Kaplan-Meier machinery — does cohort membership (user_id parity, the
    deterministic A/B split) shift time-to-'purchase'? Completes the
    survival family: B149 estimates the curve, B174 tests two curves'
    equality, the pairing every churn experiment reports. Statistic:
    at each event time, observed group-0 events vs hypergeometric
    expectation d*n0/n with variance d*n0*n1*(n-d)/(n^2*(n-1)); chi2 =
    (O0-E0)^2/V ~ chi2(1).

    Cross-engine float shape (the B143/B149 identity): each time-step's
    expectation and variance is ONE left-to-right float expression over
    exact BIGINTs (IEEE +,-,*,/ are bit-deterministic; no libm), quantized
    to integer micro-units per STEP, so the sums crossing the engines are
    pure BIGINT and chi2 is one float expression over three exact ints,
    round(6). Plan/scale: user-keyed rollups, then everything lives on
    the |distinct durations| domain (calendar-bounded, ~1e4 rows at any
    SF): a 2-row broadcast grid completes missing (grp, dur) cells, the
    cumulative window is PARTITIONED by grp over that bounded frame, the
    per-group totals broadcast, and the final statistic is a single-row
    aggregate. Nothing scales with |users| past the first rollups."""
    e_us = F.unix_micros("ts")
    ev = table(spark, sf_dir, "events")
    starts = (
        ev.where(F.col("event_type") == _KM_START)
        .groupBy("user_id")
        .agg(F.min(e_us).alias("t0"))
    )
    folded = (
        ev.join(starts, "user_id")
        .groupBy("user_id", "t0")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == _KM_EVENT)
                    & (e_us >= F.col("t0")),
                    e_us,
                )
            ).alias("tp"),
            F.max(e_us).alias("tlast"),
        )
    )
    durations = folded.select(
        (F.col("user_id") % 2).cast("int").alias("grp"),
        F.when(
            F.col("tp").isNotNull(),
            F.expr(f"(tp - t0) div {_DAY_US}"),
        )
        .otherwise(F.expr(f"(tlast - t0) div {_DAY_US}"))
        .alias("dur"),
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("observed"),
    )
    steps = durations.groupBy("grp", "dur").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("observed").cast("bigint").alias("d_g"),
    )
    grps = spark.range(2).select(F.col("id").cast("int").alias("grp"))
    grid = steps.select("dur").distinct().crossJoin(F.broadcast(grps))
    full_steps = (
        grid.join(steps, ["grp", "dur"], "left")
        .select(
            "grp",
            "dur",
            F.coalesce("m", F.lit(0)).cast("bigint").alias("m"),
            F.coalesce("d_g", F.lit(0)).cast("bigint").alias("d_g"),
        )
    )
    totals = durations.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g")
    )
    wg = (
        Window.partitionBy("grp")
        .orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = full_steps.withColumn("cum_m", F.sum("m").over(wg)).join(
        F.broadcast(totals), "grp"
    )
    at_risk = F.col("n_g") - (F.col("cum_m") - F.col("m"))
    wide = cum.groupBy("dur").agg(
        F.sum(F.when(F.col("grp") == 0, F.col("d_g")).otherwise(0))
        .cast("bigint")
        .alias("d0"),
        F.sum(F.when(F.col("grp") == 1, F.col("d_g")).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum(F.when(F.col("grp") == 0, at_risk).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("grp") == 1, at_risk).otherwise(0))
        .cast("bigint")
        .alias("n1"),
    )
    terms = wide.where(F.col("d0") + F.col("d1") > 0).select(
        "d0",
        "d1",
        F.expr(
            "CAST(round(1000000.0 * CAST(d0 + d1 AS DOUBLE)"
            " * CAST(n0 AS DOUBLE)"
            " / CAST(n0 + n1 AS DOUBLE)) AS BIGINT)"
        ).alias("e0q"),
        F.expr(
            "CASE WHEN n0 + n1 > 1 THEN"
            " CAST(round(1000000.0 * CAST(d0 + d1 AS DOUBLE)"
            " * CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)"
            " * (CAST(n0 + n1 AS DOUBLE) - CAST(d0 + d1 AS DOUBLE))"
            " / (CAST(n0 + n1 AS DOUBLE) * CAST(n0 + n1 AS DOUBLE)"
            " * (CAST(n0 + n1 AS DOUBLE) - 1.0))) AS BIGINT)"
            " ELSE 0 END"
        ).alias("vq"),
    )
    sums = terms.agg(
        F.sum("d0").cast("bigint").alias("o0"),
        F.sum("d1").cast("bigint").alias("o1"),
        F.sum("e0q").cast("bigint").alias("e0_micro"),
        F.sum("vq").cast("bigint").alias("var_micro"),
    )
    npair = totals.agg(
        F.sum(F.when(F.col("grp") == 0, F.col("n_g")).otherwise(0))
        .cast("bigint")
        .alias("n0_users"),
        F.sum(F.when(F.col("grp") == 1, F.col("n_g")).otherwise(0))
        .cast("bigint")
        .alias("n1_users"),
    )
    return sums.crossJoin(F.broadcast(npair)).select(
        "n0_users",
        "n1_users",
        "o0",
        "o1",
        "e0_micro",
        "var_micro",
        F.expr(
            "round((CAST(o0 AS DOUBLE)"
            " - CAST(e0_micro AS DOUBLE) / 1000000.0)"
            " * (CAST(o0 AS DOUBLE)"
            " - CAST(e0_micro AS DOUBLE) / 1000000.0)"
            " / nullif(CAST(var_micro AS DOUBLE) / 1000000.0, 0.0), 6)"
        ).alias("chi2"),
    )


# --- B177: two-proportion conversion z-test ------------------------------------

_ZTEST_WINDOW_US = 7 * _DAY_US  # 7-day attribution window


@query(
    "q_events_proportion_ztest",
    oracle=f"""
    WITH starts AS (
        SELECT user_id, min(epoch_us(ts)) AS t0
        FROM events WHERE event_type = '{_KM_START}'
        GROUP BY user_id
    ),
    conv AS (
        SELECT s.user_id,
               CAST(s.user_id % 2 AS INTEGER) AS grp,
               CASE WHEN count(*) FILTER (
                        WHERE e.event_type = '{_KM_EVENT}'
                          AND epoch_us(e.ts) >= s.t0
                          AND epoch_us(e.ts) < s.t0 + {_ZTEST_WINDOW_US}) > 0
                    THEN 1 ELSE 0 END AS converted
        FROM starts s JOIN events e ON e.user_id = s.user_id
        GROUP BY s.user_id, s.t0
    ),
    arms AS (
        SELECT CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n0,
               CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1,
               CAST(sum(CASE WHEN grp = 0 THEN converted ELSE 0 END)
                    AS BIGINT) AS c0,
               CAST(sum(CASE WHEN grp = 1 THEN converted ELSE 0 END)
                    AS BIGINT) AS c1
        FROM conv
    )
    SELECT n0, n1, c0, c1,
           CAST(1000000 * c0 // n0 AS BIGINT) AS p0_ppm,
           CAST(1000000 * c1 // n1 AS BIGINT) AS p1_ppm,
           CAST(1000000 * (c0 + c1) // (n0 + n1) AS BIGINT) AS pooled_ppm,
           round((CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)
                  - CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                 / nullif(sqrt(CAST(c0 + c1 AS DOUBLE)
                               / CAST(n0 + n1 AS DOUBLE)
                        * (1.0 - CAST(c0 + c1 AS DOUBLE)
                           / CAST(n0 + n1 AS DOUBLE))
                        * (1.0 / CAST(n0 AS DOUBLE)
                           + 1.0 / CAST(n1 AS DOUBLE))), 0.0),
                 6) AS z_score
    FROM arms
    """,
)
def q_events_proportion_ztest(spark, sf_dir):
    """B177: pooled two-proportion z-test — did cohort membership
    (user_id parity, the same deterministic A/B arms as B174) change the
    signup→purchase conversion PROBABILITY? The binary-outcome sibling
    of B174's time-to-event test and the first thing an experiment
    readout reports (B130 gives the per-day rate series; this gives the
    one-number significance): z = (p0 − p1) / sqrt(p̂(1−p̂)(1/n0+1/n1)).

    Cross-engine float shape: conversions and arm sizes are exact
    BIGINTs; the statistic is ONE identical-text float expression over
    four exact ints using IEEE +,-,*,/ and sqrt — sqrt is correctly
    rounded by IEEE 754 on both engines, so no libm drift (the one
    transcendental-free test in the family after B142/B147 leaned on
    the micro-quant identity); rates released as exact floor-ppm (D2).
    Plan/scale: one user-keyed rollup folds each user to (arm,
    converted) — map-side combinable; the arm table is a single-row
    aggregate. Nothing after the first rollup scales with corpus
    size."""
    e_us = F.unix_micros("ts")
    ev = table(spark, sf_dir, "events")
    starts = (
        ev.where(F.col("event_type") == _KM_START)
        .groupBy("user_id")
        .agg(F.min(e_us).alias("t0"))
    )
    conv = (
        ev.join(starts, "user_id")
        .groupBy("user_id", "t0")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == _KM_EVENT)
                    & (e_us >= F.col("t0"))
                    & (e_us < F.col("t0") + F.lit(_ZTEST_WINDOW_US)),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
        .select(
            (F.col("user_id") % 2).cast("int").alias("grp"), "converted"
        )
    )
    arms = conv.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("grp") == 0, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("c0"),
        F.sum(F.when(F.col("grp") == 1, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("c1"),
    )
    return arms.select(
        "n0",
        "n1",
        "c0",
        "c1",
        F.expr("CAST(1000000 * c0 div n0 AS BIGINT)").alias("p0_ppm"),
        F.expr("CAST(1000000 * c1 div n1 AS BIGINT)").alias("p1_ppm"),
        F.expr("CAST(1000000 * (c0 + c1) div (n0 + n1) AS BIGINT)").alias(
            "pooled_ppm"
        ),
        F.expr(
            "round(try_divide(CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)"
            " - CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE),"
            " nullif(sqrt(CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)"
            " * (1.0 - CAST(c0 + c1 AS DOUBLE)"
            " / CAST(n0 + n1 AS DOUBLE))"
            " * (1.0 / CAST(n0 AS DOUBLE)"
            " + 1.0 / CAST(n1 AS DOUBLE))), 0.0)), 6)"
        ).alias("z_score"),
    )


# --- B182: exponentially-decayed engagement score ------------------------------

_DECAY_HALF_SCALE_D = 30.0  # decay time-constant in days (e-folding)
_DECAY_Q = (
    "CAST(round(1000000 * exp(-CAST(age_d AS DOUBLE)"
    f" / {_DECAY_HALF_SCALE_D})) AS BIGINT)"
)


@query(
    "q_events_decay_engagement",
    oracle=f"""
    WITH evs AS (
        SELECT user_id,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
        FROM events WHERE ts IS NOT NULL
    ),
    ref AS (SELECT max(d) AS ref_d FROM evs),
    aged AS (
        SELECT e.user_id, r.ref_d - e.d AS age_d
        FROM evs e CROSS JOIN ref r
    ),
    per_user AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum({_DECAY_Q}) AS BIGINT) AS score_micro
        FROM aged GROUP BY user_id
    )
    SELECT CAST(length(bin(score_micro)) AS BIGINT) AS score_octave,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(min(score_micro) AS BIGINT) AS min_score_micro,
           CAST(max(score_micro) AS BIGINT) AS max_score_micro,
           CAST(sum(n_events) AS BIGINT) AS n_events
    FROM per_user
    GROUP BY 1
    """,
)
def q_events_decay_engagement(spark, sf_dir):
    """B182: exponentially-decayed engagement — per user, the sum of
    exp(−age/{_DECAY_HALF_SCALE_D:.0f}d) over their events, anchored at
    the corpus's last observed day. The recency-weighted activity score
    every retention/ranking system keeps (B103's RFM treats recency as
    a quantile CUT; decay integrates it per event, so one ancient burst
    can no longer tie a steadily-active user), binned into the C103
    octave spectrum for a bounded release.

    Cross-engine float shape: each event's decay factor is ONE
    identical-text exp() over an exact integer age, quantized to
    micro-units per EVENT (the D14-pinned libm assumption + round
    parity), so per-user sums are pure BIGINT — double summation order
    never crosses the engines. Plan/scale: scan-side age arithmetic
    against a 1-row broadcast anchor, ONE user-keyed rollup (map-side
    combinable — the quantized term is associative), then the bounded
    octave rollup; bin(score) is the C51/C103 exact-octave trick.
    Nothing after the user rollup scales with corpus size."""
    epoch = F.lit("1970-01-01").cast("date")
    evs = (
        table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select(
            "user_id",
            F.datediff(F.col("ts").cast("date"), epoch).alias("d"),
        )
    )
    ref = evs.agg(F.max("d").alias("ref_d"))
    aged = evs.crossJoin(F.broadcast(ref)).select(
        "user_id", (F.col("ref_d") - F.col("d")).alias("age_d")
    )
    per_user = aged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.expr(_DECAY_Q)).cast("bigint").alias("score_micro"),
    )
    return per_user.groupBy(
        F.length(F.expr("bin(score_micro)")).cast("bigint").alias(
            "score_octave"
        )
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.min("score_micro").cast("bigint").alias("min_score_micro"),
        F.max("score_micro").cast("bigint").alias("max_score_micro"),
        F.sum("n_events").cast("bigint").alias("n_events"),
    )


# --- B191: group-wise sequential pattern mining (length-3 subsequences) --------

_SEQ_TOP_K = 20


@query(
    "q_events_seq_patterns",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_type AS et, ts, event_id
        FROM events
        WHERE ts IS NOT NULL AND event_type IS NOT NULL
              AND user_id IS NOT NULL
    ),
    fa AS (
        SELECT user_id, et AS a, ts AS a_ts, event_id AS a_eid
        FROM ev
        QUALIFY row_number() OVER (
            PARTITION BY user_id, et ORDER BY ts, event_id) = 1
    ),
    fb AS (
        SELECT e.user_id, f.a, e.et AS b, e.ts AS b_ts,
               e.event_id AS b_eid
        FROM ev e JOIN fa f ON e.user_id = f.user_id
        WHERE (e.ts, e.event_id) > (f.a_ts, f.a_eid)
        QUALIFY row_number() OVER (
            PARTITION BY e.user_id, f.a, e.et ORDER BY e.ts, e.event_id) = 1
    ),
    fc AS (
        SELECT DISTINCT e.user_id, f.a, f.b, e.et AS c
        FROM ev e JOIN fb f ON e.user_id = f.user_id
        WHERE (e.ts, e.event_id) > (f.b_ts, f.b_eid)
    ),
    sup AS (
        SELECT a, b, c, CAST(count(*) AS BIGINT) AS support
        FROM fc GROUP BY a, b, c
    ),
    u AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS nu FROM ev)
    SELECT a, b, c, support,
           CAST((1000000 * support) // u.nu AS BIGINT) AS support_ppm,
           CAST(row_number() OVER (
               ORDER BY support DESC, a, b, c) AS INT) AS rnk
    FROM sup CROSS JOIN u
    QUALIFY rnk <= {_SEQ_TOP_K}
    """,
)
def q_events_seq_patterns(spark, sf_dir):
    """B191: group-wise sequential pattern mining — the support count of
    every length-3 event-type SUBSEQUENCE a→b→c over per-user event
    histories (a user supports the pattern iff some a precedes some b
    precedes some c in their (ts, event_id) order — gaps allowed), the
    GSP/PrefixSpan statistic (Srikant & Agrawal, EDBT 1996; Pei et al.,
    ICDE 2001) one rung above this package's contiguous forms: B106
    counts ADJACENT transitions, B168 counts exact path PREFIXES — both
    miss the user whose a→b→c has noise events interleaved, which is
    the common case in clickstreams. Containment is decided by the exact
    greedy earliest-occurrence rule (a subsequence embeds iff chaining
    "first occurrence after the previous match" succeeds — the standard
    matching lemma), expressed as two chained first-occurrence windows:
    first a per user, first b strictly after it, any c strictly after
    that; "strictly after" is the lexicographic (ts, event_id) order
    B93's sessionizer pins on both engines. Top-{_SEQ_TOP_K} patterns
    released with exact integer support and floor-div ppm of the user
    base (all-positive, D7-safe), (support desc, a, b, c) tiebreak.

    Plan/scale: the joins fan out by the event-type ALPHABET, never by
    volume — |types|·|events| rows into the first-b window,
    |types|²·|events| into the existence aggregate (5 types here;
    map-side partial aggregation collapses the existence frame before
    the shuffle, and at an unbounded alphabet you cap to the top-K
    symbols first — C37's heavy-hitters job). Both windows partition by
    (user, symbol...) — per-user state is one lookahead row; the final
    rank window runs over the ≤|types|³-row support matrix
    (allowlisted)."""
    ev = (
        table(spark, sf_dir, "events")
        .where(
            F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("user_id").isNotNull()
        )
        .select("user_id", F.col("event_type").alias("et"), "ts", "event_id")
    )
    # Explicit exchanges pin the two first-occurrence windows against AQE
    # coalescing (round 14): the shuffles are ~1 MB at sf0.1, so AQE
    # collapsed them to ONE partition and the window chains ran serial
    # (profiled 1.5 + 1.0 s single-task stages). The partition keys match
    # the window specs exactly, so no shuffle is ADDED — only the width
    # is pinned (the C2 df-pass discipline). At 100 TB these exchanges
    # are data-scale and AQE would never collapse them.
    par = spark.sparkContext.defaultParallelism
    wa = Window.partitionBy("user_id", "et").orderBy("ts", "event_id")
    fa = (
        ev.repartition(par, "user_id", "et")
        .withColumn("_rn", F.row_number().over(wa))
        .where(F.col("_rn") == 1)
        .select(
            "user_id",
            F.col("et").alias("a"),
            F.col("ts").alias("a_ts"),
            F.col("event_id").alias("a_eid"),
        )
    )
    after_a = (F.col("e.ts") > F.col("f.a_ts")) | (
        (F.col("e.ts") == F.col("f.a_ts"))
        & (F.col("e.event_id") > F.col("f.a_eid"))
    )
    wb = Window.partitionBy("user_id", "a", "b").orderBy("b_ts", "b_eid")
    fb = (
        ev.alias("e")
        .join(fa.alias("f"), "user_id")
        .where(after_a)
        .select(
            "user_id",
            "a",
            F.col("e.et").alias("b"),
            F.col("e.ts").alias("b_ts"),
            F.col("e.event_id").alias("b_eid"),
        )
        .repartition(par, "user_id", "a", "b")
        .withColumn("_rn", F.row_number().over(wb))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    after_b = (F.col("e.ts") > F.col("f.b_ts")) | (
        (F.col("e.ts") == F.col("f.b_ts"))
        & (F.col("e.event_id") > F.col("f.b_eid"))
    )
    fc = (
        ev.alias("e")
        .join(fb.alias("f"), "user_id")
        .where(after_b)
        .select("user_id", "a", "b", F.col("e.et").alias("c"))
        .distinct()
    )
    sup = fc.groupBy("a", "b", "c").agg(
        F.count(F.lit(1)).cast("bigint").alias("support")
    )
    u = ev.agg(
        F.countDistinct("user_id").cast("bigint").alias("nu")
    )
    wr = Window.orderBy(F.col("support").desc(), "a", "b", "c")
    return (
        sup.crossJoin(F.broadcast(u))
        .select(
            "a",
            "b",
            "c",
            "support",
            F.expr("CAST((1000000 * support) div nu AS BIGINT)").alias(
                "support_ppm"
            ),
        )
        .withColumn("rnk", F.row_number().over(wr).cast("int"))
        .where(F.col("rnk") <= _SEQ_TOP_K)
    )


# --- B192: marketing attribution (last/first/linear touch) ---------------------

_ATTR_WINDOW_US = 72 * 3600 * 1_000_000  # 72 h lookback
_ATTR_TOUCHES = ("click", "view")


@query(
    "q_events_attribution",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_type AS et, ts, event_id
        FROM events
        WHERE ts IS NOT NULL AND event_type IS NOT NULL
              AND user_id IS NOT NULL
    ),
    p AS (
        SELECT user_id, ts AS p_ts, event_id AS p_eid
        FROM ev WHERE et = 'purchase'
    ),
    t AS (
        SELECT user_id, et AS t_et, ts AS t_ts, event_id AS t_eid
        FROM ev WHERE et IN ('click', 'view')
    ),
    pairs AS (
        SELECT p.p_eid, t.t_et, t.t_ts, t.t_eid
        FROM p JOIN t ON p.user_id = t.user_id
        WHERE (t.t_ts, t.t_eid) < (p.p_ts, p.p_eid)
          AND date_diff('microsecond', t.t_ts, p.p_ts)
              <= {_ATTR_WINDOW_US}
    ),
    per_p AS (
        SELECT p_eid, CAST(count(*) AS BIGINT) AS k FROM pairs GROUP BY p_eid
    ),
    credit AS (
        SELECT pr.t_et AS touch_type,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(1000000 // pp.k) AS BIGINT) AS linear_credit_micro
        FROM pairs pr JOIN per_p pp USING (p_eid)
        GROUP BY pr.t_et
    ),
    lastc AS (
        SELECT t_et AS touch_type, CAST(count(*) AS BIGINT) AS n_last_touch
        FROM (
            SELECT p_eid, t_et,
                   row_number() OVER (
                       PARTITION BY p_eid
                       ORDER BY t_ts DESC, t_eid DESC) AS rn
            FROM pairs
        ) WHERE rn = 1 GROUP BY t_et
    ),
    firstc AS (
        SELECT t_et AS touch_type, CAST(count(*) AS BIGINT) AS n_first_touch
        FROM (
            SELECT p_eid, t_et,
                   row_number() OVER (
                       PARTITION BY p_eid
                       ORDER BY t_ts ASC, t_eid ASC) AS rn
            FROM pairs
        ) WHERE rn = 1 GROUP BY t_et
    ),
    unattr AS (
        SELECT CAST(count(*) AS BIGINT) AS n
        FROM p WHERE p_eid NOT IN (SELECT p_eid FROM per_p)
    ),
    typed AS (
        SELECT coalesce(c.touch_type, l.touch_type, f.touch_type)
                   AS touch_type,
               coalesce(c.n_pairs, 0) AS n_pairs,
               coalesce(c.linear_credit_micro, 0) AS linear_credit_micro,
               coalesce(l.n_last_touch, 0) AS n_last_touch,
               coalesce(f.n_first_touch, 0) AS n_first_touch
        FROM credit c
        FULL JOIN lastc l USING (touch_type)
        FULL JOIN firstc f USING (touch_type)
    )
    SELECT * FROM typed
    UNION ALL
    SELECT 'unattributed', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           u.n, u.n
    FROM unattr u
    """,
)
def q_events_attribution(spark, sf_dir):
    """B192: marketing attribution — every purchase credited to the
    click/view touches of the same user in the preceding 72 h, under the
    three standard models at once: LAST touch (the default in most
    analytics suites), FIRST touch, and LINEAR multi-touch (credit split
    equally across the k touches as an exact integer micro-share,
    1e6 div k per touch — floor-div, so a conversion's shares sum to
    ≤ 1e6 with the remainder dropped deterministically). Purchases with
    no touch in the window land in the explicit ``unattributed`` row
    (counted under both boundary models) — the row that tells you the
    lookback is too short. Touch order is the lexicographic
    (ts, event_id) B93 ordering, strictly before the conversion.

    Plan/scale: one per-user equi-join between the purchase and touch
    slices with the range predicate in the join condition — volume is
    Σ per-user |purchases|·|touches in window|, bounded by per-user
    activity, never corpus-quadratic (a hyperactive-user cap is B117's
    operator; at 100 TB you apply it first). The last/first picks are
    per-purchase rank windows over the pair frame (one lookahead row of
    state per purchase); every rollup keys on the |touch types| domain.
    All counts and credits are exact BIGINTs — no float anywhere."""
    ev = (
        table(spark, sf_dir, "events")
        .where(
            F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("user_id").isNotNull()
        )
        .select("user_id", F.col("event_type").alias("et"), "ts", "event_id")
    )
    p = ev.where(F.col("et") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_eid")
    )
    t = ev.where(F.col("et").isin(*_ATTR_TOUCHES)).select(
        "user_id",
        F.col("et").alias("t_et"),
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("t_eid"),
    )
    before = (F.col("t_ts") < F.col("p_ts")) | (
        (F.col("t_ts") == F.col("p_ts"))
        & (F.col("t_eid") < F.col("p_eid"))
    )
    in_window = (
        F.unix_micros("p_ts") - F.unix_micros("t_ts") <= _ATTR_WINDOW_US
    )
    pairs = p.join(t, "user_id").where(before & in_window).select(
        "p_eid", "t_et", "t_ts", "t_eid"
    )
    per_p = pairs.groupBy("p_eid").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    credit = (
        pairs.join(per_p, "p_eid")
        .groupBy(F.col("t_et").alias("touch_type"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.expr("1000000 div k")).cast("bigint").alias(
                "linear_credit_micro"
            ),
        )
    )
    w_last = Window.partitionBy("p_eid").orderBy(
        F.col("t_ts").desc(), F.col("t_eid").desc()
    )
    lastc = (
        pairs.withColumn("rn", F.row_number().over(w_last))
        .where(F.col("rn") == 1)
        .groupBy(F.col("t_et").alias("touch_type"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_last_touch"))
    )
    w_first = Window.partitionBy("p_eid").orderBy(
        F.col("t_ts").asc(), F.col("t_eid").asc()
    )
    firstc = (
        pairs.withColumn("rn", F.row_number().over(w_first))
        .where(F.col("rn") == 1)
        .groupBy(F.col("t_et").alias("touch_type"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_first_touch"))
    )
    typed = (
        credit.join(lastc, "touch_type", "full")
        .join(firstc, "touch_type", "full")
        .select(
            "touch_type",
            F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce("linear_credit_micro", F.lit(0))
            .cast("bigint")
            .alias("linear_credit_micro"),
            F.coalesce("n_last_touch", F.lit(0))
            .cast("bigint")
            .alias("n_last_touch"),
            F.coalesce("n_first_touch", F.lit(0))
            .cast("bigint")
            .alias("n_first_touch"),
        )
    )
    unattr = (
        p.join(per_p, p["p_eid"] == per_p["p_eid"], "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            F.lit("unattributed").alias("touch_type"),
            F.lit(0).cast("bigint").alias("n_pairs"),
            F.lit(0).cast("bigint").alias("linear_credit_micro"),
            F.col("n").alias("n_last_touch"),
            F.col("n").alias("n_first_touch"),
        )
    )
    return typed.unionByName(unattr)


# --- B193: daily growth accounting (new / retained / resurrected / churned) ----


@query(
    "q_events_lifecycle",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    g AS (SELECT CAST(max(d) AS BIGINT) AS max_d FROM ud),
    seq AS (
        SELECT user_id, d,
               lag(d) OVER (PARTITION BY user_id ORDER BY d) AS prev_d,
               lead(d) OVER (PARTITION BY user_id ORDER BY d) AS next_d
        FROM ud
    ),
    act AS (
        SELECT d,
               CAST(count(*) AS BIGINT) AS n_active,
               CAST(count(*) FILTER (WHERE prev_d IS NULL) AS BIGINT)
                   AS n_new,
               CAST(count(*) FILTER (WHERE prev_d = d - 1) AS BIGINT)
                   AS n_retained,
               CAST(count(*) FILTER (WHERE prev_d IS NOT NULL
                                       AND prev_d < d - 1) AS BIGINT)
                   AS n_resurrected
        FROM seq GROUP BY d
    ),
    churn AS (
        SELECT d + 1 AS d, CAST(count(*) AS BIGINT) AS n_churned
        FROM seq CROSS JOIN g
        WHERE (next_d IS NULL AND d < g.max_d)
           OR (next_d IS NOT NULL AND next_d > d + 1)
        GROUP BY d + 1
    )
    SELECT coalesce(a.d, c.d) AS epoch_day,
           coalesce(a.n_active, 0) AS n_active,
           coalesce(a.n_new, 0) AS n_new,
           coalesce(a.n_retained, 0) AS n_retained,
           coalesce(a.n_resurrected, 0) AS n_resurrected,
           coalesce(c.n_churned, 0) AS n_churned,
           round(CAST(coalesce(a.n_new, 0) + coalesce(a.n_resurrected, 0)
                      AS DOUBLE)
                 / CAST(nullif(coalesce(c.n_churned, 0), 0) AS DOUBLE), 2)
               AS quick_ratio
    FROM act a FULL JOIN churn c USING (d)
    """,
)
def q_events_lifecycle(spark, sf_dir):
    """B193: daily growth accounting — every active user classified per
    day as NEW (first day ever), RETAINED (active the previous day) or
    RESURRECTED (returning after a gap), plus the CHURNED count (active
    on day d, silent on d+1 — emitted on the day the silence starts,
    including for a user's last active day before the series end) and
    the quick ratio (new + resurrected) / churned. This is the growth
    ledger (the Social Capital accounting) one level above B108's
    DAU/WAU counts and beside B94's fixed-cohort retention: B94 follows
    one signup cohort forward, this decomposes EVERY day's movement, and
    the identity n_active(d) = n_active(d−1) + new + resurrected −
    churned(d) makes it self-auditing. Day key is the portable epoch-day
    BIGINT (D13).

    Plan/scale: one distinct (user, day) rollup collapses corpus-scale
    input to |users|·|active days|; the lag/lead window partitions BY
    USER over that frame (per-user state is one row of lookahead —
    B106's argument); both rollups key on the |days| domain and the
    release is a calendar-bounded |days|-row full join. The only float
    is the round(2) quick ratio with a D11 nullif guard (NULL on
    zero-churn days)."""
    ud = (
        table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
            )
            .cast("bigint")
            .alias("d"),
        )
        .distinct()
    )
    g = ud.agg(F.max("d").cast("bigint").alias("max_d"))
    w = Window.partitionBy("user_id").orderBy("d")
    seq = ud.select(
        "user_id",
        "d",
        F.lag("d").over(w).alias("prev_d"),
        F.lead("d").over(w).alias("next_d"),
    )
    act = seq.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active"),
        F.count_if(F.col("prev_d").isNull()).cast("bigint").alias("n_new"),
        F.count_if(F.col("prev_d") == F.col("d") - 1)
        .cast("bigint")
        .alias("n_retained"),
        F.count_if(
            F.col("prev_d").isNotNull() & (F.col("prev_d") < F.col("d") - 1)
        )
        .cast("bigint")
        .alias("n_resurrected"),
    )
    churn = (
        seq.crossJoin(F.broadcast(g))
        .where(
            (F.col("next_d").isNull() & (F.col("d") < F.col("max_d")))
            | (F.col("next_d").isNotNull() & (F.col("next_d") > F.col("d") + 1))
        )
        .groupBy((F.col("d") + 1).alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_churned"))
    )
    return (
        act.join(churn, "d", "full")
        .select(
            F.col("d").alias("epoch_day"),
            F.coalesce("n_active", F.lit(0)).cast("bigint").alias("n_active"),
            F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
            F.coalesce("n_retained", F.lit(0))
            .cast("bigint")
            .alias("n_retained"),
            F.coalesce("n_resurrected", F.lit(0))
            .cast("bigint")
            .alias("n_resurrected"),
            F.coalesce("n_churned", F.lit(0)).cast("bigint").alias("n_churned"),
            F.expr(
                "round(CAST(coalesce(n_new, 0) + coalesce(n_resurrected, 0)"
                " AS DOUBLE)"
                " / CAST(nullif(coalesce(n_churned, 0), 0) AS DOUBLE), 2)"
            ).alias("quick_ratio"),
        )
    )


# --- B205: CUPED adjusted experiment readout -----------------------------------

_CUPED_THETA_EXPR = (
    "((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    "  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    "          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0))"
)
_CUPED_VR_EXPR = (
    "((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    "  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    "    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / nullif((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    "           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    "          * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    "             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0.0))"
)


@query(
    "q_events_cuped",
    oracle=f"""
    WITH ev AS (
        SELECT user_id,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    mid AS (
        SELECT CAST((min(d) + max(d) + 1) // 2 AS BIGINT) AS mid FROM ev
    ),
    per_user AS (
        SELECT user_id,
               (instr('0123456789abcdef',
                      substr(md5(CAST(user_id AS VARCHAR)), 32, 1)) - 1)
                   % 2 AS arm,
               CAST(sum(CASE WHEN d < mid THEN cents ELSE 0 END) AS BIGINT)
                   AS x,
               CAST(sum(CASE WHEN d >= mid THEN cents ELSE 0 END) AS BIGINT)
                   AS y
        FROM ev CROSS JOIN mid
        GROUP BY 1, 2
    ),
    g AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM per_user
    ),
    arms AS (
        SELECT CAST(arm AS BIGINT) AS arm,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(x) AS BIGINT) AS sx_a,
               CAST(sum(y) AS BIGINT) AS sy_a
        FROM per_user GROUP BY arm
    ),
    srm AS (
        SELECT CAST((1000 * (a.n_users - b.n_users)
                     * (a.n_users - b.n_users))
                    // (a.n_users + b.n_users) AS BIGINT) AS srm_chi2_milli
        FROM arms a JOIN arms b ON a.arm = 0 AND b.arm = 1
    )
    SELECT ar.arm, ar.n_users,
           CAST(ar.sy_a // ar.n_users AS BIGINT) AS mean_post_cents,
           round(CAST(ar.sy_a AS DOUBLE) / CAST(ar.n_users AS DOUBLE)
                 - {_CUPED_THETA_EXPR}
                   * (CAST(ar.sx_a AS DOUBLE) / CAST(ar.n_users AS DOUBLE)
                      - CAST(g.sx AS DOUBLE) / CAST(g.n AS DOUBLE)), 4)
               AS adj_mean_post,
           round({_CUPED_THETA_EXPR}, 6) AS theta,
           round({_CUPED_VR_EXPR}, 6) AS var_reduction,
           s.srm_chi2_milli
    FROM arms ar CROSS JOIN g CROSS JOIN srm s
    """,
)
def q_events_cuped(spark, sf_dir):
    """B205: CUPED-adjusted experiment readout (Deng, Xu, Kohavi & Walker,
    WSDM 2013) — the variance-reduction technique every mature A/B
    platform applies before reading a revenue metric: users split into
    two arms by the A5 md5-ring rule (last hex digit % 2 — a real
    deterministic assignment hash), the calendar split at the global
    midpoint day into pre/post periods, and each arm's post-period mean
    released raw AND adjusted by theta·(x̄_arm − x̄_all) with
    theta = cov(X,Y)/var(X) pooled over all users. Beside them: the
    achieved variance-reduction factor corr²(X,Y) (the paper's headline
    number — how much smaller the experiment could have been) and the
    sample-ratio-mismatch chi-square (the assignment-health gate that
    must pass before ANY readout is trusted), as an exact milli
    statistic.

    Cross-engine float shape: per-user pre/post sums and all six moment
    sums are exact BIGINTs (floor-cents at the scan; the midpoint day is
    an exact integer floor-div of a 1-row broadcast); raw per-arm means
    release as exact floor-div cents; theta / adjusted mean / variance
    reduction are ONE identical-text double expression each over exact
    sums (the B201 pattern — products and cancellation in IEEE doubles
    on both engines, D11 nullif guards), round(6)/round(4) at release
    (irrational-valued ratios — not the B199/B200 exact-half hazard
    class); SRM chi-square is an exact integer cross-multiplication.
    Plan/scale: one (user)-keyed conditional rollup collapses the
    event stream, one 6-sum global aggregate + 2-row arm rollup, all
    joined by 1-row broadcasts; release is 2 rows."""
    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            "user_id",
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
            )
            .cast("bigint")
            .alias("d"),
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    mid = ev.agg(
        F.expr("CAST((min(d) + max(d) + 1) div 2 AS BIGINT)").alias("mid")
    )
    arm = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(
                F.md5(F.encode(F.col("user_id").cast("string"), "UTF-8")),
                32,
                1,
            ),
        )
        - 1
    ) % 2
    per_user = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy("user_id", arm.cast("bigint").alias("arm"))
        .agg(
            F.sum(F.when(F.col("d") < F.col("mid"), F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("x"),
            F.sum(F.when(F.col("d") >= F.col("mid"), F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("y"),
        )
    )
    g = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("x").cast("bigint").alias("sx_a"),
        F.sum("y").cast("bigint").alias("sy_a"),
    )
    srm = (
        arms.where(F.col("arm") == 0)
        .select(F.col("n_users").alias("na"))
        .crossJoin(
            F.broadcast(
                arms.where(F.col("arm") == 1).select(
                    F.col("n_users").alias("nb")
                )
            )
        )
        .select(
            F.expr(
                "CAST((1000 * (na - nb) * (na - nb)) div (na + nb)"
                " AS BIGINT)"
            ).alias("srm_chi2_milli")
        )
    )
    return (
        arms.crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(srm))
        .select(
            "arm",
            "n_users",
            F.expr("CAST(sy_a div n_users AS BIGINT)").alias(
                "mean_post_cents"
            ),
            F.expr(
                "round(CAST(sy_a AS DOUBLE) / CAST(n_users AS DOUBLE)"
                f" - {_CUPED_THETA_EXPR}"
                " * (CAST(sx_a AS DOUBLE) / CAST(n_users AS DOUBLE)"
                "    - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 4)"
            ).alias("adj_mean_post"),
            F.expr(f"round({_CUPED_THETA_EXPR}, 6)").alias("theta"),
            F.expr(f"round({_CUPED_VR_EXPR}, 6)").alias("var_reduction"),
            "srm_chi2_milli",
        )
    )


# --- B206: minimum detectable effect (experiment power planning) ----------------

# z_{alpha/2} + z_beta for alpha = 0.05 two-sided, power 0.8: 1.96 + 0.8416
_MDE_Z_SUM = "2.8016"


@query(
    "q_events_mde",
    oracle=f"""
    WITH per_user AS (
        SELECT event_type, user_id,
               CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS m
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2
    ),
    g AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(m) AS BIGINT) AS s,
               CAST(sum(m * m) AS BIGINT) AS ss
        FROM per_user GROUP BY event_type
    )
    SELECT event_type, n, CAST(s // n AS BIGINT) AS mean_cents,
           round(sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                      / (CAST(n AS DOUBLE)
                         * (CAST(n AS DOUBLE) - 1.0))), 2) AS sd_cents,
           round({_MDE_Z_SUM}
                 * sqrt(2.0 * (CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                        / (CAST(n AS DOUBLE)
                           * (CAST(n AS DOUBLE) - 1.0))
                        / (CAST(n AS DOUBLE) / 2.0)), 2) AS mde_cents,
           CAST((1000000 * CAST(round({_MDE_Z_SUM}
                 * sqrt(2.0 * (CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                        / (CAST(n AS DOUBLE)
                           * (CAST(n AS DOUBLE) - 1.0))
                        / (CAST(n AS DOUBLE) / 2.0)) * 100) AS BIGINT))
                // nullif(100 * (s // n), 0) AS BIGINT) AS mde_rel_ppm
    FROM g
    """,
)
def q_events_mde(spark, sf_dir):
    """B206: minimum detectable effect per metric — the power-planning
    table read BEFORE launching the experiment B205 reads out (standard
    two-sample power formula, e.g. Kohavi et al. *Trustworthy Online
    Controlled Experiments* ch. 17): with all users split evenly into
    two arms, MDE = (z_{{α/2}} + z_β)·sqrt(2σ²/(n/2)) at α = 0.05 /
    power 0.8 ({_MDE_Z_SUM} pinned as a literal — no normal-quantile
    primitive crosses engines), released per event_type with the
    per-user metric mean and sd, plus MDE relative to the mean in ppm.

    Cross-engine float shape: per-user sums and the three moments are
    exact BIGINTs; mean releases as exact floor-div cents; sd and MDE
    are ONE identical-text IEEE sqrt expression each over exact ints
    (B194/B198 discipline), round(2); the relative ppm divides the
    ALREADY-ROUNDED MDE (scaled to an exact integer centi-cent) by the
    exact floor mean — double-floor convention (B199/C170), D11
    nullif. Plan/scale: one (event_type, user) rollup collapses the
    stream (map-side combine), one |event_types|-row moment rollup;
    release |event_types| rows, no windows, no joins."""
    per_user = (
        table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .groupBy("event_type", "user_id")
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("m")
        )
    )
    g = per_user.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("m").cast("bigint").alias("s"),
        F.sum(F.col("m") * F.col("m")).cast("bigint").alias("ss"),
    )
    var_expr = (
        "(CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)"
        " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))"
    )
    mde_expr = (
        f"{_MDE_Z_SUM} * sqrt(2.0 * {var_expr}"
        " / (CAST(n AS DOUBLE) / 2.0))"
    )
    return g.select(
        "event_type",
        "n",
        F.expr("CAST(s div n AS BIGINT)").alias("mean_cents"),
        F.expr(f"round(sqrt({var_expr}), 2)").alias("sd_cents"),
        F.expr(f"round({mde_expr}, 2)").alias("mde_cents"),
        F.expr(
            f"CAST((1000000 * CAST(round({mde_expr} * 100) AS BIGINT))"
            " div nullif(100 * (s div n), 0) AS BIGINT)"
        ).alias("mde_rel_ppm"),
    )


# --- B210: difference-in-differences readout (round 12) -----------------------


@query(
    "q_events_did",
    oracle="""
    WITH ev AS (
        SELECT (instr('0123456789abcdef',
                      substr(md5(CAST(user_id AS VARCHAR)), 32, 1)) - 1)
                   % 2 AS arm,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    mid AS (
        SELECT CAST((min(d) + max(d) + 1) // 2 AS BIGINT) AS mid FROM ev
    ),
    cells AS (
        SELECT CAST(arm AS BIGINT) AS arm,
               CASE WHEN d >= mid THEN 1 ELSE 0 END AS post,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS s
        FROM ev CROSS JOIN mid GROUP BY 1, 2
    ),
    wide AS (
        SELECT
          max(CASE WHEN arm = 0 AND post = 0 THEN n END) AS n_pre_c,
          max(CASE WHEN arm = 1 AND post = 0 THEN n END) AS n_pre_t,
          max(CASE WHEN arm = 0 AND post = 1 THEN n END) AS n_post_c,
          max(CASE WHEN arm = 1 AND post = 1 THEN n END) AS n_post_t,
          max(CASE WHEN arm = 0 AND post = 0 THEN s END) AS s_pre_c,
          max(CASE WHEN arm = 1 AND post = 0 THEN s END) AS s_pre_t,
          max(CASE WHEN arm = 0 AND post = 1 THEN s END) AS s_post_c,
          max(CASE WHEN arm = 1 AND post = 1 THEN s END) AS s_post_t
        FROM cells
    )
    SELECT n_pre_c, n_pre_t, n_post_c, n_post_t,
           CAST((1000000 * s_pre_c) // n_pre_c AS BIGINT) AS m_pre_c_micro,
           CAST((1000000 * s_pre_t) // n_pre_t AS BIGINT) AS m_pre_t_micro,
           CAST((1000000 * s_post_c) // n_post_c AS BIGINT)
               AS m_post_c_micro,
           CAST((1000000 * s_post_t) // n_post_t AS BIGINT)
               AS m_post_t_micro,
           CAST(((1000000 * s_post_t) // n_post_t
                 - (1000000 * s_pre_t) // n_pre_t)
                - ((1000000 * s_post_c) // n_post_c
                   - (1000000 * s_pre_c) // n_pre_c) AS BIGINT) AS did_micro,
           CAST((1000000 * s_post_t) // n_post_t
                - (1000000 * s_post_c) // n_post_c AS BIGINT)
               AS naive_diff_micro
    FROM wide
    """,
)
def q_events_did(spark, sf_dir):
    """B210: difference-in-differences readout (Card & Krueger 1994 is the
    canonical applied reference) — the OBSERVATIONAL sibling of the
    B205/B206 experimentation pair: when assignment isn't randomized, the
    post-period arm difference confounds treatment with pre-existing arm
    differences; DiD subtracts each arm's own pre-period baseline,
    (m_post_T − m_pre_T) − (m_post_C − m_pre_C), identifying the effect
    under parallel trends. Arms follow the B205 md5-ring rule, periods
    split at the global midpoint day (both the pinned deterministic
    conventions); released beside the DiD estimate is the NAIVE post-only
    difference — the pair of numbers whose gap IS the selection bias a
    DiD reader inspects.

    Cross-engine float shape: NO float — cell sums are exact BIGINT
    floor-cents, each cell mean releases as an exact integer floor-div
    in MICRO-cents, and the estimator is integer arithmetic over those
    means (truncation ≤ 1 micro-cent per mean, far under cent-scale
    effects). Plan/scale: one (arm, period) conditional rollup collapses
    the event stream map-side (4 cells), the min/max day is a 1-row
    broadcast; release is 1 row."""
    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            (
                (
                    F.instr(
                        F.lit("0123456789abcdef"),
                        F.substring(
                            F.md5(
                                F.encode(
                                    F.col("user_id").cast("string"), "UTF-8"
                                )
                            ),
                            32,
                            1,
                        ),
                    )
                    - 1
                )
                % 2
            )
            .cast("bigint")
            .alias("arm"),
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
            )
            .cast("bigint")
            .alias("d"),
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    mid = ev.agg(
        F.expr("CAST((min(d) + max(d) + 1) div 2 AS BIGINT)").alias("mid")
    )
    cells = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy(
            "arm",
            F.when(F.col("d") >= F.col("mid"), 1).otherwise(0).alias("post"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("s"),
        )
    )
    def cell(a, p, col):
        return F.max(
            F.when((F.col("arm") == a) & (F.col("post") == p), F.col(col))
        )

    wide = cells.agg(
        cell(0, 0, "n").alias("n_pre_c"),
        cell(1, 0, "n").alias("n_pre_t"),
        cell(0, 1, "n").alias("n_post_c"),
        cell(1, 1, "n").alias("n_post_t"),
        cell(0, 0, "s").alias("s_pre_c"),
        cell(1, 0, "s").alias("s_pre_t"),
        cell(0, 1, "s").alias("s_post_c"),
        cell(1, 1, "s").alias("s_post_t"),
    )
    m = {
        k: F.expr(f"CAST((1000000 * s_{k}) div n_{k} AS BIGINT)")
        for k in ("pre_c", "pre_t", "post_c", "post_t")
    }
    return wide.select(
        "n_pre_c",
        "n_pre_t",
        "n_post_c",
        "n_post_t",
        m["pre_c"].alias("m_pre_c_micro"),
        m["pre_t"].alias("m_pre_t_micro"),
        m["post_c"].alias("m_post_c_micro"),
        m["post_t"].alias("m_post_t_micro"),
        (
            (m["post_t"] - m["pre_t"]) - (m["post_c"] - m["pre_c"])
        )
        .cast("bigint")
        .alias("did_micro"),
        (m["post_t"] - m["post_c"]).cast("bigint").alias("naive_diff_micro"),
    )
