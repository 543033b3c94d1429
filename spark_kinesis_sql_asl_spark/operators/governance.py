"""Privacy-governance audits (SURVEY.md §2 B114-B115) over `customer` —
the release-gate checks a training-data pipeline runs before shipping a
table that contains people: k-anonymity (Sweeney, IJUFKS 2002) and
l-diversity (Machanavajjhala et al., ICDE 2006 — "l-diversity: privacy
beyond k-anonymity") over a quasi-identifier partition.

Both are single groupBy rollups — embarrassingly parallel at 100 TB, and
the exact shape de-identification tooling runs as a full-table scan. The
account-balance bucket is derived in exact integers (floor-cents then
integer div), never by float-divide-then-cast (the B99 rule: a double
quotient 1 ulp under the bucket edge would shift a person's bucket on
one engine only — here that would silently change which groups violate).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from ..tables import table

_KANON_K = 5
# floor-cents div 100000 == $1000-wide buckets, exact for negatives too
_BAL_BUCKET_SQL = "CAST(floor(c_acctbal * 100) AS BIGINT) div 100000"
_BAL_BUCKET_DUCK = "CAST(floor(c_acctbal * 100) AS BIGINT) // 100000"


@query(
    "q_privacy_kanon",
    oracle=f"""
    SELECT c_nationkey, c_mktsegment,
           {_BAL_BUCKET_DUCK} AS bal_bucket,
           CAST(count(*) AS BIGINT) AS group_size
    FROM customer
    GROUP BY 1, 2, 3
    HAVING count(*) < {_KANON_K}
    """,
)
def q_privacy_kanon(spark, sf_dir):
    """B114: k-anonymity audit (k={_KANON_K}) — every quasi-identifier
    group (nation, market segment, $1000 balance bucket) smaller than k is
    a re-identification risk: an attacker who knows those three public-ish
    attributes pins the row to <k candidates. The output IS the violation
    list a release gate blocks on (empty result = table passes).

    One groupBy over the QI tuple with map-side partial counts; HAVING
    prunes post-aggregate. At 100 TB: |groups| is bounded by the QI-domain
    product, not row count, so the rollup output always fits; the scan is
    the only corpus-scale stage. Generalization loops (coarsen buckets
    until the audit passes) re-run this exact query with a wider div."""
    c = table(spark, sf_dir, "customer")
    return (
        c.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.expr(_BAL_BUCKET_SQL).alias("bal_bucket"),
        )
        .agg(F.count(F.lit(1)).alias("group_size"))
        .where(F.col("group_size") < _KANON_K)
    )


_LDIV_L = 3


@query(
    "q_privacy_ldiversity",
    oracle=f"""
    SELECT c_nationkey,
           {_BAL_BUCKET_DUCK} AS bal_bucket,
           CAST(count(*) AS BIGINT) AS group_size,
           CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l_distinct
    FROM customer
    GROUP BY 1, 2
    HAVING count(DISTINCT c_mktsegment) < {_LDIV_L}
    """,
)
def q_privacy_ldiversity(spark, sf_dir):
    """B115: l-diversity audit (l={_LDIV_L}) — k-anonymity's known gap: a
    QI group can be large yet expose its members anyway when the SENSITIVE
    attribute (here: market segment) is near-constant inside it (the
    homogeneity attack). Flags every (nation, balance-bucket) group with
    fewer than l distinct sensitive values, with its size and its actual
    diversity. Distinct-count inside groupBy is Spark's two-phase
    partial-distinct aggregation — no extra shuffle beyond the QI keys. At
    100 TB the same bound as B114 applies: output scales with the QI
    domain, never the row count."""
    c = table(spark, sf_dir, "customer")
    return (
        c.groupBy(
            "c_nationkey", F.expr(_BAL_BUCKET_SQL).alias("bal_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.countDistinct("c_mktsegment").alias("l_distinct"),
        )
        .where(F.col("l_distinct") < _LDIV_L)
    )


_CONTRIB_CAP = 3  # max events one user may contribute per (day, type)


@query(
    "q_privacy_bounded_contrib",
    oracle=f"""
    WITH ranked AS (
        SELECT event_type,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               user_id,
               row_number() OVER (
                   PARTITION BY user_id, event_type,
                                CAST(epoch_us(ts) // 86400000000 AS BIGINT)
                   ORDER BY ts, event_id
               ) AS rn
        FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
    )
    SELECT event_type, day,
           CAST(count(*) AS BIGINT) AS capped_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM ranked WHERE rn <= {_CONTRIB_CAP}
    GROUP BY event_type, day
    """,
)
def q_privacy_bounded_contrib(spark, sf_dir):
    """B117: bounded-contribution aggregation — per (event_type, day)
    counts where each user contributes AT MOST {_CONTRIB_CAP} events
    (earliest-first, (ts, event_id)-deterministic): the sensitivity-
    bounding preprocessing every differentially-private release needs
    (noise calibrates to max per-user influence, so without the cap one
    hyperactive user makes the whole count's sensitivity unbounded), and
    an anti-spam-normalized metric in its own right. The cap step is
    deterministic and exact — DP noise, if added, belongs downstream at
    release time, never inside the engine.

    Plan: one shuffle on (user, type, day) for the capping window
    (WindowGroupLimit prunes each group to {_CONTRIB_CAP} rows before the
    rank filter), then the (type, day) rollup with a partial-distinct on
    user_id. At 100 TB per-user-day groups are tiny by construction, so
    the window state is O(cap); no skew risk — a hot user caps out."""
    ev = table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    t = ev.select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        "user_id",
        "ts",
        "event_id",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type", "day").orderBy(
        "ts", "event_id"
    )
    return (
        t.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _CONTRIB_CAP)
        .groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("capped_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


_TCLOSE_TV_MAX_PPM = 300_000  # flag groups farther than 0.30 TV distance


@query(
    "q_privacy_tcloseness",
    oracle=f"""
    WITH g AS (
        SELECT c_nationkey,
               {_BAL_BUCKET_DUCK} AS bal_bucket,
               c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_gs
        FROM customer GROUP BY 1, 2, 3
    ),
    gt AS (
        SELECT c_nationkey, bal_bucket,
               CAST(sum(n_gs) AS BIGINT) AS n_g
        FROM g GROUP BY 1, 2
    ),
    st AS (
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_s
        FROM customer GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer),
    dom AS (
        SELECT gt.c_nationkey, gt.bal_bucket, gt.n_g,
               st.c_mktsegment, st.n_s
        FROM gt CROSS JOIN st
    ),
    terms AS (
        SELECT d.c_nationkey, d.bal_bucket,
               abs((1000000 * coalesce(g.n_gs, 0)) // d.n_g
                   - (1000000 * d.n_s) // tot.n) AS d_ppm
        FROM dom d
        CROSS JOIN tot
        LEFT JOIN g ON g.c_nationkey = d.c_nationkey
                   AND g.bal_bucket = d.bal_bucket
                   AND g.c_mktsegment = d.c_mktsegment
    )
    SELECT c_nationkey, bal_bucket,
           CAST(sum(d_ppm) // 2 AS BIGINT) AS tv_ppm
    FROM terms
    GROUP BY 1, 2
    HAVING sum(d_ppm) // 2 > {_TCLOSE_TV_MAX_PPM}
    """,
)
def q_privacy_tcloseness(spark, sf_dir):
    """B127: t-closeness audit (total-variation form) — the third rung of
    the privacy triad (B114 k-anonymity: groups big enough; B115
    l-diversity: sensitive values varied enough; this: the group's
    sensitive DISTRIBUTION close enough to the global one). l-diversity
    passes a group with 3 segments at 98/1/1% — an attacker still learns
    the segment with near-certainty; TV distance ½Σ|p_g − p| catches it.
    Flags (nation, bucket) groups farther than {_TCLOSE_TV_MAX_PPM} ppm.
    (Classic t-closeness uses EMD; market segments are unordered, where
    EMD over the trivial metric IS total variation — so this is the
    paper's own specialization, not an approximation.)

    Exactness: shares are floor-ppm integers from exact counts, and the
    TV sum runs over the FULL group × segment domain (groups cross-joined
    with the global segment list, absent cells coalesced to 0) — a group
    missing a segment owes the full |0 − p_s| term, which present-cells-
    only summation would halve for the most-skewed groups. Integer sum
    over exactly |segments| terms per group — no float anywhere. Plan:
    three rollups sharing the customer scan (QI-domain-bounded outputs),
    one broadcast total, a QI-keyed term sum over the domain frame. At
    100 TB: scan-bound, like its two siblings."""
    c = table(spark, sf_dir, "customer")
    g = c.groupBy(
        "c_nationkey",
        F.expr(_BAL_BUCKET_SQL).alias("bal_bucket"),
        "c_mktsegment",
    ).agg(F.count(F.lit(1)).alias("n_gs"))
    gt = g.groupBy("c_nationkey", "bal_bucket").agg(
        F.sum("n_gs").cast("bigint").alias("n_g")
    )
    st = c.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_s"))
    tot = c.agg(F.count(F.lit(1)).alias("n"))
    dom = gt.crossJoin(F.broadcast(st))
    terms = (
        dom.join(g, ["c_nationkey", "bal_bucket", "c_mktsegment"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "c_nationkey",
            "bal_bucket",
            F.abs(
                F.expr("(1000000 * coalesce(n_gs, 0)) div n_g")
                - F.expr("(1000000 * n_s) div n")
            ).alias("d_ppm"),
        )
    )
    return (
        terms.groupBy("c_nationkey", "bal_bucket")
        .agg(F.expr("CAST(sum(d_ppm) div 2 AS BIGINT)").alias("tv_ppm"))
        .where(F.col("tv_ppm") > _TCLOSE_TV_MAX_PPM)
    )


# --- B138: small-cell suppression --------------------------------------------

_SUPP_MIN_CELL = 5  # cells below this count are suppressed (primary)


@query(
    "q_privacy_cell_suppression",
    oracle=f"""
    WITH cells AS (
        SELECT n.n_name, c.c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(CAST(floor(c.c_acctbal * 100) AS BIGINT))
                    AS BIGINT) AS balance_cents
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, c.c_mktsegment
    )
    SELECT n_name, c_mktsegment,
           CASE WHEN n_customers >= {_SUPP_MIN_CELL}
                THEN n_customers END AS n_customers,
           CASE WHEN n_customers >= {_SUPP_MIN_CELL}
                THEN balance_cents END AS balance_cents,
           n_customers < {_SUPP_MIN_CELL} AS suppressed
    FROM cells
    """,
)
def q_privacy_cell_suppression(spark, sf_dir):
    """B138: SMALL-CELL suppression — the statistical-disclosure-control
    release rule every census/health publication applies before a table
    leaves the building: any (nation, segment) cell with fewer than
    {_SUPP_MIN_CELL} contributors has BOTH its count and its value sum
    withheld (NULL, not zero — zero is a disclosure), with a per-cell
    suppression flag so the release documents its own redactions. The
    publication-side complement to the B114-B117/B127 anonymity family:
    k-anon/l-diversity/t-closeness test the MICRODATA, suppression
    protects the AGGREGATE release. Exact floor-cents sums (D2 rule);
    the flag stays queryable so a reviewer can audit suppression density
    without seeing the withheld values.

    Plan/scale: one customer-scale rollup (map-side combined, nation dim
    broadcast); the suppression CASE is a projection over the
    |nations|x|segments| cell frame. Secondary (complementary)
    suppression — hiding additional cells so a suppressed one cannot be
    reconstructed from margins — is an integer-programming step that
    belongs in a driver-side solver over this operator's output, not in
    the scan."""
    c = table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
    )
    n = F.broadcast(
        table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    cells = (
        c.join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("cents").cast("bigint").alias("balance_cents"),
        )
    )
    ok = F.col("n_customers") >= _SUPP_MIN_CELL
    return cells.select(
        "n_name",
        "c_mktsegment",
        F.when(ok, F.col("n_customers")).alias("n_customers"),
        F.when(ok, F.col("balance_cents")).alias("balance_cents"),
        (~ok).alias("suppressed"),
    )


_DP_SEED = "r8dp"
_LN_1E6_MICRO = 13_815_511  # round(1e6 * ln(1e6)) — D14-pinned primitive
# Laplace scale b = sensitivity/epsilon = 1/1.0 (a user contributes one
# event per histogram cell at most once under bounded contribution; the
# B130 bounded-contribution operator is the enforcement half).
_DP_B_MICRO = 1  # b expressed as a multiplier on micro-nats


def _dp_hash_duck(expr: str) -> str:
    """32-bit portable hash of a string expression (DuckDB dialect):
    md5 hex parsed by a fixed 8-term integer expression — the
    llm/sketches.py primitive inlined to keep the oracle standalone."""
    terms = [
        f"(CAST(strpos('0123456789abcdef', substr(md5({expr}), {1 + i}, 1))"
        f" AS BIGINT) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    ]
    return "(" + " + ".join(terms) + ")"


def _dp_hash_spark(expr: str) -> str:
    terms = [
        f"(CAST(instr('0123456789abcdef', substr(md5({expr}), {1 + i}, 1))"
        f" AS BIGINT) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    ]
    return "(" + " + ".join(terms) + ")"


@query(
    "q_privacy_dp_hist",
    oracle=f"""
    WITH c AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS exact_count
        FROM events
        WHERE event_type IS NOT NULL
        GROUP BY event_type
    ),
    u AS (
        SELECT event_type, exact_count,
               ({_dp_hash_duck(f"concat('{_DP_SEED}|', event_type)")})
                   % 1000001 - 500000 AS t
        FROM c
    ),
    n AS (
        SELECT event_type, exact_count, t,
               greatest(1000000 - 2 * abs(t), 1) AS m
        FROM u
    ),
    z AS (
        SELECT event_type, exact_count,
               -sign(t) * {_DP_B_MICRO}
               * (CAST(round(1000000 * ln(m)) AS BIGINT)
                  - {_LN_1E6_MICRO}) AS noise_micro
        FROM n
    )
    SELECT event_type,
           exact_count,
           CAST(noise_micro AS BIGINT) AS noise_micro,
           round(CAST(exact_count AS DOUBLE)
                 + CAST(noise_micro AS BIGINT) / 1000000.0, 6)
               AS dp_count
    FROM z
    """,
)
def q_privacy_dp_hist(spark, sf_dir):
    """B157: differentially-private histogram release — per-event-type
    counts with Laplace(b = sensitivity/epsilon = 1) noise, the release
    mechanism that sits after B114/B115's suppression gates: those
    decide WHAT may be published, this decides what VALUES are
    published. Epsilon = 1 under unit sensitivity (pair with B130's
    bounded contribution for the end-to-end guarantee).

    Determinism discipline (noise must be REPLAYABLE for the oracle and
    for auditability, so it is seeded, not sampled): uniform draw u =
    (portable_hash(seed|cell) % 1000001 - 500000)/1e6 in [-1/2, 1/2] —
    the md5-parse hash both engines compute bit-identically (C136's
    primitive); the Laplace inverse CDF -b*sign(u)*ln(1-2|u|) is
    evaluated on the INTEGER m = 1e6 - 2*|1e6*u| via the D14-pinned
    micro-nat quantization ln_q(m) - ln_q(1e6), so the noise is an
    exact BIGINT in micro units and the released value is ONE float
    expression per cell, round(6). A production deployment would swap
    the seeded hash for a CSPRNG draw per release — the plumbing
    (sensitivity bookkeeping, integer noise ledger, audit column) is
    exactly this.

    Plan/scale: one events-scale groupBy with map-side combine; noise
    is O(|cells|) driver-free arithmetic. At 100 TB identical shape."""
    c = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isNotNull())
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_count"))
    )
    _h = _dp_hash_spark(f"concat('{_DP_SEED}|', event_type)")
    t = F.expr(f"({_h}) % 1000001 - 500000")
    n = c.select(
        "event_type",
        "exact_count",
        F.greatest(
            F.lit(1000000) - 2 * F.abs(t), F.lit(1)
        ).alias("m"),
        t.alias("t"),
    )
    noise = (
        -F.signum(F.col("t").cast("double")).cast("bigint")
        * F.lit(_DP_B_MICRO)
        * (
            F.expr("CAST(round(1000000 * ln(m)) AS BIGINT)")
            - F.lit(_LN_1E6_MICRO)
        )
    )
    z = n.select(
        "event_type",
        "exact_count",
        noise.cast("bigint").alias("noise_micro"),
    )
    return z.select(
        "event_type",
        "exact_count",
        "noise_micro",
        F.round(
            F.col("exact_count").cast("double")
            + F.col("noise_micro") / F.lit(1000000.0),
            6,
        ).alias("dp_count"),
    )
