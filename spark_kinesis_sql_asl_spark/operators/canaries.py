"""Canary queries: one fragile cross-engine primitive each (SURVEY.md §2
diagnostic rows D1–D6).

Round 2 produced 8 driver hash failures whose root causes were invisible
locally: DuckDB widening integer ``sum()`` to HUGEINT (pandas float64 vs
Spark int64), NULL-able aggregates promoting int columns to float64, and
float ``round()`` boundary behavior. Each canary below exercises exactly ONE
such primitive in its HARDENED form (the convention every production query
follows), over a tiny deterministic slice of the fixtures. If a future
driver round hash-fails a real query, the canary row for its primitives
says immediately whether the primitive convention or the query logic is at
fault. The driver's window takes each canary again once its last ledger row
is three rounds old (``registry.driver_order``).

All canaries are O(few hundred rows): key-modulus filters, never LIMIT
(LIMIT without a total order is nondeterministic under parallel scan).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from ..tables import table


@query(
    "q_canary_tok_split",
    oracle="""
    SELECT doc_id,
           len(string_split(coalesce(text, ''), ' ')) AS n_tok
    FROM documents WHERE doc_id % 97 = 0
    """,
)
def q_canary_tok_split(spark, sf_dir):
    """D1: the whitespace token-count primitive alone — NULL-safe
    ``size(split(coalesce(text,''),' '))`` vs DuckDB
    ``len(string_split(...))``, the expression shared by C29/C30/C31/C34."""
    return (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 97 == 0)
        .select(
            "doc_id",
            F.size(F.split(F.coalesce("text", F.lit("")), " ")).alias(
                "n_tok"
            ),
        )
    )


@query(
    "q_canary_floor_cents",
    oracle="""
    SELECT event_id,
           CAST(floor(coalesce(value, 0) * 100) AS BIGINT) AS cents
    FROM events WHERE event_id % 97 = 0
    """,
)
def q_canary_floor_cents(spark, sf_dir):
    """D2: the double→integer-cents primitive alone — NULL-guarded
    ``floor(value*100)`` cast to BIGINT on both engines (B88/B92's money
    representation)."""
    return (
        table(spark, sf_dir, "events")
        .where(F.col("event_id") % 97 == 0)
        .select(
            "event_id",
            F.floor(F.coalesce("value", F.lit(0.0)) * 100)
            .cast("bigint")
            .alias("cents"),
        )
    )


@query(
    "q_canary_int_sum",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(user_id) AS BIGINT) AS sum_uid
    FROM events GROUP BY event_type
    """,
)
def q_canary_int_sum(spark, sf_dir):
    """D3: the integer-sum dtype primitive alone — DuckDB widens bare
    ``sum(BIGINT)`` to HUGEINT, which pandas renders float64 while Spark
    returns int64 (THE round-2 failure class). The hardened convention is
    ``CAST(sum(...) AS BIGINT)`` in the oracle; this canary pins it."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("user_id").cast("bigint").alias("sum_uid"),
        )
    )


@query(
    "q_canary_range_frame",
    oracle="""
    SELECT event_id, user_id,
           count(*) OVER (
               PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW
           ) AS n_7d
    FROM events WHERE user_id % 37 = 0
    """,
)
def q_canary_range_frame(spark, sf_dir):
    """D4: the time-RANGE window frame alone — pure row counting over the
    ``INTERVAL 7 DAYS PRECEDING`` frame, no aggregate values, so a driver
    divergence here means the two engines disagree on frame *boundary
    inclusion*, not on arithmetic (isolates B88's frame from B88's sum)."""
    table(spark, sf_dir, "events").createOrReplaceTempView(
        "v_canary_rf_events"
    )
    return spark.sql(
        """
        SELECT event_id, user_id,
               count(*) OVER (
                   PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW
               ) AS n_7d
        FROM v_canary_rf_events WHERE user_id % 37 = 0
        """
    )


@query(
    "q_canary_round_double",
    oracle="""
    SELECT event_id,
           round(value / 7, 6) AS v7_r6,
           round(value * 1.0, 2) AS v_r2
    FROM events WHERE event_id % 97 = 0
    """,
)
def q_canary_round_double(spark, sf_dir):
    """D5: the double ``round(x, n)`` primitive alone — a long-decimal
    quotient rounded to 6 places plus a near-identity 2-place round. Spark
    rounds HALF_UP, DuckDB half-away-from-zero; both agree except at exact
    representational boundaries. A driver failure here (and nowhere else)
    means a real query's divergence is float-rounding, not logic."""
    return (
        table(spark, sf_dir, "events")
        .where(F.col("event_id") % 97 == 0)
        .select(
            "event_id",
            F.round(F.col("value") / 7, 6).alias("v7_r6"),
            F.round(F.col("value") * 1.0, 2).alias("v_r2"),
        )
    )


@query(
    "q_canary_filter_null_agg",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           coalesce(CAST(sum(CAST(floor(value * 100) AS BIGINT))
               FILTER (WHERE value < -1e17) AS BIGINT), -1) AS s_never,
           coalesce(CAST(sum(CAST(floor(value * 100) AS BIGINT))
               FILTER (WHERE value > 50) AS BIGINT), -1) AS s_some
    FROM events GROUP BY event_type
    """,
)
def q_canary_filter_null_agg(spark, sf_dir):
    """D6: the empty-set filtered aggregate alone — one column whose filter
    matches NOTHING (sum yields NULL on every engine) and one that matches
    some rows, both coalesced to a sentinel. Pins the B92 hardening: a NULL
    in a nullable int64 column promotes the whole column to float64 under
    pandas, so every NULL-able aggregate output must be coalesced."""
    table(spark, sf_dir, "events").createOrReplaceTempView(
        "v_canary_fn_events"
    )
    return spark.sql(
        """
        SELECT event_type,
               count(*) AS n,
               coalesce(CAST(sum(CAST(floor(value * 100) AS BIGINT))
                   FILTER (WHERE value < -1e17) AS BIGINT), -1) AS s_never,
               coalesce(CAST(sum(CAST(floor(value * 100) AS BIGINT))
                   FILTER (WHERE value > 50) AS BIGINT), -1) AS s_some
        FROM v_canary_fn_events GROUP BY event_type
        """
    )


@query(
    "q_canary_neg_div",
    oracle="""
    SELECT event_id,
           CAST(coalesce(CAST(floor(value * 100) AS BIGINT), 0) - 5000
               AS BIGINT) AS d,
           CAST((coalesce(CAST(floor(value * 100) AS BIGINT), 0) - 5000) // 7
               AS BIGINT) AS q7,
           CAST((coalesce(CAST(floor(value * 100) AS BIGINT), 0) - 5000) % 7
               AS BIGINT) AS r7
    FROM events
    WHERE event_id % 11 = 0
    """,
)
def q_canary_neg_div(spark, sf_dir):
    """D7: integer division and modulo on NEGATIVE operands alone. SQL
    engines split between truncate-toward-zero and floor semantics for
    `div`/`%` on negatives (Spark `div` and DuckDB `//` both truncate —
    verified by the C39 oracle match — but any regression here silently
    shifts every ppm/centroid output computed from a sum that can go
    negative). The dividend is shifted (cents - 5000) so BOTH signs occur
    on any fixture, including testdata whose raw values are all
    positive."""
    ev = table(spark, sf_dir, "events").where(F.col("event_id") % 11 == 0)
    d = "(coalesce(CAST(floor(value * 100) AS BIGINT), 0) - 5000)"
    return ev.select(
        "event_id",
        F.expr(f"CAST({d} AS BIGINT)").alias("d"),
        F.expr(f"CAST({d} div 7 AS BIGINT)").alias("q7"),
        F.expr(f"CAST({d} % 7 AS BIGINT)").alias("r7"),
    )


@query(
    "q_canary_decimal_sum",
    oracle="""
    WITH cents AS (
        SELECT l_orderkey,
               CAST(floor(l_extendedprice * 100) AS BIGINT) AS c
        FROM lineitem WHERE l_orderkey % 97 = 0
    ),
    dec AS (
        SELECT l_orderkey,
               CAST(CAST(c // 100 AS VARCHAR) || '.' ||
                    lpad(CAST(c % 100 AS VARCHAR), 2, '0')
                    AS DECIMAL(14,2)) AS amt
        FROM cents
    )
    SELECT l_orderkey,
           CAST(CAST(sum(amt) AS DECIMAL(18,2)) AS VARCHAR) AS total_s,
           CAST(round(CAST(sum(amt) AS DECIMAL(18,2)), 1) AS VARCHAR)
               AS total_r1_s
    FROM dec GROUP BY l_orderkey
    """,
)
def q_canary_decimal_sum(spark, sf_dir):
    """D8: the DecimalType primitive alone, in its HARDENED form. Three
    conventions under test, each forced by a measured cross-engine
    divergence:

    * CONSTRUCT decimals from exact sources only — integer cents (the D2
      floor primitive) rendered as a '<units>.<cc>' string, then
      string->DECIMAL cast (exact on both engines). A direct double->
      DECIMAL(12,2) cast DIVERGES at .5-ulp boundaries (measured: DuckDB
      1.115 -> 1.11 via the binary double, Spark -> 1.12 HALF_UP).
    * PIN the scale of every aggregate with an explicit CAST: Spark
      sum(DECIMAL(14,2)) widens to (24,2), DuckDB to (38,2), and division/
      avg render different scales entirely ('2.25' vs '2.250000').
    * CROSS THE DRIVER BOUNDARY AS STRING: DuckDB .df() renders DECIMAL as
      float64 while Spark collect yields decimal.Decimal (pandas object) —
      the driver's dtype-sensitive canon hashes 'f:1.23' vs 's:1.23' even
      when values agree, so a raw DECIMAL result column can NEVER match.

    Decimal round() itself agrees (half-away-from-zero: 2.25 -> 2.3,
    2.35 -> 2.4 on both engines), so round-then-stringify is safe."""
    li = table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 97 == 0)
    amt = (
        "CAST(concat(CAST(c div 100 AS STRING), '.', "
        "lpad(CAST(c % 100 AS STRING), 2, '0')) AS DECIMAL(14,2))"
    )
    return (
        li.select(
            "l_orderkey",
            F.expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").alias("c"),
        )
        .select("l_orderkey", F.expr(amt).alias("amt"))
        .groupBy("l_orderkey")
        .agg(
            F.expr(
                "CAST(CAST(sum(amt) AS DECIMAL(18,2)) AS STRING)"
            ).alias("total_s"),
            F.expr(
                "CAST(round(CAST(sum(amt) AS DECIMAL(18,2)), 1) AS STRING)"
            ).alias("total_r1_s"),
        )
    )


@query(
    "q_canary_string_order",
    oracle="""
    WITH k AS (
        SELECT doc_id,
               CASE doc_id % 5
                    WHEN 0 THEN upper(left(coalesce(text, ''), 8))
                    WHEN 1 THEN lower(left(coalesce(text, ''), 8))
                    WHEN 2 THEN 'é' || left(coalesce(text, ''), 4)
                    WHEN 3 THEN '~' || left(coalesce(text, ''), 4)
                    ELSE ' ' || left(coalesce(text, ''), 4)
               END AS k
        FROM documents WHERE doc_id % 53 = 0
    )
    SELECT doc_id, k,
           CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT) AS rk
    FROM k
    """,
)
def q_canary_string_order(spark, sf_dir):
    """D9: string ORDER BY collation alone. Every rank/top-k/limit query
    with a string tiebreak silently depends on both engines sorting
    strings identically; a locale-collating engine orders 'a' < 'Z' and
    'é' among the e's, binary (UTF-8 byte) order puts ALL uppercase before
    lowercase and multibyte chars last. Both engines use binary order
    (probed: '' < ' lead' < '0' < 'AB' < 'Z' < 'a' < 'zz' < '~' < 'ß' <
    'é' identically) — this canary pins that with case-mixed, leading-
    space, tilde (0x7E, last ASCII) and multibyte keys derived from the
    fixture text. The rank window is global but the slice is a few dozen
    rows by construction (doc_id % 53), so the single partition is
    harmless here — unlike production top-k, which must TakeOrdered."""
    k = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 53 == 0)
        .select(
            "doc_id",
            F.expr(
                "CASE CAST(doc_id % 5 AS INT) "
                "WHEN 0 THEN upper(left(coalesce(text, ''), 8)) "
                "WHEN 1 THEN lower(left(coalesce(text, ''), 8)) "
                "WHEN 2 THEN 'é' || left(coalesce(text, ''), 4) "
                "WHEN 3 THEN '~' || left(coalesce(text, ''), 4) "
                "ELSE ' ' || left(coalesce(text, ''), 4) END"
            ).alias("k"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy("k", "doc_id")
    return k.select(
        "doc_id", "k", F.row_number().over(w).cast("bigint").alias("rk")
    )


@query(
    "q_canary_empty_agg",
    oracle="""
    SELECT 'global' AS shape,
           CAST(count(*) AS BIGINT) AS n,
           coalesce(CAST(sum(o_totalprice * 0 + 1) AS BIGINT), -1) AS s,
           coalesce(CAST(max(o_orderkey) AS BIGINT), -1) AS mx
    FROM orders WHERE o_orderkey < 0
    UNION ALL
    SELECT 'grouped', CAST(count(*) AS BIGINT),
           coalesce(CAST(sum(1) AS BIGINT), -1),
           coalesce(CAST(max(o_orderkey) AS BIGINT), -1)
    FROM orders WHERE o_orderkey < 0 GROUP BY o_orderpriority
    """,
)
def q_canary_empty_agg(spark, sf_dir):
    """D10: aggregate-over-empty-input shape alone. SQL's most quietly
    divergent corner: a GLOBAL aggregate over zero rows returns EXACTLY
    ONE row (count 0, sum/max NULL — coalesced to -1 here so the NULL
    crosses the canon deterministically), while the SAME aggregate with a
    GROUP BY returns ZERO rows. Every incremental pipeline hits this the
    first day a delta batch is empty: a downstream join against the
    'grouped' shape silently drops, against the 'global' shape it
    produces a 0/-1 row. Both engines agree on both shapes — this canary
    pins that, so any future driver red on an empty-slice query localizes
    immediately."""
    empty = table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 0)
    g = empty.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.col("o_totalprice") * 0 + 1).cast("bigint"), F.lit(-1)
        ).alias("s"),
        F.coalesce(F.max("o_orderkey").cast("bigint"), F.lit(-1)).alias("mx"),
    ).select(F.lit("global").alias("shape"), "n", "s", "mx")
    gb = (
        empty.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.lit(1)).cast("bigint"), F.lit(-1)).alias("s"),
            F.coalesce(F.max("o_orderkey").cast("bigint"), F.lit(-1)).alias(
                "mx"
            ),
        )
        .select(F.lit("grouped").alias("shape"), "n", "s", "mx")
    )
    return g.unionByName(gb)


@query(
    "q_canary_try_arith",
    oracle="""
    SELECT event_id,
           CAST(floor(value * 100) AS BIGINT) AS cents,
           coalesce(CAST(floor(value * 100) AS BIGINT)
                    / nullif(CAST(event_id % 4 AS BIGINT), 0), -1.0)
               AS safe_ratio
    FROM events WHERE event_id % 29 = 0
    """,
)
def q_canary_try_arith(spark, sf_dir):
    """D11: ANSI-safe division alone. Spark 4 runs ANSI mode by default —
    a bare ``x / 0`` is a runtime DIVIDE_BY_ZERO crash mid-job, not a
    NULL, so every production ratio in this repo goes through
    ``try_divide`` (or an explicit ``nullif`` denominator, the
    safe_cosine convention). DuckDB has no try_divide; its oracle twin is
    ``x / nullif(y, 0)`` — this canary pins that the two spellings agree
    (including the NULL→coalesce(-1) rendering) on a denominator that is
    genuinely zero for every 4th row. Both sides divide BIGINTs into
    DOUBLE (Spark try_divide yields double; DuckDB int/int division is
    exact-per-row double), so per-row results are bit-identical."""
    ev = table(spark, sf_dir, "events").where(F.col("event_id") % 29 == 0)
    return ev.select(
        "event_id",
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
        F.expr(
            "coalesce(try_divide(CAST(floor(value * 100) AS BIGINT), "
            "CAST(event_id % 4 AS BIGINT)), -1.0)"
        ).alias("safe_ratio"),
    )


@query(
    "q_canary_nullable_bigint",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 3 = 0
                THEN CAST(floor(o_totalprice * 100) AS BIGINT)
           END AS maybe_cents
    FROM orders WHERE o_orderkey % 97 = 0
    """,
)
def q_canary_nullable_bigint(spark, sf_dir):
    """D12: a BIGINT column that is NULL on some rows — the shape C87's
    max_sel introduced. Both engines' pandas bridges promote a nullable
    int64 column to float64 (NaN has no int), so the driver compares
    float-rendered values built from EXACT integers on both sides; this
    canary pins that promotion round-trips identically (same 2^53-safe
    magnitudes, same NULL markers) with no production logic attached."""
    return (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 97 == 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 3 == 0,
                F.floor(F.col("o_totalprice") * 100).cast("bigint"),
            ).alias("maybe_cents"),
        )
    )


@query(
    "q_canary_month_trunc",
    oracle="""
    SELECT o_orderkey,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
           CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day
    FROM orders WHERE o_orderkey % 97 = 0
    """,
)
def q_canary_month_trunc(spark, sf_dir):
    """D13: date_trunc RESULT-TYPE divergence (round 7, found by B134):
    DuckDB's date_trunc('month'/'year', ...) returns DATE while Spark
    always returns TIMESTAMP — equal instants, different dtypes at the
    driver's pandas boundary. Every month-grain rollup (B134's MoM frame,
    any calendar report) must therefore CAST the oracle side to
    TIMESTAMP; this canary pins the pattern in isolation ('day'
    granularity rides along as the already-TIMESTAMP control) so a
    future hash-red on a monthly query localizes instantly."""
    return (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 97 == 0)
        .select(
            "o_orderkey",
            F.date_trunc("month", "o_orderdate").alias("month"),
            F.date_trunc("day", "o_orderdate").alias("day"),
        )
    )


@query(
    "q_canary_ln_quant",
    oracle="""
    SELECT o_orderkey,
           CAST(round(100 * o_totalprice) AS BIGINT) AS cents,
           CAST(round(1000000 * ln(round(100 * o_totalprice))) AS BIGINT)
               AS ln_q,
           round(exp(CAST(round(1000000 * ln(round(100 * o_totalprice)))
                          AS BIGINT) / 1000000.0), 6) AS exp_rt
    FROM orders
    WHERE o_orderkey % 97 = 0
      AND o_totalprice IS NOT NULL AND o_totalprice > 0
    """,
)
def q_canary_ln_quant(spark, sf_dir):
    """D14: natural-log micro-nat quantization parity (round 8, found
    necessary by B143/B149/C133): the transcendental-accumulation family
    rests on ONE assumption — that round(1e6 * ln(x)) of an exact
    integer x lands on the same BIGINT on both engines (the nearest
    round boundary sits ~1e6 ulps from any double ln result, so a 1-ulp
    libm divergence cannot flip it). This canary isolates exactly that
    primitive over a deterministic magnitude spread (a ~1% orderkey
    slice, cents spanning ~1e3..1e7), plus the exp() round-trip at the
    precision B149 emits (round 6). If Theil / Kaplan-Meier / any future
    log-space statistic ever reds driver-side, D14 localizes whether the
    libm assumption broke before anyone reads a 40-line plan."""
    return (
        table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderkey") % 97 == 0)
            & F.col("o_totalprice").isNotNull()
            & (F.col("o_totalprice") > 0)
        )
        .select(
            "o_orderkey",
            F.expr("CAST(round(100 * o_totalprice) AS BIGINT)").alias("cents"),
            F.expr(
                "CAST(round(1000000 * ln(round(100 * o_totalprice))) "
                "AS BIGINT)"
            ).alias("ln_q"),
            F.expr(
                "round(exp(CAST(round(1000000 * ln(round(100 * "
                "o_totalprice))) AS BIGINT) / 1000000.0), 6)"
            ).alias("exp_rt"),
        )
    )


# The first constant is the exact extendedprice sum-of-squares from sf0.1
# that exposed the class; the rest sweep the 2^64..2^90 split range.
_WIDEINT_PROBES = [
    22240711483861231690,
    18446744073709551617,  # 2^64 + 1
    36893488147419103233,  # 2^65 + 1
    1237940039285380274899124357,  # ~2^90 + odd tail
    4951760157141521099596496897,  # 2^92 + 1
]


@query(
    "q_canary_wideint_convert",
    oracle=f"""
    WITH probes(id, v) AS (
        VALUES {", ".join(f"({i}, CAST('{v}' AS DECIMAL(38,0)))" for i, v in enumerate(_WIDEINT_PROBES))}
    )
    SELECT id,
           CAST(v // 1099511627776 AS BIGINT) AS quot_2e40,
           CAST(v % 1099511627776 AS BIGINT) AS rem_2e40,
           round(CAST(CAST(v // 1099511627776 AS BIGINT) AS DOUBLE)
                 / 1048576.0, 6) AS as_float_safe
    FROM probes
    """,
)
def q_canary_wideint_convert(spark, sf_dir):
    """D15: wide-integer -> double QUANTIZE-BEFORE-CONVERT parity
    (round 8, found by B162's extendedprice variance at sf0.1): DuckDB
    double-rounds ~1.5% of >2^53 HUGEINT/DECIMAL(38,0)->DOUBLE casts
    (the conversion splits at 2^64 and rounds twice; Java's
    BigDecimal.doubleValue is correctly rounded), so a DIRECT cast of a
    wide exact integer to double is NOT driver-safe — measured: the
    first probe constant converts to 2.2240711483861234e19 in Spark
    and 2.224071148386123e19 in DuckDB. The safe pattern this canary
    pins: reduce the integer BELOW 2^53 first (integer div/mod — here
    by 2^40, keeping every quotient under 2^53), where conversion is exact on both engines, and derive any
    float from the reduced value. Production rule: O(1)-scale ratios
    of wide ints are safe (a 1-ulp operand misround is 1e-16 relative);
    LARGE-magnitude float outputs must be released as exact integer
    quotients (B162's cov_cents2_floor) or reduced before the cast.

    The probe list is constant (VALUES spine), so this canary is
    data-independent — it reds only if an engine changes conversion or
    integer div/mod behavior."""
    probes = spark.createDataFrame(
        [(i, str(v)) for i, v in enumerate(_WIDEINT_PROBES)],
        "id int, v string",
    ).select(F.col("id").cast("int").alias("id"), F.col("v").cast("decimal(38,0)").alias("v"))
    return probes.select(
        "id",
        F.expr("CAST(v div 1099511627776 AS BIGINT)").alias("quot_2e40"),
        F.expr("CAST(v % 1099511627776 AS BIGINT)").alias("rem_2e40"),
        F.round(
            F.expr("CAST(v div 1099511627776 AS BIGINT)").cast("double")
            / F.lit(1048576.0),
            6,
        ).alias("as_float_safe"),
    )


@query(
    "q_canary_unicode_case",
    oracle="""
    WITH k AS (
        SELECT doc_id,
               CASE doc_id % 4
                    WHEN 0 THEN 'café ' || left(coalesce(text, ''), 6)
                    WHEN 1 THEN 'ÅNGSTRÖM-' || left(coalesce(text, ''), 4)
                    WHEN 2 THEN 'ёжик œuf ' || left(coalesce(text, ''), 4)
                    ELSE 'ŁÓDŹ σίσυφο ' || left(coalesce(text, ''), 4)
               END AS k
        FROM documents WHERE doc_id % 59 = 0
    )
    SELECT doc_id, upper(k) AS uk, lower(k) AS lk,
           CAST(length(k) AS INTEGER) AS n_chars,
           CAST(length(upper(k)) AS INTEGER) AS n_chars_upper
    FROM k
    """,
)
def q_canary_unicode_case(spark, sf_dir):
    """D16: multibyte upper/lower/length parity (round 9). Any text
    operator that case-folds before hashing (C88's normalized dedup, C16
    langid markers, every lower(text) oracle) silently assumes both
    engines fold Unicode identically. Probed this session: they agree on
    accented Latin (é/Å/ö), ligatures (œ, ĳ, Æ), Cyrillic and non-final
    Greek — and DIVERGE on exactly three classes: German ß→'ẞ' (DuckDB)
    vs 'SS' (Spark/JVM), Turkish İ lowercase (DuckDB 'i', Spark 'i̇' with
    combining dot, same NFC-unequal bytes), and Greek final sigma
    (DuckDB 'σ', Spark 'ς' context-aware). This canary pins the SAFE
    subset with keys mixing all four agreeing classes against fixture
    text; the divergent trio must never reach a release column without
    explicit normalization (document in the operator, as C88 does with
    its regex-based normalizer). Tiny slice (doc_id % 59), scan-stage
    expressions only."""
    k = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 59 == 0)
        .select(
            "doc_id",
            F.expr(
                "CASE CAST(doc_id % 4 AS INT) "
                "WHEN 0 THEN concat('café ', left(coalesce(text, ''), 6)) "
                "WHEN 1 THEN concat('ÅNGSTRÖM-', left(coalesce(text, ''), 4)) "
                "WHEN 2 THEN concat('ёжик œuf ', left(coalesce(text, ''), 4)) "
                "ELSE concat('ŁÓDŹ σίσυφο ', left(coalesce(text, ''), 4)) END"
            ).alias("k"),
        )
    )
    return k.select(
        "doc_id",
        F.upper("k").alias("uk"),
        F.lower("k").alias("lk"),
        F.length("k").cast("int").alias("n_chars"),
        F.length(F.upper("k")).cast("int").alias("n_chars_upper"),
    )


@query(
    "q_canary_add_months",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS TIMESTAMP) AS d,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS eom,
           CAST(last_day(CAST(o_orderdate AS DATE)) + to_months(1)
                AS TIMESTAMP) AS eom_add1,
           CAST(last_day(CAST(o_orderdate AS DATE)) + to_months(-1)
                AS TIMESTAMP) AS eom_sub1,
           CAST(CAST(o_orderdate AS DATE) + to_months(13) AS TIMESTAMP)
               AS add13,
           CAST(DATE '2020-01-31'
                + to_months(CAST(o_orderkey % 50 AS INTEGER) - 12)
                AS TIMESTAMP) AS leap_probe,
           CAST((year(CAST(o_orderdate AS DATE) + to_months(13)) * 12
                 + month(CAST(o_orderdate AS DATE) + to_months(13)))
                - (year(o_orderdate) * 12 + month(o_orderdate))
                AS BIGINT) AS mon_diff
    FROM orders WHERE o_orderkey % 499 = 0 AND o_orderdate IS NOT NULL
    """,
)
def q_canary_add_months(spark, sf_dir):
    """D17: calendar month-arithmetic parity (round 10). Probed this
    session: Spark ``add_months`` and DuckDB ``+ to_months`` AGREE on
    every clamping edge — Jan 31 + 1 month → Feb 29/28 (clamp), Jan 30
    + 1 month → Feb 29 (double-clamp), Feb 29 − 1 month → Jan 29 (no
    end-of-month stickiness in either engine), Dec 31 + 13 months →
    Jan 31 — and ``last_day`` agrees everywhere, so month-shifted cohort
    keys (B94/B134 month grains) are driver-safe. The DIVERGENT class,
    pinned OUT of release columns: month *differences* — DuckDB
    ``datediff('month', Jan 31, Feb 1)`` counts boundary crossings
    (= 1), Spark ``months_between`` is fractional and end-of-month-aware
    (= 0.032…) — no shared primitive exists, so any month-distance
    column must use the explicit portable index ``year*12 + month``
    (the ``mon_diff`` column pins exactly that identity on shifted
    dates). Result types per D13: DuckDB interval-adds return TIMESTAMP
    while Spark ``add_months`` returns DATE — every column casts to
    TIMESTAMP on both sides. Fixture spine (o_orderkey % 499) plus a
    constructed leap-winter probe ±12 months around 2020-01-31; tiny
    slice, scan-stage expressions only."""
    base = F.col("o_orderdate").cast("date")
    add13 = F.add_months(base, 13)
    return (
        table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderkey") % 499 == 0)
            & F.col("o_orderdate").isNotNull()
        )
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("timestamp").alias("d"),
            F.last_day(base).cast("timestamp").alias("eom"),
            F.add_months(F.last_day(base), 1)
            .cast("timestamp")
            .alias("eom_add1"),
            F.add_months(F.last_day(base), -1)
            .cast("timestamp")
            .alias("eom_sub1"),
            add13.cast("timestamp").alias("add13"),
            F.add_months(
                F.lit("2020-01-31").cast("date"),
                (F.col("o_orderkey") % 50 - 12).cast("int"),
            )
            .cast("timestamp")
            .alias("leap_probe"),
            (
                (F.year(add13) * 12 + F.month(add13))
                - (F.year(base) * 12 + F.month(base))
            )
            .cast("bigint")
            .alias("mon_diff"),
        )
    )


@query(
    "q_canary_regex_subset",
    oracle="""
    WITH k AS (
        SELECT doc_id,
               concat('Cafe 42, the ro7de THE ',
                      left(coalesce(text, ''), 24), ' END') AS s
        FROM documents WHERE doc_id % 61 = 0
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(s, '[0-9]+')) AS BIGINT)
               AS digit_runs,
           CAST(len(regexp_extract_all(s, '\\bthe\\b')) AS BIGINT)
               AS word_bound,
           CAST(len(regexp_extract_all(s, '[a-z]+?')) AS BIGINT)
               AS lazy_runs,
           CAST(len(regexp_extract_all(s, '[a-z]*')) AS BIGINT)
               AS empty_runs,
           CAST(len(regexp_extract_all(s, '\\p{L}+')) AS BIGINT)
               AS uni_words,
           CAST(len(regexp_extract_all(s, '(?i)the')) AS BIGINT)
               AS ci_hits,
           CAST(len(regexp_extract_all(s, '\\s+')) AS BIGINT)
               AS ws_runs
    FROM k
    """,
)
def q_canary_regex_subset(spark, sf_dir):
    """D18: regexp-engine common-subset parity (round 10). Every text
    operator in Tier C leans on "the RE2/Java common subset" — this
    canary makes that subset an executable fact instead of a docstring
    convention. Probed this session, the engines AGREE on: greedy and
    LAZY quantifiers (+? — match counts identical), character classes,
    \\b word boundaries, \\s/\\w, Unicode \\p{{L}} classes, inline
    (?i) case-insensitive flags, and — the subtle one — EMPTY-match
    enumeration ([a-z]* yields the same empty-match positions on
    both). The DIVERGENT class, pinned OUT of all operators:
    lookahead/lookbehind and backreferences — RE2 (DuckDB) raises a
    parse error where Java (Spark) accepts them, so any such pattern
    fails LOUD on the oracle side rather than silently diverging;
    never ship one in a release column. Tiny slice (doc_id % 61),
    scan-stage expressions only; probe prefix mixes digits, mixed
    case, accents, and word-boundary bait."""
    k = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 61 == 0)
        .select(
            "doc_id",
            F.concat(
                F.lit("Cafe 42, the ro7de THE "),
                F.expr("left(coalesce(text, ''), 24)"),
                F.lit(" END"),
            ).alias("s"),
        )
    )

    def n(pat):
        return F.size(
            F.regexp_extract_all(F.col("s"), F.lit(pat), 0)
        ).cast("bigint")

    return k.select(
        "doc_id",
        n("[0-9]+").alias("digit_runs"),
        n("\\bthe\\b").alias("word_bound"),
        n("[a-z]+?").alias("lazy_runs"),
        n("[a-z]*").alias("empty_runs"),
        n("\\p{L}+").alias("uni_words"),
        n("(?i)the").alias("ci_hits"),
        n("\\s+").alias("ws_runs"),
    )


@query(
    "q_canary_array_semantics",
    oracle="""
    WITH k AS (
        SELECT event_id,
               CAST(1 + event_id % 5 AS BIGINT) AS m,
               string_split('c b a c b', ' ') AS toks
        FROM events WHERE event_id % 101 = 0
    ),
    arr AS (
        SELECT event_id, m, toks,
               range(1, CAST(m AS INTEGER) + 1, 1) AS sq
        FROM k
    )
    SELECT event_id,
           list_extract(sq, 1) AS first_el,
           list_extract(sq, -1) AS last_el,
           list_extract(sq, 100) AS oob_null,
           coalesce(array_to_string(list_slice(sq, 2, 11), ','), '')
               AS slice_clamped,
           coalesce(array_to_string(list_slice(sq, 100, 101), ','), '')
               AS slice_past_end,
           len(sq) AS n_el,
           list_position(sq, 3) AS pos_3,
           list_position(sq, 99) AS pos_missing,
           array_to_string(list_sort(list_distinct(toks)), ',')
               AS distinct_sorted,
           array_to_string(flatten([sq, sq]), ',') AS doubled,
           list_contains(sq, 2) AS has_2
    FROM arr
    """,
)
def q_canary_array_semantics(spark, sf_dir):
    """D19: array-primitive common-subset parity (round 11). Every Tier C
    operator leans on array machinery (split → slice → distinct →
    sort → position), so this canary pins the AGREEING subset in one
    place: 1-based indexing, negative (from-end) indexing,
    out-of-bounds access yielding NULL (Spark `element_at` under
    `try_element_at` semantics vs DuckDB `list_extract` — probed
    equal), slice clamping at both ends (Spark `slice(a, s, len)` vs
    DuckDB's end-inclusive `list_slice(a, s, s+len-1)` — same clamped
    result), `size`/`len`, found/not-found `array_position` (both
    return 0 on missing, never NULL), flatten, sequence stepping and
    membership — array-valued probes release as comma-joined strings
    (the B32/C27 flat-schema convention the driver canonicalizer
    requires). TWO divergent classes this canary documents:
    the EMPTY-ARRAY stringification (Spark ``array_join([])`` yields
    ``''``, DuckDB ``array_to_string([])`` yields NULL — probed
    divergent; the pinned safe oracle form is
    ``coalesce(array_to_string(...), '')``), and the
    ORDER of `array_distinct`/`list_distinct` (Spark keeps first
    occurrence, DuckDB does not — probed divergent on the same input),
    so a distinct array may only be released through `array_sort` (the
    `distinct_sorted` column pins the safe composed form) or consumed
    as a SET (sizes, intersections — the C2 idiom). OOB access note:
    the bare-session default is ANSI mode, where Spark `element_at`
    THROWS on out-of-bounds — the pinned safe form is `try_element_at`,
    which this canary uses."""
    k = (
        table(spark, sf_dir, "events")
        .where(F.col("event_id") % 101 == 0)
        .select(
            "event_id",
            (F.lit(1) + F.col("event_id") % 5).cast("bigint").alias("m"),
            F.split(F.lit("c b a c b"), " ").alias("toks"),
        )
    )
    arr = k.select(
        "event_id",
        "toks",
        F.expr("sequence(1, CAST(m AS INT), 1)").alias("sq"),
    )
    return arr.select(
        "event_id",
        F.expr("try_element_at(sq, 1)").alias("first_el"),
        F.expr("try_element_at(sq, -1)").alias("last_el"),
        F.expr("try_element_at(sq, 100)").alias("oob_null"),
        F.expr("array_join(slice(sq, 2, 10), ',')").alias("slice_clamped"),
        F.expr("array_join(slice(sq, 100, 2), ',')").alias(
            "slice_past_end"
        ),
        F.size("sq").cast("bigint").alias("n_el"),
        F.expr("array_position(sq, 3)").alias("pos_3"),
        F.expr("array_position(sq, 99)").alias("pos_missing"),
        F.expr("array_join(array_sort(array_distinct(toks)), ',')").alias(
            "distinct_sorted"
        ),
        F.expr("array_join(flatten(array(sq, sq)), ',')").alias("doubled"),
        F.expr("array_contains(sq, 2)").alias("has_2"),
    )
