"""Oracled Tier A queries over the Kinesis record envelope (SURVEY.md §2
rows A6 q_kinesis_schema, A7 q_kinesis_decode_json).

The envelope is built from the events fixture (the decoded-stream analog,
§1.3); the oracle recomputes the same values straight from events.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from ..tables import table
from .envelope import decode_json_payload, wrap_events


@query(
    "q_kinesis_schema",
    oracle="""
    SELECT props AS data_str,
           'events' AS stream_name,
           CAST(user_id AS VARCHAR) AS partition_key,
           CAST(event_id AS VARCHAR) AS sequence_number,
           ts AS arrival_ts
    FROM events
    """,
)
def q_kinesis_schema(spark, sf_dir):
    # A6 record→row: envelope columns, payload rendered back to string so
    # the oracle compares text not blobs.
    records = wrap_events(table(spark, sf_dir, "events"))
    return records.select(
        F.col("data").cast("string").alias("data_str"),
        F.col("streamName").alias("stream_name"),
        F.col("partitionKey").alias("partition_key"),
        F.col("sequenceNumber").alias("sequence_number"),
        F.col("approximateArrivalTimestamp").alias("arrival_ts"),
    )


@query(
    "q_kinesis_decode_json",
    oracle="""
    SELECT CAST(user_id AS VARCHAR) AS partition_key,
           count(*) AS n_records,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER))
                AS BIGINT) AS sum_k,
           min(ts) AS first_arrival,
           max(ts) AS last_arrival
    FROM events
    GROUP BY user_id
    """,
)
def q_kinesis_decode_json(spark, sf_dir):
    # A7 payload decode + per-partition-key rollup — the canonical "consume
    # a Kinesis stream with SQL" query shape.
    records = decode_json_payload(wrap_events(table(spark, sf_dir, "events")))
    return records.groupBy("partitionKey").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum("k_val").cast("bigint").alias("sum_k"),
        F.min("approximateArrivalTimestamp").alias("first_arrival"),
        F.max("approximateArrivalTimestamp").alias("last_arrival"),
    ).select(
        F.col("partitionKey").alias("partition_key"),
        "n_records",
        "sum_k",
        "first_arrival",
        "last_arrival",
    )


@query(
    "q_kinesis_replay_window",
    oracle="""
    WITH b AS (SELECT min(ts) AS t0 FROM events)
    SELECT CAST(event_id AS VARCHAR) AS sequence_number,
           CAST(user_id AS VARCHAR) AS partition_key,
           ts AS arrival_ts
    FROM events, b
    WHERE ts >= b.t0 + INTERVAL 1 DAY AND ts < b.t0 + INTERVAL 3 DAY
    """,
)
def q_kinesis_replay_window(spark, sf_dir):
    """A4 batch twin: AT_TIMESTAMP start-position semantics through the
    oracled path (not only harness asserts). A consumer positioned
    AT_TIMESTAMP t0+1d and stopped before t0+3d sees exactly the envelope
    records whose approximateArrivalTimestamp falls in [t0+1d, t0+3d) — the
    replay-window filter a backfill/reprocessing job runs. The stream-epoch
    anchor t0 is a 1-row broadcast aggregate (no fact-table shuffle; the
    arrival-ts predicate is evaluated scan-side), matching how a real resume
    point is resolved once on the driver and shipped to every shard reader."""
    records = wrap_events(table(spark, sf_dir, "events"))
    bounds = records.agg(
        F.min("approximateArrivalTimestamp").alias("t0")
    )
    return (
        records.join(F.broadcast(bounds))
        .where(
            (
                F.col("approximateArrivalTimestamp")
                >= F.col("t0") + F.expr("INTERVAL 1 DAY")
            )
            & (
                F.col("approximateArrivalTimestamp")
                < F.col("t0") + F.expr("INTERVAL 3 DAY")
            )
        )
        .select(
            F.col("sequenceNumber").alias("sequence_number"),
            F.col("partitionKey").alias("partition_key"),
            F.col("approximateArrivalTimestamp").alias("arrival_ts"),
        )
    )


@query(
    "q_kinesis_decode_csv",
    oracle="""
    SELECT event_id,
           event_type,
           round(value, 6) AS value,
           CAST(user_id AS VARCHAR) AS partition_key
    FROM events
    """,
)
def q_kinesis_decode_csv(spark, sf_dir):
    """A7 (CSV variant): schema-on-read decode of a CSV payload with
    `from_csv` — the other decode path the connector family's README shows.
    The envelope is produced with a CSV payload in-query (the fixture's
    stream analog carries JSON), then decoded back to typed columns; the
    oracle states the identity straight from events."""
    ev = table(spark, sf_dir, "events")
    # coalesce each field before concat_ws: concat_ws SKIPS null args, which
    # would shift every later CSV field left by one; an empty field instead
    # round-trips to NULL under from_csv's default nullValue.
    records = ev.select(
        F.encode(
            F.concat_ws(
                ",",
                F.col("event_id").cast("string"),
                F.coalesce(F.col("event_type"), F.lit("")),
                F.coalesce(F.col("value").cast("string"), F.lit("")),
            ),
            "UTF-8",
        ).alias("data"),
        F.col("user_id").cast("string").alias("partitionKey"),
    )
    decoded = records.select(
        F.from_csv(
            F.col("data").cast("string"),
            "event_id BIGINT, event_type STRING, value DOUBLE",
        ).alias("p"),
        "partitionKey",
    )
    return decoded.select(
        F.col("p.event_id").alias("event_id"),
        F.col("p.event_type").alias("event_type"),
        F.round("p.value", 6).alias("value"),
        F.col("partitionKey").alias("partition_key"),
    )


@query(
    "q_kinesis_shard_route",
    oracle="""
    SELECT (instr('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 32, 1)) - 1) % 4
               AS shard,
           count(*) AS n_records,
           count(DISTINCT user_id) AS n_keys
    FROM events
    GROUP BY 1
    """,
)
def q_kinesis_shard_route(spark, sf_dir):
    """A5 (oracled): the MD5-ring shard routing rule itself — per-shard
    record and key counts for a 4-shard stream. staging._route assigns
    shard = int(md5(pk), 16) % n; for n = 4 only the LAST hex digit matters
    (16^k ≡ 0 mod 4 for k ≥ 1), so the rule is exactly expressible in both
    engines as (hex digit value of md5[32]) % 4 — the oracle checks the
    routing arithmetic, not just a count. tests/test_kinesis_source.py pins
    this expression ≡ staging._route on the same keys."""
    ev = table(spark, sf_dir, "events")
    digit = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.encode(F.col("user_id").cast("string"), "UTF-8")), 32, 1),
        )
        - 1
    )
    return (
        ev.select((digit % 4).alias("shard"), "user_id")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.countDistinct("user_id").alias("n_keys"),
        )
    )


# --- A13: resharding plan (UpdateShardCount / split-merge planning) ----------

_RESHARD_N = 16  # modeled open shards = one md5 hex digit of the ring
# split when a shard carries >= 3/2 the mean load (cross-multiplied as
# 2 * n * N >= 3 * total — no float mean at the decision boundary)
_RESHARD_HOT_NUM = 3
_RESHARD_HOT_DEN = 2
_RESHARD_COLD_DIV = 2  # merge a pair when BOTH carry <= 1/2 the mean


@query(
    "q_kinesis_reshard_plan",
    oracle=f"""
    WITH routed AS (
        SELECT (instr('0123456789abcdef',
                      substr(md5(CAST(user_id AS VARCHAR)), 32, 1)) - 1)
                   % {_RESHARD_N} AS shard
        FROM events
    ),
    counts AS (
        SELECT CAST(shard AS BIGINT) AS shard,
               CAST(count(*) AS BIGINT) AS n_records
        FROM routed GROUP BY shard
    ),
    tot AS (SELECT CAST(sum(n_records) AS BIGINT) AS total FROM counts),
    partnered AS (
        SELECT c.shard, c.n_records,
               p.n_records AS partner_records, t.total
        FROM counts c
        JOIN counts p ON p.shard = c.shard + 1 - 2 * (c.shard % 2)
        CROSS JOIN tot t
    )
    SELECT shard, n_records,
           CAST((1000000 * n_records) // total AS BIGINT) AS share_ppm,
           CASE
               WHEN {_RESHARD_HOT_DEN} * n_records * {_RESHARD_N}
                    >= {_RESHARD_HOT_NUM} * total THEN 'split'
               WHEN n_records * {_RESHARD_N} * {_RESHARD_COLD_DIV} <= total
                AND partner_records * {_RESHARD_N} * {_RESHARD_COLD_DIV}
                    <= total THEN 'merge'
               ELSE 'keep' END AS action
    FROM partnered
    """,
)
def q_kinesis_reshard_plan(spark, sf_dir):
    """A13: RESHARDING plan — the split/merge decision table a Kinesis
    operator feeds to SplitShard/MergeShards (or UpdateShardCount): per
    modeled shard of a {_RESHARD_N}-shard stream (the A5 md5-ring rule,
    one hex digit of the ring), its record load, traffic share and the
    planned action. Rules are the standard capacity ones, exact integer
    cross-multiplied (no float mean at a decision boundary): SPLIT a
    shard at >= {_RESHARD_HOT_NUM}/{_RESHARD_HOT_DEN}x the mean load; MERGE a hash-range-
    ADJACENT pair (2i, 2i+1 — the only pairs MergeShards accepts) when
    BOTH run at <= 1/{_RESHARD_COLD_DIV} the mean. Partner lookup is the
    arithmetic involution shard + 1 - 2*(shard % 2), so the plan is
    engine-pure SQL — no driver-side loop, and the same query audits a
    real stream's enhanced-monitoring output unchanged.

    Scale: one events-scale rollup to {_RESHARD_N} rows (map-side
    combined); the partner join and total broadcast run on the
    {_RESHARD_N}-row frame. The routing expression is the A5-pinned
    md5-ring digit, so plan rows reconcile with q_kinesis_shard_route."""
    ev = table(spark, sf_dir, "events")
    digit = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(
                F.md5(F.encode(F.col("user_id").cast("string"), "UTF-8")),
                32,
                1,
            ),
        )
        - 1
    )
    counts = (
        ev.select((digit % _RESHARD_N).cast("bigint").alias("shard"))
        .groupBy("shard")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_records"))
    )
    tot = F.broadcast(
        counts.agg(F.sum("n_records").cast("bigint").alias("total"))
    )
    partner = counts.select(
        F.col("shard").alias("p_shard"),
        F.col("n_records").alias("partner_records"),
    )
    partnered = (
        counts.join(
            F.broadcast(partner),
            F.col("p_shard")
            == F.col("shard") + 1 - 2 * (F.col("shard") % 2),
        )
        .crossJoin(tot)
    )
    hot = (
        _RESHARD_HOT_DEN * F.col("n_records") * _RESHARD_N
        >= _RESHARD_HOT_NUM * F.col("total")
    )
    cold = (
        F.col("n_records") * _RESHARD_N * _RESHARD_COLD_DIV
        <= F.col("total")
    ) & (
        F.col("partner_records") * _RESHARD_N * _RESHARD_COLD_DIV
        <= F.col("total")
    )
    return partnered.select(
        "shard",
        "n_records",
        F.expr("CAST((1000000 * n_records) div total AS BIGINT)").alias(
            "share_ppm"
        ),
        F.when(hot, F.lit("split"))
        .when(cold, F.lit("merge"))
        .otherwise(F.lit("keep"))
        .alias("action"),
    )


# --- A14: per-shard throughput / throttle audit --------------------------------

# AWS Kinesis service quotas per shard: 1000 records/s or 1 MiB/s write.
_QUOTA_RPS = 1_000
_QUOTA_BPS = 1_048_576
_AUDIT_SHARDS = 4  # the A5 md5-ring route


@query(
    "q_kinesis_throughput_audit",
    oracle=f"""
    WITH routed AS (
        SELECT (instr('0123456789abcdef',
                      substr(md5(CAST(user_id AS VARCHAR)), 32, 1)) - 1)
                   % {_AUDIT_SHARDS} AS shard,
               epoch_us(ts) // 1000000 AS sec,
               length(coalesce(props, '')) AS n_bytes
        FROM events WHERE ts IS NOT NULL
    ),
    per_sec AS (
        SELECT shard, sec,
               CAST(count(*) AS BIGINT) AS rps,
               CAST(sum(n_bytes) AS BIGINT) AS bps
        FROM routed GROUP BY shard, sec
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_active_seconds,
           CAST(max(rps) AS BIGINT) AS peak_rps,
           CAST(max(bps) AS BIGINT) AS peak_bps,
           CAST(sum(CASE WHEN rps > {_QUOTA_RPS}
                          OR bps > {_QUOTA_BPS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_throttle_seconds,
           CAST((1000000 * max(rps)) // {_QUOTA_RPS} AS BIGINT)
               AS peak_rps_quota_ppm,
           CAST((1000000 * max(bps)) // {_QUOTA_BPS} AS BIGINT)
               AS peak_bps_quota_ppm
    FROM per_sec GROUP BY shard ORDER BY shard
    """,
)
def q_kinesis_throughput_audit(spark, sf_dir):
    """A14: per-shard write-throughput audit against the Kinesis service
    quotas (1000 records/s, 1 MiB/s per shard) — the capacity question an
    operator answers BEFORE A13's reshard plan acts: which shards burst
    near their ProvisionedThroughputExceeded limits, when, and by how
    much. Records route by the A5 md5-ring rule (plan rows reconcile with
    q_kinesis_shard_route); per-(shard, second) records and payload bytes
    roll up map-side combined, then a {_AUDIT_SHARDS}-row per-shard
    summary releases active seconds, peak rps/Bps, throttled-second
    counts, and peak-over-quota floor-ppm (exact integer
    cross-multiplication — no float at the quota boundary). On a real
    stream the same query audits enhanced-monitoring output unchanged;
    here payload bytes are the decoded-envelope analog (length of the
    props payload, the A6 data column's source). Two aggregations, both
    keyed on bounded domains ((shard, second) then shard); nothing wider
    than the event scan itself."""
    ev = table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    digit = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(
                F.md5(F.encode(F.col("user_id").cast("string"), "UTF-8")),
                32,
                1,
            ),
        )
        - 1
    )
    routed = ev.select(
        (digit % _AUDIT_SHARDS).alias("shard"),
        F.expr("unix_micros(ts) div 1000000").alias("sec"),
        F.length(F.coalesce(F.col("props"), F.lit(""))).alias("n_bytes"),
    )
    per_sec = routed.groupBy("shard", "sec").agg(
        F.count(F.lit(1)).cast("bigint").alias("rps"),
        F.sum("n_bytes").cast("bigint").alias("bps"),
    )
    throttled = (
        (F.col("rps") > _QUOTA_RPS) | (F.col("bps") > _QUOTA_BPS)
    ).cast("bigint")
    return (
        per_sec.groupBy(F.col("shard").cast("bigint").alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_active_seconds"),
            F.max("rps").cast("bigint").alias("peak_rps"),
            F.max("bps").cast("bigint").alias("peak_bps"),
            F.sum(throttled).cast("bigint").alias("n_throttle_seconds"),
            F.expr(f"(1000000 * max(rps)) div {_QUOTA_RPS}")
            .cast("bigint")
            .alias("peak_rps_quota_ppm"),
            F.expr(f"(1000000 * max(bps)) div {_QUOTA_BPS}")
            .cast("bigint")
            .alias("peak_bps_quota_ppm"),
        )
        .orderBy("shard")
    )


# --- A15: consumer lag audit (iterator age / MillisBehindLatest analog) -------

_LAG_N_SHARDS = 16  # the A13 modeled ring
_LAG_CKPT_NUM = 9  # checkpoint at the (9/10 * n)-th record per shard
_LAG_CKPT_DEN = 10


@query(
    "q_kinesis_lag_audit",
    oracle=f"""
    WITH routed AS (
        SELECT (instr('0123456789abcdef',
                      substr(md5(CAST(user_id AS VARCHAR)), 32, 1)) - 1)
                   % {_LAG_N_SHARDS} AS shard,
               ts, event_id
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    ranked AS (
        SELECT shard, ts, event_id,
               row_number() OVER (
                   PARTITION BY shard ORDER BY ts, event_id) AS rn,
               count(*) OVER (PARTITION BY shard) AS n
        FROM routed
    ),
    ckpt AS (
        SELECT shard, CAST(n AS BIGINT) AS n_records, ts AS ckpt_ts,
               CAST(n - rn AS BIGINT) AS records_behind
        FROM ranked
        WHERE rn = greatest(1, ({_LAG_CKPT_NUM} * n) // {_LAG_CKPT_DEN})
    ),
    tips AS (
        SELECT shard, max(ts) AS tip_ts FROM routed GROUP BY shard
    ),
    g AS (SELECT max(ts) AS latest_ts FROM routed)
    SELECT c.shard, c.n_records,
           CAST(epoch_us(c.ckpt_ts) AS BIGINT) AS ckpt_us,
           c.records_behind,
           CAST((epoch_us(t.tip_ts) - epoch_us(c.ckpt_ts)) // 1000
               AS BIGINT) AS millis_behind_tip,
           CAST((epoch_us(g.latest_ts) - epoch_us(c.ckpt_ts)) // 1000
               AS BIGINT) AS millis_behind_latest
    FROM ckpt c JOIN tips t USING (shard) CROSS JOIN g
    """,
)
def q_kinesis_lag_audit(spark, sf_dir):
    """A15: consumer LAG audit — the offline analog of the two CloudWatch
    signals every Kinesis operator alarms on: per-shard iterator age
    (``GetRecords.IteratorAgeMilliseconds``) and ``MillisBehindLatest``.
    The stream is the A5/A13 modeled {_LAG_N_SHARDS}-shard md5 ring; the
    consumer's CHECKPOINT per shard is modeled deterministically as the
    ({_LAG_CKPT_NUM}/{_LAG_CKPT_DEN}·n)-th record in (ts, event_id)
    arrival order — a consumer that has acked 90% of the shard. Released
    per shard: record count, checkpoint micros, records behind the
    checkpoint, ms behind the shard TIP (iterator age) and ms behind the
    GLOBAL latest record (MillisBehindLatest — differs from tip lag on
    cold shards whose tip itself is old). All BIGINT; order ties broken
    by the (ts, event_id) lexicographic rule every sequence operator in
    this package pins.

    Plan/scale: routing is a scan expression; the rank and count windows
    partition BY SHARD (state = one row per shard-task); records-behind
    falls out of the rank identity n − rn at the checkpoint row — no
    second pass, no self-join on records. At 100 TB the whole audit is
    one pass over the consumed window plus {_LAG_N_SHARDS}-row joins —
    the same shape the real connector's metrics emitter would use."""
    digit = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(
                F.md5(F.encode(F.col("user_id").cast("string"), "UTF-8")),
                32,
                1,
            ),
        )
        - 1
    )
    routed = (
        table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            (digit % _LAG_N_SHARDS).cast("bigint").alias("shard"),
            "ts",
            "event_id",
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy("ts", "event_id")
    wn = Window.partitionBy("shard")
    ranked = routed.select(
        "shard",
        "ts",
        "event_id",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    ckpt = ranked.where(
        F.col("rn")
        == F.greatest(
            F.lit(1),
            # BIGINT, not INT: n is a per-shard BIGINT count, and 9*n
            # overflows INT32 past ~238M records/shard while the DuckDB
            # oracle stays BIGINT (ADVICE r13); row_number() compares
            # fine against a long.
            F.expr(
                f"CAST(({_LAG_CKPT_NUM} * n) div {_LAG_CKPT_DEN} AS BIGINT)"
            ),
        )
    ).select(
        "shard",
        F.col("n").cast("bigint").alias("n_records"),
        F.col("ts").alias("ckpt_ts"),
        (F.col("n") - F.col("rn")).cast("bigint").alias("records_behind"),
    )
    tips = routed.groupBy("shard").agg(F.max("ts").alias("tip_ts"))
    g = routed.agg(F.max("ts").alias("latest_ts"))
    return (
        ckpt.join(F.broadcast(tips), "shard")
        .crossJoin(F.broadcast(g))
        .select(
            "shard",
            "n_records",
            F.unix_micros("ckpt_ts").alias("ckpt_us"),
            "records_behind",
            F.expr(
                "CAST((unix_micros(tip_ts) - unix_micros(ckpt_ts))"
                " div 1000 AS BIGINT)"
            ).alias("millis_behind_tip"),
            F.expr(
                "CAST((unix_micros(latest_ts) - unix_micros(ckpt_ts))"
                " div 1000 AS BIGINT)"
            ).alias("millis_behind_latest"),
        )
    )


# --- A16: partition-key hot-key audit ----------------------------------------

# a key is HOT when it carries >= _HOTKEY_MULT x its fair share of the
# shard's records (cross-multiplied: top_cnt * n_keys >= MULT * n_records)
_HOTKEY_MULT = 10


@query(
    "q_kinesis_hotkey_audit",
    oracle=f"""
    WITH routed AS (
        SELECT (instr('0123456789abcdef',
                      substr(md5(CAST(user_id AS VARCHAR)), 32, 1)) - 1)
                   % {_RESHARD_N} AS shard,
               user_id
        FROM events
    ),
    per_key AS (
        SELECT CAST(shard AS BIGINT) AS shard, user_id,
               CAST(count(*) AS BIGINT) AS c
        FROM routed GROUP BY 1, 2
    ),
    ranked AS (
        SELECT shard, user_id, c,
               row_number() OVER (PARTITION BY shard
                                  ORDER BY c DESC, user_id) AS rn
        FROM per_key
    ),
    per_shard AS (
        SELECT shard,
               CAST(sum(c) AS BIGINT) AS n_records,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(c * c) AS BIGINT) AS sum_c2
        FROM per_key GROUP BY shard
    )
    SELECT s.shard, s.n_records, s.n_keys,
           r.user_id AS top_key, r.c AS top_cnt,
           CAST((1000000 * r.c) // s.n_records AS BIGINT) AS top_share_ppm,
           CAST((1000000 * s.sum_c2) // (s.n_records * s.n_records)
                AS BIGINT) AS hhi_ppm,
           r.c * s.n_keys >= {_HOTKEY_MULT} * s.n_records AS is_hot
    FROM per_shard s JOIN ranked r ON r.shard = s.shard AND r.rn = 1
    """,
)
def q_kinesis_hotkey_audit(spark, sf_dir):
    """A16: partition-key HOT-KEY audit — the diagnosis that runs when
    A14 shows a shard throttling while the stream average is fine:
    Kinesis hashes the partition key, so ONE hot key pins a whole shard
    at its 1 MB/s / 1000 rps ceiling and no UpdateShardCount fixes it
    (the key still lands on a single shard — the classic
    ProvisionedThroughputExceeded postmortem; the fix is key salting,
    which A13's plan cannot see without this table). Per modeled shard
    of the A5/A13 {_RESHARD_N}-shard md5 ring: record/key counts, the
    top key (deterministic (count desc, key) tie-break), its traffic
    share, the within-shard Herfindahl concentration index, and the
    hot flag at the {_HOTKEY_MULT}x-fair-share threshold — decided by
    exact integer cross-multiplication, never a float share.

    Cross-engine float shape: NO float — counts and Σc² are BIGINT,
    shares are exact ppm floor-divs (Σc² ≤ n² keeps 1e6·Σc² inside
    BIGINT up to n ≈ 3e6 records/shard at the tested SFs; at stream
    scale compute the HHI on ppm-quantized shares instead — documented
    convention), the flag is a cross-multiplied inequality. Plan/scale:
    routing is a scan expression; ONE (shard, key) hash aggregate
    collapses the stream, the rank window partitions BY SHARD over
    per-key rows, and the release is {_RESHARD_N} rows."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    digit = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(
                F.md5(F.encode(F.col("user_id").cast("string"), "UTF-8")),
                32,
                1,
            ),
        )
        - 1
    )
    per_key = (
        ev.select((digit % _RESHARD_N).cast("bigint").alias("shard"), "user_id")
        .groupBy("shard", "user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w = Window.partitionBy("shard").orderBy(
        F.col("c").desc(), F.col("user_id")
    )
    ranked = per_key.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    per_shard = per_key.groupBy("shard").agg(
        F.sum("c").cast("bigint").alias("n_records"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_c2"),
    )
    return per_shard.join(
        ranked.select("shard", "user_id", "c"), "shard"
    ).select(
        "shard",
        "n_records",
        "n_keys",
        F.col("user_id").alias("top_key"),
        F.col("c").alias("top_cnt"),
        F.expr("CAST((1000000 * c) div n_records AS BIGINT)").alias(
            "top_share_ppm"
        ),
        F.expr(
            "CAST((1000000 * sum_c2) div (n_records * n_records) AS BIGINT)"
        ).alias("hhi_ppm"),
        (
            F.col("c") * F.col("n_keys")
            >= F.lit(_HOTKEY_MULT) * F.col("n_records")
        ).alias("is_hot"),
    )


# --- A17: enhanced fan-out consumer plan (round 12) ---------------------------

_EFO_N_SHARDS = 16
_EFO_ENVELOPE_BYTES = 64  # modeled per-record envelope overhead (key+seq+ts)
_EFO_SHARED_BPH = 2_000_000 * 3600  # shared read pipe per shard, bytes/HOUR
_EFO_CONSUMERS = 3  # modeled consumer-group count sharing the stream


@query(
    "q_kinesis_efo_plan",
    oracle=f"""
    WITH routed AS (
        SELECT (instr('0123456789abcdef',
                      substr(md5(CAST(user_id AS VARCHAR)), 32, 1)) - 1)
                   % {_EFO_N_SHARDS} AS shard,
               date_trunc('hour', ts) AS hr,
               length(coalesce(props, '')) + {_EFO_ENVELOPE_BYTES} AS bytes
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    hourly AS (
        SELECT CAST(shard AS BIGINT) AS shard, hr,
               CAST(sum(bytes) AS BIGINT) AS hr_bytes,
               CAST(count(*) AS BIGINT) AS hr_records
        FROM routed GROUP BY shard, hr
    ),
    per_shard AS (
        SELECT shard,
               CAST(sum(hr_records) AS BIGINT) AS n_records,
               CAST(sum(hr_bytes) AS BIGINT) AS n_bytes,
               CAST(count(*) AS BIGINT) AS n_hours,
               CAST(max(hr_bytes) AS BIGINT) AS peak_hr_bytes
        FROM hourly GROUP BY shard
    )
    SELECT shard, n_records, n_bytes, n_hours, peak_hr_bytes,
           CAST((1000000 * peak_hr_bytes * n_hours) // n_bytes AS BIGINT)
               AS burst_ppm,
           CAST((1000000 * {_EFO_CONSUMERS} * peak_hr_bytes)
                // {_EFO_SHARED_BPH} AS BIGINT) AS shared_util_ppm,
           CAST(CASE WHEN {_EFO_CONSUMERS} * peak_hr_bytes
                          > {_EFO_SHARED_BPH}
                     THEN 1 ELSE 0 END AS INT) AS efo_required
    FROM per_shard
    """,
)
def q_kinesis_efo_plan(spark, sf_dir):
    """A17: ENHANCED FAN-OUT consumer plan — the
    RegisterStreamConsumer-or-not decision table (round 12). Kinesis
    gives a shard 2 MB/s of SHARED read throughput across all classic
    consumers; enhanced fan-out gives each registered consumer its own
    2 MB/s pipe. Per modeled shard (the A5 md5-ring, {_EFO_N_SHARDS}
    shards), this audit releases: record/byte volume (record bytes
    modeled as payload length + {_EFO_ENVELOPE_BYTES}B envelope — key,
    sequence number, timestamp), the PEAK-hour byte demand (capacity
    planning sizes to peak, not mean), the peak-to-mean BURSTINESS in
    ppm (peak_hr_bytes · n_hours / n_bytes — the scale-free signal: a
    bursty shard tips into EFO territory long before a smooth one of
    equal volume), the shared-pipe utilization in ppm at the modeled
    {_EFO_CONSUMERS}-consumer group against the 2 MB/s × 3600 hourly
    pipe, and an integer efo_required flag (group demand exceeds the
    shared pipe in the peak hour). All decisions are exact integer
    floor-div / cross-multiplication — no float at a boundary (the A13
    discipline).

    Scale: one events-scale (shard, hour) rollup (map-side combined,
    calendar-bounded), then a {_EFO_N_SHARDS}-row release — the same
    shape CloudWatch enhanced monitoring emits, so the query audits a
    real stream's metrics table unchanged."""
    ev = table(spark, sf_dir, "events")
    digit = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(
                F.md5(F.encode(F.col("user_id").cast("string"), "UTF-8")),
                32,
                1,
            ),
        )
        - 1
    )
    routed = ev.where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    ).select(
        (digit % _EFO_N_SHARDS).cast("bigint").alias("shard"),
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        (
            F.length(F.coalesce(F.col("props"), F.lit("")))
            + _EFO_ENVELOPE_BYTES
        ).alias("bytes"),
    )
    hourly = routed.groupBy("shard", "hr").agg(
        F.sum("bytes").cast("bigint").alias("hr_bytes"),
        F.count(F.lit(1)).cast("bigint").alias("hr_records"),
    )
    per_shard = hourly.groupBy("shard").agg(
        F.sum("hr_records").cast("bigint").alias("n_records"),
        F.sum("hr_bytes").cast("bigint").alias("n_bytes"),
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.max("hr_bytes").cast("bigint").alias("peak_hr_bytes"),
    )
    return per_shard.select(
        "shard",
        "n_records",
        "n_bytes",
        "n_hours",
        "peak_hr_bytes",
        F.expr(
            "CAST((1000000 * peak_hr_bytes * n_hours) div n_bytes"
            " AS BIGINT)"
        ).alias("burst_ppm"),
        F.expr(
            f"CAST((1000000 * {_EFO_CONSUMERS} * peak_hr_bytes)"
            f" div {_EFO_SHARED_BPH} AS BIGINT)"
        ).alias("shared_util_ppm"),
        F.expr(
            f"CAST(CASE WHEN {_EFO_CONSUMERS} * peak_hr_bytes"
            f" > {_EFO_SHARED_BPH} THEN 1 ELSE 0 END AS INT)"
        ).alias("efo_required"),
    )


# --- A18: KCL-style lease assignment / rebalance plan (round 13) ---------------

_LEASE_N_SHARDS = 16  # the A13/A15 modeled md5 ring
_LEASE_W_OLD = 4  # steady-state worker group before the scale event
_LEASE_W_NEW = 5  # a worker joins (the KCL scale event under audit)


@query(
    "q_kinesis_lease_plan",
    oracle=f"""
    WITH routed AS (
        SELECT (instr('0123456789abcdef',
                      substr(md5(CAST(user_id AS VARCHAR)), 32, 1)) - 1)
                   % {_LEASE_N_SHARDS} AS shard
        FROM events WHERE user_id IS NOT NULL
    ),
    counts AS (
        SELECT CAST(shard AS BIGINT) AS shard,
               CAST(count(*) AS BIGINT) AS n_records
        FROM routed GROUP BY shard
    ),
    tot AS (SELECT CAST(sum(n_records) AS BIGINT) AS total FROM counts),
    ranked AS (
        SELECT shard, n_records,
               row_number() OVER (
                   ORDER BY n_records DESC, shard ASC) AS rk
        FROM counts
    )
    SELECT r.shard, r.n_records,
           CAST((1000000 * r.n_records) // t.total AS BIGINT) AS share_ppm,
           CAST(r.shard % {_LEASE_W_OLD} AS BIGINT) AS old_worker,
           CAST((r.rk - 1) % {_LEASE_W_NEW} AS BIGINT) AS new_worker,
           CAST(CASE WHEN r.shard % {_LEASE_W_OLD}
                          <> (r.rk - 1) % {_LEASE_W_NEW}
                     THEN 1 ELSE 0 END AS INT) AS moved
    FROM ranked r CROSS JOIN tot t
    """,
)
def q_kinesis_lease_plan(spark, sf_dir):
    """A18: LEASE assignment/rebalance plan — the operational table a
    KCL-style consumer group converges to after a scale event (VERDICT
    r12 item #7b, the row beside A13's reshard plan and A17's EFO
    decision): which worker owns which shard lease once a
    {_LEASE_W_NEW}th worker joins a steady {_LEASE_W_OLD}-worker group
    over the {_LEASE_N_SHARDS}-shard A5 md5 ring.

    The target assignment is the DETERMINISTIC balanced deal KCL's lease
    taker converges to (uniform lease counts, load-striped): shards
    ranked by observed record load (desc, shard-id tiebreak) are dealt
    round-robin across the new worker set — worker counts differ by at
    most one (the KCL "target leases per worker" invariant,
    ceil/floor(shards/workers)), and striping by load rank keeps every
    worker's RECORD load near the mean instead of merely its lease count
    (the hot-shard clustering failure a naive contiguous split has).
    ``old_worker`` is the pre-event round-robin steady state (shard mod
    {_LEASE_W_OLD}); ``moved`` flags the leases that change hands — the
    checkpoint-handoff cost of the event, which an operator reads BEFORE
    scaling (each move is a lease steal: shutdown, checkpoint, resume at
    the stored sequence number).

    Exactness: load ranking and the deal are pure integer arithmetic on
    exact counts; share_ppm is an exact floor-div (the A13 discipline —
    no float at any decision boundary). The rank window is partitionless
    over exactly {_LEASE_N_SHARDS} rows at ANY corpus size (the ring is
    a compile-time constant — the C139 bounded-domain argument,
    allowlisted in tests/test_plans.py).

    Scale: one events-scale rollup to {_LEASE_N_SHARDS} rows (map-side
    combined), then windows and a broadcast total on the
    {_LEASE_N_SHARDS}-row frame. On a real stream the same query runs on
    the DescribeStream shard table joined to enhanced-monitoring load —
    the modeled ring keeps it oracle-able offline."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    digit = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(
                F.md5(F.encode(F.col("user_id").cast("string"), "UTF-8")),
                32,
                1,
            ),
        )
        - 1
    )
    counts = (
        ev.select((digit % _LEASE_N_SHARDS).cast("bigint").alias("shard"))
        .groupBy("shard")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_records"))
    )
    # Total as an unbounded frame over the SAME partitionless 16-row
    # window the rank uses — one shard frame, one scan; a counts.agg()
    # cross-join here would re-derive the events scan a second time.
    rk_w = Window.orderBy(F.col("n_records").desc(), F.col("shard").asc())
    tot_w = rk_w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = counts.withColumn("rk", F.row_number().over(rk_w)).withColumn(
        "total", F.sum("n_records").over(tot_w).cast("bigint")
    )
    old_w = (F.col("shard") % _LEASE_W_OLD).cast("bigint")
    new_w = ((F.col("rk") - 1) % _LEASE_W_NEW).cast("bigint")
    return ranked.select(
        "shard",
        "n_records",
        F.expr("CAST((1000000 * n_records) div total AS BIGINT)").alias(
            "share_ppm"
        ),
        old_w.alias("old_worker"),
        new_w.alias("new_worker"),
        F.when(old_w != new_w, F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("moved"),
    )


# --- A19: retention / replay-coverage plan (round 13) ---------------------------

_RET_N_SHARDS = 16  # the A13/A15 modeled md5 ring
_RET_DEFAULT_HOURS = 24  # Kinesis default retention; beyond is billed extended
_US_PER_HOUR = 3_600_000_000


@query(
    "q_kinesis_retention_plan",
    oracle=f"""
    WITH routed AS (
        SELECT (instr('0123456789abcdef',
                      substr(md5(CAST(user_id AS VARCHAR)), 32, 1)) - 1)
                   % {_RET_N_SHARDS} AS shard,
               ts, event_id,
               length(coalesce(props, '')) + {_EFO_ENVELOPE_BYTES} AS bytes
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    ranked AS (
        SELECT shard, ts,
               row_number() OVER (
                   PARTITION BY shard ORDER BY ts, event_id) AS rn,
               count(*) OVER (PARTITION BY shard) AS n,
               CAST(sum(bytes) OVER (PARTITION BY shard) AS BIGINT)
                   AS total_bytes,
               CAST(min(epoch_us(ts)) OVER (PARTITION BY shard) AS BIGINT)
                   AS min_us,
               CAST(max(epoch_us(ts)) OVER (PARTITION BY shard) AS BIGINT)
                   AS max_us
        FROM routed
    ),
    ck AS (
        SELECT CAST(shard AS BIGINT) AS shard,
               CAST(n AS BIGINT) AS n_records,
               total_bytes, min_us, max_us,
               CAST(epoch_us(ts) AS BIGINT) AS ckpt_us
        FROM ranked
        WHERE rn = greatest(1, ({_LAG_CKPT_NUM} * n) // {_LAG_CKPT_DEN})
    ),
    derived AS (
        SELECT shard, n_records, total_bytes,
               (max_us - min_us) // {_US_PER_HOUR} + 1 AS span_hours,
               (max_us - ckpt_us + {_US_PER_HOUR} - 1) // {_US_PER_HOUR}
                   AS replay_hours,
               max_us - ckpt_us AS replay_us
        FROM ck
    )
    SELECT shard, n_records, total_bytes,
           CAST(span_hours AS BIGINT) AS span_hours,
           CAST(total_bytes // span_hours AS BIGINT) AS bytes_per_hour,
           CAST(replay_hours AS BIGINT) AS replay_hours,
           CAST(greatest({_RET_DEFAULT_HOURS}, replay_hours) AS BIGINT)
               AS retention_required_hours,
           CAST(CASE WHEN replay_hours > {_RET_DEFAULT_HOURS}
                     THEN 1 ELSE 0 END AS INT) AS extended_retention,
           CAST((1000000 * replay_us)
                // {_RET_DEFAULT_HOURS * _US_PER_HOUR} AS BIGINT)
               AS window_util_ppm,
           CAST((total_bytes // span_hours)
                * greatest({_RET_DEFAULT_HOURS}, replay_hours) AS BIGINT)
               AS retention_bytes_est
    FROM derived
    """,
)
def q_kinesis_retention_plan(spark, sf_dir):
    """A19: stream RETENTION sizing — the IncreaseStreamRetentionPeriod
    decision table beside A15's lag audit and A17's EFO plan: per A5-ring
    shard, does the DEFAULT {_RET_DEFAULT_HOURS}h retention cover the
    slowest consumer's replay need, and what does the required window
    cost in stored bytes? The consumer checkpoint is A15's deterministic
    model (the ({_LAG_CKPT_NUM}/{_LAG_CKPT_DEN}·n)-th record in
    (ts, event_id) order); the replay need is the ceil-hours from that
    checkpoint to the shard tip — if a crashed consumer must restart
    from its last ack, retention has to span exactly that window or
    records age out (the silent-data-loss failure A11's policy then
    surfaces). Released per shard: volume, active-span hours, bytes/hour
    rate, replay hours, the required retention (service floor
    {_RET_DEFAULT_HOURS}h), an extended-retention flag, how much of the
    default window the replay already consumes (exact floor-ppm), and
    the stored-byte estimate at the required retention (rate × hours —
    the number the extended-retention bill scales with).

    Exactness: all integers — micros arithmetic, ceil-hours as
    (x + 3599999999) div 3600000000 on non-negative lags, floor-div
    rates and ppm (the A13 no-float-at-a-boundary discipline).

    Plan/scale: ONE pass — the checkpoint rank and every per-shard
    total (count, bytes, min/max micros) ride the SAME shard-partitioned
    window, so the ckpt row already carries its shard's aggregates and
    no second scan or self-join exists (tightening A15's ckpt+tips
    two-derivation shape); state is one row per shard-task, release is
    {_RET_N_SHARDS} rows."""
    from pyspark.sql import Window

    digit = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(
                F.md5(F.encode(F.col("user_id").cast("string"), "UTF-8")),
                32,
                1,
            ),
        )
        - 1
    )
    routed = (
        table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            (digit % _RET_N_SHARDS).cast("bigint").alias("shard"),
            "ts",
            "event_id",
            (
                F.length(F.coalesce(F.col("props"), F.lit("")))
                + _EFO_ENVELOPE_BYTES
            ).alias("bytes"),
        )
    )
    w = Window.partitionBy("shard").orderBy("ts", "event_id")
    wn = Window.partitionBy("shard")
    ranked = routed.select(
        "shard",
        "ts",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
        F.sum("bytes").over(wn).cast("bigint").alias("total_bytes"),
        F.min(F.unix_micros("ts")).over(wn).cast("bigint").alias("min_us"),
        F.max(F.unix_micros("ts")).over(wn).cast("bigint").alias("max_us"),
    )
    ck = ranked.where(
        F.col("rn")
        == F.greatest(
            F.lit(1),
            # BIGINT, not INT: n is a per-shard BIGINT count, and 9*n
            # overflows INT32 past ~238M records/shard while the DuckDB
            # oracle stays BIGINT (ADVICE r13); row_number() compares
            # fine against a long.
            F.expr(
                f"CAST(({_LAG_CKPT_NUM} * n) div {_LAG_CKPT_DEN} AS BIGINT)"
            ),
        )
    ).select(
        "shard",
        F.col("n").cast("bigint").alias("n_records"),
        "total_bytes",
        "min_us",
        "max_us",
        F.unix_micros("ts").alias("ckpt_us"),
    )
    span_h = F.expr(f"(max_us - min_us) div {_US_PER_HOUR} + 1")
    replay_h = F.expr(
        f"(max_us - ckpt_us + {_US_PER_HOUR - 1}) div {_US_PER_HOUR}"
    )
    need_h = F.greatest(F.lit(_RET_DEFAULT_HOURS).cast("bigint"), replay_h)
    return ck.select(
        "shard",
        "n_records",
        "total_bytes",
        span_h.cast("bigint").alias("span_hours"),
        F.expr(
            f"CAST(total_bytes div ((max_us - min_us) div {_US_PER_HOUR} + 1)"
            " AS BIGINT)"
        ).alias("bytes_per_hour"),
        replay_h.cast("bigint").alias("replay_hours"),
        need_h.cast("bigint").alias("retention_required_hours"),
        F.when(replay_h > _RET_DEFAULT_HOURS, F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("extended_retention"),
        F.expr(
            f"CAST((1000000 * (max_us - ckpt_us))"
            f" div {_RET_DEFAULT_HOURS * _US_PER_HOUR} AS BIGINT)"
        ).alias("window_util_ppm"),
        (
            F.expr(
                f"total_bytes div ((max_us - min_us) div {_US_PER_HOUR} + 1)"
            )
            * need_h
        )
        .cast("bigint")
        .alias("retention_bytes_est"),
    )


# --- A20: shard-hour cost attribution (round 14) --------------------------------

_COST_N_SHARDS = 16  # the A13/A15/A19 modeled md5 ring
_COST_PUT_UNIT_BYTES = 25_600  # PUT payload unit: 25 KB, rounded up per record
# Modeled billing rates on the exact NANO-dollar lattice (public pricing
# SHAPE: per shard-hour, per PUT payload unit, per extended-retention
# shard-hour — the constants are fixture-model parameters, not a quote):
_COST_SHARD_HOUR_NANO = 15_000_000  # $0.015 / shard-hour
_COST_PUT_UNIT_NANO = 14  # $0.014 per million PUT units
_COST_EXT_HOUR_NANO = 20_000_000  # $0.020 / extended-retention shard-hour


@query(
    "q_kinesis_cost_plan",
    oracle=f"""
    WITH routed AS (
        SELECT (instr('0123456789abcdef',
                      substr(md5(CAST(user_id AS VARCHAR)), 32, 1)) - 1)
                   % {_COST_N_SHARDS} AS shard,
               ts, event_id,
               length(coalesce(props, '')) + {_EFO_ENVELOPE_BYTES} AS bytes
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    ranked AS (
        SELECT shard, ts,
               row_number() OVER (
                   PARTITION BY shard ORDER BY ts, event_id) AS rn,
               count(*) OVER (PARTITION BY shard) AS n,
               CAST(sum(bytes) OVER (PARTITION BY shard) AS BIGINT)
                   AS total_bytes,
               CAST(sum((bytes + {_COST_PUT_UNIT_BYTES - 1})
                        // {_COST_PUT_UNIT_BYTES})
                    OVER (PARTITION BY shard) AS BIGINT) AS put_units,
               CAST(min(epoch_us(ts)) OVER (PARTITION BY shard) AS BIGINT)
                   AS min_us,
               CAST(max(epoch_us(ts)) OVER (PARTITION BY shard) AS BIGINT)
                   AS max_us
        FROM routed
    ),
    ck AS (
        SELECT CAST(shard AS BIGINT) AS shard,
               CAST(n AS BIGINT) AS n_records,
               total_bytes, put_units, min_us, max_us,
               CAST(epoch_us(ts) AS BIGINT) AS ckpt_us
        FROM ranked
        WHERE rn = greatest(1, ({_LAG_CKPT_NUM} * n) // {_LAG_CKPT_DEN})
    ),
    derived AS (
        SELECT shard, n_records, total_bytes, put_units,
               (max_us - min_us) // {_US_PER_HOUR} + 1 AS shard_hours,
               greatest(CAST(0 AS BIGINT),
                        (max_us - ckpt_us + {_US_PER_HOUR - 1})
                            // {_US_PER_HOUR}
                        - {_RET_DEFAULT_HOURS}) AS extended_hours
        FROM ck
    ),
    costed AS (
        SELECT shard, n_records, put_units, shard_hours, extended_hours,
               CAST(shard_hours * {_COST_SHARD_HOUR_NANO} AS BIGINT)
                   AS shard_cost_nano,
               CAST(put_units * {_COST_PUT_UNIT_NANO} AS BIGINT)
                   AS put_cost_nano,
               CAST(extended_hours * {_COST_EXT_HOUR_NANO} AS BIGINT)
                   AS ext_cost_nano,
               CAST(total_bytes * extended_hours AS BIGINT)
                   AS ext_byte_hours
        FROM derived
    )
    SELECT shard, n_records, put_units,
           CAST(shard_hours AS BIGINT) AS shard_hours,
           CAST(extended_hours AS BIGINT) AS extended_hours,
           ext_byte_hours,
           shard_cost_nano, put_cost_nano, ext_cost_nano,
           CAST(shard_cost_nano + put_cost_nano + ext_cost_nano AS BIGINT)
               AS total_cost_nano,
           CAST((1000000 * (shard_cost_nano + put_cost_nano
                            + ext_cost_nano))
                // (SELECT sum(shard_cost_nano + put_cost_nano
                               + ext_cost_nano) FROM costed)
               AS BIGINT) AS share_ppm
    FROM costed
    """,
)
def q_kinesis_cost_plan(spark, sf_dir):
    """A20: shard-hour COST attribution — the bill table that A17's EFO
    decision and A19's retention estimate both point at (VERDICT r13
    item #7b): per A5-ring shard, the three metered components of the
    stream bill as exact integers on the NANO-dollar lattice, plus each
    shard's share of the stream total so a cost spike attributes to a
    shard (and through A16's hotkey audit, to a key) instead of to "the
    stream":

    - shard-hours: the A19 active span ((max−min) micros floor-div
      3.6e9 + 1) × the per-shard-hour rate;
    - PUT payload units: per record, payload+envelope bytes rounded UP
      to {_COST_PUT_UNIT_BYTES // 1024} KB units (the real billing
      quantum — at this fixture's record sizes every record is one
      unit, which the per-record ceil-div form makes a FIXTURE property,
      not a code property) × the per-unit rate;
    - extended retention: hours the A19 replay requirement exceeds the
      {_RET_DEFAULT_HOURS}h service floor (same deterministic
      ({_LAG_CKPT_NUM}/{_LAG_CKPT_DEN}·n)-th-record checkpoint model)
      × the extended-hour rate, with the byte-hours it would store
      released beside it (the capacity analog of the dollar figure).

    Exactness: every component is integer arithmetic end-to-end —
    micros div for hours, ceil-div for PUT units, nano-dollar rates so
    no decimal/float touches a money column, share in exact floor-ppm
    (the A13 discipline). The rates are MODELED constants (the public
    pricing shape, not a quote) — swap in a real rate card unchanged.

    Plan/scale: ONE pass — the checkpoint rank, per-shard volumes and
    the PUT-unit sum all ride the SAME shard-partitioned window (the
    A19 shape); the stream total rides a partitionless
    window over the already-collapsed {_COST_N_SHARDS}-row frame (the
    documented B88/B172 bounded-frame class — 16 rows through a single
    partition), so no second events scan and no join exist at any SF."""
    from pyspark.sql import Window

    digit = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(
                F.md5(F.encode(F.col("user_id").cast("string"), "UTF-8")),
                32,
                1,
            ),
        )
        - 1
    )
    routed = (
        table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            (digit % _COST_N_SHARDS).cast("bigint").alias("shard"),
            "ts",
            "event_id",
            (
                F.length(F.coalesce(F.col("props"), F.lit("")))
                + _EFO_ENVELOPE_BYTES
            ).alias("bytes"),
        )
    )
    w = Window.partitionBy("shard").orderBy("ts", "event_id")
    wn = Window.partitionBy("shard")
    ranked = routed.select(
        "shard",
        "ts",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
        F.sum("bytes").over(wn).cast("bigint").alias("total_bytes"),
        F.sum(
            F.expr(
                f"(bytes + {_COST_PUT_UNIT_BYTES - 1})"
                f" div {_COST_PUT_UNIT_BYTES}"
            )
        )
        .over(wn)
        .cast("bigint")
        .alias("put_units"),
        F.min(F.unix_micros("ts")).over(wn).cast("bigint").alias("min_us"),
        F.max(F.unix_micros("ts")).over(wn).cast("bigint").alias("max_us"),
    )
    ck = ranked.where(
        F.col("rn")
        == F.greatest(
            F.lit(1),
            F.expr(
                f"CAST(({_LAG_CKPT_NUM} * n) div {_LAG_CKPT_DEN} AS BIGINT)"
            ),
        )
    ).select(
        "shard",
        F.col("n").cast("bigint").alias("n_records"),
        "total_bytes",
        "put_units",
        "min_us",
        "max_us",
        F.unix_micros("ts").alias("ckpt_us"),
    )
    costed = ck.select(
        "shard",
        "n_records",
        "put_units",
        F.expr(f"(max_us - min_us) div {_US_PER_HOUR} + 1")
        .cast("bigint")
        .alias("shard_hours"),
        F.greatest(
            F.lit(0).cast("bigint"),
            F.expr(
                f"(max_us - ckpt_us + {_US_PER_HOUR - 1})"
                f" div {_US_PER_HOUR} - {_RET_DEFAULT_HOURS}"
            ).cast("bigint"),
        ).alias("extended_hours"),
        "total_bytes",
    )
    costed = costed.select(
        "shard",
        "n_records",
        "put_units",
        "shard_hours",
        "extended_hours",
        (F.col("total_bytes") * F.col("extended_hours"))
        .cast("bigint")
        .alias("ext_byte_hours"),
        (F.col("shard_hours") * _COST_SHARD_HOUR_NANO)
        .cast("bigint")
        .alias("shard_cost_nano"),
        (F.col("put_units") * _COST_PUT_UNIT_NANO)
        .cast("bigint")
        .alias("put_cost_nano"),
        (F.col("extended_hours") * _COST_EXT_HOUR_NANO)
        .cast("bigint")
        .alias("ext_cost_nano"),
    )
    costed = costed.withColumn(
        "total_cost_nano",
        (
            F.col("shard_cost_nano")
            + F.col("put_cost_nano")
            + F.col("ext_cost_nano")
        ).cast("bigint"),
    )
    # Stream total via a PARTITIONLESS window over the already-collapsed
    # {_COST_N_SHARDS}-row frame (the documented B88/B172 bounded-frame
    # class): a broadcast-total branch would RE-DERIVE the events scan
    # (two scans of the fact table), while this shape keeps the one-pass
    # A19 plan — the single-partition exchange moves 16 rows.
    wall = Window.partitionBy()
    costed = costed.withColumn(
        "stream_nano", F.sum("total_cost_nano").over(wall).cast("bigint")
    )
    return costed.select(
        "shard",
        "n_records",
        "put_units",
        "shard_hours",
        "extended_hours",
        "ext_byte_hours",
        "shard_cost_nano",
        "put_cost_nano",
        "ext_cost_nano",
        "total_cost_nano",
        F.expr("CAST((1000000 * total_cost_nano) div stream_nano AS BIGINT)")
        .alias("share_ppm"),
    )


# --- A21: KPL aggregation-efficiency plan (round 14) ---------------------------

_KPL_FLUSH_US = 100_000  # RecordMaxBufferedTime: 100 ms flush window
_KPL_SUB_OVERHEAD = 8  # modeled protobuf sub-record framing (tag+len+key idx)
_KPL_AGG_OVERHEAD = 20  # KPL envelope: 4-byte magic 0xF3899AC2 + 16-byte MD5
_KPL_MAX_AGG_BYTES = 1_048_576  # the 1 MiB PutRecord payload ceiling


@query(
    "q_kinesis_kpl_plan",
    oracle=f"""
    WITH routed AS (
        SELECT (instr('0123456789abcdef',
                      substr(md5(CAST(user_id AS VARCHAR)), 32, 1)) - 1)
                   % {_COST_N_SHARDS} AS shard,
               CAST(epoch_us(ts) // {_KPL_FLUSH_US} AS BIGINT) AS f,
               length(coalesce(props, '')) + {_EFO_ENVELOPE_BYTES} AS bytes
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    flushes AS (
        SELECT shard, f,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum((bytes + {_COST_PUT_UNIT_BYTES - 1})
                        // {_COST_PUT_UNIT_BYTES}) AS BIGINT) AS raw_units,
               CAST({_KPL_AGG_OVERHEAD}
                    + sum(bytes + {_KPL_SUB_OVERHEAD}) AS BIGINT)
                   AS agg_bytes
        FROM routed GROUP BY 1, 2
    ),
    per_shard AS (
        SELECT CAST(shard AS BIGINT) AS shard,
               CAST(sum(n) AS BIGINT) AS n_records,
               CAST(count(*) AS BIGINT) AS n_aggregates,
               CAST(sum(raw_units) AS BIGINT) AS raw_units,
               CAST(sum((agg_bytes + {_COST_PUT_UNIT_BYTES - 1})
                        // {_COST_PUT_UNIT_BYTES}) AS BIGINT) AS agg_units,
               CAST(max(agg_bytes) AS BIGINT) AS max_agg_bytes,
               CAST(count(CASE WHEN agg_bytes > {_KPL_MAX_AGG_BYTES}
                          THEN 1 END) AS BIGINT) AS n_oversize
        FROM flushes GROUP BY shard
    )
    SELECT shard, n_records, n_aggregates, raw_units, agg_units,
           CAST(raw_units - agg_units AS BIGINT) AS saved_units,
           CASE WHEN raw_units > 0
                THEN CAST((1000000 * (raw_units - agg_units)) // raw_units
                     AS BIGINT)
           END AS savings_ppm,
           max_agg_bytes, n_oversize
    FROM per_shard
    """,
)
def q_kinesis_kpl_plan(spark, sf_dir):
    """A21: KPL AGGREGATION-efficiency plan — the producer-side rung
    that closes the loop A8 opened on the consumer side (the KPL
    protobuf de-aggregator) and A20 priced (PUT payload units): per
    A5-ring shard, what batching records into KPL aggregates under the
    RecordMaxBufferedTime flush model actually saves on the bill.

    Model (the deterministic, window-expressible flush regime): records
    routed to a shard flush together every {_KPL_FLUSH_US // 1000} ms
    (f = epoch-µs div flush), one aggregate per non-empty (shard, flush)
    cell carrying {_KPL_AGG_OVERHEAD} bytes of envelope (the A8 magic +
    MD5) plus {_KPL_SUB_OVERHEAD} bytes of modeled protobuf framing per
    sub-record. raw_units prices each record alone (the A20 per-record
    {_COST_PUT_UNIT_BYTES // 1024} KB ceil-div — superadditivity means
    this is the WORST case); agg_units prices the packed aggregate by
    the same quantum. saved_units can be NEGATIVE on sparse shards
    (one small record per flush still pays the envelope — the honest
    audit readout; savings_ppm rides the D7-pinned truncating div), and
    aggregates that would exceed the {_KPL_MAX_AGG_BYTES // 1024} KiB
    PutRecord ceiling are counted in n_oversize — the dial that says
    "shorten the flush window" (the real KPL splits these; the count is
    the audit signal, the units stay ceil-div-correct either way).

    Exactness: integer arithmetic end-to-end — byte counts, ceil-div
    unit rounding, exact floor/trunc-ppm share; no float anywhere.

    Plan/scale: TWO hash aggregates — (shard, flush) then (shard) —
    both on integer keys with partial aggregation map-side; no window,
    no join, one events scan with both null-guards pushed. At 100 TB
    the (shard, flush) key space is |shards| × |flush windows in the
    scanned range|: time-bounded, so the first aggregate is the only
    corpus-scale stage and it combines map-side (the A14/A20 shape)."""
    digit = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(
                F.md5(F.encode(F.col("user_id").cast("string"), "UTF-8")),
                32,
                1,
            ),
        )
        - 1
    )
    routed = (
        table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            (digit % _COST_N_SHARDS).cast("bigint").alias("shard"),
            F.expr(f"unix_micros(ts) div {_KPL_FLUSH_US}")
            .cast("bigint")
            .alias("f"),
            (
                F.length(F.coalesce(F.col("props"), F.lit("")))
                + _EFO_ENVELOPE_BYTES
            ).alias("bytes"),
        )
    )
    flushes = routed.groupBy("shard", "f").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.expr(
                f"(bytes + {_COST_PUT_UNIT_BYTES - 1})"
                f" div {_COST_PUT_UNIT_BYTES}"
            )
        )
        .cast("bigint")
        .alias("raw_units"),
        (
            F.lit(_KPL_AGG_OVERHEAD)
            + F.sum(F.col("bytes") + _KPL_SUB_OVERHEAD)
        )
        .cast("bigint")
        .alias("agg_bytes"),
    )
    per_shard = flushes.groupBy("shard").agg(
        F.sum("n").cast("bigint").alias("n_records"),
        F.count(F.lit(1)).cast("bigint").alias("n_aggregates"),
        F.sum("raw_units").cast("bigint").alias("raw_units"),
        F.sum(
            F.expr(
                f"(agg_bytes + {_COST_PUT_UNIT_BYTES - 1})"
                f" div {_COST_PUT_UNIT_BYTES}"
            )
        )
        .cast("bigint")
        .alias("agg_units"),
        F.max("agg_bytes").cast("bigint").alias("max_agg_bytes"),
        F.count(F.when(F.col("agg_bytes") > _KPL_MAX_AGG_BYTES, 1))
        .cast("bigint")
        .alias("n_oversize"),
    )
    return per_shard.select(
        "shard",
        "n_records",
        "n_aggregates",
        "raw_units",
        "agg_units",
        (F.col("raw_units") - F.col("agg_units"))
        .cast("bigint")
        .alias("saved_units"),
        F.expr(
            "CASE WHEN raw_units > 0 THEN"
            " CAST((1000000 * (raw_units - agg_units)) div raw_units"
            " AS BIGINT) END"
        ).alias("savings_ppm"),
        "max_agg_bytes",
        "n_oversize",
    )
