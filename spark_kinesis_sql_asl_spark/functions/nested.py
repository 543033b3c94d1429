"""Nested-type bundles: arrays, explode, maps, JSON, structs (SURVEY.md §2
rows B54-B59).

This is the schema-on-read surface of the Kinesis data model (§1.2): record
payloads decode into arrays/maps/structs with ordinary expressions, all
JVM-side (higher-order functions, no Python UDFs).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from ..tables import table


@query(
    "q_fn_array",
    oracle="""
    SELECT doc_id,
           (toks)[1] AS first_token,
           (toks)[-1] AS last_token,
           array_to_string(list_slice(toks, 1, 3), ',') AS head3,
           list_contains(toks, 'join') AS has_join,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS total_chars,
           len(list_filter(toks, x -> length(x) > 4)) AS n_long
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    """,
)
def q_fn_array(spark, sf_dir):
    # Higher-order functions (transform/filter/aggregate) run inside codegen
    # — the JVM-side alternative to a Python UDF for array math.
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    return d.select(
        "doc_id",
        F.element_at("toks", 1).alias("first_token"),
        F.element_at("toks", -1).alias("last_token"),
        F.array_join(F.slice("toks", 1, 3), ",").alias("head3"),
        F.array_contains("toks", "join").alias("has_join"),
        F.aggregate(
            F.transform("toks", lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("total_chars"),
        F.size(F.filter("toks", lambda x: F.length(x) > 4)).alias("n_long"),
    )


@query(
    "q_fn_explode",
    oracle="""
    SELECT lang, token, count(*) AS cnt
    FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY lang, token
    """,
)
def q_fn_explode(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return (
        d.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "q_fn_posexplode",
    oracle="""
    SELECT doc_id,
           unnest(list_transform(toks, (x, i) -> i - 1)) AS pos,
           unnest(toks) AS token
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    """,
)
def q_fn_posexplode(spark, sf_dir):
    # Oracle uses DuckDB's zipped multi-unnest (generate_series can't take
    # lateral column args in DuckDB 1.0 — probed this session).
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )


@query(
    "q_fn_map",
    oracle="""
    SELECT event_id,
           value AS a_val,
           value * 2 AS b_val,
           'a,b' AS key_list,
           2 AS n_keys
    FROM events
    """,
)
def q_fn_map(spark, sf_dir):
    # Map create/access with a flat-column oracle: same values, no map type
    # on the DuckDB side (SURVEY.md B57).
    e = table(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("a"), F.col("value"), F.lit("b"), F.col("value") * 2
    )
    return e.select(
        "event_id",
        F.element_at(m, "a").alias("a_val"),
        F.element_at(m, "b").alias("b_val"),
        F.array_join(F.map_keys(m), ",").alias("key_list"),
        F.size(m).alias("n_keys"),
    )


@query(
    "q_fn_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
           (CAST(json_extract_string(props, '$.k') AS INTEGER) > 50) AS k_high
    FROM events
    """,
)
def q_fn_json(spark, sf_dir):
    """B58 — THE payload-decode idiom: a Kinesis record's data blob parsed
    with get_json_object/from_json at read time (SURVEY.md §1.1 A7)."""
    e = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.select(
        "event_id",
        k.alias("k_val"),
        (k > 50).alias("k_high"),
    )


@query(
    "q_fn_struct",
    oracle="""
    SELECT c_custkey, c_name AS name, round(c_acctbal, 2) AS bal, c_mktsegment AS seg
    FROM customer
    """,
)
def q_fn_struct(spark, sf_dir):
    # struct → getField roundtrip; oracle sees only the flattened values.
    c = table(spark, sf_dir, "customer")
    s = F.struct(
        F.col("c_name").alias("name"),
        F.round("c_acctbal", 2).alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    )
    named = F.named_struct(F.lit("seg"), F.col("c_mktsegment"))
    return c.select(
        "c_custkey",
        s.getField("name").alias("name"),
        s.getField("bal").alias("bal"),
        named.getField("seg").alias("seg"),
    )


@query(
    "q_fn_variant",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract(props, '$.missing') IS NOT NULL
                AS BOOLEAN) AS has_missing,
           CAST(props IS NOT NULL AND json_valid(props)
                AS BOOLEAN) AS is_parsable
    FROM events
    WHERE event_id % 7 = 0
    """,
)
def q_fn_variant(spark, sf_dir):
    """B124: the Spark 4 VARIANT type — semi-structured props parsed ONCE
    into the binary variant encoding, then path-accessed with
    variant_get: the modern replacement for per-access get_json_object
    re-parsing (the classic telemetry-pipeline hot-path tax; variant
    decode is ~an order cheaper than JSON text parsing at the 100 TB
    scan stage, and variant columns push down into Parquet shredding in
    newer writers). try_parse_json maps malformed/NULL props to NULL
    instead of an ANSI crash — the B71/D11 safe-ingest convention.
    DuckDB has no VARIANT; its JSON accessors are the semantic oracle
    (same values, engine-specific encodings never surface — only
    extracted typed columns cross the boundary)."""
    ev = table(spark, sf_dir, "events").where(F.col("event_id") % 7 == 0)
    v = ev.select("event_id", F.try_parse_json("props").alias("v"))
    return v.select(
        "event_id",
        F.expr("variant_get(v, '$.k', 'bigint')").alias("k"),
        F.expr(
            "try_variant_get(v, '$.missing') IS NOT NULL"
        ).alias("has_missing"),
        F.col("v").isNotNull().alias("is_parsable"),
    )
