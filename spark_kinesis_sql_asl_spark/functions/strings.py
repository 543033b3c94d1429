"""String / regex / hash / binary scalar bundles (SURVEY.md §2 rows B46-B48,
B53, B60).

These are the payload-decode primitives a Kinesis consumer applies to record
data (SURVEY.md §1.1): all JVM-side built-ins inside whole-stage codegen —
no Python crossing in the hot path.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from ..tables import table


@query(
    "q_fn_string",
    oracle="""
    SELECT c_custkey,
           substr(c_name, 1, 8) AS name8,
           upper(c_mktsegment) AS seg_up,
           lower(c_name) AS name_lo,
           length(c_name) AS name_len,
           concat(c_name, '#', coalesce(c_mktsegment, '')) AS name_seg,
           replace(c_name, '0', 'o') AS name_repl,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_pad,
           trim(concat('  ', coalesce(c_mktsegment, ''), '  ')) AS seg_trim
    FROM customer
    """,
)
def q_fn_string(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.substring("c_name", 1, 8).alias("name8"),
        F.upper("c_mktsegment").alias("seg_up"),
        F.lower("c_name").alias("name_lo"),
        F.length("c_name").alias("name_len"),
        # coalesce before concat: DuckDB's concat() skips NULL args while
        # Spark's returns NULL — pin the semantics in both engines.
        F.concat(
            "c_name", F.lit("#"), F.coalesce("c_mktsegment", F.lit(""))
        ).alias("name_seg"),
        F.replace(F.col("c_name"), F.lit("0"), F.lit("o")).alias("name_repl"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_pad"),
        F.trim(
            F.concat(
                F.lit("  "), F.coalesce("c_mktsegment", F.lit("")), F.lit("  ")
            )
        ).alias("seg_trim"),
    )


@query(
    "q_fn_split",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           (string_split(text, ' '))[1] AS first_token,
           (string_split(text, ' '))[-1] AS last_token
    FROM documents
    """,
)
def q_fn_split(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.element_at(toks, 1).alias("first_token"),
        F.element_at(toks, -1).alias("last_token"),
    )


@query(
    "q_fn_regex",
    oracle="""
    SELECT c_custkey,
           regexp_extract(c_name, '([0-9]+)', 1) AS digits,
           regexp_replace(c_name, '[0-9]', 'N', 'g') AS masked,
           regexp_matches(c_name, '[0-9]{3}') AS has3digits
    FROM customer
    """,
)
def q_fn_regex(spark, sf_dir):
    # POSIX-common patterns only — Java vs RE2-ish dialect differences start
    # at lookarounds/char-class shorthands (SURVEY.md §7 risk list). Note
    # DuckDB regexp_replace needs the 'g' flag to match Spark's replace-all.
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("digits"),
        F.regexp_replace("c_name", "[0-9]", "N").alias("masked"),
        F.col("c_name").rlike("[0-9]{3}").alias("has3digits"),
    )


@query(
    "q_fn_hash",
    oracle="""
    SELECT p_partkey,
           md5(p_name) AS name_md5,
           sha256(p_name) AS name_sha256,
           md5(concat(p_name, '|', p_brand)) AS composite_md5
    FROM part
    """,
)
def q_fn_hash(spark, sf_dir):
    # Content hashing — the basis of C1 exact dedup (llm/dedup.py).
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.md5(F.col("p_name").cast("binary")).alias("name_md5"),
        F.sha2(F.col("p_name").cast("binary"), 256).alias("name_sha256"),
        F.md5(F.concat("p_name", F.lit("|"), "p_brand").cast("binary")).alias(
            "composite_md5"
        ),
    )


@query(
    "q_fn_binary",
    oracle="""
    SELECT doc_id,
           base64(encode(text)) AS payload_b64,
           decode(from_base64(base64(encode(text)))) AS roundtrip,
           (decode(from_base64(base64(encode(text)))) = text) AS roundtrip_ok,
           octet_length(encode(text)) AS n_bytes
    FROM documents
    """,
)
def q_fn_binary(spark, sf_dir):
    """B60: the multimodal-column primitive — text⇄binary⇄base64 roundtrip.
    An opaque media payload rides exactly this path (see llm/multimodal).

    Spark's base64 MIME-wraps at 76 chars with CRLF; DuckDB's doesn't —
    strip the wrapping for a canonical unchunked form."""
    d = table(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    b64 = F.regexp_replace(F.base64(payload), "[\\r\\n]", "")
    return d.select(
        "doc_id",
        b64.alias("payload_b64"),
        F.decode(F.unbase64(b64), "UTF-8").alias("roundtrip"),
        (F.decode(F.unbase64(b64), "UTF-8") == F.col("text")).alias("roundtrip_ok"),
        F.octet_length(payload).alias("n_bytes"),
    )
