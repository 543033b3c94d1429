"""Property-based spot checks (SURVEY.md §5.2.4): relational laws verified
against pure-Python references on hypothesis-generated frames — cheap
insurance for the cases the fixtures don't cover (NULL keys, duplicate keys,
empty sides). Kept small: a handful of examples per law, one shared session.
"""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

KEYS = st.one_of(st.none(), st.integers(min_value=0, max_value=4))
VALS = st.integers(min_value=-100, max_value=100)
ROWS = st.lists(st.tuples(KEYS, VALS), min_size=0, max_size=12)

_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, rows):
    return spark.createDataFrame(rows, schema="k int, v int")


@given(a=ROWS, b=ROWS)
@_SETTINGS
def test_union_all_counts_add(spark, a, b):
    assert _df(spark, a).unionByName(_df(spark, b)).count() == len(a) + len(b)


@given(a=ROWS, b=ROWS)
@_SETTINGS
def test_inner_join_cardinality_null_keys_drop(spark, a, b):
    # inner equi-join: |{(x,y): x.k == y.k}| with NULL keys never matching
    ca = Counter(k for k, _ in a if k is not None)
    cb = Counter(k for k, _ in b if k is not None)
    expect = sum(ca[k] * cb[k] for k in ca)
    got = (
        _df(spark, a)
        .alias("a")
        .join(_df(spark, b).alias("b"), F.col("a.k") == F.col("b.k"))
        .count()
    )
    assert got == expect


@given(a=ROWS, b=ROWS)
@_SETTINGS
def test_left_join_preserves_unmatched(spark, a, b):
    ca = Counter(k for k, _ in a if k is not None)
    cb = Counter(k for k, _ in b if k is not None)
    matched = sum(ca[k] * cb[k] for k in ca)
    unmatched = sum(1 for k, _ in a if k is None or cb[k] == 0)
    got = (
        _df(spark, a)
        .alias("a")
        .join(_df(spark, b).alias("b"), F.col("a.k") == F.col("b.k"), "left")
        .count()
    )
    assert got == matched + unmatched


@given(a=ROWS)
@_SETTINGS
def test_groupby_sums_refold_to_global(spark, a):
    per_key = (
        _df(spark, a).groupBy("k").agg(F.sum("v").alias("s")).collect()
    )
    total = sum(r.s for r in per_key if r.s is not None)
    assert total == sum(v for _, v in a)
    # NULL forms its own group
    assert len(per_key) == len({k for k, _ in a})


@given(a=ROWS, b=ROWS)
@_SETTINGS
def test_except_all_bag_semantics(spark, a, b):
    # exceptAll = multiset difference (NULL-safe equality on whole rows)
    expect = Counter(a) - Counter(b)
    got = Counter(
        (r.k, r.v) for r in _df(spark, a).exceptAll(_df(spark, b)).collect()
    )
    assert got == expect


@given(a=ROWS)
@_SETTINGS
def test_null_safe_equality_vs_standard(spark, a):
    df = _df(spark, a)
    n_null = sum(1 for k, _ in a if k is None)
    # standard = never matches NULL; <=> treats NULL as a value
    assert df.where(F.col("k").eqNullSafe(F.lit(None).cast("int"))).count() == n_null
    assert df.where(F.col("k") == F.lit(None).cast("int")).count() == 0


@given(a=ROWS)
@_SETTINGS
def test_dropduplicates_is_distinct_key_set(spark, a):
    got = _df(spark, a).dropDuplicates(["k", "v"]).count()
    assert got == len(set(a))


# --- round-2 curation operator invariants (fixture-backed, not hypothesis:
# the ops are deterministic functions of the fixed corpus) -----------------


def test_pack_conserves_tokens_and_bounds_packs(spark):
    from spark_kinesis_sql_asl_spark.llm.curation import _PACK_TOKENS
    from spark_kinesis_sql_asl_spark.registry import all_queries
    from spark_kinesis_sql_asl_spark.tables import table

    sf = "/root/testdata/sf0.01"
    packs = all_queries()["q_llm_pack"](spark, sf).collect()
    total_packed = sum(r.sum_tokens for r in packs)
    total_corpus = (
        table(spark, sf, "documents")
        .select(F.sum(F.size(F.split("text", " "))).alias("t"))
        .collect()[0]
        .t
    )
    # packing is a partition of the corpus: every token lands in exactly
    # one pack
    assert total_packed == total_corpus
    # every non-final pack per lang holds >= the target (a doc may overflow
    # it, never underflow); pack ids are dense from 0
    by_lang = {}
    for r in packs:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rows in by_lang.items():
        ids = sorted(r.pack_id for r in rows)
        assert ids == list(range(len(ids))), f"{lang}: non-dense pack ids"
        for r in rows:
            if r.pack_id < max(ids):
                assert r.sum_tokens >= 1  # non-empty by construction


def test_kmeans_partitions_all_vectors(spark):
    from spark_kinesis_sql_asl_spark.registry import all_queries
    from spark_kinesis_sql_asl_spark.tables import table

    sf = "/root/testdata/sf0.01"
    cells = all_queries()["q_llm_kmeans"](spark, sf).collect()
    n_vecs = table(spark, sf, "embeddings").count()
    # assignment is a partition: every vector in exactly one cell
    assert sum(r.n_vecs for r in cells) == n_vecs
    assert all(r.inertia >= 0 for r in cells)
    # each seed captures at least itself (distance 0 to itself)
    assert all(r.n_vecs >= 1 for r in cells)


def test_mixture_weights_rebalance_to_uniform(spark):
    from spark_kinesis_sql_asl_spark.registry import all_queries

    sf = "/root/testdata/sf0.01"
    rows = all_queries()["q_llm_mixture"](spark, sf).collect()
    # shares (integer ppm, floored) sum to ~1e6; weight * share == uniform
    # target for every source (floor division costs < 1 ppm per row)
    assert 0 <= 1_000_000 - sum(r.share_ppm for r in rows) <= len(rows)
    target = 1.0 / len(rows)
    for r in rows:
        assert abs(
            (r.weight_ppm / 1e6) * (r.share_ppm / 1e6) - target
        ) < 1e-2 * target + 2e-6


def test_sample_hash_is_partition_layout_invariant(spark):
    from spark_kinesis_sql_asl_spark.registry import all_oracles
    from spark_kinesis_sql_asl_spark.tables import table

    # The C25 selling point: membership is a pure function of content.
    # Recompute the per-lang sampled counts from a deliberately
    # repartitioned frame and require identical results.
    sf = "/root/testdata/sf0.01"
    d = table(spark, sf, "documents")
    pred = F.substring(F.md5(F.encode("text", "UTF-8")), 1, 2) < "1a"
    a = {
        (r.lang, r.n): None
        for r in d.groupBy("lang")
        .agg(F.count(F.when(pred, 1)).alias("n"))
        .collect()
    }
    b = {
        (r.lang, r.n): None
        for r in d.repartition(7, "doc_id")
        .groupBy("lang")
        .agg(F.count(F.when(pred, 1)).alias("n"))
        .collect()
    }
    assert a == b


# --- driver-environment robustness (the probes that have bitten before) ---


def test_trailing_slash_sf_dir_is_harmless(spark):
    from spark_kinesis_sql_asl_spark.registry import all_queries

    q = all_queries()["q_agg_group"]
    a = sorted(map(tuple, q(spark, "/root/testdata/sf0.01").collect()))
    b = sorted(map(tuple, q(spark, "/root/testdata/sf0.01/").collect()))
    assert a == b


def test_non_utc_session_timezone_is_repaired(spark, ddb):
    # The driver supplies its OWN SparkSession with whatever timezone the
    # host has. tables.prep() must pin the session back to UTC semantics so
    # timestamp-carrying queries still hash-match the oracle.
    from .conftest import assert_matches_oracle
    from spark_kinesis_sql_asl_spark.registry import all_oracles, all_queries

    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        name = "q_kinesis_decode_json"  # min/max timestamps per key
        df = all_queries()[name](spark, "/root/testdata/sf0.01")
        assert_matches_oracle(df, ddb, all_oracles()[name])
    finally:
        spark.conf.set(key, prev)


# --- C65 winnowing guarantee (Schleimer et al. Theorem: any match of
# length >= k + w - 1 shares at least one selected fingerprint) ----------

_TEXT = st.text(alphabet="ab ", min_size=0, max_size=40)
_SHARED = st.text(alphabet="xyz", min_size=11, max_size=20)  # >= k+w-1 = 11


@given(prefix_a=_TEXT, prefix_b=_TEXT, shared=_SHARED)
@_SETTINGS
def test_winnowing_guarantee_shared_substring_shares_fingerprint(
    spark, prefix_a, prefix_b, shared
):
    # Two documents embedding the SAME >= (k+w-1)-char substring at
    # DIFFERENT offsets must select at least one common fingerprint —
    # the theorem C65's shift-robustness claim rests on. The shared block
    # uses a disjoint alphabet so no accidental k-gram match with the
    # random prefixes can mask a failure of the guarantee.
    from pyspark.sql import functions as F

    from spark_kinesis_sql_asl_spark.llm.spans import _WIN_K, _WIN_W

    docs = spark.createDataFrame(
        [(0, prefix_a + shared), (1, prefix_b + shared)],
        "doc_id bigint, text string",
    )
    n_hash = F.expr(
        f"transform(sequence(1, length(coalesce(text, '')) - {_WIN_K} + 1), "
        f"i -> cast(conv(substring(md5(substring(text, i, {_WIN_K})), 1, 15), "
        f"16, 10) as bigint))"
    )
    fps = (
        docs.where(
            F.length(F.coalesce("text", F.lit(""))) >= _WIN_K + _WIN_W - 1
        )
        .select("doc_id", n_hash.alias("h"))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, size(h) - {_WIN_W} + 1), "
                        f"j -> array_min(slice(h, j, {_WIN_W})))"
                    )
                )
            ).alias("fp"),
        )
    )
    sel = {}
    for r in fps.collect():
        sel.setdefault(r.doc_id, set()).add(r.fp)
    assert sel.get(0) and sel.get(1)
    assert sel[0] & sel[1], (
        f"winnowing guarantee violated: docs sharing {len(shared)} chars "
        f"selected disjoint fingerprints"
    )


def test_bpe_batch_equals_sequential_when_disjoint(spark):
    """C56b's guarantee: when the accepted batch is mutually char-disjoint
    (which bpe_batch_select enforces by construction), applying the batch
    in one pass learns exactly the merges that sequential single-merge
    rounds (C56's loop) would learn, in the same order — because merging
    a pair only perturbs counts of pairs sharing one of its symbols."""
    from collections import Counter

    from spark_kinesis_sql_asl_spark.llm.spans import bpe_batch_select

    # corpus of 2-char words with char-disjoint pairs at distinct counts:
    # each merge collapses its word to a single symbol, so no NEW pairs
    # (placeholder-placeholder etc.) can form between rounds — the
    # precondition under which batch and sequential must agree exactly
    words = ["ab"] * 9 + ["cd"] * 7 + ["ef"] * 5 + ["gh"] * 3
    wdf = spark.createDataFrame([(w,) for w in words], "w string")
    m = 4
    batch = [
        (r.sel_rk, r.pair, r.cnt)
        for r in bpe_batch_select(wdf, n_cand=8, m=m)
        .orderBy("sel_rk")
        .collect()
    ]

    # pure-Python sequential reference: m rounds of count-top1-merge
    def pair_counts(ws):
        c = Counter()
        for w in ws:
            for i in range(len(w) - 1):
                c[w[i : i + 2]] += 1
        return c

    seq = []
    ws = list(words)
    placeholders = iter(chr(0xE100 + j) for j in range(m))
    for _ in range(m):
        c = pair_counts(ws)
        if not c:
            break
        pair, cnt = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        seq.append((pair, cnt))
        ph = next(placeholders)
        ws = [w.replace(pair, ph) for w in ws]

    # the batch's accepted set is char-disjoint by construction here
    # (a/b, c/d, e/f, g/h never co-occur), so batch == sequential
    assert [(p, c) for _, p, c in batch] == seq
    assert [r[0] for r in batch] == list(range(1, len(batch) + 1))


def test_weighted_median_reduces_to_plain_median_on_unit_weights(spark):
    """B116 law: with every weight equal, the weighted median is the plain
    lower median of the token counts — computed here as a pure-Python
    reference over the real fixture, per language."""
    from .conftest import SF_ORACLE

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    toks = docs.select(
        "lang",
        "doc_id",
        F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " ")).alias(
            "toks"
        ),
    ).collect()
    by_lang: dict[str, list[int]] = {}
    for r in sorted(toks, key=lambda r: (r.toks, r.doc_id)):
        by_lang.setdefault(r.lang, []).append(r.toks)
    expect = {
        lang: xs[(len(xs) + 1) // 2 - 1] for lang, xs in by_lang.items()
    }

    from pyspark.sql import Window

    d = docs.select(
        "lang",
        "doc_id",
        F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " ")).alias(
            "toks"
        ),
        F.lit(1).alias("w"),
    )
    cum = (
        Window.partitionBy("lang")
        .orderBy("toks", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = {
        r.lang: r.toks
        for r in d.select(
            "lang",
            "toks",
            "doc_id",
            F.sum("w").over(cum).alias("cumw"),
            F.sum("w").over(Window.partitionBy("lang")).alias("totw"),
        )
        .where(F.col("cumw") * 2 >= F.col("totw"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("lang").orderBy("toks", "doc_id")
            ),
        )
        .where(F.col("_rn") == 1)
        .collect()
    }
    assert got == expect


def test_gini_bounds_and_uniform_zero(spark):
    """B118 laws: 0 <= G < 1 on the fixture, and G == 0 exactly on a
    perfectly uniform synthetic distribution."""
    from spark_kinesis_sql_asl_spark.registry import all_queries
    from .conftest import SF_ORACLE

    row = all_queries()["q_agg_gini"](spark, SF_ORACLE).collect()[0]
    assert 0.0 <= row.gini < 1.0

    from spark_kinesis_sql_asl_spark.operators.analytics import global_rank

    uniform = spark.createDataFrame(
        [(i, 100) for i in range(50)], "o_custkey int, cents long"
    )
    r = global_rank(
        uniform, [F.col("cents").asc(), F.col("o_custkey").asc()], out_name="i"
    )
    s = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("tot"),
        F.sum(F.col("i") * F.col("cents")).alias("iwx"),
    ).collect()[0]
    g = (2.0 * s.iwx - (s.n + 1.0) * s.tot) / (s.n * s.tot)
    assert abs(g) < 1e-12


def test_global_rank_dense_under_default_partitions(spark):
    """Round 15 regression: global_rank's per-partition offsets join back
    on _pid, so every branch must see the identical partition layout. An
    un-pinned repartitionByRange (REPARTITION_BY_COL) let AQE coalesce the
    rank and counts branches DIFFERENTLY under a default 200-partition
    session — the _pid inner join then silently dropped rows (caught on
    q_ts_theil_sen: 64% of ranked rows gone, median selected from the
    wrong rank). Pin: under 200 shuffle partitions the ranks are a dense
    1..N permutation, with ties in the sort key (the theil_sen shape)."""
    from spark_kinesis_sql_asl_spark.operators.analytics import global_rank

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        df = spark.range(0, 100_000).select(
            (F.col("id") % 997).alias("v"), F.col("id").alias("k")
        )
        r = global_rank(
            df, [F.col("v").asc(), F.col("k").asc()], "rk", with_total=True
        )
        s = r.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("rk").alias("ndr"),
            F.min("rk").alias("mn"),
            F.max("rk").alias("mx"),
            F.min("_total").alias("tot"),
        ).collect()[0]
        assert s.n == 100_000, "offset join dropped rows"
        assert (s.ndr, s.mn, s.mx) == (100_000, 1, 100_000), "ranks not dense"
        assert s.tot == 100_000
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_global_rank_fails_loudly_past_partition_bound(spark, monkeypatch):
    """global_rank's per-partition index is exact only below
    _RANK_PARTITION_ROWS rows per range partition; past it the rank must
    raise, not return wrong ranks. The bound is lowered to 4 so a
    100-row frame crosses it."""
    import pytest
    from pyspark.errors import PySparkException

    from spark_kinesis_sql_asl_spark.operators import analytics

    monkeypatch.setattr(analytics, "_RANK_PARTITION_ROWS", 4)
    df = spark.range(0, 100).coalesce(1)
    r = analytics.global_rank(df, [F.col("id").asc()], "rk")
    with pytest.raises(PySparkException, match="range partition holds"):
        r.collect()


def test_mmr_first_pick_is_relevance_argmax_and_picks_distinct(spark):
    """C87 laws: step 1 is the plain relevance argmax (no diversity term
    yet), all 5 picks are distinct, and every later step's mmr equals
    qdot − max_sel exactly (max_sel may be NEGATIVE on gaussian
    embeddings, in which case the "penalty" legitimately raises the
    score — anti-similar picks are maximally diverse)."""
    from spark_kinesis_sql_asl_spark.registry import all_queries
    from .conftest import SF_ORACLE

    rows = sorted(
        all_queries()["q_llm_mmr_select"](spark, SF_ORACLE).collect(),
        key=lambda r: r.step,
    )
    assert [r.step for r in rows] == [1, 2, 3, 4, 5]
    assert len({r.vec_id for r in rows}) == 5
    assert rows[0].max_sel is None and rows[0].mmr == rows[0].qdot
    assert all(r.mmr == r.qdot - r.max_sel for r in rows[1:])


def test_containment_pairs_are_supersets_at_tau_1(spark):
    """C82 law: every reported pair with containment == 1.0 must satisfy
    set-inclusion exactly (checked in Python on the reconstructed corpus) —
    the prefix/size/positional filters may prune, never corrupt."""
    from spark_kinesis_sql_asl_spark.registry import all_queries
    from spark_kinesis_sql_asl_spark.llm.dedup import (
        _CONTAIN_TRUNC_OFFSET,
        _CONTAIN_TRUNC_TOKENS,
    )
    from .conftest import SF_SMOKE

    docs = {
        r.doc_id: set((r.text or "").split(" "))
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    }
    trunc = {
        r.doc_id
        + _CONTAIN_TRUNC_OFFSET: set(
            (r.text or "").split(" ")[:_CONTAIN_TRUNC_TOKENS]
        )
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .where(F.col("doc_id") % 11 == 0)
        .collect()
    }
    corpus = {**docs, **trunc}
    rows = all_queries()["q_llm_dedup_containment"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        if abs(r.containment - 1.0) < 1e-9:
            assert corpus[r.doc_small] <= corpus[r.doc_big], (
                r.doc_small,
                r.doc_big,
            )
