"""The family-state store in tables.py (`get_or_build`).

Lazy table plans (`table()` / `parallel_table()`) and every family's
cross-query build state live in one store, keyed on (family, sf_dir) and
valid for one Spark application and one set of fixture files. The contract
under test: repeat calls reuse the stored value (no repeated footer/schema
work, no repeated family build), a fixture rewritten in place invalidates
what was built from it (tests stage fixtures in place), and nothing about
the returned frame's schema or rows changes versus a fresh read.
"""

import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq

from spark_kinesis_sql_asl_spark import tables
from spark_kinesis_sql_asl_spark.registry import all_oracles, all_queries

from .conftest import SF_SMOKE, assert_matches_oracle

SF = "/root/testdata/sf0.01"


def test_repeat_call_returns_memoized_plan(spark):
    a = tables.table(spark, SF, "nation")
    b = tables.table(spark, SF, "nation")
    assert a is b  # same lazy plan object — no re-read of footers


def test_parallel_table_memoized_per_key(spark):
    a = tables.parallel_table(spark, SF, "documents")
    b = tables.parallel_table(spark, SF, "documents")
    c = tables.parallel_table(spark, SF, "documents", key="text")
    assert a is b
    assert c is not a  # key participates in the memo key


def test_rewrite_invalidates(spark, tmp_path):
    d = str(tmp_path)
    pq.write_table(
        pa.table({"doc_id": pa.array([1, 2], pa.int64())}),
        f"{d}/documents.parquet",
    )
    v1 = tables.table(spark, d, "documents")
    assert v1.columns == ["doc_id"] and v1.count() == 2
    time.sleep(0.01)  # ensure a distinct mtime_ns
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2, 3], pa.int64()),
                "text": pa.array(["a", "b", "c"]),
            }
        ),
        f"{d}/documents.parquet",
    )
    v2 = tables.table(spark, d, "documents")
    assert v2.columns == ["doc_id", "text"] and v2.count() == 3


def test_memo_is_plan_only_not_data(spark):
    # The memoized object is a lazy plan: no persisted storage level, so
    # every action recomputes from the parquet input (no result caching).
    df = tables.table(spark, SF, "region")
    assert not df.storageLevel.useMemory and not df.storageLevel.useDisk


def test_family_state_follows_rewritten_fixture(spark, ddb, tmp_path):
    # A table rewritten in place must reach every family built from it,
    # not only table(): the bucketed-join registration and the SimHash
    # fingerprints are rebuilt, so both queries match their oracles on the
    # new rows in the same session.
    sf_dir = str(shutil.copytree(SF_SMOKE, tmp_path / "sf"))
    queries, oracles = all_queries(), all_oracles()
    names = ("q_join_bucketed", "q_llm_dedup_simhash")
    for name in names:
        assert_matches_oracle(
            queries[name](spark, sf_dir), ddb, oracles[name], sf_dir
        )
    for t in ("orders", "documents"):
        path = f"{sf_dir}/{t}.parquet"
        rows = pq.read_table(path)
        pq.write_table(rows.slice(0, rows.num_rows // 2), path)
    for name in names:
        assert_matches_oracle(
            queries[name](spark, sf_dir), ddb, oracles[name], sf_dir
        )


class _App:
    """Stands in for a session: the store reads only the applicationId."""

    def __init__(self, app_id):
        self.sparkContext = type("SC", (), {"applicationId": app_id})()


def _counting(value):
    calls = []

    def build():
        calls.append(1)
        return value

    return build, calls


def test_store_hits_on_same_key_and_fingerprint(monkeypatch, tmp_path):
    monkeypatch.setattr(tables, "_STORE", {})
    app, (build, calls) = _App("app-1"), _counting(object())
    a = tables.get_or_build(app, "fam", str(tmp_path), build)
    b = tables.get_or_build(app, "fam", f"{tmp_path}/", build)
    assert a is b and len(calls) == 1


def test_store_rebuilds_after_fingerprint_change(monkeypatch, tmp_path):
    monkeypatch.setattr(tables, "_STORE", {})
    app, (build, calls) = _App("app-1"), _counting("v")
    f = tmp_path / "orders.parquet"
    f.write_bytes(b"x")
    tables.get_or_build(app, "fam", str(tmp_path), build)
    f.write_bytes(b"xy")
    tables.get_or_build(app, "fam", str(tmp_path), build)
    tables.get_or_build(app, "fam", str(tmp_path), build)
    assert len(calls) == 2


def test_store_put_drops_other_applications(monkeypatch, tmp_path):
    monkeypatch.setattr(tables, "_STORE", {})
    d = str(tmp_path)
    tables.get_or_build(_App("app-1"), "f1", d, lambda: 1)
    tables.get_or_build(_App("app-1"), "f2", d, lambda: 2)
    tables.get_or_build(_App("app-2"), "f1", d, lambda: 3)
    assert {e[0] for e in tables._STORE.values()} == {"app-2"}
    assert len(tables._STORE) == 1


def test_store_concurrent_builds_of_distinct_families(monkeypatch, tmp_path):
    monkeypatch.setattr(tables, "_STORE", {})
    app, d = _App("app-1"), str(tmp_path)

    def run(i):
        return tables.get_or_build(
            app, ("fam", i), d, lambda: time.sleep(0.01) or i
        )

    with ThreadPoolExecutor(max_workers=8) as pool:
        assert list(pool.map(run, range(8))) == list(range(8))
    assert len(tables._STORE) == 8


def test_store_nested_build_does_not_deadlock(monkeypatch, tmp_path):
    monkeypatch.setattr(tables, "_STORE", {})
    app, d, out = _App("app-1"), str(tmp_path), []

    def outer():
        return ("outer", tables.get_or_build(app, "inner", d, lambda: "in"))

    t = threading.Thread(
        target=lambda: out.append(tables.get_or_build(app, "outer", d, outer)),
        daemon=True,
    )
    t.start()
    t.join(30)
    assert not t.is_alive(), "nested get_or_build deadlocked"
    assert out == [("outer", "in")]
