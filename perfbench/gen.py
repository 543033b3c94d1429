"""Seeded inputs for the benchmark.

Two kinds of input are made here, both without a SparkSession:

* Kinesis-style records (``make_records``): partition keys drawn as in the
  events fixture and a JSON payload carrying ``k``. They are routed to
  shards and given sequence numbers by ``sources.staging.write_staging``,
  and published chunk by chunk with an atomic rename (``publish``), so the
  source never lists a half-written chunk.
* A TPC-H-ish table set in the layout the registry queries read
  (``write_fixture``): the ten tables with the schemas and value domains of
  the sf0.1 test fixture, drawn from a fixed seed. The analytics workload
  needs it because a benchmark run may read only its own checkout.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from spark_kinesis_sql_asl_spark.sources.staging import write_staging

N_SHARDS = 4
# Partition keys follow the events table that ``q_kinesis_decode_json``
# reads: in the sf0.1 test fixture its ``user_id`` is uniform over 0..1499
# (45 to 99 rows per key over 100,000 rows), as ``write_fixture`` makes it.
N_KEYS = 1500
_EPOCH = dt.datetime(2026, 1, 1)


def make_records(rng: np.random.Generator, n: int, stamp=None) -> pa.Table:
    """``n`` producer records as an Arrow table with the columns
    ``user_id`` (the partition key, uniform over ``N_KEYS`` keys), ``k``,
    ``payload`` and ``ts``.

    ``stamp`` gives the creation time of the records; when it is None the
    records get a simulated producer clock: a fixed epoch plus seeded
    exponential gaps, so the same seed gives the same records."""
    keys = rng.integers(0, N_KEYS, size=n)
    ks = rng.integers(0, 100, size=n)
    nonce = rng.integers(0, 10**9, size=n)
    payloads = [
        json.dumps({"k": int(k), "n": int(x)}, sort_keys=True)
        for k, x in zip(ks, nonce)
    ]
    if stamp is None:
        gaps = rng.exponential(250.0, size=n).astype(np.int64) + 1
        micros = np.cumsum(gaps)
        ts = pa.array(
            (np.datetime64(_EPOCH, "us") + micros.astype("timedelta64[us]")),
            type=pa.timestamp("us"),
        )
    else:
        ts = pa.array([stamp] * n, type=pa.timestamp("us"))
    return pa.table(
        {
            "user_id": pa.array(keys, type=pa.int64()),
            "k": pa.array(ks, type=pa.int64()),
            "payload": pa.array(payloads, type=pa.string()),
            "ts": ts,
        }
    )


def publish(
    records: pa.Table,
    root: str,
    stream: str,
    n_chunks: int,
    start_chunk: int,
    seq_start: int,
) -> int:
    """Stage ``records`` with ``write_staging`` under a private directory
    beside ``root``, then rename each chunk into its shard directory.

    A rename within one file system is atomic, so a reader listing a shard
    directory sees either no chunk or the whole chunk. Chunks are renamed in
    (chunk, shard) order, each chunk index on every shard before the next.
    Returns the number of records written."""
    tmp = os.path.join(os.path.dirname(root.rstrip("/")), f".stage-{uuid.uuid4().hex}")
    events = [
        {"user_id": u, "payload": p, "ts": t}
        for u, p, t in zip(
            records.column("user_id").to_pylist(),
            records.column("payload").to_pylist(),
            records.column("ts").to_pylist(),
        )
    ]
    try:
        n = write_staging(
            events, tmp, stream=stream, n_shards=N_SHARDS, n_chunks=n_chunks,
            start_chunk=start_chunk, seq_start=seq_start,
        )
        for shard in range(N_SHARDS):
            os.makedirs(os.path.join(root, stream, f"shard-{shard}"), exist_ok=True)
        for c in range(start_chunk, start_chunk + n_chunks):
            for shard in range(N_SHARDS):
                name = os.path.join(stream, f"shard-{shard}", f"{c:08d}.parquet")
                os.rename(os.path.join(tmp, name), os.path.join(root, name))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return n


# ---------------------------------------------------------------------------
# TPC-H-ish fixture

FIXTURE_SEED = 42
_VOCAB = (
    "query row stream the spark line small fast group customer part column "
    "order scan a slow agg key window table merge vector join batch sort "
    "value hash filter big data dup"
).split()
_LANGS = ["en", "en", "en", "fr", "zh", "de", "es"]
_PART_ADJ = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
_PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, lo: dt.datetime, hi: dt.datetime, n: int) -> pa.Array:
    span = (hi - lo).days
    d = np.datetime64(lo, "us") + (
        rng.integers(0, span + 1, size=n) * 86_400_000_000
    ).astype("timedelta64[us]")
    return pa.array(d, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_fixture(out_dir: str, sf: float, n_docs: int, seed: int = FIXTURE_SEED) -> str:
    """Write the ten fixture tables at scale factor ``sf`` (0.1 gives
    600,000 lineitem rows) under ``out_dir``, with ``n_docs`` documents and
    as many embeddings. Deterministic in ``seed``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_orders = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_events = int(1_000_000 * sf)
    n_users = max(150, int(15_000 * sf))
    n_vecs = n_docs

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": _REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = rng.choice(_PART_ADJ, n_part)
    noun = rng.choice(_PART_NOUN, n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), type=pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(_PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), type=pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_orders),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_orders)),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), type=pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n_line),
    })
    micros = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events), type=pa.int64()),
        "ts": pa.array(
            np.datetime64(dt.datetime(2024, 1, 1), "us") + micros.astype("timedelta64[us]"),
            type=pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, n_users, n_events), type=pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_events)),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = []
    for _ in range(n_docs):
        texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(10, 101)))))
    # A few planted near-duplicates (one word changed) and exact copies,
    # so the dedup families find pairs.
    for i in range(0, n_docs // 50):
        src = texts[i * 37 % n_docs].split()
        if i % 3 == 0:
            texts[(i * 53 + 11) % n_docs] = " ".join(src)
        else:
            src[int(rng.integers(0, len(src)))] = str(rng.choice(_VOCAB))
            texts[(i * 53 + 11) % n_docs] = " ".join(src)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), type=pa.int64()),
        "text": texts,
        "lang": pa.array(rng.choice(_LANGS, n_docs)),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    emb = rng.normal(0.0, 0.12, size=(n_vecs, 64)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), type=pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel(), type=pa.float32()), 64
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), type=pa.int32()),
    })
    return out_dir
