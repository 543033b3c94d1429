"""Output checks computed without Spark.

The Kinesis workloads are checked with DuckDB over the records the
benchmark generated; the analytics queries against their registered DuckDB
oracle SQL through the order-insensitive canon of ``tests/driver_canon.py``.
The aggregate comparison returns a list of problems, as
``tests.driver_canon.compare`` does; an empty list means the output is
correct.

Aggregate rows have the shape of ``q_kinesis_decode_json``:
``(partition_key, n_records, sum_k, first_arrival_us, last_arrival_us)``,
with both arrival times in epoch microseconds.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

from spark_kinesis_sql_asl_spark.tables import TABLES

_EXPECTED_SQL = """
SELECT CAST(user_id AS VARCHAR), count(*), sum(k)::BIGINT,
       epoch_us(min(ts)), epoch_us(max(ts))
FROM records {where} GROUP BY user_id
"""


def expected_aggregate(records: pa.Table, keys=None) -> dict[str, tuple]:
    """Per partition key: count, sum of ``k`` and min/max arrival of the
    records, optionally only for the partition keys in ``keys``."""
    con = duckdb.connect()
    try:
        con.register("records", records)
        where = ""
        if keys is not None:
            con.register("wanted", pa.table({"pk": pa.array(sorted(keys), pa.string())}))
            where = "WHERE CAST(user_id AS VARCHAR) IN (SELECT pk FROM wanted)"
        rows = con.execute(_EXPECTED_SQL.format(where=where)).fetchall()
    finally:
        con.close()
    return {r[0]: tuple(r[1:]) for r in rows}


def compare_aggregate(expected: dict[str, tuple], rows) -> list[str]:
    """Problems between the expected per-key aggregate and output rows:
    missing, extra or repeated keys, and any differing value. A dropped or
    repeated record shows as a wrong count for its key."""
    problems = []
    seen = set()
    for pk, *vals in rows:
        if pk in seen:
            problems.append(f"key {pk}: more than one output row")
            continue
        seen.add(pk)
        want = expected.get(pk)
        if want is None:
            problems.append(f"key {pk}: not in the published records")
        elif tuple(int(v) for v in vals) != want:
            problems.append(f"key {pk}: got {tuple(vals)}, want {want}")
    for pk in sorted(set(expected) - seen):
        problems.append(f"key {pk}: missing from the output")
    return problems


def latest_sink_rows(sink_dir: str, epochs=None) -> list[tuple]:
    """For each key, its row from the latest sink epoch that holds it.
    ``epochs`` limits the read to those epoch ids."""
    con = duckdb.connect()
    try:
        rel = (
            f"read_parquet('{sink_dir}/epoch=*/*.parquet', hive_partitioning=true)"
        )
        where = ""
        if epochs is not None:
            where = "WHERE epoch IN (" + ",".join(str(int(e)) for e in epochs) + ")"
        return con.execute(
            f"""
            SELECT partition_key,
                   arg_max(n_records, epoch), arg_max(sum_k, epoch),
                   arg_max(epoch_us(first_arrival), epoch),
                   arg_max(epoch_us(last_arrival), epoch)
            FROM {rel} {where} GROUP BY partition_key
            """
        ).fetchall()
    finally:
        con.close()


def oracle_frame(con: duckdb.DuckDBPyConnection, sql: str, sf_dir: str):
    """A query's oracle result over the fixture at ``sf_dir``, as pandas."""
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con.execute(sql).df()
