"""The benchmark's output checks flag a perturbed output.

Run from the root of a checkout: ``python -m pytest perfbench -q``. No
SparkSession is started; the checks are DuckDB and pandas only.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402
from tests.driver_canon import compare  # noqa: E402


def _records(n=500, seed=3):
    return gen.make_records(np.random.default_rng(seed), n)


def _rows_for(records: pa.Table) -> list[tuple]:
    """The correct aggregate rows, computed in plain Python."""
    agg: dict[str, list] = {}
    for u, k, ts in zip(records.column("user_id").to_pylist(),
                        records.column("k").to_pylist(),
                        records.column("ts").cast(pa.int64()).to_pylist()):
        a = agg.setdefault(str(u), [0, 0, ts, ts])
        a[0] += 1
        a[1] += k
        a[2] = min(a[2], ts)
        a[3] = max(a[3], ts)
    return [(pk, *vals) for pk, vals in agg.items()]


def test_correct_aggregate_passes():
    recs = _records()
    assert checks.compare_aggregate(checks.expected_aggregate(recs), _rows_for(recs)) == []


def test_dropped_record_is_flagged():
    recs = _records()
    expected = checks.expected_aggregate(recs)
    assert checks.compare_aggregate(expected, _rows_for(recs.slice(1))) != []


def test_repeated_record_is_flagged():
    recs = _records()
    expected = checks.expected_aggregate(recs)
    doubled = pa.concat_tables([recs, recs.slice(0, 1)])
    assert checks.compare_aggregate(expected, _rows_for(doubled)) != []


def test_changed_aggregate_is_flagged():
    recs = _records()
    rows = _rows_for(recs)
    pk, n, s, lo, hi = rows[0]
    rows[0] = (pk, n, s + 1, lo, hi)
    problems = checks.compare_aggregate(checks.expected_aggregate(recs), rows)
    assert len(problems) == 1 and pk in problems[0]


def test_missing_and_extra_keys_are_flagged():
    recs = _records()
    rows = _rows_for(recs)
    assert checks.compare_aggregate(checks.expected_aggregate(recs), rows[1:]) != []
    extra = rows + [("no-such-key", 1, 1, 0, 0)]
    assert checks.compare_aggregate(checks.expected_aggregate(recs), extra) != []


def test_key_subset_expectation():
    recs = _records()
    rows = _rows_for(recs)[:3]
    keys = {r[0] for r in rows}
    assert checks.compare_aggregate(checks.expected_aggregate(recs, keys), rows) == []


def test_latest_sink_epoch_wins(tmp_path):
    """The live check reads each key's row from its latest epoch; a stale
    row in a later epoch is flagged."""
    recs = _records()
    first, second = recs.slice(0, 200), recs
    cols = ["partition_key", "n_records", "sum_k", "first_arrival", "last_arrival"]

    def write(epoch, table):
        rows = _rows_for(table)
        d = tmp_path / f"epoch={epoch}"
        d.mkdir()
        frame = pd.DataFrame(rows, columns=cols)
        for c in ("first_arrival", "last_arrival"):
            frame[c] = pd.to_datetime(frame[c], unit="us")
        pq.write_table(pa.Table.from_pandas(frame, preserve_index=False),
                       d / "part-0.parquet")

    write(0, first)
    write(1, second)
    expected = checks.expected_aggregate(recs)
    assert checks.compare_aggregate(expected, checks.latest_sink_rows(str(tmp_path))) == []
    assert checks.compare_aggregate(
        expected, checks.latest_sink_rows(str(tmp_path), epochs=[0])) != []


def test_altered_query_row_is_flagged():
    oracle = pd.DataFrame({"k": [1, 2, 3], "v": [1.5, 2.5, 3.5]})
    same = oracle.iloc[::-1].reset_index(drop=True)
    assert compare(same, oracle) == []
    altered = same.copy()
    altered.loc[1, "v"] = 2.25
    assert compare(altered, oracle) != []
    assert compare(same.iloc[:2], oracle) != []
