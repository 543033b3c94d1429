"""The driver contract's order: ``__spark_entry__.queries()`` and
``oracle_sql()`` list the registry in ``registry.driver_order`` over the
committed CORRECTNESS_r{N}.json ledger. No SparkSession: listing the
queries builds no frame.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import __spark_entry__ as entry
from spark_kinesis_sql_asl_spark.registry import (
    DRIVER_WINDOW,
    all_oracles,
    all_queries,
    driver_order,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The four queries last sampled in round 4, the oldest rows of the r01-r15
# ledger.
R4_ERA = {"q_agg_boolcond", "q_agg_decimal", "q_agg_listagg", "q_sort_nulls_first"}


def _ledger_copy(dst, last_round: int | None = None) -> None:
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        r = int(os.path.basename(path)[len("CORRECTNESS_r") : -len(".json")])
        if last_round is None or r <= last_round:
            shutil.copy(path, dst)


def test_queries_follow_driver_order_of_committed_ledger():
    order = driver_order(list(all_queries()), all_oracles(), entry._read_ledger())
    assert list(entry.queries()) == order
    assert set(entry.queries()) == set(all_queries())


def test_oracle_sql_in_the_same_relative_order():
    oracles = entry.oracle_sql()
    assert list(oracles) == [n for n in entry.queries() if n in oracles]
    assert oracles == {n: all_oracles()[n] for n in oracles}
    assert set(oracles) == set(all_oracles())


def test_window_composition_exact(tmp_path):
    """After round 15 the window is the 14 canaries last sampled in r12 and
    r13, the 4 r4-era queries, then the first 32 r5-era queries in
    registration order; it shares no query with r15."""
    _ledger_copy(tmp_path, last_round=15)
    ledger = entry._read_ledger(str(tmp_path))
    assert sorted(ledger) == list(range(1, 16))
    names = list(all_queries())
    window = driver_order(names, all_oracles(), ledger)[:DRIVER_WINDOW]
    last = {q: r for r in sorted(ledger) for q in ledger[r]}

    canaries = [q for q in window if q.startswith("q_canary_")]
    assert len(canaries) == 14
    assert {last[q] for q in canaries} == {12, 13}
    assert window[:14] == canaries
    assert set(window[14:18]) == R4_ERA
    r5_era = [q for q in names if last.get(q) == 5]
    assert len(r5_era) == 35
    assert window[18:] == r5_era[:32]
    assert not set(window) & set(ledger[15])


def test_appended_red_round_moves_query_to_slot_0(tmp_path):
    """A new ledger file with one red row puts that query first, with no
    edit to the source."""
    _ledger_copy(tmp_path)
    next_round = max(entry._read_ledger(str(tmp_path))) + 1
    names = list(all_queries())
    q = driver_order(names, all_oracles(), entry._read_ledger(str(tmp_path)))[-1]
    row = {"rows_match": True, "schema_match": True, "hash_match": False,
           "spark_rows": 1, "oracle_rows": 1, "err": None}
    with open(tmp_path / f"CORRECTNESS_r{next_round:02d}.json", "w") as f:
        json.dump({q: row}, f)
    order = driver_order(names, all_oracles(), entry._read_ledger(str(tmp_path)))
    assert order[0] == q


def test_no_ledger_gives_registration_order(tmp_path):
    (tmp_path / "CORRECTNESS_notes.json").write_text("{}")  # not a round file
    ledger = entry._read_ledger(str(tmp_path))
    assert ledger == {}
    assert driver_order(list(all_queries()), all_oracles(), ledger) == list(
        all_queries()
    )
