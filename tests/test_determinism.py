"""Determinism stress: every query the driver has hashed least often (none
yet, or first in its latest round) runs TWICE in one session and must
produce byte-identical canonical output.

Motivated by the C111 island-split bug: two window evaluations over a
non-total sort order let tied rows swap between them, so a query could be
driver-green on one run and wrong on the next — the nastiest failure class
because every single-run gate (oracle tests, driver canon, bench) can pass
on the lucky draw. A double-run hash check at sf0.001 is cheap and turns
"flaky wrong" into "red now".
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from spark_kinesis_sql_asl_spark.registry import all_queries

from .driver_canon import canon_hash, spark_to_pandas

SF = "/root/testdata/sf0.001"

# q_ts_stl_decompose's trend window gained a dense-calendar gate after its
# first driver row: a semantics change, so it is stressed like a new query.
_REVERIFIED = frozenset({"q_ts_stl_decompose"})


def _newest_queries() -> set[str]:
    """Queries with no row in the committed CORRECTNESS ledger, plus those
    whose first row is in the latest round that added any: recomputed, so a
    new @query joins this stress list automatically."""
    first: dict[str, int] = {}
    ledger = entry._read_ledger()
    for r in sorted(ledger):
        for q in ledger[r]:
            first.setdefault(q, r)
    newest = max(first.values(), default=0)
    return {q for q in all_queries() if first.get(q, newest) == newest}


# Every query the driver hashed for the first time most recently, or has
# not hashed yet, plus the re-verified ones. A driver-green-on-the-lucky-draw
# query is the failure class this file exists to catch, so stress exactly
# those rows.
_FIRST_SAMPLED_LATEST = sorted(_newest_queries() | _REVERIFIED)


@pytest.mark.parametrize("name", _FIRST_SAMPLED_LATEST)
def test_double_run_is_identical(spark, name):
    q = all_queries()[name]
    h1 = canon_hash(spark_to_pandas(q(spark, SF)))
    h2 = canon_hash(spark_to_pandas(q(spark, SF)))
    assert h1 == h2, f"{name}: nondeterministic output across two runs"
