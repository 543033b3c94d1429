"""Property tests of ``registry.driver_order``, the round driver's order.

The driver checks about the first ``DRIVER_WINDOW`` queries of
``__spark_entry__.queries()`` and commits their rows as
CORRECTNESS_r{N}.json. ``driver_order`` computes that order from the
ledger alone; these tests run it over small synthetic ledgers (no files, no
session). tests/test_spark_entry.py checks the window on the committed
ledger.
"""

from __future__ import annotations

import copy
import os
import re

from hypothesis import given, settings
from hypothesis import strategies as st

from spark_kinesis_sql_asl_spark import registry
from spark_kinesis_sql_asl_spark.registry import (
    CANARY_CADENCE,
    DRIVER_WINDOW,
    driver_order,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SETTINGS = settings(max_examples=200, deadline=None)

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
HASH_RED = {"rows_match": True, "schema_match": True, "hash_match": False, "err": None}
ERR_RED = {"rows_match": None, "schema_match": None, "hash_match": None, "err": "TypeError"}
ROWS_ONLY = {"rows_match": None, "schema_match": None, "hash_match": None, "err": "no_oracle"}
ROW_KINDS = (GREEN, HASH_RED, ERR_RED, ROWS_ONLY)


@st.composite
def cases(draw):
    """(names, oracled, ledger): names in a random registration order, some
    of them canaries; a ledger over a random, possibly gapped, set of
    rounds that may also hold a query no longer registered."""
    n_canary = draw(st.integers(0, 4))
    n_other = draw(st.integers(1, 10))
    pool = [f"q_canary_{i}" for i in range(n_canary)]
    pool += [f"q_op_{i}" for i in range(n_other)]
    names = draw(st.permutations(pool))
    oracled = draw(st.sets(st.sampled_from(names)))
    rounds = draw(st.sets(st.integers(1, 8), max_size=5))
    ledger = {}
    for r in sorted(rounds):
        sampled = draw(st.sets(st.sampled_from([*pool, "q_gone"])))
        ledger[r] = {q: draw(st.sampled_from(ROW_KINDS)) for q in sorted(sampled)}
    return names, oracled, ledger


def _last_sampled(ledger) -> dict[str, int]:
    return {q: r for r in sorted(ledger) for q in ledger[r]}


def _reds(ledger) -> set[str]:
    if not ledger:
        return set()
    latest = ledger[max(ledger)]
    return {q for q, row in latest.items() if row in (HASH_RED, ERR_RED)}


def _due_canaries(names, ledger) -> set[str]:
    last = _last_sampled(ledger)
    next_round = max(ledger, default=0) + 1
    return {
        q
        for q in names
        if q.startswith("q_canary_")
        and q in last
        and q not in _reds(ledger)
        and next_round - last[q] >= CANARY_CADENCE
    }


def _spent_rows_only(names, oracled, ledger) -> set[str]:
    runs = {q: 0 for q in names}
    for rows in ledger.values():
        for q, row in rows.items():
            if q in runs and row == ROWS_ONLY:
                runs[q] += 1
    return {
        q
        for q in names
        if q not in oracled
        and runs[q] >= 2
        and q not in _reds(ledger)
        and q not in _due_canaries(names, ledger)
    }


@_SETTINGS
@given(cases())
def test_order_is_a_permutation(case):
    names, oracled, ledger = case
    before = copy.deepcopy((names, oracled, ledger))
    out = driver_order(names, oracled, ledger)
    assert sorted(out) == sorted(names)
    assert len(out) == len(names)
    assert (names, oracled, ledger) == before  # inputs are not mutated


@_SETTINGS
@given(cases())
def test_reds_head_the_list(case):
    """Every query with a red row in the last round comes first, in
    registration order; a red in an older round does not count."""
    names, oracled, ledger = case
    reds = [q for q in names if q in _reds(ledger)]
    assert driver_order(names, oracled, ledger)[: len(reds)] == reds


@_SETTINGS
@given(cases())
def test_never_sampled_follow_reds(case):
    """Queries with no ledger row come right after the reds."""
    names, oracled, ledger = case
    n_reds = len(_reds(ledger) & set(names))
    new = [q for q in names if q not in _last_sampled(ledger)]
    out = driver_order(names, oracled, ledger)
    assert out[n_reds : n_reds + len(new)] == new


@_SETTINGS
@given(cases(), st.data())
def test_appended_red_round_moves_query_to_slot_0(case, data):
    """A new round whose only red row is ``q`` puts ``q`` at slot 0."""
    names, oracled, ledger = case
    q = data.draw(st.sampled_from(names))
    red = data.draw(st.sampled_from((HASH_RED, ERR_RED)))
    ledger = {**ledger, max(ledger, default=0) + 1: {q: red}}
    assert driver_order(names, oracled, ledger)[0] == q


@_SETTINGS
@given(cases())
def test_canary_cohort_on_three_round_refresh(case):
    """Canaries whose last row is CANARY_CADENCE or more rounds before the
    next round follow the never-sampled queries, least recently sampled
    first; a canary sampled more recently waits with the rest."""
    names, oracled, ledger = case
    last = _last_sampled(ledger)
    lo = len(_reds(ledger) & set(names)) + sum(q not in last for q in names)
    due = _due_canaries(names, ledger)
    out = driver_order(names, oracled, ledger)
    cohort = out[lo : lo + len(due)]
    assert set(cohort) == due
    assert cohort == sorted(cohort, key=lambda q: (last[q], names.index(q)))


def test_canary_becomes_due_exactly_at_the_cadence():
    names = ["q_op_a", "q_canary_c", "q_op_b"]
    ledger = {1: {q: GREEN for q in names}}
    for r in range(2, 1 + CANARY_CADENCE):
        assert driver_order(names, set(names), ledger) == names, r
        ledger[r] = {"q_op_b": GREEN}
    assert driver_order(names, set(names), ledger)[0] == "q_canary_c"


@_SETTINGS
@given(cases())
def test_rows_only_half_frequency_rule(case):
    """A rows-only query with two clean rows can only show again that it
    runs: it goes to the tail, behind every other query."""
    names, oracled, ledger = case
    spent = _spent_rows_only(names, oracled, ledger)
    out = driver_order(names, oracled, ledger)
    assert set(out[len(out) - len(spent) :]) == spent


def test_spent_rows_only_query_stays_out_of_the_window():
    names = ["q_rows_only"] + [f"q_op_{i}" for i in range(DRIVER_WINDOW)]
    oracled = set(names[1:])
    ledger = {
        1: {q: (ROWS_ONLY if q == "q_rows_only" else GREEN) for q in names},
        2: {"q_rows_only": ROWS_ONLY},
    }
    assert "q_rows_only" not in driver_order(names, oracled, ledger)[:DRIVER_WINDOW]
    ledger[2] = {q: GREEN for q in names[1:]}  # one clean run: not yet spent
    assert driver_order(names, oracled, ledger)[0] == "q_rows_only"


@_SETTINGS
@given(cases())
def test_rest_follow_last_sampled_order(case):
    """Between the canary cohort and the spent rows-only tail, queries come
    least recently sampled first, ties in registration order."""
    names, oracled, ledger = case
    last = _last_sampled(ledger)
    head = (_reds(ledger) & set(names)) | {q for q in names if q not in last}
    head |= _due_canaries(names, ledger)
    spent = _spent_rows_only(names, oracled, ledger)
    out = driver_order(names, oracled, ledger)
    rest = out[len(head) : len(out) - len(spent)]
    assert set(rest) == set(names) - head - spent
    assert rest == sorted(rest, key=lambda q: (last[q], names.index(q)))


@_SETTINGS
@given(cases())
def test_empty_ledger_gives_registration_order(case):
    names, oracled, _ = case
    assert driver_order(names, oracled, {}) == list(names)


def test_zero_lag_staging_invariant():
    """Over the live registry: queries registered since the last driver
    round land in the next window with no edit, right behind the reds."""
    registry.load_all()
    names = list(registry._QUERIES)
    oracled = set(registry._ORACLES)
    new = names[200:203]
    ledger = {
        1: {q: GREEN for q in names if q not in new},
        2: {names[-1]: HASH_RED},
    }
    assert driver_order(names, oracled, ledger)[:4] == [names[-1], *new]


# ---------------------------------------------------------------------------
# SURVEY §2 inventory arithmetic (VERDICT r8 item #7): the inventory
# paragraph is the judged contract — assert it against the live registry so
# a new @query (or a dropped oracle) cannot silently drift the prose.
# ---------------------------------------------------------------------------


def _survey_inventory() -> dict[str, int | set[str]]:
    with open(os.path.join(REPO, "SURVEY.md")) as f:
        text = f.read()
    m = re.search(
        r"\*\*Inventory count \(round \d+\): (\d+) Tier A \+ (\d+) Tier B"
        r".*?\+ (\d+) Tier C.*?\+ (\d+) Tier D rows; (\d+) SQL-oracled"
        r" query names.*?(\d+) rows-only\s*\(([^)]*)\)",
        text,
        re.S,
    )
    assert m, "SURVEY.md inventory paragraph not found / format drifted"
    rows_only = set(re.findall(r"`(q_\w+)`", m.group(7)))
    return {
        "tier_a": int(m.group(1)),
        "tier_b": int(m.group(2)),
        "tier_c": int(m.group(3)),
        "tier_d": int(m.group(4)),
        "oracled": int(m.group(5)),
        "rows_only_n": int(m.group(6)),
        "rows_only": rows_only,
        "queries": int(
            re.search(r"registry reality (\d+) queries", text).group(1)
        ),
        "oracles": int(
            re.search(r"registry reality \d+ queries / (\d+) oracles", text)
            .group(1)
        ),
    }


def test_survey_inventory_matches_registry():
    inv = _survey_inventory()
    registry.load_all()
    queries = set(registry._QUERIES)
    oracles = set(registry._ORACLES)
    assert len(queries) == inv["queries"], (len(queries), inv["queries"])
    assert len(oracles) == inv["oracles"], (len(oracles), inv["oracles"])
    assert inv["oracled"] == inv["oracles"], "prose oracle counts disagree"
    rows_only = queries - oracles
    assert rows_only == inv["rows_only"], (
        sorted(rows_only - inv["rows_only"]),
        sorted(inv["rows_only"] - rows_only),
    )
    assert inv["rows_only_n"] == len(inv["rows_only"])
    assert inv["queries"] == inv["oracles"] + inv["rows_only_n"]


def test_survey_tier_sum_consistent():
    """Tier rows = query-backed rows + harness-only rows. VERDICT r8:
    pinned constants, updated only when a harness-only row or a shared-row
    query is added."""
    inv = _survey_inventory()
    rows_total = inv["tier_a"] + inv["tier_b"] + inv["tier_c"] + inv["tier_d"]
    registry.load_all()
    HARNESS_ONLY_ROWS = 25  # ... +B213s MACD twin, +B214s ATR twin (r14)
    EXTRA_QUERIES_ON_SHARED_ROWS = 6
    assert rows_total == len(registry._QUERIES) + HARNESS_ONLY_ROWS - (
        EXTRA_QUERIES_ON_SHARED_ROWS
    ), (rows_total, len(registry._QUERIES))
