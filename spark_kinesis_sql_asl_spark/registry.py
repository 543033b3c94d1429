"""Query registry: the single source of truth behind ``__spark_entry__.py``.

Each operator from SURVEY.md §2 registers itself with the :func:`query`
decorator, pairing the PySpark implementation with its DuckDB oracle SQL
(or ``oracle=None`` for rows-only checks such as approximate operators).
:func:`driver_order` orders the registry for the round driver from its
committed ledger.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable, Collection, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}

# Modules that register queries at import time. Their order is the
# registration order, which is only the tie-break of ``driver_order``.
_MODULES = (
    "operators.canaries",
    "llm.dedup",
    "llm.pipeline",
    "llm.curation",
    "llm.splits",
    "llm.vectors",
    "llm.ordering",
    "llm.ingest",
    "llm.scoring",
    "llm.spans",
    "llm.audits",
    "llm.sketches",
    "llm.training",
    "operators.events",
    "operators.timeseries",
    "operators.governance",
    "operators.analytics",
    "operators.geo",
    "llm.similarity",
    "llm.retrieval",
    "functions.udfs",
    "streaming.windows",
    "sources.kinesis_queries",
    "llm.text",
    "llm.multimodal",
    "functions.nested",
    "functions.strings",
    "functions.datetime_math",
    "operators.scans",
    "operators.filters",
    "operators.joins",
    "operators.aggregates",
    "operators.windows",
    "operators.sorts_sets",
)

# The round driver checks about the first DRIVER_WINDOW queries of
# ``__spark_entry__.queries()`` and commits their rows as
# CORRECTNESS_r{N}.json, the ledger ``driver_order`` reads.
DRIVER_WINDOW = 50
# A canary is checked again once its last ledger row is this many rounds old.
CANARY_CADENCE = 3

_loaded = False


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query under ``name``, with its DuckDB oracle SQL or
    ``None`` for a rows-only check.

    Registration order is the order of :func:`all_queries`. The order the
    round driver sees is computed from its ledger by :func:`driver_order`;
    a query needs no per-round annotation to enter the driver's window.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    global _loaded
    if _loaded:
        return
    for mod in _MODULES:
        try:
            importlib.import_module(f"{__package__}.{mod}")
        except ModuleNotFoundError as e:
            # Tolerate not-yet-written modules during incremental build, but
            # re-raise genuine import errors inside existing modules.
            if e.name and e.name.startswith(__package__):
                continue
            raise
    _loaded = True


def all_queries() -> dict[str, QueryFn]:
    """Every registered query, in registration order."""
    load_all()
    return dict(_QUERIES)


def all_oracles() -> dict[str, str]:
    """Every oracle SQL, in registration order."""
    load_all()
    return dict(_ORACLES)


def _red(row: dict) -> bool:
    """A ledger row that failed: an error other than ``no_oracle``, or an
    oracle comparison that did not match on rows, schema and hash."""
    if row.get("err") not in (None, "no_oracle"):
        return True
    return row.get("hash_match") is not None and not (
        row["rows_match"] and row["schema_match"] and row["hash_match"]
    )


def driver_order(
    names: Sequence[str],
    oracled: Collection[str],
    ledger: Mapping[int, Mapping[str, dict]],
) -> list[str]:
    """The order in which the round driver should see ``names``, the most
    at-risk or stalest first, computed from ``ledger``
    (``{round: {query: row}}``, the committed CORRECTNESS_r{N}.json files).

    Tiers, each ordered least recently sampled first, then by position in
    ``names``:

    1. queries with a red row in the ledger's last round;
    2. queries with no ledger row at all, so a new query is checked in the
       round after it lands;
    3. canaries (``q_canary_*``) whose last row is CANARY_CADENCE or more
       rounds before the next round;
    4. every other query;
    5. rows-only queries (not in ``oracled``) that have run clean twice:
       a rows-only row can only show that the query runs.

    An empty ledger gives the order of ``names``.
    """
    next_round = max(ledger, default=0) + 1
    last: dict[str, int] = {}
    rows_only_runs: dict[str, int] = {}
    for r in sorted(ledger):
        for q, row in ledger[r].items():
            last[q] = r
            if row.get("err") == "no_oracle":
                rows_only_runs[q] = rows_only_runs.get(q, 0) + 1
    latest = ledger.get(next_round - 1, {})

    def tier(q: str) -> int:
        if q in latest and _red(latest[q]):
            return 1
        if q not in last:
            return 2
        if q.startswith("q_canary_") and next_round - last[q] >= CANARY_CADENCE:
            return 3
        if q not in oracled and rows_only_runs.get(q, 0) >= 2:
            return 5
        return 4

    pos = {q: i for i, q in enumerate(names)}
    return sorted(names, key=lambda q: (tier(q), last.get(q, 0), pos[q]))
