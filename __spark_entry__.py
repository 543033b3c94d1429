"""Driver contract for the spark-graft builder (PySpark target).

Thin re-export over :mod:`spark_kinesis_sql_asl_spark` — the registry pairs
every implemented SURVEY.md §2 operator with its DuckDB oracle SQL.
``queries()`` and ``oracle_sql()`` list them in ``registry.driver_order``
over the CORRECTNESS_r{N}.json ledger next to this file, so the driver's
first rows are the most at-risk or stalest queries.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections.abc import Callable

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from spark_kinesis_sql_asl_spark.registry import (  # noqa: E402
    all_oracles,
    all_queries,
    driver_order,
)

_SMOKE_SF_DIR = "/root/testdata/sf0.001"
_FLAGSHIP = "q_join_multiway"


def _read_ledger(directory: str = _REPO_DIR) -> dict[int, dict[str, dict]]:
    """The driver's ledger, ``{round: {query: row}}``, from the
    CORRECTNESS_r{N}.json files in ``directory``."""
    ledger = {}
    for name in os.listdir(directory):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", name)
        if m:
            with open(os.path.join(directory, name)) as f:
                ledger[int(m.group(1))] = json.load(f)
    return ledger


def _order() -> list[str]:
    return driver_order(list(all_queries()), all_oracles(), _read_ledger())


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY.md §7 M1): 5-table star join, filtered revenue
    by region/nation, on /root/testdata/sf0.001."""
    return all_queries()[_FLAGSHIP](spark, _SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    qs = all_queries()
    return {n: qs[n] for n in _order()}


def oracle_sql() -> dict[str, str]:
    oracles = all_oracles()
    return {n: oracles[n] for n in _order() if n in oracles}
