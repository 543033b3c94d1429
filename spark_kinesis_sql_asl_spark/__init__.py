"""PySpark-native analytics engine with the query/data-processing surface of
``maropu/spark-kinesis-sql-asl`` (a Kinesis connector for Spark Structured
Streaming) plus LLM-data-pipeline extensions.

Provenance: the reference checkout at /root/reference was EMPTY during both
the survey and build sessions (see SURVEY.md §0), so parity targets cite
SURVEY.md §2 inventory rows (A*/B*/C*) instead of reference file:line.

Architecture (SURVEY.md §7): pure PySpark 4.x DataFrame/SQL. No custom
Catalyst rules, no RDDs. The engine's value is (a) the verified operator
surface in ``operators/ functions/ streaming/ llm/``, (b) a Kinesis-shaped
streaming facade in ``sources/`` built on the PySpark Python Data Source API,
and (c) a DuckDB-oracled correctness contract re-exported through
``__spark_entry__.py``.
"""

from __future__ import annotations

# First, so that every Python worker that unpickles package code stops
# re-reading unchanged zip archives before each task (see pyworker.py).
from . import pyworker  # noqa: F401
from .registry import all_oracles, all_queries
from .session import get_session

__all__ = ["all_queries", "all_oracles", "get_session"]
