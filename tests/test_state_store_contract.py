"""Source pin: `tables.get_or_build` is the package's only cross-query memo.

Family state kept in a module-level dict of its own escapes the store's
rule (valid for one Spark application and one set of fixture files), so a
rewritten corpus or a new session would read stale state. This scan fails
when any package module other than tables.py defines a module-level dict
initialised to ``{}`` under a memo-like name.
"""

from __future__ import annotations

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "spark_kinesis_sql_asl_spark")
MEMO_NAME = re.compile(r".*_(CACHE|MEMO|STATE|READY)$")


def _memo_dicts(path: str) -> list[str]:
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    found = []
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign):
            targets, value = [node.target], node.value
        else:
            continue
        if not (isinstance(value, ast.Dict) and not value.keys):
            continue
        found += [
            f"{os.path.relpath(path, REPO)}:{node.lineno} {t.id}"
            for t in targets
            if isinstance(t, ast.Name) and MEMO_NAME.match(t.id)
        ]
    return found


def test_no_memo_dict_outside_the_store():
    offenders = []
    for root, _, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            if name.endswith(".py") and path != os.path.join(PKG, "tables.py"):
                offenders += _memo_dicts(path)
    assert not offenders, (
        "module-level memo dicts outside tables.get_or_build: "
        f"{offenders}; hold cross-query state with get_or_build instead"
    )


def test_scan_catches_a_memo_dict(tmp_path):
    src = tmp_path / "m.py"
    src.write_text("_X_CACHE: dict[str, int] = {}\n_Y_READY = {}\n_OK = {}\n")
    assert [s.split()[-1] for s in _memo_dicts(str(src))] == [
        "_X_CACHE",
        "_Y_READY",
    ]
