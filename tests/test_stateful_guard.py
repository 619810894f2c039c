"""Source guards for the keyed folds (no Spark): every pandas state
operator runs through the one ``applyInPandasWithState`` call of
``streaming.stateful._fold_by_key``, and no stateful operator reads the
wall clock, which a replayed microbatch could not reproduce."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "decaton_spark"
WALL_CLOCKS = {"time.time", "time.monotonic", "datetime.datetime.now"}


def _calls(path: Path):
    """(dotted callee, line) of every call in ``path``, with import
    aliases resolved (``import time as _t``; ``from time import time``)."""
    tree = ast.parse(path.read_text(), str(path))
    alias = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            alias.update({a.asname or a.name: a.name for a in node.names})
        elif isinstance(node, ast.ImportFrom):
            alias.update({a.asname or a.name: f"{node.module}.{a.name}" for a in node.names})

    def dotted(expr):
        if isinstance(expr, ast.Name):
            return alias.get(expr.id, expr.id)
        if isinstance(expr, ast.Attribute):
            return f"{dotted(expr.value)}.{expr.attr}"
        return "?"

    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            yield dotted(node.func), node.lineno


def test_one_apply_in_pandas_with_state_call():
    sites = [
        f"{p.relative_to(PKG)}:{line}"
        for p in sorted(PKG.rglob("*.py"))
        for callee, line in _calls(p)
        if callee.endswith(".applyInPandasWithState")
    ]
    assert len(sites) == 1, sites


def test_stateful_operators_read_no_wall_clock():
    reads = [
        f"{callee}:{line}"
        for callee, line in _calls(PKG / "streaming" / "stateful.py")
        if callee in WALL_CLOCKS
    ]
    assert reads == []
