"""Structural guard: the bounded-batch contract lives in one place.

Operators reach a single-task pandas kernel only through
``util.batch_plan`` / ``util.run_batch``, and decide deferral and errors
from typed outcomes (``util.BatchDefer``, ``ValueError``), never from
exception text. This test fails if an operator module hand-rolls any of
it again.
"""

from __future__ import annotations

import ast
import os

OPERATORS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "pyspark_graph_spark",
    "operators",
)


def _modules():
    for name in sorted(os.listdir(OPERATORS)):
        if name.endswith(".py"):
            path = os.path.join(OPERATORS, name)
            with open(path) as fh:
                yield name, ast.parse(fh.read(), path)


def _exception_names(tree):
    """Names bound by ``except ... as <name>`` anywhere in the module."""
    return {
        h.name
        for h in ast.walk(tree)
        if isinstance(h, ast.ExceptHandler) and h.name
    }


def _mentions(node, names):
    return any(
        isinstance(n, ast.Name) and n.id in names for n in ast.walk(node)
    )


def test_no_single_group_literal():
    bad = []
    for name, tree in _modules():
        # f-string pieces such as f"__g{i}_{j}" (Gram cells) are not it
        pieces = {
            id(c)
            for f in ast.walk(tree)
            if isinstance(f, ast.JoinedStr)
            for c in f.values
        }
        bad += [
            f"{name}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Constant)
            and n.value == "__g"
            and id(n) not in pieces
        ]
    assert bad == [], f'"__g" single-group literal outside util.py: {bad}'


def test_no_direct_apply_in_pandas():
    bad = [
        f"{name}:{n.lineno}"
        for name, tree in _modules()
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute) and n.attr == "applyInPandas"
    ]
    assert bad == [], f"applyInPandas outside util.batch_plan: {bad}"


def test_no_exception_matched_by_text():
    """No ``... in str(e)`` / ``... in msg`` style test on a caught
    exception, where ``msg`` was derived from it."""
    bad = []
    for name, tree in _modules():
        caught = _exception_names(tree)
        # variables assigned from an expression over a caught exception
        derived = set(caught)
        for n in ast.walk(tree):
            if isinstance(n, ast.Assign) and _mentions(n.value, caught):
                derived |= {
                    t.id for t in n.targets if isinstance(t, ast.Name)
                }
        for n in ast.walk(tree):
            if (
                isinstance(n, ast.Compare)
                and any(isinstance(op, (ast.In, ast.NotIn)) for op in n.ops)
                and any(_mentions(c, derived) for c in n.comparators)
            ):
                bad.append(f"{name}:{n.lineno}")
    assert bad == [], f"exception matched by its message text: {bad}"
