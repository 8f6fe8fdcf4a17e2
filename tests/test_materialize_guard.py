"""Materialization guard: iterative loops keep their state through the one
fixed-point helper (``kg/fixpoint.py``), which owns the per-round lineage
cut, the convergence test and the ``max_iter`` failure. A
``localCheckpoint``/``checkpoint``/``persist``/``cache`` call written
lexically inside a ``for``/``while`` body anywhere else is a hand-rolled
loop with its own materialization lore.

AST-based (call sites only), so docstrings that *mention* the calls don't
trip it."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "pyrml_spark"

MATERIALIZE = {"localCheckpoint", "checkpoint", "persist", "cache"}

# the one module allowed to materialize per round
ALLOW = {PKG / "kg" / "fixpoint.py"}


def _loop_materializations(tree):
    for loop in ast.walk(tree):
        if not isinstance(loop, (ast.For, ast.AsyncFor, ast.While)):
            continue
        for stmt in loop.body + loop.orelse:
            for node in ast.walk(stmt):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr in MATERIALIZE):
                    yield node


def test_no_materialization_inside_loops_outside_fixpoint():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path in ALLOW:
            continue
        tree = ast.parse(path.read_text(encoding="utf-8"))
        offenders += [f"{path.relative_to(PKG.parent)}:{n.lineno} "
                      f".{n.func.attr}()"
                      for n in _loop_materializations(tree)]
    assert not offenders, (
        "per-round materialization outside kg/fixpoint.py:\n"
        + "\n".join(sorted(set(offenders))))


def test_fixpoint_is_the_loop_that_materializes():
    """The allowance is not vacuous: the helper itself checkpoints inside
    its round loop."""
    (path,) = ALLOW
    tree = ast.parse(path.read_text(encoding="utf-8"))
    assert any(n.func.attr == "localCheckpoint"
               for n in _loop_materializations(tree))
