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


# the LSH operators share one candidate join, which owns their one
# materialization of the banded rows
BAND_OPS = {PKG / "ops" / "dedup.py": {"dedup_minhash_lsh", "dedup_simhash"},
            PKG / "ops" / "similarity.py": {"lsh_cosine_neardup"}}
BANDING = PKG / "ops" / "banding.py"


def _materializations(node):
    return [n for n in ast.walk(node)
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            and n.func.attr in MATERIALIZE]


def test_band_ops_leave_materialization_to_the_band_join():
    for path, names in BAND_OPS.items():
        tree = ast.parse(path.read_text(encoding="utf-8"))
        funcs = {f.name: f for f in ast.walk(tree)
                 if isinstance(f, ast.FunctionDef) and f.name in names}
        assert set(funcs) == names, (path, names - set(funcs))
        for name, f in funcs.items():
            assert not _materializations(f), (path, name)


def test_band_join_is_the_one_place_that_materializes():
    """The rule above is not vacuous: the band join materializes, exactly
    once, and the walker sees a call written inside a function body."""
    tree = ast.parse(BANDING.read_text(encoding="utf-8"))
    assert len(_materializations(tree)) == 1
    probe = ast.parse("def f(df):\n    return df.localCheckpoint(eager=False)")
    assert len(_materializations(probe)) == 1


KG = PKG / "kg"


def test_kg_entry_points_materialize_only_the_pagerank_edges():
    """The KG rows build the graph through the pipeline, whose policies
    own materialization: kg/entry.py makes no call, and kg/analytics.py
    makes one, the cut of PageRank's edge list (read by the degree table
    and both rounds)."""
    entry = ast.parse((KG / "entry.py").read_text(encoding="utf-8"))
    assert not _materializations(entry)
    tree = ast.parse((KG / "analytics.py").read_text(encoding="utf-8"))
    (cut,) = _materializations(tree)
    (pagerank,) = [f for f in ast.walk(tree)
                   if isinstance(f, ast.FunctionDef)
                   and f.name == "kg_pagerank"]
    assert cut in list(ast.walk(pagerank))
