"""AST guards on the SPARQL front-end (call sites only, so docstrings
that *mention* the calls don't trip them):

* SQL text: it builds Spark Columns from its expression tree and never
  hands SQL text to Spark — no ``expr`` / ``selectExpr`` call, and no
  ``filter`` / ``where`` / ``withColumn`` whose expression argument is a
  string constant or an f-string.
* Joins: solution bags meet in one shared-variable join, ``_join``; the
  only other ``.join(`` calls are the property-path edge joins and
  DESCRIBE's semi join against the triples table."""

import ast
import pathlib

SPARQL = (pathlib.Path(__file__).resolve().parent.parent / "pyrml_spark"
          / "kg" / "sparql.py")

SQL_TEXT_CALLS = {"expr", "selectExpr"}
# method → index of its expression argument (withColumn's first argument
# is the column name)
EXPR_ARG = {"filter": 0, "where": 0, "withColumn": 1}


def _is_text(node):
    return (isinstance(node, ast.JoinedStr)
            or (isinstance(node, ast.Constant) and isinstance(node.value, str)))


def _sql_text_sites(tree):
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        func = node.func
        name = (func.attr if isinstance(func, ast.Attribute)
                else func.id if isinstance(func, ast.Name) else None)
        if name in SQL_TEXT_CALLS:
            yield node, name
        elif name in EXPR_ARG and len(node.args) > EXPR_ARG[name] \
                and _is_text(node.args[EXPR_ARG[name]]):
            yield node, name


def test_sparql_module_passes_no_sql_text_to_spark():
    tree = ast.parse(SPARQL.read_text(encoding="utf-8"))
    offenders = [f"kg/sparql.py:{n.lineno} {name}()"
                 for n, name in _sql_text_sites(tree)]
    assert not offenders, "SQL text handed to Spark:\n" + "\n".join(offenders)


def test_guard_catches_sql_text():
    """The guard is not vacuous: each banned shape is caught."""
    src = ("F.expr('a = 1'); df.selectExpr('a'); df.filter('a = 1')\n"
           "df.where(f'{c} > 1'); df.withColumn('x', 'a + 1')\n"
           "df.withColumn('x', F.col('a')); df.filter(F.col('a'))\n")
    assert [name for _, name in _sql_text_sites(ast.parse(src))] == [
        "expr", "selectExpr", "filter", "where", "withColumn"]


# functions allowed to call DataFrame.join
JOIN_SITES = {"_join", "_closure", "_path_edges", "_seeded_reach",
              "sparql_describe"}


def _join_sites(tree):
    """(enclosing top-level function, line) of every ``.join(`` call."""
    for fn in tree.body:
        for node in ast.walk(fn):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "join"):
                yield getattr(fn, "name", "<module>"), node.lineno


def test_sparql_module_joins_solutions_in_one_place():
    tree = ast.parse(SPARQL.read_text(encoding="utf-8"))
    sites = list(_join_sites(tree))
    offenders = [f"kg/sparql.py:{line} in {fn}()" for fn, line in sites
                 if fn not in JOIN_SITES]
    assert not offenders, "join outside _join:\n" + "\n".join(offenders)
    assert "_join" in {fn for fn, _ in sites}


def test_guard_catches_stray_join():
    """The join guard is not vacuous: a join in any other function, or at
    module level, is reported with its function."""
    src = ("def _join(l, r):\n    return l.join(r, on=['x'])\n"
           "def _bindings(out, right):\n"
           "    return out.join(right, on=['s'], how='left')\n"
           "x = a.join(b)\n")
    assert [fn for fn, _ in _join_sites(ast.parse(src))
            if fn not in JOIN_SITES] == ["_bindings", "<module>"]
