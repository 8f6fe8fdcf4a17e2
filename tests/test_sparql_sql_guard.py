"""SQL-text guard: the SPARQL front-end builds Spark Columns from its
expression tree and never hands SQL text to Spark — no ``expr`` /
``selectExpr`` call, and no ``filter`` / ``where`` / ``withColumn``
whose expression argument is a string constant or an f-string.

AST-based (call sites only), so docstrings that *mention* the calls don't
trip it."""

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
