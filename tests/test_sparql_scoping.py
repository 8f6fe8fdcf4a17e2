"""SPARQL filter scope and placement come from each expression's exact
variable set, never from the text a filter lowers to (no Spark)."""

import pytest

from pyrml_spark.kg.query import compile_bgp
from pyrml_spark.kg.sparql import BGP, Join, parse_select


@pytest.mark.parametrize("query", [
    # ?length must not become a dependency of a filter over ?n alone
    'SELECT ?x WHERE { ?x <http://e/name> ?n . ?x <http://e/len> ?length '
    'FILTER(STRSTARTS(STR(?n), "a")) }',
    # a backticked variable name inside a string literal, next to an
    # OPTIONAL binding that variable, stays in required scope
    'SELECT ?x WHERE { ?x <http://e/name> ?n . ?x <http://e/len> ?l '
    'OPTIONAL { ?x <http://e/alt> ?a } FILTER(?n != "`a`") }',
])
def test_filter_placement_ignores_variable_names(query):
    pq = parse_select(query)
    # the filter stays in the required group's BGP (no Filter node above
    # an OPTIONAL's left join)
    bgp = pq.where.left if isinstance(pq.where, Join) else pq.where
    assert isinstance(bgp, BGP) and len(bgp.filters) == 1
    # each expression paired with the variables it reads, as the executor
    # pairs its Columns (compile_bgp only places filters, never runs
    # them); an SQL-string filter is compile_bgp's other accepted form
    filters = [f if isinstance(f, str) else (f, f.vars)
               for f in bgp.filters]
    plan = compile_bgp(bgp.patterns, filters)
    assert plan.post_filters == []
    assert [pl.pattern[1] for pl in plan.order if pl.scan_filters] == [
        "<http://e/name>"]
