"""SPARQL SELECT front-end (pyrml_spark/kg/sparql.py): parser unit tests
(no Spark) + execution tests over a tiny in-memory triples table +
equivalence with the hand-built BGP rows."""

import pytest

from pyrml_spark.kg.sparql import (
    ParsedQuery,
    SPARQLError,
    SPARQLUnsupportedError,
    parse_select,
    sparql_select,
)

RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"


# ------------------------------------------------------------- parsing


def test_prefix_expansion_and_rdf_type():
    pq = parse_select(
        "PREFIX ex: <http://ex.com/> "
        "SELECT ?s WHERE { ?s a ex:Person . ?s ex:name ?n }")
    assert pq.patterns == [
        ("?s", RDF_TYPE, "<http://ex.com/Person>"),
        ("?s", "<http://ex.com/name>", "?n"),
    ]
    assert pq.select_vars == ["s"]
    assert not pq.distinct


def test_predicate_and_object_lists():
    pq = parse_select(
        "PREFIX e: <http://e/> SELECT * WHERE "
        "{ ?s e:p ?a , ?b ; e:q ?c . }")
    assert pq.patterns == [
        ("?s", "<http://e/p>", "?a"),
        ("?s", "<http://e/p>", "?b"),
        ("?s", "<http://e/q>", "?c"),
    ]
    assert pq.select_vars is None  # SELECT *


def test_literal_forms_encode_like_the_engine():
    pq = parse_select(
        'PREFIX x: <http://www.w3.org/2001/XMLSchema#> '
        'SELECT ?s WHERE { ?s <http://e/p> "plain" . '
        '?s <http://e/q> "hi"@en . '
        '?s <http://e/r> "5"^^x:integer . '
        '?s <http://e/t> "s"^^x:string . '
        "?s <http://e/u> 7 . ?s <http://e/v> 1.5 . "
        "?s <http://e/w> 2e3 }")
    objs = [p[2] for p in pq.patterns]
    assert objs == [
        '"plain"',
        '"hi"@en',
        '"5"^^<http://www.w3.org/2001/XMLSchema#integer>',
        '"s"',  # xsd:string collapses to the plain encoding
        '"7"^^<http://www.w3.org/2001/XMLSchema#integer>',
        '"1.5"^^<http://www.w3.org/2001/XMLSchema#decimal>',
        '"2e3"^^<http://www.w3.org/2001/XMLSchema#double>',
    ]


def test_base_resolution_and_relative_iri_rejection():
    pq = parse_select(
        "BASE <http://ex.com/dir/> SELECT ?s WHERE { ?s <p> <../o> }")
    assert pq.patterns == [("?s", "<http://ex.com/dir/p>",
                            "<http://ex.com/o>")]
    with pytest.raises(SPARQLError, match="relative IRI"):
        parse_select("SELECT ?s WHERE { ?s <p> ?o }")


def test_distinct_reduced_order_limit_offset():
    pq = parse_select(
        "SELECT DISTINCT ?a WHERE { ?a <http://e/p> ?b } "
        "ORDER BY DESC(?a) ?b LIMIT 5 OFFSET 2")
    assert pq.distinct and pq.order_by == [("a", False), ("b", True)]
    assert pq.limit == 5 and pq.offset == 2
    assert not parse_select(
        "SELECT REDUCED ?a WHERE { ?a <http://e/p> ?b }").distinct


def test_filter_conjunction_splits():
    pq = parse_select(
        "SELECT ?a ?b WHERE { ?a <http://e/p> ?b "
        'FILTER(STRSTARTS(?a, "x") && ?b != <http://e/o>) }')
    assert len(pq.filters) == 2
    assert "startswith" in pq.filters[0]
    assert pq.filters[1] == "(`b` <> '<http://e/o>')"


def test_filter_disjunction_stays_one_expression():
    pq = parse_select(
        "SELECT ?a WHERE { ?a <http://e/p> ?b "
        'FILTER(?b = "x" || ?b = "y" && ?b != "z") }')
    assert len(pq.filters) == 1
    assert " OR " in pq.filters[0] and " AND " in pq.filters[0]


def test_filter_unbound_variable_is_loud():
    with pytest.raises(SPARQLError, match="before any pattern binds"):
        parse_select(
            "SELECT ?a WHERE { ?a <http://e/p> ?b FILTER(?c = 1) }")


@pytest.mark.parametrize("query,construct", [
    ("SELECT ?s WHERE { ?s <http://e/p> ?o . "
     "OPTIONAL { ?s <http://e/q> ?a BIND(1 AS ?x) } }", "BIND"),
    ("SELECT ?s WHERE { ?s <http://e/p> [ <http://e/q> ?o ] }",
     "blank node"),
    ("SELECT ?s WHERE { ?s <http://e/p> ?o FILTER(ABS(?o) > 1) }",
     "ABS"),
    # one level of compounding only
    ("SELECT ?s WHERE { ?s <http://e/p> ?o OPTIONAL { "
     "?s <http://e/q> ?a OPTIONAL { ?s <http://e/r> ?b } } }",
     "one level"),
    # UNION must be the top-level form
    ("SELECT ?s WHERE { ?s <http://e/p> ?o . "
     "{ ?s <http://e/q> ?a } UNION { ?s <http://e/r> ?a } }",
     "top-level"),
    ("SELECT (SUM(?o) AS ?x) WHERE { ?s <http://e/p> ?o } HAVING (?x > 1)",
     "HAVING"),
    # MINUS/EXISTS are supported as whole constraints, not inside
    # parenthesized boolean expressions or OPTIONAL
    ("SELECT ?s WHERE { ?s <http://e/p> ?o "
     "FILTER(EXISTS { ?s <http://e/q> ?o } && ?o != 1) }",
     "entire constraint"),
    ("SELECT ?s WHERE { ?s <http://e/p> ?o OPTIONAL { "
     "?s <http://e/q> ?a MINUS { ?s <http://e/r> ?a } } }", "MINUS"),
])
def test_unsupported_constructs_are_loud(query, construct):
    with pytest.raises(SPARQLUnsupportedError, match=construct):
        parse_select(query)


def test_parse_errors_are_loud():
    with pytest.raises(SPARQLError, match="undeclared prefix"):
        parse_select("SELECT ?s WHERE { ?s ex:p ?o }")
    with pytest.raises(SPARQLError, match="unterminated"):
        parse_select("SELECT ?s WHERE { ?s <http://e/p> ?o")
    with pytest.raises(SPARQLError, match="trailing"):
        parse_select("SELECT ?s WHERE { ?s <http://e/p> ?o } ?x")
    with pytest.raises(SPARQLError, match="tokenize"):
        parse_select("SELECT ?s WHERE { ?s <http://e/p> @@ }")


def test_fully_bound_pattern_rejected_at_execution_layer():
    # parses fine; the BGP compiler refuses patterns binding no variable
    pq = parse_select(
        "SELECT ?s WHERE { ?s <http://e/p> ?o . "
        "<http://e/a> <http://e/b> <http://e/c> }")
    assert len(pq.patterns) == 2


# ----------------------------------------------------------- execution

T = [
    # people
    ("<http://e/alice>", RDF_TYPE, "<http://e/Person>"),
    ("<http://e/bob>", RDF_TYPE, "<http://e/Person>"),
    ("<http://e/club>", RDF_TYPE, "<http://e/Org>"),
    ("<http://e/alice>", "<http://e/name>", '"Alice"'),
    ("<http://e/bob>", "<http://e/name>", '"Bo\\"b"'),  # escaped quote
    ("<http://e/club>", "<http://e/name>", '"Club"@en'),
    ("<http://e/alice>", "<http://e/age>",
     '"31"^^<http://www.w3.org/2001/XMLSchema#integer>'),
    ("<http://e/bob>", "<http://e/age>",
     '"7"^^<http://www.w3.org/2001/XMLSchema#integer>'),
    ("<http://e/alice>", "<http://e/knows>", "<http://e/bob>"),
    ("<http://e/bob>", "<http://e/knows>", "<http://e/alice>"),
]

PFX = "PREFIX e: <http://e/> "


@pytest.fixture(scope="module")
def triples(spark):
    return spark.createDataFrame(T, ["s", "p", "o"]).cache()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_exec_basic_join(triples):
    out = sparql_select(
        triples, PFX + "SELECT ?n WHERE { ?s a e:Person ; e:name ?n }")
    assert out.columns == ["n"]
    assert _rows(out) == [('"Alice"',), ('"Bo\\"b"',)]


def test_exec_term_vs_lexical_equality(triples):
    # term equality: "Club" (plain) does not match "Club"@en
    out = sparql_select(
        triples, PFX + 'SELECT ?s WHERE { ?s e:name ?n FILTER(?n = "Club") }')
    assert _rows(out) == []
    # lexical comparison via STR() sees through the language tag
    out = sparql_select(
        triples,
        PFX + 'SELECT ?s WHERE { ?s e:name ?n FILTER(STR(?n) = "Club") }')
    assert _rows(out) == [("<http://e/club>",)]


def test_exec_lexical_unescape(triples):
    # the encoded term is "Bo\"b" — STR() must undo the \" escape
    out = sparql_select(
        triples,
        PFX + 'SELECT ?s WHERE { ?s e:name ?n FILTER(STR(?n) = "Bo\\"b") }')
    assert _rows(out) == [("<http://e/bob>",)]
    out = sparql_select(
        triples,
        PFX + 'SELECT ?s WHERE { ?s e:name ?n FILTER(CONTAINS(?n, "o\\"b")) }')
    assert _rows(out) == [("<http://e/bob>",)]


def test_exec_numeric_comparison_on_typed_literals(triples):
    out = sparql_select(
        triples,
        PFX + "SELECT ?s WHERE { ?s e:age ?a FILTER(?a >= 18) }")
    assert _rows(out) == [("<http://e/alice>",)]
    # non-numeric lexical → NULL cast → row drops (SPARQL type error)
    out = sparql_select(
        triples,
        PFX + "SELECT ?s WHERE { ?s e:name ?a FILTER(?a >= 18) }")
    assert _rows(out) == []


def test_exec_lang_and_type_checks(triples):
    out = sparql_select(
        triples,
        PFX + 'SELECT ?s WHERE { ?s e:name ?n FILTER(LANG(?n) = "en") }')
    assert _rows(out) == [("<http://e/club>",)]
    out = sparql_select(
        triples,
        PFX + "SELECT ?o WHERE { ?s e:knows ?o FILTER(isIRI(?o)) }")
    assert _rows(out) == [("<http://e/alice>",), ("<http://e/bob>",)]
    out = sparql_select(
        triples,
        PFX + "SELECT ?n WHERE { ?s e:name ?n FILTER(!isLiteral(?n)) }")
    assert _rows(out) == []


def test_exec_regex_and_strstarts_on_iri(triples):
    out = sparql_select(
        triples,
        PFX + 'SELECT ?s WHERE { ?s a ?t FILTER(REGEX(STR(?t), "Pers.n$")) }')
    assert _rows(out) == [("<http://e/alice>",), ("<http://e/bob>",)]
    out = sparql_select(
        triples,
        PFX + 'SELECT ?s WHERE { ?s a ?t '
        'FILTER(STRSTARTS(STR(?s), "http://e/a")) }')
    assert _rows(out) == [("<http://e/alice>",)]
    out = sparql_select(
        triples,
        PFX + 'SELECT ?s WHERE { ?s a ?t FILTER(REGEX(STR(?t), "PERS.N$", "i")) }')
    assert _rows(out) == [("<http://e/alice>",), ("<http://e/bob>",)]


def test_exec_order_limit_offset(triples):
    out = sparql_select(
        triples,
        PFX + "SELECT ?s ?a WHERE { ?s e:age ?a } ORDER BY DESC(?s) LIMIT 1")
    assert _rows(out) == [("<http://e/bob>",
                           '"7"^^<http://www.w3.org/2001/XMLSchema#integer>')]
    out = sparql_select(
        triples,
        PFX + "SELECT ?s WHERE { ?s e:age ?a } ORDER BY ?s LIMIT 2 OFFSET 1")
    assert _rows(out) == [("<http://e/bob>",)]


def test_exec_distinct_vs_bag(triples):
    # ?x knows ?y twice projected to a constant-free single var: the bag
    # keeps both rows, DISTINCT collapses
    bag = sparql_select(
        triples, PFX + "SELECT ?t WHERE { ?s e:knows ?o . ?s a ?t }")
    dis = sparql_select(
        triples, PFX + "SELECT DISTINCT ?t WHERE { ?s e:knows ?o . ?s a ?t }")
    assert bag.count() == 2 and dis.count() == 1


def test_exec_matches_hand_built_bgp(spark):
    """The SPARQL text of analytics.BGP_PATTERNS/FILTERS/SELECT returns
    byte-identical rows to the hand-built compiler call on the same
    triples (the sf-independent 300-doc corpus)."""
    from pyrml_spark.kg.analytics import _bgp_over, kg_sparql_query
    from pyrml_spark.kg.entry import kg_pipeline_fused_triples

    t = kg_pipeline_fused_triples(spark, "unused").select("s", "p", "o")
    sparql_text = """
      PREFIX kg: <http://kg.ex/p/>
      SELECT DISTINCT ?doc ?person ?media ?media_kind WHERE {
        ?doc kg:mentions ?person ; kg:hasMedia ?media .
        ?media kg:mediaKind ?media_kind .
        FILTER(STRSTARTS(STR(?person), "http://kg.ex/ent/person/"))
      }
    """
    a = _rows(_bgp_over(t))
    b = _rows(sparql_select(t, sparql_text))
    assert a == b and len(a) > 0

    # and the driver row returns non-empty with the declared columns
    out = kg_sparql_query(spark, "unused")
    assert out.columns == ["doc", "person", "kind"]
    assert out.count() > 0


# ------------------------------------- OPTIONAL / UNION / agg / forms


def test_parse_optional_union_aggregates():
    pq = parse_select(
        "SELECT ?s ?o WHERE { ?s <http://e/p> ?x "
        "OPTIONAL { ?s <http://e/q> ?o FILTER(?o != 1) } }")
    assert len(pq.optionals) == 1
    opats, ofils = pq.optionals[0]
    assert opats == [("?s", "<http://e/q>", "?o")] and len(ofils) == 1

    pq = parse_select(
        "SELECT ?s WHERE { { ?s <http://e/p> ?a } UNION "
        "{ ?s <http://e/q> ?b } }")
    assert pq.union_groups is not None and len(pq.union_groups) == 2
    assert not pq.patterns

    pq = parse_select(
        "SELECT ?t (COUNT(*) AS ?n) (SUM(?a) AS ?tot) WHERE "
        "{ ?s a ?t . ?s <http://e/age> ?a } GROUP BY ?t")
    assert [a.fn for a in pq.aggregates] == ["COUNT", "SUM"]
    assert pq.aggregates[0].var is None
    assert pq.group_by == ["t"]


def test_parse_aggregate_validation():
    with pytest.raises(SPARQLError, match="must appear in GROUP BY"):
        parse_select("SELECT ?s (COUNT(?o) AS ?n) WHERE "
                     "{ ?s <http://e/p> ?o }")
    with pytest.raises(SPARQLError, match="GROUP BY without"):
        parse_select("SELECT ?s WHERE { ?s <http://e/p> ?o } GROUP BY ?s")
    with pytest.raises(SPARQLError, match="collide"):
        parse_select("SELECT (COUNT(?o) AS ?s) WHERE "
                     "{ ?s <http://e/p> ?o }")
    with pytest.raises(SPARQLError, match="not bound"):
        parse_select("SELECT (COUNT(?o) AS ?n) WHERE "
                     "{ ?s <http://e/p> ?o } GROUP BY ?z")


def test_exec_optional_left_join(triples):
    # every Person, with their age if any — club has a name but no type
    # row with age, alice+bob both have ages; drop bob's age via filter
    out = sparql_select(
        triples,
        PFX + "SELECT ?s ?a WHERE { ?s a e:Person "
        "OPTIONAL { ?s e:age ?a FILTER(?a >= 18) } } ORDER BY ?s")
    rows = [tuple(r) for r in out.collect()]
    assert rows == [
        ("<http://e/alice>",
         '"31"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("<http://e/bob>", None),
    ]


def test_exec_optional_requires_shared_var(triples):
    with pytest.raises(SPARQLError, match="shares no variable"):
        sparql_select(
            triples,
            PFX + "SELECT ?s WHERE { ?s a e:Person "
            "OPTIONAL { ?x e:age ?y } }").collect()


def test_exec_union(triples):
    out = sparql_select(
        triples,
        PFX + "SELECT ?s ?n ?t WHERE { { ?s e:name ?n } UNION "
        "{ ?s a ?t } }")
    assert out.columns == ["s", "n", "t"]
    rows = [tuple(r) for r in out.collect()]
    assert len(rows) == 6  # 3 names + 3 types, bag union
    # name side has NULL t, type side has NULL n
    assert sum(1 for r in rows if r[1] is None and r[2] is not None) == 3
    assert sum(1 for r in rows if r[2] is None and r[1] is not None) == 3


def test_exec_aggregates(triples):
    out = sparql_select(
        triples,
        PFX + "SELECT ?t (COUNT(*) AS ?n) WHERE { ?s a ?t } "
        "GROUP BY ?t ORDER BY ?t")
    assert [tuple(r) for r in out.collect()] == [
        ("<http://e/Org>", 1), ("<http://e/Person>", 2)]
    out = sparql_select(
        triples,
        PFX + "SELECT (SUM(?a) AS ?tot) (AVG(?a) AS ?avg) "
        "(COUNT(DISTINCT ?s) AS ?np) WHERE { ?s e:age ?a }")
    assert [tuple(r) for r in out.collect()] == [(38.0, 19.0, 2)]
    # SUM over non-numeric lexicals elides the error terms (NULL-skip)
    out = sparql_select(
        triples,
        PFX + "SELECT (SUM(?n) AS ?tot) WHERE { ?s e:name ?n }")
    assert [tuple(r) for r in out.collect()] == [(None,)]


def test_exec_ask(triples):
    from pyrml_spark.kg.sparql import sparql_ask

    assert sparql_ask(
        triples, PFX + "ASK { ?s a e:Person }") is True
    assert sparql_ask(
        triples, PFX + "ASK { ?s a e:Robot }") is False
    assert sparql_ask(
        triples,
        PFX + 'ASK { ?s e:name ?n FILTER(LANG(?n) = "de") }') is False
    with pytest.raises(SPARQLError, match="sparql_ask got a SELECT"):
        sparql_ask(triples, PFX + "SELECT ?s WHERE { ?s a e:Person }")


def test_exec_construct(triples):
    from pyrml_spark.kg.sparql import sparql_construct

    out = sparql_construct(
        triples,
        PFX + "CONSTRUCT { ?a e:peer ?b . ?a a e:Known } "
        "WHERE { ?a e:knows ?b }")
    assert out.columns == ["s", "p", "o"]
    assert _rows(out) == sorted([
        ("<http://e/alice>", "<http://e/peer>", "<http://e/bob>"),
        ("<http://e/bob>", "<http://e/peer>", "<http://e/alice>"),
        ("<http://e/alice>", RDF_TYPE, "<http://e/Known>"),
        ("<http://e/bob>", RDF_TYPE, "<http://e/Known>"),
    ])
    # literal subject instantiations are skipped per the spec
    out = sparql_construct(
        triples,
        PFX + "CONSTRUCT { ?n e:of ?s } WHERE { ?s e:name ?n }")
    assert _rows(out) == []
    # unbound template var is loud
    with pytest.raises(SPARQLError, match="not bound"):
        sparql_construct(
            triples,
            PFX + "CONSTRUCT { ?s e:x ?zz } WHERE { ?s a e:Person }")


def test_exec_construct_optional_null_dropped(triples):
    from pyrml_spark.kg.sparql import sparql_construct

    # bob's age fails the OPTIONAL filter → NULL ?a → instantiation
    # skipped for bob, kept for alice
    out = sparql_construct(
        triples,
        PFX + "CONSTRUCT { ?s e:adultAge ?a } WHERE "
        "{ ?s a e:Person OPTIONAL { ?s e:age ?a FILTER(?a >= 18) } }")
    assert _rows(out) == [
        ("<http://e/alice>", "<http://e/adultAge>",
         '"31"^^<http://www.w3.org/2001/XMLSchema#integer>')]


def test_exec_plan_is_pruned_and_joined(triples):
    """Plan shape: predicate filters reach the scans, no cartesian."""
    out = sparql_select(
        triples, PFX + "SELECT ?s ?n WHERE { ?s a e:Person ; e:name ?n }")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ------------------------------------------------------ property paths


def test_parse_path_desugar():
    # sequence → fresh hidden chain vars, pure BGP
    pq = parse_select(
        "PREFIX e: <http://e/> SELECT ?s ?k WHERE "
        "{ ?s e:p/e:q/e:r ?k }")
    assert len(pq.patterns) == 3 and not pq.path_patterns
    assert pq.patterns[0][0] == "?s" and pq.patterns[2][2] == "?k"
    mid = pq.patterns[0][2]
    assert mid.startswith("?_path") and pq.hidden_vars
    # inverse leaf swaps subject/object
    pq = parse_select(
        "PREFIX e: <http://e/> SELECT ?s WHERE { ?s ^e:p ?o }")
    assert pq.patterns == [("?o", "<http://e/p>", "?s")]
    # inverse distributes over a sequence: x ^(p/q) y ≡ y p ?m . ?m q x
    pq = parse_select(
        "PREFIX e: <http://e/> SELECT ?s WHERE { ?s ^(e:p/e:q) ?o }")
    assert len(pq.patterns) == 2 and not pq.path_patterns
    by_pred = {p[1]: p for p in pq.patterns}
    mid = by_pred["<http://e/p>"][2]
    assert by_pred["<http://e/p>"][0] == "?o" and mid.startswith("?_path")
    assert by_pred["<http://e/q>"] == (mid, "<http://e/q>", "?s")
    # closure → path pattern, no plain pattern
    pq = parse_select(
        "PREFIX e: <http://e/> SELECT ?a ?b WHERE { ?a e:p+ ?b }")
    assert not pq.patterns and len(pq.path_patterns) == 1
    # variable predicate followed by a path operator is loud
    with pytest.raises(SPARQLError, match="variable predicate"):
        parse_select("SELECT ?s WHERE { ?s ?p+ ?o }")
    # negated property set (r8: supported) — scan + NOT IN filter
    pq = parse_select(
        "PREFIX e: <http://e/> SELECT ?s WHERE { ?s !(e:p) ?o }")
    assert len(pq.patterns) == 1 and len(pq.filters) == 1
    assert "NOT IN ('<http://e/p>')" in pq.filters[0]
    # closures inside OPTIONAL are loud
    with pytest.raises(SPARQLUnsupportedError, match="OPTIONAL"):
        parse_select(
            "PREFIX e: <http://e/> SELECT ?s WHERE "
            "{ ?s e:p ?o OPTIONAL { ?o e:q+ ?z } }")


CHAIN = [  # a 4-node chain with a side branch and a cycle-free tree
    ("<http://c/1>", "<http://c/next>", "<http://c/2>"),
    ("<http://c/2>", "<http://c/next>", "<http://c/3>"),
    ("<http://c/3>", "<http://c/next>", "<http://c/4>"),
    ("<http://c/2>", "<http://c/alt>", "<http://c/5>"),
]

CPFX = "PREFIX c: <http://c/> "


@pytest.fixture(scope="module")
def chain(spark):
    return spark.createDataFrame(CHAIN, ["s", "p", "o"]).cache()


def test_exec_path_sequence_and_inverse(chain):
    out = sparql_select(chain, CPFX + "SELECT ?a ?b WHERE "
                        "{ ?a c:next/c:next ?b }")
    assert _rows(out) == [("<http://c/1>", "<http://c/3>"),
                          ("<http://c/2>", "<http://c/4>")]
    out = sparql_select(chain, CPFX + "SELECT ?b WHERE "
                        "{ <http://c/3> ^c:next ?b }")
    assert _rows(out) == [("<http://c/2>",)]


def test_exec_path_alternation(chain):
    out = sparql_select(chain, CPFX + "SELECT ?b WHERE "
                        "{ <http://c/2> (c:next|c:alt) ?b }")
    assert _rows(out) == [("<http://c/3>",), ("<http://c/5>",)]


def test_exec_path_plus_closure(chain):
    out = sparql_select(chain, CPFX + "SELECT ?b WHERE "
                        "{ <http://c/1> c:next+ ?b }")
    assert _rows(out) == [("<http://c/2>",), ("<http://c/3>",),
                          ("<http://c/4>",)]
    # closure joined with a plain pattern (shared var)
    out = sparql_select(chain, CPFX + "SELECT ?a WHERE "
                        "{ ?a c:next+ ?b . ?b c:alt ?c }")
    assert _rows(out) == [("<http://c/1>",)]


def test_exec_path_star_and_opt(chain):
    # zero-or-more includes the zero-length self-solution
    out = sparql_select(chain, CPFX + "SELECT ?b WHERE "
                        "{ <http://c/3> c:next* ?b }")
    assert _rows(out) == [("<http://c/3>",), ("<http://c/4>",)]
    out = sparql_select(chain, CPFX + "SELECT ?b WHERE "
                        "{ <http://c/4> c:next? ?b }")
    assert _rows(out) == [("<http://c/4>",)]


def test_exec_path_nested_closure(chain):
    # closure OVER an alternation: every node 2 reaches via next|alt
    out = sparql_select(chain, CPFX + "SELECT ?b WHERE "
                        "{ <http://c/2> (c:next|c:alt)+ ?b }")
    assert _rows(out) == [("<http://c/3>",), ("<http://c/4>",),
                          ("<http://c/5>",)]


def test_exec_path_construct_combo(chain):
    from pyrml_spark.kg.sparql import sparql_construct

    out = sparql_construct(
        chain, CPFX + "CONSTRUCT { ?a c:reaches ?b } WHERE "
        "{ ?a c:next+ ?b }")
    assert out.count() == 6  # 3+2+1 reachable pairs


# -------------------------------------------------- MINUS / EXISTS


def test_exec_minus(triples):
    # persons MINUS those who know alice → only alice remains
    out = sparql_select(
        triples,
        PFX + "SELECT ?s WHERE { ?s a e:Person "
        "MINUS { ?s e:knows <http://e/alice> } }")
    assert _rows(out) == [("<http://e/alice>",)]
    # disjoint MINUS removes nothing (spec compatibility rule)
    out = sparql_select(
        triples,
        PFX + "SELECT ?s WHERE { ?s a e:Person "
        "MINUS { ?x e:knows ?y } }")
    assert out.count() == 2


def test_exec_exists_and_not_exists(triples):
    out = sparql_select(
        triples,
        PFX + "SELECT ?s WHERE { ?s a e:Person "
        "FILTER EXISTS { ?s e:age ?a } }")
    assert out.count() == 2
    out = sparql_select(
        triples,
        PFX + "SELECT ?s ?n WHERE { ?s e:name ?n "
        "FILTER NOT EXISTS { ?s a e:Person } }")
    assert _rows(out) == [("<http://e/club>", '"Club"@en')]
    # EXISTS with an inner filter
    out = sparql_select(
        triples,
        PFX + "SELECT ?s WHERE { ?s a e:Person "
        "FILTER EXISTS { ?s e:age ?a FILTER(?a >= 18) } }")
    assert _rows(out) == [("<http://e/alice>",)]
    # uncorrelated EXISTS is loud
    with pytest.raises(SPARQLError, match="uncorrelated"):
        sparql_select(
            triples,
            PFX + "SELECT ?s WHERE { ?s a e:Person "
            "FILTER EXISTS { ?x e:missing ?y } }").collect()


def test_exec_minus_exists_plan_is_semi_anti(triples):
    out = sparql_select(
        triples,
        PFX + "SELECT ?s WHERE { ?s a e:Person "
        "FILTER NOT EXISTS { ?s e:age ?a } }")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan and "CartesianProduct" not in plan


# -------------------------------------------------------------- VALUES


def test_parse_values():
    pq = parse_select(
        'SELECT ?x WHERE { ?x <http://e/p> ?o VALUES ?x '
        '{ <http://e/a> <http://e/b> } }')
    assert pq.values_clauses == [
        (["x"], [("<http://e/a>",), ("<http://e/b>",)])]
    pq = parse_select(
        'SELECT * WHERE { ?x <http://e/p> ?o VALUES (?x ?z) '
        '{ (<http://e/a> "v1") (<http://e/b> UNDEF) } }')
    assert pq.values_clauses == [
        (["x", "z"], [("<http://e/a>", '"v1"'),
                      ("<http://e/b>", None)])]
    with pytest.raises(SPARQLError, match="empty VALUES"):
        parse_select("SELECT ?x WHERE { ?x <http://e/p> ?o "
                     "VALUES ?x { } }")
    with pytest.raises(SPARQLError, match="terms and UNDEF only"):
        parse_select("SELECT ?x WHERE { ?x <http://e/p> ?o "
                     "VALUES ?x { ?y } }")


def test_exec_values_in_filter(triples):
    # bound single var, no UNDEF → IN filter path
    out = sparql_select(
        triples,
        PFX + "SELECT ?s ?n WHERE { ?s e:name ?n "
        "VALUES ?s { <http://e/alice> <http://e/club> } }")
    assert _rows(out) == [
        ("<http://e/alice>", '"Alice"'),
        ("<http://e/club>", '"Club"@en'),
    ]


def test_exec_values_extension_table(triples):
    # two-var VALUES joined on ?s, extending with a new ?label column
    out = sparql_select(
        triples,
        PFX + 'SELECT ?s ?label WHERE { ?s a e:Person '
        'VALUES (?s ?label) { (<http://e/alice> "A") '
        "(<http://e/bob> UNDEF) } }")
    rows = sorted((r[0], r[1]) for r in out.collect())
    assert rows == [("<http://e/alice>", '"A"'), ("<http://e/bob>", None)]
    # UNDEF in the JOIN column is loud
    with pytest.raises(SPARQLUnsupportedError, match="UNDEF"):
        sparql_select(
            triples,
            PFX + 'SELECT ?s WHERE { ?s a e:Person '
            "VALUES ?s { UNDEF } }").collect()


def test_exec_values_only_group(triples):
    out = sparql_select(
        triples,
        'SELECT ?x WHERE { VALUES ?x { "a" "b" } }')
    assert _rows(out) == [('"a"',), ('"b"',)]


# --------------------------------------------------------------- GRAPH

QUADS = [(s, p, o, "<http://g/one>" if "alice" in s else "<http://g/two>")
         for s, p, o in T]


@pytest.fixture(scope="module")
def quads(spark):
    return spark.createDataFrame(QUADS, ["s", "p", "o", "g"]).cache()


def test_parse_graph_extends_patterns_to_quads():
    pq = parse_select(
        "PREFIX e: <http://e/> SELECT ?s ?g WHERE "
        "{ GRAPH ?g { ?s a e:Person ; e:name ?n } }")
    assert all(len(p) == 4 and p[3] == "?g" for p in pq.patterns)
    pq = parse_select(
        "PREFIX e: <http://e/> SELECT ?s WHERE "
        "{ GRAPH <http://g/one> { ?s e:name ?n } }")
    assert pq.patterns == [
        ("?s", "<http://e/name>", "?n", "<http://g/one>")]
    with pytest.raises(SPARQLUnsupportedError, match="GRAPH"):
        parse_select("SELECT ?s WHERE { ?s <http://e/p> ?o OPTIONAL "
                     "{ GRAPH ?g { ?s <http://e/q> ?a } } }")


def test_exec_graph_constant_and_var(quads):
    out = sparql_select(
        quads, PFX + "SELECT ?s WHERE "
        "{ GRAPH <http://g/one> { ?s e:name ?n } }")
    assert _rows(out) == [("<http://e/alice>",)]
    out = sparql_select(
        quads, PFX + "SELECT DISTINCT ?g WHERE "
        "{ GRAPH ?g { ?s a e:Person } }")
    assert _rows(out) == [("<http://g/one>",), ("<http://g/two>",)]
    # quad pattern over a triples-only frame is loud
    from pyrml_spark.kg.sparql import SPARQLError as E
    with pytest.raises(E, match="'g' column"):
        sparql_select(
            quads.select("s", "p", "o"),
            PFX + "SELECT ?g WHERE { GRAPH ?g { ?s e:name ?n } }")


def test_exec_graph_with_aggregate(quads):
    out = sparql_select(
        quads, "SELECT ?g (COUNT(*) AS ?n) WHERE "
        "{ GRAPH ?g { ?s ?p ?o } } GROUP BY ?g ORDER BY ?g")
    assert [tuple(r) for r in out.collect()] == [
        ("<http://g/one>", 4), ("<http://g/two>", 6)]


# ---------------------------------------------------------------- BIND


def test_parse_bind_validation():
    with pytest.raises(SPARQLError, match="rebinds"):
        parse_select("SELECT ?s WHERE { ?s <http://e/p> ?o "
                     'BIND("x" AS ?o) }')
    # r8: alias-in-pattern and alias-in-FILTER are now supported — they
    # parse into bind_patterns / post_filters instead of raising
    pq = parse_select('SELECT ?s WHERE { BIND("x" AS ?x) . '
                      "?s <http://e/p> ?x }")
    assert pq.patterns == [] and pq.bind_patterns == [
        ("?s", "<http://e/p>", "?x")]
    pq = parse_select("SELECT ?s WHERE { ?s <http://e/p> ?o "
                      'BIND(STR(?o) AS ?x) FILTER(?x = "a") }')
    assert pq.filters == [] and len(pq.post_filters) == 1
    with pytest.raises(SPARQLUnsupportedError, match="boolean"):
        parse_select("SELECT ?s WHERE { ?s <http://e/p> ?o "
                     "BIND(isIRI(?o) AS ?x) }")


def test_exec_bind_forms(triples):
    # STR → plain literal; CONCAT; IRI(); numeric constant keeps type
    out = sparql_select(
        triples,
        PFX + "SELECT ?s ?plain ?joined ?iri ?seven WHERE { "
        "?s e:name ?n . "
        "BIND(STR(?n) AS ?plain) "
        'BIND(CONCAT("name:", STR(?n)) AS ?joined) '
        'BIND(IRI(CONCAT("http://e/name/", STR(?s))) AS ?iri) '
        "BIND(7 AS ?seven) } ORDER BY ?s LIMIT 1")
    row = out.collect()[0]
    assert row["plain"] == '"Alice"'
    assert row["joined"] == '"name:Alice"'
    assert row["iri"] == "<http://e/name/http://e/alice>"
    assert row["seven"] == (
        '"7"^^<http://www.w3.org/2001/XMLSchema#integer>')
    # STRLEN → xsd:integer literal; escapes re-applied on lexicals
    out = sparql_select(
        triples,
        PFX + "SELECT ?s ?len ?copy WHERE { ?s e:name ?n . "
        "BIND(STRLEN(?n) AS ?len) BIND(STR(?n) AS ?copy) "
        "} ORDER BY DESC(?s) LIMIT 2 OFFSET 1")
    rows = {r["s"]: (r["len"], r["copy"]) for r in out.collect()}
    assert rows["<http://e/bob>"] == (
        '"4"^^<http://www.w3.org/2001/XMLSchema#integer>', '"Bo\\"b"')


def test_exec_bind_in_construct(triples):
    from pyrml_spark.kg.sparql import sparql_construct

    out = sparql_construct(
        triples,
        PFX + "CONSTRUCT { ?tag e:tags ?s } WHERE { ?s e:age ?a "
        'BIND(IRI(CONCAT("http://e/tag/", STR(?a))) AS ?tag) }')
    assert ("<http://e/tag/31>", "<http://e/tags>",
            "<http://e/alice>") in set(tuple(r) for r in out.collect())


def test_exec_path_seeded_closure(chain):
    # bound subject: frontier BFS from the constant
    out = sparql_select(chain, CPFX + "SELECT ?b WHERE "
                        "{ <http://c/2> c:next+ ?b }")
    assert _rows(out) == [("<http://c/3>",), ("<http://c/4>",)]
    # bound OBJECT: walks inverted edges
    out = sparql_select(chain, CPFX + "SELECT ?a WHERE "
                        "{ ?a c:next+ <http://c/3> }")
    assert _rows(out) == [("<http://c/1>",), ("<http://c/2>",)]
    # seeded * recovers the exact spec zero-length semantics even for a
    # constant absent from the graph
    out = sparql_select(chain, CPFX + "SELECT ?b WHERE "
                        "{ <http://c/99> c:next* ?b }")
    assert _rows(out) == [("<http://c/99>",)]
    # seeded + over a nested alternation
    out = sparql_select(chain, CPFX + "SELECT ?b WHERE "
                        "{ <http://c/1> (c:next|c:alt)+ ?b }")
    assert _rows(out) == [("<http://c/2>",), ("<http://c/3>",),
                          ("<http://c/4>",), ("<http://c/5>",)]


def test_exec_path_long_chain_has_no_round_bound(spark):
    """A 40-hop chain needs more rounds than connected components' default
    bound of 25: the path closures are unbounded (monotone over a finite
    edge set), so a query that has an answer must return it, not raise."""
    rows = [(f"<http://c/{i}>", "<http://c/next>", f"<http://c/{i + 1}>")
            for i in range(40)]
    long_chain = spark.createDataFrame(rows, ["s", "p", "o"])
    nodes = [(f"<http://c/{i}>",) for i in range(41)]
    out = sparql_select(long_chain, CPFX + "SELECT ?b WHERE "
                        "{ <http://c/0> c:next+ ?b }")
    assert _rows(out) == sorted(nodes[1:])
    out = sparql_select(long_chain, CPFX + "SELECT ?a WHERE "
                        "{ ?a c:next+ <http://c/40> }")
    assert _rows(out) == sorted(nodes[:-1])
    out = _rows(sparql_select(long_chain, CPFX + "SELECT ?a ?b WHERE "
                              "{ ?a c:next+ ?b }"))
    assert len(out) == 820
    assert out == sorted((f"<http://c/{i}>", f"<http://c/{j}>")
                         for i in range(41) for j in range(i + 1, 41))


# ------------------------------------------------------------ DESCRIBE


def test_exec_describe(triples):
    from pyrml_spark.kg.sparql import sparql_describe

    # explicit IRI: all triples with that subject
    out = sparql_describe(
        triples, PFX + "DESCRIBE <http://e/alice>")
    assert out.count() == 4 and set(
        r["s"] for r in out.collect()) == {"<http://e/alice>"}
    # variable + WHERE: describe everything some person knows
    out = sparql_describe(
        triples, PFX + "DESCRIBE ?o WHERE { ?s e:knows ?o }")
    assert out.count() == 8  # alice's 4 + bob's 4 (they know each other)
    # mixed IRI + var, deduplicated resource set
    out = sparql_describe(
        triples,
        PFX + "DESCRIBE <http://e/club> ?o WHERE "
        "{ <http://e/alice> e:knows ?o }")
    assert set(r["s"] for r in out.collect()) == {
        "<http://e/club>", "<http://e/bob>"}
    # validation is loud
    with pytest.raises(SPARQLError, match="needs a WHERE"):
        sparql_describe(triples, "DESCRIBE ?x")
    with pytest.raises(SPARQLError, match="not bound"):
        sparql_describe(
            triples, PFX + "DESCRIBE ?z WHERE { ?s e:knows ?o }")


# ------------------------- r8: value-ordering / numeric =/<> / guards


XSD_INT = "^^<http://www.w3.org/2001/XMLSchema#integer>"


def test_exec_order_by_numeric_value_not_lexical(triples):
    # ages 7 and 31: lexically "31" < "7"; by VALUE 7 < 31
    out = sparql_select(
        triples, PFX + "SELECT ?s ?a WHERE { ?s e:age ?a } ORDER BY ?a")
    assert [r["s"] for r in out.collect()] == [
        "<http://e/bob>", "<http://e/alice>"]
    out = sparql_select(
        triples,
        PFX + "SELECT ?s WHERE { ?s e:age ?a } ORDER BY DESC(?a)")
    assert [r["s"] for r in out.collect()] == [
        "<http://e/alice>", "<http://e/bob>"]


def test_exec_order_by_nine_before_ten(spark):
    # the VERDICT r7 acceptance case: "9"^^xsd:integer < "10"^^xsd:integer
    df = spark.createDataFrame(
        [("<http://e/x>", "<http://e/v>", f'"10"{XSD_INT}'),
         ("<http://e/y>", "<http://e/v>", f'"9"{XSD_INT}')],
        ["s", "p", "o"])
    out = sparql_select(
        df, "SELECT ?s ?v WHERE { ?s <http://e/v> ?v } ORDER BY ?v")
    assert [r["s"] for r in out.collect()] == [
        "<http://e/y>", "<http://e/x>"]


def test_exec_order_by_mixed_types_total_order(spark):
    # documented total order: numeric-typed literals by value FIRST
    # (ascending), then everything else by codepoint on the encoding;
    # a malformed numeric lexical degrades to the lexical tier
    df = spark.createDataFrame(
        [("<http://e/a>", "<http://e/v>", '"plain"'),
         ("<http://e/b>", "<http://e/v>", f'"12"{XSD_INT}'),
         ("<http://e/c>", "<http://e/v>", f'"2"{XSD_INT}'),
         ("<http://e/d>", "<http://e/v>", "<http://e/iri>"),
         ("<http://e/e>", "<http://e/v>", f'"oops"{XSD_INT}')],
        ["s", "p", "o"])
    out = sparql_select(
        df, "SELECT ?s WHERE { ?s <http://e/v> ?v } ORDER BY ?v")
    got = [r["s"] for r in out.collect()]
    # numerics by value: c(2) then b(12); the rest by encoded codepoint:
    # "oops"^^ < "plain" < <http://e/iri>  ('"' < '<')
    assert got == ["<http://e/c>", "<http://e/b>",
                   "<http://e/e>", "<http://e/a>", "<http://e/d>"]
    out = sparql_select(
        df, "SELECT ?s WHERE { ?s <http://e/v> ?v } ORDER BY DESC(?v)")
    assert [r["s"] for r in out.collect()] == list(reversed(got))


def test_exec_filter_numeric_equality_by_value(spark, triples):
    # =/<> against a numeric constant is VALUE equality
    out = sparql_select(
        triples, PFX + "SELECT ?s WHERE { ?s e:age ?a FILTER(?a = 31) }")
    assert _rows(out) == [("<http://e/alice>",)]
    out = sparql_select(
        triples, PFX + "SELECT ?s WHERE { ?s e:age ?a FILTER(?a != 7) }")
    assert _rows(out) == [("<http://e/alice>",)]
    # "05"^^xsd:integer = 5 (value, not lexical)
    df = spark.createDataFrame(
        [("<http://e/z>", "<http://e/v>", f'"05"{XSD_INT}')],
        ["s", "p", "o"])
    out = sparql_select(
        df, "SELECT ?s WHERE { ?s <http://e/v> ?v FILTER(?v = 5) }")
    assert _rows(out) == [("<http://e/z>",)]


def test_exec_filter_numeric_equality_nonnumeric_drops_not_aborts(triples):
    # ADVICE r7: under ANSI mode a raw string=int comparison threw
    # CAST_INVALID_INPUT; SPARQL's type-error rule drops the row instead
    out = sparql_select(
        triples, PFX + "SELECT ?s WHERE { ?s e:name ?n FILTER(?n = 5) }")
    assert _rows(out) == []
    out = sparql_select(
        triples, PFX + "SELECT ?s WHERE { ?s e:name ?n FILTER(?n != 5) }")
    assert _rows(out) == []  # type error, not "everything differs"


def test_exec_optional_chained_on_prior_optional_is_loud(triples):
    # ADVICE r7: an OPTIONAL joining only through a var introduced by a
    # PRIOR OPTIONAL would need unbound-is-compatible LeftJoin semantics
    # an SQL equi-key cannot express — loud, not silently lossy
    with pytest.raises(SPARQLUnsupportedError, match="prior OPTIONAL"):
        sparql_select(
            triples,
            PFX + "SELECT * WHERE { ?s a e:Person "
            "OPTIONAL { ?s e:knows ?k } "
            "OPTIONAL { ?k e:name ?kn } }").collect()
    # but a second OPTIONAL that ALSO shares a required-group var is fine
    out = sparql_select(
        triples,
        PFX + "SELECT * WHERE { ?s a e:Person "
        "OPTIONAL { ?s e:knows ?k } "
        "OPTIONAL { ?s e:name ?n } }")
    assert out.count() == 2


# ------------------------------------------------------------ r8: HAVING


def test_parse_having_constraints_and_hidden_aggs():
    pq = parse_select(
        "SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?s "
        "HAVING (COUNT(?o) > 3) (COUNT(?o) < 10 && MAX(?o) != 5)")
    assert pq.having == ["(`_h0` > 3)", "((`_h0` < 10) AND (`_h1` <> 5))"]
    # COUNT(?o) appears three times but is computed once
    assert [(a.fn, a.var, a.alias) for a in pq.having_aggs] == [
        ("COUNT", "o", "_h0"), ("MAX", "o", "_h1")]


def test_exec_having_filters_groups(triples):
    out = sparql_select(
        triples,
        PFX + "SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s ?p ?o } "
        "GROUP BY ?s HAVING (COUNT(?o) > 3) ORDER BY ?s")
    assert _rows(out) == [("<http://e/alice>", 4), ("<http://e/bob>", 4)]
    # disjunction picks up the 2-triple club too
    out = sparql_select(
        triples,
        PFX + "SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s ?p ?o } "
        "GROUP BY ?s HAVING (COUNT(?o) = 2 || COUNT(?o) = 4)")
    assert out.count() == 3
    # implicit single group
    out = sparql_select(
        triples,
        PFX + "SELECT (AVG(?a) AS ?avg) WHERE { ?s e:age ?a } "
        "HAVING (COUNT(*) = 2)")
    assert _rows(out) == [(19.0,)]
    out = sparql_select(
        triples,
        PFX + "SELECT (AVG(?a) AS ?avg) WHERE { ?s e:age ?a } "
        "HAVING (COUNT(*) > 2)")
    assert out.count() == 0
    # a HAVING aggregate need not appear in SELECT
    out = sparql_select(
        triples,
        PFX + "SELECT ?s (COUNT(?p) AS ?n) WHERE { ?s ?p ?a } "
        "GROUP BY ?s HAVING (MAX(?a) >= 7) ORDER BY ?s")
    # MAX over TRY_CAST lexical: only age-bearing subjects have numerics
    assert [r["s"] for r in out.collect()] == [
        "<http://e/alice>", "<http://e/bob>"]


def test_having_loud_boundaries(triples):
    with pytest.raises(SPARQLUnsupportedError, match="without an aggregate"):
        parse_select(
            "SELECT ?s WHERE { ?s <http://e/p> ?o } HAVING (COUNT(*) > 1)")
    with pytest.raises(SPARQLUnsupportedError, match="belong in FILTER"):
        parse_select(
            "SELECT (COUNT(*) AS ?n) WHERE { ?s <http://e/p> ?o } "
            "GROUP BY ?s HAVING (?s = 1)")
    with pytest.raises(SPARQLError, match="not bound"):
        parse_select(
            "SELECT (COUNT(*) AS ?n) WHERE { ?s <http://e/p> ?o } "
            "HAVING (SUM(?zz) > 1)")
    with pytest.raises(SPARQLError, match="expected .constraint."):
        parse_select(
            "SELECT (COUNT(*) AS ?n) WHERE { ?s <http://e/p> ?o } "
            "HAVING COUNT(?o) > 1")


# ------------------------------------------- r8: general BIND placement


def test_exec_bind_alias_in_filter(triples):
    out = sparql_select(
        triples,
        PFX + "SELECT ?s WHERE { ?s e:name ?n "
        "BIND(STRLEN(?n) AS ?len) FILTER(?len > 4) }")
    assert _rows(out) == [("<http://e/alice>",)]  # Alice=5, Bo"b=4, Club=4
    # a conjunction splits: the alias conjunct defers, the other pushes
    out = sparql_select(
        triples,
        PFX + "SELECT ?s WHERE { ?s e:name ?n "
        "BIND(STRLEN(?n) AS ?len) "
        'FILTER(?len >= 4 && STRSTARTS(STR(?s), "http://e/b")) }')
    assert _rows(out) == [("<http://e/bob>",)]


def test_exec_bind_alias_in_pattern(triples):
    # alias as a join key: ?friend is the COMPUTED copy of ?k
    out = sparql_select(
        triples,
        PFX + "SELECT ?s ?fa WHERE { ?s e:knows ?k "
        "BIND(?k AS ?friend) . ?friend e:age ?fa } ORDER BY ?s")
    assert _rows(out) == sorted([
        ("<http://e/alice>",
         '"7"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("<http://e/bob>",
         '"31"^^<http://www.w3.org/2001/XMLSchema#integer>')])
    # constructed-IRI join over an empty required group (µ0 start)
    out = sparql_select(
        triples,
        PFX + 'SELECT ?a WHERE { BIND(IRI("http://e/alice") AS ?who) . '
        "?who e:age ?a }")
    assert _rows(out) == [
        ('"31"^^<http://www.w3.org/2001/XMLSchema#integer>',)]


def test_exec_bind_only_group(triples):
    out = sparql_select(triples, "SELECT ?x WHERE { BIND(7 AS ?x) }")
    assert _rows(out) == [
        ('"7"^^<http://www.w3.org/2001/XMLSchema#integer>',)]


# ------------------------------------------ r8: negated property sets


def test_parse_negated_property_set():
    pq = parse_select(
        "PREFIX e: <http://e/> SELECT ?s ?o WHERE { ?s !(e:name|a) ?o }")
    assert len(pq.patterns) == 1
    s, p, o = pq.patterns[0]
    assert s == "?s" and o == "?o" and p.startswith("?_path")
    assert pq.filters == [
        f"(`{p[1:]}` NOT IN ('<http://e/name>', "
        "'<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>'))"]
    assert p[1:] in pq.hidden_vars
    # single-IRI form, also as a sequence step
    pq = parse_select(
        "PREFIX e: <http://e/> SELECT ?s ?x WHERE { ?s !e:name/e:age ?x }")
    assert len(pq.patterns) == 2 and len(pq.filters) == 1


def test_negated_property_set_loud_boundaries():
    for q, msg in [
        ("SELECT ?s WHERE { ?s !(^<http://e/p>) ?o }", "forward members"),
        ("SELECT ?s WHERE { ?s ^!<http://e/p> ?o }", "swapped endpoints"),
        ("SELECT ?s WHERE { ?s (!<http://e/p>)+ ?o }",
         "closure/alternation"),
        ("SELECT ?s WHERE { ?s !<http://e/p>|<http://e/q> ?o }",
         "closure/alternation"),
        ("CONSTRUCT { ?s !<http://e/p> ?o } WHERE "
         "{ ?s <http://e/q> ?o }", "template"),
    ]:
        with pytest.raises(SPARQLUnsupportedError, match=msg):
            parse_select(q)


def test_exec_negated_property_set(triples):
    # everything that isn't name/age/type: only the knows edges
    out = sparql_select(
        triples,
        PFX + "SELECT ?s ?o WHERE { ?s !(e:name|e:age|a) ?o }")
    assert _rows(out) == [
        ("<http://e/alice>", "<http://e/bob>"),
        ("<http://e/bob>", "<http://e/alice>")]
    # hidden predicate var does not leak into SELECT *
    out = sparql_select(
        triples, PFX + "SELECT * WHERE { ?s !(e:name|e:age|a) ?o }")
    assert sorted(out.columns) == ["o", "s"]
    # composes with a sequence: not-name of someone known
    out = sparql_select(
        triples,
        PFX + "SELECT ?s ?v WHERE { ?s e:knows/!(e:name|a) ?v }")
    assert _rows(out) == [
        ("<http://e/alice>",
         '"7"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("<http://e/alice>", "<http://e/alice>"),
        ("<http://e/bob>",
         '"31"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("<http://e/bob>", "<http://e/bob>")]


# -------------------------------------- r8: SAMPLE / GROUP_CONCAT aggs


def test_parse_sample_and_group_concat():
    pq = parse_select(
        "SELECT ?s (SAMPLE(?o) AS ?any) "
        '(GROUP_CONCAT(DISTINCT ?o; SEPARATOR="|") AS ?all) '
        "WHERE { ?s <http://e/p> ?o } GROUP BY ?s")
    assert [(a.fn, a.distinct, a.sep) for a in pq.aggregates] == [
        ("SAMPLE", False, None), ("GROUP_CONCAT", True, "|")]
    with pytest.raises(SPARQLError, match="SEPARATOR"):
        parse_select(
            'SELECT (GROUP_CONCAT(?o; SEP="x") AS ?a) '
            "WHERE { ?s <http://e/p> ?o }")
    with pytest.raises(SPARQLUnsupportedError, match="HAVING"):
        parse_select(
            "SELECT (COUNT(*) AS ?n) WHERE { ?s <http://e/p> ?o } "
            "GROUP BY ?s HAVING (SAMPLE(?o) > 1)")


def test_exec_sample_and_group_concat(triples):
    out = sparql_select(
        triples,
        PFX + "SELECT ?s (SAMPLE(?o) AS ?one) "
        '(GROUP_CONCAT(?n; SEPARATOR=", ") AS ?names) '
        "WHERE { ?s e:knows ?o . ?o e:name ?n } GROUP BY ?s")
    rows = {r["s"]: (r["one"], r["names"]) for r in out.collect()}
    # single-element groups: SAMPLE returns the term, GROUP_CONCAT the
    # UNESCAPED lexical form
    assert rows["<http://e/alice>"] == ("<http://e/bob>", 'Bo"b')
    assert rows["<http://e/bob>"] == ("<http://e/alice>", "Alice")
    # multi-element group over all names of known-or-self persons
    out = sparql_select(
        triples,
        PFX + 'SELECT (GROUP_CONCAT(?n; SEPARATOR="; ") AS ?names) '
        "WHERE { ?s a e:Person . ?s e:name ?n }")
    assert _rows(out) == [('Alice; Bo"b',)]  # codepoint-sorted
    # DISTINCT collapses duplicates (two persons each know someone
    # named-once: collect over a bag with dup types)
    out = sparql_select(
        triples,
        PFX + "SELECT (GROUP_CONCAT(DISTINCT ?t) AS ?kinds) "
        "WHERE { ?s e:knows ?o . ?s a ?t }")
    assert _rows(out) == [("http://e/Person",)]


# ------------------------------------------------------ r8: subqueries


def test_parse_subquery_scope_and_guards():
    pq = parse_select(
        "PREFIX e: <http://e/> SELECT ?s ?mx WHERE { ?s e:knows ?o . "
        "{ SELECT ?o (MAX(?a) AS ?mx) WHERE { ?o e:age ?a } "
        "GROUP BY ?o } }")
    assert len(pq.subqueries) == 1
    sub = pq.subqueries[0]
    assert sub.select_vars == ["o"] and sub.aggregates[0].alias == "mx"
    assert pq.patterns == [("?s", "<http://e/knows>", "?o")]
    # outer filter on the subquery aggregate defers past the join
    pq = parse_select(
        "PREFIX e: <http://e/> SELECT ?s WHERE { ?s e:knows ?o . "
        "{ SELECT ?o (MAX(?a) AS ?mx) WHERE { ?o e:age ?a } GROUP BY ?o }"
        " FILTER(?mx > 10) }")
    assert pq.filters == [] and len(pq.post_filters) == 1
    # aggregate alias as a pattern term is loud
    with pytest.raises(SPARQLUnsupportedError, match="triple pattern"):
        parse_select(
            "PREFIX e: <http://e/> SELECT ?s WHERE { "
            "{ SELECT ?o (MAX(?a) AS ?mx) WHERE { ?o e:age ?a } "
            "GROUP BY ?o } ?s e:knows ?mx }")
    # SELECT * subqueries are loud; so are subqueries inside OPTIONAL
    with pytest.raises(SPARQLUnsupportedError, match="SELECT \\*"):
        parse_select(
            "PREFIX e: <http://e/> SELECT ?s WHERE { ?s e:p ?o . "
            "{ SELECT * WHERE { ?o e:q ?z } } }")
    with pytest.raises(SPARQLUnsupportedError, match="OPTIONAL"):
        parse_select(
            "PREFIX e: <http://e/> SELECT ?s WHERE { ?s e:p ?o "
            "OPTIONAL { { SELECT ?o WHERE { ?o e:q ?z } } } }")


def test_exec_subquery_agg_join(triples):
    out = sparql_select(
        triples,
        PFX + "SELECT ?s ?mx WHERE { ?s e:knows ?o . "
        "{ SELECT ?o (MAX(?a) AS ?mx) WHERE { ?o e:age ?a } "
        "GROUP BY ?o } }")
    assert _rows(out) == [("<http://e/alice>", 7.0),
                          ("<http://e/bob>", 31.0)]
    # deferred FILTER over the subquery aggregate
    out = sparql_select(
        triples,
        PFX + "SELECT ?s WHERE { ?s e:knows ?o . "
        "{ SELECT ?o (MAX(?a) AS ?mx) WHERE { ?o e:age ?a } GROUP BY ?o }"
        " FILTER(?mx > 10) }")
    assert _rows(out) == [("<http://e/bob>",)]


def test_exec_subquery_topk_then_join(triples):
    # the top-k-then-join idiom: oldest person's name
    out = sparql_select(
        triples,
        PFX + "SELECT ?n WHERE { "
        "{ SELECT ?s WHERE { ?s e:age ?a } ORDER BY DESC(?a) LIMIT 1 } "
        "?s e:name ?n }")
    assert _rows(out) == [('"Alice"',)]
    # subquery-only group
    out = sparql_select(
        triples,
        PFX + "SELECT ?s WHERE { "
        "{ SELECT ?s WHERE { ?s e:age ?a } ORDER BY ?a LIMIT 1 } }")
    assert _rows(out) == [("<http://e/bob>",)]
    # no shared variable → loud cartesian
    with pytest.raises(SPARQLError, match="cartesian"):
        sparql_select(
            triples,
            PFX + "SELECT ?s ?z WHERE { ?s e:age ?a . "
            "{ SELECT ?z WHERE { ?z e:name ?n } } }")


# -------------------- r8: BOUND / optional-scope filters / string fns


def test_exec_bound_negation_idiom(triples):
    # persons with NO age (none in the fixture have a missing age —
    # club is not a Person; add the org to make it interesting)
    out = sparql_select(
        triples,
        PFX + "SELECT ?s WHERE { ?s a ?t "
        "OPTIONAL { ?s e:age ?a } FILTER(!BOUND(?a)) }")
    assert _rows(out) == [("<http://e/club>",)]
    out = sparql_select(
        triples,
        PFX + "SELECT ?s WHERE { ?s a ?t "
        "OPTIONAL { ?s e:age ?a } FILTER(BOUND(?a)) } ORDER BY ?s")
    assert [r["s"] for r in out.collect()] == [
        "<http://e/alice>", "<http://e/bob>"]
    # a comparison over an optional var drops unbound rows (type error)
    out = sparql_select(
        triples,
        PFX + "SELECT ?s WHERE { ?s a ?t "
        "OPTIONAL { ?s e:age ?a } FILTER(?a > 10) }")
    assert _rows(out) == [("<http://e/alice>",)]


def test_parse_optional_filter_placement():
    pq = parse_select(
        "PREFIX e: <http://e/> SELECT ?s WHERE { ?s a ?t "
        "OPTIONAL { ?s e:age ?a } FILTER(!BOUND(?a)) "
        'FILTER(STRSTARTS(STR(?s), "http://")) }')
    # the BOUND filter defers to optional scope; the ?s filter stays
    # in the BGP for scan pushdown
    assert len(pq.optional_filters) == 1 and len(pq.filters) == 1
    assert "IS NOT NULL" in pq.optional_filters[0]


def test_exec_string_functions(triples):
    out = sparql_select(
        triples,
        PFX + 'SELECT ?s WHERE { ?s e:name ?n FILTER(UCASE(?n) = "ALICE") }')
    assert _rows(out) == [("<http://e/alice>",)]
    out = sparql_select(
        triples,
        PFX + "SELECT ?s WHERE { ?s e:name ?n "
        'FILTER(LCASE(SUBSTR(?n, 1, 1)) = "a") }')
    assert _rows(out) == [("<http://e/alice>",)]
    # STRBEFORE/STRAFTER on the IRI lexical
    out = sparql_select(
        triples,
        PFX + "SELECT ?s WHERE { ?s a e:Person "
        'FILTER(STRAFTER(STR(?s), "http://e/") = "bob") }')
    assert _rows(out) == [("<http://e/bob>",)]
    out = sparql_select(
        triples,
        PFX + "SELECT ?s WHERE { ?s a e:Person "
        'FILTER(STRBEFORE(STR(?s), "/bob") = "http://e") }')
    assert _rows(out) == [("<http://e/bob>",)]
    # no occurrence → "" (spec)
    out = sparql_select(
        triples,
        PFX + "SELECT ?s WHERE { ?s a e:Org "
        'FILTER(STRBEFORE(STR(?s), "zzz") = "") }')
    assert _rows(out) == [("<http://e/club>",)]
    # REPLACE with regex + flags
    out = sparql_select(
        triples,
        PFX + "SELECT ?s WHERE { ?s e:name ?n "
        'FILTER(REPLACE(?n, "[aeiou]", "_", "i") = "_l_c_") }')
    assert _rows(out) == [("<http://e/alice>",)]


def test_exec_datatype(triples):
    out = sparql_select(
        triples,
        PFX + "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
        "SELECT ?s WHERE { ?s ?p ?o "
        "FILTER(DATATYPE(?o) = xsd:integer) } ORDER BY ?s")
    assert [r["s"] for r in out.collect()] == [
        "<http://e/alice>", "<http://e/bob>"]
    # lang literal → rdf:langString; plain → xsd:string; IRI → type
    # error (row drops)
    out = sparql_select(
        triples,
        PFX + "SELECT ?s WHERE { ?s e:name ?n FILTER(DATATYPE(?n) = "
        "<http://www.w3.org/1999/02/22-rdf-syntax-ns#langString>) }")
    assert _rows(out) == [("<http://e/club>",)]
    out = sparql_select(
        triples,
        PFX + "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
        "SELECT ?n WHERE { ?s e:name ?n "
        "FILTER(DATATYPE(?n) = xsd:string) }")
    assert out.count() == 2  # Alice + Bo"b (plain literals)
    out = sparql_select(
        triples,
        PFX + "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
        "SELECT ?o WHERE { ?s e:knows ?o FILTER(DATATYPE(?o) = "
        "xsd:string) }")
    assert _rows(out) == []  # IRIs have no datatype — type error


# ------------------------------------------------- r8: COALESCE / IF


def test_exec_coalesce_with_optional(triples):
    # the classic default-value idiom over an OPTIONAL extension
    out = sparql_select(
        triples,
        PFX + "SELECT ?s ?age WHERE { ?s a ?t "
        "OPTIONAL { ?s e:age ?a } "
        'BIND(COALESCE(?a, "unknown") AS ?age) } ORDER BY ?s')
    rows = {r["s"]: r["age"] for r in out.collect()}
    assert rows["<http://e/alice>"] == (
        '"31"^^<http://www.w3.org/2001/XMLSchema#integer>')
    assert rows["<http://e/club>"] == '"unknown"'
    # COALESCE in a FILTER comparison (term equality on the result)
    out = sparql_select(
        triples,
        PFX + "SELECT ?s WHERE { ?s a ?t OPTIONAL { ?s e:age ?a } "
        'FILTER(COALESCE(?a, "unknown") = "unknown") }')
    assert _rows(out) == [("<http://e/club>",)]


def test_exec_if_expression(triples):
    out = sparql_select(
        triples,
        PFX + "SELECT ?s ?grp WHERE { ?s e:age ?a "
        'BIND(IF(?a >= 18, "adult", "minor") AS ?grp) }')
    rows = {r["s"]: r["grp"] for r in out.collect()}
    assert rows == {"<http://e/alice>": '"adult"',
                    "<http://e/bob>": '"minor"'}
    # NULL condition (type error: name is not numeric) → unbound, and
    # a comparison over unbound is itself a type error → row drops
    out = sparql_select(
        triples,
        PFX + "SELECT ?s WHERE { ?s e:name ?n "
        'FILTER(IF(?n > 5, "x", "y") = "y") }')
    assert _rows(out) == []
    with pytest.raises(SPARQLError, match="boolean"):
        parse_select(
            'SELECT ?s WHERE { ?s <http://e/p> ?o '
            'FILTER(IF(?o > 1, isIRI(?o), "z") = "z") }')


# ----------------------------------- r8: self-review regression fixes


def test_deferred_bind_alias_in_pattern_contexts_is_loud(triples):
    # an alias computed from OPTIONAL vars has no column until after
    # the left joins — using it to correlate any pattern context would
    # silently drop the correlation; must be loud everywhere
    base = (PFX + "SELECT ?s WHERE { ?s a e:Person "
            "OPTIONAL { ?s e:age ?a } BIND(STR(?a) AS ?x) ")
    for tail in ["?t e:q ?x }",
                 "OPTIONAL { ?s e:p ?t . ?t e:q ?x } }",
                 "FILTER EXISTS { ?s e:p ?x } }",
                 "MINUS { ?s e:p ?x } }"]:
        with pytest.raises(SPARQLUnsupportedError,
                           match="depends on OPTIONAL"):
            parse_select(base + tail)


def test_group_concat_distinct_is_term_level(spark):
    # "x" and "x"@en are DISTINCT TERMS sharing a lexical form — both
    # survive DISTINCT (spec: Distinct before the string conversion)
    df = spark.createDataFrame(
        [("<http://e/s>", "<http://e/p>", '"x"'),
         ("<http://e/s>", "<http://e/p>", '"x"@en'),
         ("<http://e/s>", "<http://e/p>", '"x"')],
        ["s", "p", "o"])
    out = sparql_select(
        df, "SELECT (GROUP_CONCAT(DISTINCT ?o) AS ?c) "
        "WHERE { ?s <http://e/p> ?o }")
    assert _rows(out) == [("x x",)]
    out = sparql_select(
        df, "SELECT (GROUP_CONCAT(?o) AS ?c) WHERE { ?s <http://e/p> ?o }")
    assert _rows(out) == [("x x x",)]


def test_coalesce_nested_numeric_keeps_xsd_type(triples):
    out = sparql_select(
        triples,
        PFX + "SELECT ?s ?v WHERE { ?s a ?t OPTIONAL { ?s e:age ?a } "
        "BIND(COALESCE(?a, 2.5) AS ?v) }")
    rows = {r["s"]: r["v"] for r in out.collect()}
    assert rows["<http://e/club>"] == (
        '"2.5"^^<http://www.w3.org/2001/XMLSchema#decimal>')


def test_filter_over_bind_pattern_variable(triples):
    # ?z is bound by a pattern that moved to bind_patterns — its filter
    # must ride along (was: 'references no query variable')
    out = sparql_select(
        triples,
        PFX + "SELECT ?s ?z WHERE { ?s a e:Person . BIND(?s AS ?w) . "
        "?w e:name ?z FILTER(STRLEN(?z) > 4) }")
    assert _rows(out) == [("<http://e/alice>", '"Alice"')]


# ------------------------------- r8: LANGMATCHES / STRDT / STRLANG


def test_exec_langmatches(triples):
    out = sparql_select(
        triples,
        PFX + 'SELECT ?s WHERE { ?s e:name ?n '
        'FILTER(LANGMATCHES(LANG(?n), "en")) }')
    assert _rows(out) == [("<http://e/club>",)]
    out = sparql_select(
        triples,
        PFX + 'SELECT ?s WHERE { ?s e:name ?n '
        'FILTER(LANGMATCHES(LANG(?n), "*")) }')
    assert _rows(out) == [("<http://e/club>",)]
    # range prefix matching per RFC 4647 basic filtering
    df = triples.sparkSession.createDataFrame(
        [("<http://e/x>", "<http://e/name>", '"Hallo"@de-AT')],
        ["s", "p", "o"])
    out = sparql_select(
        df, 'SELECT ?s WHERE { ?s <http://e/name> ?n '
        'FILTER(LANGMATCHES(LANG(?n), "de")) }')
    assert _rows(out) == [("<http://e/x>",)]


def test_exec_strdt_strlang(triples):
    out = sparql_select(
        triples,
        PFX + "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
        "SELECT ?s ?v WHERE { ?s e:name ?n "
        "BIND(STRDT(STR(?n), xsd:token) AS ?v) } ORDER BY ?s LIMIT 1")
    assert _rows(out) == [(
        "<http://e/alice>",
        '"Alice"^^<http://www.w3.org/2001/XMLSchema#token>')]
    out = sparql_select(
        triples,
        PFX + "SELECT ?v WHERE { <http://e/bob> e:name ?n "
        'BIND(STRLANG(STR(?n), "en-GB") AS ?v) }')
    # the \" escape in Bo"b survives the re-encoding
    assert _rows(out) == [('"Bo\\"b"@en-GB',)]
    with pytest.raises(SPARQLError, match="language tag"):
        parse_select('SELECT ?v WHERE { ?s <http://e/p> ?n '
                     'BIND(STRLANG(STR(?n), "9x!") AS ?v) }')


# ----------------------------------- r9: advisor regression fixes


def test_bind_of_bare_optional_var_defers(triples):
    """BIND(?a AS ?y) where ?a is OPTIONAL-only must defer past the left
    join (the var-kind fragment stores the bare name, which the
    backtick-matching deferral check used to miss — it raised
    UNRESOLVED_COLUMN instead of the documented defer)."""
    pq = parse_select(
        PFX + "SELECT ?s ?y WHERE { ?s a e:Person "
        "OPTIONAL { ?s e:age ?a } BIND(?a AS ?y) }")
    assert [b[0] for b in pq.optional_binds] == ["y"]
    assert pq.binds == []
    out = sparql_select(
        triples, PFX + "SELECT ?s ?y WHERE { ?s a e:Person "
        "OPTIONAL { ?s e:age ?a } BIND(?a AS ?y) }")
    rows = dict(_rows(out))
    assert rows["<http://e/alice>"] == \
        '"31"^^<http://www.w3.org/2001/XMLSchema#integer>'


def test_bind_of_bare_deferred_alias_chains(triples):
    """BIND(?y AS ?z) where ?y itself deferred must also defer."""
    pq = parse_select(
        PFX + "SELECT ?s ?z WHERE { ?s a e:Person "
        "OPTIONAL { ?s e:age ?a } BIND(?a AS ?y) BIND(?y AS ?z) }")
    assert [b[0] for b in pq.optional_binds] == ["y", "z"]


def test_subquery_projection_colliding_with_bind_is_loud(triples):
    """BIND first, subquery projecting the same name second: the silent
    column overwrite is now the same loud rebind error as the reverse
    order."""
    q = (PFX + "SELECT ?s ?n WHERE { BIND(1 AS ?n) "
         "{ SELECT ?s ?n WHERE { ?s e:name ?n } } }")
    with pytest.raises(SPARQLError, match="rebind"):
        parse_select(q)


def test_having_hidden_alias_avoids_user_variable(triples):
    """A query binding ?_h0 must not collide with HAVING's hidden
    aggregate aliases."""
    out = sparql_select(
        triples,
        PFX + "SELECT ?_h0 (COUNT(*) AS ?n) WHERE { ?s a ?_h0 } "
        "GROUP BY ?_h0 HAVING (COUNT(?s) >= 2)")
    assert _rows(out) == [("<http://e/Person>", 2)]
