"""Per-operator RML semantics tests over tiny inline fixtures (SURVEY.md §2
matrix rows not otherwise covered by the e2e goldens)."""

import os
import tempfile

import pytest

from pyrml_spark import convert
from rdf_readers import df_to_quads

PRELUDE = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix crml: <http://w3id.org/stlab/crml#> .
@prefix ex: <http://ex.com/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
"""


def run_mapping(spark, mapping, files):
    with tempfile.TemporaryDirectory() as d:
        for name, content in files.items():
            with open(os.path.join(d, name), "w") as f:
                f.write(content)
        mf = os.path.join(d, "mapping.ttl")
        with open(mf, "w") as f:
            f.write(PRELUDE + mapping)
        df = convert(spark, mf, search_roots=[d])
        return df_to_quads(df)


CSV = "ID,NAME,TAG\n1,Alice,x\n2,Bob y,y\n3,,z\n"


def test_blank_node_term_type(spark):
    quads = run_mapping(
        spark,
        """
        <#M> rml:logicalSource [ rml:source "d.csv" ;
                                 rml:referenceFormulation ql:CSV ] ;
          rr:subjectMap [ rr:template "b{ID}" ; rr:termType rr:BlankNode ] ;
          rr:predicateObjectMap [ rr:predicate ex:name ;
            rr:objectMap [ rml:reference "NAME" ] ] .
        """,
        {"d.csv": CSV},
    )
    subs = {s for s, _, _, _ in quads}
    assert subs == {"_:b1", "_:b2"}  # row 3 dropped: NAME null
    objs = {o for _, _, o, _ in quads}
    assert objs == {'"Alice"', '"Bob y"'}


def test_invalid_iri_dropped_and_base_resolution(spark):
    quads = run_mapping(
        spark,
        """
        @base <http://base.org/x/> .
        <#M> rml:logicalSource [ rml:source "d.csv" ;
                                 rml:referenceFormulation ql:CSV ] ;
          rr:subjectMap [ rr:template "s/{ID}" ] ;
          rr:predicateObjectMap [ rr:predicate ex:name ;
            rr:objectMap [ rml:reference "NAME" ; rr:termType rr:IRI ] ] .
        """,
        {"d.csv": CSV},
    )
    subs = {s for s, _, _, _ in quads}
    # relative subject template resolved against @base (T13)
    assert "<http://base.org/x/s/1>" in subs
    objs = {o for _, _, o, _ in quads}
    # "Alice" relative → base-resolved; "Bob y" contains a space even after
    # base resolution ⇒ invalid IRI ⇒ dropped (D9/T13)
    assert "<http://base.org/x/Alice>" in objs
    assert not any("Bob" in o for o in objs)


def test_predicate_map_template(spark):
    quads = run_mapping(
        spark,
        """
        <#M> rml:logicalSource [ rml:source "d.csv" ;
                                 rml:referenceFormulation ql:CSV ] ;
          rr:subjectMap [ rr:template "http://ex.com/{ID}" ] ;
          rr:predicateObjectMap [
            rr:predicateMap [ rr:template "http://ex.com/p/{TAG}" ] ;
            rr:objectMap [ rml:reference "NAME" ] ] .
        """,
        {"d.csv": CSV},
    )
    preds = {p for _, p, _, _ in quads}
    assert preds == {"<http://ex.com/p/x>", "<http://ex.com/p/y>"}


def test_multiple_predicates_and_objects_cross_product(spark):
    quads = run_mapping(
        spark,
        """
        <#M> rml:logicalSource [ rml:source "d.csv" ;
                                 rml:referenceFormulation ql:CSV ] ;
          rr:subjectMap [ rr:template "http://ex.com/{ID}" ] ;
          rr:predicateObjectMap [
            rr:predicate ex:p1, ex:p2 ;
            rr:objectMap [ rml:reference "NAME" ], [ rml:reference "TAG" ] ] .
        """,
        {"d.csv": CSV},
    )
    row1 = {(p, o) for s, p, o, _ in quads if s == "<http://ex.com/1>"}
    assert row1 == {
        ("<http://ex.com/p1>", '"Alice"'),
        ("<http://ex.com/p1>", '"x"'),
        ("<http://ex.com/p2>", '"Alice"'),
        ("<http://ex.com/p2>", '"x"'),
    }


def test_subject_constant_shortcut_and_object_shortcut(spark):
    quads = run_mapping(
        spark,
        """
        <#M> rml:logicalSource [ rml:source "d.csv" ;
                                 rml:referenceFormulation ql:CSV ] ;
          rr:subject ex:thing ;
          rr:predicateObjectMap [ rr:predicate ex:p ; rr:object ex:o ] ;
          rr:predicateObjectMap [ rr:predicate ex:q ; rr:object "lit" ] .
        """,
        {"d.csv": CSV},
    )
    assert ("<http://ex.com/thing>", "<http://ex.com/p>",
            "<http://ex.com/o>", None) in quads
    assert ("<http://ex.com/thing>", "<http://ex.com/q>", '"lit"', None) in quads
    # constants dedup to exactly 2 quads despite 3 source rows (D8)
    assert len(quads) == 2


def test_datatype_canonicalization_matrix(spark):
    csv = "I,D,B,F\n007,2020-1-5,1,1.50\n"
    quads = run_mapping(
        spark,
        """
        <#M> rml:logicalSource [ rml:source "d.csv" ;
                                 rml:referenceFormulation ql:CSV ] ;
          rr:subjectMap [ rr:template "http://ex.com/r" ] ;
          rr:predicateObjectMap [ rr:predicate ex:i ;
            rr:objectMap [ rml:reference "I" ; rr:datatype xsd:integer ] ] ;
          rr:predicateObjectMap [ rr:predicate ex:b ;
            rr:objectMap [ rml:reference "B" ; rr:datatype xsd:boolean ] ] ;
          rr:predicateObjectMap [ rr:predicate ex:f ;
            rr:objectMap [ rml:reference "F" ; rr:datatype xsd:decimal ] ] .
        """,
        {"d.csv": csv},
    )
    objs = {p.split("/")[-1][:-1]: o for _, p, o, _ in quads}
    x = "http://www.w3.org/2001/XMLSchema#"
    assert objs["i"] == f'"7"^^<{x}integer>'       # leading zeros stripped
    assert objs["b"] == f'"true"^^<{x}boolean>'    # 1 → true
    assert objs["f"] == f'"1.5"^^<{x}decimal>'     # trailing zeros trimmed


def test_xml_source(spark):
    xml = """<?xml version="1.0"?>
    <people>
      <person id="1"><name>Ada</name></person>
      <person id="2"><name>Bo</name></person>
    </people>
    """
    quads = run_mapping(
        spark,
        """
        <#M> rml:logicalSource [ rml:source "d.xml" ;
                                 rml:referenceFormulation ql:XPath ;
                                 rml:iterator "/people/person" ] ;
          rr:subjectMap [ rr:template "http://ex.com/{id}" ] ;
          rr:predicateObjectMap [ rr:predicate ex:name ;
            rr:objectMap [ rml:reference "name" ] ] .
        """,
        {"d.xml": xml},
    )
    assert ("<http://ex.com/1>", "<http://ex.com/name>", '"Ada"', None) in quads
    assert len(quads) == 2


def test_graph_map_template_and_default_graph(spark):
    quads = run_mapping(
        spark,
        """
        <#M> rml:logicalSource [ rml:source "d.csv" ;
                                 rml:referenceFormulation ql:CSV ] ;
          rr:subjectMap [ rr:template "http://ex.com/{ID}" ;
                          rr:graphMap [ rr:template "http://g.ex/{TAG}" ] ] ;
          rr:predicateObjectMap [ rr:predicate ex:name ;
            rr:objectMap [ rml:reference "NAME" ] ;
            rr:graph rr:defaultGraph ] .
        """,
        {"d.csv": CSV},
    )
    gs = {g for _, _, _, g in quads}
    # subject graph template + explicit defaultGraph (null)
    assert "<http://g.ex/x>" in gs and None in gs


def test_multivalued_null_input_drops_only_affected_triples(spark, tmp_path):
    """ADVICE round 1 (high): a NULL multi-valued function result must not
    nullify the whole row's pair array — rr:class and sibling POMs still emit.
    Reference drops only the affected triple (pyrml_core.py null handling)."""
    import csv

    data = tmp_path / "d.csv"
    with open(data, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["id", "tags"])
        w.writerow(["1", "a b"])
        w.writerow(["2", ""])  # empty → split yields NULL-ish / empty array
    mapping = tmp_path / "m.ttl"
    mapping.write_text(f"""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix fnml: <http://semweb.mmlab.be/ns/fnml#> .
@prefix fno: <https://w3id.org/function/ontology#> .
@prefix grel: <http://users.ugent.be/~bjdmeest/function/grel.ttl#> .
@prefix ex: <http://ex.org/> .
<#TM> rml:logicalSource [ rml:source "{data}";
        rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://ex.org/r/{{id}}"; rr:class ex:Row ];
  rr:predicateObjectMap [ rr:predicate ex:tag;
    rr:objectMap [ fnml:functionValue [
      rr:predicateObjectMap [ rr:predicate fno:executes;
                              rr:objectMap [ rr:constant grel:string_split ] ];
      rr:predicateObjectMap [ rr:predicate grel:valueParameter;
                              rr:objectMap [ rml:reference "tags" ] ];
      rr:predicateObjectMap [ rr:predicate grel:p_string_sep;
                              rr:objectMap [ rr:constant " " ] ]
    ] ] ] .
""")
    from pyrml_spark.compiler import convert

    rows = convert(spark, str(mapping)).collect()
    types = sorted(r["s"] for r in rows if "rdf-syntax-ns#type" in r["p"])
    # BOTH rows keep their rdf:type triple even though row 2's split is empty
    assert types == ["<http://ex.org/r/1>", "<http://ex.org/r/2>"], rows
    tags = sorted(r["o"] for r in rows if r["p"] == "<http://ex.org/tag>")
    assert tags == ['"a"', '"b"'], rows


def test_condition_operators_inside_string_literals_untouched():
    """ADVICE round 1 (low): &/|/~ inside quoted literals are values, not
    boolean operators."""
    from pyrml_spark.compiler import translate_condition

    out = translate_condition("df['x'] == 'A&B' & df['y'] != 'p|q~r'")
    assert "'A&B'" in out and "'p|q~r'" in out, out
    assert out.count(" AND ") == 1, out
