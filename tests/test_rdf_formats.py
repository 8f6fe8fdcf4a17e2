"""Every RDF text format round-trips through its one entry: each format name
``compat.serialize`` accepts, and each text format of the CLI on stdout and
with ``-o``. Inputs: a mixed quad frame built inline, a mapping over the
in-repo RMLTC0002a ``student.csv``, and an empty graph. Every output is
parsed back with ``tests/rdf_readers.py`` (or the repo's Turtle parser) and
compared with the input's set — quads for N-Quads/TriG/TriX, triples for
the union-graph formats."""

import ast
import os
import pathlib

import pytest

from pyrml_spark import convert
from pyrml_spark.__main__ import main
from pyrml_spark.compat import serialize
from pyrml_spark.rdfserialize import FORMATS, rdf_format
from pyrml_spark.rdfterms import XSD, to_nt
from pyrml_spark.turtle import parse_turtle
from rdf_readers import (df_to_quads, parse_nquads, parse_rdfxml, parse_trig,
                         parse_trix)

PKG = pathlib.Path(__file__).resolve().parent.parent / "pyrml_spark"
STUDENT_CSV = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "fixtures", "rml", "RMLTC0002a-CSV", "student.csv")
QUAD_SCHEMA = "s string, p string, o string, g string"

# named and default graphs, a bnode, lang-tagged and typed literals (one
# with escaped quotes, one with a non-XSD datatype), one duplicate quad and
# one triple asserted in two graphs
MIXED = [
    ("<http://ex.com/s1>", "<http://ex.com/p>", '"say \\"hi\\""', None),
    ("<http://ex.com/s1>", "<http://ex.com/p>", '"say \\"hi\\""', None),
    ("<http://ex.com/s1>", "<http://ex.com/voc#n>",
     '"5"^^<' + XSD + 'integer>', "<http://ex.com/g1>"),
    ("_:b0", "<http://ex.com/p>", '"hola"@es', "<http://ex.com/g2>"),
    ("<http://ex.com/s2>", "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
     "<http://ex.com/T>", "<http://ex.com/g1>"),
    ("<http://ex.com/s3>", "<http://ex.com/p>",
     '"x"^^<http://other.org/dt/custom>', "<http://ex.com/g1>"),
    ("<http://ex.com/s3>", "<http://ex.com/p>",
     '"x"^^<http://other.org/dt/custom>', "<http://ex.com/g2>"),
]

# RMLTC0002a plus a lang-tagged name in a named graph
MAPPING = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix foaf: <http://xmlns.com/foaf/0.1/> .
@prefix ex: <http://example.com/> .

<#TM> rml:logicalSource [
    rml:source "%s" ; rml:referenceFormulation ql:CSV ] ;
  rr:subjectMap [ rr:template "http://example.com/{ID}/{Name}" ;
                  rr:class foaf:Person ] ;
  rr:predicateObjectMap [
    rr:predicate ex:id ;
    rr:objectMap [ rml:reference "ID" ] ] ;
  rr:predicateObjectMap [
    rr:predicate foaf:name ;
    rr:objectMap [ rml:reference "Name" ; rr:language "en" ] ;
    rr:graphMap [ rr:constant ex:g ] ] .
"""

CLI_TEXT_FORMATS = ["ntriples", "nquads", "turtle", "ttl", "n3", "trig",
                    "xml", "pretty-xml", "trix"]


def _keeps_graphs(fmt):
    return rdf_format(fmt) in ("nq", "trig", "trix")


def _parse(fmt, text):
    """Output text → set of (s, p, o, g) quads."""
    writer = rdf_format(fmt)
    if writer in ("nt", "nq"):
        return set(parse_nquads(text))
    if writer == "turtle":
        triples, _base, _prefixes = parse_turtle(text)
        return {(to_nt(s), to_nt(p), to_nt(o), None) for s, p, o in triples}
    if writer == "trig":
        return set(parse_trig(text))
    if writer == "trix":
        return set(parse_trix(text))
    return set(parse_rdfxml(text))


def _expected(fmt, quads):
    if _keeps_graphs(fmt):
        return set(quads)
    return {(s, p, o, None) for s, p, o, _g in quads}


def _mapping(tmp_path, csv_path):
    path = tmp_path / "m.ttl"
    path.write_text(MAPPING % csv_path, encoding="utf-8")
    return str(path)


@pytest.fixture
def inputs(spark, tmp_path):
    """name → (DataFrame, its quads)."""
    student = convert(spark, _mapping(tmp_path, STUDENT_CSV))
    return {
        "mixed": (spark.createDataFrame(MIXED, QUAD_SCHEMA), MIXED),
        "student": (student, df_to_quads(student)),
        "empty": (spark.createDataFrame([], QUAD_SCHEMA), []),
    }


@pytest.mark.parametrize("name", ["mixed", "student", "empty"])
def test_compat_serialize_round_trips_every_format(inputs, tmp_path, name):
    df, quads = inputs[name]
    assert len(FORMATS) == 12
    for fmt in FORMATS:
        assert _parse(fmt, serialize(df, fmt)) == _expected(fmt, quads), fmt
        dest = tmp_path / f"out.{fmt}"
        assert serialize(df, fmt, str(dest)) is None
        text = dest.read_text(encoding="utf-8")
        assert _parse(fmt, text) == _expected(fmt, quads), fmt


@pytest.mark.parametrize("fmt", CLI_TEXT_FORMATS)
def test_cli_round_trips_every_text_format(spark, tmp_path, capsys, fmt):
    empty_csv = tmp_path / "empty.csv"
    empty_csv.write_text("ID,Name\n", encoding="utf-8")
    for csv_path in (STUDENT_CSV, str(empty_csv)):
        mapping = _mapping(tmp_path, csv_path)
        want = _expected(fmt, df_to_quads(convert(spark, mapping)))
        assert (csv_path == str(empty_csv)) == (not want)

        assert main([mapping, "-f", fmt, "-p", "2"]) == 0
        assert _parse(fmt, capsys.readouterr().out) == want

        out = tmp_path / f"out-{fmt}"
        assert main([mapping, "-f", fmt, "-p", "2", "-o", str(out)]) == 0
        if out.is_dir():  # N-Triples/N-Quads: the distributed part files
            text = "".join(p.read_text(encoding="utf-8")
                           for p in sorted(out.glob("part-*")))
        else:
            text = out.read_text(encoding="utf-8")
        assert _parse(fmt, text) == want


def _calls(tree, name):
    return [n for n in ast.walk(tree) if isinstance(n, ast.Call)
            and name in (getattr(n.func, "attr", None),
                         getattr(n.func, "id", None))]


def test_text_serializers_collect_only_the_bounded_prefix_aggregate():
    """No package module collects a table as quads, and the text
    serializers stream their rows: their one ``collect`` is the prefix
    aggregate, bounded by a ``limit``."""
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        assert not _calls(tree, "df_to_quads"), path
    collects = []
    for name in ("rdfserialize.py", "rdfxml.py", "compat.py", "__main__.py"):
        tree = ast.parse((PKG / name).read_text(encoding="utf-8"))
        collects += [(name, c) for c in _calls(tree, "collect")]
    assert [name for name, _c in collects] == ["rdfserialize.py"]
    receiver = collects[0][1].func.value
    assert isinstance(receiver, ast.Call) and receiver.func.attr == "limit"
