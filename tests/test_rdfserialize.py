"""Turtle/TriG serialization round-trips (VERDICT r3 #4): serialize a
DataFrame through the one text entry (``compat.serialize``) → re-parse with
the repo's own Turtle parser → identical quad set. Goldens:
the artists example mapping (read from the pyRML checkout at REF; its tests
skip where it is absent) and the RMLTC0006a named-graph quad case (the
in-repo fixture under tests/fixtures/rml)."""

import os
import subprocess
import sys

import pytest

from pyrml_spark import convert
from pyrml_spark.compat import serialize
from pyrml_spark.rdfserialize import prefix_table_from_df
from pyrml_spark.rdfterms import XSD, to_nt
from pyrml_spark.turtle import parse_turtle
from rdf_readers import df_to_quads, parse_trig

REF = "/root/reference"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIX = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "rml")
NEEDS_ARTIST_MAP = pytest.mark.skipif(
    not os.path.exists(os.path.join(REF, "examples/artists/artist-map.ttl")),
    reason=f"needs the pyRML checkout at {REF}")
QUAD_SCHEMA = "s string, p string, o string, g string"


def _reparse_turtle_to_triples(text):
    triples, _base, _prefixes = parse_turtle(text)
    return {(to_nt(s), to_nt(p), to_nt(o)) for s, p, o in triples}


def _artists_df(spark):
    return convert(spark, os.path.join(REF, "examples/artists/artist-map.ttl"),
                   search_roots=[REF])


@NEEDS_ARTIST_MAP
def test_turtle_roundtrip_artists(spark):
    df = _artists_df(spark)
    quads = df_to_quads(df)
    text = serialize(df, "turtle")
    assert "@prefix" in text and " a " in text  # prefixed + rdf:type kwd
    got = _reparse_turtle_to_triples(text)
    assert got == {(s, p, o) for s, p, o, _g in quads}


def test_trig_roundtrip_named_graphs(spark):
    """Quads with a named graph + default-graph rows must round-trip with
    graph assignment intact."""
    rows = [
        ("<http://ex.com/s1>", "<http://ex.com/p>", '"v1"', None),
        ("<http://ex.com/s1>", "<http://ex.com/p>",
         '"dt"^^<' + XSD + 'date>', "<http://ex.com/g1>"),
        ("<http://ex.com/s2>",
         "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
         "<http://ex.com/T>", "<http://ex.com/g1>"),
        ("_:b0", "<http://ex.com/p>", '"hola"@es', "<http://ex.com/g2>"),
    ]
    text = serialize(spark.createDataFrame(rows, QUAD_SCHEMA), "trig")
    back = parse_trig(text)
    assert set(back) == set(rows)


def test_trig_roundtrip_literal_with_brace_block(spark):
    """ADVICE r4 (medium): a literal whose text LOOKS like a graph block
    ('ab:cd { x }') must not be mistaken for one — parse_trig scans
    line-anchored block delimiters, so serialize→parse still inverts."""
    rows = [
        ("<http://ex.com/s1>", "<http://ex.com/p>", '"ab:cd { x }"', None),
        ("<http://ex.com/s2>", "<http://ex.com/p>", '"open { only"',
         "<http://ex.com/g1>"),
        ("<http://ex.com/s3>", "<http://ex.com/p>", '"} close only"',
         "<http://ex.com/g1>"),
    ]
    text = serialize(spark.createDataFrame(rows, QUAD_SCHEMA), "trig")
    assert set(parse_trig(text)) == set(rows)


def test_trig_duplicate_graph_blocks_positional(spark):
    """Two named graphs with byte-identical bodies parse to distinct graph
    assignments (the old regex + str.replace excision could mis-excise)."""
    rows = [
        ("<http://ex.com/s>", "<http://ex.com/p>", '"v"', "<http://ex.com/g1>"),
        ("<http://ex.com/s>", "<http://ex.com/p>", '"v"', "<http://ex.com/g2>"),
    ]
    text = serialize(spark.createDataFrame(rows, QUAD_SCHEMA), "trig")
    assert set(parse_trig(text)) == set(rows)


def test_prefix_table_hash_before_slash_not_registered(spark):
    """ADVICE r4: the distributed prefix aggregate and _shorten_iri share one
    namespace rule — an IRI with '#' before a later '/' has NO safe
    namespace, so no unusable @prefix slot is burned for it."""
    df = spark.createDataFrame(
        [("<http://ex.com/a#b/c>", "<http://ex.com/voc/p>",
          "<http://ex.com/a#b/c2>")],
        "s string, p string, o string")
    table = prefix_table_from_df(df)
    assert "http://ex.com/a#b/" not in table
    assert "http://ex.com/voc/" in table


def test_serialize_nt_dedups_triples_across_graphs(spark):
    """ADVICE r4: serialize(df,'nt') emits ONE line for the same (s,p,o)
    asserted in two named graphs (rdflib Graph semantics)."""
    df = spark.createDataFrame(
        [("<http://ex.com/s>", "<http://ex.com/p>", '"v"',
          "<http://ex.com/g1>"),
         ("<http://ex.com/s>", "<http://ex.com/p>", '"v"',
          "<http://ex.com/g2>")],
        QUAD_SCHEMA)
    text = serialize(df, "nt")
    lines = [ln for ln in text.splitlines() if ln.strip()]
    assert lines == ['<http://ex.com/s> <http://ex.com/p> "v" .']


def test_trig_roundtrip_rmltc0006a(spark):
    """The RMLTC0006a named-graph golden (output.nq, the in-repo fixture
    under tests/fixtures/rml, derived by hand from the case's mapping under
    R2RML §7.1/§9 as SURVEY.md §5 records) → TriG → parse → same quad set."""
    from rdf_readers import parse_nquads

    path = os.path.join(FIX, "RMLTC0006a-CSV/output.nq")
    with open(path, encoding="utf-8") as fh:
        quads = parse_nquads(fh.read())
    assert quads, "golden should be non-empty"
    text = serialize(spark.createDataFrame(quads, QUAD_SCHEMA), "trig")
    assert set(parse_trig(text)) == set(quads)


@NEEDS_ARTIST_MAP
def test_write_turtle_streams_from_df(spark, tmp_path):
    df = _artists_df(spark)
    out = str(tmp_path / "artists.ttl")
    serialize(df, "turtle", out)
    with open(out, encoding="utf-8") as fh:
        text = fh.read()
    got = _reparse_turtle_to_triples(text)
    assert got == {(s, p, o) for s, p, o, _g in df_to_quads(df)}
    # distributed prefix discovery found the dominant namespace
    table = prefix_table_from_df(df)
    assert "http://ex.com/" in table


@NEEDS_ARTIST_MAP
def test_cli_turtle_format(tmp_path):
    """python -m pyrml_spark -f turtle prints parseable prefixed Turtle."""
    proc = subprocess.run(
        [sys.executable, "-m", "pyrml_spark",
         os.path.join(REF, "examples/artists/artist-map.ttl"),
         "-f", "turtle", "-p", "2"],
        capture_output=True, text=True, timeout=300, cwd=REF,
        env={**os.environ, "PYTHONPATH": REPO})
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = _reparse_turtle_to_triples(proc.stdout)
    assert len(got) == 9  # artists golden triple count


# ---------------------------------------------------------------------------
# RDF/XML + pretty-xml + TriX (rdfxml.py)
# ---------------------------------------------------------------------------

@NEEDS_ARTIST_MAP
def test_rdfxml_roundtrip_artists(spark):
    from rdf_readers import parse_rdfxml

    df = _artists_df(spark)
    quads = df_to_quads(df)
    for fmt in ("xml", "pretty-xml"):
        text = serialize(df, fmt)
        assert text.startswith('<?xml')
        got = {(s, p, o) for s, p, o, _g in parse_rdfxml(text)}
        assert got == {(s, p, o) for s, p, o, _g in quads}
    # pretty mode lifts rdf:type into the element name
    assert "rdf:about" in serialize(df, "pretty-xml")
    assert ":Person rdf:about" in serialize(df, "pretty-xml")


def test_rdfxml_literals_langs_bnodes(spark):
    from rdf_readers import parse_rdfxml

    quads = [
        ("<http://ex.com/s>", "<http://ex.com/says>", '"a<b>&\\"c\\""', None),
        ("<http://ex.com/s>", "<http://ex.com/greets>", '"hola"@es', None),
        ("<http://ex.com/s>", "<http://ex.com/n>",
         '"5"^^<' + XSD + 'integer>', None),
        ("_:b1", "<http://ex.com/p>", "_:b2", None),
    ]
    text = serialize(spark.createDataFrame(quads, QUAD_SCHEMA), "xml")
    assert {(s, p, o) for s, p, o, _ in parse_rdfxml(text)} \
        == {(s, p, o) for s, p, o, _ in quads}


def test_rdfxml_unrepresentable_predicate_is_loud(spark):
    from pyrml_spark.rdfxml import RdfXmlError

    quads = [("<http://ex.com/s>", "<http://ex.com/p/1badlocal!>", '"v"',
              None)]
    import pytest as _pytest
    with _pytest.raises(RdfXmlError):
        serialize(spark.createDataFrame(quads, QUAD_SCHEMA), "xml")


def test_trix_roundtrip_named_graphs(spark):
    from rdf_readers import parse_trix

    quads = [
        ("<http://ex.com/s>", "<http://ex.com/p>", '"v"', None),
        ("<http://ex.com/s>", "<http://ex.com/p>", '"v2"@en',
         "<http://ex.com/g1>"),
        ("_:b", "<http://ex.com/p>", '"7"^^<' + XSD + 'int>',
         "<http://ex.com/g1>"),
    ]
    text = serialize(spark.createDataFrame(quads, QUAD_SCHEMA), "trix")
    assert set(parse_trix(text)) == set(quads)


@NEEDS_ARTIST_MAP
def test_cli_xml_and_trix_formats(tmp_path):
    from rdf_readers import parse_rdfxml, parse_trix

    for fmt, parse in (("pretty-xml", parse_rdfxml), ("trix", parse_trix)):
        proc = subprocess.run(
            [sys.executable, "-m", "pyrml_spark",
             os.path.join(REF, "examples/artists/artist-map.ttl"),
             "-f", fmt, "-p", "2"],
            capture_output=True, text=True, timeout=300, cwd=REF,
            env={**os.environ, "PYTHONPATH": REPO})
        assert proc.returncode == 0, proc.stderr[-2000:]
        assert len(parse(proc.stdout)) == 9
