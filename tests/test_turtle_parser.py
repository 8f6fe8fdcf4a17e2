"""Turtle-subset parser + mapping IR tests against the reference's own
mapping documents (read-only in the pyRML checkout at REF; those tests skip
where it is absent)."""

import os

import pytest

from pyrml_spark import rdfterms as R
from pyrml_spark.parse_mapping import parse_mapping, parse_mapping_file
from pyrml_spark.turtle import parse_turtle

REF = "/root/reference"


def needs_ref(path):
    return pytest.mark.skipif(not os.path.exists(os.path.join(REF, path)),
                              reason=f"needs the pyRML checkout at {REF}")


def test_parse_basic_triples():
    triples, base, prefixes = parse_turtle(
        """
        @prefix ex: <http://ex.com/> .
        @base <http://base.org/> .
        ex:a ex:p "lit" ; ex:q ex:b, <rel> .
        <#frag> a ex:Thing .
        _:b1 ex:n 42 ; ex:f 1.5 ; ex:t true .
        """
    )
    assert ("iri", "http://ex.com/a") in [t[0] for t in triples]
    spo = {(s, p[1], o[:2]) for s, p, o in triples}
    assert (("iri", "http://ex.com/a"), "http://ex.com/q",
            ("iri", "http://base.org/rel")) in {(s, p[1], o) for s, p, o in triples}
    assert (("iri", "http://base.org/#frag"), R.RDF + "type",
            ("iri", "http://ex.com/Thing")) in {(s, p[1], o) for s, p, o in triples}
    lits = {o for s, p, o in triples if o[0] == "literal"}
    assert ("literal", "42", None, R.XSD + "integer") in lits
    assert ("literal", "true", None, R.XSD + "boolean") in lits


def test_long_and_short_strings_decode_the_same_escapes():
    """Turtle's escapes (ECHAR, \\u) hold in long strings too."""
    triples, _, _ = parse_turtle(
        '@prefix ex: <http://ex.com/> . '
        'ex:a ex:p """x\\ty\\u0041 "q" """ ; ex:q "x\\ty\\u0041 \\"q\\" " .')
    assert [o for _, _, o in triples] == [
        ("literal", 'x\tyA "q" ', None, None)] * 2


def test_parse_bnode_property_list_and_lang():
    triples, _, _ = parse_turtle(
        """
        @prefix ex: <http://ex.com/> .
        ex:s ex:p [ ex:inner "v"@en ; ex:dt "2020-01-01"^^ex:date ] .
        """
    )
    langs = [o for _, _, o in triples if o[0] == "literal" and o[2] == "en"]
    assert langs == [("literal", "v", "en", None)]
    dts = [o for _, _, o in triples if o[0] == "literal" and o[3]]
    assert dts == [("literal", "2020-01-01", None, "http://ex.com/date")]


@needs_ref("examples/artists/artist-map.ttl")
def test_parse_artist_mapping():
    plan = parse_mapping_file(os.path.join(REF, "examples/artists/artist-map.ttl"))
    assert len(plan.triples_maps) == 2
    artist = [tm for tm in plan.triples_maps if "Artist" in tm.iri][0]
    place = [tm for tm in plan.triples_maps if "Place" in tm.iri][0]
    assert artist.sources[0].kind == "csv"
    assert artist.sources[0].source.endswith("Artist.csv")
    sm = artist.subject_maps[0]
    assert sm.term_map.kind == "template"
    assert sm.term_map.template == "http://ex.com/{ID}"
    assert sm.classes == ("http://ex.com/Person",)
    # birth_date POM: constant predicate + datatyped reference object
    poms = artist.poms
    bd = [p for p in poms if p.objects and p.objects[0].kind == "reference"][0]
    assert bd.objects[0].reference == "BIRTH_DATE"
    assert bd.objects[0].datatype == R.XSD + "date"
    assert bd.objects[0].term_type == "literal"
    # join POM
    jp = [p for p in poms if p.ref_objects][0]
    rom = jp.ref_objects[0]
    assert rom.parent_triples_map == place.iri
    assert rom.joins[0].child == "BIRTH_PLACE"
    assert rom.joins[0].parent == "CODE"
    # place subject
    assert place.subject_maps[0].term_map.template == "http://ex.com/{CODE}"


@needs_ref("tests/test-cases/RMLTC0002c-JSON/mapping.ttl")
def test_parse_json_mapping():
    plan = parse_mapping_file(
        os.path.join(REF, "tests/test-cases/RMLTC0002c-JSON/mapping.ttl")
    )
    assert len(plan.triples_maps) == 1
    tm = plan.triples_maps[0]
    assert tm.sources[0].kind == "json"
    assert tm.sources[0].iterator == "$.students[*]"
    assert tm.subject_maps[0].term_map.template == "http://example.com/{ID}/{Name}"
    assert tm.poms[0].objects[0].reference == "IDs"
    # @base captured
    assert plan.base_iri == "http://example.com/base/"
    # TriplesMap IRI resolved against @base
    assert tm.iri == "http://example.com/base/TriplesMap1"


@needs_ref("examples/provinces/provinces-map.ttl")
def test_parse_provinces_mapping():
    plan = parse_mapping_file(
        os.path.join(REF, "examples/provinces/provinces-map.ttl")
    )
    assert plan.triples_maps


def test_template_vars_substitution():
    plan = parse_mapping(
        """
        @prefix rml: <http://semweb.mmlab.be/ns/rml#> .
        @prefix rr: <http://www.w3.org/ns/r2rml#> .
        @prefix ql: <http://semweb.mmlab.be/ns/ql#> .
        <#M> rml:logicalSource [ rml:source "{{ src }}" ;
                                 rml:referenceFormulation ql:CSV ] ;
             rr:subjectMap [ rr:template "http://x/{ID}" ] .
        """,
        template_vars={"src": "/tmp/data.csv"},
    )
    assert plan.triples_maps[0].sources[0].source == "/tmp/data.csv"


_JINJA_PRELUDE = """
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
"""

_JINJA_IF_BODY = """
{% if full %}
<#M> rml:logicalSource [ rml:source "{{ src }}" ;
                         rml:referenceFormulation ql:CSV ] ;
     rr:subjectMap [ rr:template "http://x/{ID}" ] .
{% endif %}
"""


def test_jinja_control_flow_renders():
    """D12 full parity: the reference renders the mapping as a FULL Jinja2
    template (pyrml_mapper.py:121-133); with jinja2 installed so do we —
    {% if %} / {% for %} control flow works, undefined vars render empty."""
    # {% if %} — taken and not-taken branches
    plan = parse_mapping(_JINJA_PRELUDE + _JINJA_IF_BODY,
                         template_vars={"src": "/x.csv", "full": True})
    assert plan.triples_maps[0].sources[0].source == "/x.csv"
    plan = parse_mapping(_JINJA_PRELUDE + _JINJA_IF_BODY,
                         template_vars={"src": "/x.csv"})
    assert plan.triples_maps == ()  # undefined `full` is falsy, ref parity

    # {% for %} — one TriplesMap per loop item
    body = """
    {% for s in sources %}
    <#M{{ loop.index }}> rml:logicalSource [ rml:source "{{ s }}" ;
                             rml:referenceFormulation ql:CSV ] ;
         rr:subjectMap [ rr:template "http://x/{ID}" ] .
    {% endfor %}
    """
    plan = parse_mapping(_JINJA_PRELUDE + body,
                         template_vars={"sources": ["/a.csv", "/b.csv"]})
    assert sorted(tm.sources[0].source for tm in plan.triples_maps) == [
        "/a.csv", "/b.csv"]


def test_jinja_include_resolves_against_mapping_dir(tmp_path):
    """{% include %} resolves relative to the mapping file's directory
    (the reference roots FileSystemLoader at '.' or '/',
    pyrml_mapper.py:125-130)."""
    from pyrml_spark.parse_mapping import parse_mapping_file

    (tmp_path / "prefixes.inc").write_text(_JINJA_PRELUDE)
    main = tmp_path / "map.ttl"
    main.write_text(
        "{% include 'prefixes.inc' %}\n"
        '<#M> rml:logicalSource [ rml:source "{{ src }}" ;\n'
        "                         rml:referenceFormulation ql:CSV ] ;\n"
        '     rr:subjectMap [ rr:template "http://x/{ID}" ] .\n'
    )
    plan = parse_mapping_file(str(main), template_vars={"src": "/z.csv"})
    assert plan.triples_maps[0].sources[0].source == "/z.csv"


def test_jinja_fallback_is_loud_without_jinja2(monkeypatch):
    """Without jinja2 the {{ var }} subset applies and anything beyond it
    raises a CLEAR error instead of a downstream Turtle parse error."""
    import pytest

    # pyrml_spark/__init__ re-exports the function under the module's name,
    # so fetch the module object itself.
    import importlib

    pm = importlib.import_module("pyrml_spark.parse_mapping")
    monkeypatch.setattr(pm, "_jinja2", None)
    with pytest.raises(ValueError, match="unsupported Jinja"):
        parse_mapping(_JINJA_PRELUDE + _JINJA_IF_BODY,
                      template_vars={"src": "/x.csv"})
    # unresolved variable, same loudness
    with pytest.raises(ValueError, match="unsupported Jinja"):
        parse_mapping(
            _JINJA_PRELUDE + """
            <#M> rml:logicalSource [ rml:source "{{ nope }}" ;
                                     rml:referenceFormulation ql:CSV ] ;
                 rr:subjectMap [ rr:template "http://x/{ID}" ] .
            """,
            template_vars={"src": "/x.csv"},
        )
    # the subset itself still substitutes
    plan = parse_mapping(
        _JINJA_PRELUDE + """
        <#M> rml:logicalSource [ rml:source "{{ src }}" ;
                                 rml:referenceFormulation ql:CSV ] ;
             rr:subjectMap [ rr:template "http://x/{ID}" ] .
        """,
        template_vars={"src": "/y.csv"},
    )
    assert plan.triples_maps[0].sources[0].source == "/y.csv"
