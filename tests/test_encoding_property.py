"""Property tests of the JVM-side encoders against their Python forms.

The percent-encoder must match
``urllib.parse.quote(v, safe='')`` exactly — the reference %-encodes every
template placeholder that way (pyrml_api.py:443), so any divergence changes
emitted subject IRIs. `terms.url_encode` builds on Spark's form-encoding
``F.url_encode`` and patches its three known divergences (space→'+',
kept '*', encoded '~'); this fuzz pins that the patch list is complete
across arbitrary unicode.

The N-Triples term codec (``rdfterms``) has a Python and a Column form of
each step; the fuzz pins that they agree and that decoding inverts
encoding exactly."""

import urllib.parse

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from pyrml_spark.rdfterms import (escape_nt, nt_datatype, nt_escape,
                                  nt_lang, nt_lexical, nt_unescape, parse_nt,
                                  unescape_nt)
from pyrml_spark.terms import url_encode

# mix targeted tricky characters with arbitrary unicode
_tricky = st.sampled_from(list(" +*~%/?#[]@!$&'()=:;,.<>\"\\^`{|}\u00e9\u4e2d"))
_texts = st.lists(
    st.text(alphabet=st.one_of(_tricky, st.characters(codec="utf-8")),
            max_size=24),
    min_size=1, max_size=24)


@settings(max_examples=12, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(vals=_texts)
def test_url_encode_matches_python_quote(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    got = [r["e"] for r in
           df.select(url_encode(F.col("v")).alias("e")).collect()]
    exp = [urllib.parse.quote(v, safe="") for v in vals]
    assert got == exp


# -------------------------------------------------- the N-Triples term codec

# every escaped character, the escape letters themselves, and arbitrary
# unicode
_nt_tricky = st.sampled_from(list("\\\"\n\r\t'ntré中"))
_nt_texts = st.lists(
    st.text(alphabet=st.one_of(_nt_tricky, st.characters(codec="utf-8")),
            max_size=24),
    min_size=1, max_size=24)


@settings(max_examples=12, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(vals=_nt_texts)
def test_nt_column_codec_matches_python_codec(spark, vals):
    """The Column encoder is ``escape_nt``, the Column decoder inverts it
    exactly, and ``unescape_nt`` agrees with both."""
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    enc = nt_escape(F.col("v"))
    rows = df.select(enc.alias("e"), nt_unescape(enc).alias("d")).collect()
    assert [r["e"] for r in rows] == [escape_nt(v) for v in vals]
    assert [r["d"] for r in rows] == vals
    assert [unescape_nt(r["e"]) for r in rows] == vals


def test_nt_column_term_parts_match_parse_nt(spark):
    """STR, LANG and DATATYPE of encoded terms agree with ``parse_nt`` —
    including a literal of 60 000 characters, which a backtracking
    literal grammar overflows the JVM stack on."""
    dt = "http://www.w3.org/2001/XMLSchema#integer"
    terms = [
        "<http://ex.com/a>",
        '"plain"',
        '"tab\\there"@en-GB',
        '"5"^^<' + dt + ">",
        '"a\\"^^<b"^^<http://ex.com/dt>',
        '"x\\"@en"',
        '"' + 'ab\\"c\\\\' * 10_000 + '"@fr',
    ]
    df = spark.createDataFrame([(t,) for t in terms], ["t"])
    t = F.col("t")
    rows = df.select(nt_lexical(t).alias("lex"), nt_lang(t).alias("lang"),
                     nt_datatype(t).alias("dt")).collect()
    for term, row in zip(terms, rows):
        _kind, value, *rest = parse_nt(term)
        lang, dt_iri = rest or (None, None)
        assert (row["lex"], row["lang"], row["dt"]) == (
            value, lang or "", dt_iri or ""), term[:40]
