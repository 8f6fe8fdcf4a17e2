"""RDF term representation and its N-Triples codec, shared by the Turtle
parser, the compiler, SPARQL and the RDF serializers.

Terms are plain immutable tuples — no rdflib (not available in this
environment, and the engine is deliberately self-contained).

A term is one of:
    ("iri", value)                      -- absolute or relative IRI string
    ("bnode", label)                    -- blank node label (no "_:" prefix)
    ("literal", lex, lang, datatype)    -- lang and datatype may be None

The engine's Spark-side representation of a term is its N-Triples lexical
form as a plain string:  ``<iri>``, ``_:label``, ``"lex"``, ``"lex"@lang``,
``"lex"^^<dt>``.  This makes the output `(s, p, o, g)` table a string table
directly comparable with reference ``.nq`` goldens (see SURVEY.md §1.2).

This module is the one codec between the two: one escape table and one
literal grammar, used by the Python functions and by their Column forms
(``nt_*``).
"""

from __future__ import annotations

import re
from typing import Optional, Tuple

from pyspark.sql import Column
from pyspark.sql import functions as F

Term = Tuple  # ("iri", v) | ("bnode", v) | ("literal", lex, lang, dt)

# Common vocabularies (public W3C namespaces)
RR = "http://www.w3.org/ns/r2rml#"
RML = "http://semweb.mmlab.be/ns/rml#"
QL = "http://semweb.mmlab.be/ns/ql#"
CRML = "http://w3id.org/stlab/crml#"
CSVW = "http://www.w3.org/ns/csvw#"
FNML = "http://semweb.mmlab.be/ns/fnml#"
FNO = "https://w3id.org/function/ontology#"
XSD = "http://www.w3.org/2001/XMLSchema#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
SD = "http://www.w3.org/ns/sparql-service-description#"
D2RQ = "http://www.wiwiss.fu-berlin.de/suhl/bizer/D2RQ/0.1#"

RDF_TYPE = RDF + "type"

# one N-Triples literal: "lex" (escapes kept), then @lang or ^^<datatype>.
# The body repeats possessively (*+): Java's regex engine recurses once per
# repetition of a plain alternation and overflows the stack on literals of
# a few thousand characters; the possessive loop is iterative and, since
# the body can never take the closing quote, matches the same strings.
NT_LITERAL_RE = re.compile(
    r'^"(?P<lex>(?:[^"\\]|\\.)*+)"(?:@(?P<lang>[A-Za-z0-9\-]+)'
    r"|\^\^<(?P<dt>[^>]*)>)?$"
)
# the same grammar for Spark's (Java) regex functions: groups 1 lex,
# 2 lang, 3 dt
_NT_LITERAL_JAVA = NT_LITERAL_RE.pattern.replace("(?P<", "(?<")

# The one escape table (N-Triples ECHAR, RDF 1.1 N-Triples §2.4): the
# characters the writer escapes, in the order the Column encoder applies
# them — the backslash first, so no escape it introduces is escaped again.
_NT_ESCAPES = {
    "\\": "\\\\",
    '"': '\\"',
    "\n": "\\n",
    "\r": "\\r",
    "\t": "\\t",
}
# escape letter → character: the table inverted, plus the ECHARs a reader
# accepts but the writer never emits (N-Triples §2.4, SPARQL 1.1 §19.7)
_NT_UNESCAPES = {esc[1]: ch for ch, esc in _NT_ESCAPES.items()}
_NT_UNESCAPES.update({"b": "\b", "f": "\f", "'": "'"})
_NT_ESCAPE_MAP = str.maketrans(_NT_ESCAPES)


def escape_nt(lex: str) -> str:
    """Escape a literal lexical form for N-Triples serialization."""
    return lex.translate(_NT_ESCAPE_MAP)


def unescape_nt(lex: str) -> str:
    """Inverse of :func:`escape_nt`, plus every other ECHAR and the
    \\uXXXX / \\UXXXXXXXX forms."""
    out = []
    i, n = 0, len(lex)
    while i < n:
        ch = lex[i]
        if ch == "\\" and i + 1 < n:
            nxt = lex[i + 1]
            width = {"u": 4, "U": 8}.get(nxt)  # \uXXXX, \UXXXXXXXX
            if width and i + 2 + width <= n:
                out.append(chr(int(lex[i + 2 : i + 2 + width], 16)))
                i += 2 + width
                continue
            if nxt in _NT_UNESCAPES:
                out.append(_NT_UNESCAPES[nxt])
                i += 2
                continue
        out.append(ch)
        i += 1
    return "".join(out)


def iri(value: str) -> Term:
    return ("iri", value)


def bnode(label: str) -> Term:
    return ("bnode", label)


def literal(lex: str, lang: Optional[str] = None, datatype: Optional[str] = None) -> Term:
    return ("literal", lex, lang, datatype)


def to_nt(t: Term) -> str:
    """Serialize a term tuple to its N-Triples lexical form."""
    kind = t[0]
    if kind == "iri":
        return f"<{t[1]}>"
    if kind == "bnode":
        return f"_:{t[1]}"
    if kind == "literal":
        _, lex, lang, dt = t
        s = f'"{escape_nt(lex)}"'
        if lang:
            return f"{s}@{lang}"
        if dt and dt != XSD + "string":
            return f"{s}^^<{dt}>"
        return s
    raise ValueError(f"unknown term kind: {t!r}")


def parse_nt(term: str) -> Term:
    """An N-Triples term string → its term tuple; a literal's lexical form
    comes back unescaped."""
    if term.startswith("<"):
        return ("iri", term[1:-1])
    if term.startswith("_:"):
        return ("bnode", term[2:])
    m = NT_LITERAL_RE.match(term)
    if not m:
        raise ValueError(f"unparseable NT term {term!r}")
    return ("literal", unescape_nt(m.group("lex")), m.group("lang"),
            m.group("dt"))


# ---------------------------------------------------------------------------
# the same encoding as Spark Column expressions
# ---------------------------------------------------------------------------

def nt_escape(col: Column) -> Column:
    """:func:`escape_nt` of a string Column: one ``replace`` per table
    entry, in table order."""
    for ch, esc in _NT_ESCAPES.items():
        col = F.replace(col, F.lit(ch), F.lit(esc))
    return col


def nt_unescape(col: Column) -> Column:
    """The exact inverse of :func:`nt_escape`: split at each escaped
    backslash, undo the other escapes in every piece, and join the pieces
    with a backslash. A string without a backslash holds no escape."""
    def undo(piece: Column) -> Column:
        for ch, esc in _NT_ESCAPES.items():
            if ch != "\\":
                piece = F.replace(piece, F.lit(esc), F.lit(ch))
        return piece

    pieces = F.split(col, re.escape(_NT_ESCAPES["\\"]))
    return F.when(col.contains("\\"),
                  F.array_join(F.transform(pieces, undo), "\\")
                  ).otherwise(col)


def nt_lexical(term: Column) -> Column:
    """SPARQL ``STR`` of an encoded term Column: an IRI without its
    brackets, a literal's unescaped lexical form; a blank node (or any
    other string) passes through."""
    first = term.substr(1, 1)
    return (F.when(first == "<", term.substr(F.lit(2), F.length(term) - 2))
            .when(first == '"', nt_unescape(
                F.regexp_extract(term, _NT_LITERAL_JAVA, 1)))
            .otherwise(term))


def nt_lang(term: Column) -> Column:
    """A literal's language tag; ``""`` for any other term."""
    return F.regexp_extract(term, _NT_LITERAL_JAVA, 2)


def nt_datatype(term: Column) -> Column:
    """A literal's explicit ``^^<datatype>`` IRI; ``""`` for a plain or
    lang-tagged literal and for any other term."""
    return F.regexp_extract(term, _NT_LITERAL_JAVA, 3)
