"""RDF term representation shared by the Turtle parser, the compiler and the
N-Quads reader/writer.

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
"""

from __future__ import annotations

import re
from typing import Optional, Tuple

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

# one N-Triples literal: "lex" (escapes kept), then @lang or ^^<datatype>
NT_LITERAL_RE = re.compile(
    r'^"(?P<lex>(?:[^"\\]|\\.)*)"(?:@(?P<lang>[A-Za-z0-9\-]+)'
    r"|\^\^<(?P<dt>[^>]*)>)?$"
)

_NT_ESCAPES = {
    "\\": "\\\\",
    '"': '\\"',
    "\n": "\\n",
    "\r": "\\r",
    "\t": "\\t",
}


def escape_nt(lex: str) -> str:
    """Escape a literal lexical form for N-Triples serialization."""
    out = []
    for ch in lex:
        out.append(_NT_ESCAPES.get(ch, ch))
    return "".join(out)


def unescape_nt(lex: str) -> str:
    """Inverse of :func:`escape_nt` plus \\uXXXX / \\UXXXXXXXX forms."""
    out = []
    i, n = 0, len(lex)
    while i < n:
        ch = lex[i]
        if ch == "\\" and i + 1 < n:
            nxt = lex[i + 1]
            if nxt == "u" and i + 6 <= n:
                out.append(chr(int(lex[i + 2 : i + 6], 16)))
                i += 6
                continue
            if nxt == "U" and i + 10 <= n:
                out.append(chr(int(lex[i + 2 : i + 10], 16)))
                i += 10
                continue
            mapped = {"\\": "\\", '"': '"', "n": "\n", "r": "\r", "t": "\t",
                      "b": "\b", "f": "\f", "'": "'"}.get(nxt)
            if mapped is not None:
                out.append(mapped)
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
