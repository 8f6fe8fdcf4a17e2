"""RDF/XML, pretty RDF/XML and TriX serialization.

Closes the reference CLI's remaining format list (``pyrml-mapper.py:37-52``:
xml, pretty-xml, trix — rdflib ``Dataset.serialize`` backends). These are
human/interchange formats over the engine's NT-formatted string rows,
streamed from the DataFrame by :func:`pyrml_spark.rdfserialize.write_rdf`
as one distinct (g, s, p, o)-sorted row stream; bulk output belongs to
N-Quads text or the partitioned table sink.

Format notes:

* **xml**: one ``rdf:Description`` per subject, properties as namespaced
  child elements. A predicate whose IRI cannot split into
  ``namespace + XML NCName`` is *unrepresentable in RDF/XML by spec* —
  serialization raises loudly (rdflib does the same) instead of emitting an
  invalid QName.
* **pretty-xml**: identical model, but when a subject has an ``rdf:type``
  whose IRI splits cleanly, the type becomes the element name
  (``<ex:Person rdf:about=...>``) — rdflib's pretty-xml idiom.
* **trix** (W3C TriX note): fully regular — every term is a typed leaf
  element, graphs are explicit blocks. The only one of the three that
  carries named graphs; xml/pretty-xml flatten to the union graph.

All three round-trip through the test suite's parsers
(``tests/rdf_readers.py``).
"""

from __future__ import annotations

import re
from itertools import groupby
from operator import itemgetter
from typing import Dict, Iterable, List, Optional, TextIO, Tuple

from .rdfterms import RDF, parse_nt

TRIX_NS = "http://www.w3.org/2004/03/trix/trix-1/"

# XML NCName (ASCII-pragmatic subset: enough for the corpus; non-ASCII
# locals fall back to "unrepresentable" which is the loud, safe answer)
_NCNAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_.\-]*$")


class RdfXmlError(ValueError):
    pass


def _split_qname(iri_value: str) -> Optional[Tuple[str, str]]:
    """namespace + NCName local, or None if the IRI can't split (RDF/XML
    spec: property elements MUST be QNames)."""
    for sep in ("#", "/"):
        idx = iri_value.rfind(sep)
        if idx > len("http://") and idx < len(iri_value) - 1:
            local = iri_value[idx + 1:]
            if _NCNAME_RE.match(local):
                return iri_value[: idx + 1], local
            return None
    return None


def _xml_escape(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace('"', "&quot;"))


def write_rdfxml(rows: Iterable[Tuple], prefixes: Dict[str, str],
                 fh: TextIO, pretty: bool = False) -> None:
    """Rows sorted by (g, s, p, o), g ignored → RDF/XML text on ``fh``."""
    # collect namespaces used by predicates (and typed-node names) so every
    # QName prefix is declared; predicates that can't split → loud error
    used_ns: Dict[str, str] = {RDF: prefixes[RDF]}

    def qname(iri_value: str, kind: str) -> str:
        split = _split_qname(iri_value)
        if split is None:
            raise RdfXmlError(
                f"{kind} IRI {iri_value!r} cannot be expressed as an XML "
                "QName — RDF/XML cannot represent it; use turtle/nquads")
        ns, local = split
        if ns not in used_ns:
            pfx = prefixes.get(ns)
            if pfx is None or pfx in used_ns.values():
                i = len(used_ns)
                while f"x{i}" in used_ns.values():
                    i += 1
                pfx = f"x{i}"
            used_ns[ns] = pfx
        return f"{used_ns[ns]}:{local}"

    body: List[str] = []
    for s, quads in groupby(rows, key=itemgetter(1)):
        skind, sval = parse_nt(s)[:2]
        pos = [(p, o) for _g, _s, p, o in quads]
        elem = "rdf:Description"
        if pretty:
            type_iris = [o for p, o in pos
                         if p == f"<{RDF}type>" and o.startswith("<")]
            for t in sorted(type_iris):
                split = _split_qname(t[1:-1])
                if split:
                    elem = qname(t[1:-1], "type")
                    pos = [po for po in pos
                           if not (po[0] == f"<{RDF}type>" and po[1] == t)]
                    break
        ident = (f'rdf:about="{_xml_escape(sval)}"' if skind == "iri"
                 else f'rdf:nodeID="{_xml_escape(sval)}"')
        body.append(f'  <{elem} {ident}>')
        for p, o in pos:
            pq = qname(parse_nt(p)[1], "predicate")
            ot = parse_nt(o)
            if ot[0] == "iri":
                body.append(f'    <{pq} rdf:resource="{_xml_escape(ot[1])}"/>')
            elif ot[0] == "bnode":
                body.append(f'    <{pq} rdf:nodeID="{_xml_escape(ot[1])}"/>')
            else:
                _k, lex, lang, dt = ot
                attrs = ""
                if lang:
                    attrs = f' xml:lang="{lang}"'
                elif dt:
                    attrs = f' rdf:datatype="{_xml_escape(dt)}"'
                body.append(f'    <{pq}{attrs}>{_xml_escape(lex)}</{pq}>')
        body.append(f'  </{elem}>')

    decls = "".join(
        f'\n    xmlns:{pfx}="{_xml_escape(ns)}"'
        for ns, pfx in sorted(used_ns.items(), key=lambda kv: kv[1]))
    fh.write('<?xml version="1.0" encoding="utf-8"?>\n'
             f"<rdf:RDF{decls}>\n" + "\n".join(body) + "\n</rdf:RDF>\n")


# ---------------------------------------------------------------------------
# TriX
# ---------------------------------------------------------------------------

def write_trix(rows: Iterable[Tuple], fh: TextIO) -> None:
    """Rows sorted by (g, s, p, o) → TriX (W3C note) on ``fh``: named graphs
    kept, default graph = block with no <uri> label."""

    def term_xml(t: str) -> str:
        kind = parse_nt(t)
        if kind[0] == "iri":
            return f"      <uri>{_xml_escape(kind[1])}</uri>"
        if kind[0] == "bnode":
            return f"      <id>{_xml_escape(kind[1])}</id>"
        _k, lex, lang, dt = kind
        if lang:
            return (f'      <plainLiteral xml:lang="{lang}">'
                    f"{_xml_escape(lex)}</plainLiteral>")
        if dt:
            return (f'      <typedLiteral datatype="{_xml_escape(dt)}">'
                    f"{_xml_escape(lex)}</typedLiteral>")
        return f"      <plainLiteral>{_xml_escape(lex)}</plainLiteral>"

    fh.write('<?xml version="1.0" encoding="utf-8"?>\n'
             f'<TriX xmlns="{TRIX_NS}">\n')
    for g, quads in groupby(rows, key=itemgetter(0)):
        fh.write("  <graph>\n")
        if g is not None:
            fh.write(f"    <uri>{_xml_escape(parse_nt(g)[1])}</uri>\n")
        for quad in quads:
            fh.write("    <triple>\n")
            for t in quad[1:]:
                fh.write(term_xml(t) + "\n")
            fh.write("    </triple>\n")
        fh.write("  </graph>\n")
    fh.write("</TriX>\n")
