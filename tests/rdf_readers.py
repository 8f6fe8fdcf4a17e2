"""Driver-side RDF readers and triple-set comparison used only by the tests:
the collected-rows view of a triple table, an N-Quads line parser,
blank-node canonicalization with precision/recall over quad sets (goldens
are compared order-insensitively; the reference emits random blank-node
ids, SURVEY.md §5 "blank-node-isomorphism-lite"), and round-trip parsers
for the TriG, RDF/XML and TriX text of :mod:`pyrml_spark.rdfserialize`.
Goldens and round-trip outputs are tiny, so everything here is plain
Python."""

from __future__ import annotations

import hashlib
import re
import xml.etree.ElementTree as ET
from collections import defaultdict
from typing import Iterable, List, Optional, Set, Tuple

from pyrml_spark.rdfterms import RDF, escape_nt, to_nt
from pyrml_spark.rdfxml import TRIX_NS
from pyrml_spark.turtle import parse_turtle

Quad = Tuple[str, str, str, Optional[str]]

_TERM_RE = re.compile(
    r"""(<[^>]*>
        |_:[^\s]+
        |"(?:[^"\\]|\\.)*"(?:@[A-Za-z0-9\-]+|\^\^<[^>]*>)?
        )""",
    re.VERBOSE,
)


def df_to_quads(df) -> List[Quad]:
    """Collect a (s,p,o[,g]) DataFrame as quads (g None when absent)."""
    if "g" in df.columns:
        return [(r["s"], r["p"], r["o"], r["g"]) for r in df.collect()]
    return [(r["s"], r["p"], r["o"], None) for r in df.collect()]


def parse_nquads(text: str) -> List[Quad]:
    quads: List[Quad] = []
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        if not line.endswith("."):
            raise ValueError(f"bad N-Quads line: {line!r}")
        body = line[:-1].strip()
        terms = _TERM_RE.findall(body)
        if len(terms) == 3:
            quads.append((terms[0], terms[1], terms[2], None))
        elif len(terms) == 4:
            quads.append((terms[0], terms[1], terms[2], terms[3]))
        else:
            raise ValueError(f"bad N-Quads line ({len(terms)} terms): {line!r}")
    return quads


# ---------------------------------------------------------------------------
# blank-node canonicalization + set comparison
# ---------------------------------------------------------------------------

def _is_bnode(t: Optional[str]) -> bool:
    return t is not None and t.startswith("_:")


def canonicalize_bnodes(quads: Iterable[Quad]) -> Set[Quad]:
    """Relabel blank nodes by a structural signature (one-round WL hash):
    good enough for the reference corpus (bnodes appear as graph labels and
    simple subjects/objects, not deep anonymous structures)."""
    quads = list(quads)
    sig = defaultdict(list)
    for s, p, o, g in quads:
        s_w = "_:*" if _is_bnode(s) else s
        o_w = "_:*" if _is_bnode(o) else o
        g_w = "_:*" if _is_bnode(g) else (g or "")
        if _is_bnode(s):
            sig[s].append(("S", p, o_w, g_w))
        if _is_bnode(o):
            sig[o].append(("O", s_w, p, g_w))
        if _is_bnode(g):
            sig[g].append(("G", s_w, p, o_w))
    mapping = {}
    for label, edges in sig.items():
        h = hashlib.sha256(repr(sorted(edges)).encode()).hexdigest()[:16]
        mapping[label] = f"_:c{h}"
    # disambiguate collisions deterministically
    seen: defaultdict = defaultdict(int)
    final = {}
    for label in sorted(mapping, key=lambda l: (mapping[l], l)):
        base = mapping[label]
        n = seen[base]
        seen[base] += 1
        final[label] = base if n == 0 else f"{base}_{n}"

    def rl(t):
        return final.get(t, t) if t else t

    return {(rl(s), rl(p), rl(o), rl(g)) for s, p, o, g in quads}


def precision_recall(
    produced: Iterable[Quad], golden: Iterable[Quad], ignore_graph: bool = False
) -> Tuple[float, float]:
    def norm(qs):
        qs = canonicalize_bnodes(qs)
        if ignore_graph:
            qs = {(s, p, o, None) for s, p, o, _ in qs}
        return qs

    a, b = norm(produced), norm(golden)
    if not a and not b:
        return 1.0, 1.0
    tp = len(a & b)
    precision = tp / len(a) if a else 0.0
    recall = tp / len(b) if b else 0.0
    return precision, recall


def parse_rdfxml(text: str) -> List[Quad]:
    """Round-trip parser for the subset :mod:`pyrml_spark.rdfxml` emits
    (Description or typed nodes; resource/nodeID/literal objects)."""
    root = ET.fromstring(text)

    def expand(tag: str) -> str:
        # ElementTree gives '{ns}local'
        if tag.startswith("{"):
            ns, local = tag[1:].split("}", 1)
            return ns + local
        return tag

    out: List[Quad] = []
    for node in root:
        about = node.get(f"{{{RDF}}}about")
        node_id = node.get(f"{{{RDF}}}nodeID")
        s = f"<{about}>" if about is not None else f"_:{node_id}"
        node_type = expand(node.tag)
        if node_type != RDF + "Description":
            out.append((s, f"<{RDF}type>", f"<{node_type}>", None))
        for prop in node:
            p = f"<{expand(prop.tag)}>"
            res = prop.get(f"{{{RDF}}}resource")
            oid = prop.get(f"{{{RDF}}}nodeID")
            if res is not None:
                o = f"<{res}>"
            elif oid is not None:
                o = f"_:{oid}"
            else:
                lex = escape_nt(prop.text or "")
                lang = prop.get("{http://www.w3.org/XML/1998/namespace}lang")
                dt = prop.get(f"{{{RDF}}}datatype")
                o = f'"{lex}"'
                if lang:
                    o += f"@{lang}"
                elif dt:
                    o += f"^^<{dt}>"
            out.append((s, p, o, None))
    return out


def parse_trix(text: str) -> List[Quad]:
    root = ET.fromstring(text)
    ns = {"t": TRIX_NS}

    def term_nt(el) -> str:
        tag = el.tag.rsplit("}", 1)[-1]
        if tag == "uri":
            return f"<{el.text or ''}>"
        if tag == "id":
            return f"_:{el.text or ''}"
        lex = escape_nt(el.text or "")
        if tag == "typedLiteral":
            return f'"{lex}"^^<{el.get("datatype")}>'
        lang = el.get("{http://www.w3.org/XML/1998/namespace}lang")
        return f'"{lex}"@{lang}' if lang else f'"{lex}"'

    out: List[Quad] = []
    for graph in root.findall("t:graph", ns):
        children = list(graph)
        g: Optional[str] = None
        triples = []
        for ch in children:
            tag = ch.tag.rsplit("}", 1)[-1]
            if tag == "uri":
                g = f"<{ch.text or ''}>"
            elif tag == "triple":
                triples.append(ch)
        for tr in triples:
            s, p, o = (term_nt(t) for t in tr)
            out.append((s, p, o, g))
    return out


# Graph-block open/close are recognized LINE-WISE at column 0 — exactly how
# the TriG writer emits them. Braces inside quoted literals sit on indented
# triple lines and therefore can never open or close a block.
_GRAPH_OPEN_RE = re.compile(
    r"^(?P<label><[^>]*>|[A-Za-z_][\w.\-]*:[\w.\-%~]*)\s*\{\s*$"
)


def parse_trig(text: str) -> List[Quad]:
    """Parse TriG as the serializer writes it (prefix header, top-level
    default-graph triples, flat ``label { ... }`` blocks opened and closed
    at column 0 — no nested or GRAPH-keyword forms) into NT-formatted
    quads. Line-anchored scanning: ``{``/``}`` inside quoted literals cannot
    be mistaken for block delimiters, and byte-identical duplicate blocks
    are handled positionally."""
    lines = text.splitlines()
    header_lines = [ln for ln in lines
                    if ln.startswith(("@prefix", "@base", "PREFIX", "BASE"))]
    header = "\n".join(header_lines) + "\n"

    quads: List[Quad] = []
    default_lines: List[str] = []
    cur_label: Optional[str] = None
    body: List[str] = []

    def close_block() -> None:
        triples, _base, _prefixes = parse_turtle(header + "\n".join(body))
        # resolve the graph label through the same parser: make it the
        # subject of a dummy triple and take the parsed subject term
        ltriples, _b, _p = parse_turtle(
            header + cur_label + " <urn:x:p> <urn:x:o> .")
        g_nt = to_nt(ltriples[0][0])
        quads.extend((to_nt(s), to_nt(p), to_nt(o), g_nt)
                     for s, p, o in triples)

    for ln in lines:
        if cur_label is not None:
            if ln.rstrip() == "}":
                close_block()
                cur_label, body = None, []
            else:
                body.append(ln)
            continue
        m = _GRAPH_OPEN_RE.match(ln)
        if m:
            cur_label = m.group("label")
        else:
            default_lines.append(ln)
    if cur_label is not None:
        raise ValueError(f"unterminated graph block {cur_label!r}")
    # default graph = whatever parses outside the blocks
    triples, _base, _prefixes = parse_turtle("\n".join(default_lines))
    quads.extend((to_nt(s), to_nt(p), to_nt(o), None)
                 for s, p, o in triples)
    return quads
