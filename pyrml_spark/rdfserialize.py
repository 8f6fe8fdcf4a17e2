"""Turtle / TriG text serialization for (s,p,o[,g]) string tables.

Parity surface: the reference CLI serializes via rdflib to turtle, trig, n3,
xml, pretty-xml, nt, nquads (``pyrml-mapper.py:37-52``,
``pyrml_mapper.py:137-140``). Here N-Quads/N-Triples are the distributed
text sink (:mod:`pyrml_spark.nquads`) and Parquet/Iceberg the scale sink
(:mod:`pyrml_spark.kg.table`); Turtle/TriG is the *human interchange*
format — pretty, prefixed, subject-grouped. n3 is served by turtle (every
Turtle doc is valid N3); xml, pretty-xml and trix are served by
:mod:`pyrml_spark.rdfxml`, through ``compat.serialize`` and the CLI.

Scale posture: prefix discovery is a distributed aggregate (namespace
frequency over all term positions) and rows are streamed to the writer
through ``toLocalIterator`` over a Spark ``orderBy`` — driver memory is
bounded by one subject group, not the table. Still, a single pretty text
file is inherently a one-writer artifact; for bulk output use N-Quads or
the partitioned table sink.

Round-trip guarantee (tested): ``parse_turtle(serialize_turtle(quads))``
yields the same triple set, and :func:`parse_trig` inverts
:func:`serialize_trig`.
"""

from __future__ import annotations

import re
from collections import defaultdict
from typing import Dict, Iterable, Iterator, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .nquads import Quad
from .rdfterms import RDF, XSD

# well-known namespaces get their conventional prefix
WELL_KNOWN = {
    RDF: "rdf",
    "http://www.w3.org/2000/01/rdf-schema#": "rdfs",
    XSD: "xsd",
    "http://www.w3.org/2002/07/owl#": "owl",
    "http://xmlns.com/foaf/0.1/": "foaf",
    "http://purl.org/dc/terms/": "dcterms",
    "http://www.w3.org/2004/02/skos/core#": "skos",
}

# PN_LOCAL allows leading digits (Turtle grammar); keep the tail
# conservative (no dots — trailing-dot ambiguity) for round-trip safety
_PN_LOCAL_SAFE = re.compile(r"^[A-Za-z0-9_][A-Za-z0-9_-]*$")
_LITERAL_RE = re.compile(
    r'^"(?P<lex>(?:[^"\\]|\\.)*)"(?:@(?P<lang>[A-Za-z0-9\-]+)'
    r"|\^\^<(?P<dt>[^>]*)>)?$"
)


def _namespace_of(iri_value: str) -> Optional[str]:
    """Namespace split at the last '#' else last '/'; None if unsplittable
    or the local part is not a safe prefixed-name local."""
    for sep in ("#", "/"):
        idx = iri_value.rfind(sep)
        if idx > len("http://") and idx < len(iri_value) - 1:
            ns, local = iri_value[: idx + 1], iri_value[idx + 1:]
            if _PN_LOCAL_SAFE.match(local):
                return ns
            return None
    return None


def prefix_table_from_df(df: DataFrame, max_prefixes: int = 16) -> Dict[str, str]:
    """Distributed prefix discovery: namespace frequency over every IRI
    position (s, o, and literal datatypes; predicates weighted by use), top
    ``max_prefixes`` namespaces → generated prefixes. One aggregate job."""
    terms = df.select(F.col("s").alias("t")).unionByName(
        df.select(F.col("p").alias("t"))
    ).unionByName(df.select(F.col("o").alias("t")))
    # Same namespace rule as _namespace_of: split at the last '#' when the
    # IRI contains one (no fallback to '/' if the local part is unsafe),
    # else at the last '/'. Keeping both paths on one rule means every
    # registered @prefix is actually usable by _shorten_iri.
    iris = (
        terms.filter(F.col("t").startswith("<"))
        .select(F.regexp_replace("t", "^<|>$", "").alias("iri"))
        .select(
            F.when(
                F.col("iri").contains("#"),
                F.regexp_extract("iri", r"^(.*#)[A-Za-z0-9_][A-Za-z0-9_-]*$", 1),
            )
            .otherwise(
                F.regexp_extract("iri", r"^(.*/)[A-Za-z0-9_][A-Za-z0-9_-]*$", 1)
            )
            .alias("ns")
        )
        .filter(F.length("ns") > 8)  # len("http://x")
        .groupBy("ns").count()
        .orderBy(F.desc("count"), "ns")
        .limit(max_prefixes)
    )
    table: Dict[str, str] = {}
    n = 0
    for row in iris.collect():
        ns = row["ns"]
        if ns in WELL_KNOWN:
            table[ns] = WELL_KNOWN[ns]
        else:
            n += 1
            table[ns] = f"ns{n}"
    # always offer xsd for datatyped literals
    table.setdefault(XSD, "xsd")
    table.setdefault(RDF, "rdf")
    return table


def prefix_table_from_quads(quads: Iterable[Quad],
                            max_prefixes: int = 16) -> Dict[str, str]:
    """Driver-side counterpart of :func:`prefix_table_from_df`."""
    counts: Dict[str, int] = defaultdict(int)
    for s, p, o, _g in quads:
        for t in (s, p, o):
            if t.startswith("<"):
                ns = _namespace_of(t[1:-1])
                if ns:
                    counts[ns] += 1
            elif t.startswith('"'):
                m = _LITERAL_RE.match(t)
                if m and m.group("dt"):
                    ns = _namespace_of(m.group("dt"))
                    if ns:
                        counts[ns] += 1
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:max_prefixes]
    table: Dict[str, str] = {}
    n = 0
    for ns, _c in top:
        if ns in WELL_KNOWN:
            table[ns] = WELL_KNOWN[ns]
        else:
            n += 1
            table[ns] = f"ns{n}"
    table.setdefault(XSD, "xsd")
    table.setdefault(RDF, "rdf")
    return table


def _shorten_iri(iri_value: str, prefixes: Dict[str, str]) -> str:
    ns = _namespace_of(iri_value)
    if ns and ns in prefixes:
        return f"{prefixes[ns]}:{iri_value[len(ns):]}"
    return f"<{iri_value}>"


def _format_term(term: str, prefixes: Dict[str, str],
                 predicate: bool = False) -> str:
    """NT-formatted term string → Turtle token."""
    if term.startswith("<"):
        value = term[1:-1]
        if predicate and value == RDF + "type":
            return "a"
        return _shorten_iri(value, prefixes)
    if term.startswith("_:"):
        return term
    m = _LITERAL_RE.match(term)
    if m:
        if m.group("dt"):
            return f'"{m.group("lex")}"^^{_shorten_iri(m.group("dt"), prefixes)}'
        return term  # plain or @lang literal: NT form is valid Turtle
    return term


def _subject_blocks(
    triples_sorted: Iterable[Tuple[str, str, str]],
    prefixes: Dict[str, str],
    indent: str = "",
) -> Iterator[str]:
    """Triples PRE-SORTED by (s, p, o) → one pretty block per subject:
        subj pred obj , obj2 ;
            pred2 obj3 .
    Streaming: holds one subject group at a time."""
    cur_s: Optional[str] = None
    preds: List[Tuple[str, List[str]]] = []

    def flush() -> Iterator[str]:
        if cur_s is None:
            return
        subj = _format_term(cur_s, prefixes)
        lines = []
        for i, (p, objs) in enumerate(preds):
            sep = " ;" if i < len(preds) - 1 else " ."
            lead = f"{indent}{subj} " if i == 0 else f"{indent}    "
            lines.append(f"{lead}{p} {' , '.join(objs)}{sep}")
        yield "\n".join(lines)

    for s, p, o in triples_sorted:
        if s != cur_s:
            yield from flush()
            cur_s, preds = s, []
        pt = _format_term(p, prefixes, predicate=True)
        ot = _format_term(o, prefixes)
        if preds and preds[-1][0] == pt:
            preds[-1][1].append(ot)
        else:
            preds.append((pt, [ot]))
    yield from flush()


def _header(prefixes: Dict[str, str], base: Optional[str]) -> List[str]:
    out = []
    if base:
        out.append(f"@base <{base}> .")
    for ns, pfx in sorted(prefixes.items(), key=lambda kv: kv[1]):
        out.append(f"@prefix {pfx}: <{ns}> .")
    return out


def serialize_turtle(
    quads: Iterable[Quad],
    prefixes: Optional[Dict[str, str]] = None,
    base: Optional[str] = None,
) -> str:
    """Quads (graph ignored) → pretty Turtle text."""
    quads = list(quads)
    prefixes = prefixes if prefixes is not None else prefix_table_from_quads(quads)
    triples = sorted({(s, p, o) for s, p, o, _g in quads})
    parts = ["\n".join(_header(prefixes, base))]
    parts.extend(_subject_blocks(triples, prefixes))
    return "\n\n".join(parts) + "\n"


def serialize_trig(
    quads: Iterable[Quad],
    prefixes: Optional[Dict[str, str]] = None,
    base: Optional[str] = None,
) -> str:
    """Quads → TriG: default-graph triples at top level, one ``<g> { ... }``
    block per named graph."""
    quads = list(quads)
    prefixes = prefixes if prefixes is not None else prefix_table_from_quads(quads)
    by_graph: Dict[Optional[str], set] = defaultdict(set)
    for s, p, o, g in quads:
        by_graph[g or None].add((s, p, o))
    parts = ["\n".join(_header(prefixes, base))]
    default = by_graph.pop(None, None)
    if default:
        parts.extend(_subject_blocks(sorted(default), prefixes))
    for g in sorted(by_graph):
        blocks = list(_subject_blocks(sorted(by_graph[g]), prefixes,
                                      indent="    "))
        parts.append(_format_term(g, prefixes) + " {\n"
                     + "\n\n".join(blocks) + "\n}")
    return "\n\n".join(parts) + "\n"


def write_turtle(df: DataFrame, path: str, trig: bool = False,
                 base: Optional[str] = None) -> None:
    """DataFrame (s,p,o[,g]) → one pretty Turtle/TriG file at ``path``.

    The prefix table and the (g,s,p,o) ordering are computed distributed;
    rows stream to the single writer via ``toLocalIterator`` (driver holds
    one subject group). For bulk/sharded output use
    :func:`pyrml_spark.nquads.write_nquads` or the table sink."""
    prefixes = prefix_table_from_df(df)
    has_g = trig and "g" in df.columns
    # Turtle ignores the graph column entirely, so sort/dedup on (s,p,o)
    # only; TriG needs graph-major order to stream one block at a time.
    cols = ["g", "s", "p", "o"] if has_g else ["s", "p", "o"]
    it = df.select(*cols).distinct().orderBy(*cols).toLocalIterator()

    with open(path, "w", encoding="utf-8") as fh:
        for line in _header(prefixes, base):
            fh.write(line + "\n")
        if not trig:
            triples = ((r["s"], r["p"], r["o"]) for r in it)
            for block in _subject_blocks(triples, prefixes):
                fh.write("\n" + block + "\n")
            return
        cur_g: Optional[str] = "\x00unset"
        buf: List[Tuple[str, str, str]] = []

        def flush_graph():
            if cur_g == "\x00unset":
                return
            if cur_g is None:
                for block in _subject_blocks(buf, prefixes):
                    fh.write("\n" + block + "\n")
            else:
                fh.write("\n" + _format_term(cur_g, prefixes) + " {\n")
                first = True
                for block in _subject_blocks(buf, prefixes, indent="    "):
                    fh.write(("" if first else "\n") + block + "\n")
                    first = False
                fh.write("}\n")

        for r in it:
            g = r["g"] if has_g else None
            if g != cur_g:
                flush_graph()
                cur_g, buf = g, []
            buf.append((r["s"], r["p"], r["o"]))
        flush_graph()


# ---------------------------------------------------------------------------
# TriG parsing (round-trip tests + golden comparison)
# ---------------------------------------------------------------------------

# Graph-block open/close are recognized LINE-WISE at column 0 — exactly how
# serialize_trig/write_turtle emit them. Braces inside quoted literals sit on
# indented triple lines and therefore can never open or close a block.
_GRAPH_OPEN_RE = re.compile(
    r"^(?P<label><[^>]*>|[A-Za-z_][\w.\-]*:[\w.\-%~]*)\s*\{\s*$"
)


def parse_trig(text: str) -> List[Quad]:
    """Parse TriG produced by :func:`serialize_trig` (prefix header,
    top-level default-graph triples, flat ``label { ... }`` blocks opened and
    closed at column 0 — no nested or GRAPH-keyword forms) into NT-formatted
    quads. Line-anchored scanning: ``{``/``}`` inside quoted literals cannot
    be mistaken for block delimiters, and byte-identical duplicate blocks
    are handled positionally."""
    from .turtle import parse_turtle

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
        g_nt = _term_to_nt(ltriples[0][0])
        quads.extend((_term_to_nt(s), _term_to_nt(p), _term_to_nt(o), g_nt)
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
    quads.extend((_term_to_nt(s), _term_to_nt(p), _term_to_nt(o), None)
                 for s, p, o in triples)
    return quads


def _term_to_nt(term) -> str:
    """rdfterms tuple → NT-formatted string (inverse of the parser's view)."""
    from .rdfterms import escape_nt

    kind = term[0]
    if kind == "iri":
        return f"<{term[1]}>"
    if kind == "bnode":
        return f"_:{term[1]}"
    _k, lex, lang, dt = term
    body = f'"{escape_nt(lex)}"'
    if lang:
        return f"{body}@{lang}"
    if dt and dt != XSD + "string":
        return f'{body}^^<{dt}>'
    return body
