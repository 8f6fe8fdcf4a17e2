"""RDF text serialization of (s,p,o[,g]) string tables: the one entry
:func:`write_rdf` for every text format.

Parity surface: the reference CLI serializes via rdflib to turtle, trig, n3,
xml, pretty-xml, nt, nquads (``pyrml-mapper.py:37-52``,
``pyrml_mapper.py:137-140``); ``compat.serialize`` and the CLI accept the
same names (:data:`FORMATS`). N-Triples/N-Quads lines are formatted by
Spark (:func:`pyrml_spark.nquads.nquads_line_col`); Turtle/TriG is the
*human interchange* format — pretty, prefixed, subject-grouped (n3 is
served by turtle: every Turtle doc is valid N3); xml, pretty-xml and trix
are written by :mod:`pyrml_spark.rdfxml`.

Every format is streamed from the DataFrame: prefix discovery is a
distributed aggregate (namespace frequency over all term positions), and
the rows are one distinct, sorted stream read through ``toLocalIterator``,
so driver memory is bounded by one subject group, not the table (RDF/XML
alone buffers its body, because its namespace declarations come first).
The output is a set, like rdflib's ``Dataset``. Still, a single text file
is a one-writer artifact; for bulk output use
:func:`pyrml_spark.nquads.write_nquads` or the partitioned table sink.
"""

from __future__ import annotations

import re
from itertools import groupby
from operator import itemgetter
from typing import Dict, Iterable, Iterator, List, Optional, TextIO, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .nquads import nquads_line_col
from .rdfterms import NT_LITERAL_RE, RDF, XSD, nt_datatype
from .rdfxml import write_rdfxml, write_trix

# rdflib format name or alias → the writer that serves it
FORMATS = {
    "nt": "nt", "ntriples": "nt", "nt11": "nt",
    "nquads": "nq", "nq": "nq",
    "turtle": "turtle", "ttl": "turtle", "n3": "turtle",
    "trig": "trig",
    "xml": "xml", "pretty-xml": "pretty-xml",
    "trix": "trix",
}

# formats that keep the graph column; the others write the union graph
_GRAPH_FORMATS = ("nq", "trig", "trix")

MAX_PREFIXES = 16

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


def rdf_format(name: str) -> str:
    """The writer for an rdflib format name or alias (``ValueError`` if
    none serves it)."""
    fmt = FORMATS.get(name.lower().replace("_", "-"))
    if fmt is None:
        raise ValueError(f"unsupported serialization format {name!r}")
    return fmt


def write_rdf(df: DataFrame, format: str, fh: TextIO) -> None:
    """Serialize the (s,p,o[,g]) DataFrame as ``format`` text on ``fh``.

    One path for every format: the prefix table (prefixed formats only),
    then the distinct rows sorted by (g, s, p, o) — g NULL for the triple
    formats, which write the union graph — streamed to the format's
    writer. N-Triples/N-Quads stream their Spark-formatted lines in line
    order instead."""
    fmt = rdf_format(format)
    g = (F.col("g") if fmt in _GRAPH_FORMATS and "g" in df.columns
         else F.lit(None).cast("string"))
    quads = df.select(g.alias("g"), "s", "p", "o")
    if fmt in ("nt", "nq"):
        lines = _sorted_rows(quads.select(nquads_line_col().alias("line")))
        wrote = False
        for (line,) in lines:
            fh.write(line + "\n")
            wrote = True
        if not wrote:
            fh.write("\n")  # an empty graph is one empty line
        return
    if fmt == "trix":
        write_trix(_sorted_rows(quads), fh)
        return
    prefixes = prefix_table_from_df(df)
    rows = _sorted_rows(quads)
    if fmt in ("turtle", "trig"):
        _write_turtle(rows, prefixes, fh)
    else:
        write_rdfxml(rows, prefixes, fh, pretty=fmt == "pretty-xml")


def _sorted_rows(df: DataFrame) -> Iterator[Tuple]:
    """The distinct rows of ``df`` ordered by its columns left to right
    (NULL first), streamed to the driver one partition at a time."""
    return df.distinct().orderBy(*df.columns).toLocalIterator()


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


def prefix_table_from_df(df: DataFrame) -> Dict[str, str]:
    """Distributed prefix discovery: namespace frequency over every IRI
    position (s, p, o and literal datatypes, counted once per row), top
    ``MAX_PREFIXES`` namespaces → generated prefixes. One aggregate job."""
    t = F.col("t")
    iris = (
        df.select(F.explode(F.array("s", "p", "o")).alias("t"))
        .select(
            F.when(t.startswith("<"), F.regexp_extract(t, r"^<(.*)>$", 1))
            .when(t.startswith('"'), nt_datatype(t))
            .alias("iri"))
    )
    # Same namespace rule as _namespace_of: split at the last '#' when the
    # IRI contains one (no fallback to '/' if the local part is unsafe),
    # else at the last '/'. Keeping both paths on one rule means every
    # registered @prefix is actually usable by _shorten_iri.
    top = (
        iris.select(
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
    )
    table: Dict[str, str] = {}
    n = 0
    for row in top.limit(MAX_PREFIXES).collect():
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
    m = NT_LITERAL_RE.match(term)
    if m and m.group("dt"):
        return f'"{m.group("lex")}"^^{_shorten_iri(m.group("dt"), prefixes)}'
    return term  # plain or @lang literal: NT form is valid Turtle


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


def _write_turtle(rows: Iterable[Tuple], prefixes: Dict[str, str],
                  fh: TextIO) -> None:
    """Rows sorted by (g, s, p, o) → Turtle (every g NULL) or TriG on
    ``fh``: default-graph subject blocks at top level, then one
    ``label { ... }`` block per named graph, opened and closed at column 0."""
    for ns, pfx in sorted(prefixes.items(), key=lambda kv: kv[1]):
        fh.write(f"@prefix {pfx}: <{ns}> .\n")
    for g, quads in groupby(rows, key=itemgetter(0)):
        named = g is not None
        if named:
            fh.write("\n" + _format_term(g, prefixes) + " {\n")
        sep = "" if named else "\n"
        for block in _subject_blocks((q[1:] for q in quads), prefixes,
                                     indent="    " if named else ""):
            fh.write(sep + block + "\n")
            sep = "\n"
        if named:
            fh.write("}\n")
