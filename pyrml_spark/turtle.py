"""Hand-written Turtle-subset parser for RML mapping documents.

rdflib is not available in this environment, and RML mappings use a narrow,
regular Turtle subset (SURVEY.md §7 step 1): ``@prefix`` / ``@base``
directives (and SPARQL-style ``PREFIX``/``BASE``), IRIs, prefixed names,
blank-node property lists ``[ ... ]``, literals with ``@lang`` / ``^^dt``,
the ``a`` keyword, ``;`` and ``,`` list separators, numeric and boolean
literals, and RDF collections ``( ... )``.

Reference behavior mirrored (not copied): the reference parses mappings with
rdflib plus a custom Turtle parser that captures ``@base``
(``pyrml/pyrml_rdflib.py:7-35``); relative IRIs resolve against the base.

Output is a list of ``(s, p, o)`` term tuples (see :mod:`pyrml_spark.rdfterms`)
plus the captured base IRI.
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

from .rdfterms import RDF, XSD, Term, bnode, iri, literal, unescape_nt

_TOKEN_RE = re.compile(
    r"""
      (?P<comment>\#[^\n]*)
    | (?P<iriref><[^<>"{}|^`\\\s]*>)
    | (?P<string3>\"\"\"(?:[^"\\]|\\.|"(?!""))*\"\"\")
    | (?P<string>"(?:[^"\\\n]|\\.)*")
    | (?P<string1>'(?:[^'\\\n]|\\.)*')
    | (?P<directive>@prefix|@base)
    | (?P<langtag>@[a-zA-Z]+(?:-[a-zA-Z0-9]+)*)
    | (?P<sparqldir>(?i:PREFIX|BASE)(?=\s))
    | (?P<double_caret>\^\^)
    | (?P<pname>[A-Za-z_][\w.\-]*)?:(?P<pnlocal>[\w.\-%~:]*[\w\-%~]|[\w\-%~])?
    | (?P<number>[+-]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)
    | (?P<kw>\b(?:a|true|false)\b)
    | (?P<punct>[\[\]();,.])
    | (?P<ws>\s+)
    """,
    re.VERBOSE,
)


class TurtleParseError(ValueError):
    pass


class _Tokenizer:
    def __init__(self, text: str):
        self.tokens: List[Tuple[str, str]] = []
        pos = 0
        n = len(text)
        while pos < n:
            m = _TOKEN_RE.match(text, pos)
            if not m or m.end() == pos:
                raise TurtleParseError(
                    f"cannot tokenize at offset {pos}: {text[pos:pos+40]!r}"
                )
            kind = m.lastgroup
            pos = m.end()
            if kind in ("ws", "comment"):
                continue
            if kind == "pnlocal" or (m.group("pname") is not None and ":" in m.group(0)) or (
                ":" in m.group(0) and kind is None
            ):
                self.tokens.append(("pname", m.group(0)))
                continue
            if kind in ("string3", "string1"):
                kind = "string"
            self.tokens.append((kind, m.group(0)))
        self.i = 0

    def peek(self) -> Tuple[str, str]:
        if self.i >= len(self.tokens):
            return ("eof", "")
        return self.tokens[self.i]

    def next(self) -> Tuple[str, str]:
        tok = self.peek()
        self.i += 1
        return tok

    def expect(self, value: str) -> None:
        kind, v = self.next()
        if v != value:
            raise TurtleParseError(f"expected {value!r}, got {v!r} (kind={kind})")


def _resolve(base: Optional[str], ref: str) -> str:
    """Minimal RFC-3986-ish resolution sufficient for mapping documents."""
    if re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*:", ref):
        return ref  # absolute
    if base is None:
        return ref
    if ref.startswith("#"):
        return base.split("#")[0] + ref
    if ref == "":
        return base
    if ref.startswith("//"):
        scheme = base.split(":", 1)[0]
        return f"{scheme}:{ref}"
    if ref.startswith("/"):
        m = re.match(r"^([A-Za-z][A-Za-z0-9+.\-]*://[^/]*)", base)
        root = m.group(1) if m else base.rstrip("/")
        return root + ref
    # relative path: replace last segment of base
    cut = base.split("#")[0]
    return cut.rsplit("/", 1)[0] + "/" + ref if "/" in cut else cut + "/" + ref


class TurtleParser:
    """Parses the Turtle subset into a triple list."""

    def __init__(self, text: str, base: Optional[str] = None):
        self.tz = _Tokenizer(text)
        self.base = base
        self.prefixes: dict[str, str] = {}
        self.triples: List[Tuple[Term, Term, Term]] = []
        self._bnode_counter = 0

    # -- public ------------------------------------------------------------
    def parse(self) -> List[Tuple[Term, Term, Term]]:
        while self.tz.peek()[0] != "eof":
            kind, v = self.tz.peek()
            if kind == "directive" or kind == "sparqldir":
                self._directive()
            else:
                self._triples_block()
        return self.triples

    # -- grammar -----------------------------------------------------------
    def _directive(self) -> None:
        kind, v = self.tz.next()
        lowered = v.lower()
        if lowered in ("@prefix", "prefix"):
            pk, pv = self.tz.next()
            if pk != "pname" or not pv.endswith(":"):
                raise TurtleParseError(f"bad prefix name: {pv!r}")
            ik, ivv = self.tz.next()
            if ik != "iriref":
                raise TurtleParseError(f"bad prefix IRI: {ivv!r}")
            self.prefixes[pv[:-1]] = _resolve(self.base, ivv[1:-1])
        elif lowered in ("@base", "base"):
            ik, ivv = self.tz.next()
            if ik != "iriref":
                raise TurtleParseError(f"bad base IRI: {ivv!r}")
            self.base = _resolve(self.base, ivv[1:-1])
        else:
            raise TurtleParseError(f"unknown directive {v!r}")
        if lowered.startswith("@"):
            self.tz.expect(".")

    def _triples_block(self) -> None:
        subject = self._term(as_subject=True)
        self._predicate_object_list(subject)
        self.tz.expect(".")

    def _predicate_object_list(self, subject: Term) -> None:
        while True:
            predicate = self._verb()
            self._object_list(subject, predicate)
            kind, v = self.tz.peek()
            if v == ";":
                self.tz.next()
                # allow trailing ';' before '.' or ']'
                k2, v2 = self.tz.peek()
                if v2 in (".", "]"):
                    return
                continue
            return

    def _object_list(self, subject: Term, predicate: Term) -> None:
        while True:
            obj = self._term()
            self.triples.append((subject, predicate, obj))
            if self.tz.peek()[1] == ",":
                self.tz.next()
                continue
            return

    def _verb(self) -> Term:
        kind, v = self.tz.peek()
        if kind == "kw" and v == "a":
            self.tz.next()
            return iri(RDF + "type")
        return self._term()

    def _new_bnode(self) -> Term:
        self._bnode_counter += 1
        return bnode(f"tb{self._bnode_counter}")

    def _term(self, as_subject: bool = False) -> Term:
        kind, v = self.tz.next()
        if kind == "iriref":
            return iri(_resolve(self.base, unescape_nt(v[1:-1])))
        if kind == "pname":
            prefix, _, local = v.partition(":")
            if prefix == "_":
                return bnode(local)
            if prefix not in self.prefixes:
                raise TurtleParseError(f"unknown prefix {prefix!r} in {v!r}")
            return iri(self.prefixes[prefix] + local)
        if kind == "string":
            quote = 3 if v.startswith('"""') else 1
            lex = unescape_nt(v[quote:-quote])
            nk, nv = self.tz.peek()
            if nk == "langtag":
                self.tz.next()
                return literal(lex, lang=nv[1:])
            if nk == "double_caret":
                self.tz.next()
                dt = self._term()
                if dt[0] != "iri":
                    raise TurtleParseError("datatype must be an IRI")
                return literal(lex, datatype=dt[1])
            return literal(lex)
        if kind == "number":
            if re.search(r"[.eE]", v):
                dt = XSD + ("double" if re.search(r"[eE]", v) else "decimal")
            else:
                dt = XSD + "integer"
            return literal(v, datatype=dt)
        if kind == "kw" and v in ("true", "false"):
            return literal(v, datatype=XSD + "boolean")
        if v == "[":
            node = self._new_bnode()
            if self.tz.peek()[1] != "]":
                self._predicate_object_list(node)
            self.tz.expect("]")
            return node
        if v == "(":
            # RDF collection
            items = []
            while self.tz.peek()[1] != ")":
                items.append(self._term())
            self.tz.expect(")")
            head: Term = iri(RDF + "nil")
            for item in reversed(items):
                cell = self._new_bnode()
                self.triples.append((cell, iri(RDF + "first"), item))
                self.triples.append((cell, iri(RDF + "rest"), head))
                head = cell
            return head
        raise TurtleParseError(f"unexpected token {v!r} (kind={kind})")


def parse_turtle(text: str, base: Optional[str] = None):
    """Parse Turtle text → (triples, base, prefixes)."""
    p = TurtleParser(text, base=base)
    triples = p.parse()
    return triples, p.base, p.prefixes
