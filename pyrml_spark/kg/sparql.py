"""SPARQL SELECT front-end over the BGP compiler (``kg/query.py``) — a
textual query surface for the constructed graph, completing the
construct → materialize → **query** story of the north rule.

The reference engine has no query language at all (it only serializes
graphs — rdflib ``Dataset.serialize``, pyrml_mapper.py:137-140); this is
new, Spark-first design: the parser lowers a documented SPARQL subset
onto :func:`pyrml_spark.kg.query.kg_query`, so execution inherits the
compiler's predicate-pruned scans, selectivity-ordered shared-variable
equi-joins, and scan-level FILTER pushdown — nothing here touches a row.

Supported subset (everything else raises :class:`SPARQLUnsupportedError`
at parse time — loud, never a silent approximation):

* ``PREFIX`` / ``BASE`` prologue; prefixed names anywhere an IRI goes.
* Query forms ``SELECT`` (→ :func:`sparql_select`), ``ASK``
  (→ :func:`sparql_ask`), ``CONSTRUCT`` (→ :func:`sparql_construct`),
  ``DESCRIBE`` (→ :func:`sparql_describe` — subject-centric: all
  triples whose subject is a described resource; the description shape
  is implementation-defined by the spec and this one is documented).
* ``SELECT [DISTINCT|REDUCED] ?v ... | * | (AGG(?v) AS ?alias) ...``.
  ``REDUCED`` runs as the bag (returning duplicates is conformant:
  REDUCED *permits* but does not require elimination). Aggregates:
  ``COUNT(*)``, ``COUNT([DISTINCT] ?v)``, ``SUM/AVG/MIN/MAX(?v)``
  (numeric, over the lexical form via ``try_cast`` — a non-numeric term
  contributes NULL, which SQL aggregates skip, matching SPARQL's
  error-term elision), ``SAMPLE(?v)`` (implementation-defined choice:
  deterministically the encoding-order minimum), and
  ``GROUP_CONCAT([DISTINCT] ?v [; SEPARATOR="..."])`` (over lexical
  forms, codepoint-sorted order — the spec leaves order undefined, a
  distributed engine must pick a deterministic one), with
  ``GROUP BY ?v ...``.
* ``WHERE { ... }`` with triple patterns, ``;`` predicate lists, ``,``
  object lists, ``a`` for rdf:type, ``FILTER(...)``, any number of
  ``OPTIONAL { patterns FILTER... }`` blocks, and the top-level union
  form ``{ group } UNION { group } ...`` (bag union, columns aligned by
  variable name, NULL where a side does not bind). UNION sides and the
  bodies of OPTIONAL, EXISTS, MINUS and GRAPH hold only patterns and
  FILTERs (one level of compounding, loud otherwise).
* The WHERE clause parses into one tree of the SPARQL 1.1 algebra
  (§18.2): BGP, a path leaf, Join, LeftJoin (OPTIONAL), semi/anti join
  (FILTER [NOT] EXISTS), Minus, Filter, Union, Extend (BIND), Table
  (VALUES) and a subquery leaf. A group evaluates in a fixed order: the
  one BGP of its plain patterns, paths, subqueries, VALUES, BINDs, the
  BGP of the patterns that read a BIND alias, EXISTS/MINUS, OPTIONALs,
  then the BINDs and FILTERs over OPTIONAL variables. Placement rule: a
  FILTER conjunct over the plain BGP's variables is pushed into its
  scans; every other conjunct and every BIND goes right after the last
  element that binds one of its variables (SPARQL's group scope —
  ``FILTER(!BOUND(?x))`` after an OPTIONAL is the negation idiom).
* One shared-variable join (inner, left, semi, anti, minus). A join
  sharing no variable is a loud cartesian product, except MINUS, which
  then removes nothing (the spec's compatibility rule). Every shared
  variable must be bound in every solution of both sides: an SQL join
  key never matches NULL, so SPARQL's unbound-is-compatible rule — a
  key bound only by an OPTIONAL, an UNDEF cell — is a loud subset
  boundary, not an approximation.
* Terms: ``?var``, ``<iri>``, ``pfx:local``, ``"lit"``, ``"lit"@lang``,
  ``"lit"^^dt``, integer/decimal/double shorthand (typed per the XSD
  rules SPARQL gives numeric tokens). Constants are rendered to the
  engine's N-Triples term encoding — the triples table's native column
  format — so matching is exact string equality at the scan.
* Property paths in verb position: ``^p`` (inverse), ``p/q``
  (sequence), ``p|q`` (alternation), ``p+ p* p?`` (closures), grouping
  ``( )``. Sequences and inverses DESUGAR into plain triple patterns
  with fresh hidden variables — they keep the BGP compiler's pruned
  scans and join ordering. Alternation of plain IRIs is one
  ``p IN (...)`` scan. A closure with one constant endpoint runs a
  seeded frontier BFS; otherwise it runs pointer-doubling transitive
  closure (O(log diameter) rounds). Both run on the CC machinery's
  fixed-point loop (``kg/fixpoint.py``). Zero-length paths (``* ?``)
  connect every node OCCURRING IN THE GRAPH to itself — outside the
  seeded ``*`` form, a constant endpoint absent from the graph misses
  its spec-mandated self-solution (documented deviation). Negated
  property sets ``!iri`` / ``!(iri|...)`` with FORWARD members desugar
  to one scan with a ``NOT IN`` predicate filter (a fresh hidden
  predicate variable) and compose with sequences; inverse members (``!(^p)``), ``^`` applied
  to a whole negated set, and negated sets under closures/alternations
  stay loud. Alternation/closure inside OPTIONAL/UNION stay loud.
* ``FILTER`` expressions: ``&&  ||  !  ( )``, comparisons
  ``= != < > <= >=``, and the functions ``STR LANG LANGMATCHES
  DATATYPE BOUND COALESCE IF REGEX REPLACE STRSTARTS STRENDS CONTAINS
  STRLEN SUBSTR UCASE LCASE STRBEFORE STRAFTER CONCAT IRI STRDT
  STRLANG isIRI isURI isLiteral isBlank`` (COALESCE/IF return terms — usable in BIND and
  comparisons; IF's NULL-condition case yields unbound, per the
  spec's error propagation).
* ``GRAPH ?g { ... }`` / ``GRAPH <iri> { ... }`` over a quads
  DataFrame (s, p, o, g): the graph term extends every pattern of the
  group to a quad — one more pruned/bound scan column, handled by the
  same BGP compiler (a graph constant reaches the scan as a pushed
  equality). Loud when the DataFrame lacks ``g`` or when nested in
  OPTIONAL/UNION. Patterns OUTSIDE any GRAPH over a quads DataFrame
  follow the union-default-graph model (they match in every named
  graph; a triple asserted in two graphs contributes two bag
  solutions — ``DISTINCT`` collapses them), the common store behavior
  rather than SPARQL's empty-default-graph strictness.
* ``BIND(expr AS ?alias)`` — the alias may feed SELECT, aggregates,
  ORDER BY, a CONSTRUCT template, FILTERs and triple patterns: those
  patterns form their own BGP, equi-joined on the computed value (a
  NULL/errored value matches nothing and its row drops; a pattern
  connected to the plain BGP only through such a pattern leaves it
  disconnected — loud cartesian, reorder or add a bridging pattern).
  ``expr`` is any FILTER operand
  plus the constructors ``CONCAT(...)`` and ``IRI(...)``; results
  re-enter the term encoding (lexical → plain literal with the writer's
  N-Triples escapes, ``IRI()`` → ``<...>``, ``STRLEN`` → ``xsd:integer``,
  numeric constants keep their XSD type). BIND inside OPTIONAL/UNION
  sides, aliases as closure-path endpoints, and aliases over OPTIONAL
  variables used in any pattern stay loud.
* ``{ SELECT ... }`` subqueries: each runs as a complete SELECT in a
  FRESH scope (SPARQL bottom-up evaluation — no outer bindings flow in)
  with its own modifiers (a ``LIMIT``/``ORDER`` inside the subquery is
  the top-k-then-join idiom), joined on the shared PROJECTED variables.
  Aggregate aliases flow out as plain values: usable in FILTERs and
  projection, loud in triple patterns (a raw value never equi-matches
  an encoded term). ``SELECT *`` subqueries stay loud.
* ``VALUES ?x { t ... }`` / ``VALUES (?x ?y) { (t t) (t UNDEF) ... }``
  — a single bound variable without UNDEF becomes a plain ``IN``
  filter; otherwise an inline table joined on the shared variables
  (UNDEF allowed in extension columns, loud in join columns).
* ``FILTER [NOT] EXISTS { patterns FILTER... }`` as a whole constraint
  (uncorrelated EXISTS is loud) and ``MINUS { ... }``: semi/anti joins
  on the shared variables.
* ``HAVING (constraint) ...`` after GROUP BY (or over the implicit
  group when SELECT has aggregates): constraints use the FILTER
  grammar (``&& || !``, parentheses, comparisons) over **aggregate
  expressions and numeric constants** only — per-solution or group-key
  constraints belong in FILTER (loud; equivalent and cheaper before
  grouping). HAVING aggregates ride the same single aggregation pass as
  hidden columns.
* ``ORDER BY [ASC|DESC](?v) ...``, ``LIMIT n``, ``OFFSET n``. Order
  variables may be any in-scope variable (SPARQL orders before
  projection); with DISTINCT they must survive the projection (loud
  otherwise). Ordering is a documented TOTAL order: numeric-typed
  literals first, by value (``"9"^^xsd:integer < "10"^^xsd:integer``),
  then every other term by codepoint on its N-Triples encoding.
* ``CONSTRUCT { template }``: each solution instantiates the template
  triples; instantiations with an unbound position, a literal subject,
  or a non-IRI predicate are skipped (the spec's rule), and the result
  graph is a set — one ``distinct()`` over the unioned projections.

FILTER semantics (documented, SPARQL-faithful where it matters):

* ``=`` / ``!=`` against a term constant compare the full **encoded**
  term — SPARQL term equality (``"x"`` ≠ ``"x"@en`` ≠ ``"x"^^xsd:y``,
  exactly as RDF says). Against a **numeric** operand they compare
  values (``"05"^^xsd:integer = 5``) via ``try_cast`` of the lexical form
  — a non-numeric term is a SPARQL type error and the row drops (for
  ``!=`` too), never an ANSI cast failure aborting the query.
* ``< > <= >=`` with a numeric operand compare **values**: the
  variable's lexical form is ``try_cast`` to a double; a non-numeric term
  casts to NULL, the comparison is not true, and the row drops — which is
  precisely SPARQL's type-error-eliminates-the-row rule. With a string
  operand the comparison is codepoint order on the lexical form (the
  simple-literal case of SPARQL's operator table).
* String functions operate on the **lexical form** (``STR`` semantics:
  IRIs lose their brackets, literals lose quotes/lang/datatype, and
  exactly the writer's escapes — ``\\\\ \\" \\n \\r \\t`` — are undone, by
  the one codec in ``rdfterms.py``; string constants in a query are
  decoded by SPARQL's escape rules and re-encoded by the same codec).
  A bare variable where SPARQL wants a string is auto-coerced through
  ``STR`` — a documented convenience superset, never a different answer
  for a query SPARQL accepts.
* ``REGEX`` runs as Spark ``rlike`` (Java regex — the closest engine to
  the XPath dialect SPARQL specifies); the optional flags (``i s m``
  combinations) map to an inline ``(?flags)``. Other flags are rejected.
* FILTER, HAVING and BIND expressions parse into one expression tree,
  lowered once to Spark Columns; a filter's placement comes from the
  exact variable set of its tree.

``LIMIT`` without ``ORDER BY`` over all output columns is accepted (it
is valid SPARQL — any n rows satisfy it) but the choice of rows is then
plan-dependent, same as any engine.

Scale notes: the heavy lifting is all in ``kg_query`` (see its module
docstring for the 100 TB story). ``ORDER BY`` adds one total sort of the
final projection — a range-partitioned exchange on already-distinct
output, the standard top-k shape when combined with LIMIT (Spark rewrites
sort+limit to TakeOrderedAndProject, no full sort materialized).
"""

from __future__ import annotations

import operator
import re
from dataclasses import dataclass, field
from decimal import Decimal
from functools import reduce
from typing import Dict, List, Optional, Tuple
from urllib.parse import urljoin

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..rdfterms import (RDF, XSD, literal, nt_datatype, nt_escape,
                        nt_lang, nt_lexical, parse_nt, to_nt, unescape_nt)
from .fixpoint import fixpoint
from .query import BGPError, is_var, kg_query

RDF_TYPE = f"<{RDF}type>"


class SPARQLError(ValueError):
    """Malformed query text (lex/parse failure)."""


class SPARQLUnsupportedError(SPARQLError):
    """Syntactically-recognized construct outside the documented subset."""


# ---------------------------------------------------------------- lexer

# recognized-and-rejected: name the construct in the error instead of a
# generic parse failure (these are the SPARQL features OUTSIDE the subset)
_UNSUPPORTED_KEYWORDS = {
    "service",
}

_AGG_FNS = {"COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT"}
# aggregates whose result is numeric (usable in HAVING comparisons)
_NUMERIC_AGG_FNS = {"COUNT", "SUM", "AVG", "MIN", "MAX"}

_TOKEN_RE = re.compile(
    r"""
      (?P<WS>\s+|\#[^\n]*)
    | (?P<IRIREF><[^<>"{}|^`\\\s]*>)
    | (?P<STRING>"(?:[^"\\\n]
                   |\\(?:[tbnrf"'\\]|u[0-9A-Fa-f]{4}|U[0-9A-Fa-f]{8}))*"
        (?:@[A-Za-z]+(?:-[A-Za-z0-9]+)*
         |\^\^(?:<[^<>"{}|^`\\\s]*>|[A-Za-z_][\w.-]*:[\w.-]*))?)
    | (?P<VAR>\?[A-Za-z_][A-Za-z0-9_]*)
    | (?P<PNAME>(?:[A-Za-z_][A-Za-z0-9_.-]*)?:[A-Za-z0-9_.%-]*)
    | (?P<NUMBER>[+-]?(?:\d+\.\d+(?:[eE][+-]?\d+)?
                      |\d+[eE][+-]?\d+
                      |\d+))
    | (?P<NAME>[A-Za-z_][A-Za-z0-9_]*)
    | (?P<OP>&&|\|\||!=|<=|>=|[{}().;,=<>!*\[\]/|^+?])
    """,
    re.X,
)


@dataclass
class _Tok:
    kind: str
    text: str
    pos: int


def _lex(query: str) -> List[_Tok]:
    toks: List[_Tok] = []
    i, n = 0, len(query)
    while i < n:
        m = _TOKEN_RE.match(query, i)
        if not m:
            raise SPARQLError(
                f"cannot tokenize SPARQL at offset {i}: {query[i:i+20]!r}")
        i = m.end()
        kind = m.lastgroup or ""
        if kind == "WS":
            continue
        toks.append(_Tok(kind, m.group(), m.start()))
    toks.append(_Tok("EOF", "", n))
    return toks


# --------------------------------------------------------------- parser


@dataclass
class Aggregate:
    """One ``(AGG(?v) AS ?alias)`` select expression."""
    fn: str         # COUNT / SUM / AVG / MIN / MAX / SAMPLE / GROUP_CONCAT
    var: Optional[str]         # None == COUNT(*)
    distinct: bool
    alias: str
    sep: Optional[str] = None  # GROUP_CONCAT separator (default " ")


# --- property-path AST (SPARQL 1.1 §9) -------------------------------
#
# Sequences and inverses DESUGAR to plain triple patterns at parse time
# (fresh hidden variables), so `p/q` and `^p` keep the BGP compiler's
# predicate-pruned scans and join ordering. Alternation and the
# closures (+ * ?) cannot be expressed as a static BGP; they become
# PATH PATTERNS evaluated as edge DataFrames and joined into the
# solution bag (see _path_edges).

@dataclass
class PathIri:
    iri: str


@dataclass
class PathInv:
    inner: "PathNode"


@dataclass
class PathSeq:
    parts: List["PathNode"]


@dataclass
class PathAlt:
    parts: List["PathNode"]


@dataclass
class PathMod:
    inner: "PathNode"
    mod: str                   # '+' | '*' | '?'


@dataclass
class PathNeg:
    """Negated property set ``!iri`` / ``!(iri|...)`` — forward members
    only (inverse ``^iri`` members stay loud). Desugars to a pattern
    with a fresh hidden predicate VARIABLE plus a scan-level
    ``NOT IN`` filter, so it keeps the BGP compiler's single-scan
    shape (no closure machinery involved)."""
    iris: List[str]


PathNode = object  # union of the five dataclasses above


def _invert(path) -> "PathNode":
    """Push ``^`` down to the leaves: ^(a/b) = ^b/^a, ^(a|b) = ^a|^b,
    ^(p+) = (^p)+, ^^p = p."""
    if isinstance(path, PathIri):
        return PathInv(path)
    if isinstance(path, PathInv):
        return path.inner
    if isinstance(path, PathSeq):
        return PathSeq([_invert(p) for p in reversed(path.parts)])
    if isinstance(path, PathAlt):
        return PathAlt([_invert(p) for p in path.parts])
    if isinstance(path, PathMod):
        return PathMod(_invert(path.inner), path.mod)
    if isinstance(path, PathNeg):
        raise SPARQLUnsupportedError(
            "^ applied to a negated property set is outside the "
            "supported subset (write the pattern with swapped "
            "endpoints instead)")
    raise AssertionError(path)


def _contains_neg(path) -> bool:
    if isinstance(path, PathNeg):
        return True
    if isinstance(path, (PathSeq, PathAlt)):
        return any(_contains_neg(p) for p in path.parts)
    if isinstance(path, (PathMod, PathInv)):
        return _contains_neg(path.inner)
    return False


# --- expression tree -------------------------------------------------
#
# FILTER, HAVING and BIND expressions, the IF condition, the VALUES
# single-variable IN and the negated-property-set NOT IN all parse into
# these nodes. Each node has an operand kind (what its value is) and its
# exact variable set, which decides filter and BIND scope; :func:`_column`
# lowers a node to a Spark Column at execution.

_NUMERIC = "num"       # a number
_TERM = "term"         # an ENCODED term constant (IRI or literal)
_VAR = "var"           # a variable: an encoded-term column
_LEX = "lex"           # a lexical form
_IRI = "iri"           # an IRI's lexical form
_ENC = "enc"           # an ENCODED term
_BOOL = "bool"         # a boolean

class _Node:
    """Base of the expression nodes: a node's variable set is the union
    of its operands' (a leaf without operands has none)."""
    args: tuple = ()

    @property
    def vars(self) -> frozenset:
        return frozenset().union(*(a.vars for a in self.args))


@dataclass(frozen=True)
class Var(_Node):
    """``?name``."""
    name: str
    kind = _VAR

    @property
    def vars(self) -> frozenset:
        return frozenset((self.name,))


@dataclass(frozen=True)
class Const(_Node):
    """An encoded term (``kind=_TERM``) or a numeric token kept verbatim
    (``kind=_NUMERIC``)."""
    value: str
    kind: str = _TERM


@dataclass(frozen=True)
class AggRef(_Node):
    """A HAVING aggregate: the hidden column ``alias`` of the grouped
    frame (see ``ParsedQuery.having_aggs``)."""
    alias: str
    kind = _NUMERIC


# function → the kind of its result
_CALL_KINDS = {
    "STR": _LEX, "LANG": _LEX, "CONCAT": _LEX, "UCASE": _LEX,
    "LCASE": _LEX, "SUBSTR": _LEX, "STRBEFORE": _LEX, "STRAFTER": _LEX,
    "REPLACE": _LEX, "STRLEN": _NUMERIC, "IRI": _IRI, "DATATYPE": _IRI,
    "STRDT": _ENC, "STRLANG": _ENC, "COALESCE": _ENC, "IF": _ENC,
    "STRSTARTS": _BOOL, "STRENDS": _BOOL, "CONTAINS": _BOOL,
    "REGEX": _BOOL, "BOUND": _BOOL, "LANGMATCHES": _BOOL, "ISIRI": _BOOL,
    "ISLITERAL": _BOOL, "ISBLANK": _BOOL, "IN": _BOOL,
}


@dataclass(frozen=True)
class Call(_Node):
    """A function call. ``args`` are operand nodes; ``params`` are the
    constant arguments the parser validated (a regex with its inline
    flags, SUBSTR positions, a closing literal suffix, an IN list)."""
    fn: str
    args: tuple = ()
    params: tuple = ()

    @property
    def kind(self) -> str:
        return _CALL_KINDS[self.fn]


@dataclass(frozen=True)
class Compare(_Node):
    """``lhs op rhs`` with op one of ``= != < > <= >=``."""
    op: str
    lhs: Expr
    rhs: Expr
    kind = _BOOL

    @property
    def args(self) -> tuple:
        return (self.lhs, self.rhs)


@dataclass(frozen=True)
class Logic(_Node):
    """``&&`` / ``||`` over two or more operands, or ``!`` over one."""
    op: str
    args: tuple
    kind = _BOOL


Expr = _Node  # any of the expression nodes above


# --- WHERE-clause algebra (SPARQL 1.1 §18.2) -------------------------
#
# Each ``{ … }`` group parses into one tree of these nodes (see
# :func:`_assemble`); :func:`_evaluate` runs a tree.

@dataclass
class BGP:
    """Plain triple patterns plus the FILTER conjuncts over their own
    variables: one :func:`kg_query` call."""
    patterns: List[Tuple[str, ...]]
    filters: List[Expr] = field(default_factory=list)


@dataclass
class Path:
    """An alternation/closure path pattern (an edge-frame leaf)."""
    s: str
    path: PathNode
    o: str


@dataclass
class Table:
    """``VALUES`` rows of encoded terms (None is UNDEF); no names and
    one empty row is the empty solution µ0."""
    names: List[str]
    rows: List[tuple]


@dataclass
class SubSelect:
    query: "ParsedQuery"


@dataclass
class Join:
    """``kind``: ``inner``, ``left`` (OPTIONAL), ``semi`` / ``anti``
    (FILTER [NOT] EXISTS) or ``minus``."""
    kind: str
    left: "Node"
    right: "Node"


@dataclass
class Filter:
    expr: Expr
    inner: "Node"


@dataclass
class Extend:
    """``BIND(expr AS ?alias)``."""
    inner: "Node"
    alias: str
    expr: Expr


@dataclass
class Union:
    sides: List["Node"]


Node = object  # union of the eight dataclasses above


@dataclass
class ParsedQuery:
    """Inspectable parse result: the WHERE clause's algebra tree plus
    the solution modifiers and the CONSTRUCT/DESCRIBE parts."""
    form: str                        # SELECT | ASK | CONSTRUCT | DESCRIBE
    select_vars: Optional[List[str]]  # None == SELECT *
    distinct: bool
    where: Optional[Node] = None     # None: DESCRIBE without WHERE
    # fresh variables introduced by path desugaring — dropped from the
    # solutions before projection/aggregation
    hidden_vars: List[str] = field(default_factory=list)
    aggregates: List[Aggregate] = field(default_factory=list)
    group_by: List[str] = field(default_factory=list)
    template: List[Tuple[str, str, str]] = field(default_factory=list)
    # DESCRIBE resources: encoded IRIs and/or ?var names
    describe_terms: List[str] = field(default_factory=list)
    order_by: List[Tuple[str, bool]] = field(default_factory=list)  # (var, asc)
    limit: Optional[int] = None
    offset: Optional[int] = None
    # HAVING constraints: expressions over hidden aggregate columns
    # (``having_aggs``, aliased ``_h0, _h1, …`` — computed in the same
    # groupBy().agg() as the SELECT aggregates, filtered, then dropped)
    having: List[Expr] = field(default_factory=list)
    having_aggs: List[Aggregate] = field(default_factory=list)


class _Parser:
    def __init__(self, query: str):
        self.toks = _lex(query)
        self.i = 0
        self.prefixes: Dict[str, str] = {}
        self.base: Optional[str] = None
        self.vars_seen: set = set()   # variable names in scope
        self._fresh = 0
        # every fresh path variable of the parse (subqueries included);
        # none is a name the query text uses anywhere
        self._hidden: List[str] = []
        self._text_vars = {t.text[1:] for t in self.toks if t.kind == "VAR"}
        # HAVING's hidden aggregates while its constraints parse; None
        # elsewhere (aggregate operands are allowed only in HAVING)
        self._having_aggs: Optional[List[Aggregate]] = None

    # -- token helpers ----------------------------------------------
    def peek(self) -> _Tok:
        return self.toks[self.i]

    def next(self) -> _Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def at_kw(self, *words: str) -> bool:
        t = self.peek()
        return t.kind == "NAME" and t.text.lower() in words

    def expect_kw(self, word: str) -> None:
        t = self.next()
        if t.kind != "NAME" or t.text.lower() != word:
            raise SPARQLError(f"expected {word.upper()} at offset {t.pos}, "
                              f"got {t.text!r}")

    def expect_op(self, op: str) -> None:
        t = self.next()
        if t.kind != "OP" or t.text != op:
            raise SPARQLError(f"expected {op!r} at offset {t.pos}, "
                              f"got {t.text!r}")

    def _reject_unsupported(self, t: _Tok) -> None:
        if t.kind == "NAME" and t.text.lower() in _UNSUPPORTED_KEYWORDS:
            raise SPARQLUnsupportedError(
                f"{t.text.upper()} (offset {t.pos}) is outside the "
                "supported SPARQL subset (BGP + property paths + FILTER "
                "[NOT] EXISTS + OPTIONAL + MINUS + top-level UNION + "
                "GRAPH + BIND + VALUES + subqueries + aggregates + "
                "HAVING + ORDER/LIMIT/OFFSET)")

    # -- terms -------------------------------------------------------
    def _expand_pname(self, text: str, pos: int) -> str:
        pfx, _, local = text.partition(":")
        if pfx not in self.prefixes:
            raise SPARQLError(f"undeclared prefix {pfx!r}: at offset {pos}")
        return f"<{self.prefixes[pfx]}{local}>"

    def _resolve_iriref(self, text: str) -> str:
        iri = text[1:-1]
        if self.base is not None:
            iri = urljoin(self.base, iri)
        elif not re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", iri):
            raise SPARQLError(
                f"relative IRI <{iri}> without a BASE declaration")
        return f"<{iri}>"

    def _iri(self, t: _Tok) -> Optional[str]:
        """An IRIREF or prefixed-name token → its encoded IRI, else None."""
        if t.kind == "IRIREF":
            return self._resolve_iriref(t.text)
        if t.kind == "PNAME":
            return self._expand_pname(t.text, t.pos)
        return None

    def _string_term(self, text: str) -> str:
        """SPARQL string literal (+ optional @lang / ^^dt) → the engine's
        encoded term: the body unescaped, then re-encoded by the writer's
        codec (so ``\\'`` and ``\\u0041`` take their canonical form, and
        xsd:string collapses to the plain form, as the writer renders it)."""
        end = text.rindex('"')  # a suffix holds no quote
        suffix = text[end + 1:]
        lang = dt = None
        if suffix.startswith("@"):
            lang = suffix[1:]
        elif suffix:
            dt = suffix[2:]
            dt = (self._resolve_iriref(dt) if dt.startswith("<")
                  else self._expand_pname(dt, 0))[1:-1]
        return to_nt(literal(unescape_nt(text[1:end]), lang, dt))

    def _term(self, position: str) -> str:
        """One pattern term → a kg_query term string (?var or encoded
        constant)."""
        t = self.next()
        self._reject_unsupported(t)
        if t.kind == "VAR":
            self.vars_seen.add(t.text[1:])
            return t.text
        if iri := self._iri(t):
            return iri
        if t.kind == "NAME" and t.text == "a" and position == "predicate":
            return RDF_TYPE
        if position == "predicate" and t.kind == "OP" and t.text in "/|^*+?":
            raise SPARQLUnsupportedError(
                f"property path operator {t.text!r} at offset {t.pos} "
                "is outside the supported subset")
        if position != "predicate":
            if t.kind == "STRING":
                return self._string_term(t.text)
            if t.kind == "NUMBER":
                return _number_term(t.text)
            if t.kind == "OP" and t.text == "[":
                raise SPARQLUnsupportedError(
                    f"blank node syntax at offset {t.pos} is outside "
                    "the supported subset")
        raise SPARQLError(
            f"unexpected {t.text!r} in {position} position at offset "
            f"{t.pos}")

    # -- query -------------------------------------------------------
    def parse(self) -> ParsedQuery:
        self._prologue()
        self._reject_unsupported(self.peek())
        if self.at_kw("select"):
            pq = self._select_query()
        elif self.at_kw("ask"):
            pq = self._ask_query()
        elif self.at_kw("construct"):
            pq = self._construct_query()
        elif self.at_kw("describe"):
            pq = self._describe_query()
        else:
            t = self.peek()
            raise SPARQLError(
                f"expected SELECT, ASK, CONSTRUCT or DESCRIBE at offset "
                f"{t.pos}, got {t.text!r}")
        t = self.next()
        if t.kind != "EOF":
            self._reject_unsupported(t)
            raise SPARQLError(
                f"trailing content at offset {t.pos}: {t.text!r}")
        return pq

    def _prologue(self) -> None:
        while self.at_kw("prefix", "base"):
            kw = self.next().text.lower()
            if kw == "prefix":
                pn = self.next()
                if pn.kind != "PNAME" or not pn.text.endswith(":"):
                    raise SPARQLError(
                        f"expected 'pfx:' after PREFIX at offset {pn.pos}")
                iri = self.next()
                if iri.kind != "IRIREF":
                    raise SPARQLError(
                        f"expected <iri> after PREFIX at offset {iri.pos}")
                self.prefixes[pn.text[:-1]] = iri.text[1:-1]
            else:
                iri = self.next()
                if iri.kind != "IRIREF":
                    raise SPARQLError(
                        f"expected <iri> after BASE at offset {iri.pos}")
                self.base = iri.text[1:-1]

    def _select_query(self) -> ParsedQuery:
        self.expect_kw("select")
        distinct = False
        if self.at_kw("distinct"):
            self.next()
            distinct = True
        elif self.at_kw("reduced"):
            self.next()  # bag is a conformant REDUCED answer

        select_vars: Optional[List[str]] = None
        aggregates: List[Aggregate] = []
        if self.peek().kind == "OP" and self.peek().text == "*":
            self.next()
        else:
            select_vars = []
            while True:
                t = self.peek()
                if t.kind == "VAR":
                    select_vars.append(self.next().text[1:])
                    continue
                if t.kind == "OP" and t.text == "(":
                    aggregates.append(self._select_expression())
                    continue
                break
            if not select_vars and not aggregates:
                t = self.peek()
                self._reject_unsupported(t)
                raise SPARQLError(
                    f"expected ?var, (AGG(...) AS ?alias) or * after "
                    f"SELECT at offset {t.pos}")

        pq = self._where_clause()
        pq.form = "SELECT"
        pq.select_vars = select_vars
        pq.distinct = distinct
        pq.aggregates = aggregates
        pq.group_by = self._group_by()
        pq.having, pq.having_aggs = self._having(bool(aggregates))
        if aggregates:
            aliases = [a.alias for a in aggregates]
            dup = set(aliases) & self.vars_seen
            if dup:
                raise SPARQLError(
                    f"aggregate alias{'es' if len(dup) > 1 else ''} "
                    f"{sorted(dup)} collide with pattern variables")
            bad = [v for v in (select_vars or []) if v not in pq.group_by]
            if bad:
                raise SPARQLError(
                    f"non-aggregated SELECT variables {bad} must appear "
                    "in GROUP BY")
        elif pq.group_by:
            raise SPARQLError(
                "GROUP BY without an aggregate in SELECT")
        pq.order_by = self._order_by()
        self._limit_offset(pq)
        return pq

    def _select_expression(self) -> Aggregate:
        self.expect_op("(")
        t = self.next()
        if not (t.kind == "NAME" and t.text.upper() in _AGG_FNS):
            self._reject_unsupported(t)
            raise SPARQLUnsupportedError(
                f"SELECT expression {t.text!r} at offset {t.pos} is "
                "outside the supported subset (COUNT/SUM/AVG/MIN/MAX "
                "aggregates only)")
        agg = self._aggregate_call(t, having=False)
        self.expect_kw("as")
        al = self.next()
        if al.kind != "VAR":
            raise SPARQLError(
                f"expected ?alias after AS at offset {al.pos}")
        self.expect_op(")")
        agg.alias = al.text[1:]
        return agg

    def _aggregate_call(self, t: _Tok, having: bool) -> Aggregate:
        """``AGG([DISTINCT] ?v | * [; SEPARATOR="..."])`` after its name
        token ``t`` — shared by SELECT expressions and HAVING operands.
        The alias is left for the caller."""
        name = t.text.upper()
        ctx = "HAVING " if having else ""
        self.expect_op("(")
        agg_distinct = False
        if self.at_kw("distinct"):
            self.next()
            agg_distinct = True
        var: Optional[str] = None
        a = self.next()
        if a.kind == "VAR":
            var = a.text[1:]
            if having and var not in self.vars_seen:
                raise SPARQLError(
                    f"HAVING aggregates over ?{var} (offset {a.pos}), "
                    "not bound by any pattern")
        elif not (a.kind == "OP" and a.text == "*" and name == "COUNT"):
            raise SPARQLError(
                f"expected ?var{' or *' if name == 'COUNT' else ''} in "
                f"{ctx}{name}() at offset {a.pos}")
        if agg_distinct and (var is None
                             or name not in ("COUNT", "GROUP_CONCAT")):
            raise SPARQLUnsupportedError(
                f"{name}(DISTINCT {'*' if var is None else '?' + var}) "
                f"{'in HAVING ' if having else ''}is outside the "
                "supported subset")
        sep: Optional[str] = None
        if name == "GROUP_CONCAT" and (
                self.peek().kind == "OP" and self.peek().text == ";"):
            self.next()
            kw = self.next()
            if not (kw.kind == "NAME" and kw.text.lower() == "separator"):
                raise SPARQLError(
                    f"expected SEPARATOR after ';' in GROUP_CONCAT at "
                    f"offset {kw.pos}")
            self.expect_op("=")
            st = self.next()
            if st.kind != "STRING" or not st.text.endswith('"'):
                raise SPARQLError(
                    f"expected a plain string separator at offset "
                    f"{st.pos}")
            sep = unescape_nt(st.text[1:-1])
        self.expect_op(")")
        return Aggregate(fn=name, var=var, distinct=agg_distinct, alias="",
                         sep=sep)

    def _group_by(self) -> List[str]:
        if not self.at_kw("group"):
            return []
        self.next()
        self.expect_kw("by")
        out: List[str] = []
        while self.peek().kind == "VAR":
            v = self.next().text[1:]
            if v not in self.vars_seen:
                raise SPARQLError(
                    f"GROUP BY ?{v} is not bound by any pattern")
            out.append(v)
        if not out:
            t = self.peek()
            raise SPARQLUnsupportedError(
                f"GROUP BY expressions at offset {t.pos} are outside "
                "the supported subset (variables only)")
        return out

    def _having(self, has_aggregates: bool) -> Tuple[
            List[Expr], List[Aggregate]]:
        """``HAVING (constraint)+`` → (constraints, hidden aggregates).

        Constraints use the FILTER grammar, but their operands are
        aggregate expressions and numeric constants only — per SPARQL
        §11.4.8 HAVING sees the GROUPED solutions, so any per-solution
        constraint belongs in FILTER (and a constraint on a group key IS
        a per-solution constraint: filtering before or after grouping on
        a key is equivalent, and before is cheaper). Identical aggregate
        expressions share one hidden column; comparisons over them are
        plain numeric (COUNT → long, others → double), never
        encoded-term logic."""
        if not self.at_kw("having"):
            return [], []
        t = self.next()
        if not has_aggregates:
            raise SPARQLUnsupportedError(
                f"HAVING at offset {t.pos} without an aggregate in "
                "SELECT is outside the supported subset (an implicit "
                "single group projecting no aggregate; use FILTER)")
        self._having_aggs = []
        conds: List[Expr] = []
        while self.peek().kind == "OP" and self.peek().text == "(":
            self.next()
            conds.append(self._or_expr())
            self.expect_op(")")
        aggs, self._having_aggs = self._having_aggs, None
        if not conds:
            t = self.peek()
            raise SPARQLError(
                f"expected (constraint) after HAVING at offset {t.pos}")
        return conds, aggs

    def _aggregate_operand(self, t: _Tok) -> Expr:
        if t.kind == "NUMBER":
            return Const(t.text, _NUMERIC)
        if not (t.kind == "NAME" and t.text.upper() in _AGG_FNS):
            raise SPARQLUnsupportedError(
                f"HAVING operand {t.text!r} at offset {t.pos} is outside "
                "the supported subset (aggregate expressions and numeric "
                "constants only — per-solution or group-key constraints "
                "belong in FILTER)")
        if t.text.upper() not in _NUMERIC_AGG_FNS:
            raise SPARQLUnsupportedError(
                f"{t.text.upper()} in HAVING at offset {t.pos} is "
                "outside the supported subset (HAVING comparisons "
                "are numeric; SAMPLE/GROUP_CONCAT results are not)")
        agg = self._aggregate_call(t, having=True)
        for prior in self._having_aggs:
            if (prior.fn, prior.var, prior.distinct) == (
                    agg.fn, agg.var, agg.distinct):
                return AggRef(prior.alias)
        # `_h<n>` is a valid SPARQL variable name: skip over any the
        # query itself binds, or the aggregated frame would carry two
        # columns of that name (ambiguous-reference at execution —
        # ADVICE r8)
        taken = self.vars_seen | {a.alias for a in self._having_aggs}
        n = len(self._having_aggs)
        while f"_h{n}" in taken:
            n += 1
        agg.alias = f"_h{n}"
        self._having_aggs.append(agg)
        return AggRef(agg.alias)

    def _limit_offset(self, pq: ParsedQuery) -> None:
        while self.at_kw("limit", "offset"):
            kw = self.next().text.lower()
            t = self.next()
            if t.kind != "NUMBER" or not re.fullmatch(r"\d+", t.text):
                raise SPARQLError(
                    f"expected non-negative integer after {kw.upper()} "
                    f"at offset {t.pos}")
            if kw == "limit":
                pq.limit = int(t.text)
            else:
                pq.offset = int(t.text)

    def _ask_query(self) -> ParsedQuery:
        self.expect_kw("ask")
        pq = self._where_clause()
        pq.form = "ASK"
        return pq

    def _describe_query(self) -> ParsedQuery:
        self.expect_kw("describe")
        terms: List[str] = []
        while self.peek().kind in ("VAR", "IRIREF", "PNAME"):
            t = self.next()
            terms.append(t.text if t.kind == "VAR" else self._iri(t))
        if not terms:
            t = self.peek()
            raise SPARQLError(
                f"expected IRIs or ?vars after DESCRIBE at offset "
                f"{t.pos} (DESCRIBE * is outside the supported subset)")
        var_names = [t[1:] for t in terms if is_var(t)]
        if self.at_kw("where") or (
                self.peek().kind == "OP" and self.peek().text == "{"):
            pq = self._where_clause()
        else:
            if var_names:
                raise SPARQLError(
                    "DESCRIBE with variables needs a WHERE clause to "
                    "bind them")
            pq = ParsedQuery(form="", select_vars=None, distinct=False)
        unbound = sorted(
            set(var_names) - (_vars(pq.where)[0] if var_names else set()))
        if unbound:
            raise SPARQLError(
                f"DESCRIBE variables {unbound} are not bound in WHERE")
        pq.form = "DESCRIBE"
        pq.describe_terms = terms
        return pq

    def _construct_query(self) -> ParsedQuery:
        self.expect_kw("construct")
        self.expect_op("{")
        # template variables are NOT in-scope bindings — they must not
        # block a WHERE-side BIND alias of the same name (the template
        # consumes bindings, it doesn't create them)
        scope_before = set(self.vars_seen)
        template: List[Tuple[str, str, str]] = []
        while True:
            t = self.peek()
            if t.kind == "OP" and t.text == "}":
                self.next()
                break
            if t.kind == "OP" and t.text == ".":
                self.next()
                continue
            if t.kind == "EOF":
                raise SPARQLError(
                    "unterminated CONSTRUCT template (missing '}')")
            if self.at_kw("filter"):
                raise SPARQLError(
                    f"FILTER inside a CONSTRUCT template at offset "
                    f"{t.pos} (filters belong in WHERE)")
            items = self._triples_block()
            extra = [i for i in items if not isinstance(i, tuple)]
            if extra:
                what = ("an alternation/closure path"
                        if isinstance(extra[0], Path)
                        else "a negated property set")
                raise SPARQLUnsupportedError(
                    f"{what} inside a CONSTRUCT template makes no sense "
                    "(templates instantiate, they don't match)")
            template.extend(items)
        if not template:
            raise SPARQLError("empty CONSTRUCT template")
        self.vars_seen = scope_before
        pq = self._where_clause()
        pq.form = "CONSTRUCT"
        pq.template = template
        unbound = sorted(_pattern_vars(template) - _vars(pq.where)[0])
        if unbound:
            raise SPARQLError(
                f"CONSTRUCT template variables {unbound} are not bound "
                "in WHERE")
        pq.order_by = self._order_by()
        self._limit_offset(pq)
        return pq

    def _where_clause(self) -> ParsedQuery:
        """WHERE { group | {g} UNION {g} ... } → a ParsedQuery skeleton
        (form/select/modifiers filled by the caller)."""
        if self.at_kw("where"):
            self.next()
        self.expect_op("{")
        if (self.peek().kind == "OP" and self.peek().text == "{"
                and not self._at_subquery()):
            sides = []
            while True:
                self.expect_op("{")
                sides.append(self._group(compound=False))
                if not self.at_kw("union"):
                    break
                self.next()
            self.expect_op("}")
            # a single braced group is just a group
            where = (sides[0] if len(sides) == 1 else
                     Union([_flat(s, "UNION sides") for s in sides]))
        else:
            where = self._group(compound=True)
        return ParsedQuery(form="", select_vars=None, distinct=False,
                           where=where, hidden_vars=self._hidden)

    def _at_subquery(self) -> bool:
        nxt = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else None
        return (nxt is not None and nxt.kind == "NAME"
                and nxt.text.lower() == "select")

    def _compound_only(self, compound: bool, what: str, t: _Tok) -> None:
        if not compound:
            raise SPARQLUnsupportedError(
                f"{what} at offset {t.pos} inside OPTIONAL/UNION is outside "
                "the supported subset")

    def _group(self, compound: bool) -> Node:
        """One brace-delimited group body → its algebra node (see
        :func:`_assemble`). A non-compound group — a UNION side, or the
        body of OPTIONAL, FILTER [NOT] EXISTS, MINUS or GRAPH — holds
        only triple patterns and FILTERs: one level of compounding,
        loud otherwise. Consumes the closing '}'."""
        patterns: List[Tuple[str, ...]] = []
        filters: List[Expr] = []
        binds: List[Tuple[str, Expr]] = []
        parts: List[Tuple[str, Node]] = []   # (join kind, element)
        while True:
            t = self.peek()
            if t.kind == "OP" and t.text == "}":
                self.next()
                return _assemble(patterns, filters, binds, parts)
            if t.kind == "EOF":
                raise SPARQLError("unterminated group (missing '}')")
            if t.kind == "OP" and t.text == ".":
                self.next()
                continue
            if self.at_kw("filter"):
                self.next()
                if self.at_kw("exists", "not"):
                    positive = self.next().text.lower() == "exists"
                    if not positive:
                        self.expect_kw("exists")
                    self._compound_only(compound, "FILTER [NOT] EXISTS", t)
                    parts.append(("semi" if positive else "anti",
                                  self._nested_group("FILTER [NOT] EXISTS",
                                                     t)))
                    continue
                filters.extend(self._filter_exprs())
                continue
            if self.at_kw("values"):
                self._compound_only(compound, "VALUES", t)
                self.next()
                parts.append(("inner", self._values_clause()))
                continue
            if self.at_kw("bind"):
                self._compound_only(compound, "BIND", t)
                self.next()
                binds.append(self._bind())
                continue
            if self.at_kw("graph"):
                self._compound_only(compound, "GRAPH", t)
                self.next()
                g_term = self._graph_term()
                body = self._nested_group("GRAPH", t)
                # quad patterns: the graph term joins every pattern of
                # the group (kg_query scans then prune/bind on g too)
                patterns.extend(tuple(p) + (g_term,) for p in body.patterns)
                filters.extend(body.filters)
                continue
            if self.at_kw("minus"):
                self._compound_only(compound, "MINUS", t)
                self.next()
                parts.append(("minus", self._nested_group("MINUS", t)))
                continue
            if self.at_kw("optional"):
                if not compound:
                    raise SPARQLUnsupportedError(
                        f"OPTIONAL at offset {t.pos} inside another "
                        "OPTIONAL or UNION side is outside the "
                        "supported subset (one level of compounding)")
                self.next()
                parts.append(("left", self._nested_group("OPTIONAL", t)))
                continue
            if self.at_kw("union"):
                raise SPARQLUnsupportedError(
                    f"UNION at offset {t.pos} is only supported as the "
                    "top-level form {{ group }} UNION {{ group }}")
            self._reject_unsupported(t)
            if t.kind == "OP" and t.text == "{":
                if not self._at_subquery():
                    raise SPARQLUnsupportedError(
                        f"nested group at offset {t.pos} is outside the "
                        "supported subset (UNION is only supported as the "
                        "top-level {{ group }} UNION {{ group }} form)")
                self._compound_only(compound, "subquery", t)
                self.next()
                parts.append(("inner", SubSelect(self._subquery())))
                continue
            for item in self._triples_block():
                if isinstance(item, tuple):
                    patterns.append(item)
                elif isinstance(item, Path):
                    parts.append(("inner", item))
                else:
                    filters.append(item)

    def _nested_group(self, what: str, t: _Tok) -> BGP:
        """The ``{ … }`` body of OPTIONAL, FILTER [NOT] EXISTS, MINUS or
        GRAPH (keyword token ``t``): a non-compound group with at least
        one triple pattern and no alternation/closure path."""
        self.expect_op("{")
        body = _flat(self._group(compound=False), what)
        if not body.patterns:
            raise SPARQLError(
                f"{what} group at offset {t.pos} contains no triple "
                "patterns")
        return body

    def _bind(self) -> Tuple[str, Expr]:
        """``(expr AS ?alias)`` after BIND."""
        self.expect_op("(")
        e = self._operand()
        self.expect_kw("as")
        al = self.next()
        if al.kind != "VAR":
            raise SPARQLError(
                f"expected ?alias after AS at offset {al.pos}")
        name = al.text[1:]
        if name in self.vars_seen:
            raise SPARQLError(
                f"BIND rebinds ?{name}, already in scope "
                "(SPARQL forbids rebinding)")
        self.expect_op(")")
        if e.kind == _BOOL:
            raise SPARQLUnsupportedError(
                "BIND of a boolean expression is outside the "
                "supported subset")
        self.vars_seen.add(name)
        return name, e

    def _graph_term(self) -> str:
        gt = self.next()
        if gt.kind == "VAR":
            self.vars_seen.add(gt.text[1:])
            return gt.text
        if iri := self._iri(gt):
            return iri
        raise SPARQLError(
            f"expected ?var or IRI after GRAPH at offset {gt.pos}")

    def _subquery(self) -> ParsedQuery:
        """``{ SELECT ... }`` in a group, after its '{' — parsed in a
        FRESH variable scope (SPARQL evaluates subqueries bottom-up;
        nothing flows in, only the PROJECTED variables flow out,
        becoming in-scope join variables for the enclosing group)."""
        outer, self.vars_seen = self.vars_seen, set()
        sub = self._select_query()
        self.expect_op("}")
        self.vars_seen = outer
        if sub.select_vars is None and not sub.aggregates:
            raise SPARQLUnsupportedError(
                "SELECT * in a subquery is outside the supported subset "
                "(project the join variables explicitly — the outer "
                "join key set must be deterministic at parse time)")
        self.vars_seen.update(_subquery_proj(sub))
        return sub

    def _values_clause(self) -> Table:
        """``VALUES ?x { t ... }`` or ``VALUES (?x ?y) { (t t) ... }``;
        UNDEF cells become None."""
        t = self.peek()
        if t.kind == "VAR":
            names = [self.next().text[1:]]
            single = True
        elif t.kind == "OP" and t.text == "(":
            self.next()
            names = []
            while self.peek().kind == "VAR":
                names.append(self.next().text[1:])
            self.expect_op(")")
            if not names:
                raise SPARQLError(
                    f"VALUES with no variables at offset {t.pos}")
            single = False
        else:
            raise SPARQLError(
                f"expected ?var or (?var ...) after VALUES at offset "
                f"{t.pos}")
        self.vars_seen.update(names)
        self.expect_op("{")
        rows: List[tuple] = []
        while not (self.peek().kind == "OP" and self.peek().text == "}"):
            if self.peek().kind == "EOF":
                raise SPARQLError("unterminated VALUES block")
            if single:
                rows.append((self._data_term(),))
            else:
                self.expect_op("(")
                rows.append(tuple(self._data_term() for _ in names))
                self.expect_op(")")
        self.next()  # }
        if not rows:
            raise SPARQLError("empty VALUES block")
        return Table(names, rows)

    def _data_term(self) -> Optional[str]:
        """One VALUES data cell → encoded term, or None for UNDEF."""
        t = self.next()
        if t.kind == "NAME" and t.text.upper() == "UNDEF":
            return None
        if iri := self._iri(t):
            return iri
        if t.kind == "STRING":
            return self._string_term(t.text)
        if t.kind == "NUMBER":
            return _number_term(t.text)
        raise SPARQLError(
            f"unexpected {t.text!r} in VALUES data at offset {t.pos} "
            "(terms and UNDEF only — no variables)")

    def _triples_block(self) -> list:
        """subject predObjList — one triples block starting at the
        current token → its items: plain pattern tuples, :class:`Path`
        nodes and scan FILTER expressions. Property paths in verb
        position desugar here (see :meth:`_desugar_path`)."""
        out: list = []
        subj = self._term("subject")
        while True:  # verb objectList (';' verb objectList)*
            if self.peek().kind == "VAR":
                pred = self._term("predicate")
                nxt = self.peek()
                if nxt.kind == "OP" and nxt.text in "/|^*+?":
                    raise SPARQLError(
                        f"path operator {nxt.text!r} at offset {nxt.pos} "
                        "after a variable predicate (SPARQL paths are "
                        "built from IRIs only)")
            else:
                pred = self._path_alt()
            while True:  # object (',' object)*
                obj = self._term("object")
                if isinstance(pred, str):
                    out.append((subj, pred, obj))
                else:
                    out.extend(self._desugar_path(subj, pred, obj))
                if self.peek().kind == "OP" and self.peek().text == ",":
                    self.next()
                    continue
                break
            if self.peek().kind == "OP" and self.peek().text == ";":
                self.next()
                # "s p o ; ." — dangling ; before the block end is legal
                if self.peek().kind == "OP" and self.peek().text in ".}":
                    break
                continue
            break
        return out

    # -- property paths ----------------------------------------------

    def _path_alt(self):
        """Verb-position path grammar. Returns a plain verb string when
        the path is a single IRI (the fast BGP route), else a PathNode."""
        parts = [self._path_seq()]
        while self.peek().kind == "OP" and self.peek().text == "|":
            self.next()
            parts.append(self._path_seq())
        node = parts[0] if len(parts) == 1 else PathAlt(parts)
        if isinstance(node, PathIri):
            return node.iri
        return node

    def _path_seq(self):
        parts = [self._path_elt()]
        while self.peek().kind == "OP" and self.peek().text == "/":
            self.next()
            parts.append(self._path_elt())
        return parts[0] if len(parts) == 1 else PathSeq(parts)

    def _path_elt(self):
        inv = False
        if self.peek().kind == "OP" and self.peek().text == "^":
            self.next()
            inv = True
        node = self._path_primary()
        t = self.peek()
        if t.kind == "OP" and t.text in "+*?":
            self.next()
            node = PathMod(node, t.text)
        return _invert(node) if inv else node

    def _path_primary(self):
        t = self.peek()
        if t.kind == "OP" and t.text == "(":
            self.next()
            inner = self._path_alt()
            self.expect_op(")")
            if isinstance(inner, str):
                inner = PathIri(inner)
            return inner
        if t.kind == "OP" and t.text == "!":
            self.next()
            iris: List[str] = []
            if self.peek().kind == "OP" and self.peek().text == "(":
                self.next()
                while True:
                    if self.peek().kind == "OP" and self.peek().text == "^":
                        raise SPARQLUnsupportedError(
                            f"inverse member ^ inside a negated property "
                            f"set at offset {self.peek().pos} is outside "
                            "the supported subset (forward members only)")
                    iris.append(self._term("predicate"))
                    if self.peek().kind == "OP" and self.peek().text == "|":
                        self.next()
                        continue
                    break
                self.expect_op(")")
            else:
                if self.peek().kind == "OP" and self.peek().text == "^":
                    raise SPARQLUnsupportedError(
                        f"inverse member ^ in a negated property set at "
                        f"offset {self.peek().pos} is outside the "
                        "supported subset (forward members only)")
                iris.append(self._term("predicate"))
            return PathNeg(iris)
        # an IRI / pname / 'a' — reuse predicate-position term parsing
        verb = self._term("predicate")
        return PathIri(verb)

    def _fresh_var(self) -> str:
        while True:
            name = f"_path{self._fresh}"
            self._fresh += 1
            if name not in self._text_vars:
                self._hidden.append(name)
                return name

    def _desugar_path(self, subj: str, path, obj: str) -> list:
        """(subj, path, obj) → plain patterns where statically possible
        (PathIri, PathInv leaf, PathSeq chains, fresh hidden variables
        between the steps), a pattern plus its ``NOT IN`` scan filter
        for a negated property set, and a :class:`Path` node for each
        alternation/closure segment."""
        if isinstance(path, PathIri):
            return [(subj, path.iri, obj)]
        if isinstance(path, PathInv):
            assert isinstance(path.inner, PathIri)  # _invert() pushed down
            return [(obj, path.inner.iri, subj)]
        if isinstance(path, PathNeg):
            pv = self._fresh_var()
            return [(subj, "?" + pv, obj),
                    Logic("!", (Call("IN", (Var(pv),), tuple(path.iris)),))]
        if isinstance(path, PathSeq):
            out: list = []
            cur = subj
            for k, part in enumerate(path.parts):
                last = k == len(path.parts) - 1
                nxt = obj if last else "?" + self._fresh_var()
                out.extend(self._desugar_path(cur, part, nxt))
                cur = nxt
            return out
        # alternation / closure: an edge-frame pattern. A PathNeg nested
        # under a closure/alternation has no edge-frame evaluator — loud,
        # never approximated.
        if _contains_neg(path):
            raise SPARQLUnsupportedError(
                "a negated property set inside a closure/alternation "
                "path is outside the supported subset (use it as a "
                "plain path step)")
        self.vars_seen.update(t[1:] for t in (subj, obj) if is_var(t))
        return [Path(subj, path, obj)]

    def _order_by(self) -> List[Tuple[str, bool]]:
        if not self.at_kw("order"):
            return []
        self.next()
        self.expect_kw("by")
        conds: List[Tuple[str, bool]] = []
        while True:
            t = self.peek()
            asc = True
            if t.kind == "NAME" and t.text.lower() in ("asc", "desc"):
                asc = self.next().text.lower() == "asc"
                self.expect_op("(")
                v = self.next()
                if v.kind != "VAR":
                    raise SPARQLUnsupportedError(
                        f"ORDER BY expressions at offset {v.pos} are "
                        "outside the supported subset (variables only)")
                self.expect_op(")")
                conds.append((v.text[1:], asc))
            elif t.kind == "VAR":
                conds.append((self.next().text[1:], asc))
            else:
                break
        if not conds:
            raise SPARQLError("ORDER BY with no sort conditions")
        return conds

    # -- expressions -------------------------------------------------

    def _filter_exprs(self) -> List[Expr]:
        """One FILTER clause → one-or-more expressions: a top-level
        conjunction splits into independent filters (``FILTER(A && B)``
        ≡ ``FILTER(A) FILTER(B)`` in SPARQL), so each conjunct gets the
        BGP compiler's per-pattern scan pushdown on its own variable set
        instead of the whole clause waiting for the join that binds the
        union of them."""
        self.expect_op("(")
        e = self._or_expr()
        self.expect_op(")")
        if isinstance(e, Logic) and e.op == "&&":
            return list(e.args)
        return [e]

    def _chain(self, op: str, operand) -> Expr:
        parts = [operand()]
        while self.peek().kind == "OP" and self.peek().text == op:
            self.next()
            parts.append(operand())
        return parts[0] if len(parts) == 1 else Logic(op, tuple(parts))

    def _or_expr(self) -> Expr:
        return self._chain("||", self._and_expr)

    def _and_expr(self) -> Expr:
        return self._chain("&&", self._unary_expr)

    def _unary_expr(self) -> Expr:
        t = self.peek()
        if t.kind == "OP" and t.text == "!":
            self.next()
            return Logic("!", (self._unary_expr(),))
        if t.kind == "OP" and t.text == "(":
            self.next()
            inner = self._or_expr()
            self.expect_op(")")
            return inner
        return self._comparison()

    def _comparison(self) -> Expr:
        first = self.peek()
        lhs = self._operand()
        t = self.peek()
        if not (t.kind == "OP" and t.text in ("=", "!=", "<", ">", "<=",
                                              ">=")):
            if lhs.kind == _BOOL:
                return lhs
            raise SPARQLError(
                f"expected comparison operator at offset {t.pos} "
                f"(bare term {first.text!r} is not a boolean)")
        self.next()
        rhs = self._operand()
        if _BOOL in (lhs.kind, rhs.kind):
            raise SPARQLError(
                f"boolean expression used as comparison operand at "
                f"offset {t.pos}")
        return Compare(t.text, lhs, rhs)

    def _operand(self) -> Expr:
        t = self.next()
        self._reject_unsupported(t)
        if self._having_aggs is not None:
            return self._aggregate_operand(t)
        if t.kind == "VAR":
            v = t.text[1:]
            if v not in self.vars_seen:
                raise SPARQLError(
                    f"FILTER references ?{v} (offset {t.pos}) before any "
                    "pattern binds it")
            return Var(v)
        if t.kind == "NUMBER":
            return Const(t.text, _NUMERIC)
        if t.kind == "STRING":
            # string constants are RDF terms: "x" is a simple literal
            # (term-equal only to another plain "x"); comparison against
            # a lexical (STR()) compares lexical forms
            return Const(self._string_term(t.text))
        if iri := self._iri(t):
            return Const(iri)
        if t.kind == "NAME":
            return self._function(t)
        raise SPARQLError(
            f"unexpected {t.text!r} in FILTER at offset {t.pos}")

    def _fn_args(self, name: str, n_min: int, n_max: int) -> List[Expr]:
        self.expect_op("(")
        args = []
        while True:
            args.append(self._operand())
            if self.peek().kind == "OP" and self.peek().text == ",":
                self.next()
                continue
            break
        self.expect_op(")")
        if not (n_min <= len(args) <= n_max):
            raise SPARQLError(
                f"{name} takes {n_min}"
                + (f"-{n_max}" if n_max != n_min else "")
                + f" arguments, got {len(args)}")
        return args

    def _function(self, t: _Tok) -> Expr:
        name = t.text.upper()
        if name in ("STR", "STRLEN", "UCASE", "LCASE", "IRI", "URI"):
            return Call("IRI" if name == "URI" else name,
                        tuple(self._fn_args(name, 1, 1)))
        if name in ("LANG", "BOUND", "DATATYPE", "ISIRI", "ISURI",
                    "ISLITERAL", "ISBLANK"):
            (a,) = self._fn_args(name, 1, 1)
            if not isinstance(a, Var):
                raise SPARQLError(f"{name} takes a variable")
            return Call("ISIRI" if name == "ISURI" else name, (a,))
        if name in ("STRSTARTS", "STRENDS", "CONTAINS", "STRBEFORE",
                    "STRAFTER"):
            return Call(name, tuple(self._fn_args(name, 2, 2)))
        if name == "CONCAT":
            return Call(name, tuple(self._fn_args(name, 1, 64)))
        if name == "REGEX":
            args = self._fn_args(name, 2, 3)
            pat = _literal_arg(args[1])
            if pat is None:
                raise SPARQLError("REGEX pattern must be a string literal")
            return Call(name, (args[0],),
                        (_with_flags(name, pat, args[2:]),))
        if name == "REPLACE":
            args = self._fn_args(name, 3, 4)
            pat, rep = _literal_arg(args[1]), _literal_arg(args[2])
            if pat is None or rep is None:
                raise SPARQLError(
                    "REPLACE pattern/replacement must be string "
                    "literals")
            return Call(name, (args[0],),
                        (_with_flags(name, pat, args[3:]), rep))
        if name == "LANGMATCHES":
            a, b = self._fn_args(name, 2, 2)
            rng = _literal_arg(b)
            if rng is None:
                raise SPARQLError(
                    "LANGMATCHES range must be a string literal")
            return Call(name, (a,), (rng.lower(),))
        if name in ("STRDT", "STRLANG"):
            a, b = self._fn_args(name, 2, 2)
            if name == "STRDT":
                if not (isinstance(b, Const) and b.kind == _TERM
                        and b.value.startswith("<")):
                    raise SPARQLError(
                        "STRDT datatype must be a constant IRI")
                suffix = f'"^^{b.value}'
            else:
                tag = _literal_arg(b)
                if tag is None:
                    raise SPARQLError(
                        "STRLANG tag must be a string literal")
                if not re.fullmatch(r"[A-Za-z]+(?:-[A-Za-z0-9]+)*", tag):
                    raise SPARQLError(
                        f"STRLANG tag {tag!r} is not a valid "
                        "language tag")
                suffix = f'"@{tag}'
            return Call(name, (a,), (suffix,))
        if name == "COALESCE":
            args = self._fn_args(name, 1, 64)
            if any(a.kind == _BOOL for a in args):
                raise SPARQLError(
                    "COALESCE over boolean expressions is not supported"
                    " (coalesce terms, compare after)")
            return Call(name, tuple(args))
        if name == "IF":
            # the condition is a full boolean expression (comparisons,
            # && || !), not a bare operand — parse it with the filter
            # expression grammar
            self.expect_op("(")
            cond = self._or_expr()
            self.expect_op(",")
            a = self._operand()
            self.expect_op(",")
            b = self._operand()
            self.expect_op(")")
            if _BOOL in (a.kind, b.kind):
                raise SPARQLError(
                    "IF branches must be terms, not boolean expressions")
            return Call(name, (cond, a, b))
        if name == "SUBSTR":
            args = self._fn_args(name, 2, 3)
            for k in args[1:]:
                if not (isinstance(k, Const) and k.kind == _NUMERIC
                        and re.fullmatch(r"\d+", k.value)):
                    raise SPARQLError(
                        "SUBSTR position/length must be non-negative "
                        "integer constants")
            return Call(name, (args[0],), tuple(k.value for k in args[1:]))
        if name in ("EXISTS", "NOT"):
            raise SPARQLUnsupportedError(
                f"{name} at offset {t.pos} inside a parenthesized FILTER "
                "expression — write FILTER [NOT] EXISTS { ... } as the "
                "entire constraint (combining it with &&/|| is outside "
                "the supported subset)")
        raise SPARQLUnsupportedError(
            f"FILTER function {t.text}(...) at offset {t.pos} is outside "
            "the supported subset (STR LANG LANGMATCHES DATATYPE BOUND "
            "COALESCE IF REGEX REPLACE STRSTARTS STRENDS CONTAINS "
            "STRLEN SUBSTR UCASE LCASE STRBEFORE STRAFTER CONCAT IRI "
            "STRDT STRLANG isIRI isLiteral isBlank)")


# ------------------------------------------------ constant arguments


def _literal_arg(a: Expr) -> Optional[str]:
    """The lexical form of a string-literal argument, else None."""
    if isinstance(a, Const) and a.kind == _TERM and a.value.startswith('"'):
        return parse_nt(a.value)[1]
    return None


def _with_flags(name: str, pat: str, flag_args: List[Expr]) -> str:
    """A REGEX/REPLACE pattern with its optional flags argument inlined
    as ``(?flags)`` — Java regex, the closest engine to SPARQL's XPath
    dialect."""
    if not flag_args:
        return pat
    flags = _literal_arg(flag_args[0])
    if flags not in ("i", "s", "m", "is", "si", "im", "mi", "sm", "ms"):
        raise SPARQLUnsupportedError(
            f"{name} flags other than combinations of i/s/m are outside "
            "the supported subset")
    return f"(?{flags})" + pat


def _number_term(text: str) -> str:
    """A numeric token → its XSD-typed encoded literal, token text kept
    (SPARQL's integer / decimal / double shorthand)."""
    if re.fullmatch(r"[+-]?\d+", text):
        dt = "integer"
    elif "e" in text.lower():
        dt = "double"
    else:
        dt = "decimal"
    return f'"{text}"^^<{XSD}{dt}>'


# ------------------------------------------------------------- lowering


def _quoted(lex: Column, suffix: str) -> Column:
    """A lexical form as an encoded literal: the opening quote, the
    codec's escapes, then ``suffix`` (the closing quote plus any ``@tag``
    / ``^^<dt>``)."""
    return F.concat(F.lit('"'), nt_escape(lex), F.lit(suffix))


def _number_column(text: str) -> Column:
    """A numeric token as the literal Spark SQL reads it: integer,
    decimal (scale kept) or double."""
    if "e" in text.lower():
        return F.lit(float(text))
    return F.lit(Decimal(text) if "." in text else int(text))


_COMPARE = {"=": operator.eq, "!=": operator.ne, "<": operator.lt,
            ">": operator.gt, "<=": operator.le, ">=": operator.ge}
# kinds whose equality is RDF term equality on the encoded form
_ENCODABLE = {_VAR, _TERM, _IRI, _ENC}
_ISA_PREFIX = {"ISIRI": "<", "ISLITERAL": '"', "ISBLANK": "_"}


def _column(e: Expr, to: Optional[str] = None) -> Column:
    """Lower an expression node to a Spark Column: the node's own value,
    or, with ``to``, converted to the engine's term encoding (``"enc"``:
    a lexical becomes a plain literal with N-Triples escapes, an IRI gets
    its brackets, a number an XSD-typed literal — a constant keeps its
    token text), to the lexical form (``"lex"``), or to a double
    (``"num"``: ``try_cast`` of the lexical form, so a non-numeric term
    is NULL — SPARQL's type error drops the row — never an ANSI cast
    failure aborting the query)."""
    k = e.kind
    if to == "enc" and k not in (_VAR, _ENC):
        if isinstance(e, Const):
            return F.lit(e.value if k == _TERM else _number_term(e.value))
        if k == _IRI:
            return F.concat(F.lit("<"), _column(e), F.lit(">"))
        if k == _NUMERIC:  # STRLEN: integer-valued
            return F.concat(F.lit('"'), _column(e).cast("string"),
                            F.lit(f'"^^<{XSD}integer>'))
        return _quoted(_column(e), '"')
    if to == "lex" and k in (_VAR, _TERM, _ENC):
        if isinstance(e, Const):
            return F.lit(parse_nt(e.value)[1])
        return nt_lexical(_column(e))
    if to == "num" and k != _NUMERIC:
        return _column(e, "lex").try_cast("double")
    if isinstance(e, Var):
        return F.col(e.name)
    if isinstance(e, AggRef):
        return F.col(e.alias)
    if isinstance(e, Const):
        return F.lit(e.value) if k == _TERM else _number_column(e.value)
    if isinstance(e, Logic):
        cols = [_column(a) for a in e.args]
        if e.op == "!":
            return ~cols[0]
        return reduce(operator.and_ if e.op == "&&" else operator.or_, cols)
    if isinstance(e, Compare):
        # =/!= between terms is RDF term equality on the encoding ("x" ≠
        # "x"@en); otherwise a numeric side makes it a value comparison
        # (SPARQL operator dispatch: "05"^^xsd:integer = 5), and anything
        # else compares lexical forms by codepoint
        kinds = {e.lhs.kind, e.rhs.kind}
        if e.op in ("=", "!=") and kinds <= _ENCODABLE:
            rep = "enc"
        elif _NUMERIC in kinds:
            rep = "num"
        else:
            rep = "lex"
        return _COMPARE[e.op](_column(e.lhs, rep), _column(e.rhs, rep))
    return _call_column(e)


def _call_column(e: Call) -> Column:
    fn, args, params = e.fn, e.args, e.params
    if fn in _ISA_PREFIX:
        return _column(args[0]).substr(1, 1) == F.lit(_ISA_PREFIX[fn])
    if fn == "BOUND":
        return _column(args[0]).isNotNull()
    if fn == "IN":
        return _column(args[0]).isin(list(params))
    if fn == "COALESCE":
        return F.coalesce(*[_column(a, "enc") for a in args])
    if fn == "IF":
        # NULL condition (SPARQL error) → NULL result (unbound), not
        # the else branch — hence the explicit negated arm
        cond = _column(args[0])
        return (F.when(cond, _column(args[1], "enc"))
                .when(~cond, _column(args[2], "enc")))
    if fn == "LANG":
        return nt_lang(_column(args[0]))
    if fn == "DATATYPE":
        # literal → its datatype IRI (typed: the tag; lang-tagged:
        # rdf:langString; plain: xsd:string); non-literal → NULL (SPARQL
        # type error, the row drops out of comparisons)
        c = _column(args[0])
        dt = nt_datatype(c)
        return F.when(
            c.substr(1, 1) == '"',
            F.when(dt != "", dt)
            .when(nt_lang(c) != "", F.lit(f"{RDF}langString"))
            .otherwise(F.lit(f"{XSD}string")))
    lex = [_column(a, "lex") for a in args]
    if fn in ("STR", "IRI"):
        return lex[0]
    if fn == "STRLEN":
        return F.length(lex[0])
    if fn in ("UCASE", "LCASE"):
        return (F.upper if fn == "UCASE" else F.lower)(lex[0])
    if fn == "CONCAT":
        return F.concat(*lex)
    if fn == "STRSTARTS":
        return lex[0].startswith(lex[1])
    if fn == "STRENDS":
        return lex[0].endswith(lex[1])
    if fn == "CONTAINS":
        return lex[0].contains(lex[1])
    if fn == "REGEX":
        return lex[0].rlike(params[0])
    if fn == "REPLACE":
        return F.regexp_replace(lex[0], F.lit(params[0]), F.lit(params[1]))
    if fn == "LANGMATCHES":
        # RFC 4647 basic filtering: any tag, the exact tag or a subtag
        # prefix
        la, rng = F.lower(lex[0]), params[0]
        if rng == "*":
            return la != ""
        return (la == F.lit(rng)) | la.startswith(F.lit(rng + "-"))
    if fn in ("STRDT", "STRLANG"):
        return _quoted(lex[0], params[0])
    if fn == "SUBSTR":
        return F.substr(lex[0], *[F.lit(int(p)) for p in params])
    # STRBEFORE / STRAFTER — spec: "" when there is no occurrence; the
    # empty-needle cases fall out of instr()=1 (STRBEFORE → "",
    # STRAFTER → x)
    a, b = lex
    i = F.instr(a, b)
    part = (F.substr(a, F.lit(1), i - 1) if fn == "STRBEFORE"
            else F.substr(a, i + F.length(b)))
    return F.when(i > 0, part).otherwise(F.lit(""))


# ------------------------------------------------- WHERE-clause tree


def _subquery_proj(sub: ParsedQuery) -> List[str]:
    """A subquery's projected variable names (its visible scope)."""
    return (sub.select_vars or []) + [a.alias for a in sub.aggregates]


def _pattern_vars(patterns) -> set:
    return {t[1:] for pat in patterns for t in pat if is_var(t)}


def _vars(node: Node) -> Tuple[set, set]:
    """(possibly bound, certainly bound) variables of a node's solutions:
    certainly bound means bound in every solution — not only through an
    OPTIONAL, an UNDEF cell or a BIND over such a variable."""
    if isinstance(node, (BGP, Path)):
        v = _pattern_vars(node.patterns if isinstance(node, BGP)
                          else [(node.s, node.o)])
        return v, v
    if isinstance(node, Table):
        return set(node.names), {
            v for k, v in enumerate(node.names)
            if all(r[k] is not None for r in node.rows)}
    if isinstance(node, SubSelect):
        q = node.query
        proj = set(_subquery_proj(q))
        return proj, proj & (_vars(q.where)[1]
                             | {a.alias for a in q.aggregates})
    if isinstance(node, Filter):
        return _vars(node.inner)
    if isinstance(node, Extend):
        maybe, certain = _vars(node.inner)
        if node.expr.vars <= certain:
            certain = certain | {node.alias}
        return maybe | {node.alias}, certain
    if isinstance(node, Union):
        sides = [_vars(s) for s in node.sides]
        return (set().union(*(m for m, _ in sides)),
                set.intersection(*(c for _, c in sides)))
    maybe, certain = _vars(node.left)
    if node.kind == "inner":
        r_maybe, r_certain = _vars(node.right)
        return maybe | r_maybe, certain | r_certain
    if node.kind == "left":
        return maybe | _vars(node.right)[0], certain
    return maybe, certain  # semi / anti / minus bind nothing


def _flat(body: Node, what: str) -> BGP:
    """A non-compound group (patterns and FILTERs only) is one BGP
    unless it holds an alternation/closure path, which is loud there."""
    if not isinstance(body, BGP):
        hint = {"OPTIONAL": " (use them in the required group)",
                "UNION sides": " (use them in a non-union group)"}
        raise SPARQLUnsupportedError(
            f"alternation/closure property paths inside {what} are "
            f"outside the supported subset{hint.get(what, '')}")
    return body


# evaluation rank of a group's elements after its plain BGP (the BGP of
# patterns over BIND aliases goes between VALUES and EXISTS/MINUS)
_RANK = {Path: 0, SubSelect: 1, Table: 2, "semi": 3, "anti": 3,
         "minus": 4, "left": 5}
# what each outer join's group is called in a loud message
_GROUP_NAMES = {"inner": "a triple pattern", "left": "an OPTIONAL group",
                "semi": "a FILTER EXISTS group",
                "anti": "a FILTER EXISTS group", "minus": "a MINUS group"}


def _assemble(patterns, filters: List[Expr], binds: List[Tuple[str, Expr]],
              parts: List[Tuple[str, Node]]) -> Node:
    """One group's elements → its algebra node.

    Evaluation order: the one BGP of the plain patterns (those reading
    no BIND alias), paths, subqueries, VALUES, the BGP of the patterns
    that read a BIND alias, EXISTS, MINUS, then the OPTIONALs. A group
    with BINDs but neither plain patterns, paths, subqueries nor VALUES
    starts from the empty solution µ0.

    Placement: a FILTER conjunct over the plain BGP's own variables
    stays in that BGP (scan pushdown in :func:`kg_query`). Every other
    conjunct, and every BIND, goes right after the last element that
    binds one of its variables — for variables bound by an OPTIONAL,
    after the last OPTIONAL. One reading a variable no element of the
    group binds goes on top (Spark rejects the unknown column)."""
    aliases = {a for a, _ in binds}
    plain = [p for p in patterns if not _pattern_vars([p]) & aliases]
    moved = [p for p in patterns if _pattern_vars([p]) & aliases]
    for _, part in parts:
        if isinstance(part, Path):
            bad = [t for t in (part.s, part.o)
                   if is_var(t) and t[1:] in aliases]
            if bad:
                raise SPARQLUnsupportedError(
                    f"BIND alias {bad[0]} as a closure-path "
                    "endpoint is outside the supported subset")
        if isinstance(part, SubSelect):
            # a BIND before the subquery (one after it is "BIND rebinds")
            clash = sorted(set(_subquery_proj(part.query)) & aliases)
            if clash:
                raise SPARQLError(
                    f"subquery projects ?{clash[0]}, already bound by BIND "
                    "in the enclosing group (SPARQL forbids rebinding)")
            # an aggregate alias column is a raw numeric, not an encoded
            # term — as a triple-pattern key it would never equi-match
            # ("3" vs '"3"^^xsd:integer'): loud, not silently empty
            agg = {a.alias for a in part.query.aggregates}
            for pat in patterns:
                bad = [v for v in pat if is_var(v) and v[1:] in agg]
                if bad:
                    raise SPARQLUnsupportedError(
                        f"subquery aggregate alias {bad[0]} used in a "
                        "triple pattern is outside the supported subset "
                        "(aggregate results are plain values, not "
                        "terms; compare them in a FILTER)")
    order = sorted(parts, key=lambda p: _RANK[
        type(p[1]) if p[0] == "inner" else p[0]])
    n_inner = sum(kind == "inner" for kind, _ in parts)
    if moved:
        order.insert(n_inner, ("inner", BGP(moved)))
    if plain or not (n_inner or binds):
        # empty only in a group with nothing else that yields solutions:
        # evaluating it is the loud "empty WHERE group"
        bgp = BGP(plain)
        own = _pattern_vars(plain)
        elsewhere = set().union(aliases, *(
            _vars(n)[0] for k, n in order if k in ("inner", "left")))
        bgp.filters = [f for f in filters if not (f.vars - own) & elsewhere]
        filters = [f for f in filters if (f.vars - own) & elsewhere]
        order.insert(0, ("inner", bgp))
    elif not n_inner:
        order.insert(0, ("inner", Table([], [()])))
    todo = list(binds) + [(None, f) for f in filters]
    have: set = set()

    def place(node: Node, final: bool = False) -> Node:
        for alias, e in list(todo):
            if final or e.vars <= have:
                todo.remove((alias, e))
                if alias is None:
                    node = Filter(e, node)
                else:
                    node = Extend(node, alias, e)
                    have.add(alias)
        return node

    node = None
    for kind, right in order:
        late = (_pattern_vars(right.patterns) & aliases - have
                if isinstance(right, BGP) else None)
        if late:
            raise SPARQLUnsupportedError(
                f"BIND alias ?{min(late)} depends on OPTIONAL "
                f"variables and cannot join {_GROUP_NAMES[kind]} in "
                "this subset (bind it from required variables, or "
                "restructure the query)")
        node = right if node is None else Join(kind, node, right)
        if kind in ("inner", "left"):
            have |= _vars(right)[0]
        if kind != "left":
            node = place(node)
    return place(node, final=True)


# ------------------------------------------------- property-path eval


def _first_born(rows: DataFrame, keys, it: int) -> DataFrame:
    """One path round's dedup and convergence flag: every row keeps the
    round that first derived it (``_born``), and a row is new — changed —
    when round ``it`` derived it. One aggregate stands in for a
    ``distinct``, an anti-join against the known rows and a count."""
    return (rows.groupBy(*keys).agg(F.min("_born").alias("_born"))
            .withColumn("_changed", (F.col("_born") == it + 1).cast("int")))


def _closure(edges: DataFrame) -> DataFrame:
    """Transitive closure of an (_a, _b) edge frame by pointer doubling
    (R ← R ∪ R⋈R each round) — O(log diameter) rounds, the same
    convergence shape as the canonicalizer's connected components. Runs on
    :func:`.fixpoint.fixpoint`: each round is one equi-join plus the
    ``_first_born`` aggregate. No ``max_iter``: the set only grows and the
    edge set is finite, so the loop always stops."""
    def step(r: DataFrame, it: int) -> DataFrame:
        derived = (r.alias("l")
                   .join(r.alias("r2"), F.col("l._b") == F.col("r2._a"))
                   .select(F.col("l._a").alias("_a"),
                           F.col("r2._b").alias("_b"),
                           F.lit(it + 1).alias("_born")))
        return _first_born(r.unionByName(derived), ["_a", "_b"], it)

    start = edges.select("_a", "_b", F.lit(0).alias("_born"))
    return fixpoint(start, step)[0].drop("_born")


def _graph_nodes(triples: DataFrame) -> DataFrame:
    """Distinct terms occurring as subject or object — the domain of
    SPARQL's zero-length path. Documented deviation: a CONSTANT endpoint
    that appears nowhere in the graph does not yield its spec-mandated
    zero-length self-solution (the node table can't contain it)."""
    return (triples.select(F.col("s").alias("_n"))
            .unionByName(triples.select(F.col("o").alias("_n")))
            .distinct())


def _path_edges(triples: DataFrame, path) -> DataFrame:
    """A path expression → its (_a, _b) edge DataFrame.

    * ``PathIri`` — one predicate-pruned scan;
    * ``PathAlt`` of plain IRIs — a single ``p IN (...)`` scan (still
      one pushed filter, no union);
    * general ``PathAlt`` — unionByName of the sides;
    * ``PathInv`` / ``PathSeq`` — swap / equi-join (these only appear
      here nested under a closure; top-level ones desugared to BGP);
    * ``PathMod`` — + is the pointer-doubling closure, * adds the
      zero-length identity over the graph's node set, ? is edges ∪
      identity.

    A closure here runs over the FULL predicate-pruned edge set; a
    pattern with exactly one constant endpoint never gets here for its
    outer closure — :func:`_path_pattern_df` sends it to the seeded BFS
    (:func:`_seeded_reach`) instead."""
    if isinstance(path, PathIri):
        return (triples.filter(F.col("p") == F.lit(path.iri))
                .select(F.col("s").alias("_a"), F.col("o").alias("_b")))
    if isinstance(path, PathInv):
        e = _path_edges(triples, path.inner)
        return e.select(F.col("_b").alias("_a"), F.col("_a").alias("_b"))
    if isinstance(path, PathAlt):
        if all(isinstance(p, PathIri) for p in path.parts):
            iris = [p.iri for p in path.parts]
            return (triples.filter(F.col("p").isin(iris))
                    .select(F.col("s").alias("_a"),
                            F.col("o").alias("_b")))
        out = _path_edges(triples, path.parts[0])
        for p in path.parts[1:]:
            out = out.unionByName(_path_edges(triples, p))
        return out
    if isinstance(path, PathSeq):
        out = _path_edges(triples, path.parts[0])
        for p in path.parts[1:]:
            nxt = _path_edges(triples, p)
            out = (out.alias("l")
                   .join(nxt.alias("r2"),
                         F.col("l._b") == F.col("r2._a"))
                   .select(F.col("l._a").alias("_a"),
                           F.col("r2._b").alias("_b")))
        return out
    if isinstance(path, PathMod):
        e = _path_edges(triples, path.inner)
        if path.mod == "+":
            return _closure(e)
        ident = _graph_nodes(triples).select(
            F.col("_n").alias("_a"), F.col("_n").alias("_b"))
        base = _closure(e) if path.mod == "*" else e
        return base.unionByName(ident).distinct()
    raise AssertionError(path)


def _seeded_reach(edges: DataFrame, seed: str) -> DataFrame:
    """Nodes reachable from constant ``seed`` via 1+ edge hops —
    frontier BFS (the spec's ALP shape) on :func:`.fixpoint.fixpoint`:
    per round one equi-join of the frontier — the nodes born in the last
    round — against the edge frame, plus the ``_first_born`` aggregate,
    so total work is proportional to the REACHABLE subgraph, not the
    predicate's full transitive closure. O(diameter) rounds (vs pointer
    doubling's O(log d) over the whole graph) — the right trade when one
    endpoint is bound, which is exactly when the reachable set is small.
    Returns one column ``_n``."""
    hop = edges.select(F.col("_a").alias("_n"), "_b")

    def step(reached: DataFrame, it: int) -> DataFrame:
        derived = (reached.filter(F.col("_born") == it).join(hop, "_n")
                   .select(F.col("_b").alias("_n"),
                           F.lit(it + 1).alias("_born")))
        return _first_born(reached.unionByName(derived), ["_n"], it)

    start = (edges.filter(F.col("_a") == F.lit(seed))
             .select(F.col("_b").alias("_n"), F.lit(0).alias("_born")))
    return fixpoint(start, step)[0].drop("_born")


def _path_pattern_df(triples: DataFrame, s_term: str, path,
                     o_term: str) -> DataFrame:
    """One path pattern → a DataFrame over its variable endpoints.

    Closures with exactly one CONSTANT endpoint take the seeded-BFS
    route (``_seeded_reach``) instead of materializing the predicate's
    full closure; ``c p* ?x`` additionally includes the spec's
    zero-length self-solution for the constant itself (the seeded form
    recovers the exact spec semantics the node-table deviation loses)."""
    one_const = (isinstance(path, PathMod) and path.mod in "+*"
                 and is_var(s_term) != is_var(o_term))
    if one_const:
        inner = _path_edges(triples, path.inner)
        if is_var(s_term):          # ?x path+ c — walk inverted edges
            inner = inner.select(F.col("_b").alias("_a"),
                                 F.col("_a").alias("_b"))
            const, var = o_term, s_term
        else:
            const, var = s_term, o_term
        reach = _seeded_reach(inner, const)
        if path.mod == "*":
            zero = triples.sparkSession.createDataFrame(
                [(const,)], ["_n"])
            reach = reach.unionByName(zero).distinct()
        return reach.select(F.col("_n").alias(var[1:]))
    e = _path_edges(triples, path)
    cols = []
    for pos, t in (("_a", s_term), ("_b", o_term)):
        if is_var(t):
            cols.append((pos, t[1:]))
        else:
            e = e.filter(F.col(pos) == F.lit(t))
    if len(cols) == 2 and cols[0][1] == cols[1][1]:
        # ?x path ?x — intra-row equality
        e = e.filter(F.col("_a") == F.col("_b"))
        cols = cols[:1]
    if not cols:
        raise SPARQLError(
            f"path pattern ({s_term}, ..., {o_term}) binds no variable")
    return e.select(*[F.col(pos).alias(v) for pos, v in cols])


# ---------------------------------------------------------- public API


def parse_select(query: str) -> ParsedQuery:
    """Parse (no Spark needed) — exposed for tests and EXPLAIN tooling."""
    return _Parser(query).parse()


def _evaluate(triples: DataFrame, node: Node, stats) -> DataFrame:
    """A WHERE-clause tree → its solution bag, one column per bound
    variable (bag semantics; NULL is unbound)."""
    def ev(n: Node) -> DataFrame:
        return _evaluate(triples, n, stats)

    if isinstance(node, BGP):
        if not node.patterns:
            raise SPARQLError("empty WHERE group")
        try:
            return kg_query(
                triples, node.patterns,
                filters=[(_column(f), f.vars) for f in node.filters],
                select=None, distinct=False, stats=stats)
        except BGPError as e:
            raise SPARQLError(f"unexecutable SPARQL BGP: {e}") from e
    if isinstance(node, Path):
        return _path_pattern_df(triples, node.s, node.path, node.o)
    if isinstance(node, SubSelect):
        return _execute_select(triples, node.query, stats)
    if isinstance(node, Table):
        return triples.sparkSession.createDataFrame(node.rows, T.StructType(
            [T.StructField(v, T.StringType(), True) for v in node.names]))
    if isinstance(node, Filter):
        return ev(node.inner).filter(_column(node.expr))
    if isinstance(node, Extend):
        return ev(node.inner).withColumn(node.alias, _column(node.expr, "enc"))
    if isinstance(node, Union):
        # each side is its own pruned scan+join tree; the union is a
        # zero-shuffle concatenation
        return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True),
                      [ev(s) for s in node.sides])
    left, right = ev(node.left), node.right
    if (node.kind == "inner" and isinstance(right, Table)
            and len(right.names) == 1 and right.names[0] in left.columns
            and all(r[0] is not None for r in right.rows)):
        # VALUES over one bound variable without UNDEF: a plain IN
        # filter, which reaches the scans
        return left.filter(_column(Call(
            "IN", (Var(right.names[0]),), tuple(r[0] for r in right.rows))))
    return _join(left, ev(right), node)


def _join(left: DataFrame, right: DataFrame, node: Join) -> DataFrame:
    """The one shared-variable join (``node.kind``: inner, left, semi,
    anti or minus). With no shared variable a MINUS removes nothing
    (the spec's compatibility rule) and any other join, a cartesian
    product, is loud. Every shared variable must be certainly bound on
    both sides: an SQL join key never matches NULL, so SPARQL's
    unbound-is-compatible rule is outside the subset — loud, never
    silently lossy."""
    shared = [c for c in right.columns if c in left.columns]
    if not shared:
        if node.kind == "minus":
            return left
        raise SPARQLError(_no_shared(node, right.columns))
    loose = set(shared) - (_vars(node.left)[1] & _vars(node.right)[1])
    if loose:
        raise SPARQLUnsupportedError(
            f"join variables {sorted(loose)} may be unbound (introduced "
            "by a prior OPTIONAL, or UNDEF in a VALUES column): SPARQL's "
            "unbound-is-compatible join semantics for such keys is "
            "outside the supported subset (an SQL join key never matches "
            "NULL); bind the variable in the required group")
    if node.kind in ("inner", "left"):
        return left.join(right, on=shared, how=node.kind)
    return left.join(right.select(*shared).distinct(), on=shared,
                     how="left_semi" if node.kind == "semi" else "left_anti")


def _no_shared(node: Join, columns: List[str]) -> str:
    r = node.right
    if node.kind == "left":
        return (f"OPTIONAL group {r.patterns} shares no variable with the "
                "required group — a cartesian extension; add a joining "
                "variable")
    if node.kind != "inner":
        return (f"FILTER EXISTS group {r.patterns} shares no variable with "
                "the outer group (uncorrelated EXISTS is outside the "
                "supported subset)")
    if isinstance(r, SubSelect):
        return (f"subquery projecting {columns} shares no variable with the "
                "outer group — a cartesian product; project a joining "
                "variable")
    if isinstance(r, Path):
        return (f"path pattern ({r.s}, ..., {r.o}) shares no variable with "
                "the preceding patterns — a cartesian product; add a "
                "bridging pattern")
    return (f"VALUES {r.names} shares no variable with the preceding "
            "patterns — a cartesian product; bind a common variable")


def _leaves(node: Node) -> List[Node]:
    if isinstance(node, Join):
        return _leaves(node.left) + _leaves(node.right)
    if isinstance(node, (Filter, Extend)):
        return _leaves(node.inner)
    if isinstance(node, Union):
        return [leaf for side in node.sides for leaf in _leaves(side)]
    return [node]


def _solutions(triples: DataFrame, pq: ParsedQuery, stats) -> DataFrame:
    """The WHERE clause's solutions, hidden path variables dropped."""
    if stats == "auto" and sum(isinstance(leaf, (BGP, SubSelect))
                               for leaf in _leaves(pq.where)) > 1:
        # the BGPs and subqueries share one histogram
        from .query import predicate_stats
        stats = predicate_stats(triples)
    return _evaluate(triples, pq.where, stats).drop(*pq.hidden_vars)


# xsd numeric datatypes whose typed literals ORDER BY compares by VALUE
# (SPARQL operator mapping: "9"^^xsd:integer < "10"^^xsd:integer)
_XSD_NUMERIC_DTS = [XSD + t for t in (
    "integer", "decimal", "double", "float", "long", "int", "short", "byte",
    "nonNegativeInteger", "nonPositiveInteger", "negativeInteger",
    "positiveInteger", "unsignedLong", "unsignedInt", "unsignedShort",
    "unsignedByte")]


def _order_keys(v: str, asc: bool):
    """Sort keys for one ORDER BY variable — a documented TOTAL order
    (SPARQL's term ordering is partial; a deterministic engine needs a
    total one): numeric-typed literals compare by value and sort before
    every non-numeric term (ascending); ties and all other terms fall
    back to codepoint order on the encoded N-Triples form.  Simple
    literals like ``"9"`` are NOT numeric (spec: plain literals order
    by codepoint).  ``try_cast`` so a malformed numeric lexical degrades
    to the lexical fallback instead of an ANSI cast error."""
    enc = F.col(v)
    num = F.when(nt_datatype(enc).isin(_XSD_NUMERIC_DTS),
                 nt_lexical(enc).try_cast("double"))
    if asc:
        return [num.asc_nulls_last(), enc.asc()]
    return [num.desc_nulls_first(), enc.desc()]


def _apply_modifiers(out: DataFrame, pq: ParsedQuery) -> DataFrame:
    if pq.order_by:
        missing = [v for v, _ in pq.order_by if v not in out.columns]
        if missing:
            raise SPARQLError(
                f"ORDER BY references {missing}, not in the result "
                f"columns {out.columns}")
        out = out.orderBy(*[
            k for v, asc in pq.order_by for k in _order_keys(v, asc)])
    if pq.offset is not None:
        out = out.offset(pq.offset)
    if pq.limit is not None:
        out = out.limit(pq.limit)
    return out


def _agg_column(a: Aggregate):
    if a.var is None:  # COUNT(*)
        return F.count(F.lit(1)).alias(a.alias)
    if a.fn == "COUNT":
        col = F.col(a.var)
        return (F.countDistinct(col) if a.distinct
                else F.count(col)).alias(a.alias)
    if a.fn == "SAMPLE":
        # SAMPLE's choice is implementation-defined (SPARQL §18.5.1.12);
        # this engine picks the encoding-order minimum — deterministic,
        # so results are reproducible and oracle-comparable
        return F.min(F.col(a.var)).alias(a.alias)
    if a.fn == "GROUP_CONCAT":
        # DISTINCT applies to TERMS (spec: Distinct(ListEval(...)))
        # BEFORE the string conversion, so "x" and "x"@en both survive;
        # concatenation is then over the lexical forms in
        # codepoint-sorted order — the spec leaves order undefined, a
        # distributed engine must pick a deterministic one
        coll = F.collect_set if a.distinct else F.collect_list
        sep = a.sep if a.sep is not None else " "
        return F.array_join(
            F.sort_array(F.transform(coll(F.col(a.var)), nt_lexical)),
            sep).alias(a.alias)
    # numeric aggregates over the lexical form; try_cast skips
    # non-numeric terms (SPARQL's error-term elision in SUM/AVG/MIN/MAX)
    num = nt_lexical(F.col(a.var)).try_cast("double")
    fn = {"SUM": F.sum, "AVG": F.avg, "MIN": F.min, "MAX": F.max}[a.fn]
    return fn(num).alias(a.alias)


def sparql_select(
    triples: DataFrame,
    query: str,
    stats=None,
) -> DataFrame:
    """Run a SPARQL SELECT (the documented subset) over an (s, p, o[, g])
    triples DataFrame. Columns are named by the selected variables /
    aggregate aliases.

    ``stats`` is forwarded to :func:`kg_query` (``"auto"`` computes the
    predicate histogram for selectivity-ordered joins — cache it across
    queries in a query-many workload)."""
    pq = parse_select(query)
    if pq.form != "SELECT":
        raise SPARQLError(
            f"sparql_select got a {pq.form} query — use "
            f"sparql_{pq.form.lower()}")
    return _execute_select(triples, pq, stats)


def _execute_select(triples: DataFrame, pq: ParsedQuery, stats) -> DataFrame:
    """A parsed SELECT → result DataFrame (shared by :func:`sparql_select`
    and subquery evaluation — a subquery is a full SELECT, modifiers
    included, per SPARQL's bottom-up semantics)."""
    out = _solutions(triples, pq, stats)
    unknown = [v for v in (pq.select_vars or [])
               + [a.var for a in pq.aggregates if a.var]
               if v not in out.columns]
    if unknown:
        raise SPARQLError(
            f"SELECT references unbound variables {unknown} "
            f"(bound: {out.columns})")
    if pq.aggregates:
        # HAVING aggregates ride the same groupBy().agg() as hidden
        # columns — one aggregation pass (Catalyst dedups an expression
        # that also appears in SELECT), filter, then project them away
        aggs = [_agg_column(a) for a in pq.aggregates + pq.having_aggs]
        grouped = (out.groupBy(*pq.group_by) if pq.group_by
                   else out.groupBy())
        out = grouped.agg(*aggs)
        for cond in pq.having:
            out = out.filter(_column(cond))
        cols = ((pq.select_vars or []) +
                [a.alias for a in pq.aggregates])
        out = out.select(*cols)
    elif pq.select_vars is not None and not pq.distinct:
        # SPARQL orders BEFORE projection: ORDER BY may reference any
        # in-scope variable, projected or not.  Sort/slice the full
        # solution bag, then project (a narrow, order-preserving step).
        # With DISTINCT the order variables must survive the projection
        # (post-collapse row order over dropped columns is undefined),
        # so that path keeps the projected-columns requirement below.
        return _apply_modifiers(out, pq).select(*pq.select_vars)
    else:
        if pq.select_vars is not None:
            out = out.select(*pq.select_vars)
    if pq.distinct:
        out = out.distinct()
    return _apply_modifiers(out, pq)


def sparql_ask(triples: DataFrame, query: str, stats=None) -> bool:
    """SPARQL ASK: True iff the WHERE clause has at least one solution.
    Executes as ``take(1)`` on the solution bag — Spark stops the scan
    at the first produced row."""
    pq = parse_select(query)
    if pq.form != "ASK":
        raise SPARQLError(f"sparql_ask got a {pq.form} query")
    return len(_solutions(triples, pq, stats).take(1)) > 0


def sparql_describe(triples: DataFrame, query: str, stats=None) -> DataFrame:
    """SPARQL DESCRIBE (implementation-defined by spec; ours is the
    subject-centric description): every triple whose SUBJECT is one of
    the described resources — explicit IRIs, plus the distinct values
    each DESCRIBE variable takes over the WHERE solutions. One
    resource-set build + one ``left_semi`` join against the triples
    table; returns (s, p, o[, g]) in the engine encoding, writable by
    the sinks like a CONSTRUCT result."""
    pq = parse_select(query)
    if pq.form != "DESCRIBE":
        raise SPARQLError(f"sparql_describe got a {pq.form} query")
    frames = []
    consts = [t for t in pq.describe_terms if not is_var(t)]
    if consts:
        frames.append(triples.sparkSession.createDataFrame(
            [(c,) for c in consts], ["_r"]))
    var_names = [t[1:] for t in pq.describe_terms if is_var(t)]
    if var_names:
        sols = _solutions(triples, pq, stats)
        for v in var_names:
            frames.append(sols.select(F.col(v).alias("_r")))
    res = frames[0]
    for f in frames[1:]:
        res = res.unionByName(f)
    res = res.distinct()
    return triples.join(res, triples["s"] == res["_r"], "left_semi")


def sparql_construct(triples: DataFrame, query: str, stats=None) -> DataFrame:
    """SPARQL CONSTRUCT: instantiate the template per solution and
    return an (s, p, o) triples DataFrame in the engine's term encoding
    — the output is directly writable by the nt/parquet sinks
    (``rdfserialize`` / ``kg/table``), closing the query→construct→
    materialize loop.

    Per the spec, instantiations with an unbound (NULL) position, a
    literal subject, or a non-IRI predicate are dropped, and the result
    graph is a set (``distinct``). Each template triple is one narrow
    projection of the solution bag; the union is shuffle-free and the
    final distinct is the only exchange."""
    pq = parse_select(query)
    if pq.form != "CONSTRUCT":
        raise SPARQLError(f"sparql_construct got a {pq.form} query")
    sols = _apply_modifiers(_solutions(triples, pq, stats), pq)
    parts = []
    for s, p, o in pq.template:
        cols = [
            (F.col(t[1:]) if is_var(t) else F.lit(t)).alias(pos)
            for pos, t in zip(("s", "p", "o"), (s, p, o))]
        df = (sols.select(*cols)
              .filter(F.col("s").isNotNull() & F.col("p").isNotNull()
                      & F.col("o").isNotNull())
              # literal/blank subjects and non-IRI predicates are
              # invalid RDF — the spec says skip those instantiations
              .filter(F.col("s").startswith("<")
                      | F.col("s").startswith("_:"))
              .filter(F.col("p").startswith("<")))
        parts.append(df)
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out.distinct()
