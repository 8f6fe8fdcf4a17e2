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
  (numeric, over the lexical form via TRY_CAST — a non-numeric term
  contributes NULL, which SQL aggregates skip, matching SPARQL's
  error-term elision), ``SAMPLE(?v)`` (implementation-defined choice:
  deterministically the encoding-order minimum), and
  ``GROUP_CONCAT([DISTINCT] ?v [; SEPARATOR="..."])`` (over lexical
  forms, codepoint-sorted order — the spec leaves order undefined, a
  distributed engine must pick a deterministic one), with
  ``GROUP BY ?v ...``.
* ``WHERE { ... }`` with triple patterns, ``;`` predicate lists, ``,``
  object lists, ``a`` for rdf:type, ``FILTER(...)``, any number of
  flat ``OPTIONAL { patterns FILTER... }`` blocks (left joins on the
  shared variables — an OPTIONAL sharing no variable with the required
  group is rejected, and top-level FILTERs may only reference required
  variables), and the top-level union form
  ``{ group } UNION { group } ...`` (bag union, columns aligned by
  variable name, NULL where a side does not bind).
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
  Top-level filters over OPTIONAL-introduced variables evaluate after
  the left joins (group scope) — ``FILTER(!BOUND(?x))`` is the
  supported negation idiom.
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
  ORDER BY, a CONSTRUCT template, top-level FILTERs (deferred until
  the bind materializes — SPARQL's whole-group filter scope), and
  triple patterns: a required-group pattern referencing an alias
  compiles into its own BGP equi-joined on the computed value after
  the binds apply (a pattern connected to the required group only
  through such a pattern leaves the BGP disconnected — loud cartesian,
  reorder or add a bridging pattern). ``expr`` is any FILTER operand
  plus the constructors ``CONCAT(...)`` and ``IRI(...)``; results
  re-enter the term encoding (lexical → plain literal with N-Triples
  escapes, ``IRI()`` → ``<...>``, ``STRLEN`` → ``xsd:integer``,
  numeric constants keep their XSD type). BIND inside OPTIONAL/UNION
  sides and aliases as closure-path endpoints stay loud.
* ``{ SELECT ... }`` subqueries in the required group: each runs as a
  complete SELECT in a FRESH scope (SPARQL bottom-up evaluation — no
  outer bindings flow in) with its own modifiers (a ``LIMIT``/``ORDER``
  inside the subquery is the top-k-then-join idiom), then inner-joins
  the outer solutions on the shared PROJECTED variables. Aggregate
  aliases flow out as plain values: usable in FILTERs (deferred past
  the join) and projection, loud in triple patterns (a raw value never
  equi-matches an encoded term). ``SELECT *`` subqueries and subqueries
  inside OPTIONAL/UNION stay loud.
* ``VALUES ?x { t ... }`` / ``VALUES (?x ?y) { (t t) (t UNDEF) ... }``
  — a single bound variable without UNDEF becomes a plain ``IN``
  filter; otherwise an inline table joined on the shared variables
  (UNDEF allowed in extension columns, loud in join columns).
* ``FILTER [NOT] EXISTS { patterns FILTER... }`` as a whole constraint
  (semi/anti join on the shared variables — uncorrelated EXISTS is
  loud) and ``MINUS { ... }`` (anti join; a MINUS side sharing no
  variable removes nothing, per the spec's compatibility rule). Both
  evaluate against the required-group bag — their shared variables
  must be bound there, not introduced by an OPTIONAL (an SQL join key
  cannot express SPARQL's unbound-is-compatible rule; loud subset
  boundary, not an approximation).
* ``HAVING (constraint) ...`` after GROUP BY (or over the implicit
  group when SELECT has aggregates): constraints are comparisons over
  **aggregate expressions and numeric constants** combined with
  ``&& ||`` — per-solution or group-key constraints belong in FILTER
  (loud; equivalent and cheaper before grouping). HAVING aggregates
  ride the same single aggregation pass as hidden columns.
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
  values (``"05"^^xsd:integer = 5``) via TRY_CAST of the lexical form
  — a non-numeric term is a SPARQL type error and the row drops (for
  ``!=`` too), never an ANSI cast failure aborting the query.
* ``< > <= >=`` with a numeric operand compare **values**: the
  variable's lexical form is cast to DOUBLE; a non-numeric term casts
  to NULL, the comparison is not true, and the row drops — which is
  precisely SPARQL's type-error-eliminates-the-row rule. With a string
  operand the comparison is codepoint order on the lexical form (the
  simple-literal case of SPARQL's operator table).
* String functions operate on the **lexical form** (``STR`` semantics:
  IRIs lose their brackets, literals lose quotes/lang/datatype and
  their ``\\``-escapes are undone). A bare variable where SPARQL wants
  a string is auto-coerced through ``STR`` — a documented convenience
  superset, never a different answer for a query SPARQL accepts.
* ``REGEX`` runs as Spark ``rlike`` (Java regex — the closest engine to
  the XPath dialect SPARQL specifies); the optional ``"i"`` flag maps
  to an inline ``(?i)``. Other flags are rejected.

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

import re
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple
from urllib.parse import urljoin

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fixpoint import fixpoint
from .query import BGPError, is_var, kg_query

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"


class SPARQLError(ValueError):
    """Malformed query text (lex/parse failure)."""


class SPARQLUnsupportedError(SPARQLError):
    """Syntactically-recognized construct outside the documented subset."""


# ---------------------------------------------------------------- lexer

_KEYWORDS = {
    "select", "distinct", "reduced", "where", "filter", "prefix", "base",
    "order", "by", "limit", "offset", "asc", "desc", "a", "optional",
    "union", "ask", "construct", "group", "as",
}
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
    | (?P<STRING>"(?:[^"\\\n]|\\.)*"
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


@dataclass
class ParsedQuery:
    """Inspectable parse result — everything the executors hand to the
    BGP compiler, plus the solution modifiers they apply themselves."""
    form: str                               # SELECT | ASK | CONSTRUCT
    select_vars: Optional[List[str]]        # None == SELECT *
    distinct: bool
    patterns: List[Tuple[str, str, str]]    # required-group patterns
    filters: List[str]                      # translated SQL expressions
    # each OPTIONAL block: (patterns, filters) — left-joined in order
    optionals: List[Tuple[List[Tuple[str, str, str]], List[str]]] = field(
        default_factory=list)
    # top-level { g } UNION { g }: list of (patterns, filters) sides;
    # when set, patterns/filters/optionals above are empty
    union_groups: Optional[
        List[Tuple[List[Tuple[str, str, str]], List[str]]]] = None
    aggregates: List[Aggregate] = field(default_factory=list)
    group_by: List[str] = field(default_factory=list)
    template: List[Tuple[str, str, str]] = field(default_factory=list)
    # non-BGP-expressible property paths (alternation / closures) in the
    # required group: (s_term, PathNode, o_term)
    path_patterns: List[Tuple[str, object, str]] = field(
        default_factory=list)
    # MINUS { … } groups: anti-joined on shared vars (spec: a MINUS
    # side sharing no variable removes nothing)
    minus_groups: List[Tuple[List[Tuple[str, str, str]], List[str]]] = \
        field(default_factory=list)
    # FILTER [NOT] EXISTS { … }: (positive?, patterns, filters) —
    # semi/anti join on the shared variables
    exists_filters: List[
        Tuple[bool, List[Tuple[str, str, str]], List[str]]] = field(
        default_factory=list)
    # VALUES clauses: (var names, rows of encoded terms / None=UNDEF)
    values_clauses: List[
        Tuple[List[str], List[Tuple[Optional[str], ...]]]] = field(
        default_factory=list)
    # BIND(expr AS ?alias): (alias, operand kind, SQL fragment)
    binds: List[Tuple[str, str, str]] = field(default_factory=list)
    # required-group patterns that reference a BIND alias: executed as
    # an equi-join on the computed alias column after binds materialize
    bind_patterns: List[Tuple[str, ...]] = field(default_factory=list)
    # top-level FILTERs referencing a BIND alias: applied after the
    # binds (and bind_patterns) instead of inside the BGP
    post_filters: List[str] = field(default_factory=list)
    # top-level FILTERs referencing OPTIONAL-introduced variables:
    # applied after every OPTIONAL left-joins (SPARQL group scope — the
    # filter sees the extended solutions; enables FILTER(!BOUND(?x)))
    optional_filters: List[str] = field(default_factory=list)
    # BINDs whose expression references OPTIONAL-introduced variables
    # (directly or via an earlier deferred alias): applied after the
    # left joins, before optional_filters — COALESCE-over-OPTIONAL
    optional_binds: List[Tuple[str, str, str]] = field(
        default_factory=list)
    # { SELECT ... } subqueries in the required group: each runs as its
    # own full SELECT (fresh scope — SPARQL bottom-up evaluation) and
    # inner-joins the outer bag on the shared PROJECTED variables
    subqueries: List["ParsedQuery"] = field(default_factory=list)
    # DESCRIBE resources: encoded IRIs and/or ?var names
    describe_terms: List[str] = field(default_factory=list)
    # fresh variables introduced by path desugaring — dropped from the
    # solution bag before projection/aggregation
    hidden_vars: List[str] = field(default_factory=list)
    order_by: List[Tuple[str, bool]] = field(default_factory=list)  # (var, asc)
    limit: Optional[int] = None
    offset: Optional[int] = None
    # HAVING constraints: SQL fragments over hidden aggregate columns
    # (``having_aggs``, aliased ``_h0, _h1, …`` — computed in the same
    # groupBy().agg() as the SELECT aggregates, filtered, then dropped)
    having: List[str] = field(default_factory=list)
    having_aggs: List[Aggregate] = field(default_factory=list)


class _Parser:
    def __init__(self, query: str):
        self.toks = _lex(query)
        self.i = 0
        self.prefixes: Dict[str, str] = {}
        self.base: Optional[str] = None
        self.vars_seen: List[str] = []
        self._fresh = 0
        self._pending_paths: List[Tuple[str, object, str]] = []
        self._hidden: List[str] = []
        self._pending_minus: List[tuple] = []
        self._pending_exists: List[tuple] = []
        self._pending_values: List[tuple] = []
        self._pending_binds: List[Tuple[str, str, str]] = []
        # scan filters emitted by path desugaring (negated property
        # sets) — drained into the enclosing group's FILTER list
        self._pending_scan_filters: List[str] = []
        self._pending_subqueries: List[ParsedQuery] = []

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

    def _string_term(self, text: str) -> str:
        """SPARQL string literal (+ optional @lang / ^^dt) → the engine's
        encoded term. xsd:string collapses to the plain form, matching
        the writer (terms.py: plain and xsd:string render identically)."""
        m = re.match(r'^("(?:[^"\\\n]|\\.)*")(@[A-Za-z0-9-]+|\^\^.+)?$',
                     text)
        assert m, text  # the lexer only emits this shape
        quoted, suffix = m.group(1), m.group(2)
        if not suffix:
            return quoted
        if suffix.startswith("@"):
            return quoted + suffix
        dt = suffix[2:]
        dt_iri = (self._resolve_iriref(dt) if dt.startswith("<")
                  else self._expand_pname(dt, 0))
        if dt_iri == f"<{XSD}string>":
            return quoted
        return f"{quoted}^^{dt_iri}"

    @staticmethod
    def _number_term(text: str) -> str:
        if re.fullmatch(r"[+-]?\d+", text):
            dt = "integer"
        elif "e" in text.lower():
            dt = "double"
        else:
            dt = "decimal"
        return f'"{text}"^^<{XSD}{dt}>'

    def _term(self, position: str) -> str:
        """One pattern term → a kg_query term string (?var or encoded
        constant)."""
        t = self.next()
        self._reject_unsupported(t)
        if t.kind == "VAR":
            v = t.text[1:]
            if v not in self.vars_seen:
                self.vars_seen.append(v)
            return t.text
        if t.kind == "IRIREF":
            return self._resolve_iriref(t.text)
        if t.kind == "PNAME":
            return self._expand_pname(t.text, t.pos)
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
                return self._number_term(t.text)
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
            dup = set(aliases) & set(self.vars_seen)
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
        name = t.text.upper() if t.kind == "NAME" else ""
        if name not in _AGG_FNS:
            self._reject_unsupported(t)
            raise SPARQLUnsupportedError(
                f"SELECT expression {t.text!r} at offset {t.pos} is "
                "outside the supported subset (COUNT/SUM/AVG/MIN/MAX "
                "aggregates only)")
        self.expect_op("(")
        agg_distinct = False
        if self.at_kw("distinct"):
            self.next()
            agg_distinct = True
        var: Optional[str] = None
        a = self.next()
        if a.kind == "VAR":
            var = a.text[1:]
        elif a.kind == "OP" and a.text == "*" and name == "COUNT":
            var = None
        else:
            raise SPARQLError(
                f"expected ?var{' or *' if name == 'COUNT' else ''} in "
                f"{name}() at offset {a.pos}")
        if var is None and agg_distinct:
            raise SPARQLUnsupportedError(
                "COUNT(DISTINCT *) is outside the supported subset")
        if agg_distinct and name not in ("COUNT", "GROUP_CONCAT"):
            raise SPARQLUnsupportedError(
                f"{name}(DISTINCT ...) is outside the supported subset")
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
            sep = _unescape(st.text[1:-1])
        self.expect_op(")")
        self.expect_kw("as")
        al = self.next()
        if al.kind != "VAR":
            raise SPARQLError(
                f"expected ?alias after AS at offset {al.pos}")
        self.expect_op(")")
        return Aggregate(fn=name, var=var, distinct=agg_distinct,
                         alias=al.text[1:], sep=sep)

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
            List[str], List[Aggregate]]:
        """``HAVING (constraint)+`` → (SQL fragments, hidden aggregates).

        Operands are aggregate expressions and numeric constants only —
        per SPARQL §11.4.8 HAVING sees the GROUPED solutions, so any
        per-solution constraint belongs in FILTER (and a constraint on
        a group key IS a per-solution constraint: filtering before or
        after grouping on a key is equivalent, and before is cheaper).
        Identical aggregate expressions share one hidden column; SQL
        comparisons over them are plain numeric (COUNT → long, others →
        TRY_CAST double), never encoded-term logic."""
        if not self.at_kw("having"):
            return [], []
        t = self.next()
        if not has_aggregates:
            raise SPARQLUnsupportedError(
                f"HAVING at offset {t.pos} without an aggregate in "
                "SELECT is outside the supported subset (an implicit "
                "single group projecting no aggregate; use FILTER)")
        self._having_aggs: List[Aggregate] = []
        conds: List[str] = []
        while self.peek().kind == "OP" and self.peek().text == "(":
            self.next()
            conds.append(self._having_or())
            self.expect_op(")")
        if not conds:
            t = self.peek()
            raise SPARQLError(
                f"expected (constraint) after HAVING at offset {t.pos}")
        return conds, self._having_aggs

    def _having_or(self) -> str:
        parts = [self._having_and()]
        while self.peek().kind == "OP" and self.peek().text == "||":
            self.next()
            parts.append(self._having_and())
        return (parts[0] if len(parts) == 1
                else "(" + " OR ".join(parts) + ")")

    def _having_and(self) -> str:
        parts = [self._having_cmp()]
        while self.peek().kind == "OP" and self.peek().text == "&&":
            self.next()
            parts.append(self._having_cmp())
        return (parts[0] if len(parts) == 1
                else "(" + " AND ".join(parts) + ")")

    def _having_cmp(self) -> str:
        lhs = self._having_operand()
        t = self.next()
        ops = {"=": "=", "!=": "<>", "<": "<", ">": ">",
               "<=": "<=", ">=": ">="}
        if not (t.kind == "OP" and t.text in ops):
            raise SPARQLError(
                f"expected comparison operator in HAVING at offset "
                f"{t.pos}, got {t.text!r}")
        rhs = self._having_operand()
        return f"({lhs} {ops[t.text]} {rhs})"

    def _having_operand(self) -> str:
        t = self.peek()
        if t.kind == "NUMBER":
            self.next()
            return t.text
        if t.kind == "NAME" and t.text.upper() in _AGG_FNS:
            if t.text.upper() not in _NUMERIC_AGG_FNS:
                raise SPARQLUnsupportedError(
                    f"{t.text.upper()} in HAVING at offset {t.pos} is "
                    "outside the supported subset (HAVING comparisons "
                    "are numeric; SAMPLE/GROUP_CONCAT results are not)")
            name = self.next().text.upper()
            self.expect_op("(")
            agg_distinct = False
            if self.at_kw("distinct"):
                self.next()
                agg_distinct = True
            a = self.next()
            if a.kind == "VAR":
                var: Optional[str] = a.text[1:]
                if var not in self.vars_seen:
                    raise SPARQLError(
                        f"HAVING aggregates over ?{var} (offset "
                        f"{a.pos}), not bound by any pattern")
            elif a.kind == "OP" and a.text == "*" and name == "COUNT":
                var = None
            else:
                raise SPARQLError(
                    f"expected ?var{' or *' if name == 'COUNT' else ''}"
                    f" in HAVING {name}() at offset {a.pos}")
            if agg_distinct and (name != "COUNT" or var is None):
                raise SPARQLUnsupportedError(
                    f"{name}(DISTINCT {'*' if var is None else '?' + var}"
                    ") in HAVING is outside the supported subset")
            self.expect_op(")")
            key = (name, var, agg_distinct)
            for agg in self._having_aggs:
                if (agg.fn, agg.var, agg.distinct) == key:
                    return _col(agg.alias)
            # `_h<n>` is a valid SPARQL variable name: skip over any the
            # query itself binds, or the aggregated frame would carry two
            # columns of that name (ambiguous-reference at execution —
            # ADVICE r8)
            taken = set(self.vars_seen) | {a.alias
                                           for a in self._having_aggs}
            n = len(self._having_aggs)
            while f"_h{n}" in taken:
                n += 1
            agg = Aggregate(fn=name, var=var, distinct=agg_distinct,
                            alias=f"_h{n}")
            self._having_aggs.append(agg)
            return _col(agg.alias)
        self._reject_unsupported(t)
        raise SPARQLUnsupportedError(
            f"HAVING operand {t.text!r} at offset {t.pos} is outside "
            "the supported subset (aggregate expressions and numeric "
            "constants only — per-solution or group-key constraints "
            "belong in FILTER)")

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
        while True:
            t = self.peek()
            if t.kind == "VAR":
                terms.append(self.next().text)
            elif t.kind == "IRIREF":
                terms.append(self._resolve_iriref(self.next().text))
            elif t.kind == "PNAME":
                terms.append(self._expand_pname(self.next().text, t.pos))
            else:
                break
        if not terms:
            t = self.peek()
            raise SPARQLError(
                f"expected IRIs or ?vars after DESCRIBE at offset "
                f"{t.pos} (DESCRIBE * is outside the supported subset)")
        has_vars = any(is_var(t) for t in terms)
        if self.at_kw("where") or (
                self.peek().kind == "OP" and self.peek().text == "{"):
            pq = self._where_clause()
        else:
            if has_vars:
                raise SPARQLError(
                    "DESCRIBE with variables needs a WHERE clause to "
                    "bind them")
            pq = ParsedQuery(form="", select_vars=None, distinct=False,
                             patterns=[], filters=[])
        bound = _bound_vars(pq) | {a for a, _, _ in
                                   pq.binds + pq.optional_binds}
        unbound = sorted(t[1:] for t in terms
                         if is_var(t) and t[1:] not in bound)
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
        scope_before = list(self.vars_seen)
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
            template.extend(self._triples_block())
            if self._pending_scan_filters:
                raise SPARQLUnsupportedError(
                    "a negated property set inside a CONSTRUCT template "
                    "makes no sense (templates instantiate, they don't "
                    "match)")
        if not template:
            raise SPARQLError("empty CONSTRUCT template")
        template_vars = {v for pat in template for v in pat
                         if is_var(v)}
        self.vars_seen = scope_before
        pq = self._where_clause()
        pq.form = "CONSTRUCT"
        pq.template = template
        bound = _bound_vars(pq) | {a for a, _, _ in
                                   pq.binds + pq.optional_binds}
        unbound = sorted(
            v[1:] for v in template_vars if v[1:] not in bound)
        if unbound:
            raise SPARQLError(
                f"CONSTRUCT template variables {unbound} are not bound "
                "in WHERE")
        self._limit_offset(pq)
        return pq

    def _where_clause(self) -> ParsedQuery:
        """WHERE { group | {g} UNION {g} ... } → a ParsedQuery skeleton
        (form/select/modifiers filled by the caller)."""
        if self.at_kw("where"):
            self.next()
        self.expect_op("{")
        pq = ParsedQuery(form="", select_vars=None, distinct=False,
                         patterns=[], filters=[])
        nxt = (self.toks[self.i + 1]
               if self.i + 1 < len(self.toks) else None)
        if (self.peek().kind == "OP" and self.peek().text == "{"
                and not (nxt is not None and nxt.kind == "NAME"
                         and nxt.text.lower() == "select")):
            sides = []
            while True:
                self.expect_op("{")
                pats, fils, opts = self._group(allow_compound=False)
                assert not opts
                sides.append((pats, fils))
                if self.at_kw("union"):
                    self.next()
                    continue
                break
            self.expect_op("}")
            if len(sides) == 1:
                # a single braced group is just a group
                pq.patterns, pq.filters = sides[0]
            else:
                if self._pending_paths:
                    raise SPARQLUnsupportedError(
                        "alternation/closure property paths inside "
                        "UNION sides are outside the supported subset "
                        "(use them in a non-union group)")
                pq.union_groups = sides
        else:
            pq.patterns, pq.filters, pq.optionals = self._group(
                allow_compound=True)
        pq.path_patterns = self._pending_paths
        pq.hidden_vars = self._hidden
        pq.minus_groups = self._pending_minus
        pq.exists_filters = self._pending_exists
        pq.values_clauses = self._pending_values
        pq.binds = self._pending_binds
        pq.subqueries = self._pending_subqueries
        self._pending_paths = []
        self._hidden = []
        self._pending_minus = []
        self._pending_exists = []
        self._pending_values = []
        self._pending_binds = []
        self._pending_subqueries = []
        # top-level FILTERs over OPTIONAL-introduced variables evaluate
        # AFTER the left joins (SPARQL's group scope): !BOUND(?x) is the
        # negation idiom, and any comparison over an unbound var is a
        # type error that drops the row — both need the joined bag
        opt_vars = {t[1:] for pats, _ in pq.optionals for pat in pats
                    for t in pat if is_var(t)}
        req_vars = ({t[1:] for pat in pq.patterns for t in pat
                     if is_var(t)}
                    | {t[1:] for st, _, ot in pq.path_patterns
                       for t in (st, ot) if is_var(t)}
                    | {v for names, _ in pq.values_clauses
                       for v in names}
                    | {a for a, _, _ in pq.binds}
                    | {v for sub in pq.subqueries
                       for v in _subquery_proj(sub)})
        opt_only = opt_vars - req_vars
        deferred_aliases: set = set()
        if opt_only and pq.binds:
            kept = []
            for alias, kind, sql in pq.binds:
                # a var-kind BIND stores the BARE variable name (no
                # backticks), so _refs_any's backticked-column search
                # would never see it — match the name directly (ADVICE
                # r8: BIND(?a AS ?y) with ?a OPTIONAL-only must defer)
                if kind == self._VAR:
                    refs_opt = sql in opt_only or sql in deferred_aliases
                else:
                    refs_opt = _refs_any(sql, opt_only | deferred_aliases)
                if refs_opt:
                    pq.optional_binds.append((alias, kind, sql))
                    deferred_aliases.add(alias)
                else:
                    kept.append((alias, kind, sql))
            pq.binds = kept
        opt_scope = opt_only | deferred_aliases
        if opt_scope and pq.filters:
            moved_f = [f for f in pq.filters if _refs_any(f, opt_scope)]
            if moved_f:
                pq.optional_filters = moved_f
                pq.filters = [f for f in pq.filters if f not in moved_f]
        if deferred_aliases:
            # a deferred alias's column does not exist until AFTER the
            # OPTIONAL left-joins — any pattern-side use joins on a
            # missing column (silently dropped correlation): loud in
            # EVERY pattern context, not just the required group
            hazard = ([("a triple pattern", pq.patterns)]
                      + [("an OPTIONAL group", pats)
                         for pats, _ in pq.optionals]
                      + [("a FILTER EXISTS group", pats)
                         for _, pats, _ in pq.exists_filters]
                      + [("a MINUS group", pats)
                         for pats, _ in pq.minus_groups])
            for where, pats in hazard:
                for pat in pats:
                    bad = [v for v in pat
                           if is_var(v) and v[1:] in deferred_aliases]
                    if bad:
                        raise SPARQLUnsupportedError(
                            f"BIND alias {bad[0]} depends on OPTIONAL "
                            f"variables and cannot join {where} in "
                            "this subset (bind it from required "
                            "variables, or restructure the query)")
        if pq.binds:
            aliases = {a for a, _, _ in pq.binds}
            # required-group patterns referencing an alias can't run in
            # the BGP (the column doesn't exist at scan time): they move
            # to bind_patterns and equi-join on the COMPUTED value after
            # the binds materialize.  Patterns connected to the required
            # group only THROUGH such a moved pattern leave the required
            # BGP disconnected — kg_query's cartesian check stays loud
            # for that shape (no silent wrong answer).
            moved = [p for p in pq.patterns
                     if any(is_var(v) and v[1:] in aliases for v in p)]
            if moved:
                pq.bind_patterns = moved
                pq.patterns = [p for p in pq.patterns if p not in moved]
            for s, _, o in pq.path_patterns:
                bad = [t for t in (s, o)
                       if is_var(t) and t[1:] in aliases]
                if bad:
                    raise SPARQLUnsupportedError(
                        f"BIND alias {bad[0]} as a closure-path "
                        "endpoint is outside the supported subset")
            # top-level FILTERs referencing an alias defer to after the
            # binds materialize (SPARQL scope: the whole group); filters
            # INSIDE OPTIONAL/EXISTS/MINUS sides compile in their own
            # BGP where the alias column either is re-bound by the
            # side's patterns (fine) or is unknown (loud at analysis)
            moved_only = ({t[1:] for pat in pq.bind_patterns
                           for t in pat if is_var(t)}
                          - {t[1:] for pat in pq.patterns
                             for t in pat if is_var(t)} - aliases)
            post = [f for f in pq.filters
                    if _refs_any(f, aliases | moved_only)]
            if post:
                # filters over the alias OR over variables bound only
                # by a moved pattern apply after the bind-pattern join
                # (the required BGP no longer binds those columns)
                pq.post_filters = post
                pq.filters = [f for f in pq.filters if f not in post]
        if pq.subqueries:
            # an AGGREGATE alias column is a raw numeric, not an encoded
            # term — as a triple-pattern key it would never equi-match
            # ("3" vs '"3"^^xsd:integer'), which SPARQL value semantics
            # would sometimes match: loud, not silently empty
            agg_aliases = {a.alias for sub in pq.subqueries
                           for a in sub.aggregates}
            for pat in pq.patterns + pq.bind_patterns:
                bad = [v for v in pat if is_var(v) and v[1:] in agg_aliases]
                if bad:
                    raise SPARQLUnsupportedError(
                        f"subquery aggregate alias {bad[0]} used in a "
                        "triple pattern is outside the supported subset "
                        "(aggregate results are plain values, not "
                        "terms; compare them in a FILTER)")
            # outer FILTERs referencing variables bound ONLY by a
            # subquery defer until after the subquery joins (they
            # cannot compile inside the required BGP)
            pattern_only = {t[1:] for pat in pq.patterns for t in pat
                            if is_var(t)}
            sub_only = {v for sub in pq.subqueries
                        for v in _subquery_proj(sub)} - pattern_only
            if sub_only:
                post = [f for f in pq.filters
                        if _refs_any(f, sub_only)]
                if post:
                    pq.post_filters.extend(post)
                    pq.filters = [f for f in pq.filters
                                  if f not in post]
        if pq.union_groups is not None and (pq.minus_groups
                                            or pq.exists_filters
                                            or pq.values_clauses):
            raise SPARQLUnsupportedError(
                "MINUS / FILTER EXISTS / VALUES combined with the "
                "top-level UNION form is outside the supported subset")
        return pq

    def _group(self, allow_compound: bool) -> Tuple[
            List[Tuple[str, str, str]], List[str],
            List[Tuple[List[Tuple[str, str, str]], List[str]]]]:
        """One brace-delimited group body → (patterns, filters,
        optionals). ``allow_compound=False`` (UNION sides, OPTIONAL
        bodies) rejects OPTIONAL — one level of compounding only, loud.
        Consumes the closing '}'."""
        patterns: List[Tuple[str, str, str]] = []
        filters: List[str] = []
        optionals: List[
            Tuple[List[Tuple[str, str, str]], List[str]]] = []
        while True:
            t = self.peek()
            if t.kind == "OP" and t.text == "}":
                self.next()
                return patterns, filters, optionals
            if t.kind == "EOF":
                raise SPARQLError("unterminated group (missing '}')")
            if t.kind == "OP" and t.text == ".":
                self.next()
                continue
            if self.at_kw("filter"):
                self.next()
                positive = None
                if self.at_kw("exists"):
                    self.next()
                    positive = True
                elif self.at_kw("not"):
                    self.next()
                    self.expect_kw("exists")
                    positive = False
                if positive is not None:
                    if not allow_compound:
                        raise SPARQLUnsupportedError(
                            f"FILTER [NOT] EXISTS at offset {t.pos} "
                            "inside OPTIONAL/UNION is outside the "
                            "supported subset")
                    self.expect_op("{")
                    n_paths = len(self._pending_paths)
                    e_pats, e_fils, _ = self._group(allow_compound=False)
                    if len(self._pending_paths) > n_paths:
                        raise SPARQLUnsupportedError(
                            "alternation/closure property paths inside "
                            "FILTER [NOT] EXISTS are outside the "
                            "supported subset")
                    if not e_pats:
                        raise SPARQLError(
                            "FILTER [NOT] EXISTS group contains no "
                            "triple patterns")
                    self._pending_exists.append(
                        (positive, e_pats, e_fils))
                    continue
                filters.extend(self._filter_exprs())
                continue
            if self.at_kw("values"):
                if not allow_compound:
                    raise SPARQLUnsupportedError(
                        f"VALUES at offset {t.pos} inside OPTIONAL/"
                        "UNION is outside the supported subset")
                self.next()
                self._pending_values.append(self._values_clause())
                continue
            if self.at_kw("bind"):
                if not allow_compound:
                    raise SPARQLUnsupportedError(
                        f"BIND at offset {t.pos} inside OPTIONAL/UNION "
                        "is outside the supported subset")
                self.next()
                self.expect_op("(")
                kind, sql = self._operand()
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
                if kind == self._BOOL:
                    raise SPARQLUnsupportedError(
                        "BIND of a boolean expression is outside the "
                        "supported subset")
                if kind == self._NUMERIC and re.fullmatch(
                        r"[+-]?(?:\d+\.\d+(?:[eE][+-]?\d+)?"
                        r"|\d+[eE][+-]?\d+|\d+)", sql):
                    # a numeric CONSTANT keeps its XSD-typed encoding
                    kind, sql = self._TERM, self._number_term(sql)
                self._pending_binds.append((name, kind, sql))
                self.vars_seen.append(name)
                continue
            if self.at_kw("graph"):
                if not allow_compound:
                    raise SPARQLUnsupportedError(
                        f"GRAPH at offset {t.pos} inside OPTIONAL/UNION "
                        "is outside the supported subset")
                self.next()
                gt = self.next()
                if gt.kind == "VAR":
                    g_term = gt.text
                    if g_term[1:] not in self.vars_seen:
                        self.vars_seen.append(g_term[1:])
                elif gt.kind == "IRIREF":
                    g_term = self._resolve_iriref(gt.text)
                elif gt.kind == "PNAME":
                    g_term = self._expand_pname(gt.text, gt.pos)
                else:
                    raise SPARQLError(
                        f"expected ?var or IRI after GRAPH at offset "
                        f"{gt.pos}")
                self.expect_op("{")
                n_paths = len(self._pending_paths)
                g_pats, g_fils, _ = self._group(allow_compound=False)
                if len(self._pending_paths) > n_paths:
                    raise SPARQLUnsupportedError(
                        "alternation/closure property paths inside "
                        "GRAPH are outside the supported subset")
                if not g_pats:
                    raise SPARQLError(
                        "GRAPH group contains no triple patterns")
                # quad patterns: the graph term joins every pattern of
                # the group (kg_query scans then prune/bind on g too)
                patterns.extend(tuple(pat) + (g_term,) for pat in g_pats)
                filters.extend(g_fils)
                continue
            if self.at_kw("minus"):
                if not allow_compound:
                    raise SPARQLUnsupportedError(
                        f"MINUS at offset {t.pos} inside OPTIONAL/UNION "
                        "is outside the supported subset")
                self.next()
                self.expect_op("{")
                n_paths = len(self._pending_paths)
                m_pats, m_fils, _ = self._group(allow_compound=False)
                if len(self._pending_paths) > n_paths:
                    raise SPARQLUnsupportedError(
                        "alternation/closure property paths inside "
                        "MINUS are outside the supported subset")
                if not m_pats:
                    raise SPARQLError(
                        "MINUS group contains no triple patterns")
                self._pending_minus.append((m_pats, m_fils))
                continue
            if self.at_kw("optional"):
                if not allow_compound:
                    raise SPARQLUnsupportedError(
                        f"OPTIONAL at offset {t.pos} inside another "
                        "OPTIONAL or UNION side is outside the "
                        "supported subset (one level of compounding)")
                self.next()
                self.expect_op("{")
                n_paths = len(self._pending_paths)
                o_pats, o_fils, _ = self._group(allow_compound=False)
                if len(self._pending_paths) > n_paths:
                    raise SPARQLUnsupportedError(
                        "alternation/closure property paths inside "
                        "OPTIONAL are outside the supported subset "
                        "(use them in the required group)")
                if not o_pats:
                    raise SPARQLError(
                        f"OPTIONAL group at offset {t.pos} contains no "
                        "triple patterns")
                optionals.append((o_pats, o_fils))
                continue
            if self.at_kw("union"):
                raise SPARQLUnsupportedError(
                    f"UNION at offset {t.pos} is only supported as the "
                    "top-level form {{ group }} UNION {{ group }}")
            self._reject_unsupported(t)
            if t.kind == "OP" and t.text == "{":
                nxt = (self.toks[self.i + 1]
                       if self.i + 1 < len(self.toks) else None)
                if (nxt is not None and nxt.kind == "NAME"
                        and nxt.text.lower() == "select"):
                    if not allow_compound:
                        raise SPARQLUnsupportedError(
                            f"subquery at offset {t.pos} inside "
                            "OPTIONAL/UNION is outside the supported "
                            "subset")
                    self.next()
                    self._pending_subqueries.append(self._subquery())
                    continue
                raise SPARQLUnsupportedError(
                    f"nested group at offset {t.pos} is outside the "
                    "supported subset (UNION is only supported as the "
                    "top-level {{ group }} UNION {{ group }} form)")
            patterns.extend(self._triples_block())
            if self._pending_scan_filters:
                filters.extend(self._pending_scan_filters)
                self._pending_scan_filters = []

    def _subquery(self) -> ParsedQuery:
        """``{ SELECT ... }`` in a group — parsed with a FRESH scope and
        pending state (SPARQL evaluates subqueries bottom-up; nothing
        flows in, only the PROJECTED variables flow out, becoming
        in-scope join variables for the enclosing group)."""
        saved = (self._pending_paths, self._hidden, self._pending_minus,
                 self._pending_exists, self._pending_values,
                 self._pending_binds, self._pending_subqueries,
                 self._pending_scan_filters, self.vars_seen)
        self._pending_paths = []
        self._hidden = []
        self._pending_minus = []
        self._pending_exists = []
        self._pending_values = []
        self._pending_binds = []
        self._pending_subqueries = []
        self._pending_scan_filters = []
        self.vars_seen = []
        sub = self._select_query()
        self.expect_op("}")
        (self._pending_paths, self._hidden, self._pending_minus,
         self._pending_exists, self._pending_values, self._pending_binds,
         self._pending_subqueries, self._pending_scan_filters,
         self.vars_seen) = saved
        if sub.select_vars is None and not sub.aggregates:
            raise SPARQLUnsupportedError(
                "SELECT * in a subquery is outside the supported subset "
                "(project the join variables explicitly — the outer "
                "join key set must be deterministic at parse time)")
        pending_aliases = {a for a, _, _ in self._pending_binds}
        for v in _subquery_proj(sub):
            # a projection colliding with an earlier BIND alias would
            # execute as the subquery join followed by a withColumn that
            # silently OVERWRITES the subquery's column (ADVICE r8) —
            # loud instead, like the reverse order's "BIND rebinds".
            # Collision with pattern variables stays allowed: that is
            # the join key.
            if v in pending_aliases:
                raise SPARQLError(
                    f"subquery projects ?{v}, already bound by BIND in "
                    "the enclosing group (SPARQL forbids rebinding)")
            if v not in self.vars_seen:
                self.vars_seen.append(v)
        return sub

    def _values_clause(self) -> Tuple[List[str], List[tuple]]:
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
        for v in names:
            if v not in self.vars_seen:
                self.vars_seen.append(v)
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
        return names, rows

    def _data_term(self) -> Optional[str]:
        """One VALUES data cell → encoded term, or None for UNDEF."""
        t = self.next()
        if t.kind == "NAME" and t.text.upper() == "UNDEF":
            return None
        if t.kind == "IRIREF":
            return self._resolve_iriref(t.text)
        if t.kind == "PNAME":
            return self._expand_pname(t.text, t.pos)
        if t.kind == "STRING":
            return self._string_term(t.text)
        if t.kind == "NUMBER":
            return self._number_term(t.text)
        raise SPARQLError(
            f"unexpected {t.text!r} in VALUES data at offset {t.pos} "
            "(terms and UNDEF only — no variables)")

    def _triples_block(self) -> List[Tuple[str, str, str]]:
        """subject predObjList — one triples block starting at the
        current token. Property paths in verb position desugar here:
        sequences/inverses into plain patterns (fresh hidden variables),
        alternations/closures into ``self._pending_paths`` entries."""
        out: List[Tuple[str, str, str]] = []
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
            if name not in self.vars_seen:
                self._hidden.append(name)
                return name

    def _desugar_path(self, subj: str, path, obj: str) -> List[
            Tuple[str, str, str]]:
        """(subj, path, obj) → plain patterns where statically possible
        (PathIri, PathInv leaf, PathSeq chains) plus pending path
        patterns for alternation/closure segments."""
        if isinstance(path, PathIri):
            return [(subj, path.iri, obj)]
        if isinstance(path, PathInv):
            assert isinstance(path.inner, PathIri)  # _invert() pushed down
            return [(obj, path.inner.iri, subj)]
        if isinstance(path, PathNeg):
            pv = self._fresh_var()
            in_list = ", ".join(_sql_str(i) for i in path.iris)
            self._pending_scan_filters.append(
                f"(`{pv}` NOT IN ({in_list}))")
            return [(subj, "?" + pv, obj)]
        if isinstance(path, PathSeq):
            out: List[Tuple[str, str, str]] = []
            cur = subj
            for k, part in enumerate(path.parts):
                last = k == len(path.parts) - 1
                nxt = obj if last else "?" + self._fresh_var()
                out.extend(self._desugar_path(cur, part, nxt))
                cur = nxt
            return out
        # alternation / closure: an edge-frame pattern for the executor.
        # A PathNeg nested under a closure/alternation has no edge-frame
        # evaluator — loud, never approximated.
        if _contains_neg(path):
            raise SPARQLUnsupportedError(
                "a negated property set inside a closure/alternation "
                "path is outside the supported subset (use it as a "
                "plain path step)")
        self._pending_paths.append((subj, path, obj))
        for t in (subj, obj):
            if is_var(t):
                v = t[1:]
                if v not in self.vars_seen:
                    self.vars_seen.append(v)
        return []

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

    # -- FILTER expression → SQL over variable columns ---------------
    #
    # Emitted SQL is assembled only from validated fragments: variable
    # names ([A-Za-z_]\w*, become column refs), SQL-escaped string
    # constants, numeric tokens, and fixed operator/function templates —
    # a user query can never smuggle raw SQL through.

    def _filter_exprs(self) -> List[str]:
        """One FILTER clause → one-or-more SQL expressions: a top-level
        conjunction splits into independent filters (``FILTER(A && B)``
        ≡ ``FILTER(A) FILTER(B)`` in SPARQL), so each conjunct gets the
        BGP compiler's per-pattern scan pushdown on its own variable set
        instead of the whole clause waiting for the join that binds the
        union of them."""
        self.expect_op("(")
        parts = self._and_parts()
        if self.peek().kind == "OP" and self.peek().text == "||":
            first = (parts[0] if len(parts) == 1
                     else "(" + " AND ".join(parts) + ")")
            ors = [first]
            while self.peek().kind == "OP" and self.peek().text == "||":
                self.next()
                ors.append(self._and_expr())
            parts = ["(" + " OR ".join(ors) + ")"]
        self.expect_op(")")
        return parts

    def _or_expr(self) -> str:
        parts = [self._and_expr()]
        while self.peek().kind == "OP" and self.peek().text == "||":
            self.next()
            parts.append(self._and_expr())
        return parts[0] if len(parts) == 1 else "(" + " OR ".join(parts) + ")"

    def _and_parts(self) -> List[str]:
        parts = [self._unary_expr()]
        while self.peek().kind == "OP" and self.peek().text == "&&":
            self.next()
            parts.append(self._unary_expr())
        return parts

    def _and_expr(self) -> str:
        parts = self._and_parts()
        return (parts[0] if len(parts) == 1
                else "(" + " AND ".join(parts) + ")")

    def _unary_expr(self) -> str:
        t = self.peek()
        if t.kind == "OP" and t.text == "!":
            self.next()
            return f"(NOT {self._unary_expr()})"
        if t.kind == "OP" and t.text == "(":
            self.next()
            inner = self._or_expr()
            self.expect_op(")")
            return f"({inner})"
        return self._comparison()

    # operand forms a comparison side can take
    _NUMERIC = "num"       # SQL numeric constant
    _TERM = "term"         # an ENCODED term constant (IRI or literal)
    _VAR = "var"           # encoded-term column
    _LEX = "lex"           # SQL expression producing a lexical form
    _IRI = "iri"           # SQL expression producing an IRI's lexical
    _ENC = "enc"           # SQL expression producing an ENCODED term
    _BOOL = "bool"         # complete boolean SQL

    def _comparison(self) -> str:
        lhs = self._operand()
        t = self.peek()
        ops = {"=": "=", "!=": "<>", "<": "<", ">": ">",
               "<=": "<=", ">=": ">="}
        if not (t.kind == "OP" and t.text in ops):
            if lhs[0] == self._BOOL:
                return lhs[1]
            raise SPARQLError(
                f"expected comparison operator at offset {t.pos} "
                f"(bare term {lhs[1]!r} is not a boolean)")
        op = ops[self.next().text]
        rhs = self._operand()
        return self._emit_compare(lhs, op, rhs, t.pos)

    def _emit_compare(self, lhs, op, rhs, pos) -> str:
        lk, lv = lhs
        rk, rv = rhs
        if self._BOOL in (lk, rk):
            raise SPARQLError(
                f"boolean expression used as comparison operand at "
                f"offset {pos}")
        if op in ("=", "<>"):
            # term equality on whatever representation both sides share:
            # var-to-var / var-to-term compare ENCODED terms ("x" ≠
            # "x"@en — RDF term equality); anything involving a lexical
            # (STR(), a function result) compares lexical forms.
            if {lk, rk} <= {self._VAR, self._TERM, self._IRI,
                            self._ENC}:
                return (f"({self._as_encoded(lhs)} {op} "
                        f"{self._as_encoded(rhs)})")
            if self._NUMERIC in (lk, rk):
                # numeric =/<> is VALUE equality (SPARQL operator
                # dispatch: "05"^^xsd:integer = 5).  TRY_CAST the
                # non-numeric side so a non-numeric binding is a type
                # error (NULL → row drops) instead of Spark 4 ANSI
                # CAST_INVALID_INPUT aborting the whole query on a raw
                # string-vs-int comparison.
                l_sql = (lv if lk == self._NUMERIC
                         else f"TRY_CAST({self._as_lexical(lhs)} AS DOUBLE)")
                r_sql = (rv if rk == self._NUMERIC
                         else f"TRY_CAST({self._as_lexical(rhs)} AS DOUBLE)")
                return f"({l_sql} {op} {r_sql})"
            l_sql = self._as_lexical(lhs)
            r_sql = self._as_lexical(rhs)
            return f"({l_sql} {op} {r_sql})"
        # ordering comparison: numeric if either side is numeric
        # (SPARQL operator dispatch), else codepoint order on lexicals.
        # TRY_CAST, not CAST: Spark 4 runs ANSI mode, where a malformed
        # CAST throws — SPARQL says a type error makes the comparison
        # unsatisfied and drops the row, which is exactly TRY_CAST's
        # NULL → non-true behavior.
        if self._NUMERIC in (lk, rk):
            l_sql = (lv if lk == self._NUMERIC
                     else f"TRY_CAST({self._as_lexical(lhs)} AS DOUBLE)")
            r_sql = (rv if rk == self._NUMERIC
                     else f"TRY_CAST({self._as_lexical(rhs)} AS DOUBLE)")
        else:
            l_sql = self._as_lexical(lhs)
            r_sql = self._as_lexical(rhs)
        return f"({l_sql} {op} {r_sql})"

    def _as_encoded(self, operand) -> str:
        kind, val = operand
        if kind == self._VAR:
            return _col(val)
        if kind == self._IRI:
            return f"concat('<', {val}, '>')"
        if kind == self._ENC:
            return val
        assert kind == self._TERM, kind
        return _sql_str(val)

    def _as_lexical(self, operand) -> str:
        kind, val = operand
        if kind == self._VAR:
            return _lex_sql(val)
        if kind == self._TERM:
            return _sql_str(_term_lexical(val))
        if kind == self._ENC:
            return _lex_sql_of(val)
        return val  # _LEX (an SQL expression) / _NUMERIC

    def _operand(self):
        t = self.next()
        self._reject_unsupported(t)
        if t.kind == "VAR":
            v = t.text[1:]
            if v not in self.vars_seen:
                raise SPARQLError(
                    f"FILTER references ?{v} (offset {t.pos}) before any "
                    "pattern binds it")
            return (self._VAR, v)
        if t.kind == "NUMBER":
            return (self._NUMERIC, t.text)
        if t.kind == "STRING":
            # string constants are RDF terms: "x" is a simple literal
            # (term-equal only to another plain "x"); comparison against
            # a lexical (STR()) converts via _as_lexical.
            return (self._TERM, self._string_term(t.text))
        if t.kind == "IRIREF":
            return (self._TERM, self._resolve_iriref(t.text))
        if t.kind == "PNAME":
            return (self._TERM, self._expand_pname(t.text, t.pos))
        if t.kind == "NAME":
            return self._function(t)
        raise SPARQLError(
            f"unexpected {t.text!r} in FILTER at offset {t.pos}")

    def _fn_args(self, name: str, n_min: int, n_max: int) -> list:
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

    def _function(self, t: _Tok):
        name = t.text.upper()
        if name == "STR":
            (a,) = self._fn_args(name, 1, 1)
            return (self._LEX, self._as_lexical(a))
        if name == "LANG":
            (a,) = self._fn_args(name, 1, 1)
            if a[0] != self._VAR:
                raise SPARQLError("LANG takes a variable")
            c = _col(a[1])
            return (self._LEX,
                    f"(CASE WHEN {c} RLIKE '^\"(?:[^\"\\\\\\\\]|"
                    f"\\\\\\\\.)*\"@' THEN regexp_extract({c}, "
                    f"'@([A-Za-z0-9-]+)$', 1) ELSE '' END)")
        if name == "STRLEN":
            (a,) = self._fn_args(name, 1, 1)
            return (self._NUMERIC, f"length({self._as_lexical(a)})")
        if name in ("STRSTARTS", "STRENDS", "CONTAINS"):
            a, b = self._fn_args(name, 2, 2)
            fn = {"STRSTARTS": "startswith", "STRENDS": "endswith",
                  "CONTAINS": "contains"}[name]
            return (self._BOOL,
                    f"{fn}({self._as_lexical(a)}, {self._as_lexical(b)})")
        if name == "REGEX":
            args = self._fn_args(name, 2, 3)
            subj = self._as_lexical(args[0])
            if args[1][0] != self._TERM or not args[1][1].startswith('"'):
                raise SPARQLError("REGEX pattern must be a string literal")
            pat = _term_lexical(args[1][1])
            if len(args) == 3:
                flags = (_term_lexical(args[2][1])
                         if args[2][0] == self._TERM else None)
                if flags not in ("i", "s", "m", "is", "si", "im", "mi",
                                 "sm", "ms"):
                    raise SPARQLUnsupportedError(
                        "REGEX flags other than combinations of i/s/m "
                        "are outside the supported subset")
                pat = f"(?{flags})" + pat
            return (self._BOOL, f"({subj} RLIKE {_sql_str(pat)})")
        if name == "CONCAT":
            args = self._fn_args(name, 1, 64)
            parts = ", ".join(self._as_lexical(a) for a in args)
            return (self._LEX, f"concat({parts})")
        if name == "BOUND":
            (a,) = self._fn_args(name, 1, 1)
            if a[0] != self._VAR:
                raise SPARQLError("BOUND takes a variable")
            return (self._BOOL, f"({_col(a[1])} IS NOT NULL)")
        if name == "LANGMATCHES":
            a, b = self._fn_args(name, 2, 2)
            if b[0] != self._TERM or not b[1].startswith('"'):
                raise SPARQLError(
                    "LANGMATCHES range must be a string literal")
            rng = _term_lexical(b[1]).lower()
            la = f"lower({self._as_lexical(a)})"
            if rng == "*":
                return (self._BOOL, f"({la} != '')")
            # RFC 4647 basic filtering: exact tag or subtag prefix
            return (self._BOOL,
                    f"({la} = {_sql_str(rng)} OR "
                    f"startswith({la}, {_sql_str(rng + '-')}))")
        if name in ("STRDT", "STRLANG"):
            a, b = self._fn_args(name, 2, 2)
            lex = self._as_lexical(a)
            esc = (f"replace(replace({lex}, '\\\\', '\\\\\\\\'), "
                   f"'\"', '\\\\\"')")
            if name == "STRDT":
                if b[0] != self._TERM or not b[1].startswith("<"):
                    raise SPARQLError(
                        "STRDT datatype must be a constant IRI")
                suffix = f'"^^{b[1]}'
            else:
                if b[0] != self._TERM or not b[1].startswith('"'):
                    raise SPARQLError(
                        "STRLANG tag must be a string literal")
                tag = _term_lexical(b[1])
                if not re.fullmatch(r"[A-Za-z]+(?:-[A-Za-z0-9]+)*", tag):
                    raise SPARQLError(
                        f"STRLANG tag {tag!r} is not a valid "
                        "language tag")
                suffix = f'"@{tag}'
            return (self._ENC,
                    f"concat('\"', {esc}, {_sql_str(suffix)})")
        if name == "COALESCE":
            args = self._fn_args(name, 1, 64)
            if any(a[0] == self._BOOL for a in args):
                raise SPARQLError(
                    "COALESCE over boolean expressions is not supported"
                    " (coalesce terms, compare after)")
            encs = ", ".join(_bind_encode_sql(k, v) for k, v in args)
            return (self._ENC, f"coalesce({encs})")
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
            c = (self._BOOL, cond)
            if self._BOOL in (a[0], b[0]):
                raise SPARQLError(
                    "IF branches must be terms, not boolean expressions")
            ea = _bind_encode_sql(a[0], a[1])
            eb = _bind_encode_sql(b[0], b[1])
            # NULL condition (SPARQL error) → NULL result (unbound),
            # not the else branch — hence the explicit NOT arm
            return (self._ENC,
                    f"(CASE WHEN {c[1]} THEN {ea} "
                    f"WHEN NOT ({c[1]}) THEN {eb} END)")
        if name in ("UCASE", "LCASE"):
            (a,) = self._fn_args(name, 1, 1)
            fn = "upper" if name == "UCASE" else "lower"
            return (self._LEX, f"{fn}({self._as_lexical(a)})")
        if name == "SUBSTR":
            args = self._fn_args(name, 2, 3)
            src = self._as_lexical(args[0])
            for k in args[1:]:
                if k[0] != self._NUMERIC or not re.fullmatch(r"\d+", k[1]):
                    raise SPARQLError(
                        "SUBSTR position/length must be non-negative "
                        "integer constants")
            if len(args) == 2:
                return (self._LEX, f"substring({src}, {args[1][1]})")
            return (self._LEX,
                    f"substring({src}, {args[1][1]}, {args[2][1]})")
        if name in ("STRBEFORE", "STRAFTER"):
            a, b = self._fn_args(name, 2, 2)
            sa, sb = self._as_lexical(a), self._as_lexical(b)
            # spec: "" when there is no occurrence; the empty-needle
            # cases fall out of instr()=1 (STRBEFORE → "", STRAFTER → x)
            if name == "STRBEFORE":
                sql = (f"(CASE WHEN instr({sa}, {sb}) > 0 THEN "
                       f"substring({sa}, 1, instr({sa}, {sb}) - 1) "
                       f"ELSE '' END)")
            else:
                sql = (f"(CASE WHEN instr({sa}, {sb}) > 0 THEN "
                       f"substring({sa}, instr({sa}, {sb}) + "
                       f"length({sb})) ELSE '' END)")
            return (self._LEX, sql)
        if name == "REPLACE":
            args = self._fn_args(name, 3, 4)
            src = self._as_lexical(args[0])
            for k in (1, 2):
                if args[k][0] != self._TERM or not args[k][1].startswith('"'):
                    raise SPARQLError(
                        "REPLACE pattern/replacement must be string "
                        "literals")
            pat = _term_lexical(args[1][1])
            rep = _term_lexical(args[2][1])
            if len(args) == 4:
                flags = (_term_lexical(args[3][1])
                         if args[3][0] == self._TERM else None)
                if flags not in ("i", "s", "m", "is", "si", "im", "mi",
                                 "sm", "ms"):
                    raise SPARQLUnsupportedError(
                        "REPLACE flags other than combinations of i/s/m "
                        "are outside the supported subset")
                pat = f"(?{flags})" + pat
            return (self._LEX,
                    f"regexp_replace({src}, {_sql_str(pat)}, "
                    f"{_sql_str(rep)})")
        if name == "DATATYPE":
            (a,) = self._fn_args(name, 1, 1)
            if a[0] != self._VAR:
                raise SPARQLError("DATATYPE takes a variable")
            c = _col(a[1])
            ext = f"regexp_extract({c}, '\\\\^\\\\^<([^>]*)>$', 1)"
            # literal → its datatype IRI (typed: the tag; lang-tagged:
            # rdf:langString; plain: xsd:string); non-literal → NULL
            # (SPARQL type error, the row drops out of comparisons)
            return (self._IRI,
                    f"(CASE WHEN substring({c}, 1, 1) = '\"' THEN "
                    f"CASE WHEN {ext} != '' THEN {ext} "
                    f"WHEN {c} RLIKE '@[A-Za-z0-9-]+$' THEN "
                    f"'http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                    f"langString' "
                    f"ELSE 'http://www.w3.org/2001/XMLSchema#string' "
                    f"END END)")
        if name in ("IRI", "URI"):
            (a,) = self._fn_args(name, 1, 1)
            return (self._IRI, self._as_lexical(a))
        if name in ("ISIRI", "ISURI", "ISLITERAL", "ISBLANK"):
            (a,) = self._fn_args(name, 1, 1)
            if a[0] != self._VAR:
                raise SPARQLError(f"{name} takes a variable")
            c = _col(a[1])
            pref = {"ISIRI": "<", "ISURI": "<", "ISLITERAL": '"',
                    "ISBLANK": "_"}[name]
            return (self._BOOL, f"(substring({c}, 1, 1) = '{pref}')")
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


# ------------------------------------------------------- SQL fragments


def _col(var: str) -> str:
    return f"`{var}`"


def _refs_any(sql: str, names) -> bool:
    """Does a generated SQL fragment reference any of the backticked
    variable columns? String literals are masked first (backslash and
    ''-doubled escapes), so a constant containing a backticked name
    cannot misclassify the fragment."""
    masked = re.sub(
        r"'(?:[^'\\]|\\.|'')*'|\"(?:[^\"\\]|\\.|\"\")*\"", "''", sql)
    return any(f"`{v}`" in masked for v in names)


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _unescape(body: str) -> str:
    """Undo the engine's N-Triples escapes (\\" and \\\\) in a quoted
    literal body."""
    return re.sub(r"\\(.)", r"\1", body)


def _term_lexical(term: str) -> str:
    """Lexical form of an ENCODED constant term (driver-side mirror of
    :func:`_lex_sql`)."""
    if term.startswith("<") and term.endswith(">"):
        return term[1:-1]
    m = re.match(r'^"((?:[^"\\]|\\.)*)"', term)
    if m:
        return _unescape(m.group(1))
    return term


def _lex_sql(var: str) -> str:
    """SQL expression for a variable's lexical form (SPARQL ``STR``)."""
    return _lex_sql_of(_col(var))


def _lex_sql_of(c: str) -> str:
    """Lexical form of an arbitrary SQL expression yielding an ENCODED
    term: brackets off IRIs; quotes, ``@lang``/``^^dt`` and
    backslash-escapes off literals; blank-node labels (and anything
    else) pass through. ``regexp_replace(x, '\\\\(.)', '$1')`` is a
    correct full unescape — left-to-right, non-overlapping, so
    ``\\\\`` → ``\\`` and ``\\"`` → ``"`` in one pass. The expression is
    interpolated several times — fine under codegen CSE."""
    return (
        f"(CASE WHEN substring({c}, 1, 1) = '<' "
        f"THEN substring({c}, 2, length({c}) - 2) "
        f"WHEN substring({c}, 1, 1) = '\"' "
        f"THEN regexp_replace(regexp_extract({c}, "
        f"'^\"((?:[^\"\\\\\\\\]|\\\\\\\\.)*)\"', 1), "
        f"'\\\\\\\\(.)', '$1') "
        f"ELSE {c} END)")


def _subquery_proj(sub: ParsedQuery) -> List[str]:
    """A subquery's projected variable names (its visible scope)."""
    return (sub.select_vars or []) + [a.alias for a in sub.aggregates]


def _bound_vars(pq: ParsedQuery) -> set:
    """Variable names bound by any pattern of the WHERE clause."""
    groups = ([pq.patterns, pq.bind_patterns]
              + [p for p, _ in pq.optionals]
              + [p for p, _ in (pq.union_groups or [])])
    out = {t[1:] for pats in groups for pat in pats for t in pat
           if is_var(t)}
    for s, _, o in pq.path_patterns:
        out |= {t[1:] for t in (s, o) if is_var(t)}
    for v_names, _ in pq.values_clauses:
        out |= set(v_names)
    for sub in pq.subqueries:
        out |= set(_subquery_proj(sub))
    return out


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


def _bind_encode_sql(kind: str, sql: str) -> str:
    """A BIND operand → SQL producing the value in the engine's TERM
    encoding: vars/terms pass through, IRI() wraps in angle brackets,
    a lexical becomes a plain literal (N-Triples \\ and \" escapes
    applied), an integer expression an xsd:integer literal."""
    if kind == _Parser._VAR:
        return _col(sql)
    if kind == _Parser._ENC:
        return sql
    if kind == _Parser._TERM:
        return _sql_str(sql)
    if kind == _Parser._IRI:
        return f"concat('<', {sql}, '>')"
    if kind == _Parser._NUMERIC:
        # a numeric CONSTANT keeps its XSD type per the SPARQL token
        # rules (integer / decimal / double); non-constant numeric
        # expressions (STRLEN) are integer-valued
        if re.fullmatch(r"[+-]?\d+\.\d+", sql):
            dt = "decimal"
        elif re.fullmatch(r"[+-]?(?:\d+\.\d+[eE][+-]?\d+"
                          r"|\d+[eE][+-]?\d+)", sql):
            dt = "double"
        else:
            dt = "integer"
        return ("concat('\"', CAST(" + sql + " AS STRING), "
                f"'\"^^<http://www.w3.org/2001/XMLSchema#{dt}>')")
    assert kind == _Parser._LEX, kind
    esc = (f"replace(replace({sql}, '\\\\', '\\\\\\\\'), "
           f"'\"', '\\\\\"')")
    return f"concat('\"', {esc}, '\"')"


def _run_bgp(triples, patterns, filters, stats) -> DataFrame:
    try:
        return kg_query(triples, patterns, filters=filters,
                        select=None, distinct=False, stats=stats)
    except BGPError as e:
        raise SPARQLError(f"unexecutable SPARQL BGP: {e}") from e


def _bindings(triples: DataFrame, pq: ParsedQuery, stats) -> DataFrame:
    """The WHERE clause's solution bag over all its variables.

    * required group → the BGP compiler (bag semantics);
    * each OPTIONAL → its own compiled BGP LEFT-joined on the shared
      variables (its FILTERs apply inside the optional side, per
      SPARQL's group scoping);
    * the union form → each side compiled independently, columns
      aligned by variable name (NULL where a side does not bind),
      ``unionByName`` bag union — at scale each side is its own
      predicate-pruned scan+join tree and the union is a zero-shuffle
      concatenation.
    """
    if pq.union_groups is not None:
        if stats == "auto":
            from .query import predicate_stats
            stats = predicate_stats(triples)
        sides = [_run_bgp(triples, p, f, stats)
                 for p, f in pq.union_groups]
        all_vars: List[str] = []
        for df in sides:
            for c in df.columns:
                if c not in all_vars:
                    all_vars.append(c)
        aligned = [
            df.select(*[F.col(c) if c in df.columns
                        else F.lit(None).cast("string").alias(c)
                        for c in all_vars])
            for df in sides]
        out = aligned[0]
        for df in aligned[1:]:
            out = out.unionByName(df)
        return out

    if stats == "auto" and (pq.optionals or pq.path_patterns
                            or pq.subqueries or pq.bind_patterns
                            or pq.exists_filters or pq.minus_groups):
        from .query import predicate_stats
        stats = predicate_stats(triples)
    out = None
    if pq.patterns:
        out = _run_bgp(triples, pq.patterns, pq.filters, stats)
    elif pq.filters:
        raise SPARQLError(
            "FILTER with no plain triple pattern in the group (filters "
            "over path-pattern variables are not yet placed — bind the "
            "variable with a plain pattern too)")
    for s_term, path, o_term in pq.path_patterns:
        pdf = _path_pattern_df(triples, s_term, path, o_term)
        if out is None:
            out = pdf
            continue
        shared = [c for c in pdf.columns if c in out.columns]
        if not shared:
            raise SPARQLError(
                f"path pattern ({s_term}, ..., {o_term}) shares no "
                "variable with the preceding patterns — a cartesian "
                "product; add a bridging pattern")
        out = out.join(pdf, on=shared)
    for sub in pq.subqueries:
        sdf = _execute_select(triples, sub, stats)
        if out is None:
            out = sdf
            continue
        shared = [c for c in sdf.columns if c in out.columns]
        if not shared:
            raise SPARQLError(
                f"subquery projecting {sdf.columns} shares no variable "
                "with the outer group — a cartesian product; project a "
                "joining variable")
        out = out.join(sdf, on=shared)
    for v_names, v_rows in pq.values_clauses:
        if (out is not None and len(v_names) == 1
                and v_names[0] in out.columns
                and all(r[0] is not None for r in v_rows)):
            # single already-bound variable, no UNDEF: a plain IN filter
            # — reaches the scans via the compiler-visible column
            out = out.filter(
                F.col(v_names[0]).isin([r[0] for r in v_rows]))
            continue
        from pyspark.sql import types as T
        vdf = triples.sparkSession.createDataFrame(
            v_rows, T.StructType(
                [T.StructField(v, T.StringType(), True)
                 for v in v_names]))
        if out is None:
            out = vdf
            continue
        shared = [c for c in vdf.columns if c in out.columns]
        if not shared:
            raise SPARQLError(
                f"VALUES {v_names} shares no variable with the "
                "preceding patterns — a cartesian product; bind a "
                "common variable")
        if any(r[v_names.index(c)] is None
               for c in shared for r in v_rows):
            raise SPARQLUnsupportedError(
                "UNDEF in a VALUES column that joins an already-bound "
                "variable is outside the supported subset (an SQL join "
                "key cannot express SPARQL's unbound-is-compatible "
                "rule)")
        out = out.join(vdf, on=shared)
    if out is None:
        if pq.binds:
            # a group of only BINDs: SPARQL starts from the empty
            # solution µ0 — one row, zero columns (the operands are
            # necessarily constants: a variable operand would have
            # required a pattern binding it at parse time)
            out = triples.sparkSession.range(1).select()
        else:
            raise SPARQLError("empty WHERE group")
    for alias, kind, sql in pq.binds:
        out = out.withColumn(alias, F.expr(_bind_encode_sql(kind, sql)))
    if pq.bind_patterns:
        # patterns over BIND aliases: their own compiled BGP (the alias
        # is an ordinary scan variable there), equi-joined on the
        # computed alias columns — a NULL/errored bind value matches
        # nothing and the row drops, SPARQL's unbound-pattern rule
        right = _run_bgp(triples, pq.bind_patterns, [], stats)
        shared = [c for c in right.columns if c in out.columns]
        out = out.join(right, on=shared)
    for f_expr in pq.post_filters:
        out = out.filter(F.expr(f_expr))
    # EXISTS/MINUS evaluate against the required-group bag (their shared
    # variables must be bound there — OPTIONAL-introduced NULLs have
    # SPARQL "compatible" semantics an SQL join key cannot express)
    for positive, e_pats, e_fils in pq.exists_filters:
        right = _run_bgp(triples, e_pats, e_fils, stats)
        shared = [c for c in right.columns if c in out.columns]
        if not shared:
            raise SPARQLError(
                f"FILTER EXISTS group {e_pats} shares no variable with "
                "the outer group (uncorrelated EXISTS is outside the "
                "supported subset)")
        out = out.join(right.select(*shared).distinct(), on=shared,
                       how="left_semi" if positive else "left_anti")
    for m_pats, m_fils in pq.minus_groups:
        right = _run_bgp(triples, m_pats, m_fils, stats)
        shared = [c for c in right.columns if c in out.columns]
        if not shared:
            # SPARQL spec: a MINUS side sharing no variable is never
            # "compatible" with a solution, so it removes NOTHING
            continue
        out = out.join(right.select(*shared).distinct(), on=shared,
                       how="left_anti")
    # OPTIONAL join keys must be required-group-bound: a variable
    # introduced by a PRIOR OPTIONAL can be NULL, and SPARQL's LeftJoin
    # treats unbound as compatible-with-anything — an SQL left-join key
    # cannot express that (NULL never equi-matches), so solutions would
    # silently lose extensions.  Same subset boundary EXISTS/MINUS
    # already enforce (they run above, before any OPTIONAL column
    # exists).  Loud, not silently wrong.
    required_cols = set(out.columns)
    for o_pats, o_fils in pq.optionals:
        right = _run_bgp(triples, o_pats, o_fils, stats)
        shared = [c for c in right.columns if c in out.columns]
        if not shared:
            raise SPARQLError(
                f"OPTIONAL group {o_pats} shares no variable with the "
                "required group — a cartesian extension; add a joining "
                "variable")
        opt_only = [c for c in shared if c not in required_cols]
        if opt_only:
            raise SPARQLUnsupportedError(
                f"OPTIONAL group {o_pats} joins through "
                f"{sorted(opt_only)}, introduced by a prior OPTIONAL — "
                "SPARQL's unbound-is-compatible LeftJoin semantics for "
                "such keys is outside the supported subset; bind the "
                "variable in the required group")
        out = out.join(right, on=shared, how="left")
    for alias, kind, sql in pq.optional_binds:
        out = out.withColumn(alias, F.expr(_bind_encode_sql(kind, sql)))
    for f_expr in pq.optional_filters:
        out = out.filter(F.expr(f_expr))
    if pq.hidden_vars:
        keep = [c for c in out.columns if c not in pq.hidden_vars]
        out = out.select(*keep)
    return out


# xsd numeric datatypes whose typed literals ORDER BY compares by VALUE
# (SPARQL operator mapping: "9"^^xsd:integer < "10"^^xsd:integer)
_XSD_NUMERIC_DT_RE = (
    r'\\^\\^<http://www\\.w3\\.org/2001/XMLSchema#'
    r'(?:integer|decimal|double|float|long|int|short|byte|'
    r'nonNegativeInteger|nonPositiveInteger|negativeInteger|'
    r'positiveInteger|unsignedLong|unsignedInt|unsignedShort|'
    r'unsignedByte)>$')


def _order_keys(v: str, asc: bool):
    """Sort keys for one ORDER BY variable — a documented TOTAL order
    (SPARQL's term ordering is partial; a deterministic engine needs a
    total one): numeric-typed literals compare by value and sort before
    every non-numeric term (ascending); ties and all other terms fall
    back to codepoint order on the encoded N-Triples form.  Simple
    literals like ``"9"`` are NOT numeric (spec: plain literals order
    by codepoint).  TRY_CAST so a malformed numeric lexical degrades to
    the lexical fallback instead of an ANSI cast error."""
    num = F.expr(
        f"CASE WHEN {_col(v)} RLIKE '{_XSD_NUMERIC_DT_RE}' "
        f"THEN TRY_CAST({_lex_sql(v)} AS DOUBLE) END")
    enc = F.col(v)
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
        coll = "collect_set" if a.distinct else "collect_list"
        lex_of_t = _lex_sql_of("t")
        sep = a.sep if a.sep is not None else " "
        return F.expr(
            f"array_join(sort_array(transform({coll}(`{a.var}`), "
            f"t -> {lex_of_t})), {_sql_str(sep)})").alias(a.alias)
    # numeric aggregates over the lexical form; TRY_CAST skips
    # non-numeric terms (SPARQL's error-term elision in SUM/AVG/MIN/MAX)
    num = F.expr(f"TRY_CAST({_lex_sql(a.var)} AS DOUBLE)")
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
    out = _bindings(triples, pq, stats)
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
            out = out.filter(F.expr(cond))
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
    return len(_bindings(triples, pq, stats).take(1)) > 0


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
        sols = _bindings(triples, pq, stats)
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
    sols = _apply_modifiers(_bindings(triples, pq, stats), pq)
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
