"""General basic-graph-pattern (BGP) query compiler over a triples table —
the "use the graph" half of the north rule, generalizing the previously
hardcoded 3-pattern join in ``analytics.py`` into a real query surface
(VERDICT r6 #1).

A query is a list of (s, p, o) triple patterns; a term starting with ``?``
is a variable, anything else is a constant matched exactly (IRIs in
``<...>``, literals in ``"..."`` — the engine's own triple encoding).
Compilation is the classic relational translation of a SPARQL BGP:

* **Pattern → predicate-pruned scan.** Each pattern becomes one projection
  of the triples table with equality filters on its constant positions.
  On the bucketed parquet/Iceberg sink (``kg/table.py``) those filters
  reach the scan (``PushedFilters: EqualTo(p, ...)``), so a pattern reads
  only its predicate's row group slice; Catalyst additionally collapses
  the N same-table scans into one pass when the table is cached.
* **Selectivity-ordered joins.** Patterns are greedily ordered by
  estimated cardinality — the predicate histogram (``predicate_stats``:
  one map-side-combinable ``groupBy("p").count()`` over a
  vocabulary-sized key space, or Iceberg partition metadata in a catalog
  deployment) gives the base count; each additionally-bound s/o term
  divides it. At every step the cheapest pattern CONNECTED to the
  already-bound variable set joins next, so the intermediate result
  stays as small as the estimate allows and no step is a cartesian
  product (a disconnected pattern set is rejected loudly).
* **Shared-variable equi-joins.** Joining on the intersection of bound
  variable names — plain hash/sort-merge equi-joins on high-cardinality
  IRI keys, which is exactly what AQE's skew handling and the sink's
  subject bucketing are for at 100 TB.
* **Filter placement.** A filter is an ANSI-SQL boolean expression over
  variable names (its variables are found by name in the text), or a
  ``(Column, var_names)`` pair that names them exactly — the SPARQL
  front-end passes pairs. A filter whose variables all come from one
  pattern is pushed into every such pattern's scan (prunes before the
  first join — and reaches the parquet reader as a pushed predicate
  where the expression allows); multi-pattern filters apply at the
  earliest join that binds all their variables.

The reference engine has no query surface at all (it only writes graphs
— rdflib ``Dataset.serialize``, pyrml_mapper.py:137-140); this module is
new design per the north rule's "query capabilities" phrase.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Dict, Iterable, List, Optional, Sequence, Tuple, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_POSITIONS = ("s", "p", "o", "g")  # a pattern uses the first 3 or all 4
_VAR_RE = re.compile(r"^\?[A-Za-z_][A-Za-z0-9_]*$")

# cost model fallback: a bound s/o term divides the base cardinality
# estimate by this constant WHEN the histogram carries no per-predicate
# distinct counts (old-style stats dicts, or a variable predicate). With
# full stats the divisor is the measured distinct count of that position
# under that predicate — count(p)/nd(p,pos) is the textbook
# rows-per-key estimate, robust to skewed predicates (VERDICT r7 #6).
BOUND_TERM_SELECTIVITY = 100

TOTAL_KEY = "__total__"
# per-predicate distinct-count keys in the stats dict (kept in the same
# flat {str: int} mapping so cached/user-supplied histograms stay
# drop-in compatible; absent keys degrade to the constant divisor)
_ND_S = "__nds__:"
_ND_O = "__ndo__:"


# an SQL boolean expression, or a Column with the variables it reads
Filter = Union[str, Tuple[Column, Iterable[str]]]


class BGPError(ValueError):
    """Malformed or un-compilable pattern list (loud, never a guess)."""


def is_var(term: str) -> bool:
    return isinstance(term, str) and term.startswith("?")


def _var_name(term: str) -> str:
    if not _VAR_RE.match(term):
        raise BGPError(
            f"invalid variable {term!r} (expected ?name with "
            "[A-Za-z_][A-Za-z0-9_]* — constants must not start with '?')")
    return term[1:]


def predicate_stats(triples: DataFrame) -> Dict[str, int]:
    """Predicate histogram for join ordering: ``{pred: count}`` plus
    ``__total__`` and per-predicate distinct counts of the s/o positions
    (``__nds__:<pred>`` / ``__ndo__:<pred>``, HyperLogLog approximate —
    an estimator input, not an answer). One map-side-combinable shuffle
    over the predicate vocabulary (dozens of keys at any scale — the
    collect is bounded by the ontology, not the data). On an Iceberg
    catalog deployment the same numbers come free from partition/file
    metadata + column NDV stats."""
    rows = triples.groupBy("p").agg(
        F.count("*").alias("n"),
        F.approx_count_distinct("s").alias("nds"),
        F.approx_count_distinct("o").alias("ndo")).collect()
    stats = {r["p"]: r["n"] for r in rows}
    stats[TOTAL_KEY] = sum(stats.values())
    for r in rows:
        stats[_ND_S + r["p"]] = r["nds"]
        stats[_ND_O + r["p"]] = r["ndo"]
    return stats


@dataclass
class PatternPlan:
    """One pattern's compiled form (inspectable for tests/EXPLAIN)."""
    index: int                       # position in the user's pattern list
    pattern: Tuple[str, ...]         # (s, p, o) or (s, p, o, g)
    proj: Dict[str, str]             # var name -> s/p/o position
    est_rows: float
    scan_filters: List[Filter] = field(default_factory=list)  # pushed


@dataclass
class BGPPlan:
    """Deterministic compile result: join order + filter placement."""
    order: List[PatternPlan]
    join_vars: List[List[str]]       # per join step (len = len(order)-1)
    post_filters: List[Tuple[int, Filter]]  # (after join step i, filter)
    out_vars: List[str]


def _pattern_vars(pat: Sequence[str]) -> List[str]:
    seen: List[str] = []
    for t in pat:
        if is_var(t):
            v = _var_name(t)
            if v not in seen:
                seen.append(v)
    return seen


def _estimate(pat: Sequence[str], stats: Optional[Dict[str, int]]) -> float:
    """Estimated scan cardinality: predicate count (histogram) shrunk by
    each bound s/o/g term — by the measured rows-per-key factor
    (count(p) / distinct(p, position)) when the histogram carries
    per-predicate distinct counts, by ``BOUND_TERM_SELECTIVITY``
    otherwise. Without stats the ranking degrades to bound-position
    counting — still deterministic and cartesian-free."""
    total = float(stats.get(TOTAL_KEY, 1)) if stats else 1.0
    p = pat[1]
    base = total
    nd_keys: Dict[int, str] = {}
    if not is_var(p):
        base = float(stats.get(p, 0)) if stats else total / BOUND_TERM_SELECTIVITY
        nd_keys = {0: _ND_S + p, 2: _ND_O + p}
    for i in (0, *range(2, len(pat))):
        if not is_var(pat[i]):
            nd = stats.get(nd_keys[i]) if (stats and i in nd_keys) else None
            base /= nd if nd else BOUND_TERM_SELECTIVITY
    return base


def _filter_deps(f: Filter, known_vars: Sequence[str]) -> List[str]:
    """Variables a filter references: the names a ``(Column, var_names)``
    pair gives; for an SQL string, a word-boundary match against the
    query's variable names — quoted literals are masked so a var name
    inside a string constant doesn't count. Handles both backslash
    escapes and ANSI ''-doubled quotes ("name = 'it''s'") — a mis-masked
    tail would false-positive as a dependency and misplace the filter
    onto a scan lacking the column."""
    if isinstance(f, str):
        masked = re.sub(
            r"'(?:[^'\\]|\\.|'')*'|\"(?:[^\"\\]|\\.|\"\")*\"", "''", f)
        deps = [v for v in known_vars
                if re.search(
                    rf"(?<![A-Za-z0-9_]){re.escape(v)}(?![A-Za-z0-9_])",
                    masked)]
    else:
        deps = list(f[1])
    if not deps:
        raise BGPError(
            f"filter {f!r} references no query variable "
            f"(known: {list(known_vars)})")
    return deps


def _filter_column(f: Filter) -> Column:
    return F.expr(f) if isinstance(f, str) else f[0]


def compile_bgp(
    patterns: Sequence[Sequence[str]],
    filters: Sequence[Filter] = (),
    stats: Optional[Dict[str, int]] = None,
    select: Optional[Sequence[str]] = None,
) -> BGPPlan:
    """Pure (Spark-free) compilation: validates, orders, places filters.
    Split out so join ordering and filter pushdown are unit-testable
    without a session."""
    if not patterns:
        raise BGPError("empty pattern list")
    pats: List[Tuple[str, ...]] = []
    for i, pat in enumerate(patterns):
        if len(pat) not in (3, 4) or not all(
                isinstance(t, str) and t for t in pat):
            raise BGPError(f"pattern {i} must be three (s,p,o) or four "
                           f"(s,p,o,g) non-empty strings, got {pat!r}")
        pats.append(tuple(pat))  # type: ignore[arg-type]
        if not _pattern_vars(pat):
            raise BGPError(
                f"pattern {i} {pat!r} binds no variable — fully-bound "
                "existence checks are not part of the BGP surface (use "
                "a direct filter)")

    all_vars: List[str] = []
    for pat in pats:
        for v in _pattern_vars(pat):
            if v not in all_vars:
                all_vars.append(v)

    plans = []
    for i, pat in enumerate(pats):
        proj = {}
        for pos, t in zip(_POSITIONS, pat):
            if is_var(t):
                v = _var_name(t)
                proj.setdefault(v, pos)
        plans.append(PatternPlan(index=i, pattern=pat, proj=proj,
                                 est_rows=_estimate(pat, stats)))

    # filter placement: single-pattern filters push into EVERY pattern
    # whose variable set covers them (valid under inner-join semantics —
    # the join equates the variable across patterns); the rest wait for
    # the join step that binds their last dependency.
    deferred: List[Tuple[frozenset, Filter]] = []
    for f_expr in filters:
        deps = frozenset(_filter_deps(f_expr, all_vars))
        hosts = [pl for pl in plans if deps <= set(pl.proj)]
        if hosts:
            for pl in hosts:
                pl.scan_filters.append(f_expr)
        else:
            deferred.append((deps, f_expr))

    # greedy selectivity order over the connected pattern graph
    remaining = list(plans)
    remaining.sort(key=lambda pl: (pl.est_rows, pl.index))
    order = [remaining.pop(0)]
    bound = set(order[0].proj)
    join_vars: List[List[str]] = []
    while remaining:
        connected = [pl for pl in remaining if bound & set(pl.proj)]
        if not connected:
            raise BGPError(
                "disconnected pattern group "
                f"{[pl.pattern for pl in remaining]} shares no variable "
                f"with {sorted(bound)} — a cartesian product; join the "
                "groups explicitly or add a bridging pattern")
        nxt = min(connected, key=lambda pl: (pl.est_rows, pl.index))
        remaining.remove(nxt)
        join_vars.append(sorted(bound & set(nxt.proj)))
        order.append(nxt)
        bound |= set(nxt.proj)

    post_filters: List[Tuple[int, Filter]] = []
    for deps, f_expr in deferred:
        have = set(order[0].proj)
        step = None
        for j, pl in enumerate(order[1:]):
            have |= set(pl.proj)
            if deps <= have:
                step = j
                break
        if step is None:  # unreachable: deps validated ⊆ all_vars
            raise BGPError(f"filter {f_expr!r} references unbound vars")
        post_filters.append((step, f_expr))

    out_vars = list(select) if select is not None else all_vars
    unknown = [v for v in out_vars if v not in all_vars]
    if unknown:
        raise BGPError(f"select names unbound variables {unknown} "
                       f"(bound: {all_vars})")
    return BGPPlan(order=order, join_vars=join_vars,
                   post_filters=post_filters, out_vars=out_vars)


def _scan(triples: DataFrame, pl: PatternPlan) -> DataFrame:
    """One pattern's predicate-pruned, variable-projected scan."""
    df = triples
    for pos, t in zip(_POSITIONS, pl.pattern):
        if not is_var(t):
            df = df.filter(F.col(pos) == F.lit(t))
    # same variable in two positions of one pattern (?x :p ?x): the
    # second occurrence is an intra-row equality, filtered pre-projection
    seen: Dict[str, str] = {}
    for pos, t in zip(_POSITIONS, pl.pattern):
        if is_var(t):
            v = _var_name(t)
            if v in seen:
                df = df.filter(F.col(pos) == F.col(seen[v]))
            else:
                seen[v] = pos
    df = df.select(*[F.col(pos).alias(v) for v, pos in pl.proj.items()])
    for f in pl.scan_filters:
        df = df.filter(_filter_column(f))
    return df


def kg_query(
    triples: DataFrame,
    patterns: Sequence[Sequence[str]],
    filters: Sequence[Filter] = (),
    select: Optional[Sequence[str]] = None,
    distinct: bool = True,
    stats: Union[Dict[str, int], str, None] = None,
) -> DataFrame:
    """Compile and run a BGP over an (s, p, o[, g]) triples DataFrame.

    ``stats``: a ``predicate_stats``-shaped dict, the string ``"auto"``
    (compute the histogram now — one cheap aggregate; cache it yourself
    for query-many workloads), or None (bound-position heuristic).
    ``distinct=True`` gives SPARQL ``SELECT DISTINCT`` set semantics —
    projection over a BGP is a bag otherwise.

    Each filter is an ANSI-SQL boolean expression over variable names, or
    a ``(Column, var_names)`` pair whose ``var_names`` are exactly the
    variables the Column reads (they decide where it is placed).

    A 4-term pattern constrains/binds the graph column ``g`` (named
    graphs — SPARQL ``GRAPH``); the DataFrame must then carry ``g``."""
    if any(len(pat) == 4 for pat in patterns) and "g" not in triples.columns:
        raise BGPError(
            "a quad pattern needs a 'g' column; this DataFrame has "
            f"{triples.columns} (read the sink without dropping g)")
    if stats == "auto":
        stats = predicate_stats(triples)
    plan = compile_bgp(patterns, filters=filters, stats=stats, select=select)
    acc = _scan(triples, plan.order[0])
    for j, pl in enumerate(plan.order[1:]):
        acc = acc.join(_scan(triples, pl), on=plan.join_vars[j])
        for step, f in plan.post_filters:
            if step == j:
                acc = acc.filter(_filter_column(f))
    out = acc.select(*plan.out_vars)
    return out.distinct() if distinct else out
