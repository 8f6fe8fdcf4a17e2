"""Logical-source loading: LogicalSource IR → Spark DataFrame.

Reference behavior (SURVEY.md §2.1): every tabular source is read with
all-string columns (``pd.read_csv(..., dtype=str)``, pyrml_core.py:902-905);
JSON keeps native scalars via ``pd.json_normalize`` with dotted flattened
column names (pyrml_core.py:886-894); loaded sources are memoized per
logical-source id (pyrml_core.py:875-876).

Spark-first: CSV/JSON/Parquet go through ``spark.read`` (distributed,
predicate-pushdown-capable). The JSONPath iterator subset compiles to
``explode``/struct-field steps — no Python in the row path. XML is read as
``wholetext`` rows and parsed on executors inside ``mapInPandas``
(namespace-aware ElementTree XPath; parallel across files — the realistic
100 TB XML layout), with a one-file driver-side schema probe.

Schema memo: ``spark.read`` runs one Spark job per CSV/JSON/Parquet read
just to discover the schema, and ``convert`` builds a fresh loader per
call, so without a memo every re-compile of an unchanged mapping would run
those jobs again. :func:`_read_file` therefore remembers the raw reader
schema (before the scan floor and the JSONPath iterator) of each local
single file, per ``SparkSession`` (a ``WeakKeyDictionary``, freed with the
session), keyed by kind, resolved path and reader options and stamped with
``(st_size, st_mtime_ns)``. A later read of an unchanged file passes that
schema to ``reader.schema(...)`` and starts no job; a changed file
replaces its entry, so the memo holds one entry per distinct file.
Directories, tables, JDBC, SPARQL, XML and non-local URIs are read by
plain ``spark.read`` every time.
"""

from __future__ import annotations

import os
import re
import weakref
from typing import Dict, List, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .model import LogicalSource
from .scan import parallelize_scan


class SourceError(ValueError):
    pass


def _find_file(path: str, search_roots: List[str]) -> str:
    if os.path.exists(path):
        return path
    rel = path[2:] if path.startswith("./") else path.lstrip("/")
    for root in search_roots:
        cand = os.path.join(root, rel)
        if os.path.exists(cand):
            return cand
    # last resort: basename lookup (the reference's own provinces mapping
    # points at ./examples/provinces.csv while the file lives one dir deeper)
    base = os.path.basename(path)
    for root in search_roots:
        cand = os.path.join(root, base)
        if os.path.exists(cand):
            return cand
    return path


# session → {(format, abspath, options): ((st_size, st_mtime_ns), schema)}
_SCHEMAS: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary())


def _read_file(spark: SparkSession, fmt: str, path: str,
               **options) -> DataFrame:
    """``spark.read.format(fmt).options(**options).load(path)``, with the
    schema of an unchanged local file taken from the session's memo (see
    module docstring) so that only its first read runs a Spark job."""
    reader = spark.read.format(fmt).options(**options)
    if not os.path.isfile(path):
        return reader.load(path)
    st = os.stat(path)  # before the read: a later rewrite gets a new stamp
    stamp = (st.st_size, st.st_mtime_ns)
    key = (fmt, os.path.abspath(path), tuple(sorted(options.items())))
    memo = _SCHEMAS.setdefault(spark, {})
    hit = memo.get(key)
    if hit is not None and hit[0] == stamp:
        return reader.schema(hit[1]).load(path)
    df = reader.load(path)
    memo[key] = (stamp, df.schema)
    return df


# a JSON source file is one top-level value, not JSON Lines
_JSON_OPTIONS = {"multiLine": True}


def reader_options(ls: LogicalSource) -> Dict[str, object]:
    """The ``spark.read`` options of a CSV/CSVW or JSON file source, one
    definition for the batch and the streaming loader. CSV is read
    all-string (the reference's ``dtype=str``, module docstring) with the
    mapping's separator and encoding."""
    if ls.kind == "json":
        return dict(_JSON_OPTIONS)
    options = {"header": True, "sep": ls.separator, "inferSchema": False}
    if ls.encoding:
        options["encoding"] = ls.encoding
    return options


def _flatten_struct_cols(df: DataFrame) -> DataFrame:
    """Flatten nested struct columns into dotted names, json_normalize-style
    (pyrml_core.py:894 — `pd.json_normalize` dotted paths like location.city).
    Arrays are left in place (multi-valued object cells)."""
    def walk2(schema: T.StructType, path_parts: List[str]) -> List[Column]:
        cols: List[Column] = []
        for f in schema.fields:
            parts = path_parts + [f.name]
            if isinstance(f.dataType, T.StructType):
                cols.extend(walk2(f.dataType, parts))
            else:
                ref = ".".join("`" + p.replace("`", "``") + "`" for p in parts)
                cols.append(F.col(ref).alias(".".join(parts)))
        return cols

    if not any(isinstance(f.dataType, T.StructType) for f in df.schema.fields):
        return df
    return df.select(*walk2(df.schema, []))


_FILTER_RE = re.compile(
    r"^@((?:\.[A-Za-z0-9_$\-]+(?:\[-?\d+\])*)+)\s*"
    r"(?:(==|=~|=|!=|<=|>=|<|>)\s*(.+?)\s*)?$"
)

_AT_PATH_RE = re.compile(r"^@((?:\.[A-Za-z0-9_$\-]+(?:\[-?\d+\])*)+)$")


def _parse_at_path(dotted: str) -> tuple:
    """``.a[0].b`` → ("a", 0, "b") — str steps are struct fields, int
    steps are array indexes (Python negative semantics)."""
    steps = []
    for m in re.finditer(r"\.([A-Za-z0-9_$\-]+)((?:\[-?\d+\])*)", dotted):
        steps.append(m.group(1))
        steps.extend(int(i) for i in re.findall(r"\[(-?\d+)\]", m.group(2)))
    return tuple(steps)

# marker for a field-to-field comparison's right-hand side (@.a <op> @.b):
# carried in the term's `lit` slot as ("__ref__", fields)
_REF = "__ref__"

# '=~' patterns run as Java-regex `rlike` in the Spark evaluator but
# Python `re.search` in sparql_source._py_pred; the two dialects agree
# only on a common subset. Constructs OUTSIDE it are rejected at parse
# time (ADVICE r6) so the same iterator can never filter differently —
# or throw on only one path — depending on which evaluator runs it:
#   (?...   other than (?: (?= (?!   — inline flags, named groups,
#           lookbehind, atomic groups (divergent or one-sided support)
#   \p \P   unicode property classes (Java-only)
#   \A \z \Z \G \h \H \v \V \k \R \X  — anchors/escapes whose meaning
#           or availability differs between the engines
#   &&      Java character-class intersection (literal in Python)
#   *+ ++ ?+ }+  possessive quantifiers (Java & only recent Python)
_REGEX_DIVERGENT_RE = re.compile(
    r"\(\?(?![:=!])|\\[pPAzZGhHvVkRX]|&&|[*+?}]\+")


def _validate_common_regex(pat: str, inner: str, iterator: str) -> None:
    """Reject '=~' patterns outside the documented Java∩Python subset."""
    m = _REGEX_DIVERGENT_RE.search(pat)
    if m:
        raise SourceError(
            f"unsupported JSONPath regex {pat!r} in {iterator!r}: "
            f"{m.group(0)!r} (at {m.start()}) is outside the documented "
            "Java-regex ∩ Python-re common subset (no inline flags, "
            "lookbehind, named/atomic groups, \\p classes, '&&' class "
            "intersection, possessive quantifiers, or \\A/\\z/\\Z/\\G/"
            "\\h/\\v/\\k/\\R/\\X escapes) — the Spark and endpoint-"
            "iterator evaluators would disagree on it")
    try:
        re.compile(pat)
    except re.error as e:
        raise SourceError(
            f"invalid JSONPath regex {pat!r} in {iterator!r}: {e}") from e


def _parse_filter_term(term: str, inner: str, iterator: str) -> tuple:
    """One comparison/existence term → (fields, op, lit)."""
    m = _FILTER_RE.match(term)
    if not m:
        raise SourceError(
            f"unsupported JSONPath filter [{inner}] in {iterator!r} (terms "
            "are '@.field <op> literal|@.field', '@.field =~ 'regex'', or "
            "existence '@.field', joined by '&&'/'||' with parenthesized "
            "grouping; nested [?()] is not supported)")
    fields = _parse_at_path(m.group(1))
    op, raw = m.group(2), m.group(3)
    if op is None:
        return (fields, None, None)
    if op == "=":
        op = "=="
    lit: object
    if raw.startswith("@."):
        # field-to-field comparison: @.a <op> @.b (no arithmetic, one hop)
        if op == "=~":
            raise SourceError(
                f"unsupported JSONPath filter [{inner}] in {iterator!r}: "
                "'=~' needs a quoted regex literal on the right")
        rm = _AT_PATH_RE.match(raw)
        if not rm:
            raise SourceError(
                f"unsupported JSONPath filter rhs {raw!r} in {iterator!r} "
                "(only a plain '@.field...' path may stand on the right)")
        lit = (_REF, _parse_at_path(rm.group(1)))
    elif op == "=~":
        # quoted ('x') or jsonpath_ng-ext slash-delimited (/x/) pattern.
        # NB: only quotes protect connectives/parens from the term scanner,
        # so a /…/ pattern containing ')' '&&' '||' fails loudly upstream.
        if not (len(raw) >= 2 and raw[0] == raw[-1] and raw[0] in "'\"/"):
            raise SourceError(
                f"unsupported JSONPath regex {raw!r} in {iterator!r} "
                "(the pattern must be a quoted or /slash/ literal)")
        lit = raw[1:-1]
        _validate_common_regex(lit, inner, iterator)
    elif raw in ("null", "None"):
        lit = None
    elif raw in ("true", "false"):
        lit = raw == "true"
    elif len(raw) >= 2 and raw[0] == raw[-1] and raw[0] in "'\"":
        lit = raw[1:-1]
    else:
        try:
            lit = int(raw)
        except ValueError:
            try:
                lit = float(raw)
            except ValueError:
                raise SourceError(
                    f"unsupported JSONPath filter literal {raw!r} in "
                    f"{iterator!r}") from None
    return (fields, op, lit)


def _parse_predicate(inner: str, iterator: str) -> tuple:
    """``?(@.a <op> lit && (@.b ... || ...))`` → ("filter", dnf).

    ``dnf`` is an OR-of-ANDs tuple ``((term, ...), ...)`` with term =
    ``(fields, op, lit)`` — '&&' binds tighter than '||' (jsonpath_ng ext
    precedence), parenthesized grouping distributes into DNF at parse
    time so the evaluators stay DNF-only. Literals: int/float,
    single/double-quoted string, true/false/null, a quoted regex after
    ``=~`` (Java-regex ``rlike``, search semantics), or a plain ``@.b``
    path (field-to-field comparison). Nested ``[?()]`` raises
    :class:`SourceError`."""
    body = inner[1:].strip()  # drop '?'
    if body.startswith("(") and body.endswith(")") and _paren_spans(body):
        body = body[1:-1].strip()
    dnf, pos = _parse_or(body, 0, inner, iterator)
    if body[pos:].strip():
        raise SourceError(
            f"unsupported JSONPath filter [{inner}] in {iterator!r}: "
            f"trailing {body[pos:].strip()!r} after a complete predicate")
    return ("filter", dnf)


def _paren_spans(body: str) -> bool:
    """True iff the leading '(' matches the trailing ')' (quote-aware) —
    '(a) && (b)' must NOT be stripped to 'a) && (b'."""
    depth, quote = 0, None
    for i, ch in enumerate(body):
        if quote:
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i == len(body) - 1
    return False


def _skip_ws(body: str, i: int) -> int:
    while i < len(body) and body[i].isspace():
        i += 1
    return i


def _parse_or(body: str, i: int, inner: str, iterator: str):
    """or := and ('||' and)* — returns (dnf, next_pos)."""
    dnf, i = _parse_and(body, i, inner, iterator)
    while True:
        i = _skip_ws(body, i)
        if not body.startswith("||", i):
            return dnf, i
        rhs, i = _parse_and(body, i + 2, inner, iterator)
        dnf = dnf + rhs


def _parse_and(body: str, i: int, inner: str, iterator: str):
    """and := atom ('&&' atom)* — AND of DNFs distributes (cartesian
    product of conjunctions)."""
    dnf, i = _parse_atom(body, i, inner, iterator)
    while True:
        i = _skip_ws(body, i)
        if not body.startswith("&&", i):
            return dnf, i
        rhs, i = _parse_atom(body, i + 2, inner, iterator)
        dnf = tuple(a + b for a in dnf for b in rhs)


def _parse_atom(body: str, i: int, inner: str, iterator: str):
    """atom := '(' or ')' | term — a term runs to the next top-level
    connective or closing paren (quote-aware)."""
    i = _skip_ws(body, i)
    if i < len(body) and body[i] == "(":
        dnf, i = _parse_or(body, i + 1, inner, iterator)
        i = _skip_ws(body, i)
        if i >= len(body) or body[i] != ")":
            raise SourceError(
                f"unsupported JSONPath filter [{inner}] in {iterator!r}: "
                "unbalanced parentheses in predicate")
        return dnf, i + 1
    start, quote = i, None
    while i < len(body):
        ch = body[i]
        if quote:
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
        elif ch == ")" or body.startswith("&&", i) or body.startswith("||", i):
            break
        i += 1
    term = body[start:i].strip()
    if not term:
        raise SourceError(
            f"unsupported JSONPath filter [{inner}] in {iterator!r}: "
            "empty predicate term")
    return ((_parse_filter_term(term, inner, iterator),),), i


# bare (unquoted) bracket field name, jsonpath_ng-style: [f] / [f,g].
# No leading digit/'-' (those parse as indexes) and no ':' (slices).
_BARE_FIELD_RE = re.compile(r"^[A-Za-z_$][A-Za-z0-9_$\-]*$")


def _split_union(inner: str) -> Optional[List[str]]:
    """Split a bracket body on top-level commas (quote-aware); None when
    there is no comma outside quotes."""
    parts, buf, quote = [], [], None
    for ch in inner:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
            buf.append(ch)
        elif ch == ",":
            parts.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    if not parts:
        return None
    parts.append("".join(buf).strip())
    return parts


def _parse_bracket(inner: str, iterator: str) -> tuple:
    """One ``[...]`` step body → parsed step tuple."""
    if inner in ("*", "'*'", '"*"'):
        return ("explode", None)
    union = _split_union(inner)
    if union is not None:
        # union step [a,b]: all-quoted fields or all-int indexes
        if all(len(p) >= 2 and p[0] == p[-1] and p[0] in "'\""
               for p in union):
            return ("union_fields", tuple(p[1:-1] for p in union))
        if all(p.lstrip("-").isdigit() for p in union):
            return ("union_indexes", tuple(int(p) for p in union))
        if all(_BARE_FIELD_RE.match(p) for p in union):
            # jsonpath_ng accepts bare identifiers in brackets: [f,g]
            return ("union_fields", tuple(union))
        raise SourceError(
            f"unsupported JSONPath union [{inner}] in {iterator!r} (only "
            "all-field ['a','b'] / [a,b] or all-index [0,2] unions are "
            "supported; no mixing, no nested expressions)")
    if inner.lstrip("-").isdigit():
        return ("index", int(inner))
    if len(inner) >= 2 and inner[0] == inner[-1] and inner[0] in "'\"":
        return ("field", inner[1:-1])  # bracket-quoted field: $['a b']
    if ":" in inner:
        parts = [p.strip() for p in inner.split(":")]
        step = 1
        if len(parts) == 3:
            if parts[2] and (not parts[2].lstrip("-").isdigit()
                             or int(parts[2]) == 0):
                raise SourceError(
                    f"unsupported JSONPath slice [{inner}] (step must be "
                    "a non-zero integer)")
            step = int(parts[2]) if parts[2] else 1
            parts = parts[:2]
        if len(parts) == 2 and all(
                p == "" or p.lstrip("-").isdigit() for p in parts):
            a = int(parts[0]) if parts[0] else None
            b = int(parts[1]) if parts[1] else None
            return ("slice", (a, b, step))
        raise SourceError(f"unsupported JSONPath slice [{inner}]")
    if _BARE_FIELD_RE.match(inner):
        return ("field", inner)  # jsonpath_ng bare bracket field: $.a[f]
    raise SourceError(
        f"unsupported JSONPath step [{inner}] in {iterator!r} (nested "
        "expressions are outside the supported subset)")


def _parse_jsonpath_steps(iterator: str) -> List[tuple]:
    """Parse the JSONPath subset ``$.a.b[*]``, ``$[*]``, ``$.a[0]``,
    ``$..name`` (recursive descent to a named field), ``$['a b']``
    (bracket-quoted fields), ``$.a[1:3]`` / ``$.a[1:9:2]`` (slices,
    any non-zero step incl. negative / ``[::-1]`` reversal), and
    ``$.a[?(...)]`` filter predicates — terms
    ``@.f <op> lit``, ``@.f =~ 'regex'``, ``@.a <op> @.b``, existence
    ``@.f``, with mixed field/index term paths like ``@.f[0].g`` —
    joined by ``&&``/``||`` connectives ('&&' binds tighter, OR of
    ANDs) and parenthesized grouping (distributed to DNF at parse time),

    plus field unions ``['a','b']`` and index unions ``[0,2]`` (Python
    negative-index semantics).

    Returns list of ("field", name) | ("explode", None) | ("index", i)
    | ("descend", name) | ("slice", (a, b, step)) | ("filter", dnf) with
    dnf = ((term, ...), ...) and term = (fields, op, lit)
    | ("union_fields", names) | ("union_indexes", ints).

    Everything outside the subset — nested ``[?()]``, slices inside
    filter term paths, mixed field/index unions, wildcard descent
    ``$..*`` — raises :class:`SourceError` LOUDLY (the reference
    accepts full
    ``jsonpath_ng`` grammar, pyrml_core.py:886-894; a silent mis-parse
    would drop or misroute rows, so unsupported grammar must never be
    guessed at).
    """
    it = iterator.strip()
    if not it.startswith("$"):
        raise SourceError(f"unsupported JSONPath iterator {iterator!r}")
    it = it[1:]
    steps: List[tuple] = []
    i = 0
    while i < len(it):
        ch = it[i]
        if ch == ".":
            descend = i + 1 < len(it) and it[i + 1] == "."
            j = i + (2 if descend else 1)
            start = j
            while j < len(it) and it[j] not in ".[":
                j += 1
            name = it[start:j]
            if descend:
                if not name or name == "*":
                    raise SourceError(
                        f"unsupported JSONPath descent {iterator!r} "
                        "(only '$..name' is supported)")
                steps.append(("descend", name))
            elif name:
                steps.append(("field", name))
            else:
                raise SourceError(
                    f"unsupported JSONPath step at '.' in {iterator!r}")
            i = j
        elif ch == "[":
            if i + 1 < len(it) and it[i + 1] == "?":
                # predicate: scan to the matching ')]' (literal strings in
                # predicates never contain ')]')
                j = it.find(")]", i)
                if j < 0:
                    raise SourceError(
                        f"unterminated JSONPath filter in {iterator!r}")
                steps.append(_parse_predicate(it[i + 1 : j + 1], iterator))
                i = j + 2
            else:
                j = it.index("]", i)
                steps.append(_parse_bracket(it[i + 1 : j].strip(), iterator))
                i = j + 1
        else:
            raise SourceError(f"unsupported JSONPath iterator {iterator!r}")
    return steps


def _nav_col(base: Column, steps) -> Column:
    """Walk a mixed field/index path from ``base`` (str → getField,
    int → Python-semantics array index; out of range → NULL)."""
    c = base
    for s in steps:
        c = _get_idx(c, s) if isinstance(s, int) else c.getField(s)
    return c


def _filter_predicate(fields, op, lit):
    """Element-level predicate builder for ``F.filter`` (closure factory —
    see the arity note on higher-order-function lambdas)."""
    def pred(x: Column) -> Column:
        c = _nav_col(x, fields)
        if op is None:
            return c.isNotNull()
        if lit is None:
            return c.isNull() if op == "==" else c.isNotNull()
        if op == "=~":
            # Java-regex search semantics (rlike is unanchored), matching
            # jsonpath_ng ext's re.search on the common pattern subset
            return c.rlike(lit)
        if isinstance(lit, tuple) and lit[0] == _REF:
            lcol = _nav_col(x, lit[1])
            # a null/missing rhs is jsonpath no-match: EVERY op (incl.
            # !=) yields false — mirrors _term in sparql_source's
            # Python evaluator, which returns False when _dig(rhs) is
            # None; the isNotNull guards below pin that for !=
            base = {"==": c == lcol,
                    "!=": (c != lcol) & c.isNotNull() & lcol.isNotNull(),
                    "<": c < lcol, "<=": c <= lcol,
                    ">": c > lcol, ">=": c >= lcol}[op]
            return base
        lcol = F.lit(lit)
        return {"==": c == lcol, "!=": (c != lcol) & c.isNotNull(),
                "<": c < lcol, "<=": c <= lcol,
                ">": c > lcol, ">=": c >= lcol}[op]
    return pred


def _dnf_elem_pred(dnf, elem_type: T.DataType):
    """Closure factory for ``F.filter`` lambdas (pyspark inspects the
    lambda's positional arity — no extra defaulted params allowed)."""
    def pred(x: Column) -> Column:
        return _dnf_condition(
            dnf, elem_type, lambda f, o, l: _filter_predicate(f, o, l)(x))
    return pred


def _path_type(dtype: T.DataType, fields) -> Optional[T.DataType]:
    """Resolved type of ``@.f1[i].f2...`` through ``dtype``, or None when
    a step dereferences a non-object (str step) / non-array (int step) or
    a missing field."""
    for fld in fields:
        if isinstance(fld, int):
            if not isinstance(dtype, T.ArrayType):
                return None
            dtype = dtype.elementType
            continue
        if not isinstance(dtype, T.StructType) or fld not in dtype.fieldNames():
            return None
        dtype = dtype[fld].dataType
    return dtype


def _navigable(dtype: T.DataType, fields) -> bool:
    """Whether ``@.f1.f2...`` resolves through ``dtype``. jsonpath_ng yields
    NO match when a step dereferences a non-object (so the term is false,
    never an error) — and Spark's empty-array schema inference types ``[]``
    as ``array<string>``, which would otherwise blow up ``getField``."""
    return _path_type(dtype, fields) is not None


def _term_navigable(dtype: T.DataType, fields, op, lit) -> bool:
    """Schema gate for one predicate term: the lhs path must resolve; a
    ``@.b`` rhs must resolve too; ``=~`` needs a string lhs (jsonpath_ng's
    re.search over a non-string yields no match, never an error)."""
    lt = _path_type(dtype, fields)
    if lt is None:
        return False
    if op == "=~" and not isinstance(lt, T.StringType):
        return False
    if isinstance(lit, tuple) and lit and lit[0] == _REF:
        return _navigable(dtype, lit[1])
    return True


def _dnf_condition(dnf, dtype: T.DataType, leaf) -> Column:
    """OR-of-ANDs predicate over element/row ``leaf(fields, op, lit)``
    builders; terms whose field path does not resolve in ``dtype`` are
    statically false (jsonpath no-match semantics)."""
    cond = None
    for conj in dnf:
        cc = None
        for fields, op, lit in conj:
            t = (leaf(fields, op, lit)
                 if _term_navigable(dtype, fields, op, lit)
                 else F.lit(False))
            cc = t if cc is None else (cc & t)
        cond = cc if cond is None else (cond | cc)
    return cond


def _slice_col(col: Column, a: Optional[int], b: Optional[int]) -> Column:
    """Python-slice semantics (clamped, negatives from the end) over an
    array column — start/end resolved against ``size`` JVM-side."""
    n = F.size(col)
    if a is None:
        start = F.lit(0)
    elif a >= 0:
        start = F.least(F.lit(a), n)
    else:
        start = F.greatest(n + F.lit(a), F.lit(0))
    if b is None:
        end = n
    elif b >= 0:
        end = F.least(F.lit(b), n)
    else:
        end = F.greatest(n + F.lit(b), F.lit(0))
    length = F.greatest(end - start, F.lit(0))
    return F.slice(col, start + F.lit(1), length)


def _slice_col_rev(col: Column, a: Optional[int], b: Optional[int],
                   step: int) -> Column:
    """Python NEGATIVE-step slice semantics ``x[a:b:s]`` (s < 0) over an
    array column, all JVM-side: normalize start/stop exactly like
    ``slice(a, b, s).indices(n)`` (start defaults to n-1, stop to
    "through index 0", clamps to [-1, n-1]), keep the arithmetic-
    progression members with an indexed ``F.filter`` (ascending), then
    ``F.reverse`` restores the descending traversal order."""
    n = F.size(col)
    if a is None:
        start = n - F.lit(1)
    elif a >= 0:
        start = F.least(F.lit(a), n - F.lit(1))
    else:
        start = F.greatest(n + F.lit(a), F.lit(-1))
    if b is None:
        stop = F.lit(-1)
    elif b >= 0:
        stop = F.least(F.lit(b), n - F.lit(1))
    else:
        stop = F.greatest(n + F.lit(b), F.lit(-1))
    k = -step
    kept = F.filter(col, lambda x, i: (i <= start) & (i > stop)
                    & ((start - i) % k == 0))
    return F.reverse(kept)


def _get_idx(col: Column, i: int) -> Column:
    """Python-semantics array index: negatives count from the end, out of
    range → NULL (``F.get`` stays NULL-safe even under ANSI mode, unlike
    ``getItem``/``element_at``; plain ``getItem(-1)`` silently NULLs every
    negative index)."""
    if i >= 0:
        return F.get(col, i)
    return F.get(col, F.size(col) + F.lit(i))


def _explode_union(cols: List[Column], iterator: str) -> Column:
    """Union-step fan-out: the selected values in listed order, absent ones
    (schema-null) omitted like jsonpath_ng omits missing keys/indexes.
    (A container position that is EXPLICITLY null in the data is omitted
    too — Spark cannot distinguish it from an absent key; containers are
    what iterators address, so this does not drop real values.)"""
    return F.explode(F.filter(F.array(*cols), lambda x: x.isNotNull()))


def _descend_programs(dtype, name: str) -> List[List[tuple]]:
    """All access programs from ``dtype`` to fields named ``name`` at any
    depth (schema-driven recursive descent — the DataFrame schema plays the
    role of the document tree, so ``$..x`` compiles to a finite union of
    static column programs). A program is a list of ("get", field) |
    ("unroll", None)."""
    out: List[List[tuple]] = []
    if isinstance(dtype, T.StructType):
        for f in dtype.fields:
            if f.name == name:
                out.append([("get", f.name)])
            for p in _descend_programs(f.dataType, name):
                out.append([("get", f.name)] + p)
    elif isinstance(dtype, T.ArrayType):
        for p in _descend_programs(dtype.elementType, name):
            out.append([("unroll", None)] + p)
    return out


def _apply_descend(df: DataFrame, node, name: str) -> DataFrame:
    """Apply ``..name`` to the current node: enumerate every schema path to
    a field called ``name``, build one branch DataFrame per path (struct
    gets + array explodes), union them. Result column: ``__node__``."""
    if node is None:
        base = df.select(F.struct(*df.columns).alias("__node__"))
    else:
        base = df.select(node.alias("__node__"))
    programs = _descend_programs(base.schema["__node__"].dataType, name)
    if not programs:
        raise SourceError(
            f"JSONPath descent '$..{name}': no field named {name!r} "
            "anywhere in the document schema")
    branches = []
    for prog in programs:
        b, col = base, F.col("__node__")
        for kind, arg in prog:
            if kind == "get":
                col = col.getField(arg)
            else:
                b = b.select(F.explode(col).alias("__node__"))
                col = F.col("__node__")
        branches.append(b.select(col.alias("__node__")))
    types = {b.schema["__node__"].dataType.simpleString() for b in branches}
    if len(types) > 1:
        raise SourceError(
            f"JSONPath descent '$..{name}' matches fields of differing "
            f"types {sorted(types)}; disambiguate with an explicit path")
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def load_json_source(
    spark: SparkSession, path: str, iterator: Optional[str]
) -> DataFrame:
    """JSON + JSONPath-iterator subset → flattened DataFrame.

    ``spark.read.json(multiLine)`` yields one row per top-level value; the
    iterator's ``.field`` steps become struct access and ``[*]`` becomes
    ``explode`` — all JVM-side (SURVEY.md S3)."""
    df = _read_file(spark, "json", path, **_JSON_OPTIONS)
    return apply_json_iterator(df, iterator)


def apply_json_iterator(df: DataFrame, iterator: Optional[str]) -> DataFrame:
    """Compile the JSONPath-subset iterator over an already-built JSON
    DataFrame (one row per top-level value). Pure Column/`explode`
    transforms, so it works identically on batch and streaming inputs
    (streaming RML, `streaming/rml_stream.py`)."""
    node = None  # None means "the whole row struct"
    for kind, arg in _parse_jsonpath_steps(iterator or "$"):
        if kind == "field":
            node = F.col("`" + arg + "`") if node is None else node.getField(arg)
            df = df.select(node.alias("__node__"))
            node = F.col("__node__")
        elif kind == "explode":
            if node is None:
                # top-level array: spark.read.json already iterates elements
                continue
            df = df.select(F.explode("__node__").alias("__node__"))
            node = F.col("__node__")
        elif kind == "index":
            if node is None:
                raise SourceError("top-level [n] unsupported")
            df = df.select(
                _get_idx(F.col("__node__"), arg).alias("__node__"))
            node = F.col("__node__")
        elif kind == "union_fields":
            if node is None:
                cols = [F.col("`" + f.replace("`", "``") + "`")
                        for f in arg if f in df.columns]
            else:
                dt = df.schema["__node__"].dataType
                names = (dt.fieldNames()
                         if isinstance(dt, T.StructType) else [])
                cols = [F.col("__node__").getField(f)
                        for f in arg if f in names]
            if not cols:
                raise SourceError(
                    f"JSONPath union fields {list(arg)} match nothing in "
                    "the source schema")
            sch = (df.schema["__node__"].dataType
                   if node is not None else df.schema)
            types = {str(sch[f].dataType) for f in arg
                     if f in sch.fieldNames()}
            if len(types) > 1:
                raise SourceError(
                    f"JSONPath union fields {list(arg)} have incompatible "
                    f"types {sorted(types)} — one output column cannot "
                    "carry both")
            df = df.select(_explode_union(cols, iterator).alias("__node__"))
            node = F.col("__node__")
        elif kind == "union_indexes":
            if node is None:
                raise SourceError("top-level [i,j] unsupported")
            cols = [_get_idx(F.col("__node__"), i) for i in arg]
            df = df.select(_explode_union(cols, iterator).alias("__node__"))
            node = F.col("__node__")
        elif kind == "filter":
            if node is None:
                # top-level array: rows ARE the elements — filter rows.
                # The leaf gets a row STRUCT as its element so @-to-@
                # right-hand paths navigate from the row, not the lhs.
                row = F.struct(*[
                    F.col("`" + c.replace("`", "``") + "`").alias(c)
                    for c in df.columns])

                def _row_leaf(fields, op, lit):
                    return _filter_predicate(fields, op, lit)(row)
                df = df.filter(_dnf_condition(arg, df.schema, _row_leaf))
                continue
            elem_t = df.schema["__node__"].dataType
            if not isinstance(elem_t, T.ArrayType):
                raise SourceError(
                    f"JSONPath filter applied to non-array node in "
                    f"{iterator!r}")
            df = df.select(
                F.explode(F.filter(
                    "__node__", _dnf_elem_pred(arg, elem_t.elementType)))
                .alias("__node__"))
            node = F.col("__node__")
        elif kind == "slice":
            if node is None:
                raise SourceError(
                    "top-level slice '$[a:b]' unsupported: a distributed "
                    "JSON read has no stable element order to slice on")
            a, b, step = arg
            if step > 0:
                sliced = _slice_col(F.col("__node__"), a, b)
                if step != 1:
                    # Python [a:b:s]: every s-th element of [a:b]
                    sliced = F.filter(sliced,
                                      lambda x, i: i % step == 0)
            else:
                sliced = _slice_col_rev(F.col("__node__"), a, b, step)
            df = df.select(F.explode(sliced).alias("__node__"))
            node = F.col("__node__")
        elif kind == "descend":
            df = _apply_descend(df, node, arg)
            node = F.col("__node__")
    if node is not None:
        dt = df.schema["__node__"].dataType
        if isinstance(dt, T.StructType):
            df = df.select("__node__.*")
        else:
            df = df.select(F.col("__node__").alias("value"))
    return _flatten_struct_cols(df)


def _et_xpath(iterator: Optional[str]) -> str:
    """Absolute XPath → ElementTree-relative (ET roots at the document root;
    '/a/b' addresses b under root a, '//x' → './/x')."""
    xpath = iterator or "./*"
    if xpath.startswith("//"):
        return "." + xpath
    if xpath.startswith("/"):
        rest = "/".join(xpath.strip("/").split("/")[1:])
        return ("./" + rest) if rest else "."
    return xpath


def _xml_namespaces(content: str) -> Dict[str, str]:
    """Namespace prefix map extracted from the document itself (the
    reference derives its ns map the same way, pyrml_core.py:856-872)."""
    import io
    import xml.etree.ElementTree as ET

    ns: Dict[str, str] = {}
    for _, (prefix, uri) in ET.iterparse(io.StringIO(content),
                                         events=("start-ns",)):
        ns[prefix or ""] = uri
    ns.pop("", None)  # ET.findall rejects the empty prefix
    return ns


def _xml_rows(content: str, xpath: str) -> List[dict]:
    """Parse one XML document string → row dicts (attributes + child-element
    text, namespace prefixes stripped from column names like pd.read_xml)."""
    import xml.etree.ElementTree as ET

    root = ET.fromstring(content)
    ns = _xml_namespaces(content)
    rows = []
    for el in root.findall(xpath, ns):
        row = {k.split("}", 1)[-1]: v for k, v in el.attrib.items()}
        for child in el:
            tag = child.tag.split("}", 1)[-1]
            row[tag] = (child.text or "").strip()
        rows.append(row)
    return rows


# how many files of an XML directory the driver-side schema probe unions
_XML_PROBE_FILES = 8


def load_xml_source(
    spark: SparkSession, path: str, iterator: Optional[str]
) -> DataFrame:
    """Distributed XML source (S4). Reference: pd.read_xml with an
    xpath + document-derived namespace map (pyrml_core.py:896-900, ns
    extraction :856-872).

    Spark-side: each file is one ``wholetext`` row; parsing (ElementTree +
    XPath + namespaces) runs on EXECUTORS inside ``mapInPandas`` — the scan
    parallelizes across files, which is the realistic 100 TB layout (many
    XML documents), and the driver never holds document contents. The schema
    is probed driver-side from the column UNION of a bounded file sample
    (``_XML_PROBE_FILES``, default 8 — the reference's per-file pd.read_xml
    unions columns across every file); directories whose later files
    introduce columns absent from the whole sample still lose those columns,
    so the executor parser warns when it meets an element outside the probed
    schema. All-string columns match the reference's CSV/XML dtype=str
    semantics."""
    import glob as _glob

    import pandas as pd

    xpath = _et_xpath(iterator)
    if os.path.isfile(path):
        probe_files = [path]
    else:
        matches = sorted(_glob.glob(os.path.join(path, "*"))) or [path]
        probe_files = matches[:_XML_PROBE_FILES]
    col_set: set = set()
    for probe_file in probe_files:
        with open(probe_file, encoding="utf-8") as f:
            col_set.update(
                k for r in _xml_rows(f.read(), xpath) for k in r)
    cols = sorted(col_set)
    if not cols:
        return spark.createDataFrame([], T.StructType([]))
    schema = T.StructType([T.StructField(c, T.StringType()) for c in cols])

    raw = spark.read.text(path, wholetext=True)

    def parse(batches):
        import warnings

        col_lookup = set(cols)
        for pdf in batches:
            data = {c: [] for c in cols}
            unknown: set = set()
            for content in pdf["value"]:
                for row in _xml_rows(content, xpath):
                    unknown.update(k for k in row if k not in col_lookup)
                    for c in cols:
                        v = row.get(c)
                        data[c].append(None if v is None else str(v))
            if unknown:
                # executor-side stderr; the probed sample missed these
                warnings.warn(
                    f"XML source {path}: elements {sorted(unknown)} not in "
                    f"the probed schema (first {_XML_PROBE_FILES} files) — "
                    "values dropped; raise pyrml_spark.sources."
                    "_XML_PROBE_FILES to widen the probe")
            yield pd.DataFrame(data, dtype=object)

    return raw.mapInPandas(parse, schema)


class SourceLoader:
    """Loads and memoizes logical sources per loader (reference: one read
    per source id, pyrml_core.py:875-876). Raw reader schemas are memoized
    per session across loaders (module docstring)."""

    def __init__(self, spark: SparkSession, search_roots: Optional[List[str]] = None):
        self.spark = spark
        self.search_roots = search_roots or []
        self._cache: Dict[tuple, DataFrame] = {}

    def load(self, ls: LogicalSource) -> DataFrame:
        key = ls.cache_key()
        if key in self._cache:
            return self._cache[key]
        df = self._load(ls)
        self._cache[key] = df
        return df

    def path(self, ls: LogicalSource) -> str:
        """The file ``ls`` reads: its source as given, else under a search
        root, else its basename under a search root (``_find_file``)."""
        return _find_file(ls.source, self.search_roots)

    def _load(self, ls: LogicalSource) -> DataFrame:
        spark = self.spark
        if ls.kind in ("csv", "csvw"):
            path = self.path(ls)
            # benchmark-scale single files scan as ONE partition, starving
            # the whole term-map pipeline of parallelism (pyrml_spark.scan)
            return parallelize_scan(
                spark, _read_file(spark, "csv", path, **reader_options(ls)),
                path)
        if ls.kind == "json":
            return load_json_source(spark, self.path(ls), ls.iterator)
        if ls.kind == "xml":
            return load_xml_source(spark, self.path(ls), ls.iterator)
        if ls.kind == "parquet":
            path = self.path(ls)
            return parallelize_scan(
                spark, _read_file(spark, "parquet", path), path)
        if ls.kind == "table":
            return spark.read.table(ls.source)
        if ls.kind == "sql":
            # rr:tableName / rr:sqlQuery over a JDBC DSN
            # (pyrml_core.py:939-963). Executed end-to-end in this sandbox
            # against embedded Derby (ships with Spark) —
            # test_sql_source_executes_via_embedded_derby; any JDBC driver
            # on the executor classpath works the same way.
            if not ls.source:
                raise SourceError("SQL source requires a d2rq:jdbcDSN url")
            reader = spark.read.format("jdbc").option("url", ls.source)
            if ls.query:
                reader = reader.option("query", ls.query)
            elif ls.iterator:
                reader = reader.option("dbtable", ls.iterator)
            return reader.load()
        if ls.kind == "sparql":
            # sd:endpoint + rml:query (+ sd:resultFormat, rml:iterator) —
            # pyrml_core.py:906-938. Single stdlib-urllib fetch by default;
            # PYRML_SPARQL_PAGE_SIZE enables the executor-parallel
            # LIMIT/OFFSET fan-out (see sparql_source module docstring).
            from .sparql_source import load_sparql_source

            page = os.environ.get("PYRML_SPARQL_PAGE_SIZE")
            return load_sparql_source(
                spark, ls.source, ls.query,
                result_format=ls.result_format, iterator=ls.iterator,
                page_size=int(page) if page else None,
            )
        raise SourceError(f"unknown logical source kind {ls.kind!r}")
