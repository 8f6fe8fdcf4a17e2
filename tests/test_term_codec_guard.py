"""AST guard: the N-Triples term encoding is defined once, in
``rdfterms.py``. No other module under ``pyrml_spark/`` builds an escape or
an unescape, or matches encoded literals with a grammar of its own
(calls only, so docstrings that *mention* an escape don't trip it):

* no ``replace`` / ``regexp_replace`` / ``re.sub`` call with a string
  argument (bare or inside ``F.lit``) that is a backslash escape of
  ``\\``, ``"``, ``n``, ``r`` or ``t``, or a regex matching a backslash;
* no regex call whose pattern holds a piece of the literal grammar (the
  lexical body ``[^"\\``, the ``^^<`` datatype suffix or the ``"@`` tag
  suffix) — use ``NT_LITERAL_RE`` and the codec's Column forms.

The exceptions (:data:`EXEMPT`) are the lexers of source languages whose
string syntax looks alike but is their own: SPARQL and Turtle text (both
then decode through the codec), template expressions and SQL filter
strings."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "pyrml_spark"

REPLACE_CALLS = {"replace", "regexp_replace", "sub", "subn"}
REGEX_CALLS = {"compile", "match", "fullmatch", "search", "sub", "subn",
               "findall", "finditer", "rlike", "regexp", "regexp_like",
               "regexp_extract", "regexp_extract_all", "regexp_replace",
               "split"}
ESCAPES = {"\\\\", '\\"', "\\n", "\\r", "\\t"}
GRAMMAR = ('[^"\\\\', "\\^\\^<", '"@')
# (module, top-level name) of the source-language lexers
EXEMPT = {
    ("kg/sparql.py", "_TOKEN_RE"),      # SPARQL query text
    ("turtle.py", "_TOKEN_RE"),         # Turtle mapping documents
    ("template_expr.py", "_TOKEN"),     # %eval% template expressions
    ("template_expr.py", "_arg"),       # their quoted-string escapes
    ("kg/query.py", "_filter_deps"),    # SQL filter text: quote masking
}


def _name(func):
    return (func.attr if isinstance(func, ast.Attribute)
            else func.id if isinstance(func, ast.Name) else None)


def _strings(call):
    """String constants among a call's arguments, ``F.lit(x)`` unwrapped."""
    for a in [*call.args, *(k.value for k in call.keywords)]:
        if isinstance(a, ast.Call) and _name(a.func) == "lit" and a.args:
            a = a.args[0]
        if isinstance(a, ast.Constant) and isinstance(a.value, str):
            yield a.value


def _exempt_calls(tree, rel):
    """ids of the call nodes inside an exempt top-level definition."""
    out = set()
    for stmt in tree.body:
        names = ([stmt.name] if isinstance(stmt, (ast.FunctionDef,
                                                  ast.ClassDef))
                 else [t.id for t in getattr(stmt, "targets", [])
                       if isinstance(t, ast.Name)])
        if any((rel, n) in EXEMPT for n in names):
            out |= {id(n) for n in ast.walk(stmt)}
    return out


def _codec_sites(tree, rel="<src>"):
    exempt = _exempt_calls(tree, rel)
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call) or id(node) in exempt:
            continue
        name = _name(node.func)
        for s in _strings(node):
            if name in REPLACE_CALLS and (s in ESCAPES or "\\\\" in s):
                yield node.lineno, f"{name}() escape {s!r}"
            elif name in REGEX_CALLS and any(g in s for g in GRAMMAR):
                yield node.lineno, f"{name}() literal grammar {s!r}"


def test_term_encoding_only_in_the_codec():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "rdfterms.py":
            continue
        tree = ast.parse(path.read_text(encoding="utf-8"))
        offenders += [f"{rel}:{line} {what}"
                      for line, what in _codec_sites(tree, rel)]
    assert not offenders, (
        "N-Triples escapes or literal grammar outside rdfterms.py:\n"
        + "\n".join(offenders))


def test_guard_catches_codec_copies():
    """The guard is not vacuous: each banned shape is caught, and the
    regexes that are not about terms pass."""
    src = r'''
F.replace(c, F.lit("\\"), F.lit("\\\\"))
F.replace(c, F.lit('"'), F.lit('\\"'))
x.replace("\n", "\\n")
F.regexp_replace(c, r"\\(.)", "$1")
re.sub(r"\\(.)", r"\1", body)
F.regexp_extract(c, r'^"((?:[^"\\]|\\.)*)"', 1)
c.rlike(r'"@[A-Za-z0-9-]+$')
F.regexp_extract(c, r"\^\^<([^>]*)>$", 1)
F.regexp_replace(c, r"\s+", " ")
F.replace(c, F.lit("<"), F.lit("%3C"))
re.fullmatch(r"[A-Za-z]+(?:-[A-Za-z0-9]+)*", tag)
'''
    lines = [line for line, _ in _codec_sites(ast.parse(src))]
    assert sorted(set(lines)) == [2, 3, 4, 5, 6, 7, 8, 9]
