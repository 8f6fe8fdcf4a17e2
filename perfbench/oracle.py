"""Independent correctness checks in DuckDB, run outside the timed window.

Expected figures are computed from the generated input files with plain
SQL that follows the RML / alias-rule semantics, never by running the
engine; the engine's outputs are read back from the files it wrote.

* :func:`star_expected` / :func:`kg_expected` — per-predicate distinct
  triple counts from the inputs.
* :func:`table_counts` — per-predicate row and distinct counts of a
  written triples table, plus an order-independent content hash.
* :class:`QueryOracle` — the row count each SPARQL query of the mix must
  return, computed over the written table.
"""

from __future__ import annotations

import duckdb

RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
OWL_SAMEAS = "<http://www.w3.org/2002/07/owl#sameAs>"
EX = "http://ex.com/"
KGP = "http://kg.ex/p/"


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def star_expected(con, d: str) -> dict:
    """Per-predicate distinct (s, o) counts the star mapping must yield."""
    con.execute(f"""
        CREATE OR REPLACE TEMP VIEW li AS
          SELECT DISTINCT * FROM read_csv('{d}/lineitem.csv', header=true,
                                          all_varchar=true);
        CREATE OR REPLACE TEMP VIEW orders AS
          SELECT * FROM read_parquet('{d}/orders.parquet');
        CREATE OR REPLACE TEMP VIEW customer AS
          SELECT * FROM read_parquet('{d}/customer.parquet');
        CREATE OR REPLACE TEMP VIEW part AS
          SELECT * FROM read_parquet('{d}/part.parquet');
        CREATE OR REPLACE TEMP VIEW supplier AS
          SELECT * FROM read_parquet('{d}/supplier.parquet');
        CREATE OR REPLACE TEMP VIEW nation AS
          SELECT * FROM read_json_auto('{d}/nation.json');
    """)

    def one(sql: str) -> int:
        return con.execute(sql).fetchone()[0]

    n_li = one("SELECT count(*) FROM (SELECT DISTINCT l_orderkey, "
               "l_linenumber FROM li)")
    n_o, n_c, n_p, n_s, n_n = (one(f"SELECT count(*) FROM {t}") for t in
                               ("orders", "customer", "part", "supplier",
                                "nation"))
    p = lambda local: f"<{EX}{local}>"  # noqa: E731
    return {
        RDF_TYPE: n_li + n_o + n_c + n_p + n_s + n_n,
        p("order"): one("SELECT count(DISTINCT (l_orderkey, l_linenumber)) "
                        "FROM li JOIN orders ON CAST(l_orderkey AS BIGINT) "
                        "= o_orderkey"),
        p("part"): one("SELECT count(DISTINCT (l_orderkey, l_linenumber)) "
                       "FROM li JOIN part ON CAST(l_partkey AS BIGINT) "
                       "= p_partkey"),
        p("supplier"): n_li, p("quantity"): n_li, p("price"): n_li,
        p("shipmode"): n_li, p("dataset"): n_li,
        p("comment"): one("SELECT count(DISTINCT (l_orderkey, l_linenumber)) "
                          "FROM li WHERE l_comment IS NOT NULL"),
        p("customer"): n_o, p("orderdate"): n_o, p("totalprice"): n_o,
        p("name"): n_c + n_p + n_s + n_n,
        p("segment"): n_c,
        p("nation"): one("SELECT count(*) FROM customer JOIN nation "
                         "ON c_nationkey = n_nationkey"),
        p("typeWord"): one("SELECT count(DISTINCT (p_partkey, w)) FROM part, "
                           "unnest(string_split(p_type, ' ')) AS t(w)"),
        p("retailprice"): n_p, p("nationRef"): n_s, p("region"): n_n,
    }


def kg_expected(con, docs_dir: str) -> dict:
    """Per-predicate distinct counts of the north-rule KG, from the alias
    rule: ``X_aka -> X``, ``X_aka2 -> X_aka`` (and the implied middle
    ``X_aka -> X``); every component's canonical label is its
    lexicographic minimum, the bare ``X``."""
    con.execute(f"""
        CREATE OR REPLACE TEMP VIEW spans AS
          SELECT doc_id, unnest(spans) AS sp
          FROM read_parquet('{docs_dir}/*.parquet');
        CREATE OR REPLACE TEMP VIEW ment AS
          SELECT doc_id, 'person' AS etype, unnest(regexp_extract_all(
                   sp.text, 'PERSON:([A-Za-z0-9_]+)', 1)) AS surface
          FROM spans WHERE sp.kind = 'text'
          UNION ALL
          SELECT doc_id, 'place', unnest(regexp_extract_all(
                   sp.text, 'PLACE:([A-Za-z0-9_]+)', 1))
          FROM spans WHERE sp.kind = 'text';
        CREATE OR REPLACE TEMP VIEW canon AS
          SELECT doc_id, etype, surface,
                 CASE WHEN etype = 'person'
                      THEN regexp_replace(surface, '_aka2?$', '')
                      ELSE surface END AS canon
          FROM ment;
        CREATE OR REPLACE TEMP VIEW aliases AS
          SELECT DISTINCT surface AS node FROM ment
          WHERE etype = 'person' AND regexp_matches(surface, '_aka2?$')
          UNION
          SELECT DISTINCT regexp_replace(surface, '_aka2$', '_aka')
          FROM ment WHERE etype = 'person' AND surface LIKE '%\\_aka2'
                                                   ESCAPE '\\';
        CREATE OR REPLACE TEMP VIEW media AS
          SELECT doc_id, sp.kind AS kind, sp.media_ref AS ref
          FROM spans WHERE sp.kind <> 'text';
    """)

    def one(sql: str) -> int:
        return con.execute(sql).fetchone()[0]

    p = lambda local: f"<{KGP}{local}>"  # noqa: E731
    return {
        p("mentions"): one("SELECT count(DISTINCT (doc_id, etype, canon)) "
                           "FROM canon"),
        RDF_TYPE: one("SELECT count(DISTINCT (etype, canon)) FROM canon"),
        p("surface"): one("SELECT count(DISTINCT (etype, surface)) FROM canon"),
        OWL_SAMEAS: one("SELECT count(*) FROM aliases"),
        p("hasMedia"): one("SELECT count(DISTINCT (doc_id, ref)) FROM media"),
        p("mediaKind"): one("SELECT count(DISTINCT (ref, kind)) FROM media"),
    }


def table_counts(con, table_dir: str) -> dict:
    """``{"by_p": {p: (rows, distinct)}, "rows": n, "hash": h}`` of a
    written (s, p, o, g) table (any partition layout)."""
    src = f"read_parquet('{table_dir}/**/*.parquet', hive_partitioning=false)"
    by_p = {p: (n, nd) for p, n, nd in con.execute(
        f"SELECT p, count(*), count(DISTINCT (s, o, g)) FROM {src} "
        "GROUP BY p").fetchall()}
    rows, h = con.execute(
        f"SELECT count(*), sum(hash(s, p, o, coalesce(g, '')) % 1000000007) "
        f"FROM {src}").fetchone()
    return {"by_p": by_p, "rows": rows, "hash": int(h or 0)}


def compare_counts(expected: dict, got: dict) -> list:
    """Mismatch descriptions (empty when the table is right): every
    predicate's rows must equal its distinct count (set semantics) and the
    expected figure, and no unexpected predicate may appear."""
    bad = []
    for p, want in sorted(expected.items()):
        rows, distinct = got["by_p"].get(p, (0, 0))
        if rows != want or distinct != want:
            bad.append(f"{p}: rows={rows} distinct={distinct} want={want}")
    for p in sorted(set(got["by_p"]) - set(expected)):
        bad.append(f"unexpected predicate {p}")
    return bad


def _lex(col: str) -> str:
    """Lexical form of an encoded literal: between the first and the last
    double quote (drops the language tag or datatype)."""
    return f"regexp_extract({col}, '^\"(.*)\"', 1)"


class QueryOracle:
    """Expected row counts for the SPARQL mix over one written table."""

    def __init__(self, con, table_dir: str):
        self.con = con
        con.execute(
            "CREATE OR REPLACE TEMP TABLE t AS SELECT s, p, o, g FROM "
            f"read_parquet('{table_dir}/**/*.parquet', hive_partitioning=false)")
        self._cache = {}

    def _one(self, sql: str) -> int:
        return self.con.execute(sql).fetchone()[0]

    def rows(self, shape: str, params: dict) -> int:
        key = (shape, tuple(sorted(params.items())))
        if key not in self._cache:
            self._cache[key] = self._one(getattr(self, "_" + params["kind"])(
                **{k: v for k, v in params.items() if k != "kind"}))
        return self._cache[key]

    # -- shapes shared by both graphs -----------------------------------
    @staticmethod
    def _by_s(s):
        return f"SELECT count(*) FROM t WHERE s = {_q(s)}"

    @staticmethod
    def _by_po(p, o):
        return f"SELECT count(*) FROM t WHERE p = {_q(p)} AND o = {_q(o)}"

    # -- KG graph ---------------------------------------------------------
    @staticmethod
    def _kg_bgp_filter(prefix):
        return (f"SELECT count(*) FROM t m JOIN t x ON x.s = m.o "
                f"WHERE m.p = {_q(f'<{KGP}mentions>')} "
                f"AND x.p = {_q(f'<{KGP}surface>')} "
                f"AND starts_with({_lex('x.o')}, {_q(prefix)})")

    @staticmethod
    def _kg_agg(o, cls):
        m = _q(f"<{KGP}mentions>")
        return (f"SELECT count(DISTINCT b.o) FROM t a JOIN t b ON b.s = a.s "
                f"JOIN t c ON c.s = b.o WHERE a.p = {m} AND a.o = {_q(o)} "
                f"AND b.p = {m} AND c.p = {_q(RDF_TYPE)} AND c.o = {_q(cls)}")

    @staticmethod
    def _kg_optional(s):
        return (f"SELECT count(*) FROM (SELECT o FROM t WHERE s = {_q(s)} "
                f"AND p = {_q(f'<{KGP}mentions>')}) m LEFT JOIN "
                f"(SELECT s, o FROM t WHERE p = {_q(f'<{KGP}surface>')} AND "
                f"ends_with({_lex('o')}, '_aka')) x ON x.s = m.o")

    @staticmethod
    def _kg_notexists(place, person):
        m = _q(f"<{KGP}mentions>")
        return (f"SELECT count(*) FROM t a WHERE a.p = {m} "
                f"AND a.o = {_q(place)} AND NOT EXISTS (SELECT 1 FROM t b "
                f"WHERE b.s = a.s AND b.p = {m} AND b.o = {_q(person)})")

    @staticmethod
    def _closure(start, fwd):
        a, b = ("s", "o") if fwd else ("o", "s")
        p = _q(OWL_SAMEAS)
        return (f"WITH RECURSIVE r(n) AS (SELECT {b} FROM t WHERE p = {p} "
                f"AND {a} = {_q(start)} UNION SELECT t.{b} FROM r JOIN t "
                f"ON t.{a} = r.n AND t.p = {p}) SELECT count(DISTINCT n) FROM r")

    # -- star graph -------------------------------------------------------
    @staticmethod
    def _star_bgp_filter(part, qmin):
        return (f"SELECT count(*) FROM t a JOIN t b ON b.s = a.s "
                f"WHERE a.p = {_q(f'<{EX}part>')} AND a.o = {_q(part)} "
                f"AND b.p = {_q(f'<{EX}quantity>')} "
                f"AND TRY_CAST({_lex('b.o')} AS DOUBLE) > {qmin}")

    @staticmethod
    def _star_agg(customer):
        return (f"SELECT count(DISTINCT c.o) FROM t a JOIN t b ON b.s = a.o "
                f"JOIN t c ON c.s = a.s WHERE a.p = {_q(f'<{EX}order>')} "
                f"AND b.p = {_q(f'<{EX}customer>')} AND b.o = {_q(customer)} "
                f"AND c.p = {_q(f'<{EX}shipmode>')}")

    @staticmethod
    def _star_optional(order):
        return (f"SELECT count(*) FROM (SELECT s FROM t WHERE "
                f"p = {_q(f'<{EX}order>')} AND o = {_q(order)}) l LEFT JOIN "
                f"(SELECT s FROM t WHERE p = {_q(f'<{EX}comment>')}) c "
                f"ON c.s = l.s")

    @staticmethod
    def _star_notexists(order, mode):
        return (f"SELECT count(*) FROM t a WHERE a.p = {_q(f'<{EX}order>')} "
                f"AND a.o = {_q(order)} AND NOT EXISTS (SELECT 1 FROM t b "
                f"WHERE b.s = a.s AND b.p = {_q(f'<{EX}shipmode>')} "
                f"AND b.o = {_q(mode)})")

    @staticmethod
    def _star_path(order):
        return (f"SELECT count(*) FROM t a JOIN t b ON b.s = a.s "
                f"JOIN t c ON c.s = b.o WHERE a.p = {_q(f'<{EX}order>')} "
                f"AND a.o = {_q(order)} AND b.p = {_q(f'<{EX}part>')} "
                f"AND c.p = {_q(f'<{EX}typeWord>')}")
