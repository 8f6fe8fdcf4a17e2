"""MappingPlan → DataFrame[s, p, o, g] compiler.

The reference executes eagerly, row-at-a-time: per TriplesMap it loads pandas
frames, evaluates term maps over numpy rows, cross-products predicates ×
objects (pyrml_core.py:643-706), positionally zips subjects with (p,o) blocks
(pyrml_core.py:1467-1502), merges joins via pandas (pyrml_core.py:1451), and
accumulates triples into an rdflib Dataset (pyrml_mapper.py:160-194).

Here each TriplesMap compiles into a declarative DataFrame pipeline that
Catalyst optimizes end-to-end:

  source scan (all-string CSV / JSON / Parquet, column-pruned)
    → crml:condition filter (translated to Spark SQL — never eval())
    → ONE wide projection: subject term + array<struct<p,o,g>> of all
      (predicate, object, graph) combinations incl. rr:class pairs
    → explode(pairs)                      [D2+D3+D4 in one shuffle-free pass]
    → per referencing-object-map: equi-join child×parent; Spark's planner
      picks broadcast or shuffle from the pruned parent's size estimate
      (spark.sql.autoBroadcastJoinThreshold), AQE splits skewed
      partitions, salt_joins salts celebrity keys                        [D5/D6]
    → unionByName across TriplesMaps                                     [D7]
    → s/p/o null drop [D9] → dropDuplicates (RDF set semantics)          [D8]

Column pruning across the mapping happens for free: every term map is a
native Column expression, so Catalyst prunes the source scan to exactly the
referenced columns (SURVEY.md §4).
"""

from __future__ import annotations

import os
import re
from collections import Counter
from functools import reduce
from typing import Dict, List, Optional, Tuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import rdfterms as R
from .model import (
    MappingPlan,
    PredicateObjectMap,
    ReferencingObjectMap,
    SubjectMap,
    TriplesMap,
)
from .plans.salting import salted_join
from .sources import SourceLoader
from .terms import CompileCtx, compile_term, render_value, raw_value

OUTPUT_SCHEMA = ["s", "p", "o", "g"]

_PAIR_STRUCT = "struct<p:string,o:string,g:string>"


class CompileError(ValueError):
    pass


# ---------------------------------------------------------------------------
# crml:condition translation (never eval() — reference does raw eval at
# pyrml_core.py:1404-1405; we translate the observed pandas-expression subset
# to Spark SQL and reject anything else loudly, SURVEY.md D1)
# ---------------------------------------------------------------------------

_FORBIDDEN = re.compile(r"__|;|\beval\b|\bexec\b|\bimport\b|\blambda\b|\bos\b")

# string literals (after df[...] column refs are rewritten) — operator
# rewrites must not reach inside them ('A&B' is a value, not a conjunction)
_STR_LIT = re.compile(r"('(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\")")


def translate_condition(cond: str) -> str:
    if _FORBIDDEN.search(cond):
        raise CompileError(f"unsupported crml:condition expression: {cond!r}")
    s = re.sub(r"df\[\s*'([^']+)'\s*\]", lambda m: f"`{m.group(1)}`", cond)
    s = re.sub(r'df\[\s*"([^"]+)"\s*\]', lambda m: f"`{m.group(1)}`", s)
    s = re.sub(r"\bdf\.([A-Za-z_]\w*)", lambda m: f"`{m.group(1)}`", s)
    parts = _STR_LIT.split(s)
    for i in range(0, len(parts), 2):  # odd indexes are quoted literals
        p = parts[i].replace("&", " AND ").replace("|", " OR ")
        parts[i] = re.sub(r"~\s*", " NOT ", p)
    return "".join(parts)


# ---------------------------------------------------------------------------


class RMLCompiler:
    def __init__(
        self,
        spark: SparkSession,
        plan: MappingPlan,
        search_roots: Optional[List[str]] = None,
        functions=None,
        salt_joins: int = 0,
        irify: bool = False,
        infer_literal_datatypes: bool = False,
    ):
        self.spark = spark
        self.plan = plan
        self.loader = SourceLoader(spark, search_roots=search_roots)
        if functions is None:
            from .functions.registry import default_registry

            functions = default_registry()
        self.functions = functions
        # explicit salting for pathological skew; AQE skew-join covers the
        # general case (SURVEY.md §4, north_rule skew requirement)
        self.salt_joins = salt_joins
        # PyRML.IRIFY equivalent (default False like the reference,
        # pyrml_api.py:703)
        self.irify = irify
        # PyRML.INFER_LITERAL_DATATYPES equivalent (default False,
        # pyrml_api.py:705): plain literals from natively-typed source
        # columns (JSON/parquet) get an inferred xsd datatype
        self.infer_literal_datatypes = infer_literal_datatypes

    # -- source handling -----------------------------------------------------
    def _source_df(self, tm: TriplesMap) -> DataFrame:
        dfs = [self.loader.load(ls) for ls in tm.sources]
        if not dfs:
            raise CompileError(f"TriplesMap {tm.iri} has no logical source")
        df = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)
        if tm.condition:
            df = df.filter(F.expr(translate_condition(tm.condition)))
        return df

    # -- term helpers ----------------------------------------------------------
    def _graph_cols(self, ctx: CompileCtx, graph_maps) -> List[Column]:
        cols = []
        for gm in graph_maps:
            tmm = gm.term_map
            if tmm.kind == "constant" and tmm.constant[0] == "iri" \
                    and tmm.constant[1] == R.RR + "defaultGraph":
                cols.append(F.lit(None).cast("string"))
            else:
                cols.append(compile_term(ctx, tmm))
        return cols

    @staticmethod
    def _effective_graphs(subject_graphs: List[Column],
                          pom_graphs: List[Column]) -> List[Column]:
        graphs = subject_graphs + pom_graphs
        return graphs if graphs else [F.lit(None).cast("string")]

    # -- per-TriplesMap compile --------------------------------------------------
    def compile_triples_map(self, tm: TriplesMap) -> List[DataFrame]:
        df = self._source_df(tm)
        ctx = CompileCtx(
            columns=df.columns,
            base_iri=self.plan.base_iri,
            functions=self.functions,
            irify=self.irify,
            dtypes=dict(df.dtypes),
            infer_literal_datatypes=self.infer_literal_datatypes,
        )
        branches: List[DataFrame] = []
        for sm in tm.subject_maps:
            branches.extend(self._compile_for_subject(tm, df, ctx, sm))
        return branches

    def _compile_for_subject(
        self, tm: TriplesMap, df: DataFrame, ctx: CompileCtx, sm: SubjectMap
    ) -> List[DataFrame]:
        # every term Column is compiled once here and shared by the plain
        # branch and the ROM joins: each compile is many Py4J round trips
        s_col = compile_term(ctx, sm.term_map)
        subject_graphs = self._graph_cols(ctx, sm.graph_maps)
        # (pom, predicate Columns, effective graph Columns)
        poms = [
            (pom, [compile_term(ctx, ptm) for ptm in pom.predicates],
             self._effective_graphs(subject_graphs,
                                    self._graph_cols(ctx, pom.graph_maps)))
            for pom in tm.poms if pom.objects or pom.ref_objects
        ]
        branches: List[DataFrame] = []

        # ---- branch 1: plain POMs + rr:class, one scan, one explode ----
        plain = self._plain_pairs_df(df, ctx, sm, s_col, subject_graphs, poms)
        if plain is not None:
            branches.append(plain)

        # ---- referencing object maps: one join per ROM ----
        for pom, p_cols, graphs in poms:
            for rom in pom.ref_objects:
                branches.append(
                    self._ref_object_df(tm, df, ctx, s_col, p_cols, rom, graphs)
                )
        return branches

    # .. plain pairs .............................................................
    def _plain_pairs_df(
        self,
        df: DataFrame,
        ctx: CompileCtx,
        sm: SubjectMap,
        s_col: Column,
        subject_graphs: List[Column],
        poms: List[Tuple[PredicateObjectMap, List[Column], List[Column]]],
    ) -> Optional[DataFrame]:
        # materialize raw object values first so we can detect array-valued
        # (multi-valued) objects from the schema — drives explode fan-out (D2)
        tmp_cols: Dict[int, str] = {}
        obj_raws: List[Tuple[int, int, object]] = []  # (pom_idx, obj_idx, tm)
        proj = df
        idx = 0
        for pi, (pom, _, _) in enumerate(poms):
            for oi, otm in enumerate(pom.objects):
                if otm.kind in ("function",):
                    name = f"__raw_{idx}"
                    idx += 1
                    proj = proj.withColumn(name, raw_value(ctx, otm))
                    tmp_cols[(pi, oi)] = name
        schema = dict(zip(proj.columns, [f.dataType for f in proj.schema.fields]))

        pair_arrays: List[Column] = []

        def pair(p: Column, o: Column, g: Column) -> Column:
            return F.struct(p.alias("p"), o.alias("o"),
                            g.cast("string").alias("g"))

        # rr:class → (rdf:type, class) pairs in the subject graphs (D4)
        class_graphs = self._effective_graphs(subject_graphs, [])
        for cls in sm.classes:
            for g in class_graphs:
                pair_arrays.append(F.array(pair(
                    F.lit(f"<{R.RDF_TYPE}>"), F.lit(f"<{cls}>"), g)))

        for pi, (pom, p_cols, graphs) in enumerate(poms):
            for oi, otm in enumerate(pom.objects):
                key = (pi, oi)
                if key in tmp_cols:
                    raw_col = F.col(tmp_cols[key])
                    is_array = isinstance(schema[tmp_cols[key]], T.ArrayType)
                else:
                    raw_col = None
                    is_array = False
                def _elem_pair_fn(_otm, _p, _g):
                    return lambda x: pair(_p, render_value(ctx, _otm, x), _g)

                for p_col in p_cols:
                    for g in graphs:
                        if is_array:
                            # multi-valued fan-out: one (p,o,g) per element.
                            # NULL input ⇒ NULL element array — flatten() of an
                            # array containing a NULL is NULL, which would drop
                            # EVERY pair for the row (incl. rr:class and other
                            # POMs); coalesce to empty so only the affected
                            # object map contributes nothing (the reference
                            # drops only that triple)
                            pair_arrays.append(
                                F.coalesce(
                                    F.transform(raw_col,
                                                _elem_pair_fn(otm, p_col, g)),
                                    F.array().cast(f"array<{_PAIR_STRUCT}>"),
                                )
                            )
                        elif raw_col is not None:
                            o_col = render_value(ctx, otm, raw_col)
                            pair_arrays.append(F.array(pair(p_col, o_col, g)))
                        else:
                            o_col = compile_term(ctx, otm)
                            pair_arrays.append(F.array(pair(p_col, o_col, g)))

        if not pair_arrays:
            return None

        pairs = F.flatten(F.array(*pair_arrays))
        out = (
            proj.select(s_col.alias("s"), F.explode(pairs).alias("pair"))
            .select(
                "s",
                F.col("pair.p").alias("p"),
                F.col("pair.o").alias("o"),
                F.col("pair.g").alias("g"),
            )
        )
        return out

    # .. referencing object maps .................................................
    def _ref_object_df(
        self,
        tm: TriplesMap,
        df: DataFrame,
        ctx: CompileCtx,
        s_col: Column,
        p_cols: List[Column],
        rom: ReferencingObjectMap,
        graphs: List[Column],
    ) -> DataFrame:
        parent_tm = self.plan.by_iri(rom.parent_triples_map)
        parent_sm = parent_tm.subject_maps[0]

        if not rom.joins:
            # join-less ROM (D6): well-defined only when child and parent share
            # the logical source — apply the parent subject expr to child rows
            # (reference same-source path at pyrml_core.py:1583-1585)
            child_keys = {ls.cache_key() for ls in tm.sources}
            parent_keys = {ls.cache_key() for ls in parent_tm.sources}
            if child_keys == parent_keys:
                o_col = compile_term(ctx, parent_sm.term_map)
                return self._emit(df, s_col, p_cols, o_col, graphs)
            raise NotImplementedError(
                "join-less referencing object map across different sources is "
                "a positional-concat quirk in the reference "
                "(pyrml_core.py:1452-1453) — unsupported by design"
            )

        parent_df = self._source_df(parent_tm)
        prefix = "__p__"
        parent_sel = parent_df.select(
            [F.col("`" + c.replace("`", "``") + "`").alias(prefix + c)
             for c in parent_df.columns]
        )
        parent_ctx = CompileCtx(
            columns=parent_sel.columns,
            base_iri=self.plan.base_iri,
            functions=self.functions,
            column_prefix=prefix,
            irify=self.irify,
            dtypes=dict(parent_sel.dtypes),
            infer_literal_datatypes=self.infer_literal_datatypes,
        )
        o_col = compile_term(parent_ctx, parent_sm.term_map)

        from .terms import source_col

        cond = None
        for j in rom.joins:
            left = source_col(ctx, j.child)
            right = source_col(parent_ctx, j.parent)
            c = left.eqNullSafe(right) & left.isNotNull()
            cond = c if cond is None else (cond & c)

        joined = salted_join(df, parent_sel, cond, self.salt_joins)
        return self._emit(joined, s_col, p_cols, o_col, graphs)

    @staticmethod
    def _emit(
        df: DataFrame,
        s_col: Column,
        p_cols: List[Column],
        o_col: Column,
        graphs: List[Column],
    ) -> DataFrame:
        pairs = F.array(
            *[
                F.struct(p.alias("p"), o_col.alias("o"),
                         g.cast("string").alias("g"))
                for p in p_cols
                for g in graphs
            ]
        )
        return (
            df.select(s_col.alias("s"), F.explode(pairs).alias("pair"))
            .select(
                "s",
                F.col("pair.p").alias("p"),
                F.col("pair.o").alias("o"),
                F.col("pair.g").alias("g"),
            )
        )

    # -- whole plan -------------------------------------------------------------
    def compile(self, deduplicate: bool = True) -> DataFrame:
        branches: List[DataFrame] = []
        for tm in self.plan.triples_maps:
            branches.extend(self.compile_triples_map(tm))
        if not branches:
            schema = T.StructType(
                [T.StructField(c, T.StringType()) for c in OUTPUT_SCHEMA]
            )
            return self.spark.createDataFrame([], schema)
        out = reduce(lambda a, b: a.unionByName(b), branches)
        out = out.na.drop(subset=["s", "p", "o"])  # D9
        if deduplicate:
            out = out.dropDuplicates(OUTPUT_SCHEMA)  # D8 set semantics
        return out


def convert(
    spark: SparkSession,
    mapping_file: str,
    search_roots: Optional[List[str]] = None,
    template_vars: Optional[dict] = None,
    deduplicate: bool = True,
    functions=None,
    infer_literal_datatypes: bool = False,
) -> DataFrame:
    """Public API: mapping document → DataFrame[s,p,o,g].

    Mirrors ``PyRML.get_mapper().convert(rml_file)`` (README.md:28-47 of the
    reference) but returns a lazy, distributed DataFrame instead of an
    eager rdflib graph.

    Every call re-compiles. Once a session has read a local source file
    its schema is memoized (``sources`` module docstring), so a re-compile
    starts no Spark job; what it still costs is Py4J round trips, one or
    more per Column built. Sessions from
    :func:`pyrml_spark.plans.tuning.build_session` switch off PySpark's
    per-call call-site capture and so compile with about half as many.
    """
    from .parse_mapping import parse_mapping_file

    plan = parse_mapping_file(mapping_file, template_vars=template_vars)
    roots = list(search_roots or [])
    roots.append(os.path.dirname(os.path.abspath(mapping_file)))
    # reference resolves paths against the process CWD; mappings in the
    # reference repo use paths like "./examples/artists/Artist.csv"
    roots.append(os.getcwd())
    compiler = RMLCompiler(spark, plan, search_roots=roots, functions=functions,
                           infer_literal_datatypes=infer_literal_datatypes)
    return compiler.compile(deduplicate=deduplicate)
