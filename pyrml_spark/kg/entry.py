"""Driver-facing KG pipeline queries — every stage of the north-rule chain
(document synthesis → mention detection → connected-components
canonicalization → full triple materialization) is checked against a DuckDB
oracle that REGENERATES the corpus independently and re-derives the expected
output in pure SQL (the canonical mapping via the alias-suffix closed form,
which the engine's iterative min-label CC must agree with byte-for-byte).
The two triples rows are the pipeline's own entry points, ``run_pipeline``
and ``run_pipeline_fused``; :func:`_fused` also builds the sink that the
query rows in ``analytics.py`` read.

This works because the driver queries use the generator's md5 hash family
(engine-portable); benches keep the faster xxhash64 family — the structure
is identical (kg/datagen.py)."""

from __future__ import annotations

import tempfile
from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .datagen import MAX_SPANS, MIN_SPANS, N_PERSONS, N_PLACES, generate_documents
from .extract import _text_spans, mentions_native, sameas_candidates
from .canonicalize import canonical_mapping
from .pipeline import KGPipelineConfig, run_pipeline, run_pipeline_fused

_N_DOCS_CHECK = 300


def _docs(spark: SparkSession) -> DataFrame:
    return generate_documents(spark, _N_DOCS_CHECK, hash_family="md5")


def kg_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule input table itself (deterministic synthesis), one
    row per span — the driver's canonicalizer sorts with pandas, which
    cannot hash an array<struct<…>> column."""
    return _text_spans(_docs(spark))


def kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mentions_native(_docs(spark))


def kg_canonical_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative distributed connected components; the oracle derives the
    same mapping through the alias-suffix closed form — two independent
    algorithms, identical output."""
    docs = _docs(spark)
    return canonical_mapping(sameas_candidates(mentions_native(docs)))


def kg_pipeline_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed mode (``run_pipeline``: per-stage Parquet checkpoints +
    manifest) against the SQL oracle. At _N_DOCS_CHECK docs the edge set is
    far below the gate, so the mapping comes from driver union-find; the
    distributed min-label loop has its own oracle row,
    kg_canonical_mapping."""
    # mkdtemp (not TemporaryDirectory): the checkpoint parquet must outlive
    # this call — the driver re-reads the returned DataFrame lazily
    d = tempfile.mkdtemp(prefix="kg_entry_")
    df = run_pipeline(
        spark, d,
        KGPipelineConfig(n_docs=_N_DOCS_CHECK),
        documents=_docs(spark),
        input_tag=f"md5-{_N_DOCS_CHECK}",
    )
    return df.select("s", "p", "o", "g")


def kg_stream_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-ingest bronze equality row: the SAME md5-family corpus is
    written to a temp landing dir and drained through the Structured-
    Streaming path (read_document_stream → watermarked mention dedup →
    mention_triples → checkpointed availableNow parquet sink) — the exact
    production plumbing of streaming/kg_stream.py, including the
    dropDuplicatesWithinWatermark state bound. The oracle re-derives the
    three mention-triple families in SQL; DISTINCT at read time is the
    documented bronze-read contract (append sinks are multiset, the
    bronze table is a set — streaming/kg_stream.py module docstring)."""
    from ..streaming.kg_stream import (read_document_stream,
                                       stream_kg_triples,
                                       write_triples_stream)

    docs = _docs(spark).withColumn(
        "ingest_ts", F.timestamp_seconds(F.lit(1_700_000_000)))
    base = tempfile.mkdtemp(prefix="kg_stream_entry_")
    in_dir, out_dir, ckpt = base + "/in", base + "/out", base + "/ckpt"
    docs.write.mode("overwrite").parquet(in_dir)
    write_triples_stream(
        stream_kg_triples(read_document_stream(spark, in_dir)),
        out_dir, ckpt,
    ).awaitTermination()
    return spark.read.parquet(out_dir).select("s", "p", "o", "g").distinct()


def _fused(spark: SparkSession, out_dir: str) -> DataFrame:
    """The md5 corpus through :func:`run_pipeline_fused`, written to
    ``out_dir`` and read back: the fused row and the query sink
    (``analytics._sink_quads``) are this one build."""
    return run_pipeline_fused(spark, out_dir,
                              KGPipelineConfig(n_docs=_N_DOCS_CHECK),
                              documents=_docs(spark))


def kg_pipeline_fused_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused mode (``run_pipeline_fused``: stages kept in memory, one
    partitioned write) against the SAME oracle as the checkpointed mode.
    Both go through the one union-find gate, so the two rows differ in
    materialization policy only; the distributed min-label loop is checked
    by kg_canonical_mapping. The written table outlives this call (mkdtemp)
    because the driver re-reads the returned DataFrame lazily."""
    return _fused(spark, tempfile.mkdtemp(prefix="kg_fused_")).select(
        "s", "p", "o", "g")


# ---------------------------------------------------------------------------
# DuckDB oracles: regenerate the md5-family corpus in SQL and re-derive each
# stage. The shared prefix mirrors kg/datagen.py line by line.
# ---------------------------------------------------------------------------


def _H(args: str) -> str:
    """The generator's 60-bit hash in DuckDB SQL (kg/datagen.py:_h_md5)."""
    return f"CAST('0x' || substr(md5(concat_ws(':', {args})), 1, 15) AS BIGINT)"


_SPAN_RANGE = MAX_SPANS - MIN_SPANS + 1

_GEN_PREFIX = f"""
WITH docs AS (SELECT unnest(generate_series(0, {_N_DOCS_CHECK - 1})) AS doc),
nsp AS (
  SELECT doc, {MIN_SPANS} + ({_H("doc, 'nspans'")} % {_SPAN_RANGE}) AS n_spans
  FROM docs
),
sp AS (SELECT doc, unnest(generate_series(0, n_spans - 1)) AS i FROM nsp),
hv AS (
  SELECT doc, i,
    {_H("doc, i, 'kind'")} % 5 AS kind_sel,
    {_H("doc, i, 'person'")} % {N_PERSONS} AS person_id,
    {_H("doc, i, 'alias'")} % 6 AS alias_sel,
    {_H("doc, i, 'place'")} % {N_PLACES} AS place_id,
    {_H("doc, i, 'filler'")} % 1000 AS filler,
    CAST(i * 64 + ({_H("doc, i, 'off'")} % 50) AS INTEGER) AS "offset"
  FROM sp
),
flat AS (
  SELECT printf('doc-%08d', doc) AS doc_id,
         CAST(i AS INTEGER) AS span_idx,
         CASE WHEN kind_sel < 3 THEN 'text'
              WHEN kind_sel = 3 THEN 'image' ELSE 'audio' END AS kind,
         CASE WHEN kind_sel < 3 THEN printf(
           'report %d notes that PERSON:%s was seen at PLACE:L%d today',
           filler,
           CASE WHEN alias_sel = 0 THEN printf('P%d_aka', person_id)
                WHEN alias_sel = 1 THEN printf('P%d_aka2', person_id)
                ELSE printf('P%d', person_id) END,
           place_id) END AS text,
         CASE WHEN kind_sel >= 3
              THEN printf('media://doc-%08d/%d', doc, i) END AS media_ref,
         "offset"
  FROM hv
),
mentions AS (
  SELECT doc_id, span_idx, "offset", 'person' AS etype,
         unnest(regexp_extract_all(text, 'PERSON:([A-Za-z0-9_]+)', 1)) AS surface
  FROM flat WHERE kind = 'text'
  UNION ALL
  SELECT doc_id, span_idx, "offset", 'place',
         unnest(regexp_extract_all(text, 'PLACE:([A-Za-z0-9_]+)', 1))
  FROM flat WHERE kind = 'text'
),
linked AS (
  SELECT DISTINCT surface FROM mentions
  WHERE etype = 'person'
    AND (ends_with(surface, '_aka') OR ends_with(surface, '_aka2'))
),
edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT surface AS src,
           CASE WHEN ends_with(surface, '_aka2')
                THEN regexp_replace(surface, '_aka2$', '') || '_aka'
                ELSE regexp_replace(surface, '_aka$', '') END AS dst
    FROM linked
    UNION ALL
    SELECT regexp_replace(surface, '_aka2$', '') || '_aka',
           regexp_replace(surface, '_aka2$', '')
    FROM linked WHERE ends_with(surface, '_aka2')
  )
),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
  )
),
mapping AS (
  SELECT node AS entity, regexp_replace(node, '_aka2?$', '') AS canonical
  FROM nodes
)
"""

ORACLE_KG_DOCUMENTS = _GEN_PREFIX + """
SELECT doc_id, span_idx, kind, text, media_ref, "offset" AS offset FROM flat
"""

ORACLE_KG_MENTIONS = _GEN_PREFIX + """
SELECT doc_id, span_idx, "offset" AS offset, etype, surface FROM mentions
"""

ORACLE_KG_CANONICAL = _GEN_PREFIX + """
SELECT entity, canonical FROM mapping
"""

# the three mention-triple families BEFORE canonical rewrite — what the
# streaming bronze path emits (canonicalization is the scheduled batch
# stage in the streaming deployment pattern)
ORACLE_KG_STREAM = _GEN_PREFIX + """
SELECT DISTINCT s, p, o, g FROM (
  SELECT '<http://kg.ex/doc/' || doc_id || '>' AS s,
         '<http://kg.ex/p/mentions>' AS p,
         '<http://kg.ex/ent/' || etype || '/' || surface || '>' AS o,
         '<http://kg.ex/graph/mentions>' AS g
  FROM mentions
  UNION ALL
  SELECT '<http://kg.ex/ent/' || etype || '/' || surface || '>',
         '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>',
         '<http://kg.ex/class/' || upper(substr(etype, 1, 1))
           || substr(etype, 2) || '>',
         '<http://kg.ex/graph/mentions>'
  FROM mentions
  UNION ALL
  SELECT '<http://kg.ex/ent/' || etype || '/' || surface || '>',
         '<http://kg.ex/p/surface>', '"' || surface || '"',
         '<http://kg.ex/graph/mentions>'
  FROM mentions
)
"""

# triple-assembly CTEs shared by the triples oracle and the BGP oracle
_TRIPLES_CTES = """
, emap AS (
  SELECT '<http://kg.ex/ent/person/' || entity || '>' AS ent_iri,
         '<http://kg.ex/ent/person/' || canonical || '>' AS canon_iri
  FROM mapping
),
raw AS (
  SELECT '<http://kg.ex/doc/' || doc_id || '>' AS s,
         '<http://kg.ex/p/mentions>' AS p,
         '<http://kg.ex/ent/' || etype || '/' || surface || '>' AS o,
         '<http://kg.ex/graph/mentions>' AS g
  FROM mentions
  UNION ALL
  SELECT '<http://kg.ex/ent/' || etype || '/' || surface || '>',
         '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>',
         '<http://kg.ex/class/' || upper(substr(etype, 1, 1))
           || substr(etype, 2) || '>',
         '<http://kg.ex/graph/mentions>'
  FROM mentions
  UNION ALL
  SELECT '<http://kg.ex/ent/' || etype || '/' || surface || '>',
         '<http://kg.ex/p/surface>', '"' || surface || '"',
         '<http://kg.ex/graph/mentions>'
  FROM mentions
  UNION ALL
  SELECT '<http://kg.ex/doc/' || doc_id || '>', '<http://kg.ex/p/hasMedia>',
         '<' || media_ref || '>', '<http://kg.ex/graph/media>'
  FROM flat WHERE kind != 'text'
  UNION ALL
  SELECT '<' || media_ref || '>', '<http://kg.ex/p/mediaKind>',
         '"' || kind || '"', '<http://kg.ex/graph/media>'
  FROM flat WHERE kind != 'text'
),
rewritten AS (
  SELECT coalesce(ms.canon_iri, raw.s) AS s, raw.p,
         coalesce(mo.canon_iri, raw.o) AS o, raw.g
  FROM raw
  LEFT JOIN emap ms ON raw.s = ms.ent_iri
  LEFT JOIN emap mo ON raw.o = mo.ent_iri
),
sameas AS (
  SELECT '<http://kg.ex/ent/person/' || entity || '>' AS s,
         '<http://www.w3.org/2002/07/owl#sameAs>' AS p,
         '<http://kg.ex/ent/person/' || canonical || '>' AS o,
         '<http://kg.ex/graph/sameas>' AS g
  FROM mapping WHERE entity != canonical
)
"""

ORACLE_KG_TRIPLES = _GEN_PREFIX + _TRIPLES_CTES + """
SELECT DISTINCT s, p, o, g FROM (
  SELECT * FROM rewritten UNION ALL SELECT * FROM sameas
)
"""

ORACLE_KG_BGP = _GEN_PREFIX + _TRIPLES_CTES + """
, t AS (
  SELECT DISTINCT s, p, o FROM (
    SELECT * FROM rewritten UNION ALL SELECT * FROM sameas
  )
)
SELECT DISTINCT m.s AS doc, m.o AS person, h.o AS media, k.o AS media_kind
FROM t m, t h, t k
WHERE m.p = '<http://kg.ex/p/mentions>'
  AND m.o LIKE '<http://kg.ex/ent/person/%'
  AND h.p = '<http://kg.ex/p/hasMedia>' AND h.s = m.s
  AND k.p = '<http://kg.ex/p/mediaKind>' AND k.s = h.o
"""

# fixed-point PageRank: BIGINT micro-unit ranks, integer division, damping
# 150000 + (85*s)//100 — identical order-independent arithmetic to
# kg/analytics.kg_pagerank, so every rank matches bit-for-bit.
ORACLE_KG_PAGERANK = _GEN_PREFIX + """
, ents AS (
  SELECT DISTINCT mn.doc_id,
         mn.etype || '/' ||
           CASE WHEN mn.etype = 'person'
                THEN coalesce(mp.canonical, mn.surface)
                ELSE mn.surface END AS ent
  FROM mentions mn
  LEFT JOIN mapping mp
    ON mn.surface = mp.entity AND mn.etype = 'person'
),
pr_edges AS (
  SELECT DISTINCT a.ent AS src, b.ent AS dst
  FROM ents a JOIN ents b ON a.doc_id = b.doc_id AND a.ent != b.ent
),
deg AS (SELECT src, count(*) AS degree FROM pr_edges GROUP BY src),
r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
c1 AS (
  SELECT e.dst AS node, SUM(r0.r // d.degree) AS s
  FROM pr_edges e
  JOIN r0 ON e.src = r0.node
  JOIN deg d ON e.src = d.src
  GROUP BY e.dst
),
r1 AS (SELECT node, CAST(150000 + (85 * s) // 100 AS BIGINT) AS r FROM c1),
c2 AS (
  SELECT e.dst AS node, SUM(r1.r // d.degree) AS s
  FROM pr_edges e
  JOIN r1 ON e.src = r1.node
  JOIN deg d ON e.src = d.src
  GROUP BY e.dst
),
r2 AS (SELECT node, CAST(150000 + (85 * s) // 100 AS BIGINT) AS pagerank_fp
       FROM c2)
SELECT node AS entity, pagerank_fp FROM r2
"""


# 2-hop path + star through the general BGP compiler (kg/query.py):
#   ?alias owl:sameAs ?canon . ?doc kg:mentions ?canon . ?doc kg:hasMedia ?media
ORACLE_KG_2HOP = _GEN_PREFIX + _TRIPLES_CTES + """
, t AS (
  SELECT DISTINCT s, p, o FROM (
    SELECT * FROM rewritten UNION ALL SELECT * FROM sameas
  )
)
SELECT DISTINCT sa.s AS alias, sa.o AS canon, m.s AS doc, h.o AS media
FROM t sa, t m, t h
WHERE sa.p = '<http://www.w3.org/2002/07/owl#sameAs>'
  AND m.p = '<http://kg.ex/p/mentions>' AND m.o = sa.o
  AND h.p = '<http://kg.ex/p/hasMedia>' AND h.s = m.s
"""

# the SPARQL front-end driver row (analytics.SPARQL_MEDIA_QUERY): the
# mentions/hasMedia/mediaKind star with STRSTARTS(person) + kind!="image"
ORACLE_KG_SPARQL = _GEN_PREFIX + _TRIPLES_CTES + """
, t AS (
  SELECT DISTINCT s, p, o FROM (
    SELECT * FROM rewritten UNION ALL SELECT * FROM sameas
  )
)
SELECT DISTINCT m.s AS doc, m.o AS person, k.o AS kind
FROM t m, t h, t k
WHERE m.p = '<http://kg.ex/p/mentions>'
  AND m.o LIKE '<http://kg.ex/ent/person/%'
  AND h.p = '<http://kg.ex/p/hasMedia>' AND h.s = m.s
  AND k.p = '<http://kg.ex/p/mediaKind>' AND k.s = h.o
  AND k.o <> '"image"'
"""

# SPARQL GROUP BY aggregation (analytics.SPARQL_AGG_QUERY) — COUNTs are
# BIGINT on both engines (no SUM: DuckDB widens SUM to HUGEINT)
ORACLE_KG_SPARQL_AGG = _GEN_PREFIX + _TRIPLES_CTES + """
, t AS (
  SELECT DISTINCT s, p, o FROM (
    SELECT * FROM rewritten UNION ALL SELECT * FROM sameas
  )
)
SELECT k.o AS kind, COUNT(*) AS n_media, COUNT(DISTINCT h.s) AS n_docs
FROM t h, t k
WHERE h.p = '<http://kg.ex/p/hasMedia>'
  AND k.p = '<http://kg.ex/p/mediaKind>' AND k.s = h.o
GROUP BY k.o
"""

# SPARQL HAVING (analytics.SPARQL_HAVING_QUERY) — the AGG shape plus a
# two-aggregate HAVING constraint (one hidden, one shared with SELECT)
ORACLE_KG_SPARQL_HAVING = _GEN_PREFIX + _TRIPLES_CTES + """
, t AS (
  SELECT DISTINCT s, p, o FROM (
    SELECT * FROM rewritten UNION ALL SELECT * FROM sameas
  )
)
SELECT k.o AS kind, COUNT(*) AS n_media, COUNT(DISTINCT h.s) AS n_docs
FROM t h, t k
WHERE h.p = '<http://kg.ex/p/hasMedia>'
  AND k.p = '<http://kg.ex/p/mediaKind>' AND k.s = h.o
GROUP BY k.o
HAVING COUNT(DISTINCT h.s) >= 2 AND COUNT(*) > 2
"""

# SPARQL general BIND (analytics.SPARQL_BIND_QUERY) — ?entity is the
# computed copy of ?canon joined into mentions (bind-pattern equi-join),
# ?clen = STRLEN(STR(?canon)) (IRI lexical strips <>: length - 2) as an
# encoded xsd:integer, consumed by a deferred FILTER; bag semantics
ORACLE_KG_SPARQL_BIND = _GEN_PREFIX + _TRIPLES_CTES + """
, t AS (
  SELECT DISTINCT s, p, o FROM (
    SELECT * FROM rewritten UNION ALL SELECT * FROM sameas
  )
)
SELECT m.s AS doc, sa.o AS canon,
       '"' || CAST(LENGTH(sa.o) - 2 AS VARCHAR)
           || '"^^<http://www.w3.org/2001/XMLSchema#integer>' AS clen
FROM t sa JOIN t m
  ON m.p = '<http://kg.ex/p/mentions>' AND m.o = sa.o
WHERE sa.p = '<http://www.w3.org/2002/07/owl#sameAs>'
  AND LENGTH(sa.o) - 2 > 0
"""

# SPARQL OPTIONAL (analytics.SPARQL_OPTIONAL_QUERY) — bag-semantics
# left extension of mentions by the document's media
ORACLE_KG_SPARQL_OPTIONAL = _GEN_PREFIX + _TRIPLES_CTES + """
, t AS (
  SELECT DISTINCT s, p, o FROM (
    SELECT * FROM rewritten UNION ALL SELECT * FROM sameas
  )
)
SELECT m.s AS doc, m.o AS person, h.o AS media
FROM t m LEFT JOIN t h
  ON h.p = '<http://kg.ex/p/hasMedia>' AND h.s = m.s
WHERE m.p = '<http://kg.ex/p/mentions>'
"""

# SPARQL CONSTRUCT (analytics.SPARQL_CONSTRUCT_QUERY) — inverse edge
# derivation, set semantics over the instantiated template
ORACLE_KG_SPARQL_CONSTRUCT = _GEN_PREFIX + _TRIPLES_CTES + """
, t AS (
  SELECT DISTINCT s, p, o FROM (
    SELECT * FROM rewritten UNION ALL SELECT * FROM sameas
  )
)
SELECT DISTINCT m.o AS s, '<http://kg.ex/p/mentionedIn>' AS p, m.s AS o
FROM t m WHERE m.p = '<http://kg.ex/p/mentions>'
"""

# SPARQL property paths (analytics.SPARQL_PATH_QUERY): the sameAs+
# closure is recomputed here with a RECURSIVE CTE — an independent
# fixpoint algorithm against the engine's pointer-doubling closure
# VALUES (IN filter) + NOT EXISTS (anti join): media-only documents
ORACLE_KG_SPARQL_NOTEXISTS = _GEN_PREFIX + _TRIPLES_CTES + """
, t AS (
  SELECT DISTINCT s, p, o FROM (
    SELECT * FROM rewritten UNION ALL SELECT * FROM sameas
  )
)
SELECT DISTINCT h.s AS doc, k.o AS kind
FROM t h
JOIN t k ON k.p = '<http://kg.ex/p/mediaKind>' AND k.s = h.o
WHERE h.p = '<http://kg.ex/p/hasMedia>'
  AND k.o IN ('"audio"', '"image"')
  AND NOT EXISTS (
    SELECT 1 FROM t m
    WHERE m.p = '<http://kg.ex/p/mentions>' AND m.s = h.s
  )
"""

# DESCRIBE: the triples-table subset whose subject is a mentioned entity
ORACLE_KG_SPARQL_DESCRIBE = _GEN_PREFIX + _TRIPLES_CTES + """
, t AS (
  SELECT DISTINCT s, p, o FROM (
    SELECT * FROM rewritten UNION ALL SELECT * FROM sameas
  )
)
SELECT t.s, t.p, t.o FROM t
WHERE t.s IN (
  SELECT DISTINCT m.o FROM t m
  WHERE m.p = '<http://kg.ex/p/mentions>'
)
"""

# GRAPH ?g + GROUP BY COUNT over the quads sink: per-named-graph sizes
ORACLE_KG_SPARQL_GRAPH = _GEN_PREFIX + _TRIPLES_CTES + """
, tq AS (
  SELECT DISTINCT s, p, o, g FROM (
    SELECT * FROM rewritten UNION ALL SELECT * FROM sameas
  )
)
SELECT g, COUNT(*) AS n FROM tq GROUP BY g
"""

ORACLE_KG_SPARQL_PATH = (
    _GEN_PREFIX.replace("\nWITH ", "\nWITH RECURSIVE ", 1)
    + _TRIPLES_CTES + """
, t AS (
  SELECT DISTINCT s, p, o FROM (
    SELECT * FROM rewritten UNION ALL SELECT * FROM sameas
  )
),
sameas_closure(a, b) AS (
  SELECT s, o FROM t WHERE p = '<http://www.w3.org/2002/07/owl#sameAs>'
  UNION
  SELECT c.a, e.o FROM sameas_closure c
  JOIN t e ON e.p = '<http://www.w3.org/2002/07/owl#sameAs>'
          AND e.s = c.b
)
SELECT DISTINCT c.a AS alias, k.o AS kind
FROM sameas_closure c
JOIN t m ON m.p = '<http://kg.ex/p/mentions>' AND m.o = c.b
JOIN t h ON h.p = '<http://kg.ex/p/hasMedia>' AND h.s = m.s
JOIN t k ON k.p = '<http://kg.ex/p/mediaKind>' AND k.s = h.o
""")


from .analytics import (kg_bgp_from_sink, kg_bgp_query,  # noqa: E402
                        kg_pagerank, kg_query_2hop, kg_sparql_agg,
                        kg_sparql_bind, kg_sparql_construct,
                        kg_sparql_describe, kg_sparql_graph,
                        kg_sparql_having, kg_sparql_notexists,
                        kg_sparql_optional, kg_sparql_path,
                        kg_sparql_query)

KG_QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "kg_documents": kg_documents,
    "kg_mentions": kg_mentions,
    "kg_canonical_mapping": kg_canonical_mapping,
    "kg_pipeline_triples": kg_pipeline_triples,
    "kg_pipeline_fused_triples": kg_pipeline_fused_triples,
    # SPARQL SELECT text → kg/sparql.py parser → general BGP compiler:
    # replaces kg_bgp_query in the driver window r7 (that row's pattern
    # JOIN shape stays driver-covered via kg_query_2hop, its oracle via
    # kg_bgp_from_sink + the local sweep; this row adds a NEW oracle
    # shape plus the query-text surface)
    "kg_sparql_query": kg_sparql_query,
    "kg_bgp_query": kg_bgp_query,
    "kg_query_2hop": kg_query_2hop,
    "kg_pagerank": kg_pagerank,
    # construct-once/query-many sibling of kg_bgp_query — pytest-only
    # (driver window is full at 50; same oracle, plan-asserted sink scan;
    # kg_query_2hop keeps the sink-read path in the driver window)
    "kg_bgp_from_sink": kg_bgp_from_sink,
    # streaming bronze ingest, pytest-only (window full) — full SQL oracle
    "kg_stream_triples": kg_stream_triples,
    # SPARQL forms beyond the plain BGP, pytest-only (window full):
    # GROUP BY aggregation, OPTIONAL left-extension, CONSTRUCT
    "kg_sparql_agg": kg_sparql_agg,
    # r8: HAVING constraints + general BIND placement, pytest-only
    "kg_sparql_having": kg_sparql_having,
    "kg_sparql_bind": kg_sparql_bind,
    "kg_sparql_optional": kg_sparql_optional,
    "kg_sparql_construct": kg_sparql_construct,
    # property paths (sameAs+ closure + sequence desugar), pytest-only
    "kg_sparql_path": kg_sparql_path,
    # VALUES (IN filter) + NOT EXISTS (anti join), pytest-only
    "kg_sparql_notexists": kg_sparql_notexists,
    # GRAPH ?g quad patterns + per-graph aggregation, pytest-only
    "kg_sparql_graph": kg_sparql_graph,
    # DESCRIBE (subject-centric, semi-join), pytest-only
    "kg_sparql_describe": kg_sparql_describe,
}

KG_ORACLES: Dict[str, str] = {
    "kg_documents": ORACLE_KG_DOCUMENTS,
    "kg_mentions": ORACLE_KG_MENTIONS,
    "kg_canonical_mapping": ORACLE_KG_CANONICAL,
    "kg_pipeline_triples": ORACLE_KG_TRIPLES,
    "kg_pipeline_fused_triples": ORACLE_KG_TRIPLES,
    "kg_sparql_query": ORACLE_KG_SPARQL,
    "kg_bgp_query": ORACLE_KG_BGP,
    "kg_query_2hop": ORACLE_KG_2HOP,
    "kg_pagerank": ORACLE_KG_PAGERANK,
    "kg_bgp_from_sink": ORACLE_KG_BGP,
    "kg_stream_triples": ORACLE_KG_STREAM,
    "kg_sparql_agg": ORACLE_KG_SPARQL_AGG,
    "kg_sparql_having": ORACLE_KG_SPARQL_HAVING,
    "kg_sparql_bind": ORACLE_KG_SPARQL_BIND,
    "kg_sparql_optional": ORACLE_KG_SPARQL_OPTIONAL,
    "kg_sparql_construct": ORACLE_KG_SPARQL_CONSTRUCT,
    "kg_sparql_path": ORACLE_KG_SPARQL_PATH,
    "kg_sparql_notexists": ORACLE_KG_SPARQL_NOTEXISTS,
    "kg_sparql_graph": ORACLE_KG_SPARQL_GRAPH,
    "kg_sparql_describe": ORACLE_KG_SPARQL_DESCRIBE,
}
