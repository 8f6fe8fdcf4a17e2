"""Query and analytics operators OVER the constructed knowledge graph —
the "use the KG" side of the north rule's construct→materialize story.
Nothing here constructs: every operator reads the (s, p, o, g) table that
``run_pipeline_fused`` wrote (through ``entry._fused``), either afresh
(:func:`kg_bgp_query`) or as the per-session sink (:func:`_sink_quads`).

* :func:`kg_bgp_query` — a basic-graph-pattern (SPARQL BGP) join over the
  materialized (s, p, o, g) triples: each triple pattern is a
  predicate-filtered scan of the triples table, joined on its shared
  variables. This is exactly the access path the bucketed triples-table
  sink (`kg/table.py`) is laid out for: the p-filter prunes at the scan,
  and a pattern joining on the subject lands bucket-aligned.

* :func:`kg_pagerank` — fixed-iteration PageRank over the entity
  co-mention graph (the sink's canonical mentions triples, self-joined on
  the document) in FIXED-POINT integer arithmetic: ranks are BIGINT
  micro-units, contributions use integer division, damping is
  ``150000 + (85 * s) // 100``. Integer sums are order-independent, so
  the DuckDB oracle reproduces every rank bit-for-bit — float PageRank
  would diverge across engines in the reduction order. The iteration
  shape is the scalable one (edges ⋈ ranks → groupBy(dst) with map-side
  partial sums per round); a production run swaps the 2-round constant
  for the fixed-point loop in `kg/fixpoint.py`, which connected
  components and the SPARQL path closures already run on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MENTIONS_P = "<http://kg.ex/p/mentions>"
HASMEDIA_P = "<http://kg.ex/p/hasMedia>"
MEDIAKIND_P = "<http://kg.ex/p/mediaKind>"
SAMEAS_P = "<http://www.w3.org/2002/07/owl#sameAs>"
ENT_PREFIX = "<http://kg.ex/ent/"
PERSON_PREFIX = ENT_PREFIX + "person/"

PR_SCALE = 1_000_000  # rank fixed-point: 1.0 == 1e6 micro-units
PR_ITERS = 2

# the original hardcoded 3-pattern query, now expressed as data and fed
# through the general compiler (kg/query.py) — same oracle (ORACLE_KG_BGP)
BGP_PATTERNS = [
    ("?doc", MENTIONS_P, "?person"),
    ("?doc", HASMEDIA_P, "?media"),
    ("?media", MEDIAKIND_P, "?media_kind"),
]
BGP_FILTERS = [f"person LIKE '{PERSON_PREFIX}%'"]
BGP_SELECT = ["doc", "person", "media", "media_kind"]

# a different shape for the driver sweep: 2-hop path + star —
# "which alias IRIs resolve (owl:sameAs) to a canonical person that is
# mentioned in a document carrying a media asset". Exercises a pattern
# whose join variable sits in OBJECT position twice (?canon) and a
# predicate (sameAs) far rarer than mentions, so the selectivity order
# must start there.
TWOHOP_PATTERNS = [
    ("?alias", SAMEAS_P, "?canon"),
    ("?doc", MENTIONS_P, "?canon"),
    ("?doc", HASMEDIA_P, "?media"),
]
TWOHOP_SELECT = ["alias", "canon", "doc", "media"]


def kg_bgp_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-pattern BGP over the materialized KG::

        ?doc    kg:mentions  ?person .   # person entities only
        ?doc    kg:hasMedia  ?media .
        ?media  kg:mediaKind ?media_kind .

    "Which canonical persons are co-documented with a media asset, and
    what kind of asset" — the canonical join-three-scans shape of a
    SPARQL BGP compiled onto a triples table. The graph is built afresh
    by the fused pipeline and the three patterns are predicate-pruned
    scans of its Parquet read-back, so the construction runs once, not
    once per pattern; the joins are equi-joins on the shared variables
    (?doc, ?media), so they shuffle on high-cardinality keys and AQE
    handles any hot document."""
    from .entry import kg_pipeline_fused_triples  # lazy: avoid cycle

    return _bgp_over(kg_pipeline_fused_triples(spark, sf_dir)
                     .select("s", "p", "o"))


def _bgp_over(t: DataFrame) -> DataFrame:
    """The three-pattern BGP body, compiled by the general BGP compiler
    (kg/query.py) — predicate-pruned scans, selectivity-ordered
    shared-variable equi-joins, the person-prefix FILTER pushed into the
    mentions pattern's scan."""
    from .query import kg_query

    return kg_query(t, BGP_PATTERNS, filters=BGP_FILTERS,
                    select=BGP_SELECT)


# per-process cache of the materialized sink: (app_id) -> path. The corpus
# is deterministic, so one write serves every subsequent read in the
# process — exactly the construct-once / query-many split the sink is for.
_SINK_CACHE: dict = {}


def _sink_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MATERIALIZED (s,p,o,g) quads: the fused pipeline writes its
    subject-bucketed table once per (session, input), and every query
    reads it back — the construct-once / query-many access path the sink
    exists for. Queries over this are pure predicate-pruned parquet
    scans + equi-joins, no datagen / mention-extraction stages in the
    plan."""
    import os
    import tempfile

    from .entry import _fused, _tmp_dir  # lazy: avoid cycle
    from .table import read_triples_table

    # Connect-safe session identity (no sparkContext): spark.app.id via
    # conf, falling back to the session object id. sf_dir is part of the
    # key — different inputs are different graphs.
    #
    # Sink placement: PYRML_KG_SINK_DIR when set (REQUIRED on multi-node
    # clusters / remote Connect servers — the location must be shared
    # storage visible to driver AND executors, e.g. s3://...); otherwise
    # a driver-local tempdir, correct in local mode only. The dir lives
    # for the process (construct-once/query-many is the point); a real
    # deployment's sink is a managed table, not a tempdir.
    key = (spark.conf.get("spark.app.id", None) or str(id(spark)), sf_dir)
    path = _SINK_CACHE.get(key)
    if path is None:
        base = os.environ.get("PYRML_KG_SINK_DIR")
        if base is None:
            # enforce the docstring's multi-node requirement (ADVICE r6):
            # a driver-local tempdir is only readable by executors in
            # local mode — on a real cluster the sink MUST be shared
            # storage, so refuse to fabricate a silently-wrong path.
            master = spark.conf.get("spark.master", "") or ""
            if master and not master.startswith("local"):
                raise RuntimeError(
                    f"PYRML_KG_SINK_DIR is unset and spark.master="
                    f"{master!r} is not local: the default tempdir sink "
                    "would be a driver-only path invisible to executors. "
                    "Set PYRML_KG_SINK_DIR to shared storage "
                    "(s3a://... / hdfs://...).")
            if not master:
                import warnings
                warnings.warn(
                    "PYRML_KG_SINK_DIR unset and spark.master not "
                    "visible (Spark Connect?): defaulting to a "
                    "driver-local tempdir, which is correct only when "
                    "the server runs in local mode", stacklevel=2)
        path = (_tmp_dir("kg_sink_") if base is None
                else tempfile.mkdtemp(prefix="kg_sink_", dir=base)) + "/triples"
        _fused(spark, path)
        _SINK_CACHE[key] = path
    return read_triples_table(spark, path, fmt="parquet")


def _sink_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized sink as (s,p,o) triples."""
    return _sink_quads(spark, sf_dir).select("s", "p", "o")


# predicate histogram per materialized sink: the sink is immutable for
# the life of the process (construct-once / query-many), so its stats
# are too — one vocabulary-sized aggregate per (session, input), not one
# per query (VERDICT r7 #5: stats="auto" recomputed it per call).
_STATS_CACHE: dict = {}


def _sink_stats(spark: SparkSession, sf_dir: str) -> dict:
    """Cached ``predicate_stats`` of the materialized sink."""
    from .query import predicate_stats

    key = (spark.conf.get("spark.app.id", None) or str(id(spark)), sf_dir)
    stats = _STATS_CACHE.get(key)
    if stats is None:
        stats = predicate_stats(_sink_triples(spark, sf_dir))
        _STATS_CACHE[key] = stats
    return stats


def kg_bgp_from_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-pattern BGP over the materialized sink (vs ``kg_bgp_query``'s
    recompute) — byte-identical results, both check against
    ORACLE_KG_BGP."""
    return _bgp_over(_sink_triples(spark, sf_dir))


# the driver row for the SPARQL front-end (kg/sparql.py): the familiar
# mentions/hasMedia/mediaKind star expressed as QUERY TEXT — predicate
# lists, a prefixed-name vocabulary, and a two-conjunct FILTER whose
# halves push into different pattern scans (STRSTARTS into mentions,
# the != into mediaKind).
SPARQL_MEDIA_QUERY = """
PREFIX kg: <http://kg.ex/p/>
SELECT DISTINCT ?doc ?person ?kind WHERE {
  ?doc kg:mentions ?person ;
       kg:hasMedia ?media .
  ?media kg:mediaKind ?kind .
  FILTER(STRSTARTS(STR(?person), "http://kg.ex/ent/person/")
         && ?kind != "image")
}
"""


def kg_sparql_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL SELECT text over the materialized sink: parsed by
    kg/sparql.py, lowered onto the general BGP compiler with a real
    predicate histogram — the full construct → materialize → query-text
    path in one driver row."""
    from .sparql import sparql_select

    return sparql_select(_sink_triples(spark, sf_dir), SPARQL_MEDIA_QUERY,
                         stats=_sink_stats(spark, sf_dir))


# pytest-only rows for the SPARQL forms beyond the plain BGP (window is
# full at 50): aggregation with GROUP BY, OPTIONAL left-extension, and
# CONSTRUCT — each against its own DuckDB oracle in entry.py.
SPARQL_AGG_QUERY = """
PREFIX kg: <http://kg.ex/p/>
SELECT ?kind (COUNT(*) AS ?n_media) (COUNT(DISTINCT ?doc) AS ?n_docs)
WHERE {
  ?doc kg:hasMedia ?media .
  ?media kg:mediaKind ?kind .
} GROUP BY ?kind
"""

SPARQL_OPTIONAL_QUERY = """
PREFIX kg: <http://kg.ex/p/>
SELECT ?doc ?person ?media WHERE {
  ?doc kg:mentions ?person
  OPTIONAL { ?doc kg:hasMedia ?media }
}
"""

SPARQL_CONSTRUCT_QUERY = """
PREFIX kg: <http://kg.ex/p/>
CONSTRUCT { ?person kg:mentionedIn ?doc }
WHERE { ?doc kg:mentions ?person }
"""

SPARQL_PATH_QUERY = """
PREFIX kg: <http://kg.ex/p/>
PREFIX owl: <http://www.w3.org/2002/07/owl#>
SELECT DISTINCT ?alias ?kind WHERE {
  ?alias owl:sameAs+ ?canon .
  ?doc kg:mentions ?canon .
  ?doc kg:hasMedia/kg:mediaKind ?kind
}
"""

# media-only documents: VALUES constrains the kind (the IN-filter path),
# NOT EXISTS anti-joins away every doc with a mention
SPARQL_NOTEXISTS_QUERY = """
PREFIX kg: <http://kg.ex/p/>
SELECT DISTINCT ?doc ?kind WHERE {
  ?doc kg:hasMedia ?media .
  ?media kg:mediaKind ?kind .
  VALUES ?kind { "audio" "image" }
  FILTER NOT EXISTS { ?doc kg:mentions ?p }
}
"""


# r8: HAVING over the same aggregate shape (the constraint aggregates —
# one hidden, one shared with SELECT — ride the same aggregation pass)
SPARQL_HAVING_QUERY = """
PREFIX kg: <http://kg.ex/p/>
SELECT ?kind (COUNT(*) AS ?n_media) (COUNT(DISTINCT ?doc) AS ?n_docs)
WHERE {
  ?doc kg:hasMedia ?media .
  ?media kg:mediaKind ?kind .
} GROUP BY ?kind
HAVING (COUNT(DISTINCT ?doc) >= 2 && COUNT(*) > 2)
"""

# r8: general BIND — a variable alias used as a JOIN KEY in a later
# pattern (equi-join on the computed column) plus a derived-length bind
# consumed by a FILTER (deferred until the bind materializes)
SPARQL_BIND_QUERY = """
PREFIX kg: <http://kg.ex/p/>
PREFIX owl: <http://www.w3.org/2002/07/owl#>
SELECT ?doc ?canon ?clen WHERE {
  ?alias owl:sameAs ?canon .
  BIND(?canon AS ?entity) .
  ?doc kg:mentions ?entity .
  BIND(STRLEN(?canon) AS ?clen)
  FILTER(?clen > 0)
}
"""


def kg_sparql_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING through the SPARQL surface: media kinds carried by at
    least two distinct documents with more than two assets — the HAVING
    aggregates compute as hidden columns in the single groupBy pass and
    are filtered then projected away."""
    from .sparql import sparql_select

    return sparql_select(_sink_triples(spark, sf_dir),
                         SPARQL_HAVING_QUERY)


def kg_sparql_bind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General BIND through the SPARQL surface: ``?entity`` is the
    computed copy of ``?canon`` joined against the mentions pattern
    (the BGP of patterns over a BIND alias), ``?clen`` a derived integer
    consumed by a FILTER placed right after its BIND. Bag semantics: one
    row per (alias, mention) pair projected to (doc, canon, clen)."""
    from .sparql import sparql_select

    return sparql_select(_sink_triples(spark, sf_dir), SPARQL_BIND_QUERY)


def kg_sparql_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY aggregation through the SPARQL surface (media assets and
    distinct carrying documents per media kind) — one partial-agg
    groupBy over the joined bindings, COUNTs stay BIGINT on both
    engines."""
    from .sparql import sparql_select

    return sparql_select(_sink_triples(spark, sf_dir), SPARQL_AGG_QUERY)


def kg_sparql_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIONAL (left-join extension) through the SPARQL surface: every
    mention binding, extended with the document's media when present —
    bag semantics, NULL media where the document carries none."""
    from .sparql import sparql_select

    return sparql_select(_sink_triples(spark, sf_dir),
                         SPARQL_OPTIONAL_QUERY)


def kg_sparql_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSTRUCT through the SPARQL surface: derive an inverse edge
    (person mentionedIn doc) as a new (s, p, o) graph — template
    instantiation over the solution bag, set semantics."""
    from .sparql import sparql_construct

    return sparql_construct(_sink_triples(spark, sf_dir),
                            SPARQL_CONSTRUCT_QUERY)


def kg_sparql_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property paths through the SPARQL surface: a ``sameAs+``
    transitive closure (pointer-doubling) joined through mentions into
    a ``hasMedia/mediaKind`` sequence (desugared to plain BGP patterns
    with a hidden variable). The DuckDB oracle recomputes the closure
    with a recursive CTE — two independent fixpoint algorithms,
    identical rows."""
    from .sparql import sparql_select

    return sparql_select(_sink_triples(spark, sf_dir), SPARQL_PATH_QUERY,
                         stats=_sink_stats(spark, sf_dir))


# per-named-graph triple counts through GRAPH ?g + aggregation — the
# quads surface (the sink keeps g; mentions/media/sameas are separate
# named graphs in the north-rule pipeline)
SPARQL_GRAPH_QUERY = """
SELECT ?g (COUNT(*) AS ?n) WHERE {
  GRAPH ?g { ?s ?p ?o }
} GROUP BY ?g
"""


def kg_sparql_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRAPH ?g over the quads sink + GROUP BY aggregation: triple
    counts per named graph — one pruned scan of the bucketed table and
    one partial-agg groupBy on the graph IRI."""
    from .sparql import sparql_select

    return sparql_select(_sink_quads(spark, sf_dir), SPARQL_GRAPH_QUERY)


# subject-centric description of every mentioned entity
SPARQL_DESCRIBE_QUERY = """
PREFIX kg: <http://kg.ex/p/>
DESCRIBE ?ent WHERE { ?doc kg:mentions ?ent }
"""


def kg_sparql_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE through the SPARQL surface: all triples whose subject is
    a mentioned entity — resource-set build + one left_semi join against
    the sink."""
    from .sparql import sparql_describe

    return sparql_describe(_sink_triples(spark, sf_dir),
                           SPARQL_DESCRIBE_QUERY)


def kg_sparql_notexists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUES + FILTER NOT EXISTS through the SPARQL surface:
    media-carrying documents with no mention at all — the VALUES
    compiles to an IN filter, the NOT EXISTS to a left_anti join."""
    from .sparql import sparql_select

    return sparql_select(_sink_triples(spark, sf_dir),
                         SPARQL_NOTEXISTS_QUERY)


def kg_query_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for the general compiler on a DIFFERENT pattern shape
    (2-hop sameAs→mentions path + hasMedia star), over the materialized
    sink with a real predicate histogram: ``_sink_stats`` aggregates the
    bucketed table's predicate counts once per (session, input)
    (vocabulary-sized — sameAs ≪ mentions), so the join order provably
    starts at the rare sameAs pattern instead of pattern-list order."""
    from .query import kg_query

    return kg_query(_sink_triples(spark, sf_dir), TWOHOP_PATTERNS,
                    select=TWOHOP_SELECT, stats=_sink_stats(spark, sf_dir))


def _co_mention_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct symmetric (src, dst) edges between canonical entities
    co-mentioned in the same document, read from the sink's mentions
    triples: their objects are already canonical (persons resolved through
    the sameAs mapping, places by surface), and an entity is its object IRI
    without the entity prefix and the closing ``>``."""
    ent = F.expr(f"substr(o, {len(ENT_PREFIX) + 1}, "
                 f"length(o) - {len(ENT_PREFIX) + 1})")
    ents = (_sink_triples(spark, sf_dir)
            .filter(F.col("p") == MENTIONS_P)
            .select(F.col("s").alias("doc"), ent.alias("ent")))
    a, b = ents.alias("a"), ents.alias("b")
    return (
        a.join(b, "doc")
        .filter(F.col("a.ent") != F.col("b.ent"))
        .select(F.col("a.ent").alias("src"), F.col("b.ent").alias("dst"))
        .distinct()
    )


def kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``PR_ITERS`` rounds of fixed-point PageRank (d = 0.85) over the
    entity co-mention graph. Every arithmetic step is BIGINT (micro-unit
    ranks, integer division by out-degree, damping as
    ``150000 + (85 * s) // 100``), so the result is independent of
    partitioning and reduction order — and the DuckDB oracle matches it
    exactly. Per round: one broadcast-or-shuffle equi-join of ranks onto
    edges and one map-side-combinable sum keyed on dst. The symmetric
    edge set guarantees no dangling nodes."""
    # materialize the edge list once (lazy localCheckpoint, same pattern as
    # the CC loop): edges feed deg AND every round's join — without the cut
    # each round re-runs the sink scan and the self-join
    edges = _co_mention_edges(spark, sf_dir).localCheckpoint(eager=False)
    deg = edges.groupBy("src").agg(F.count("*").alias("degree"))
    ranks = deg.select(
        F.col("src").alias("node"),
        F.lit(PR_SCALE).cast("long").alias("r"),
    )
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(deg, "src")
            .join(ranks, edges["src"] == ranks["node"])
            .select("dst", F.expr("r div degree").alias("c"))
        )
        ranks = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("dst").alias("node"),
                (F.lit(150_000) + F.expr("(85 * s) div 100"))
                .cast("long").alias("r"),
            )
        )
    return ranks.select(F.col("node").alias("entity"),
                        F.col("r").alias("pagerank_fp"))
