"""Mention detection + triple expansion over interleaved documents.

One extractor, :func:`mentions_native`: pure Column expressions
(posexplode + regexp_extract_all), whole-stage-codegen'd, so the KG
pipeline runs no Python-eval operator and starts no Python workers.

This departs from BASELINE.json's "mention detection inside vectorized
Arrow/pandas UDFs" on measurement: an Arrow-batched pandas extractor with
the same output contract returned the same 97,489 triples on an 8k-document
corpus (4-core host), but its ``mentions`` stage took 6.23 s of a 16.4 s
first build and its Python workers held ~340 MB PSS at peak. The cost is
the Arrow boundary crossing itself, and a regex over a text column is
logic Spark already runs natively. A model-based NER that Spark cannot
express would slot in as an Arrow-batched pandas stage with the same
(doc_id, span_idx, offset, etype, surface) output.

The reference has no extraction stage (this is the north rule's new design);
term-map expansion of mentions reuses the engine's template semantics
(deterministic IRIs, SURVEY.md §4 "deterministic blank-node/IRI hashing").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PERSON_RE = r"PERSON:([A-Za-z0-9_]+)"
PLACE_RE = r"PLACE:([A-Za-z0-9_]+)"


def _text_spans(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", F.posexplode("spans").alias("span_idx", "span")
    ).select(
        "doc_id",
        F.col("span_idx").cast("int").alias("span_idx"),
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def mentions_native(docs: DataFrame) -> DataFrame:
    """(doc_id, span_idx, offset, etype, surface) — one row per mention."""
    spans = _text_spans(docs).filter(F.col("kind") == "text")
    persons = spans.select(
        "doc_id", "span_idx", "offset", F.lit("person").alias("etype"),
        F.explode(F.regexp_extract_all(F.col("text"), F.lit(PERSON_RE), 1))
        .alias("surface"),
    )
    places = spans.select(
        "doc_id", "span_idx", "offset", F.lit("place").alias("etype"),
        F.explode(F.regexp_extract_all(F.col("text"), F.lit(PLACE_RE), 1))
        .alias("surface"),
    )
    return persons.unionByName(places)


def media_spans(docs: DataFrame) -> DataFrame:
    return _text_spans(docs).filter(F.col("kind") != "text").select(
        "doc_id", "span_idx", "offset", "kind", "media_ref"
    )


def mention_triples(mentions: DataFrame) -> DataFrame:
    """Mentions → (s,p,o,g) with deterministic entity IRIs (template hash).

    Entity IRI = http://kg.ex/ent/{etype}/{surface}; the canonicalization
    stage later rewrites subjects through the sameAs components."""
    ent = F.concat(F.lit("<http://kg.ex/ent/"), F.col("etype"),
                   F.lit("/"), F.col("surface"), F.lit(">"))
    doc = F.concat(F.lit("<http://kg.ex/doc/"), F.col("doc_id"), F.lit(">"))
    g = F.lit("<http://kg.ex/graph/mentions>")
    mentions_t = mentions.select(
        doc.alias("s"), F.lit("<http://kg.ex/p/mentions>").alias("p"),
        ent.alias("o"), g.alias("g"),
    )
    type_t = mentions.select(
        ent.alias("s"),
        F.lit("<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>").alias("p"),
        F.concat(
            F.lit("<http://kg.ex/class/"),
            F.initcap(F.col("etype")), F.lit(">")
        ).alias("o"),
        g.alias("g"),
    )
    surface_t = mentions.select(
        ent.alias("s"), F.lit("<http://kg.ex/p/surface>").alias("p"),
        F.concat(F.lit('"'), F.col("surface"), F.lit('"')).alias("o"),
        g.alias("g"),
    )
    return mentions_t.unionByName(type_t).unionByName(surface_t)


def sameas_candidates(mentions: DataFrame) -> DataFrame:
    """Candidate sameAs links from the alias convention: ``X_aka`` ↔ ``X``,
    ``X_aka2`` ↔ ``X_aka`` (multi-hop chains for the union-find stage).
    In a production linker this is the blocking+matching output; here the
    blocker is the deterministic suffix rule. Output: (src, dst) entity keys.
    """
    ents = (
        mentions.filter(F.col("etype") == "person")
        .select("surface").distinct()
    )
    linked = ents.filter(F.col("surface").endswith("_aka")
                         | F.col("surface").endswith("_aka2"))
    # materialize the (tiny: aliased surfaces only) linked set ONCE — both
    # branches below otherwise re-derive the full mentions scan + distinct
    # as separate plan subtrees, doubling the heaviest stage of the edge
    # derivation (event-log verified: two concurrent 128-task stages racing
    # to build the same cache). Lazy local checkpoint: first action computes
    # one scan, both branches then read the checkpointed partitions.
    linked = linked.localCheckpoint(eager=False)
    one_hop = linked.select(
        F.col("surface").alias("src"),
        F.when(F.col("surface").endswith("_aka2"),
               F.concat(F.regexp_replace(F.col("surface"), r"_aka2$", ""),
                        F.lit("_aka")))
        .otherwise(F.regexp_replace(F.col("surface"), r"_aka$", ""))
        .alias("dst"),
    )
    # close the chain for _aka2 surfaces whose middle alias was never
    # mentioned: the derived X_aka node still links to X
    middle = linked.filter(F.col("surface").endswith("_aka2")).select(
        F.concat(F.regexp_replace(F.col("surface"), r"_aka2$", ""),
                 F.lit("_aka")).alias("src"),
        F.regexp_replace(F.col("surface"), r"_aka2$", "").alias("dst"),
    )
    return one_hop.unionByName(middle).distinct()


def assemble_canonical_triples(mentions: DataFrame, media: DataFrame,
                               mapping: DataFrame,
                               entity_prefix: str = "<http://kg.ex/ent/",
                               mapping_rows: int | None = None,
                               ) -> DataFrame:
    """Canonical (s,p,o,g) assembly with CATEGORY-WISE dedup — the scaling
    bottleneck fix for the materialization stage.

    A single global ``dropDuplicates(s,p,o,g)`` shuffles every raw triple at
    full row width; but the six triple categories are pairwise disjoint (each
    has a distinct constant predicate), so RDF set semantics factorizes into
    per-category dedups over only the NON-CONSTANT columns:

      * mentions edges — dedup on (s,o); p,g constant
      * rdf:type + surface triples — derived from ``distinct (etype,surface)``
        (map-side-combinable, two short columns) instead of per-mention rows,
        then deduped post-rewrite (aliases merge)
      * hasMedia / mediaKind — dedup on (s,o), short strings
      * owl:sameAs — distinct by construction (mapping is one row per entity)

    Canonical rewrite happens BEFORE dedup, so alias-merged duplicates
    collapse exactly as the global dedup did; the union of per-category
    dedups equals the global dedup because no two categories share a
    predicate. Shuffled bytes drop ~4-8× (constants never travel;
    type/surface shuffles collapse to entity cardinality).

    The rewrite join broadcasts the mapping only when it is provably small
    (``maybe_broadcast``; pass ``mapping_rows`` when the caller already knows
    the count — lineage manifest or driver union-find). At 10^12-doc scale
    the mapping is billions of aliases and the join degrades to shuffle hash
    joins with AQE skew handling instead of OOMing every executor.

    Round-3 byte-diet: the canonical rewrite and BOTH big dedups run on the
    SHORT surface keys (doc_id, etype, surface) — IRI strings are built only
    AFTER dedup, from the already-unique rows. (doc_id, etype, surface) ↔
    (doc_iri, ent_iri) is bijective, so the result is identical, but the
    heaviest shuffle + string-keyed hash aggregation moves ~2.3× fewer bytes
    (no constant IRI prefixes through the exchange) — the dominant cost at
    scale and the dominant memory-bandwidth load on a contended socket.
    """
    from ..plans.tuning import maybe_broadcast

    m = maybe_broadcast(
        mapping.select(F.col("entity").alias("m_ent"),
                       F.col("canonical").alias("m_canon")),
        row_hint=mapping_rows,
    )
    ment_g = F.lit("<http://kg.ex/graph/mentions>")
    media_g = F.lit("<http://kg.ex/graph/media>")
    doc = F.concat(F.lit("<http://kg.ex/doc/"), F.col("doc_id"), F.lit(">"))
    ent = F.concat(F.lit(entity_prefix), F.col("etype"), F.lit("/"),
                   F.col("surface"), F.lit(">"))

    # canonicalize surfaces BEFORE dedup/IRI-building (mapping covers person
    # entities; others pass through the left join unmatched)
    canon_keys = (
        mentions.select("doc_id", "etype", "surface")
        .join(m, (F.col("surface") == F.col("m_ent"))
              & (F.col("etype") == "person"), "left")
        .select("doc_id", "etype",
                F.coalesce("m_canon", "surface").alias("surface"))
    )
    ment = (
        canon_keys.dropDuplicates(["doc_id", "etype", "surface"])
        .select(doc.alias("s"),
                F.lit("<http://kg.ex/p/mentions>").alias("p"),
                ent.alias("o"), ment_g.alias("g"))
    )
    # type/surface triples derive from the distinct RAW entity set (two
    # short columns, map-side combinable) joined to the mapping: the
    # canonical subject keeps ONE rdf:type but ALL of its alias surfaces as
    # separate surface literals (each raw surface stays a distinct object)
    raw_ents = mentions.select("etype", "surface").distinct()
    surf_pairs = (
        raw_ents
        .join(m, (F.col("surface") == F.col("m_ent"))
              & (F.col("etype") == "person"), "left")
        .select("etype",
                F.coalesce("m_canon", "surface").alias("canon_surface"),
                "surface")
    )
    canon_ent = F.concat(F.lit(entity_prefix), F.col("etype"), F.lit("/"),
                         F.col("canon_surface"), F.lit(">"))
    type_t = (
        surf_pairs.select("etype", "canon_surface").distinct()
        .select(
            canon_ent.alias("s"),
            F.lit("<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>")
            .alias("p"),
            F.concat(F.lit("<http://kg.ex/class/"), F.initcap("etype"),
                     F.lit(">")).alias("o"),
            ment_g.alias("g"))
    )
    surface_t = surf_pairs.select(
        canon_ent.alias("s"),
        F.lit("<http://kg.ex/p/surface>").alias("p"),
        F.concat(F.lit('"'), F.col("surface"), F.lit('"')).alias("o"),
        ment_g.alias("g"))
    media_iri = F.concat(F.lit("<"), F.col("media_ref"), F.lit(">"))
    media_has = (
        media.select(doc.alias("s"), media_iri.alias("o"))
        .dropDuplicates(["s", "o"])
        .select("s", F.lit("<http://kg.ex/p/hasMedia>").alias("p"), "o",
                media_g.alias("g"))
    )
    media_kind = (
        media.select(media_iri.alias("s"),
                     F.concat(F.lit('"'), F.col("kind"), F.lit('"'))
                     .alias("o"))
        .dropDuplicates(["s", "o"])
        .select("s", F.lit("<http://kg.ex/p/mediaKind>").alias("p"), "o",
                media_g.alias("g"))
    )
    from .canonicalize import sameas_triples

    return (ment.unionByName(type_t).unionByName(surface_t)
            .unionByName(media_has).unionByName(media_kind)
            .unionByName(sameas_triples(mapping)))
