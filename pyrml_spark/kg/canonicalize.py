"""Entity canonicalization: union-find connected components over candidate
sameAs links (north_rule), as iterative min-label propagation with
checkpointing to cut lineage (SURVEY.md §7 step 6).

Algorithm: min-label propagation with pointer doubling —
    label(v) ← min(label(v), min label over neighbors)     (propagate)
    label(v) ← min(label(v), label(label(v)))              (double)
iterated to fixpoint. The propagate step alone moves a label one hop per
round (O(diameter) rounds — on a sameAs chain of length d it needs d
iterations); the doubling step jumps each node to its current
representative's representative, so the distance-to-root roughly halves
every round and convergence is O(log diameter) rounds total (the classic
pointer-jumping / path-halving bound — e.g. Shiloach–Vishkin style CC).
A 500-node alias chain converges in ~10 rounds instead of 500
(``tests/test_kg_pipeline.py::test_cc_pointer_doubling_long_chain``).

Each iteration is three hash joins (two on the edge table, one label
self-join); ``localCheckpoint`` every iteration truncates the logical plan
so the loop stays O(iter) not O(2^iter) at plan level; convergence is
detected with an aggregate (changed-count). Bounded by ``max_iter`` with a
loud failure, and every iteration's metrics land in the lineage manifest.

At 10^12-doc scale the edge table is huge but each iteration is a fixed
number of shuffles on the same key — AQE handles skew (celebrity entities)
and the label table shrinks as components converge.
"""

from __future__ import annotations

from typing import Callable, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ConvergenceError(RuntimeError):
    pass


# driver union-find crossover (see connected_components_auto): below this many
# edges the iterative distributed loop's per-round job latency dominates and
# a driver-side union-find over the collected edge list is strictly faster
# while producing the identical lexicographic-min labels.
DRIVER_UNION_FIND_MAX_EDGES = 5_000_000


def _driver_union_find(edges_rows) -> list:
    """Union-find on the driver for small edge sets (scale-aware shortcut:
    the distributed min-label loop pays several job round-trips per
    iteration, which dominates when the edge list fits in driver memory —
    the canonical label is still the component's lexicographic min)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    nodes = set()
    for src, dst in edges_rows:
        nodes.add(src)
        nodes.add(dst)
        ra, rb = find(src), find(dst)
        if ra != rb:
            # keep the lexicographic min as the root (matches the
            # distributed algorithm's labels)
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(n, find(n)) for n in sorted(nodes)]


def connected_components_auto(
    edges: DataFrame,
    max_driver_edges: Optional[int] = None,
    edge_rows: Optional[int] = None,
    **kw,
) -> Tuple[DataFrame, int]:
    """:func:`connected_components` behind the driver union-find crossover,
    the one gate every caller goes through. Returns ``(components, rows)``:
    the (node, component) table and its row count.

    At most ``max_driver_edges`` edges (default
    :data:`DRIVER_UNION_FIND_MAX_EDGES`, read at call time) are solved on the
    driver (Arrow transfer both ways), where the iterative min-label loop's
    per-round fixed job cost would dominate; above the gate the distributed
    loop runs with ``kw`` — the 100 TB path. Identical output either way
    (lexicographic-min labels; pinned by tests).

    The edge count is known BEFORE any collect. A caller that already knows
    it (lineage manifest, count over a persisted table) passes ``edge_rows``
    and vouches that ``edges`` is materialized, so no job runs before the
    gate; otherwise the edges are checkpointed eagerly (the typically
    expensive upstream pair join runs exactly once) and counted."""
    if max_driver_edges is None:
        max_driver_edges = DRIVER_UNION_FIND_MAX_EDGES
    edges = edges.select("src", "dst")
    if edge_rows is None:
        edges = edges.localCheckpoint(eager=True)
        edge_rows = edges.count()
    if edge_rows <= max_driver_edges:
        import pandas as pd

        epdf = edges.toPandas()
        pairs = _driver_union_find(
            zip(epdf["src"].tolist(), epdf["dst"].tolist()))
        spark = edges.sparkSession
        return spark.createDataFrame(
            pd.DataFrame(pairs, columns=["node", "component"]),
            schema="node string, component string"), len(pairs)
    return _min_label_components(edges, **kw)


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    on_iteration: Optional[Callable[[int, int], None]] = None,
    double_from: int = 2,
) -> DataFrame:
    """edges(src, dst) → (node, component) where component = min node id
    (string min) in the connected component.

    Deterministic: labels are the lexicographic min of the node keys.
    """
    return _min_label_components(edges, max_iter, on_iteration,
                                 double_from)[0]


def _min_label_components(
    edges: DataFrame,
    max_iter: int = 25,
    on_iteration: Optional[Callable[[int, int], None]] = None,
    double_from: int = 2,
) -> Tuple[DataFrame, int]:
    """:func:`connected_components` plus the label table's row count, which
    the convergence aggregate yields in the same job."""
    sym = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"),
                                  F.col("src").alias("dst")))
        .distinct()
    )
    # checkpoint sym FIRST: labels derives from it, so its checkpoint then
    # reads the materialized edges instead of re-running the (potentially
    # expensive — e.g. the near-dup pair join feeding dedup_neardup_clusters)
    # upstream subtree a second time (guide §1.2: don't compute things
    # twice; measured ~4.5 s per avoided pass at 50k docs)
    sym = sym.localCheckpoint(eager=True)
    nodes = sym.select(F.col("src").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("component"))
    labels = labels.localCheckpoint(eager=True)

    for it in range(max_iter):
        # neighbor minimum: for each node, min of neighbors' labels
        nbr_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        half = (
            labels.join(nbr_min, labels.node == nbr_min.src, "left")
            .select(
                "node",
                F.col("component").alias("old_component"),
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("cand"),
            )
        )
        # Pointer doubling: cand(v) ← cand(cand(v)). Labels only ever
        # decrease (initialized to self, monotone min), so the lookup can't
        # increase a label; coalesce guards the (impossible in a closed
        # label table, cheap anyway) missing-key case. Materialized eagerly
        # because BOTH sides of the self-join read it — a lazy checkpoint
        # shared by two concurrently-materializing AQE stages re-derives
        # the whole subtree twice (see BENCH/BASELINE.md, sameAs-subtree
        # note).
        #
        # The doubling step is SKIPPED for the first ``double_from`` rounds:
        # doubling can't jump further than propagation has reached, so it
        # only pays from round 2 on — short-diameter graphs (this corpus:
        # alias chains of length ≤ 3) converge before it ever runs, saving
        # a self-join + checkpoint job per round; long chains still get
        # O(log diameter) total rounds (measured: 500-node chain ≤ 14).
        if it >= double_from:
            half = half.localCheckpoint(eager=True)
            lut = half.select(F.col("node").alias("lut_node"),
                              F.col("cand").alias("lut_cand"))
            doubled = F.least(
                F.col("cand"),
                F.coalesce(F.col("lut_cand"), F.col("cand")),
            )
            new_labels = (
                half.join(lut, half.cand == F.col("lut_node"), "left")
                .select(
                    "node",
                    doubled.alias("component"),
                    (doubled < F.col("old_component"))
                    .cast("int").alias("changed"),
                )
            )
        else:
            new_labels = half.select(
                "node",
                F.col("cand").alias("component"),
                (F.col("cand") < F.col("old_component"))
                .cast("int").alias("changed"),
            )
        # lazy checkpoint + immediate aggregate: the agg action materializes
        # the checkpoint AND returns the convergence count (plus the label
        # row count) in ONE job per iteration (eager=True plus a separate
        # agg ran two)
        new_labels = new_labels.localCheckpoint(eager=False)
        changed, rows = new_labels.agg(F.sum("changed"),
                                       F.count(F.lit(1))).collect()[0]
        changed = changed or 0
        labels = new_labels.drop("changed")
        if on_iteration:
            on_iteration(it, int(changed))
        if changed == 0:
            return labels, rows
    raise ConvergenceError(
        f"connected_components did not converge in {max_iter} iterations"
    )


def canonical_mapping(edges: DataFrame, **kw) -> DataFrame:
    """(entity, canonical) for every entity that appears in an edge.
    Entities without links are their own canonical (handled by the caller
    via left join + coalesce)."""
    cc = connected_components(edges, **kw)
    return cc.select(F.col("node").alias("entity"),
                     F.col("component").alias("canonical"))


def rewrite_entities(
    triples: DataFrame,
    mapping: DataFrame,
    entity_prefix: str = "<http://kg.ex/ent/person/",
    mapping_rows: Optional[int] = None,
) -> DataFrame:
    """Rewrite subject/object entity IRIs through the canonical mapping.

    The mapping is keyed on the entity *surface key*; IRIs are rebuilt as
    ``<prefix><canonical>>``. Broadcast is CONDITIONAL on size
    (:func:`pyrml_spark.plans.tuning.maybe_broadcast`): at the north rule's
    10^12-doc scale the mapping holds every aliased entity — billions of
    rows — and a forced broadcast OOMs every executor, so above the ceiling
    this degrades to a pair of shuffle hash joins on s/o (AQE skew-split /
    ``plans.salting.salted_join`` for celebrity entities). ``mapping_rows``
    lets callers who already know the count (checkpoint manifest,
    driver-built mapping) skip the probe job."""
    from ..plans.tuning import maybe_broadcast

    suffix = ">"
    m = maybe_broadcast(
        mapping.select(
            F.concat(F.lit(entity_prefix), F.col("entity"),
                     F.lit(suffix)).alias("ent_iri"),
            F.concat(F.lit(entity_prefix), F.col("canonical"),
                     F.lit(suffix)).alias("canon_iri"),
        ),
        row_hint=mapping_rows,
    )
    ms = (m.withColumnRenamed("ent_iri", "s_ent")
           .withColumnRenamed("canon_iri", "s_canon"))
    mo = (m.withColumnRenamed("ent_iri", "o_ent")
           .withColumnRenamed("canon_iri", "o_canon"))
    out = (
        triples.join(ms, triples.s == F.col("s_ent"), "left")
        .join(mo, triples.o == F.col("o_ent"), "left")
        .select(
            F.coalesce(F.col("s_canon"), F.col("s")).alias("s"),
            F.col("p"),
            F.coalesce(F.col("o_canon"), F.col("o")).alias("o"),
            F.col("g"),
        )
    )
    return out


def sameas_triples(mapping: DataFrame,
                   entity_prefix: str = "<http://kg.ex/ent/person/") -> DataFrame:
    """Materialized owl:sameAs edges entity→canonical (excluding self)."""
    return (
        mapping.filter(F.col("entity") != F.col("canonical"))
        .select(
            F.concat(F.lit(entity_prefix), F.col("entity"),
                     F.lit(">")).alias("s"),
            F.lit("<http://www.w3.org/2002/07/owl#sameAs>").alias("p"),
            F.concat(F.lit(entity_prefix), F.col("canonical"),
                     F.lit(">")).alias("o"),
            F.lit("<http://kg.ex/graph/sameas>").alias("g"),
        )
    )
