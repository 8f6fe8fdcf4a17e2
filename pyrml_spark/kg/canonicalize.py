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
self-join), run by :func:`.fixpoint.fixpoint`: it checkpoints every round
so the loop stays O(iter) not O(2^iter) at plan level, detects convergence
with the changed-count aggregate and fails loudly past ``max_iter``. Every
iteration's metrics land in the lineage manifest.

At 10^12-doc scale the edge table is huge but each iteration is a fixed
number of shuffles on the same key — AQE handles skew (celebrity entities)
and the label table shrinks as components converge.
"""

from __future__ import annotations

from typing import Callable, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fixpoint import fixpoint


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
    edge_rows: Optional[int] = None,
    **kw,
) -> Tuple[DataFrame, int]:
    """:func:`connected_components` behind the driver union-find crossover,
    the one gate every caller goes through. Returns ``(components, rows)``:
    the (node, component) table and its row count.

    At most :data:`DRIVER_UNION_FIND_MAX_EDGES` edges (read at call time)
    are solved on the driver (Arrow transfer both ways), where the
    iterative min-label loop's per-round fixed job cost would dominate;
    above the gate the distributed loop runs with ``kw`` — the 100 TB
    path. Identical output either way (lexicographic-min labels; pinned
    by tests).

    The edge count is known BEFORE any collect. A caller that already knows
    it (lineage manifest, count over a persisted table) passes ``edge_rows``
    and vouches that ``edges`` is materialized, so no job runs before the
    gate; otherwise the edges are checkpointed eagerly (the typically
    expensive upstream pair join runs exactly once) and counted."""
    edges = edges.select("src", "dst")
    if edge_rows is None:
        edges = edges.localCheckpoint(eager=True)
        edge_rows = edges.count()
    if edge_rows <= DRIVER_UNION_FIND_MAX_EDGES:
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
) -> DataFrame:
    """edges(src, dst) → (node, component) where component = min node id
    (string min) in the connected component.

    Deterministic: labels are the lexicographic min of the node keys.
    """
    return _min_label_components(edges, max_iter, on_iteration)[0]


# doubling can't jump further than propagation has reached, so it only pays
# from round 2 on: short-diameter graphs (this corpus: alias chains of
# length ≤ 3) converge before it ever runs, saving a self-join + checkpoint
# job per round; long chains still get O(log diameter) total rounds
# (measured: 500-node chain ≤ 14)
DOUBLE_FROM = 2


def _min_label_components(
    edges: DataFrame,
    max_iter: int = 25,
    on_iteration: Optional[Callable[[int, int], None]] = None,
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

    def step(labels: DataFrame, it: int) -> DataFrame:
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
        cand = F.col("cand")
        # Pointer doubling (from round DOUBLE_FROM): cand(v) ← cand(cand(v)).
        # Labels only ever decrease (initialized to self, monotone min), so
        # the lookup can't increase a label; coalesce guards the (impossible
        # in a closed label table, cheap anyway) missing-key case.
        # Materialized eagerly because BOTH sides of the self-join read it —
        # a lazy checkpoint shared by two concurrently-materializing AQE
        # stages re-derives the whole subtree twice (see BENCH/BASELINE.md,
        # sameAs-subtree note).
        if it >= DOUBLE_FROM:
            half = half.localCheckpoint(eager=True)
            lut = half.select(F.col("node").alias("lut_node"),
                              F.col("cand").alias("lut_cand"))
            half = half.join(lut, half.cand == F.col("lut_node"), "left")
            cand = F.least(cand, F.coalesce(F.col("lut_cand"), cand))
        return half.select(
            "node",
            cand.alias("component"),
            (cand < F.col("old_component")).cast("int").alias("_changed"),
        )

    return fixpoint(labels, step, max_iter, on_iteration)


def canonical_mapping(edges: DataFrame, **kw) -> DataFrame:
    """(entity, canonical) for every entity that appears in an edge.
    Entities without links are their own canonical (handled by the caller
    via left join + coalesce)."""
    cc = connected_components(edges, **kw)
    return cc.select(F.col("node").alias("entity"),
                     F.col("component").alias("canonical"))


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
