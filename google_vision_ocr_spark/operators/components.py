"""Connected components — turning near-duplicate PAIRS into CLUSTERS.

Every dedup family here (MinHash, SimHash, embedding-LSH, exact
Jaccard) emits candidate/confirmed *pairs*; the corpus operation that
follows is "keep one document per duplicate CLUSTER", which is
connected components over the pair graph.

:func:`connected_components` is iterative MIN-LABEL PROPAGATION,
tested against a union-find oracle: each round every node adopts the
minimum label in its closed neighborhood, one hash-shuffled join + one
map-side-combinable ``groupBy().min()`` per round.  Rounds needed =
graph diameter, and dedup graphs are stars and near-cliques (diameter
2-3).  A long path needs one round per hop, and the loop runs until no
label changes: it never returns unconverged labels.  It terminates
because a label never increases and never drops below its component's
minimum node id.

Implementation notes:

- labels are node ids; each round every node adopts the MINIMUM label
  in its neighborhood (`groupBy(node).agg(min(label))` — map-side
  combinable, so the hottest node (a boilerplate hub) reduces
  per-partition before the shuffle);
- convergence is checked with a single count of changed labels per
  round (one action per round, on an aggregate — not a collect of
  data);
- each round's label frame is cut from its lineage with
  ``localCheckpoint(eager=True)``.  ``persist()`` alone is NOT enough
  for an iterative DataFrame loop: the label frame feeds the next
  round twice (propagation join + union), so the LOGICAL plan doubles
  every round and Catalyst re-analyzes the whole tree — a 14-round
  chain OOMs the driver on plan analysis long before any data is big.
  Checkpointing truncates the plan to a leaf each round (the classic
  Pregel-on-DataFrames requirement; a production run on preemptible
  executors would use reliable ``checkpoint()`` to storage instead),
  and the previous round's blocks are released once the change count
  has read them, so a long run holds two label frames, not one per
  round.

The oracle (``dedup_clusters``) replays reachability with a recursive
CTE over the same edge set, so the component ids — not just their
sizes — are hash-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import cache


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """``(node, component)`` for every node in ``edges``; the component
    id is the minimum node id in the component."""
    sym = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .unionByName(
            edges.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v"))
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    sym = cache.track(sym.persist())
    # init: every node labels itself with the min of (itself, neighbors)
    labels = (
        sym.groupBy(F.col("u").alias("node"))
        .agg(F.min("v").alias("label"))
        .select("node", F.least("node", "label").alias("label"))
        .localCheckpoint(eager=True)
    )
    changed = 1
    while changed:
        # propagate: every node adopts min(own label, neighbors' labels)
        nbr = (
            sym.join(labels.withColumnRenamed("node", "v"), "v")
            .select(F.col("u").alias("node"), "label")
        )
        new_labels = (
            nbr.unionByName(labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("label", "old"), "node")
            .filter(F.col("label") != F.col("old"))
            .count()
        )
        cache.release_cut(labels)
        labels = new_labels
    return labels.select(F.col("node"), F.col("label").alias("component"))


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts over an undirected view of ``edges``.

    The compact-oriented join strategy (the standard distributed
    formulation, cf. Suri & Vassilvitskii 2011): canonicalize each
    edge to ``a < b`` (kills direction and duplicates), build oriented
    two-paths a→b→c (which enforces a < b < c, so every triangle is
    generated exactly once), and keep the paths whose closing edge
    (a, c) exists via a LEFT SEMI join.  Two equi-join shuffles total,
    no windows; orientation by node order is what keeps the join
    fan-out bounded on skewed (high-degree) nodes — each triangle has
    exactly one generating vertex.  Output: ``(node, n_triangles)``
    for every node in at least one triangle."""
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    e2 = und.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    two_paths = und.join(e2, F.col("b") == F.col("b2")).select("a", "b", "c")
    closing = und.select(F.col("a").alias("ca"), F.col("b").alias("cb"))
    tris = two_paths.join(
        closing,
        (F.col("a") == F.col("ca")) & (F.col("c") == F.col("cb")),
        "left_semi",
    )
    return (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
