"""Canonicalization: connected components over alias edges (north_rule).

Union-find re-expressed as iterative DataFrame joins — the classic
min-label propagation with pointer jumping (path halving), which is the
DataFrame formulation of the large-star/small-star map-reduce CC algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14):

  1. labels  <- node -> node
  2. neighbor-min: every node takes min(label) over itself + neighbors
  3. pointer jump: label <- label[label]  (halves path lengths, so rounds
     are O(log diameter) instead of O(diameter))
  4. stop when the global checksum of (node,label) is stable

Scale notes: each round is two shuffles on the node key; AQE skew-join is on
for the hot heads (a Zipf head entity is a high-degree node); lineage is cut
every round with localCheckpoint so the plan doesn't grow exponentially.
Deterministic output: component id = min canonical id in the component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _driver_union_find(spark, pairs, node_type: str = "string") -> DataFrame:
    """Broadcast-scale fast path: classic union-find with path compression
    on the driver. Same output contract (component = min node id). Chosen
    adaptively like a broadcast join: below the threshold the whole edge
    set fits comfortably on the driver and the iterative-join machinery is
    pure overhead."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in pairs:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # attach larger root under smaller -> min-id roots, deterministic
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    import pandas as pd

    from .session import local_df

    rows = sorted((n, find(n)) for n in parent)
    return local_df(
        spark,
        pd.DataFrame(rows, columns=["node", "component"]),
        f"node {node_type}, component {node_type}",
    )


_MAX_ITER = 25  # label-propagation rounds before the distributed loop stops


def connected_components(
    edges: DataFrame, broadcast_threshold: int = 200_000,
) -> DataFrame:
    """edges(src, dst) -> (node, component) with component = min node id.

    Adaptive strategy: if the (deduped) edge set is below
    ``broadcast_threshold`` rows it is collected and solved with driver-side
    union-find (one job); otherwise the distributed min-label-propagation +
    pointer-jumping loop below runs (the 100 TB path). The default (200k
    pairs, low tens of MB of strings) is sized like a broadcast-join
    threshold: comfortably driver-resident, far below anything that could
    contend with result collection."""
    if broadcast_threshold:
        small = edges.select(
            F.col("src").alias("u"), F.col("dst").alias("v")
        ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        # ONE bounded job doubles as the size probe AND the edge fetch: pull
        # at most threshold+1 rows through Arrow — if everything fit, those
        # rows ARE the edge set (the old limit().count() probe + collect()
        # pair computed the upstream chain twice); if not, the head is
        # discarded and the distributed loop recomputes from lineage.
        head = small.limit(broadcast_threshold + 1).toPandas()
        if len(head) <= broadcast_threshold:
            pairs = list(zip(head["u"].tolist(), head["v"].tolist()))
            node_type = edges.schema["src"].dataType.simpleString()
            if not pairs:
                # a legitimate empty alias table must yield an empty result,
                # not an IndexError from a column-less pandas frame
                return edges.sparkSession.createDataFrame(
                    [], f"node {node_type}, component {node_type}"
                )
            return _driver_union_find(edges.sparkSession, pairs, node_type)
    sym = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .union(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .dropDuplicates(["u", "v"])
        .persist()
    )
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint()
    )

    prev_sig = None
    for _ in range(_MAX_ITER):
        # neighbor-min step
        msgs = sym.join(labels, sym["u"] == labels["node"]).select(
            F.col("v").alias("node"), F.col("comp")
        )
        new_labels = (
            labels.select("node", "comp")
            .union(msgs)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        # pointer-jump step: comp <- label(comp)
        l2 = new_labels.select(
            F.col("node").alias("p_node"), F.col("comp").alias("p_comp")
        )
        new_labels = (
            new_labels.join(l2, new_labels["comp"] == l2["p_node"], "left")
            .select(
                "node", F.coalesce(F.col("p_comp"), F.col("comp")).alias("comp")
            )
            .localCheckpoint()
        )
        # order-independent, overflow-free convergence signature
        sig = new_labels.select(
            F.expr("bit_xor(xxhash64(node, comp))").alias("s"),
            F.count("*").alias("c"),
        ).collect()[0]
        labels = new_labels
        if prev_sig == (sig["s"], sig["c"]):
            break
        prev_sig = (sig["s"], sig["c"])

    sym.unpersist()
    return labels.select("node", F.col("comp").alias("component"))


def canonicalize(
    linked: DataFrame, components: DataFrame, id_col: str, out_col: str
) -> DataFrame:
    """Map a linked canonical_id column to its component root (broadcast —
    the component table is dictionary-sized). Unlinked (null) ids pass
    through as null."""
    comp = components.select(
        F.col("node").alias("__n"), F.col("component").alias(out_col)
    )
    return (
        linked.join(F.broadcast(comp), linked[id_col] == F.col("__n"), "left")
        .withColumn(out_col, F.coalesce(F.col(out_col), linked[id_col]))
        .drop("__n")
    )
