"""Neighborhood-overlap similarity: Jaccard over shared graph neighbors.

The entity-resolution signal the mapping graph itself carries: two CURIEs
whose xref/exactMatch neighborhoods largely coincide are merge candidates
even when no direct mapping between them was ever curated (the reference
surfaces such pairs only indirectly, through its unstable-component
report — export/summary.py replica at `export/summary.py:142`). The same
operator is the web-graph co-citation / link-prediction primitive.

Plan shape = the inverted-index join of ``ngram_jaccard_pairs`` applied
to adjacency: wedge rows (neighbor, a, b) come from ONE equi-self-join
keyed on the shared neighbor, common-counts aggregate with map-side
partials, and degrees join back by node. The hub defense mirrors
``max_shingle_df``: a neighbor of degree d contributes d² wedge rows, so
``max_degree`` drops super-hub *neighbors* from the wedge join only —
degrees (and therefore the Jaccard denominator) stay exact, scores of
pairs sharing a dropped hub are LOWER BOUNDS, and the drop count is
logged, never silent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sssom_curator_spark import log
from sssom_curator_spark.graph._edges import symmetric_adjacency, undirected_edges
from sssom_curator_spark.graph._iterate import checkpoint
from sssom_curator_spark.operators.textstats import stable_round

__all__ = ["neighbor_jaccard"]


def neighbor_jaccard(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    threshold: float = 0.0,
    max_degree: int | None = None,
) -> DataFrame:
    """``(node_a, node_b, common, jaccard)`` for every unordered pair
    sharing ≥ 1 neighbor (after hub capping), with
    ``jaccard = |N(a) ∩ N(b)| / |N(a) ∪ N(b)|`` over UNDIRECTED
    neighborhoods (direction/multiplicity collapse; self-loops dropped;
    a node is never its own neighbor). Pairs below ``threshold`` are
    filtered; ``node_a < node_b``."""
    und = undirected_edges(edges, src, dst)
    adj = symmetric_adjacency(und)
    # node-sized with THREE consumers (hub filter + both degree joins) —
    # materialize once instead of re-running the adjacency aggregation;
    # the hub count is observed on that same job
    metrics = None if max_degree is None else {"hubs": F.count_if(F.col("d") > max_degree)}
    deg, seen = checkpoint(adj.groupBy("m").agg(F.count(F.lit(1)).alias("d")), metrics)
    wedge_src = adj
    if max_degree is not None:
        if seen["hubs"]:
            log.warning(
                "neighbor_jaccard: dropping %d hub neighbors with degree > %d "
                "from the wedge join (scores for pairs sharing them are "
                "lower bounds)",
                seen["hubs"],
                max_degree,
            )
        hubs = deg.filter(F.col("d") > max_degree).select(F.col("m").alias("n"))
        wedge_src = adj.join(hubs, on="n", how="left_anti")
    a = wedge_src.select(F.col("n"), F.col("m").alias("node_a"))
    b = wedge_src.select(F.col("n"), F.col("m").alias("node_b"))
    common = (
        a.join(b, on="n")
        .filter(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(deg.select(F.col("m").alias("node_a"), F.col("d").alias("_da")), on="node_a")
        .join(deg.select(F.col("m").alias("node_b"), F.col("d").alias("_db")), on="node_b")
        .select(
            "node_a",
            "node_b",
            "common",
            stable_round(
                F.col("common") / (F.col("_da") + F.col("_db") - F.col("common")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
