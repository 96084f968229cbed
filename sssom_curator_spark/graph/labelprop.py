"""Synchronous label propagation — community detection on the link graph.

Communities are coarser than connected components (CC merges anything
touching; LPA splits a component along its dense regions) — on a web
graph they approximate topical clusters, on a mapping graph they flag
cliques glued by a single dubious edge. This is the SYNCHRONOUS,
deterministic variant: every node simultaneously adopts the most
frequent label among its neighbors, ties broken by the SMALLEST label,
for a FIXED number of iterations — asynchronous/randomized LPA (the
faster-converging textbook version) is not reproducible across runs or
engines, and determinism is the contract every operator here keeps with
its DuckDB oracle.

Scale shape per iteration: one equi-join of the symmetric adjacency
(a projection over the checkpointed undirected edges) against the
node-sized label frame, one (node, label) count aggregation with
map-side partials, and one ``min(struct(-count, label))`` argmax — no
windows, no sorts. :func:`sssom_curator_spark.graph._iterate.iterate`
runs the rounds, checkpointing every few to keep plans shallow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sssom_curator_spark.graph._edges import symmetric_adjacency, undirected_edges
from sssom_curator_spark.graph._iterate import iterate

__all__ = ["label_propagation"]


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 4,
) -> DataFrame:
    """``(node, label)`` after ``iterations`` synchronous rounds over the
    undirected projection of ``edges`` (labels start as the node's own
    id; isolated nodes never appear — they are their own community by
    definition). Deterministic: the update is argmax by
    ``(count DESC, label ASC)``."""
    adj = symmetric_adjacency(undirected_edges(edges, src, dst))

    def step(labels: DataFrame, _scalars: dict) -> DataFrame:
        votes = (
            adj.join(labels, on=adj["m"] == labels["node"])
            .groupBy("n", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return (
            votes.groupBy("n")
            .agg(
                F.min(F.struct((-F.col("c")).alias("nc"), F.col("label").alias("l")))
                .alias("_w")
            )
            .select(F.col("n").alias("node"), F.col("_w.l").alias("label"))
        )

    labels = adj.select(F.col("n").alias("node"), F.col("n").alias("label")).distinct()
    return iterate("label_propagation", labels, step, steps=iterations).frame
