"""Degree statistics — the skew report every graph job reads first.

The degree distribution is the operational pre-flight for every operator
in this package: it tells you whether the grounding join needs salting,
whether neighbor/wedge joins need ``max_degree`` caps, and how hub-heavy
the crawl's link graph is. Zero-filled like the reference's size
histogram (A7, replicated in ``export/summary.py``), so downstream
plotting never interpolates missing buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sssom_curator_spark import log
from sssom_curator_spark.graph._edges import symmetric_adjacency, undirected_edges
from sssom_curator_spark.graph._iterate import checkpoint, iterate

__all__ = ["degree_assortativity", "degree_histogram", "k_core"]


def degree_histogram(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """``(degree, n_nodes)`` over the undirected deduplicated projection,
    zero-filled from 1 to the maximum degree.

    Scale shape: one degree aggregation (map-side partials) over the
    checkpointed undirected frame, one histogram aggregation over the
    NODE-sized degree frame, and a degree-range dimension exploded from
    one row — the zero-fill join is dimension-sized. The max-degree
    scalar folds from the same degree frame (checkpointed — the
    histogram and the scalar share its blocks)."""
    und = undirected_edges(edges, src, dst)
    deg = (
        symmetric_adjacency(und)
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint()
    )
    hist = deg.groupBy("degree").agg(F.count(F.lit(1)).alias("_n"))
    max_deg = deg.agg(F.coalesce(F.max("degree"), F.lit(0)).alias("_m"))
    grid = max_deg.select(
        F.explode(
            F.when(F.col("_m") > 0, F.sequence(F.lit(1).cast("long"), F.col("_m")))
            .otherwise(F.array().cast("array<long>"))
        ).alias("degree")
    )
    return grid.join(hist, on="degree", how="left").select(
        "degree", F.coalesce("_n", F.lit(0)).alias("n_nodes")
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    *,
    max_iterations: int = 50,
) -> DataFrame:
    """The k-core: iteratively peel nodes of degree < k until a fixpoint —
    the dense-substructure extractor (spam/link-farm cliques sit in high
    cores; a mapping-graph 2-core isolates multiply-witnessed identity
    clusters from one-off xref chains). Output: ``(node, core_degree)``
    for every surviving node, with its degree INSIDE the core.

    Scale shape per round: one degree aggregation (map-side partials)
    over the shrinking edge frame, one node-sized keep set, two semi-joins
    to restrict edges — all keyed on node ids. The rounds run in
    :func:`sssom_curator_spark.graph._iterate.iterate`: each round's edge
    count is observed on its checkpoint job, and an unchanged count ends
    the loop (peeling is monotone, so the count alone is a sound fixpoint
    test — no checksum needed).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def peel(cur: DataFrame, _scalars: dict) -> DataFrame:
        deg = symmetric_adjacency(cur).groupBy("n").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= k).select(F.col("n").alias("node"))
        return cur.join(keep, on=cur["u"] == keep["node"], how="left_semi").join(
            keep, on=cur["v"] == keep["node"], how="left_semi"
        )

    metrics = {"m": F.count(F.lit(1))}
    cur, scalars = checkpoint(undirected_edges(edges, src, dst), metrics)
    loop = iterate(
        "k_core", cur, peel, steps=max_iterations, scalars=scalars, metrics=metrics, converge=True
    )
    if not loop.converged:
        log.warning("k_core: %d rounds did not converge", max_iterations)
    return (
        symmetric_adjacency(loop.frame)
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .select(F.col("n").alias("node"), "core_degree")
    )


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over all undirected edges — one row
    ``(n_edges, assortativity)``, 6 dp, NULL when degenerate (all degrees
    equal). Natural web graphs are disassortative (hubs link to leaves);
    a strongly assortative subgraph is the link-farm signature, which is
    why this single number rides on crawl dashboards next to the Zipf
    slope.

    Scale shape: degrees from one aggregation over the checkpointed
    undirected frame; the edge-end degree join is two node-keyed
    equi-joins; the correlation is one closed-form aggregate row (each
    undirected edge contributes BOTH orientations, making the measure
    symmetric without a second pass).
    """
    und = undirected_edges(edges, src, dst)
    deg = (
        symmetric_adjacency(und)
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint()
    )
    paired = (
        und.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), on="u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), on="v")
    )
    both = paired.select(
        F.col("du").cast("double").alias("x"), F.col("dv").cast("double").alias("y")
    ).union(
        paired.select(F.col("dv").cast("double"), F.col("du").cast("double"))
    )
    m = both.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.avg(F.col("x") * F.col("y")).alias("mxy"),
        F.avg(F.col("x") * F.col("x")).alias("mxx"),
        F.avg(F.col("y") * F.col("y")).alias("myy"),
    )
    from sssom_curator_spark.operators.textstats import stable_round

    cov = F.col("mxy") - F.col("mx") * F.col("my")
    vx = F.col("mxx") - F.col("mx") * F.col("mx")
    vy = F.col("myy") - F.col("my") * F.col("my")
    return m.select(
        (F.col("n") / 2).cast("long").alias("n_edges"),
        F.when(
            (vx > 0) & (vy > 0),
            stable_round(cov / F.sqrt(vx * vy), 6),
        ).alias("assortativity"),
    )
