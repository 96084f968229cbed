"""Fixed-iteration PageRank over the link/mapping graph.

The reference has no graph-ranking operator; a web-scale KG pipeline
needs one — crawl frontier prioritization, domain authority for quality
weighting, and entity-importance priors for the grounding join all
consume it. This is the textbook damped power iteration (Page et al.
1999) with dangling-mass redistribution, run a FIXED number of rounds so
the result is deterministic and SQL-replayable (the DuckDB oracle chains
one CTE per iteration; a convergence-tested variant would tie the oracle
to float-epsilon behavior). One chassis serves the uniform, weighted,
and personalized (seed-teleport) variants — the uniform case is the
seeded case with t = 1/N, so every scale fix lands once.

The plan:
- the deduplicated edge list is checkpointed once, and every step's
  rank join reads those blocks;
- the state is one node-keyed frame ``(node, _deg, _s, rank)``:
  out-degree (null when the node dangles), seed flag, rank. A step joins
  it to the edges and sums, per receiving node with map-side partials,
  each edge's contribution plus one zero row per node that carries the
  node's other columns — no node join, and a 10M-in-degree hub page
  never materializes its in-edge list in one task;
- the loop is :func:`sssom_curator_spark.graph._iterate.iterate`. The
  dangling mass is observed on each step's checkpoint job and read by
  the next step as a literal, like the node and seed counts observed on
  the first checkpoint; no scalar runs a job of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sssom_curator_spark.graph._iterate import checkpoint, iterate
from sssom_curator_spark.operators.textstats import stable_round

__all__ = ["pagerank", "personalized_pagerank"]


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    weight: str | None = None,
    seeds: DataFrame | None = None,
    seed_col: str = "node",
    damping: float = 0.85,
    iterations: int = 5,
    round_to: int | None = 6,
) -> DataFrame:
    """Rank every node of the directed graph: ``(node, rank)``.

    Without ``weight``, parallel edges are collapsed (rank flows once per
    distinct edge); with ``weight`` (a numeric column — e.g. the
    ``n_links`` of a domain link graph), each source distributes rank
    proportionally to edge weight (parallel edges sum; non-positive
    weights are dropped). Self-loops count like any other edge.

    Without ``seeds``, teleportation is uniform: ranks start at 1/N and
    dangling mass spreads evenly. With ``seeds`` (a one-column frame of
    node ids), teleportation AND dangling mass return to the matched
    seeds uniformly — random walk with restart; unmatched seeds are
    ignored and ``ValueError`` is raised when none matches (including
    the empty-graph case, where every seed is trivially unmatched).

    Ranks sum to 1 after every iteration. ``round_to`` rounds the FINAL
    ranks only — internal iterations keep full precision; pass ``None``
    for raw doubles.
    """
    w = F.lit(1.0) if weight is None else F.col(weight).cast("double")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("_w")).filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull() & (F.col("_w") > 0)
    )
    e = e.distinct() if weight is None else e.groupBy("src", "dst").agg(F.sum("_w").alias("_w"))
    e = e.localCheckpoint()
    # one row per edge end; the sum per node is its out-degree, null for a
    # node that only receives (it dangles)
    nodes = (
        e.select(F.col("src").alias("node"), F.col("_w").alias("_deg"))
        .union(e.select(F.col("dst"), F.lit(None).cast("double")))
        .groupBy("node")
        .agg(F.sum("_deg").alias("_deg"))
    )
    if seeds is None:
        nodes = nodes.withColumn("_s", F.lit(True))
    else:  # _s is null off the seeds
        seeded = seeds.select(F.col(seed_col).alias("node"), F.lit(True).alias("_s"))
        nodes = nodes.join(seeded.distinct(), on="node", how="left")
    dangles = F.col("_deg").isNull()
    nodes, counts = checkpoint(
        nodes,
        {
            "n": F.count(F.lit(1)),
            "ns": F.count("_s"),
            "ns_dangling": F.count(F.when(dangles, F.col("_s"))),
        },
    )
    if seeds is not None and counts["ns"] == 0:
        raise ValueError("pagerank: no seed matches any graph node")
    if counts["n"] == 0:
        return nodes.select("node", F.lit(0.0).alias("rank"))
    # teleport share: 1/N everywhere, or 1/|seeds| on the seeds
    t = F.when(F.col("_s"), F.lit(1.0 / counts["ns"])).otherwise(F.lit(0.0))

    def step(st: DataFrame, scalars: dict) -> DataFrame:
        contrib = e.join(st, on=e["src"] == st["node"]).select(
            F.col("dst").alias("node"),
            (F.col("rank") * F.col("_w") / F.col("_deg")).alias("_in"),
            F.lit(None).cast("double").alias("_deg"),
            F.lit(None).cast("boolean").alias("_s"),
        )
        carried = st.select("node", F.lit(0.0).alias("_in"), "_deg", "_s")
        summed = (
            contrib.union(carried)
            .groupBy("node")
            .agg(F.sum("_in").alias("_in"), F.max("_deg").alias("_deg"), F.max("_s").alias("_s"))
        )
        rank = (F.lit(1.0) - F.lit(damping)) * t + F.lit(damping) * (
            F.col("_in") + F.lit(scalars["dangling"]) * t
        )
        return summed.select("node", "_deg", "_s", rank.alias("rank"))

    loop = iterate(
        "pagerank",
        nodes.select("node", "_deg", "_s", t.alias("rank")),
        step,
        steps=iterations,
        scalars={"dangling": counts["ns_dangling"] / counts["ns"]},
        metrics={"dangling": F.coalesce(F.sum(F.when(dangles, F.col("rank"))), F.lit(0.0))},
        exact=True,
    )
    rank = F.col("rank")
    if round_to is not None:
        rank = stable_round(rank, round_to)
    return loop.frame.select("node", rank.alias("rank"))


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    seed_col: str = "node",
    weight: str | None = None,
    damping: float = 0.85,
    iterations: int = 5,
    round_to: int | None = 6,
) -> DataFrame:
    """Random walk with restart — :func:`pagerank` with ``seeds``
    required. Kept as a named entry point for the KG-proximity use case
    (relevance relative to trusted domains, a seed ontology branch, or a
    query entity); all behavior, including weighted edges, comes from the
    shared chassis."""
    return pagerank(
        edges,
        src,
        dst,
        weight=weight,
        seeds=seeds,
        seed_col=seed_col,
        damping=damping,
        iterations=iterations,
        round_to=round_to,
    )
