"""Transitive closure via path doubling — ontology-hierarchy expansion.

The reference resolves ancestor/descendant questions by walking its
in-memory ``networkx`` mapping graph one edge at a time
(predict/lexical.py:403-456 reachability; export/charts.py:46-66 component
walks). A 10^12-node KG cannot walk: this module materializes the
reachability relation itself with the classic **path-doubling** join
(Valduriez & Boral-style logarithmic closure): after round k the frame
holds every pair connected by a path of length ≤ 2^k, so a
diameter-D graph converges in ⌈log2 D⌉ rounds — O(log D) shuffles
instead of the O(D) semi-naive frontier iteration.

Scale shape per round: ONE self equi-join on the frontier's (dst = src)
key plus a distinct — both shuffle on node ids, never on payloads. The
rounds run in :func:`sssom_curator_spark.graph._iterate.iterate`: each
is checkpointed, with its count + order-insensitive checksum observed on
that job (no full-frame comparison, no scalar job). The closure relation
is inherently O(reachable pairs) — quadratic in component size for dense
cyclic graphs — so the operator is meant for the DAG-ish ontology hierarchies
(skos:broader / rdfs:subClassOf trees) where |closure| ≈ depth × |V|;
``max_pairs`` guards against accidentally closing a social graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sssom_curator_spark import log
from sssom_curator_spark.graph._iterate import checkpoint, checksum, iterate

__all__ = ["bounded_reachability", "transitive_closure"]


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_iterations: int = 20,
    max_pairs: int | None = None,
) -> DataFrame:
    """All pairs ``(src, dst)`` connected by a directed path of length
    ≥ 1 through the SELF-LOOP-FREE projection of the input.

    Output columns are always named ``src``/``dst``. Direct self-loop
    edges (a → a) are dropped up front — reflexive edges carry no
    hierarchy information in the skos:broader/subClassOf graphs this
    operator targets — so (a, a) appears in the output ONLY when a is on
    a genuine cycle through other nodes (a → b → a). The DuckDB oracle
    filters base self-loops identically, and both behaviors are pinned
    in ``tests/test_graph_extra.py::TestTransitiveClosure``.

    ``max_iterations`` bounds rounds (path length ≤ 2^rounds — 20 rounds
    covers diameter 10^6); ``max_pairs``, when set, raises ``ValueError``
    as soon as the growing relation exceeds it, turning the quadratic
    blowup of closing a non-DAG-ish graph into a loud failure instead of
    a cluster-filling job. The convergence count is reused for the bound
    check — no extra job.
    """
    metrics = checksum("src", "dst")
    paths, scalars = checkpoint(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .filter(F.col("src") != F.col("dst"))
        .distinct(),
        metrics,
    )

    def double(paths: DataFrame, scalars: dict) -> DataFrame:
        if max_pairs is not None and scalars["n"] > max_pairs:
            raise ValueError(
                f"transitive_closure: relation grew past max_pairs={max_pairs} "
                f"({scalars['n']} pairs) — input is likely not the DAG-ish "
                "hierarchy this operator is designed for"
            )
        hop = (
            paths.alias("p")
            .join(paths.alias("q"), on=F.col("p.dst") == F.col("q.src"))
            .select(F.col("p.src").alias("src"), F.col("q.dst").alias("dst"))
        )
        return paths.union(hop).distinct()

    loop = iterate(
        "transitive_closure",
        paths,
        double,
        steps=max_iterations,
        scalars=scalars,
        metrics=metrics,
        converge=True,
    )
    if not loop.converged:
        log.warning("transitive_closure: %d rounds did not converge", max_iterations)
    return loop.frame


def bounded_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    seed_col: str = "node",
    max_depth: int = 3,
) -> DataFrame:
    """Minimum hop distance from a seed set, bounded by ``max_depth`` —
    the "ancestors/descendants up to k levels" ontology-neighborhood
    query (the reference walks these one edge at a time with networkx,
    predict/lexical.py:403-456). Output: ``(node, dist)`` for every node
    reachable in ≤ ``max_depth`` directed hops, INCLUDING the matched
    seeds at dist 0; unmatched seeds are ignored. BFS layers give the
    true minimum distance by construction.

    Scale shape: the edge list is checkpointed once; each round joins
    the FRONTIER (the visited nodes at the deepest distance so far,
    shrinking, node-sized) against it and anti-joins the visited set —
    per-round shuffles carry only node ids. The rounds run in
    :func:`sssom_curator_spark.graph._iterate.iterate`, which observes the
    visited count and the deepest distance on each round's checkpoint;
    unchanged values (an empty frontier) end the loop, so the round
    count is min(max_depth, eccentricity + 1).
    """
    if max_depth < 0:
        raise ValueError(f"max_depth must be >= 0, got {max_depth}")
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint()
    )
    graph_nodes = e.select(F.col("src").alias("node")).union(e.select("dst"))
    metrics = {"n": F.count(F.lit(1)), "depth": F.coalesce(F.max("dist"), F.lit(0))}
    visited, scalars = checkpoint(
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .join(graph_nodes, on="node", how="left_semi")
        .select("node", F.lit(0).cast("long").alias("dist")),
        metrics,
    )

    def expand(visited: DataFrame, scalars: dict) -> DataFrame:
        depth = scalars["depth"]
        frontier = visited.filter(F.col("dist") == depth).select("node")
        nxt = (
            e.join(frontier, on=e["src"] == frontier["node"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, on="node", how="left_anti")
            .select("node", F.lit(depth + 1).cast("long").alias("dist"))
        )
        return visited.union(nxt)

    return iterate(
        "bounded_reachability",
        visited,
        expand,
        steps=max_depth,
        scalars=scalars,
        metrics=metrics,
        converge=True,
    ).frame
