"""Connected components: local union-find, then large-star/small-star
rounds on CURIE strings (G1).

The reference calls ``nx.connected_components`` over the in-memory positive
mapping graph (export/charts.py:46-66) and uses single-source reachability
for the mutual-mapping filter (predict/lexical.py:403-456). Neither
survives a 10^12-node graph. :func:`connected_components` plans instead:

1. **Small graphs** (at most ``small_graph_threshold`` edges): one
   ``limit().collect()`` and plain union-find on the driver, the same
   local-relation shortcut Catalyst applies to tiny inputs.
2. **Local contraction.** Otherwise the edges are hash-partitioned on
   their source and each partition runs the same union-find in a
   ``mapInPandas`` task, emitting a parent link ``(node, local_root)``
   for every node it saw, roots linked to themselves: the same
   connectivity, with every in-partition component already a star
   (contract locally before global rounds, as in *BTS: Load-Balanced
   Distributed Union-Find*, ICDE 2024). A task holds parent pointers,
   never its edge list.
3. **Star rounds** (Kiveris et al., "Connected Components in MapReduce
   and Beyond", SoCC'14) on those links, with CURIE strings as node ids:
   O(log n) rounds of a large-star and a small-star step, each step one
   window ``min`` per node — no ``collect_list``. The loop is
   :func:`sssom_curator_spark.graph._iterate.iterate`: the link count and
   an order-insensitive checksum are observed on each round's checkpoint
   job, and equal values on consecutive rounds end it.
4. Converged, the links are exactly one ``(node, smallest CURIE of its
   component)`` per node — the north rule's canonical CURIE, which
   canonicalization maps every member to — and are the output. Links
   that are already a star forest converge after one round.

Both paths pick the same representative, so the output depends on neither
the path, the partitioning nor the session's history.
"""

from __future__ import annotations

from typing import Iterable, Iterator

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sssom_curator_spark import log
from sssom_curator_spark.graph._iterate import checkpoint, checksum, iterate

__all__ = ["connected_components", "canonicalize_mappings"]


def _union_find(pairs: Iterable[tuple[str, str]]) -> list[tuple[str, str]]:
    """``(node, smallest node of its component)`` for every node of
    ``pairs``; the one kernel of both the driver path and the contraction."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    rep: dict[str, str] = {}
    for node in parent:
        root = find(node)
        rep[root] = min(rep.get(root, node), node)
    return [(node, rep[find(node)]) for node in parent]


def _contract(batches: Iterator) -> Iterator:
    """``mapInPandas`` body: union-find over one task's edges."""
    import pandas as pd

    pairs = (p for pdf in batches for p in zip(pdf["a"], pdf["b"]))
    yield pd.DataFrame(_union_find(pairs), columns=["u", "v"])


def _link(child: Column, parent: Column) -> Column:
    return F.struct(child.alias("u"), parent.alias("v"))


def _star_round(e: DataFrame, _scalars: dict) -> DataFrame:
    """One large-star then one small-star step over parent links
    ``u -> v`` (``u >= v``); every node keeps a link, roots to themselves."""
    by_u = Window.partitionBy("u")
    u, v, m = F.col("u"), F.col("v"), F.col("m")
    sym = e.union(e.select(v.alias("u"), u.alias("v")))
    # large star: link u and its larger neighbors to min(N(u) ∪ {u})
    large = sym.withColumn("m", F.least(u, F.min(v).over(by_u))).select(
        F.inline(F.array(_link(F.greatest(u, v), m), _link(u, m)))
    )
    # small star: link u and its (smaller) neighbors to their minimum
    return (
        large.withColumn("m", F.min(v).over(by_u))
        .select(F.inline(F.array(_link(v, m), _link(u, m))))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_iterations: int = 25,
    small_graph_threshold: int = 100_000,
) -> DataFrame:
    """Label every node with its component representative.

    Input: an edge DataFrame with string endpoint columns ``src``/``dst``.
    Output, materialized: ``(node:string, component:string)`` covering
    every endpoint, where ``component`` is the lexicographically smallest
    CURIE in the node's component. ``max_iterations`` bounds the star
    rounds; reaching it unconverged is logged as a warning.
    """
    spark = edges.sparkSession
    pairs = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a").isNotNull() & F.col("b").isNotNull()
    )
    if small_graph_threshold > 0:
        sample = pairs.limit(small_graph_threshold + 1).collect()
        if len(sample) <= small_graph_threshold:
            import pandas as pd

            log.info("connected_components: small path, %d edges on the driver", len(sample))
            labeled = _union_find((r["a"], r["b"]) for r in sample)
            # Arrow path: a plain-list createDataFrame would re-evaluate
            # through pickle python workers on every downstream use.
            pdf = pd.DataFrame(labeled or [], columns=["node", "component"])
            return spark.createDataFrame(pdf, "node string, component string")
    log.info("connected_components: distributed path")
    metrics = checksum("u", "v")
    links, scalars = checkpoint(
        pairs.repartition("a").mapInPandas(_contract, "u string, v string"), metrics
    )
    loop = iterate(
        "connected_components",
        links,
        _star_round,
        steps=max_iterations,
        scalars=scalars,
        metrics=metrics,
        converge=True,
    )
    # converged, the links are exactly one (node, representative) per node
    links = loop.frame
    if not loop.converged:
        log.warning("connected_components: %d rounds did not converge", max_iterations)
        links = links.groupBy("u").agg(F.min("v").alias("v")).localCheckpoint()
    return links.select(F.col("u").alias("node"), F.col("v").alias("component"))


def canonicalize_mappings(
    mappings: DataFrame,
    components: DataFrame,
    *,
    broadcast_components: bool | None = None,
) -> DataFrame:
    """Canonicalization: rewrite subject/object CURIEs to their component
    representative (north rule: union-find over skos:exactMatch edges
    collapses equivalent CURIEs). Unmatched CURIEs pass through.

    Scale note (the 10^12-document design point): this is the north-rule
    canonicalization operator, and the components frame can be derived
    from the corpus itself — in which case it is NOT broadcastable. By
    default no join strategy is forced: Catalyst/AQE broadcasts the
    component table when its runtime size is under
    ``spark.sql.autoBroadcastJoinThreshold`` (the common case — a
    label-index-sized table) and falls back to a shuffled equi-join on the
    CURIE key otherwise. Callers that KNOW the components frame is
    dimension-sized can pass ``broadcast_components=True`` to pin the
    hint; ``False`` pins the shuffle path (both rewrites shuffle on the
    same key family, so AQE reuses the exchange where possible). A plan
    test (tests/test_components.py::test_canonicalize_no_forced_broadcast)
    asserts a large components frame plans as an equi-join, not
    BroadcastHashJoin, when the threshold rules it out.
    """
    subj = components.select(
        F.col("node").alias("subject_id"), F.col("component").alias("subject_canonical")
    )
    obj = components.select(
        F.col("node").alias("object_id"), F.col("component").alias("object_canonical")
    )
    if broadcast_components is True:
        subj, obj = F.broadcast(subj), F.broadcast(obj)
    elif broadcast_components is False:
        subj = subj.hint("shuffle_hash")
        obj = obj.hint("shuffle_hash")
    return (
        mappings.join(subj, on="subject_id", how="left")
        .join(obj, on="object_id", how="left")
        .withColumn("subject_canonical", F.coalesce("subject_canonical", F.col("subject_id")))
        .withColumn("object_canonical", F.coalesce("object_canonical", F.col("object_id")))
    )
