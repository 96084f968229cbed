"""Fixed-iteration HITS (hubs & authorities) over a directed link graph.

Kleinberg's complement to PageRank: authorities are pages pointed AT by
good hubs, hubs point TO good authorities — on a web crawl the pair
separates content pages from directory/navigation pages, a signal the
flat PageRank score conflates. Fixed iteration count keeps the result
deterministic and SQL-replayable (one CTE pair per iteration in the
DuckDB oracle), exactly like :mod:`sssom_curator_spark.graph.pagerank`.

The plan:
- the deduplicated edge list is checkpointed once and every half-step
  reads those blocks;
- the state is one node-keyed frame ``(node, hub, authority)``. A
  half-step left-joins it to the edges once and emits two rows per edge:
  the score sent to the far end, and the node's own row (the zero fill,
  carrying the other score). A sum per node with map-side partials
  folds them — no node join and no final hub/authority join;
- the step loop is :func:`sssom_curator_spark.graph._iterate.iterate`,
  which checkpoints every few steps (each step reads its state once, so
  a few steps make one shallow plan). Both L2 norms are observed on each
  checkpoint job. Scaling a score vector does not change the direction
  of the next half-step, so the hub scores enter a step divided by the
  latest observed norm as a literal — which only bounds their magnitude
  between checkpoints — and only the final frame is normalized exactly.
  No norm runs a job of its own, and no one-row norm frame is
  cross-joined into the plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sssom_curator_spark.graph._iterate import iterate
from sssom_curator_spark.operators.textstats import stable_round

__all__ = ["hits"]


def _scaled(col: str, norm: float) -> Column:
    """``col / norm``, and 0 for an all-zero vector."""
    return F.col(col) / F.lit(norm) if norm > 0 else F.lit(0.0)


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 5,
    round_to: int | None = 6,
) -> DataFrame:
    """``(node, hub, authority)`` for every endpoint. Parallel edges
    collapse; self-loops count. Scores start at 1 and are L2-normalized
    after every update (the standard formulation), so results are
    independent of graph size units. ``round_to`` rounds only the final
    frame."""
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint()
    )

    def half_step(st: DataFrame, key: str, score: str, norm: float, keep: str) -> DataFrame:
        """Each node sends ``keep / norm`` along its ``key``-side edges;
        its new ``score`` is the sum it receives, and its ``keep`` rides
        along."""
        far = "dst" if key == "src" else "src"
        return (
            st.join(e, on=st["node"] == e[key], how="left")
            .select(
                F.inline(
                    F.array(
                        F.struct(
                            F.col(far).alias("node"),
                            _scaled(keep, norm).alias(score),
                            F.lit(None).cast("double").alias(keep),
                        ),
                        F.struct("node", F.lit(0.0).alias(score), keep),
                    )
                )
            )
            .filter(F.col("node").isNotNull())
            .groupBy("node")
            .agg(F.sum(score).alias(score), F.max(keep).alias(keep))
        )

    def step(st: DataFrame, scalars: dict) -> DataFrame:
        # authority = A^T hub, then hub = A authority
        auth = half_step(st, "src", "authority", scalars["hub"], "hub")
        return half_step(auth, "dst", "hub", 1.0, "authority")

    scores = ("hub", "authority")
    nodes = e.select(F.col("src").alias("node")).union(e.select("dst")).distinct()
    loop = iterate(
        "hits",
        nodes.select("node", *[F.lit(1.0).alias(c) for c in scores]),
        step,
        steps=iterations,
        scalars=dict.fromkeys(scores, 1.0),
        metrics={c: F.coalesce(F.sqrt(F.sum(F.col(c) * F.col(c))), F.lit(0.0)) for c in scores},
    )
    out = [_scaled(c, loop.scalars[c]) for c in scores]
    if round_to is not None:
        out = [stable_round(c, round_to) for c in out]
    return loop.frame.select("node", *[c.alias(name) for c, name in zip(out, scores)])
