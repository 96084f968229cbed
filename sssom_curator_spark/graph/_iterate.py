"""The one loop of the iterative graph operators.

Connected components, PageRank, HITS, label propagation, transitive
closure, bounded reachability and the k-core each write only a lazy
``step`` over a DataFrame state; :func:`iterate` runs it.

- The state is ``localCheckpoint``-ed every :data:`CHECKPOINT_EVERY`
  steps and after the last, or after every step for a loop that must
  read a scalar after every step (a convergence test, or a step that
  needs the exact scalar of the step before).
- Scalars (a checksum, a normalizer, a dangling mass, a node count) are
  aggregates ``observe()``-d on the checkpoint job itself, so none runs
  a job of its own. Steps read them as Python literals.
- Every loop logs its steps and checkpoints to the
  ``sssom_curator_spark`` logger and returns them in a :class:`Loop`.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from sssom_curator_spark import log

__all__ = ["CHECKPOINT_EVERY", "Loop", "checkpoint", "checksum", "iterate"]

#: Measured for 1, 2, 3 and 5 on the sf0.01 HITS and label-propagation
#: oracle queries (``local[4]``, interleaved): 30/24/21/18 and 21/18/18/16
#: jobs, equal wall time within noise. 3 takes most of the job saving.
CHECKPOINT_EVERY = 3


@dataclass(frozen=True)
class Loop:
    frame: DataFrame  # the final state, checkpointed if a step ran
    scalars: dict  # observed on ``frame``
    steps: int
    checkpoints: int
    converged: bool  # a ``converge`` loop stopped before its bound


def checkpoint(df: DataFrame, metrics: dict[str, Column] | None = None) -> tuple[DataFrame, dict]:
    """``localCheckpoint`` ``df`` and observe ``metrics`` on that job."""
    if not metrics:
        return df.localCheckpoint(), {}
    obs = Observation()
    out = df.observe(obs, *[c.alias(k) for k, c in metrics.items()]).localCheckpoint()
    return out, obs.get


def checksum(*cols: str) -> dict[str, Column]:
    """Row count and an order-insensitive hash sum: equal values on two
    checkpoints of a loop mean an unchanged set of rows."""
    return {
        "n": F.count(F.lit(1)),
        # decimal sum: order-insensitive and overflow-proof under ANSI mode
        "h": F.coalesce(F.sum(F.xxhash64(*cols).cast("decimal(38,0)")), F.lit(0)),
    }


def iterate(
    name: str,
    state: DataFrame,
    step: Callable[[DataFrame, dict], DataFrame],
    *,
    steps: int,
    scalars: dict | None = None,
    metrics: dict[str, Column] | None = None,
    converge: bool = False,
    exact: bool = False,
) -> Loop:
    """Apply ``step(frame, scalars)`` up to ``steps`` times.

    The first step reads ``scalars`` (what the caller observed when it
    checkpointed ``state``); later steps read the ``metrics`` of the
    latest checkpoint. ``converge`` ends the loop once two consecutive
    checkpoints observe equal scalars; ``exact`` marks a step that needs
    the scalars of the step just before it.
    """
    scalars = scalars or {}
    every = 1 if exact or converge else CHECKPOINT_EVERY
    checkpoints = n = 0
    done = False
    while n < steps and not done:
        state = step(state, scalars)
        n += 1
        if n % every == 0 or n == steps:
            prev = scalars
            state, scalars = checkpoint(state, metrics)
            checkpoints += 1
            done = converge and prev == scalars
    log.info("%s: %d steps, %d checkpoints%s", name, n, checkpoints, ", converged" if done else "")
    return Loop(state, scalars, n, checkpoints, done)
