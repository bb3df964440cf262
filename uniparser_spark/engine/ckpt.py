"""Checkpoint policy for iterative DataFrame chains.

Iterative algorithms (connected components, PageRank, the LSH
signature barrier) must truncate lineage every round or the plan grows
without bound.  Two truncation devices exist with different failure
modes:

- ``localCheckpoint``: blocks live on executor local storage.  Cheap
  (no dfs write) but NOT durable — if an executor dies, the truncated
  lineage cannot recompute the lost blocks and the job fails.  Fine
  for short chains and local mode.
- ``checkpoint`` (reliable): blocks are written to
  ``spark.sparkContext.setCheckpointDir(...)`` — HDFS/S3 on a cluster
  — and survive executor loss.  Costs one distributed write per call.

:func:`step_checkpoint` picks per call: reliable when the caller asks
for it AND a checkpoint dir is configured, local otherwise.  Long
iterative chains should pass ``reliable=True`` every
``RELIABLE_INTERVAL``-th round (see :func:`reliable_this_round`):
between reliable barriers at most ``interval`` rounds of (narrow,
already-shuffled) work are lost to an executor failure, while the dfs
write cost is amortized 1/interval.  With no checkpoint dir configured
everything degrades to localCheckpoint — correct in local mode, and
the documented executor-loss risk on a cluster is the operator's
explicit opt-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: Cadence for durable barriers in long iterative chains:
#: reliable-checkpoint every N-th round, localCheckpoint otherwise.
RELIABLE_INTERVAL = 5


def has_checkpoint_dir(df: DataFrame) -> bool:
    """True when a reliable checkpoint dir is configured on the session."""
    d = df.sparkSession.sparkContext.getCheckpointDir()
    return d is not None


def step_checkpoint(df: DataFrame, *, reliable: bool = False) -> DataFrame:
    """Lineage barrier for one iteration step.

    ``reliable=True`` + configured checkpoint dir → durable
    ``checkpoint`` (survives executor loss); otherwise
    ``localCheckpoint``.  Both are lazy, so the NEXT action (the
    round's convergence aggregate) materializes the barrier — one Spark
    job per round instead of two.
    """
    if reliable and has_checkpoint_dir(df):
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


def reliable_this_round(round_idx: int) -> bool:
    """Durable-barrier cadence: rounds I-1, 2I-1, ... (0-based, I =
    ``RELIABLE_INTERVAL``), so a chain shorter than I rounds never pays
    a dfs write."""
    return round_idx % RELIABLE_INTERVAL == RELIABLE_INTERVAL - 1
