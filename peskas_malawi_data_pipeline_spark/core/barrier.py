"""Lineage-truncating materialization barrier for iterative operators.

The iterative operators (connected components, the distributed BPE fit)
must truncate lineage at controlled points: without a barrier,
either the upstream pipeline re-evaluates on both sides of a self-join, or
fixpoint loops accumulate unbounded plans. HOW to truncate depends on the
deployment:

- ``localCheckpoint``: blocks live in executor storage. Cheapest, right
  for single-node/ephemeral work — but an executor loss discards its
  blocks and forces recomputation of TRUNCATED lineage, which no longer
  exists → the job fails and must restart from the operator's entry.
- reliable ``checkpoint``: blocks persist to the cluster store
  (``sc.setCheckpointDir``) and survive executor loss — the right choice
  for long multi-round jobs on preemptible/spot fleets, at the cost of a
  write per barrier.

``materialize`` picks automatically: if the session has a checkpoint
directory configured, barriers are reliable; otherwise local. Operators
never need a flag, and a cluster submit opts in with one line
(``spark.sparkContext.setCheckpointDir("hdfs://.../ckpt")``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and truncate its lineage — reliably if
    the SparkContext has a checkpoint dir, locally otherwise."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
