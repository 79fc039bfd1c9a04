"""Plan-level utilities for iterative DataFrame loops.

Iterative algorithms (connected components, PageRank) keep their driver
loops tractable with eager ``localCheckpoint`` calls — plan truncation per
round. Two non-obvious hazards come with that pattern, each
measured in this repo (BENCH.md, round 5):

- ``DataFrame.unpersist()`` does NOT free a localCheckpoint's blocks (the
  cache manager never tracked them); the underlying RDD must be
  unpersisted directly or superseded per-round tables accumulate for the
  process lifetime.
- ``Dataset.localCheckpoint`` deliberately carries the ORIGIN plan's
  statistics onto the checkpoint leaf. In a loop the sizeInBytes estimates
  MULTIPLY through each round's joins and the product rides the next
  round's checkpoint — the BigInt doubles in bit-width per round until a
  single Catalyst stats visit costs minutes of driver-side BigInt
  multiplication (jstack-pinned in scala.math.BigInt.$times on the 1M-doc
  near-dup graph: 2 s rounds degraded to 80 s by round 7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def free_local_checkpoint(df: DataFrame) -> None:
    """Actually free an eager localCheckpoint's blocks.

    The checkpointed RDD is the LogicalRDD leaf of the analyzed plan;
    unpersist it directly (verified to release the blocks on Spark 4.1 —
    a freed checkpoint is NOT recomputable, so only superseded state may
    be passed here). Best effort: LogicalRDD.rdd is internal API, so any
    failure degrades to the old leak-until-GC behavior instead of
    erroring. NOTE: hand this the raw checkpointed frame — a
    ``stats_free_leaf`` rebuild wraps the checkpoint RDD in a new
    projection whose unpersist is a no-op."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass


def stats_free_leaf(df: DataFrame) -> DataFrame:
    """Rebuild a checkpointed DataFrame as a fresh LogicalRDD leaf WITHOUT
    the origin plan's statistics/constraints (see module docstring for
    why). The rebuilt leaf reports the session default size — constant
    width at every round, so iterative joins cannot compound estimates.
    Best-effort: internalCreateDataFrame is internal API (public in
    bytecode); on any failure the original frame is returned (correctness
    unaffected, only planning cost)."""
    try:
        jdf = df._jdf
        jspark = jdf.sparkSession()
        new_jdf = jspark.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False)
        return DataFrame(new_jdf, df.sparkSession)
    except Exception:
        return df
