"""Checkpoint-block bookkeeping shared by the iterative engines.

A loop that localCheckpoints per-round state retains O(rounds)
corpus-scale tables in the block manager unless superseded blocks are
released the moment their last consumer has materialized (the
ContextCleaner only frees them after a driver full-GC, which a large heap
may not run for hours).  ``ckpt_rdd`` fetches the JVM handle backing a
checkpointed DataFrame; ``release`` unpersists tracked handles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ckpt_rdd(df: DataFrame):
    """JVM handle of the RDD backing a local-checkpointed DataFrame (its
    analyzed plan is a ``LogicalRDD``); None for any other plan."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        # a checkpointed df wrapped in narrow projections (e.g. a .drop)
        # still rides the same blocks — descend to the scan, but only
        # through nodes that cannot hide a DIFFERENT checkpoint
        while (plan.getClass().getSimpleName() in ("Project", "Filter")
               and plan.children().size() == 1):
            plan = plan.children().apply(0)
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return None
        return plan.rdd()
    except Exception:  # pragma: no cover — py4j surface drift
        return None


def release(handles, blocking: bool = False) -> None:
    """Unpersist tracked checkpoint RDD handles.  Only sound once every
    downstream consumer of the blocks has materialized (checkpoint
    lineage is truncated — a late consumer could not recompute them)."""
    for h in handles:
        if h is None:
            continue
        try:
            h.unpersist(blocking)
        except Exception:  # pragma: no cover — context already stopped
            pass
