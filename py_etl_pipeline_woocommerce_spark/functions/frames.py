"""Frame materialization and release, shared by the package's writers.

A local checkpoint is not in the cache manager, so ``unpersist()``
and ``clearCache()`` never free it: whoever checkpoints a frame also
releases it, through ``release``, on every exit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def checkpoint(
    df: DataFrame, *metrics: F.Column, by: str | None = None
) -> tuple[DataFrame, dict]:
    """Materialize ``df`` once, right-sized: a REBALANCE (on ``by``
    when given), which AQE coalesces to one partition for a
    drop-sized frame and splits at the advisory size for a large one;
    ``metrics`` observed on that same job; an eager
    ``localCheckpoint``. Returns the checkpointed frame, which the
    caller hands to ``release``, and the observed values."""
    seen = Observation()
    hint = ("rebalance", by) if by else ("rebalance",)
    out = df.hint(*hint).observe(seen, *metrics).localCheckpoint(eager=True)
    return out, seen.get


def release(df: DataFrame) -> None:
    """Free a local-checkpointed frame's blocks. A local checkpoint is
    not in the cache manager, so ``unpersist()`` and ``clearCache()``
    both miss it; the LogicalRDD leaf it returns holds the RDD."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)
