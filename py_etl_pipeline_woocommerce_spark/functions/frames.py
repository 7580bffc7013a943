"""Frame lifetime: the package's one place that pins, checkpoints and
releases a frame.

Every persisted or local-checkpointed frame goes through ``pin``,
``local_checkpoint`` or ``checkpoint``. Each registers the frame in
the innermost open ``scope()``; when that scope exits, normally or by
an exception, it releases every frame registered in it and nothing
else. ``release`` frees one frame early and deregisters it.

The contract:

- Operators never open a scope. A scope that closes before its caller
  materializes the result breaks that result, because a released local
  checkpoint cannot be recomputed. Operators pin and checkpoint freely
  and return lazy frames.
- The code that materializes opens the scope around the work and the
  write or collect that consumes it: an ingest run, a month rewrite, a
  rollup merge, a streaming micro-batch, a selfcheck or probe query.
- Outside any scope nothing is registered: a pinned frame lives until
  ``clearCache()`` (persisted) or until the JVM's ContextCleaner frees
  its unreachable RDD (local checkpoint), as Spark leaves it.
- Scopes are per thread (a ``ContextVar``). A callback that Spark runs
  on another thread, such as a streaming ``foreachBatch`` body, opens
  its own scope inside the callback.

A local checkpoint is not in the cache manager, so ``unpersist()`` and
``clearCache()`` never free it; ``release`` frees the RDD under the
checkpoint's LogicalRDD leaf instead.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

#: the open scopes of this context, innermost last
_scopes: ContextVar[tuple[list, ...]] = ContextVar("frame_scopes", default=())


@contextmanager
def scope() -> Iterator[None]:
    """Release, on exit, every frame pinned or checkpointed inside.
    Scopes nest; an inner scope releases only its own frames."""
    held: list = []
    token = _scopes.set(_scopes.get() + (held,))
    try:
        yield
    finally:
        _scopes.reset(token)
        for df in reversed(held):
            _free(df)


def in_scope() -> bool:
    """Whether a pin made here would be released by an open scope."""
    return bool(_scopes.get())


def _register(df: DataFrame) -> DataFrame:
    scopes = _scopes.get()
    if scopes:
        scopes[-1].append(df)
    return df


def pin(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """Persist ``df`` (lazily, at ``level``) and register it."""
    return _register(df.persist(level))


def local_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``, registered."""
    return _register(df.localCheckpoint(eager=eager))


def checkpoint(
    df: DataFrame, *metrics: F.Column, by: str | None = None
) -> tuple[DataFrame, dict]:
    """Materialize ``df`` once, right-sized: a REBALANCE (on ``by``
    when given), which AQE coalesces to one partition for a
    drop-sized frame and splits at the advisory size for a large one;
    ``metrics`` observed on that same job; an eager
    ``localCheckpoint``, registered. Returns the checkpointed frame
    and the observed values."""
    seen = Observation()
    hint = ("rebalance", by) if by else ("rebalance",)
    out = local_checkpoint(df.hint(*hint).observe(seen, *metrics))
    return out, seen.get


def release(df: DataFrame) -> None:
    """Free a pinned or local-checkpointed frame now and deregister it
    from its scope."""
    for held in _scopes.get():
        for i, f in enumerate(held):
            if f is df:
                del held[i]
                break
    _free(df)


def _free(df: DataFrame) -> None:
    if df.is_cached:
        df.unpersist()
    else:
        # the LogicalRDD leaf of a local checkpoint holds its RDD
        df._jdf.queryExecution().logical().rdd().unpersist(False)
