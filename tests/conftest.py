from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py_etl_pipeline_woocommerce_spark.session import get_spark

#: single point of configuration for all testdata paths (a few
#: recall/property tests need the bigger sf0.01 tables)
TESTDATA_ROOT = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_DIR = f"{TESTDATA_ROOT}/sf0.001"
SF01_DIR = f"{TESTDATA_ROOT}/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


def pinned_ids(spark) -> set:
    """Ids of the session's persistent RDDs. Compare them as sets, not
    counts: the ContextCleaner frees older unreachable checkpoints on a
    JVM GC, and that drop would hide a new pin in a net count."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf01_dir():
    return SF01_DIR


def stream_poll(
    query,
    fetch,
    pred,
    idle_deadline_s=180,
    hard_deadline_s=900,
):
    """Poll ``fetch()`` until ``pred(rows)`` holds, with a
    PROGRESS-BASED deadline (the r11 flake fix): the idle clock resets
    whenever the streaming query commits another micro-batch, so a
    loaded box that is merely slow keeps extending the wait, while a
    genuinely stuck stream (no progress AND predicate unsatisfied)
    still fails after ``idle_deadline_s``. A query that DIED raises
    its real streaming exception immediately — not a generic timeout
    that hides the root cause. Caveat: state-timer streams emit
    no-data micro-batches that keep resetting the idle clock, so a
    live-but-logically-wrong stream is bounded only by
    ``hard_deadline_s`` — that bound is the real failure deadline for
    never-satisfiable predicates, hence 900 s not 1800.
    processAllAvailable() cannot replace this: it never returns under
    ProcessingTimeTimeout state timers (the documented caveat).
    """
    import time

    t0 = time.time()
    last_marker = None
    last_change = t0
    rows = []
    while True:
        exc = query.exception()
        if exc is not None:
            raise exc
        rows = fetch()
        if pred(rows):
            return rows
        now = time.time()
        lp = query.lastProgress or {}
        marker = (lp.get("batchId"), lp.get("timestamp"))
        if marker != last_marker:
            last_marker = marker
            last_change = now
        if now - last_change > idle_deadline_s:
            raise AssertionError(
                f"stream made no progress for {idle_deadline_s:.0f}s "
                f"(total wait {now - t0:.0f}s) and the predicate "
                f"never held; last rows: {rows[:20]}"
            )
        if now - t0 > hard_deadline_s:
            raise AssertionError(
                f"predicate never satisfied within {hard_deadline_s:.0f}s "
                f"(stream still progressing); last rows: {rows[:20]}"
            )
        time.sleep(1)


def memory_sink_poll(spark, query, table, pred, **kw):
    """stream_poll over a memory-sink table."""
    return stream_poll(
        query,
        lambda: spark.sql(f"select * from {table}").collect(),
        pred,
        **kw,
    )
