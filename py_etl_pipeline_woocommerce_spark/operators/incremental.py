"""Incremental-load primitives: watermark filter + backfill windows.

Re-expresses the reference's watermark predicate (``after=since_iso``)
and windowed backfill (``src/run.py:106-130``: march a cursor in
N-day windows). The watermark state machine itself (get/set
``since_iso``, and ``src/run.py:140-150``'s advance to
max(order_date)+1min) is ``sources.state.WatermarkStore``.

Spark-first: the watermark predicate is a plain filter that Catalyst
pushes into the parquet/iceberg scan — at 100 TB with date-partitioned
data this becomes partition pruning, reading only new partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def filter_since(df: DataFrame, ts_col: str, watermark_iso: str) -> DataFrame:
    """Rows strictly after the watermark (run.py's ``after=since_iso``).

    The watermark VALIDATES on the driver first: a corrupted state
    file ('2024-13-01...') would otherwise cast to NULL, the
    predicate would be NULL for every row, and the incremental run
    would "succeed" with zero rows forever — the reference's
    pendulum parse raises, and so does this."""
    from datetime import datetime

    datetime.fromisoformat(watermark_iso)  # raises on malformed input
    return df.filter(F.col(ts_col) > F.lit(watermark_iso).cast("timestamp"))


def assign_backfill_windows(
    df: DataFrame, ts_col: str, start_iso: str, window_days: int = 30
) -> DataFrame:
    """Tag each row with its backfill window index (run.py:113-129
    marches ``cursor += window_days``); lets one job plan all windows
    instead of a driver loop of sequential fetches.

    ``start_iso`` validates on the DRIVER (the filter_since rule): a
    corrupted value would cast to NULL and tag every row's window
    NULL — a backfill that "succeeds" empty forever. Rows BEFORE the
    start clamp into window 0 instead of going negative: a planner
    iterating windows 0..N would silently never process a negative
    index, losing late-arriving rows with no error.
    """
    from datetime import datetime

    datetime.fromisoformat(start_iso)  # raises on malformed input
    if window_days <= 0:
        raise ValueError(
            f"window_days must be positive, got {window_days}"
        )
    start = F.lit(start_iso).cast("timestamp")
    # NTZ-safe epoch seconds: NTZ -> TIMESTAMP uses the UTC session tz.
    secs = F.col(ts_col).cast("timestamp").cast("long")
    idx = F.floor((secs - start.cast("long")) / (window_days * 86400))
    return df.withColumn(
        "backfill_window", F.greatest(idx, F.lit(0)).cast("bigint")
    )
