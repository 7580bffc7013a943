"""Partitioned-warehouse path: dynamic partition-overwrite upsert and
partition pruning — the mechanisms that make delete+insert and
date-range scans viable at 100 TB. Plus hypothesis property tests for
the money-coercion and watermark helpers (SURVEY §5).
"""

from __future__ import annotations

import contextlib
import io
import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from py_etl_pipeline_woocommerce_spark.operators.upsert import (
    upsert_partitioned_parquet,
)
from py_etl_pipeline_woocommerce_spark.sources.state import WatermarkStore


def test_partition_overwrite_replaces_only_touched_days(spark, tmp_path):
    path = str(tmp_path / "fct")
    initial = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-01", 20.0), (3, "2024-01-02", 30.0)],
        "order_id long, order_date string, total double",
    )
    initial.write.partitionBy("order_date").parquet(path)

    # batch restates day 1 (fewer rows) and adds day 3
    batch = spark.createDataFrame(
        [(1, "2024-01-01", 11.0), (4, "2024-01-03", 40.0)],
        "order_id long, order_date string, total double",
    )
    upsert_partitioned_parquet(batch, path, "order_date")

    out = {
        # partition values type-infer to DATE on read-back
        (r["order_id"]): (str(r["order_date"]), r["total"])
        for r in spark.read.parquet(path).collect()
    }
    # day-1 partition fully replaced: order 2 gone, order 1 restated
    assert out == {
        1: ("2024-01-01", 11.0),
        3: ("2024-01-02", 30.0),
        4: ("2024-01-03", 40.0),
    }


def test_partition_pruning_hits_scan(spark, tmp_path):
    path = str(tmp_path / "fct2")
    df = spark.createDataFrame(
        [(i, f"2024-01-{(i % 5) + 1:02d}", float(i)) for i in range(100)],
        "order_id long, order_date string, total double",
    )
    df.write.partitionBy("order_date").parquet(path)
    q = spark.read.parquet(path).filter(F.col("order_date") == "2024-01-03")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "order_date" in plan.split("PartitionFilters", 1)[1][:200]
    assert q.count() == 20


# ---------------------------------------------------------- property


@settings(max_examples=200, deadline=None)
@given(
    st.one_of(
        st.none(),
        st.floats(allow_nan=True, allow_infinity=True),
        st.integers(min_value=-(10**12), max_value=10**12),
        st.text(max_size=12),
    )
)
def test_money_coercion_matches_reference_f(raw):
    """rest._money must mirror the reference's `_f()` (float(v or 0),
    0.0 on failure — normalize_orders.py:6-10) for every input the
    wire can produce. Python-side check of the same coercion table the
    column expr implements: castable -> float, garbage/null -> 0.0."""

    def reference_f(v):
        try:
            return float(v or 0)
        except Exception:
            return 0.0

    def spark_cast_semantics(v):
        # cast(string as double) in Spark: trimmed numeric or null;
        # coalesce(..., 0.0) mirrors _money()
        if v is None:
            return 0.0
        if isinstance(v, (int, float)):
            return float(v)  # NaN/inf ride through as doubles
        try:
            return float(str(v).strip())
        except ValueError:
            return 0.0

    ref = reference_f(raw)
    got = spark_cast_semantics(raw)
    # NaN: reference propagates NaN (float('nan')); our engine treats
    # it as a valid double too — both "not zero", compare by identity
    if ref != ref or got != got:
        assert (ref != ref) == (got != got)
    else:
        assert got == pytest.approx(ref)


@settings(max_examples=100, deadline=None)
@given(
    st.datetimes(
        min_value=__import__("datetime").datetime(1990, 1, 1),
        max_value=__import__("datetime").datetime(2100, 1, 1),
    )
)
def test_watermark_advance_is_monotonic(dt):
    iso = dt.strftime("%Y-%m-%d %H:%M:%S")
    nxt = WatermarkStore.advance_from(iso)
    assert nxt is not None
    # +1 minute, strictly greater, stable format
    from datetime import datetime, timedelta

    assert datetime.fromisoformat(nxt) == dt.replace(microsecond=0) + timedelta(
        minutes=1
    )
    # gap-free mode: max - overlap, so the boundary minute re-reads
    # instead of being skipped (Woo `after` is exclusive)
    safe = WatermarkStore.advance_from(iso, overlap_minutes=1)
    assert datetime.fromisoformat(safe) == dt.replace(
        microsecond=0
    ) - timedelta(minutes=1)


def test_watermark_none_passthrough():
    assert WatermarkStore.advance_from(None) is None
    assert WatermarkStore.advance_from(None, overlap_minutes=1) is None


def test_upsert_deletes_stale_row_when_key_changes_month(spark, tmp_path):
    """A key whose order_date moves to a different month partition
    between drops must lose its old-month row (the reference deletes
    by order_id unconditionally, duckdb_client.py:55) — the moved-key
    probe widens the rewrite set to the stale month. When the moved
    key was its old month's only row, the emptied month directory
    goes too (dynamic overwrite never touches a month absent from its
    output)."""
    from py_etl_pipeline_woocommerce_spark.plans.woo_flow import _upsert_table

    # order 2 shares order 1's old month, then lives in a month of its own
    for n, order2_date in enumerate(["2024-01-06", "2024-03-06"]):
        path = str(tmp_path / f"fct{n}")

        def drop(rows):
            df = spark.createDataFrame(
                rows, "order_id long, order_date string, status string"
            ).withColumn("order_month", F.substring("order_date", 1, 7))
            months = {date[:7] for _, date, _ in rows}
            _upsert_table(spark, df, path, ["order_id"], months=months)

        drop(
            [
                (1, "2024-01-05", "pending"),
                (2, order2_date, "completed"),
                (3, "2024-02-01", "completed"),
            ]
        )
        # order 1's date is corrected into February
        drop([(1, "2024-02-10", "completed")])

        out = spark.read.parquet(path)
        assert out.count() == 3  # no duplicate for key 1
        r1 = [r for r in out.collect() if r["order_id"] == 1]
        assert len(r1) == 1
        assert r1[0]["order_date"] == "2024-02-10"
        assert str(r1[0]["order_month"]) == "2024-02"
        jan = os.path.join(path, "order_month=2024-01")
        assert os.path.exists(jan) == order2_date.startswith("2024-01")
