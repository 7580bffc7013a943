"""Dashboard facade: one call returns every page frame; a bare call
defaults to the reference sidebar's LAST-30-DAYS-of-data window
(app.py:124-126 parity)."""

from __future__ import annotations

import uuid
from datetime import date, timedelta

from py_etl_pipeline_woocommerce_spark.plans.dashboard import dashboard_payload


def test_dashboard_payload_returns_all_frames(spark, sf_dir):
    frames = dashboard_payload(spark, sf_dir)
    assert set(frames) == {
        "date_bounds",
        "kpis",
        "revenue_timeseries",
        "top_products",
        "category_mix",
        "geo_rollup",
        "cohort_retention",
    }
    for name, df in frames.items():
        assert df.count() > 0, name


def test_dashboard_payload_respects_window(spark, sf_dir):
    frames = dashboard_payload(spark, sf_dir, "1995-01-01", "1995-12-31")
    days = [r["d"] for r in frames["revenue_timeseries"].collect()]
    assert days and min(days) >= "1995-01-01" and max(days) <= "1995-12-31"
    # a narrower window strictly reduces the KPI order count vs the
    # explicit full data range
    bounds = frames["date_bounds"].first()
    # after the first page, building a page with an explicit window is
    # lazy: its 17 table loads reuse the inferred schemas, so no job
    sc = spark.sparkContext
    group = f"warm-page-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "warm dashboard_payload")
    try:
        full = dashboard_payload(spark, sf_dir, bounds["min_d"], bounds["max_d"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    all_k = full["kpis"].first()["orders_cnt"]
    win_k = frames["kpis"].first()["orders_cnt"]
    assert 0 < win_k < all_k


def test_date_bounds_empty_table_fallback(spark, sf_dir, tmp_path):
    # reference parity (app.py:19-22): an EMPTY orders table yields
    # (today - 30d, today), not NULLs
    from py_etl_pipeline_woocommerce_spark.catalog import load_table
    from py_etl_pipeline_woocommerce_spark.plans.analytics import date_bounds

    load_table(spark, sf_dir, "orders").limit(0).write.parquet(
        str(tmp_path / "orders.parquet")
    )
    # capture the session's current_date BEFORE and AFTER so a UTC
    # midnight crossing between queries can't flake the assertion
    get_today = lambda: date.fromisoformat(  # noqa: E731
        spark.sql("SELECT CAST(current_date() AS STRING) AS d").first()["d"]
    )
    before = get_today()
    row = date_bounds(spark, str(tmp_path)).first()
    after = get_today()
    assert row["max_d"] in {before.isoformat(), after.isoformat()}
    assert (
        date.fromisoformat(row["max_d"])
        - date.fromisoformat(row["min_d"])
    ) == timedelta(days=30)


def test_dashboard_partial_override_anchors_to_effective_d2(spark, sf_dir):
    # d2 given, d1 defaulted: the 30-day default must anchor to the
    # EFFECTIVE d2, not the data's max date (which would invert the
    # window and empty every frame)
    frames = dashboard_payload(spark, sf_dir, None, "1995-12-31")
    days = [r["d"] for r in frames["revenue_timeseries"].collect()]
    assert days, "window must not be empty"
    assert max(days) <= "1995-12-31" and min(days) >= "1995-12-01"


def test_dashboard_default_window_is_last_30_days(spark, sf_dir):
    # bare call == sidebar default: (max(min_d, max_d - 30d), max_d)
    frames = dashboard_payload(spark, sf_dir)
    bounds = frames["date_bounds"].first()
    d2 = bounds["max_d"]
    d1 = max(
        bounds["min_d"],
        (date.fromisoformat(d2) - timedelta(days=30)).isoformat(),
    )
    days = [r["d"] for r in frames["revenue_timeseries"].collect()]
    assert days and min(days) >= d1 and max(days) <= d2
    explicit = dashboard_payload(spark, sf_dir, d1, d2)
    assert (
        frames["kpis"].first()["orders_cnt"]
        == explicit["kpis"].first()["orders_cnt"]
    )


def test_geo_rollup_keeps_unresolvable_customers(spark, tmp_path, sf_dir):
    """app.py buckets blank geography under the em-dash and counts
    EVERY in-window order — an order whose customer is purged (or
    NULL) must land in the dash bucket, not vanish (the geo total
    must keep matching the kpis header)."""
    import os

    from pyspark.sql import functions as F

    from py_etl_pipeline_woocommerce_spark.catalog import load_table
    from py_etl_pipeline_woocommerce_spark.plans import analytics

    wh = str(tmp_path / "geo_wh")
    os.makedirs(wh, exist_ok=True)
    orders = load_table(spark, sf_dir, "orders")
    # clone the warehouse, pointing one order at a purged customer
    orders.withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") == orders.first()["o_orderkey"],
               F.lit(-999)).otherwise(F.col("o_custkey")),
    ).write.parquet(os.path.join(wh, "orders.parquet"))
    for t in ("lineitem", "customer", "nation", "region"):
        load_table(spark, sf_dir, t).write.parquet(
            os.path.join(wh, f"{t}.parquet")
        )
    out = analytics.geo_rollup(spark, wh, limit=10_000).collect()
    total = sum(r.orders for r in out)
    assert total == orders.count()
    dash_rows = [r for r in out if r.region == "\u2014"]
    assert dash_rows and dash_rows[0].country == "\u2014"
    assert dash_rows[0].orders == 1


def test_dashboard_payload_normalizes_noncanonical_d2(spark, sf_dir):
    """A non-canonical-but-parseable d2 ('YYYYMMDD') must clamp
    correctly: raw text sorts wrongly against ISO dates and used to
    invert the default window into an empty page."""
    from py_etl_pipeline_woocommerce_spark.plans.dashboard import (
        dashboard_payload,
    )

    frames = dashboard_payload(spark, sf_dir, None, "19980801")
    # the window is non-empty: the kpis frame reports orders
    kp = frames["kpis"].collect()[0]
    assert kp["orders_cnt"] > 0
