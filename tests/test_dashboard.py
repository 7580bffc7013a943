"""Dashboard facade: one call returns every page frame; a bare call
defaults to the reference sidebar's LAST-30-DAYS-of-data window
(app.py:124-126 parity)."""

from __future__ import annotations

import os
import shutil
import uuid
from datetime import date, timedelta
from urllib.parse import urlparse

from pyspark.sql import functions as F

from py_etl_pipeline_woocommerce_spark.catalog import load_table, table_path
from py_etl_pipeline_woocommerce_spark.plans import analytics, dashboard
from py_etl_pipeline_woocommerce_spark.plans.dashboard import dashboard_payload

W95 = ("1995-01-01", "1995-12-31")
#: the star-schema tables a page reads, spelled out here so a table
#: missing from ``dashboard.PAGE_TABLES`` still gets copied
STAR = ("orders", "lineitem", "part", "customer", "nation", "region")


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"dashboard-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "dashboard_payload")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _collect(frames):
    return {
        name: sorted(map(tuple, df.collect()), key=repr)
        for name, df in frames.items()
    }


def _copy_tables(sf_dir, dest, skip=()):
    """A private copy of the page's tables (new inodes, writable)."""
    for t in STAR:
        if t not in skip:
            shutil.copyfile(table_path(sf_dir, t), table_path(str(dest), t))
    return str(dest)


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
    full_w = (bounds["min_d"], bounds["max_d"])
    full = dashboard_payload(spark, sf_dir, *full_w)
    # a page materializes its frames; revisiting the window on unchanged
    # tables serves the kept rows, collecting included, with no job
    _, n = _jobs(spark, lambda: _collect(dashboard_payload(spark, sf_dir, *full_w)))
    assert n == 0
    all_k = full["kpis"].first()["orders_cnt"]
    win_k = frames["kpis"].first()["orders_cnt"]
    assert 0 < win_k < all_k


def test_date_bounds_empty_table_fallback(spark, sf_dir, tmp_path, monkeypatch):
    # reference parity (app.py:19-22): an EMPTY orders table yields
    # (today - 30d, today), not NULLs
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

    # the page keeps date_bounds under the UTC date too, so a kept
    # fallback never outlives its day: the next day's page is a miss
    # and shows what a fresh date_bounds shows. (Spark's current_date
    # reads the wall clock, so the rebuilt rows are today's again.)
    wh = _copy_tables(sf_dir, tmp_path, skip=("orders",))
    monkeypatch.setattr(dashboard, "_utc_today", lambda: before.isoformat())
    dashboard_payload(spark, wh)
    builds = []

    def counted(*a):
        builds.append(a)
        return date_bounds(*a)

    monkeypatch.setattr(dashboard, "date_bounds", counted)
    _, n = _jobs(spark, lambda: dashboard_payload(spark, wh))
    assert (builds, n) == ([], 0)
    tomorrow = (before + timedelta(days=1)).isoformat()
    monkeypatch.setattr(dashboard, "_utc_today", lambda: tomorrow)
    bounds, n = _jobs(
        spark, lambda: dashboard_payload(spark, wh)["date_bounds"].first()
    )
    assert len(builds) == 1 and n > 0
    assert bounds["max_d"] in {before.isoformat(), get_today().isoformat()}


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


def test_rewritten_table_serves_new_rows(spark, sf_dir, tmp_path):
    wh = _copy_tables(sf_dir, tmp_path)
    first = _collect(dashboard_payload(spark, wh, *W95))
    path = table_path(wh, "lineitem")
    os.remove(path)
    load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 2 == 0
    ).write.parquet(path)
    second = _collect(dashboard_payload(spark, wh, *W95))
    assert second["kpis"] != first["kpis"]
    for name in ("kpis", "revenue_timeseries", "top_products"):
        fresh = getattr(analytics, name)(spark, wh, d1=W95[0], d2=W95[1])
        assert second[name] == _collect({name: fresh})[name], name


def test_revisit_runs_no_job_and_conf_flip_misses(spark, sf_dir, tmp_path):
    wh = _copy_tables(sf_dir, tmp_path)
    first = _collect(dashboard_payload(spark, wh, *W95))
    again, n = _jobs(spark, lambda: _collect(dashboard_payload(spark, wh, *W95)))
    assert n == 0 and again == first
    conf = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "false" if old == "true" else "true")
    try:
        flipped, n = _jobs(spark, lambda: _collect(dashboard_payload(spark, wh, *W95)))
    finally:
        spark.conf.set(conf, old)
    assert n > 0 and flipped == first


def test_new_window_reuses_unwindowed_frames(spark, sf_dir, tmp_path, monkeypatch):
    wh = _copy_tables(sf_dir, tmp_path)
    dashboard_payload(spark, wh, *W95)
    builds = []
    for name in ("date_bounds", "cohort_retention"):
        real = getattr(dashboard, name)

        def counted(*a, real=real, name=name):
            builds.append(name)
            return real(*a)

        monkeypatch.setattr(dashboard, name, counted)
    frames, n = _jobs(
        spark, lambda: dashboard_payload(spark, wh, "1996-01-01", "1996-01-30")
    )
    assert builds == [] and n > 0
    assert frames["cohort_retention"].count() > 0


def test_kept_frames_stay_at_the_cap(spark, sf_dir, tmp_path, monkeypatch):
    wh = _copy_tables(sf_dir, tmp_path)
    # room for one page (7 frames) and a bit: two windows need 12
    monkeypatch.setattr(dashboard, "_MAX_ENTRIES", 8)
    windows = [("1995-01-01", "1995-01-30"), ("1995-02-01", "1995-03-02")]
    for w in windows:
        dashboard_payload(spark, wh, *w)
    assert len(dashboard._KEPT) == 8
    # least recently used out: the last window is still whole
    _, n = _jobs(spark, lambda: _collect(dashboard_payload(spark, wh, *windows[-1])))
    assert n == 0


def test_page_key_covers_every_table_a_frame_reads(spark, sf_dir, monkeypatch):
    """Each frame's plan reads only tables in ``PAGE_TABLES``: a frame
    that starts reading another table would otherwise serve rows kept
    under a key that misses that table's rewrites."""
    monkeypatch.setattr(dashboard, "tables_snapshot", lambda *a: None)
    frames = dashboard_payload(spark, sf_dir, *W95)
    for name, df in frames.items():
        files = df.inputFiles()
        assert files, name
        rel = (os.path.relpath(urlparse(f).path, sf_dir) for f in files)
        read = {r.split(os.sep)[0].removesuffix(".parquet") for r in rel}
        assert read <= set(dashboard.PAGE_TABLES), (name, read)


def test_store_holds_under_concurrent_serves(monkeypatch):
    """Threads serving overlapping keys through the kept-rows store
    (Spark faked out) always get their own key's rows, and the store
    never passes its cap."""
    import sys
    import threading
    import time
    from collections import OrderedDict
    from types import SimpleNamespace as NS

    monkeypatch.setattr(dashboard, "_KEPT", OrderedDict())
    monkeypatch.setattr(dashboard, "_PAGE_KEYS", {"wh": ("page",)})
    monkeypatch.setattr(dashboard, "_MAX_ENTRIES", 16)
    monkeypatch.setattr(dashboard, "DataFrame", lambda jdf, spark: jdf)
    spark = NS(_jsparkSession=NS(createDataFrame=lambda rows, schema: rows))

    def build(k):
        time.sleep(0)  # yield mid-miss, where Spark would run the jobs
        return NS(_jdf=NS(collectAsList=lambda: [k], schema=lambda: None))

    errors = []

    def serve(t):
        try:
            for i in range(300):
                k = (t * 7 + i) % 40
                key = ("f", k)
                got = dashboard._kept_frame(
                    spark, "wh", ("page",), key, lambda: build(k)
                )
                assert got == [k], (k, got)
                assert len(dashboard._KEPT) <= 16
        except Exception as e:  # reported below with its thread's key
            errors.append(e)

    threads = [threading.Thread(target=serve, args=(t,)) for t in range(16)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(dashboard._KEPT) == 16
