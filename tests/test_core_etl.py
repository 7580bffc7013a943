"""Core ETL operators: normalize / enrich / refunds / upsert /
incremental — unit semantics on tiny literal frames + sf0.001 shape
checks (mirrors the reference's transform behavior, see SURVEY.md §5).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from py_etl_pipeline_woocommerce_spark.catalog import load_table
from py_etl_pipeline_woocommerce_spark.operators.enrich import enrich_items_with_categories
from py_etl_pipeline_woocommerce_spark.operators.incremental import (
    assign_backfill_windows,
    filter_since,
)
from py_etl_pipeline_woocommerce_spark.operators.normalize import (
    normalize_items,
    normalize_orders,
)
from py_etl_pipeline_woocommerce_spark.operators.refunds import (
    apply_refunds_orders,
    refund_aggregates,
)
from py_etl_pipeline_woocommerce_spark.operators.upsert import upsert_df
from py_etl_pipeline_woocommerce_spark.plans.woo_model import fct_orders


def test_normalize_orders_shape(spark, sf_dir):
    out = normalize_orders(load_table(spark, sf_dir, "orders"))
    assert out.columns == [
        "order_id", "order_date", "status", "customer_id",
        "order_priority", "gross_total", "net_total", "refund_total",
    ]
    row = out.orderBy("order_id").first()
    assert isinstance(row["order_date"], str) and len(row["order_date"]) == 10


def test_normalize_items_total_is_discounted_price(spark):
    li = spark.createDataFrame(
        [(1, 10, 100, 1, 2.0, 1000.00, 0.10, 0.05, "N", "O")],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string",
    )
    row = normalize_items(li).first()
    assert row["total"] == 900.0  # 1000 * (1 - 0.10), exact decimal
    assert row["quantity"] == 2


def test_enrich_matches_part_type(spark, sf_dir):
    items = normalize_items(load_table(spark, sf_dir, "lineitem"))
    part = load_table(spark, sf_dir, "part")
    out = enrich_items_with_categories(items, part)
    # every product that exists in part got its type string
    missing = out.join(
        part.select(F.col("p_partkey").alias("product_id")), "product_id", "left_semi"
    ).filter(F.col("category_snapshot").isNull())
    assert missing.count() == 0


def test_refund_aggregates_only_r_lines(spark):
    li = spark.createDataFrame(
        [
            (1, 1.0, 100.0, 0.0, "R"),
            (1, 2.0, 50.0, 0.0, "N"),
            (2, 1.0, 10.0, 0.5, "R"),
        ],
        "l_orderkey long, l_quantity double, l_extendedprice double, "
        "l_discount double, l_returnflag string",
    )
    got = {r["order_id"]: r for r in refund_aggregates(li).collect()}
    assert got[1]["refund_total"] == 100.0 and got[1]["refunded_quantity"] == 1
    assert got[2]["refund_total"] == 5.0  # 10 * (1 - 0.5)


def test_apply_refunds_orders_coalesces_missing(spark):
    base = spark.createDataFrame(
        [(1, 100.0), (2, 40.0)], "order_id long, net_total double"
    )
    refunds = spark.createDataFrame([(1, 25.0)], "order_id long, refund_total double")
    got = {r["order_id"]: r for r in apply_refunds_orders(base, refunds).collect()}
    assert got[1]["net_after_refunds"] == 75.0
    assert got[2]["refund_total"] == 0.0 and got[2]["net_after_refunds"] == 40.0


def test_fct_orders_net_identity(spark, sf_dir):
    fct = fct_orders(spark, sf_dir)
    bad = fct.filter(
        F.abs(F.col("net_total") - F.col("refund_total") - F.col("net_after_refunds"))
        > 1e-9
    )
    assert bad.count() == 0
    assert fct.count() > 0


def test_upsert_delete_then_insert(spark):
    existing = spark.createDataFrame(
        [(1, "old"), (2, "old"), (3, "old")], "order_id long, status string"
    )
    batch = spark.createDataFrame([(2, "new"), (4, "new")], "order_id long, status string")
    got = {r["order_id"]: r["status"] for r in upsert_df(existing, batch, ["order_id"]).collect()}
    assert got == {1: "old", 2: "new", 3: "old", 4: "new"}


def test_watermark_filter_and_advance(spark):
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00",), ("2024-06-01 12:30:00",)], "ts string"
    ).select(F.col("ts").cast("timestamp").alias("ts"))
    kept = filter_since(df, "ts", "2024-03-01T00:00:00")
    assert kept.count() == 1


def test_backfill_window_assignment(spark):
    df = spark.createDataFrame(
        [("1992-01-15 00:00:00",), ("1992-02-20 00:00:00",)], "ts string"
    ).select(F.col("ts").cast("timestamp").alias("ts"))
    got = [
        r["backfill_window"]
        for r in assign_backfill_windows(df, "ts", "1992-01-01T00:00:00", 30)
        .orderBy("ts")
        .collect()
    ]
    assert got == [0, 1]


def test_re_enrich_fills_only_missing(spark):
    from py_etl_pipeline_woocommerce_spark.operators.enrich import (
        re_enrich_missing_categories,
    )

    items = spark.createDataFrame(
        [(1, "KEEP ME", 1.0), (2, None, 2.0), (3, "  ", 3.0), (4, None, 4.0)],
        "product_id bigint, category_snapshot string, total double",
    )
    part = spark.createDataFrame(
        [(1, "T1", "B"), (2, "T2", "B"), (3, "T3", "B")],
        "p_partkey bigint, p_type string, p_brand string",
    )
    out = {r.product_id: r.category_snapshot
           for r in re_enrich_missing_categories(items, part).collect()}
    assert out[1] == "KEEP ME"          # existing value preserved
    assert out[2] == "T2" and out[3] == "T3"  # NULL and blank filled
    assert out[4] is None               # missing in dim stays NULL


def test_ensure_columns_adds_typed_nulls(spark):
    from py_etl_pipeline_woocommerce_spark.operators.maintenance import ensure_columns

    df = spark.createDataFrame([(1, 2.0)], "order_id bigint, net_total double")
    out = ensure_columns(
        df, {"refund_total": "double", "net_total": "string"}
    )
    # missing column added with declared type; existing column untouched
    assert dict(out.dtypes)["refund_total"] == "double"
    assert dict(out.dtypes)["net_total"] == "double"
    row = out.collect()[0]
    assert row.refund_total is None and row.net_total == 2.0


def test_notify_env_gated_and_swallows_errors(monkeypatch):
    from py_etl_pipeline_woocommerce_spark.sources.notify import notify

    sent = []
    monkeypatch.delenv("NOTIFY_TO", raising=False)
    assert notify("msg", transport=lambda s, b, t: sent.append((s, b, t))) is False
    assert sent == []

    monkeypatch.setenv("NOTIFY_TO", "ops@example.com")
    assert notify("disk full", level="error",
                  transport=lambda s, b, t: sent.append((s, b, t))) is True
    assert sent == [("[ETL ERROR] py_etl_pipeline_woocommerce_spark", "disk full", "ops@example.com")]

    def boom(s, b, t):
        raise RuntimeError("smtp down")
    # a failing transport must not raise
    assert notify("msg", transport=boom) is True


def test_register_model_views_sql_surface(spark, sf_dir):
    """SQL parity with the reference's DuckDB warehouse: the derived
    model is queryable via spark.sql, results match the function API,
    and a filter through the view still prunes the parquet scan."""
    from py_etl_pipeline_woocommerce_spark.catalog import register_model_views
    from py_etl_pipeline_woocommerce_spark.plans import woo_model

    register_model_views(spark, sf_dir)
    via_sql = spark.sql(
        "SELECT COUNT(*) AS n, SUM(CAST(net_after_refunds AS DECIMAL(28,6))) AS s "
        "FROM fct_orders"
    ).collect()[0]
    api = woo_model.fct_orders(spark, sf_dir)
    assert via_sql.n == api.count()
    # marts answer too
    assert spark.sql("SELECT * FROM mart_kpis").count() == 1
    # pushdown survives the view: a date filter reaches the orders scan
    plan = spark.sql(
        "SELECT order_id FROM fct_orders WHERE order_date >= '1995-01-01'"
    )._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "IsNotNull" in plan


def test_fulfillment_latency_integer_day_lags(spark, sf_dir):
    from py_etl_pipeline_woocommerce_spark.plans.relational import (
        fulfillment_latency,
    )

    out = {r.o_orderpriority: r for r in fulfillment_latency(spark, sf_dir).collect()}
    assert out  # every priority present in the data reports
    for r in out.values():
        # the synthetic testdata draws ship dates independently of
        # order dates, so lags can be negative — only the ordering
        # invariants are data-independent
        assert r.min_days <= r.p50_days <= r.p90_days <= r.max_days
        assert r.n_lines > 0


def test_wow_growth_lags_and_divides(spark, sf_dir):
    from py_etl_pipeline_woocommerce_spark.plans.relational import wow_growth

    rows = sorted(wow_growth(spark, sf_dir).collect(), key=lambda r: r.week_idx)
    assert rows[0].prev_revenue is None and rows[0].growth is None
    for a, b in zip(rows, rows[1:]):
        assert b.prev_revenue == a.revenue
        if a.revenue:
            assert b.growth == round((b.revenue - a.revenue) / a.revenue, 6)


def test_repeat_rate_hand_computed(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from py_etl_pipeline_woocommerce_spark.plans.relational import repeat_rate

    D = 86_400_000_000
    rows = [
        # cust 1: orders on day 0 and day 10 -> repeat, gap 10
        (1, 1, 0), (2, 1, 10 * D),
        # cust 2: one order -> not repeat
        (3, 2, 5 * D),
        # cust 3: three orders, second on day 2 -> gap 2
        (4, 3, 0), (5, 3, 2 * D), (6, 3, 30 * D),
    ]
    d = tmp_path / "sf"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([r[0] for r in rows], pa.int64()),
                "o_custkey": pa.array([r[1] for r in rows], pa.int64()),
                "o_orderstatus": pa.array(["O"] * len(rows), pa.string()),
                "o_totalprice": pa.array([1.0] * len(rows), pa.float64()),
                "o_orderdate": pa.array(
                    [r[2] for r in rows], pa.timestamp("us")
                ),
                "o_orderpriority": pa.array(["1"] * len(rows), pa.string()),
            }
        ),
        str(d / "orders.parquet"),
    )
    r = repeat_rate(spark, str(d), exact=True).collect()[0]
    assert (r.n_customers, r.n_repeat) == (3, 2)
    assert r.repeat_rate == round(2 / 3, 6)
    assert r.p50_gap_days == 6.0  # median of {10, 2}
    # sketch default: same schema/counters, GK picks an actual gap
    sk = repeat_rate(spark, str(d)).collect()[0]
    assert (sk.n_customers, sk.n_repeat) == (3, 2)
    assert sk.p50_gap_days in (2.0, 10.0)


def test_re_enrich_null_product_id_blank_snapshot_untouched(spark):
    """The reference's UPDATE joins on product_id, which never matches
    NULL — a row with NULL product_id and a blank snapshot must stay
    blank, not be overwritten to NULL by the missing-only rule."""
    from py_etl_pipeline_woocommerce_spark.operators.enrich import (
        re_enrich_missing_categories,
    )

    items = spark.createDataFrame(
        [(1, 10, ""), (2, None, ""), (3, 11, None)],
        "order_id long, product_id long, category_snapshot string",
    )
    part = spark.createDataFrame(
        [(10, "TYPE-A"), (11, "TYPE-B")], "p_partkey long, p_type string"
    )
    got = {
        r["order_id"]: r["category_snapshot"]
        for r in re_enrich_missing_categories(items, part).collect()
    }
    assert got[1] == "TYPE-A"   # blank + resolvable -> filled
    assert got[2] == ""          # NULL product_id -> untouched
    assert got[3] == "TYPE-B"    # NULL snapshot + resolvable -> filled


def test_filter_since_rejects_malformed_watermark(spark):
    """A corrupted watermark must raise, not cast to NULL and
    silently filter every row out forever."""
    import pytest as _pytest

    from py_etl_pipeline_woocommerce_spark.operators.incremental import (
        filter_since,
    )

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")], "id long, ts string"
    ).select("id", F.col("ts").cast("timestamp").alias("ts"))
    with _pytest.raises(ValueError):
        filter_since(df, "ts", "2024-13-01T00:00:00")
    assert filter_since(df, "ts", "2023-12-31T00:00:00").count() == 1


def test_notify_requires_smtp_host(monkeypatch):
    """NOTIFY_TO/USER/PASS without SMTP_HOST is NOT configured:
    smtplib.SMTP("") never connects, the error would be swallowed,
    and the caller would believe alerts are being delivered."""
    from py_etl_pipeline_woocommerce_spark.sources import notify as n

    monkeypatch.setenv("NOTIFY_TO", "ops@example.com")
    monkeypatch.setenv("SMTP_USER", "u")
    monkeypatch.setenv("SMTP_PASS", "p")
    monkeypatch.delenv("SMTP_HOST", raising=False)
    assert n.notify("boom", "error") is False
    monkeypatch.setenv("SMTP_HOST", "mail.example.com")
    sent = []
    assert n.notify("boom", "error", transport=lambda s, b, t: sent.append(t))
    assert sent == ["ops@example.com"]


def test_upsert_delete_keys_widens_not_replaces(spark):
    """delete_keys missing a batch key must not leave that key's old
    rows alongside its new ones — the delete set is the UNION of
    batch keys and delete_keys."""
    from pyspark.sql import Row

    from py_etl_pipeline_woocommerce_spark.operators.upsert import upsert_df

    existing = spark.createDataFrame(
        [Row(order_id=5, v="old5"), Row(order_id=7, v="old7"),
         Row(order_id=9, v="old9")]
    )
    batch = spark.createDataFrame([Row(order_id=5, v="new5")])
    # delete_keys carries ONLY the zero-item order 7, not batch key 5
    dk = spark.createDataFrame([Row(order_id=7)])
    out = {(r.order_id, r.v) for r in
           upsert_df(existing, batch, ["order_id"], delete_keys=dk).collect()}
    assert out == {(5, "new5"), (9, "old9")}


def test_assign_backfill_windows_validates_and_clamps(spark):
    import pytest as _pytest
    from pyspark.sql import Row

    from py_etl_pipeline_woocommerce_spark.operators.incremental import (
        assign_backfill_windows,
    )

    df = spark.createDataFrame(
        [Row(ts="1991-12-30 00:00:00"), Row(ts="1992-01-15 00:00:00")]
    )
    with _pytest.raises(ValueError):
        assign_backfill_windows(df, "ts", "1992-13-01T00:00:00")
    with _pytest.raises(ValueError):
        assign_backfill_windows(df, "ts", "1992-01-01T00:00:00", 0)
    out = {r.ts: r.backfill_window for r in
           assign_backfill_windows(df, "ts", "1992-01-01T00:00:00", 30).collect()}
    # a late-arriving pre-start row clamps into window 0, never -1
    assert out["1991-12-30 00:00:00"] == 0
    assert out["1992-01-15 00:00:00"] == 0


def test_add_salt_handles_map_columns(spark):
    """The salt must not hash row content: F.hash rejects MapType,
    and the wide event tables the skew helpers target carry maps."""
    from pyspark.sql import functions as F

    from py_etl_pipeline_woocommerce_spark.operators.skew import add_salt

    df = spark.range(200).select(
        "id", F.create_map(F.lit("k"), F.col("id").cast("string")).alias("m")
    )
    out = add_salt(df, n_salts=8)
    vals = {r["__salt"] for r in out.collect()}
    assert vals <= set(range(8)) and len(vals) >= 4  # spread, no crash
