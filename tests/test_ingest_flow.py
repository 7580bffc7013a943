"""Extract layer + incremental flow against a fake WooCommerce API:
paged fetch fan-out, from_json normalization, category enrichment,
refund application, delete+insert upsert, watermark advance —
the reference's incremental_flow semantics end-to-end.
"""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from py_etl_pipeline_woocommerce_spark.plans.woo_flow import (
    backfill_windows,
    incremental_run,
)
from py_etl_pipeline_woocommerce_spark.sources import rest
from py_etl_pipeline_woocommerce_spark.sources.state import WatermarkStore


def _order(oid, created, total, tax, items, status="completed", country="GR"):
    return {
        "id": oid,
        "status": status,
        "currency": "EUR",
        "customer_id": 100 + oid,
        "date_created_gmt": created,
        "total": str(total),
        "total_tax": str(tax),
        "discount_total": "0.00",
        "billing": {"country": country, "city": "Athens"},
        "line_items": [
            {
                "id": i,
                "product_id": pid,
                "variation_id": 0,
                "sku": f"SKU-{pid}",
                "name": f"Product {pid}",
                "quantity": qty,
                "price": str(price),
                "total": str(round(qty * price, 2)),
                "subtotal": str(round(qty * price, 2)),
                "tax_class": "",
            }
            for i, (pid, qty, price) in enumerate(items)
        ],
    }


ORDERS = [
    _order(1, "2024-01-01T10:00:00", 30.0, 3.0, [(11, 2, 10.0), (12, 1, 10.0)]),
    _order(2, "2024-01-02T11:00:00", 50.0, 5.0, [(11, 5, 10.0)]),
    _order(3, "2024-01-03T12:00:00", 20.0, 2.0, [(13, 1, 20.0)]),
]
PRODUCTS = {
    11: {"id": 11, "categories": [{"name": "Shoes"}, {"name": "Sale"}]},
    12: {"id": 12, "categories": [{"name": "Hats"}]},
    13: {"id": 13, "categories": []},
}
REFUNDS = {
    2: [
        {
            "amount": "10.00",
            "line_items": [
                {"product_id": 11, "variation_id": 0, "quantity": 1, "total": "-10.00"}
            ],
        }
    ]
}


def make_fake_transport(orders, products, refunds, per_page_cap=2):
    """Fake of the Woo REST surface. A NESTED function so cloudpickle
    ships it by value to executors (test modules aren't importable on
    Spark workers)."""

    def transport(path, params):
        if path == "orders":
            since = params.get("after", "")
            before = params.get("before")
            rows = sorted(
                (
                    o
                    for o in orders
                    if o["date_created_gmt"] > since
                    and (before is None or o["date_created_gmt"] < before)
                ),
                key=lambda o: o["date_created_gmt"],
            )
            per = min(int(params.get("per_page", 100)), per_page_cap)
            page = int(params.get("page", 1))
            total_pages = max(1, -(-len(rows) // per))
            return json.dumps(rows[(page - 1) * per : page * per]), total_pages
        if path == "products":
            ids = [int(x) for x in params["include"].split(",")]
            return (
                json.dumps([products[i] for i in ids if i in products]),
                1,
            )
        if path.startswith("orders/") and path.endswith("/refunds"):
            oid = int(path.split("/")[1])
            return json.dumps(refunds.get(oid, [])), 1
        raise AssertionError(f"unexpected path {path}")

    transport.orders = orders
    return transport


@pytest.fixture()
def transport():
    return make_fake_transport(list(ORDERS), PRODUCTS, REFUNDS)


def test_fetch_paged_fans_out_all_pages(spark, transport):
    raw = rest.fetch_orders_since(spark, transport, "2023-01-01T00:00:00")
    rows = raw.collect()
    assert len(rows) == 3  # per_page_cap=2 -> 2 pages
    assert {json.loads(r["raw"])["id"] for r in rows} == {1, 2, 3}
    assert {r["page"] for r in rows} == {1, 2}
    # page 1 lands as ONE partition beside the fan-out's tasks, not a
    # slice per core: six orders, two a page -> pages 2..3 over two tasks
    six = list(ORDERS) + [
        _order(i, f"2024-01-0{i}T09:00:00", 10.0, 1.0, [(11, 1, 10.0)])
        for i in (4, 5, 6)
    ]
    paged = make_fake_transport(six, PRODUCTS, REFUNDS)
    raw = rest.fetch_orders_since(spark, paged, "2023-01-01T00:00:00")
    assert raw.rdd.getNumPartitions() == 1 + 2
    assert sorted(r["page"] for r in raw.collect()) == [1, 1, 2, 2, 3, 3]


def test_orders_and_items_frames(spark, transport):
    parsed = rest.parse_orders(
        rest.fetch_orders_since(spark, transport, "2023-01-01T00:00:00")
    )
    orders = {r["order_id"]: r for r in rest.orders_frame(parsed).collect()}
    assert orders[1]["net_total"] == pytest.approx(27.0)  # 30 - 3 tax
    assert orders[1]["billing_country"] == "GR"
    assert orders[1]["order_date"] == "2024-01-01 10:00:00"
    items = rest.items_frame(parsed).collect()
    assert len(items) == 4
    i11 = [r for r in items if r["order_id"] == 1 and r["product_id"] == 11][0]
    assert i11["quantity"] == 2 and i11["total"] == pytest.approx(20.0)


def test_money_coercion_survives_garbage_under_ansi(spark):
    """The documented `_f()` contract: malformed/empty money strings
    coerce to 0.0 — under Spark 4's default ANSI mode a plain cast
    would RAISE instead, killing the whole incremental run on one bad
    order payload."""
    raw = spark.createDataFrame(
        [
            (
                json.dumps(
                    {
                        "id": 9,
                        "status": "completed",
                        "date_created_gmt": "2024-01-01T10:00:00",
                        "total": "not-a-number",
                        "total_tax": "",
                        "discount_total": "NaN-ish",
                        "shipping_total": None,
                        "currency": "EUR",
                        "customer_id": 5,
                        "billing": {"country": "GR", "city": "Athens"},
                        "line_items": [
                            {
                                "id": 1,
                                "product_id": 11,
                                "variation_id": 0,
                                "name": "x",
                                "quantity": 1,
                                "price": "oops",
                                "total": "",
                                "subtotal": "10.0",
                                "total_tax": "0",
                            }
                        ],
                    }
                ),
                1,
            )
        ],
        "raw string, page int",
    )
    parsed = rest.parse_orders(raw)
    (o,) = rest.orders_frame(parsed).collect()
    assert o["order_id"] == 9 and o["net_total"] == 0.0
    (i,) = rest.items_frame(parsed).collect()
    assert i["price"] == 0.0 and i["total"] == 0.0
    assert i["subtotal"] == pytest.approx(10.0)


def test_category_snapshot_join(spark, transport):
    ids = spark.createDataFrame([(11,), (12,), (13,), (99,)], "product_id long")
    cats = {
        r["product_id"]: r["category_snapshot"]
        for r in rest.fetch_products_by_ids(spark, transport, ids).collect()
    }
    assert cats[11] == "Shoes | Sale"
    assert cats[12] == "Hats"
    assert cats[13] is None  # empty categories -> null (enrich.py cat_str)
    assert 99 not in cats


def test_refund_aggregation(spark, transport):
    ids = spark.createDataFrame([(1,), (2,), (3,)], "order_id long")
    refunds = rest.fetch_refunds_for_orders(spark, transport, ids)
    order_tot = {
        r["order_id"]: r["refund_total"]
        for r in rest.order_refund_totals(refunds).collect()
    }
    assert order_tot == {2: pytest.approx(10.0)}
    item_tot = rest.item_refund_totals(refunds).collect()
    assert len(item_tot) == 1
    assert item_tot[0]["refunded_quantity"] == 1
    assert item_tot[0]["refunded_total"] == pytest.approx(-10.0)


def test_incremental_run_upserts_and_advances_watermark(spark, transport, tmp_path):
    state = WatermarkStore(str(tmp_path / "state.json"))
    state.set_since("2023-12-31T00:00:00")
    wh = str(tmp_path / "wh")

    stats = incremental_run(spark, transport, state, wh)
    assert stats["orders"] == 3 and stats["items"] == 4
    fct = spark.read.parquet(f"{wh}/fct_orders")
    by_id = {r["order_id"]: r for r in fct.collect()}
    assert by_id[2]["refund_total"] == pytest.approx(10.0)
    assert by_id[2]["net_after_refunds"] == pytest.approx(45.0 - 10.0)
    assert by_id[1]["refund_total"] == 0.0
    # watermark advanced to max order date + 1 min
    assert state.get_since() == "2024-01-03T12:01:00"

    # second run: one new order (and order 2 restated with higher total)
    transport.orders.append(
        _order(4, "2024-01-04T09:00:00", 40.0, 4.0, [(12, 2, 18.0)])
    )
    stats2 = incremental_run(spark, transport, state, wh)
    assert stats2["orders"] == 1  # only the new order is after the watermark
    fct2 = spark.read.parquet(f"{wh}/fct_orders")
    assert fct2.count() == 4  # upsert, not append
    items2 = spark.read.parquet(f"{wh}/fct_order_items")
    cat = {
        (r["order_id"], r["product_id"]): r["category_snapshot"]
        for r in items2.collect()
    }
    assert cat[(4, 12)] == "Hats"
    assert state.get_since() == "2024-01-04T09:01:00"


def test_incremental_run_idempotent_on_rerun(spark, transport, tmp_path):
    state = WatermarkStore(str(tmp_path / "state.json"))
    state.set_since("2023-12-31T00:00:00")
    wh = str(tmp_path / "wh")
    incremental_run(spark, transport, state, wh)
    # force the watermark back and re-ingest the same window
    state.set_since("2023-12-31T00:00:00")
    incremental_run(spark, transport, state, wh)
    assert spark.read.parquet(f"{wh}/fct_orders").count() == len(transport.orders)


def test_backfill_windows_cover_range():
    w = backfill_windows("2024-01-01T00:00:00", "2024-01-25T00:00:00", 10)
    assert w == [
        ("2024-01-01T00:00:00", "2024-01-11T00:00:00"),
        ("2024-01-11T00:00:00", "2024-01-21T00:00:00"),
        ("2024-01-21T00:00:00", "2024-01-25T00:00:00"),
    ]


def _file_states(root):
    import os

    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[p] = os.stat(p).st_mtime_ns
    return out


def test_incremental_batch_rewrites_only_touched_partitions(spark, tmp_path):
    import os

    jan_feb = [
        _order(1, "2024-01-10T10:00:00", 30.0, 3.0, [(11, 2, 10.0)]),
        _order(2, "2024-02-05T11:00:00", 50.0, 5.0, [(11, 5, 10.0)]),
    ]
    transport = make_fake_transport(list(jan_feb), PRODUCTS, REFUNDS)
    state = WatermarkStore(str(tmp_path / "state.json"))
    state.set_since("2023-12-31T00:00:00")
    wh = str(tmp_path / "wh")
    sc = spark.sparkContext
    pins = sc._jsc.getPersistentRDDs().size()
    incremental_run(spark, transport, state, wh)

    fct = f"{wh}/fct_orders"
    assert sorted(os.listdir(f"{fct}")) >= ["order_month=2024-01", "order_month=2024-02"]
    jan_before = _file_states(f"{fct}/order_month=2024-01")
    feb_before = _file_states(f"{fct}/order_month=2024-02")

    # second drop: one NEW February order only, into a month that
    # already holds rows; its Spark jobs counted under a job group
    transport.orders.append(
        _order(3, "2024-02-20T09:00:00", 20.0, 2.0, [(12, 1, 20.0)])
    )
    group = f"drop-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "second drop")
    try:
        incremental_run(spark, transport, state, wh)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))

    # January partition untouched byte-for-byte; February rewritten
    assert _file_states(f"{fct}/order_month=2024-01") == jan_before
    assert _file_states(f"{fct}/order_month=2024-02") != feb_before
    # upsert semantics intact across the partitioned layout
    rows = {r["order_id"] for r in spark.read.parquet(fct).collect()}
    assert rows == {1, 2, 3}
    items = spark.read.parquet(f"{wh}/fct_order_items")
    assert {r["order_month"] for r in items.collect()} == {"2024-01", "2024-02"}

    # drop budget: each fact's rewritten month is ONE right-sized file,
    # both runs released every frame they pinned (a collected
    # leftover of an earlier test can only lower the count), and the
    # drop runs at most the jobs the materialize-once flow needs (30
    # measured)
    for fact in ("fct_orders", "fct_order_items"):
        assert len(_file_states(f"{wh}/{fact}/order_month=2024-02")) == 1
    assert sc._jsc.getPersistentRDDs().size() <= pins
    assert jobs <= 30, jobs


def test_raw_landing_zone_supports_replay_without_refetch(spark, tmp_path):
    from py_etl_pipeline_woocommerce_spark.plans.woo_flow import (
        replay_parsed_from_raw,
    )
    from py_etl_pipeline_woocommerce_spark.sources.rest import orders_frame

    inner = make_fake_transport(list(ORDERS), PRODUCTS, REFUNDS)
    calls = {"orders": 0}

    def counting(path, params):
        if path == "orders":
            calls["orders"] += 1
        return inner(path, params)

    counting.orders = inner.orders

    state = WatermarkStore(str(tmp_path / "state.json"))
    state.set_since("2023-12-31T00:00:00")
    wh = str(tmp_path / "wh")
    incremental_run(spark, counting, state, wh)
    fetches_after_run = calls["orders"]
    assert fetches_after_run > 0

    # replay normalize purely from the landed bronze table
    replayed = orders_frame(replay_parsed_from_raw(spark, wh))
    by_id = {r["order_id"]: r for r in replayed.collect()}
    assert set(by_id) == {1, 2, 3}
    assert by_id[1]["net_total"] == pytest.approx(27.0)
    assert by_id[2]["currency"] == "EUR"
    assert calls["orders"] == fetches_after_run  # NO refetch happened


def test_incremental_run_no_retries_propagates_and_holds_watermark(
    spark, transport, tmp_path
):
    """retries=0 (library default): a transient extract failure
    propagates and the watermark must NOT advance (nothing loaded)."""
    state = WatermarkStore(str(tmp_path / "state.json"))
    state.set_since("2023-12-31T00:00:00")
    wh = str(tmp_path / "wh")
    inner = transport

    def flaky(path, params):
        if path == "orders" and int(params.get("page", 1)) == 1:
            raise RuntimeError("HTTP 500: transient upstream error")
        return inner(path, params)

    flaky.orders = inner.orders
    with pytest.raises(RuntimeError, match="transient"):
        incremental_run(spark, flaky, state, wh, retries=0)
    assert state.get_since() == "2023-12-31T00:00:00"


def test_incremental_run_retries_transient_failure_without_double_load(
    spark, transport, tmp_path
):
    """flow.py:44 @task(retries=2, retry_delay_seconds=30) parity: one
    transient 500 on the first orders page, then success. The retried
    cycle must load each order exactly once (delete+insert upsert
    idempotence) and advance the watermark once."""
    state = WatermarkStore(str(tmp_path / "state.json"))
    state.set_since("2023-12-31T00:00:00")
    wh = str(tmp_path / "wh")
    inner = transport
    calls = {"n": 0}

    def flaky(path, params):
        if path == "orders" and int(params.get("page", 1)) == 1:
            calls["n"] += 1
            if calls["n"] == 1:
                raise RuntimeError("HTTP 500: transient upstream error")
        return inner(path, params)

    flaky.orders = inner.orders
    stats = incremental_run(
        spark, flaky, state, wh, retries=2, retry_delay_sec=0.01
    )
    assert stats["orders"] == 3 and stats["items"] == 4
    fct = spark.read.parquet(f"{wh}/fct_orders")
    assert fct.count() == 3
    assert fct.select("order_id").distinct().count() == 3  # no double-load
    items = spark.read.parquet(f"{wh}/fct_order_items")
    assert items.count() == 4
    assert (
        items.select("order_id", "product_id", "variation_id")
        .distinct()
        .count()
        == 4
    )
    assert state.get_since() == "2024-01-03T12:01:00"


def test_incremental_run_retry_after_midrun_failure_is_idempotent(
    spark, transport, tmp_path
):
    """Transient failure INSIDE the cycle (products enrichment path,
    which may fire after some output is already written): the retry
    re-runs the whole cycle and the keyed upsert must leave exactly
    one row per key — no duplicates from the partial first attempt.
    A sentinel file gates the one-time failure so it works wherever
    the call happens (driver or executor worker, shared local FS)."""
    state = WatermarkStore(str(tmp_path / "state.json"))
    state.set_since("2023-12-31T00:00:00")
    wh = str(tmp_path / "wh")
    sentinel = str(tmp_path / "failed_once")
    inner = transport

    def flaky(path, params):
        if path == "products":
            import os as _os

            if not _os.path.exists(sentinel):
                with open(sentinel, "w") as f:
                    f.write("x")
                raise RuntimeError("HTTP 503: transient upstream error")
        return inner(path, params)

    flaky.orders = inner.orders
    stats = incremental_run(
        spark, flaky, state, wh, retries=2, retry_delay_sec=0.01
    )
    assert stats["orders"] == 3 and stats["items"] == 4
    fct = spark.read.parquet(f"{wh}/fct_orders")
    assert fct.count() == 3
    assert fct.select("order_id").distinct().count() == 3
    items = spark.read.parquet(f"{wh}/fct_order_items")
    assert items.count() == 4
    assert (
        items.select("order_id", "product_id", "variation_id")
        .distinct()
        .count()
        == 4
    )
    by_id = {r["order_id"]: r for r in fct.collect()}
    assert by_id[2]["refund_total"] == pytest.approx(10.0)
    assert state.get_since() == "2024-01-03T12:01:00"


def test_deterministic_analysis_errors_are_not_retried(
    spark, transport, tmp_path, monkeypatch
):
    """A plan/schema bug (AnalysisException) can never succeed on
    retry — it must surface immediately instead of burning
    retries x delay on re-extracts."""
    from pyspark.errors import AnalysisException

    from py_etl_pipeline_woocommerce_spark.plans import woo_flow

    calls = {"n": 0}

    def boom(*a, **k):
        calls["n"] += 1
        raise AnalysisException("deterministic plan error")

    monkeypatch.setattr(woo_flow, "build_facts", boom)
    state = WatermarkStore(str(tmp_path / "state.json"))
    state.set_since("2023-12-31T00:00:00")
    with pytest.raises(AnalysisException):
        woo_flow.incremental_run(
            spark,
            transport,
            state,
            str(tmp_path / "wh"),
            retries=5,
            retry_delay_sec=0,
        )
    assert calls["n"] == 1


def test_fetch_paged_raises_on_empty_page_with_known_total(spark):
    """When X-WP-TotalPages says a page exists, an empty body is an
    upstream inconsistency — the extract must fail loudly instead of
    silently dropping every later page in the partition."""

    def transport(path, params):
        page = int(params.get("page", 1))
        total = 3
        if page == 2:
            return "[]", total  # transiently empty mid-range page
        return json.dumps([{"id": page}]), total

    with pytest.raises(Exception, match="refusing to silently drop"):
        rest.fetch_paged(spark, transport, "orders", {}, per_page=1).collect()


def test_refund_fetch_swallows_only_404(spark):
    """A missing order (404) means no refunds; any OTHER transport
    failure (auth, exhausted retries) must propagate — silently
    recording refund_total=0 for a whole batch is data corruption."""
    from py_etl_pipeline_woocommerce_spark.sources.http_transport import (
        WooHttpError,
    )

    ids = spark.createDataFrame([(1,), (2,)], "order_id bigint")

    def missing(path, params):
        raise WooHttpError(path, 404, "not found")

    out = rest.fetch_refunds_for_orders(spark, missing, ids)
    assert out.count() == 0

    def unauthorized(path, params):
        raise WooHttpError(path, 401, "bad credentials")

    with pytest.raises(Exception, match="401"):
        rest.fetch_refunds_for_orders(spark, unauthorized, ids).collect()


def test_watermark_store_recovers_from_corrupt_state(tmp_path):
    """A crash mid-write may truncate state.json; the store must fall
    back to first-run lookback semantics instead of raising forever."""
    p = str(tmp_path / "state.json")
    state = WatermarkStore(p, lookback_days=30)
    state.set_since("2024-01-01T00:00:00")
    assert state.get_since() == "2024-01-01T00:00:00"
    with open(p, "w") as f:
        f.write('{"since_iso": "2024-')  # truncated mid-write
    from datetime import datetime

    got = state.get_since(now=datetime.fromisoformat("2024-06-30T00:00:00+00:00"))
    assert got == "2024-05-31T00:00:00"  # lookback fallback, no crash
    # and the store still writes (atomically) afterwards
    state.set_since("2024-07-01T00:00:00")
    assert state.get_since() == "2024-07-01T00:00:00"


def test_deleted_line_item_removed_on_rerun(spark, tmp_path):
    """The reference deletes items by order_id unconditionally
    (duckdb_client.py:55): a line the merchant removed from an order
    between runs must NOT survive as a stale warehouse row."""
    wh = str(tmp_path / "wh_del")
    state = WatermarkStore(str(tmp_path / "wm_del.json"))
    state.set_since("2023-01-01T00:00:00")
    run1 = [
        _order(1, "2024-01-01T10:00:00", 30.0, 3.0, [(11, 2, 10.0), (12, 1, 10.0)])
    ]
    incremental_run(spark, make_fake_transport(run1, PRODUCTS, {}), state, wh)
    assert spark.read.parquet(f"{wh}/fct_order_items").count() == 2
    # the merchant edits the order, deleting the product-12 line; the
    # edited order re-lands in a later extraction window
    run2 = [_order(1, "2024-01-05T10:00:00", 20.0, 2.0, [(11, 2, 10.0)])]
    incremental_run(spark, make_fake_transport(run2, PRODUCTS, {}), state, wh)
    rows = spark.read.parquet(f"{wh}/fct_order_items").collect()
    assert [(r["order_id"], r["product_id"]) for r in rows] == [(1, 11)]


def test_duplicate_grain_refund_applied_once(spark):
    """An order carrying the SAME (product, variation) on two lines:
    the refund joins at that grain and a plain copy would double-count
    it — it must land on exactly one deterministic line."""
    from py_etl_pipeline_woocommerce_spark.plans.woo_flow import build_facts

    o = _order(
        1, "2024-01-01T10:00:00", 30.0, 3.0, [(11, 1, 10.0), (11, 2, 10.0)]
    )
    refunds = {
        1: [
            {
                "amount": "10.00",
                "line_items": [
                    {
                        "product_id": 11,
                        "variation_id": 0,
                        "quantity": 1,
                        "total": "-10.00",
                    }
                ],
            }
        ]
    }
    t = make_fake_transport([o], PRODUCTS, refunds)
    _orders, items = build_facts(spark, t, "2023-01-01T00:00:00")
    got = sorted(r["refunded_total"] for r in items.collect())
    assert got == [-10.0, 0.0]  # once, not copied onto both lines


def test_null_month_rows_survive_later_null_month_upsert(spark, tmp_path):
    """isin() is never true for NULL, so a naive month filter would
    exclude existing NULL-month rows from the merge while the dynamic
    overwrite still replaces __HIVE_DEFAULT_PARTITION__ — previously
    loaded rows must survive."""
    from py_etl_pipeline_woocommerce_spark.plans.woo_flow import (
        PARTITION_COL,
        _upsert_table,
    )

    p = str(tmp_path / "nullmonth")
    schema = f"order_id long, v string, {PARTITION_COL} string"
    _upsert_table(
        spark, spark.createDataFrame([(1, "a", None)], schema), p, ["order_id"]
    )
    _upsert_table(
        spark,
        spark.createDataFrame([(2, "b", None), (3, "c", "2024-01")], schema),
        p,
        ["order_id"],
    )
    got = {r["order_id"] for r in spark.read.parquet(p).collect()}
    assert got == {1, 2, 3}


def test_empty_first_batch_does_not_brick_the_table(spark, tmp_path):
    """Writing an all-empty batch at first creation would leave a
    dataless directory that the NEXT run's read dies on (an
    AnalysisException incremental_run never retries)."""
    from py_etl_pipeline_woocommerce_spark.plans.woo_flow import (
        PARTITION_COL,
        _upsert_table,
    )

    p = str(tmp_path / "emptyfirst")
    schema = f"order_id long, {PARTITION_COL} string"
    _upsert_table(spark, spark.createDataFrame([], schema), p, ["order_id"])
    _upsert_table(
        spark, spark.createDataFrame([(1, "2024-01")], schema), p, ["order_id"]
    )
    assert spark.read.parquet(p).count() == 1


def test_fetch_paged_refuses_empty_first_page_inconsistency(spark):
    """An empty page 1 with X-WP-TotalPages > 1 is the replica-lag/WAF
    inconsistency the executor path already refuses — the driver path
    must not silently return an empty frame (the caller would advance
    its watermark past the gap)."""

    def t(path, params):
        return "[]", 5

    with pytest.raises(RuntimeError, match="page 1"):
        rest.fetch_paged(spark, t, "orders", {})


def test_fetch_refunds_pages_exhaustively(spark):
    """An order with more refunds than one page: every page must be
    drained (stopping at page 1 silently understates refund_total)."""
    refs = [
        {"amount": "1.00", "line_items": []} for _ in range(150)
    ]

    def t(path, params):
        assert path == "orders/1/refunds"
        page = int(params.get("page", 1))
        return json.dumps(refs[(page - 1) * 100 : page * 100]), 2

    ids = spark.createDataFrame([(1,)], "order_id long")
    assert rest.fetch_refunds_for_orders(spark, t, ids).count() == 150


def test_watermark_overlap_rule_selected_per_run(spark, transport, tmp_path):
    """overlap_minutes=1 selects state.py's gap-free advance rule
    (max - 1 minute) instead of the reference-parity skip-a-minute
    default — the boundary minute re-reads instead of being lost."""
    wh = str(tmp_path / "wh_ovl")
    state = WatermarkStore(str(tmp_path / "wm_ovl.json"))
    state.set_since("2023-01-01T00:00:00")
    incremental_run(spark, transport, state, wh, overlap_minutes=1)
    # max order_date is 2024-01-03T12:00:00 -> watermark 11:59:00
    assert state.get_since() == "2024-01-03T11:59:00"


def test_order_with_all_items_removed_deletes_stale_rows(spark, tmp_path):
    """An extracted order whose line items were ALL removed: the items
    batch carries no row for it (explode of an empty list), so the
    delete set must come from the ORDERS batch — otherwise the old
    item rows survive forever and the item grain silently overstates
    revenue while the order grain shows the edit.

    When order 1 is the only order of its month, the rewrite leaves
    that month empty and its directory must go (dynamic overwrite
    never touches a month absent from its output); when it is the
    only order of the warehouse, the emptied table must still accept
    the next drop."""
    order2 = _order(2, "2024-01-01T11:00:00", 10.0, 1.0, [(13, 1, 10.0)])
    cases = [
        # (order 1's month, the other orders)
        ("2024-01", [order2]),
        ("2024-02", [order2]),
        ("2024-01", []),
    ]
    for n, (month, others) in enumerate(cases):
        wh = str(tmp_path / f"wh_allgone{n}")
        items_dir = f"{wh}/fct_order_items"
        state = WatermarkStore(str(tmp_path / f"wm_allgone{n}.json"))
        state.set_since("2023-01-01T00:00:00")
        lines = [(11, 2, 10.0), (12, 1, 10.0)]
        run1 = [_order(1, f"{month}-01T10:00:00", 30.0, 3.0, lines), *others]
        incremental_run(spark, make_fake_transport(run1, PRODUCTS, {}), state, wh)
        assert spark.read.parquet(items_dir).count() == 2 + len(others)
        # order 1 re-lands with ZERO line items (all removed)
        run2 = [_order(1, f"{month}-05T10:00:00", 0.0, 0.0, [])]
        incremental_run(spark, make_fake_transport(run2, PRODUCTS, {}), state, wh)
        if others:
            rows = spark.read.parquet(items_dir).collect()
            assert [(r["order_id"], r["product_id"]) for r in rows] == [(2, 13)]
        if month == "2024-02":  # order 1 was February's only order
            assert not os.path.exists(f"{items_dir}/order_month=2024-02")
        # the order header itself survives with the edit applied
        hdr = {
            r["order_id"]
            for r in spark.read.parquet(f"{wh}/fct_orders").collect()
        }
        assert hdr == {1} | {o["id"] for o in others}
        if not others:
            # the emptied table is removed whole; the next drop
            # recreates it instead of failing to infer a schema
            assert not os.path.exists(items_dir)
            run3 = [_order(1, f"{month}-06T10:00:00", 10.0, 1.0, lines[1:])]
            incremental_run(
                spark, make_fake_transport(run3, PRODUCTS, {}), state, wh
            )
            rows = spark.read.parquet(items_dir).collect()
            assert [(r["order_id"], r["product_id"]) for r in rows] == [(1, 12)]
