"""Extract layer + incremental flow against a fake WooCommerce API:
paged fetch fan-out, from_json normalization, category enrichment,
refund application, delete+insert upsert, watermark advance —
the reference's incremental_flow semantics end-to-end.
"""

from __future__ import annotations

import ast
import json
import os
import re
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


def _logged(inner, log_path):
    """``inner`` that also appends each orders call's page to
    ``log_path`` — a file, because executor workers run their own
    copy of the closure."""

    def transport(path, params):
        if path == "orders":
            with open(log_path, "a") as f:
                f.write(f"{params.get('page', 1)}\n")
        return inner(path, params)

    return transport


def _pages_fetched(log_path):
    with open(log_path) as f:
        return sorted(int(line) for line in f)


def test_fetch_paged_fans_out_all_pages(spark, transport, tmp_path):
    raw = rest.fetch_orders_since(spark, transport, "2023-01-01T00:00:00")
    rows = raw.collect()
    assert len(rows) == 3  # per_page_cap=2 -> 2 pages
    assert {json.loads(r["raw"])["id"] for r in rows} == {1, 2, 3}
    # each order row carries its refunds (only order 2 has one)
    refunds = {json.loads(r["raw"])["id"]: json.loads(r["refunds"]) for r in rows}
    assert refunds == {1: [], 2: REFUNDS[2], 3: []}
    # three pages are fewer than 2C (C = min(pages, 2 x cores)), so
    # the fetch is ONE task of ONE stage: six orders, two a page,
    # collected in a single job (no exchange), each page fetched once
    # (page 1 only by the probe)
    six = list(ORDERS) + [
        _order(i, f"2024-01-0{i}T09:00:00", 10.0, 1.0, [(11, 1, 10.0)])
        for i in (4, 5, 6)
    ]
    log_path = str(tmp_path / "pages.log")
    paged = _logged(make_fake_transport(six, PRODUCTS, REFUNDS), log_path)
    raw = rest.fetch_orders_since(spark, paged, "2023-01-01T00:00:00")
    assert raw.rdd.getNumPartitions() == 1
    sc = spark.sparkContext
    group = f"fan-out-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "three-page fetch")
    try:
        ids = sorted(json.loads(r["raw"])["id"] for r in raw.collect())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert ids == [1, 2, 3, 4, 5, 6]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert _pages_fetched(log_path) == [1, 2, 3]


def _numbered(n_pages):
    """A transport serving ``n_pages`` one-record pages."""

    def transport(path, params):
        page = int(params["page"])
        return json.dumps([{"id": page}] if page <= n_pages else []), n_pages

    return transport


def test_fetch_paged_sizes_tasks_by_pages(spark):
    """C = min(pages, 2 x cores) calls stay in flight; a task takes at
    least C pages before another task is added, so a drop is one task
    and a backfill of C^2 pages or more keeps 2 x cores tasks."""
    cores2 = 2 * spark.sparkContext.defaultParallelism

    def tasks(n_pages):
        df = rest.fetch_orders_since(spark, _numbered(n_pages), "2023-01-01T00:00:00")
        return df.rdd.getNumPartitions()

    assert tasks(1) == 1
    assert tasks(cores2) == 1
    assert tasks(2 * cores2 - 1) == 1
    assert tasks(2 * cores2) == 2
    assert tasks(cores2 * cores2) == cores2
    assert tasks(cores2 * cores2 + 7) == cores2


def _timed(inner, log_path):
    """``inner`` that sleeps 20 ms inside each call and appends its
    start and end times to ``log_path``."""
    import time

    def transport(path, params):
        with open(log_path, "a") as f:
            f.write(f"{time.time()} 1\n")
        try:
            time.sleep(0.02)
            return inner(path, params)
        finally:
            with open(log_path, "a") as f:
                f.write(f"{time.time()} -1\n")

    return transport


def _max_in_flight(log_path):
    with open(log_path) as f:
        events = sorted(
            (float(t), int(d)) for t, d in (line.split() for line in f)
        )
    now = peak = 0
    for _, d in events:
        now += d
        peak = max(peak, now)
    return peak


#: sixteen one-line orders: eight pages of two on the fake transport
SIXTEEN = [
    _order(i, f"2024-01-{i:02d}T09:00:00", 10.0, 1.0, [(11, 1, 10.0)])
    for i in range(1, 17)
]


def test_fetch_paged_in_flight_calls_bounded_by_c(spark, tmp_path):
    """Pages and refunds run on the task's pool: at most C calls are
    in flight (C = min(pages, 2 x cores)), and more than one is."""
    log_path = str(tmp_path / "calls.log")
    t = _timed(make_fake_transport(SIXTEEN, PRODUCTS, REFUNDS), log_path)
    raw = rest.fetch_orders_since(spark, t, "2023-01-01T00:00:00")
    rows = raw.collect()
    assert sorted(json.loads(r["raw"])["id"] for r in rows) == list(range(1, 17))
    c = min(8, 2 * spark.sparkContext.defaultParallelism)
    assert 2 <= _max_in_flight(log_path) <= c


def test_refund_error_in_pool_thread_fails_the_fetch(spark):
    """A non-404 refund failure raised in one pool thread fails the
    whole fetch instead of leaving that order's refunds empty."""
    from py_etl_pipeline_woocommerce_spark.sources.http_transport import (
        WooHttpError,
    )

    inner = make_fake_transport(SIXTEEN, PRODUCTS, REFUNDS)

    def transport(path, params):
        if path == "orders/11/refunds":
            raise WooHttpError(path, 503, "retries exhausted")
        return inner(path, params)

    raw = rest.fetch_orders_since(spark, transport, "2023-01-01T00:00:00")
    with pytest.raises(Exception, match="503"):
        raw.collect()


def test_fetch_paged_unknown_total_walks_strides(spark, tmp_path, monkeypatch):
    """A transport that cannot report X-WP-TotalPages (-1): a short
    first page is the whole result, and otherwise each stride walks
    its pages until its first empty or short one. Every order's
    refunds come from its own refunds endpoint."""

    def unknown_total(n_records):
        def transport(path, params):
            if path != "orders":
                assert path.startswith("orders/") and path.endswith("/refunds")
                oid = int(path.split("/")[1])
                return json.dumps([{"amount": f"{oid}.00"}]), -1
            per, page = int(params["per_page"]), int(params["page"])
            ids = range((page - 1) * per + 1, min(page * per, n_records) + 1)
            return json.dumps([{"id": i} for i in ids]), -1

        return transport

    def fetch(n_records, name):
        log_path = str(tmp_path / name)
        t = _logged(unknown_total(n_records), log_path)
        df = rest.fetch_orders_since(spark, t, "2023-01-01T00:00:00")
        rows = df.collect()
        for r in rows:
            oid = json.loads(r["raw"])["id"]
            assert json.loads(r["refunds"]) == [{"amount": f"{oid}.00"}]
        ids = sorted(json.loads(r["raw"])["id"] for r in rows)
        return df.rdd.getNumPartitions(), ids, _pages_fetched(log_path)

    calls = 2 * spark.sparkContext.defaultParallelism

    # a short first page: one partition, and only the probe is fetched
    assert fetch(1, "short.log") == (1, [1], [1])

    # five full pages of 100, then an empty one: every row exactly
    # once, page 1 fetched once, one empty page per stride at most
    _, ids, fetched = fetch(500, "five.log")
    assert ids == list(range(1, 501))
    assert set(fetched) >= {1, 2, 3, 4, 5}
    assert fetched.count(1) == 1
    assert len(fetched) <= 5 + calls

    # a short page 5: its stride stops there, without the empty page
    # after it
    _, ids, fetched = fetch(450, "short5.log")
    assert ids == list(range(1, 451))
    assert set(fetched) >= {1, 2, 3, 4, 5}
    assert 5 + calls not in fetched

    # a probe ceiling under C^2: the strides share a task's pool, and
    # each still stops at its first empty page
    monkeypatch.setattr(rest, "_MAX_UNKNOWN_PAGES", 20)
    calls = min(20, calls)
    n, ids, fetched = fetch(500, "pooled.log")
    assert n == 20 // calls
    assert ids == list(range(1, 501))
    assert fetched.count(1) == 1
    assert len(fetched) <= 5 + calls

    # data past the ceiling is not fetched
    monkeypatch.setattr(rest, "_MAX_UNKNOWN_PAGES", 3)
    _, ids, fetched = fetch(500, "ceiling.log")
    assert ids == list(range(1, 301))
    assert fetched == [1, 2, 3]


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
                "[]",
            )
        ],
        "raw string, refunds string",
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


def _refunded(spark, transport):
    """(orders, items) frames of every order ``transport`` serves,
    with the refunds the extract carried applied in the row."""
    parsed = rest.parse_orders(
        rest.fetch_orders_since(spark, transport, "2023-01-01T00:00:00")
    )
    return rest.orders_frame(parsed), rest.items_frame(parsed)


def test_refund_aggregation(spark, transport):
    orders, items = _refunded(spark, transport)
    order_tot = {r["order_id"]: r for r in orders.collect()}
    assert {k: r["refund_total"] for k, r in order_tot.items()} == {
        1: 0.0,
        2: pytest.approx(10.0),
        3: 0.0,
    }
    assert order_tot[2]["net_after_refunds"] == pytest.approx(45.0 - 10.0)
    lines = items.collect()
    item_tot = [r for r in lines if r["refunded_quantity"]]
    assert len(item_tot) == 1
    assert (item_tot[0]["order_id"], item_tot[0]["product_id"]) == (2, 11)
    assert item_tot[0]["refunded_quantity"] == 1
    assert item_tot[0]["refunded_total"] == pytest.approx(-10.0)
    assert {r["refunded_total"] for r in lines} == {0.0, -10.0}


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
    pins = set(sc._jsc.getPersistentRDDs().keySet())
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
    # both runs released every frame they pinned (no new persistent
    # RDD id; ids, not counts, so a freed leftover hides nothing), and the
    # drop runs at most the jobs the materialize-once flow with
    # in-row refunds needs (26 measured; this one-page drop is one
    # fetch task with or without the page-sized fan-out)
    for fact in ("fct_orders", "fct_order_items"):
        assert len(_file_states(f"{wh}/{fact}/order_month=2024-02")) == 1
    assert set(sc._jsc.getPersistentRDDs().keySet()) <= pins
    assert jobs <= 26, jobs


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


def test_replay_from_bronze_rebuilds_the_loaded_facts(spark, tmp_path):
    """Replay parses exactly what the run parsed: the orders and items
    frames rebuilt from stg_orders_raw equal fct_orders and
    fct_order_items row for row on every column they share, refunds
    included, and they share every fact column but the month and the
    category snapshot. A bronze file landed before refunds were
    landed beside the JSON still replays, with zero refunds."""
    from py_etl_pipeline_woocommerce_spark.plans.woo_flow import (
        replay_parsed_from_raw,
    )

    state = WatermarkStore(str(tmp_path / "state.json"))
    state.set_since("2023-12-31T00:00:00")
    wh = str(tmp_path / "wh")
    incremental_run(
        spark, make_fake_transport(list(ORDERS), PRODUCTS, REFUNDS), state, wh
    )

    def same_rows(fact, replayed, not_shared):
        assert set(fact.columns) - set(replayed.columns) == not_shared
        cols = [c for c in fact.columns if c not in not_shared]

        def rows(df):
            return sorted(map(tuple, df.select(*cols).collect()), key=repr)

        assert rows(fact) == rows(replayed)

    parsed = replay_parsed_from_raw(spark, wh)
    fct = spark.read.parquet(f"{wh}/fct_orders")
    same_rows(fct, rest.orders_frame(parsed), {"order_month"})
    same_rows(
        spark.read.parquet(f"{wh}/fct_order_items"),
        rest.items_frame(parsed),
        {"order_month", "category_snapshot"},
    )
    assert {r["order_id"]: r["refund_total"] for r in fct.collect()}[2] == 10.0

    # a file landed before refunds rode in bronze: (order_id, json,
    # extracted_at) only
    old = _order(4, "2024-01-04T09:00:00", 40.0, 4.0, [(11, 1, 36.0)])
    spark.createDataFrame(
        [(4, json.dumps(old))], "order_id long, json string"
    ).withColumn("extracted_at", F.current_timestamp()).write.mode(
        "append"
    ).parquet(f"{wh}/stg_orders_raw")
    parsed = replay_parsed_from_raw(spark, wh)
    orders = {r["order_id"]: r for r in rest.orders_frame(parsed).collect()}
    assert sorted(orders) == [1, 2, 3, 4]
    assert orders[2]["refund_total"] == 10.0
    assert orders[4]["refund_total"] == 0.0
    assert orders[4]["net_after_refunds"] == orders[4]["net_total"] == 36.0
    (line,) = rest.items_frame(parsed).filter("order_id = 4").collect()
    assert (line["refunded_quantity"], line["refunded_total"]) == (0, 0.0)


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

    def gap(page2_total):
        def transport(path, params):
            if path != "orders":
                return "[]", 1  # no refunds
            page = int(params.get("page", 1))
            if page == 2:
                # transiently empty mid-range page, counted by its own
                # response as 3 pages, or as a lagging replica's 0 or
                # 1, or as unknown (a missing header)
                return "[]", page2_total
            return json.dumps([{"id": page}]), 3

        return transport

    for page2_total in (3, 1, 0, -1):
        with pytest.raises(Exception, match="refusing to silently drop"):
            rest.fetch_orders_since(
                spark, gap(page2_total), "2023-01-01T00:00:00"
            ).collect()

    # a refunds walk keeps the same rule: page 2 of 2 came back empty
    def refunds_gap(path, params):
        if path == "orders":
            return json.dumps([{"id": 1}]), 1
        page = int(params.get("page", 1))
        return (json.dumps([{"amount": "1.00"}]) if page == 1 else "[]"), 2

    with pytest.raises(Exception, match="refusing to silently drop"):
        rest.fetch_orders_since(spark, refunds_gap, "2023-01-01T00:00:00").collect()


def test_refund_fetch_swallows_only_404(spark):
    """A missing order (404) means no refunds; any OTHER transport
    failure (auth, exhausted retries) must propagate — silently
    recording refund_total=0 for a whole batch is data corruption."""
    from py_etl_pipeline_woocommerce_spark.sources.http_transport import (
        WooHttpError,
    )

    inner = make_fake_transport(list(ORDERS), PRODUCTS, REFUNDS)

    def failing_refunds(status):
        def transport(path, params):
            if path.endswith("/refunds"):
                raise WooHttpError(path, status, "refunds unavailable")
            return inner(path, params)

        return transport

    orders, items = _refunded(spark, failing_refunds(404))
    assert [r["refund_total"] for r in orders.collect()] == [0.0] * 3
    assert {r["refunded_quantity"] for r in items.collect()} == {0}

    with pytest.raises(Exception, match="401"):
        _refunded(spark, failing_refunds(401))[0].collect()


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


def test_duplicate_grain_refund_applied_once(spark, tmp_path):
    """An order carrying the SAME (product, variation) on two lines:
    the refund joins at that grain and a plain copy would double-count
    it — it must land on exactly one deterministic line: the lowest
    line_id, a NULL line_id first. A NULL product_id joins the grain
    as 0, on the line and on the refund line alike."""
    from py_etl_pipeline_woocommerce_spark.functions import frames
    from py_etl_pipeline_woocommerce_spark.plans.woo_flow import build_facts

    def refund(*lines):
        return {
            "amount": "1.00",
            "line_items": [
                {"product_id": p, "variation_id": 0, "quantity": q, "total": t}
                for p, q, t in lines
            ],
        }

    o1 = _order(
        1, "2024-01-01T10:00:00", 30.0, 3.0, [(11, 1, 10.0), (11, 2, 10.0)]
    )
    # order 2: line ids 5 and NULL on one grain -> the NULL line
    o2 = _order(
        2, "2024-01-01T11:00:00", 70.0, 7.0, [(11, 3, 10.0), (11, 4, 10.0)]
    )
    o2["line_items"][0]["id"], o2["line_items"][1]["id"] = 5, None
    # order 3: a fee line with NULL product_id meets refund lines of
    # NULL and of 0 product id
    o3 = _order(
        3, "2024-01-01T12:00:00", 30.0, 3.0, [(12, 2, 10.0), (0, 1, 10.0)]
    )
    o3["line_items"][1]["product_id"] = None
    refunds = {
        1: [refund((11, 1, "-10.00"))],
        2: [refund((11, 2, "-20.00"))],
        3: [refund((None, 1, "-5.00")), refund((0, 1, "-1.00"))],
    }
    t = make_fake_transport([o1, o2, o3], PRODUCTS, refunds)
    # the landed raw frame is pinned until the scope exits
    with frames.scope():
        _orders, items = build_facts(
            spark, t, "2023-01-01T00:00:00", str(tmp_path / "wh")
        )
        got = {
            (r["order_id"], r["product_id"], r["quantity"]): (
                r["refunded_quantity"],
                r["refunded_total"],
            )
            for r in items.collect()
        }
    assert got == {
        # once, not copied onto both lines
        (1, 11, 1): (1, -10.0),
        (1, 11, 2): (0, 0.0),
        (2, 11, 3): (0, 0.0),
        (2, 11, 4): (2, -20.0),
        (3, 12, 2): (0, 0.0),
        (3, 0, 1): (2, -6.0),
    }


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
        spark,
        spark.createDataFrame([(1, "a", None)], schema),
        p,
        ["order_id"],
        months={None},
    )
    _upsert_table(
        spark,
        spark.createDataFrame([(2, "b", None), (3, "c", "2024-01")], schema),
        p,
        ["order_id"],
        months={None, "2024-01"},
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
    _upsert_table(
        spark, spark.createDataFrame([], schema), p, ["order_id"], months=set()
    )
    _upsert_table(
        spark,
        spark.createDataFrame([(1, "2024-01")], schema),
        p,
        ["order_id"],
        months={"2024-01"},
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
        rest.fetch_orders_since(spark, t, "2023-01-01T00:00:00")


def test_fetch_refunds_pages_exhaustively(spark):
    """An order with more refunds than one page: every page must be
    drained (stopping at page 1 silently understates refund_total)."""
    refs = [
        {"amount": "1.00", "line_items": []} for _ in range(150)
    ]

    def t(path, params):
        if path == "orders":
            return json.dumps([{"id": 1}]), 1
        assert path == "orders/1/refunds"
        page = int(params.get("page", 1))
        return json.dumps(refs[(page - 1) * 100 : page * 100]), 2

    (row,) = rest.fetch_orders_since(spark, t, "2023-01-01T00:00:00").collect()
    assert len(json.loads(row["refunds"])) == 150
    (order,) = _refunded(spark, t)[0].collect()
    assert order["refund_total"] == pytest.approx(150.0)


def test_drain_stops_at_known_total_else_at_short_page(caplog, monkeypatch):
    """The one page walk: a known total ends the walk at that page
    even when pages look full; an unknown total (-1) walks until the
    first short page, and a full page at the ceiling is logged."""
    recs = list(range(250))

    def pages(total):
        calls = []

        def t(path, params):
            page = params["page"]
            calls.append(page)
            return json.dumps(recs[(page - 1) * 100 : page * 100]), total

        return t, calls

    t, calls = pages(2)
    assert rest._drain(t, "x", {}) == recs[:200]
    assert calls == [1, 2]
    t, calls = pages(-1)
    assert rest._drain(t, "x", {}) == recs
    assert calls == [1, 2, 3]
    assert "ceiling" not in caplog.text

    # the walk keeps the first total it saw: a later page's smaller
    # count neither ends the walk early nor excuses an empty page
    def shrinking(path, params):
        page = params["page"]
        return json.dumps(recs[(page - 1) * 100 : page * 100]), 3 if page == 1 else 1

    assert rest._drain(shrinking, "x", {}) == recs

    def empty_unknown(path, params):
        return ("[]", -1) if params["page"] == 2 else (json.dumps(recs[:100]), 3)

    with pytest.raises(RuntimeError, match="page 2 of x .* reported 3 pages"):
        rest._drain(empty_unknown, "x", {})

    monkeypatch.setattr(rest, "_MAX_UNKNOWN_PAGES", 2)
    t, calls = pages(-1)
    assert rest._drain(t, "x", {}) == recs[:200]
    assert calls == [1, 2]
    assert "2-page ceiling" in caplog.text


#: a ``per_page`` query key built in code: a quoted key or a keyword
_PER_PAGE_KEY = re.compile(r"[\"']per_page[\"']|\bper_page=")


def test_only_the_walk_builds_a_page_request():
    """Every page request goes through ``rest._walk``: no other package
    code builds a ``per_page`` query key (a second page loop would
    bring its own stop and refusal rule)."""
    src = os.path.abspath(rest.__file__)
    pkg = os.path.dirname(os.path.dirname(src))
    with open(src, encoding="utf-8") as fh:
        (walk,) = [
            n
            for n in ast.parse(fh.read()).body
            if isinstance(n, ast.FunctionDef) and n.name == "_walk"
        ]
    hits = []
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py"):
                continue
            with open(path, encoding="utf-8") as fh:
                for i, line in enumerate(fh, 1):
                    in_walk = path == src and (
                        walk.lineno <= i <= walk.end_lineno
                    )
                    if _PER_PAGE_KEY.search(line) and not in_walk:
                        hits.append(f"{os.path.relpath(path, pkg)}:{i}: {line.strip()}")
    assert not hits, "build page requests in rest._walk:\n" + "\n".join(hits)


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
