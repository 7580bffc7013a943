"""End-to-end CLI runner tests: ``python -m`` surface driven offline
with the fake Woo transport (reference ``src/run.py`` parity —
incremental, backfill, and both re-enrich variants).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from py_etl_pipeline_woocommerce_spark.__main__ import main
from tests.test_ingest_flow import ORDERS, PRODUCTS, REFUNDS, make_fake_transport


def _read_items(spark, warehouse):
    return spark.read.parquet(os.path.join(warehouse, "fct_order_items"))


def test_cli_incremental_then_empty_rerun_re_enriches(spark, tmp_path):
    wh = str(tmp_path / "wh")
    transport = make_fake_transport(list(ORDERS), PRODUCTS, REFUNDS)
    out = main(
        ["--warehouse", wh, "--lookback-days", "30"],
        spark=spark,
        transport=transport,
    )
    assert out["mode"] == "incremental"
    # 2024 data sits behind the now-30d first-run watermark: the cycle
    # extracts nothing and falls into the auto re-enrich branch, which
    # is itself a no-op on an empty warehouse
    assert out["orders"] == 0
    assert out["re_enriched_months"] == 0

    # now an explicit backfill over the data range loads everything
    out = main(
        ["--warehouse", wh, "--backfill", "2024-01-01", "2024-02-01"],
        spark=spark,
        transport=transport,
    )
    assert out["mode"] == "backfill"
    assert out["orders"] == 3 and out["windows"] >= 1
    orders = spark.read.parquet(os.path.join(wh, "fct_orders"))
    assert orders.count() == 3
    # watermark advanced past the max order date
    since = json.load(open(os.path.join(wh, "state.json")))["since_iso"]
    assert since > "2024-01-03T12:00:00"

    # re-running incrementally with no new orders triggers the
    # missing-only re-enrich pass (run.py "no new orders" branch)
    out = main(["--warehouse", wh], spark=spark, transport=transport)
    assert out["mode"] == "incremental" and out["orders"] == 0
    assert "re_enriched_months" in out


def test_cli_force_all_overwrites_snapshots(spark, tmp_path):
    wh = str(tmp_path / "wh")
    transport = make_fake_transport(list(ORDERS), PRODUCTS, REFUNDS)
    main(
        ["--warehouse", wh, "--backfill", "2024-01-01", "2024-02-01"],
        spark=spark,
        transport=transport,
    )
    items = _read_items(spark, wh)
    before = {
        (r["order_id"], r["product_id"]): r["category_snapshot"]
        for r in items.collect()
    }
    assert before[(1, 11)] == "Shoes | Sale"

    # mutate the upstream catalog, then force-all re-enrich via the
    # incremental path (extract returns nothing new, then --force-all)
    changed = {
        11: {"id": 11, "categories": [{"name": "Boots"}]},
        12: {"id": 12, "categories": [{"name": "Hats"}]},
        13: {"id": 13, "categories": []},
    }
    transport2 = make_fake_transport(list(ORDERS), changed, REFUNDS)
    out = main(
        ["--warehouse", wh, "--force-all"], spark=spark, transport=transport2
    )
    assert out["re_enriched_months"] >= 1
    after = {
        (r["order_id"], r["product_id"]): r["category_snapshot"]
        for r in _read_items(spark, wh).collect()
    }
    assert after[(1, 11)] == "Boots"
    assert after[(2, 11)] == "Boots"
    assert after[(1, 12)] == "Hats"
    # product with no categories resolves to NULL, overwritten or not
    assert after[(3, 13)] is None


def test_cli_missing_only_re_enrich_preserves_existing(spark, tmp_path):
    wh = str(tmp_path / "wh")
    transport = make_fake_transport(list(ORDERS), PRODUCTS, REFUNDS)
    main(
        ["--warehouse", wh, "--backfill", "2024-01-01", "2024-02-01"],
        spark=spark,
        transport=transport,
    )
    # blank out one product's snapshots to simulate a failed enrich
    path = os.path.join(wh, "fct_order_items")
    items = spark.read.parquet(path)
    broken = items.withColumn(
        "category_snapshot",
        F.when(F.col("product_id") == 11, F.lit(None)).otherwise(
            F.col("category_snapshot")
        ),
    ).localCheckpoint(eager=True)
    broken.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("order_month").parquet(path)

    changed = {
        11: {"id": 11, "categories": [{"name": "Boots"}]},
        12: {"id": 12, "categories": [{"name": "REWRITTEN"}]},
        13: {"id": 13, "categories": []},
    }
    out = main(
        ["--warehouse", wh, "--re-enrich"],
        spark=spark,
        transport=make_fake_transport(list(ORDERS), changed, REFUNDS),
    )
    assert out["re_enriched_months"] >= 1
    after = {
        (r["order_id"], r["product_id"]): r["category_snapshot"]
        for r in _read_items(spark, wh).collect()
    }
    # missing rows refreshed from the changed catalog...
    assert after[(1, 11)] == "Boots"
    # ...but intact snapshots are preserved (NOT rewritten)
    assert after[(1, 12)] == "Hats"


def test_cli_re_enrich_noop_without_missing_rows(spark, tmp_path):
    wh = str(tmp_path / "wh")
    transport = make_fake_transport(list(ORDERS), PRODUCTS, REFUNDS)
    main(
        ["--warehouse", wh, "--backfill", "2024-01-01", "2024-02-01"],
        spark=spark,
        transport=transport,
    )
    # product 13 has no categories -> NULL snapshot rows exist, so one
    # month is rewritten; drop that row set to get a true no-op
    path = os.path.join(wh, "fct_order_items")
    items = spark.read.parquet(path)
    filled = items.withColumn(
        "category_snapshot", F.coalesce("category_snapshot", F.lit("X"))
    ).localCheckpoint(eager=True)
    filled.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("order_month").parquet(path)
    out = main(
        ["--warehouse", wh, "--re-enrich"], spark=spark, transport=transport
    )
    assert out["re_enriched_months"] == 0


def test_cli_module_is_executable_via_python_dash_m():
    """The documented invocation (python -m package) must resolve:
    argparse --help exits 0 before any Spark/transport construction."""
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, "-m", "py_etl_pipeline_woocommerce_spark", "--help"],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=120,
    )
    assert proc.returncode == 0
    assert "--backfill" in proc.stdout
    assert "--force-all" in proc.stdout


def test_cli_backfill_restores_watermark_after_window_failure(spark, tmp_path):
    """Retry exhaustion inside a backfill window is a designed exit
    path: the production watermark must be restored to its prior
    value even when the backfill aborts, or the next routine
    incremental run re-extracts everything since the historical
    cursor."""
    wh = str(tmp_path / "wh")
    state_path = os.path.join(wh, "state.json")
    os.makedirs(wh, exist_ok=True)
    # seed a production watermark AFTER the historical range
    transport = make_fake_transport(list(ORDERS), PRODUCTS, REFUNDS)
    main(
        ["--warehouse", wh, "--backfill", "2024-01-01", "2024-02-01"],
        spark=spark,
        transport=transport,
    )
    prior = json.load(open(state_path))["since_iso"]
    assert prior > "2024-01-03T12:00:00"

    def always_down(path, params):
        raise RuntimeError("HTTP 500: persistent outage")

    always_down.orders = []
    with pytest.raises(RuntimeError, match="persistent outage"):
        main(
            [
                "--warehouse",
                wh,
                "--backfill",
                "2023-01-01",
                "2023-03-01",
                "--retries",
                "1",
                "--retry-delay-sec",
                "0",
            ],
            spark=spark,
            transport=always_down,
        )
    assert json.load(open(state_path))["since_iso"] == prior


def test_retry_restages_bronze_and_replay_matches_loaded_facts(
    spark, tmp_path
):
    """A retried cycle re-lands the raw batch it ACTUALLY fetched with
    a superseding extracted_at — it must not reuse attempt 1's bronze
    copy. When an order changes between attempts, the warehouse is
    loaded from the retry's fetch, and replaying bronze (latest landed
    copy per order_id) must reproduce exactly that — not attempt 1's
    stale snapshot. Skipping the re-stage would silently break the
    replay/audit contract."""
    from py_etl_pipeline_woocommerce_spark.plans.woo_flow import (
        incremental_run,
        replay_parsed_from_raw,
    )
    from py_etl_pipeline_woocommerce_spark.sources.rest import orders_frame
    from py_etl_pipeline_woocommerce_spark.sources.state import (
        WatermarkStore,
    )
    from tests.test_ingest_flow import _order

    wh = str(tmp_path / "wh")
    state = WatermarkStore(str(tmp_path / "state.json"))
    state.set_since("2023-12-31T00:00:00")
    sentinel = str(tmp_path / "failed_once")
    # order 3's total changes between attempt 1 (20.0) and the retry
    # (25.0) — the divergence scenario the re-stage exists for
    orders_v2 = list(ORDERS[:2]) + [
        _order(3, "2024-01-03T12:00:00", 25.0, 2.0, [(13, 1, 20.0)])
    ]
    t1 = make_fake_transport(list(ORDERS), PRODUCTS, REFUNDS)
    t2 = make_fake_transport(orders_v2, PRODUCTS, REFUNDS)

    def flaky(path, params):
        # sentinel file gates both the one-time failure and the data
        # switch, so it works wherever the call runs (driver or
        # executor worker, shared local FS)
        import os as _os

        if not _os.path.exists(sentinel):
            if path == "products":
                with open(sentinel, "w") as f:
                    f.write("x")
                raise RuntimeError("HTTP 503: transient upstream error")
            return t1(path, params)
        return t2(path, params)

    flaky.orders = list(ORDERS)
    stats = incremental_run(
        spark, flaky, state, wh, retries=2, retry_delay_sec=0.01
    )
    assert stats["orders"] == 3
    stg = spark.read.parquet(os.path.join(wh, "stg_orders_raw"))
    # one bronze copy per attempt that fetched (append-only audit
    # trail), still 3 distinct orders
    assert stg.count() == 6
    assert stg.select("order_id").distinct().count() == 3
    # warehouse holds the retry's fetch...
    fct = spark.read.parquet(os.path.join(wh, "fct_orders"))
    loaded = {r["order_id"]: r for r in fct.collect()}
    assert loaded[3]["net_total"] == pytest.approx(23.0)  # 25 - 2 tax
    # ...and bronze replay reproduces exactly what was loaded
    replayed = {
        r["order_id"]: r
        for r in orders_frame(replay_parsed_from_raw(spark, wh)).collect()
    }
    assert replayed[3]["net_total"] == pytest.approx(23.0)
    assert set(replayed) == set(loaded)
    assert {k: r["refund_total"] for k, r in replayed.items()} == {
        k: r["refund_total"] for k, r in loaded.items()
    }
    assert loaded[2]["refund_total"] == pytest.approx(10.0)


def test_cli_backfill_never_parks_watermark_in_the_future(spark, tmp_path):
    """Trailing EMPTY windows of a backfill whose d2 reaches past the
    newest order must not leave the watermark at the far cursor — the
    old finally only guarded REWIND, so a generous d2 parked the
    watermark years ahead and every later incremental run silently
    skipped all newly created orders."""
    wh = str(tmp_path / "wh")
    state_path = os.path.join(wh, "state.json")
    transport = make_fake_transport(list(ORDERS), PRODUCTS, REFUNDS)
    # seed: plain backfill over the data range establishes the prior
    main(
        ["--warehouse", wh, "--backfill", "2024-01-01", "2024-02-01"],
        spark=spark,
        transport=transport,
    )
    prior = json.load(open(state_path))["since_iso"]

    # backfill again with d2 far in the future: all data re-ingests in
    # the first window, the trailing windows are empty
    main(
        [
            "--warehouse", wh,
            "--backfill", "2024-01-01", "2031-01-01",
            "--window-days", "700",
        ],
        spark=spark,
        transport=make_fake_transport(list(ORDERS), PRODUCTS, REFUNDS),
    )
    final = json.load(open(state_path))["since_iso"]
    # settled to max(prior, ingested max + 1min) = prior (the 2024
    # ingest advance sits far below the first-run lookback watermark)
    # — NOT the 2031-adjacent cursor the empty tail walked to
    assert final == prior


def test_cli_backfill_rejects_nonpositive_window(spark, tmp_path):
    wh = str(tmp_path / "wh")
    with pytest.raises(ValueError, match="window-days must be positive"):
        main(
            [
                "--warehouse", wh,
                "--backfill", "2024-01-01", "2024-02-01",
                "--window-days", "0",
            ],
            spark=spark,
            transport=make_fake_transport(list(ORDERS), PRODUCTS, REFUNDS),
        )


def test_cli_backfill_force_all_reaches_re_enrich(spark, tmp_path):
    """--force-all combined with --backfill used to be silently
    dropped; it must route into the final re-enrich pass."""
    wh = str(tmp_path / "wh")
    transport = make_fake_transport(list(ORDERS), PRODUCTS, REFUNDS)
    out = main(
        [
            "--warehouse", wh,
            "--backfill", "2024-01-01", "2024-02-01",
            "--force-all",
        ],
        spark=spark,
        transport=transport,
    )
    # force_all re-enriches every month present, not just missing ones
    assert out["re_enriched_months"] >= 1
