"""End-to-end incremental ingest flow: the Spark twin of the
reference orchestration (``/root/reference/src/etl/orchestration/
flow.py`` incremental_flow + backfill windows).

One run: watermark → paged extract → from_json normalize → category
enrich (broadcast) → refund apply → delete+insert upsert into a
month-partitioned parquet warehouse → watermark advance.

Each drop is materialized once, at a size that fits it. Extract and
transform stay lazy lineage until one job per fact batch rebalances
it (a drop-sized batch becomes one partition), observes what the rest
of the run needs on that same job (row count, latest order date, the
months it touches) and local-checkpoints it. The upserts and the
watermark then read the checkpoint and the observed values, never
re-planning the extract. Every month rewrite is materialized the same
way, rebalanced by month, so a drop-sized month is written as one
file. A run releases every checkpoint it made, on success and on
failure alike.
"""

from __future__ import annotations

import os
import shutil
import time
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.logging import get_logger
from ..operators.upsert import upsert_df, upsert_partitioned_parquet
from ..sources import rest
from ..sources.state import WatermarkStore

log = get_logger(__name__)

#: Warehouse partition column: facts are laid out by order month so an
#: incremental drop only ever rewrites the handful of month partitions
#: it touches (the 100 TB form of the reference's keyed DELETE).
PARTITION_COL = "order_month"


def stage_raw_orders(raw: DataFrame, warehouse_dir: str) -> None:
    """Land the raw order JSON BEFORE any parsing — the Spark twin of
    the reference's ``stg_orders_raw`` table (``load/ddl.sql:1-5``).

    Append-only: every extract lands with its timestamp, so normalize
    can be replayed (schema fixes, bug fixes) without refetching the
    API, and bad batches can be audited. At scale this is the bronze
    layer of a medallion lakehouse.
    """
    staged = raw.select(
        F.get_json_object("raw", "$.id").cast("long").alias("order_id"),
        F.col("raw").alias("json"),
        F.current_timestamp().alias("extracted_at"),
    )
    staged.write.mode("append").parquet(
        os.path.join(warehouse_dir, "stg_orders_raw")
    )


def replay_parsed_from_raw(spark: SparkSession, warehouse_dir: str) -> DataFrame:
    """Re-parse the landed raw JSON with NO transport: latest landed
    copy per order_id → the same parsed frame ``build_facts`` produces
    in-flight. One key-hash shuffle (row_number per order)."""
    raw = spark.read.parquet(os.path.join(warehouse_dir, "stg_orders_raw"))
    w = Window.partitionBy("order_id").orderBy(F.col("extracted_at").desc())
    latest = (
        raw.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col("json").alias("raw"))
    )
    return rest.parse_orders(latest)


def build_facts(
    spark: SparkSession,
    transport: rest.Transport,
    since_iso: str,
    warehouse_dir: str | None = None,
    persisted_frames: list | None = None,
    before_iso: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Extract + transform since the watermark → (orders, items) with
    categories and refunds applied (flow.py t_process_batch).

    When ``warehouse_dir`` is given, the raw order JSON lands in
    ``stg_orders_raw`` first (cached so the paged API extract runs
    exactly once for landing + parsing; the cached frame is appended
    to ``persisted_frames`` for the caller to unpersist)."""
    raw = rest.fetch_orders_since(
        spark, transport, since_iso, before_iso=before_iso
    )
    if warehouse_dir is not None:
        raw = raw.persist()
        if persisted_frames is not None:
            persisted_frames.append(raw)
        stage_raw_orders(raw, warehouse_dir)
    parsed = rest.parse_orders(raw)
    orders = rest.orders_frame(parsed)
    items = rest.items_frame(parsed)

    cats = rest.fetch_products_by_ids(
        spark, transport, items.select("product_id")
    )
    items = items.join(F.broadcast(cats), "product_id", "left")

    # persist the refunds fan-out: order_ref AND item_ref descend
    # from it and materialize as separate jobs, so without the
    # persist every orders/{id}/refunds endpoint is hit TWICE per run
    # (double API pressure, and a refund landing between the two
    # fetches would make order- and item-grain totals disagree)
    refunds = rest.fetch_refunds_for_orders(
        spark, transport, orders.select("order_id")
    ).persist()
    if persisted_frames is not None:
        persisted_frames.append(refunds)
    order_ref = rest.order_refund_totals(refunds)
    item_ref = rest.item_refund_totals(refunds)

    orders = (
        orders.join(F.broadcast(order_ref), "order_id", "left")
        .withColumn("refund_total", F.coalesce("refund_total", F.lit(0.0)))
        .withColumn(
            "net_after_refunds", F.col("net_total") - F.col("refund_total")
        )
    )
    # refund totals aggregate at (order, product, variation) grain,
    # but an order can carry the SAME grain on two separate lines —
    # a plain left join would copy the full refunded amount onto BOTH
    # rows (double-counted in any item-grain sum, the reference's
    # pandas merge included). Apply each grain's refund to exactly ONE
    # deterministic line (lowest line_id), zero on the others.
    # REFERENCE-PARITY WAIVED (deliberately): for orders carrying the
    # same (product, variation) grain on two lines, fct_order_items
    # rows diverge from the reference's output — the reference copies
    # the full refund onto BOTH lines and over-counts; order-grain
    # totals agree either way. Any row-for-row parity check or oracle
    # over fct_order_items must encode THIS single-line policy
    # (test-pinned in tests/test_woo_flow.py).
    line_rank = F.row_number().over(
        Window.partitionBy("order_id", "product_id", "variation_id")
        .orderBy("line_id")
    )
    items = (
        items.withColumn(
            "variation_id", F.coalesce("variation_id", F.lit(0))
        )
        # product_id too: the refund side coalesces NULL product ids
        # to 0 (rest.py item_refund_totals), so a custom/fee line with
        # product_id=NULL would never equi-join its refund and the
        # item grain would silently show zero refunds while the order
        # grain shows them
        .withColumn("product_id", F.coalesce("product_id", F.lit(0)))
        .join(
            F.broadcast(item_ref),
            ["order_id", "product_id", "variation_id"],
            "left",
        )
        .withColumn("_line_rank", line_rank)
        .withColumn(
            "refunded_quantity",
            F.when(F.col("_line_rank") == 1, F.col("refunded_quantity")),
        )
        .withColumn(
            "refunded_total",
            F.when(F.col("_line_rank") == 1, F.col("refunded_total")),
        )
        .withColumn(
            "refunded_quantity", F.coalesce("refunded_quantity", F.lit(0))
        )
        .withColumn(
            "refunded_total", F.coalesce("refunded_total", F.lit(0.0))
        )
        .drop("_line_rank", "line_id")
    )
    return orders, items


def _upsert_table(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    keys: list[str],
    delete_keys: DataFrame | None = None,
    months: set | None = None,
) -> None:
    """Partition-local delete+insert upsert into a month-partitioned
    parquet table (the local-mode stand-in for MERGE INTO an
    Iceberg/Delta table; duckdb_client.py semantics).

    ``delete_keys`` (keys + ``PARTITION_COL``) widens the delete set
    beyond the batch's own rows — the items fact passes the ORDERS
    batch here, so an extracted order whose line items were ALL
    removed still deletes its stale item rows (the items batch itself
    has no row for that order, and its months alone would not even
    touch the right partition). ``batch`` must carry
    ``PARTITION_COL``. Cost is O(touched partitions + one key-column
    probe), never O(full-width table): only the batch's months plus
    the months already holding its keys are rewritten.

    MOVED KEYS: the reference deletes by order_id unconditionally
    (duckdb_client.py:55), so a key whose order_date — and therefore
    month — changed between drops loses its old row: the key probe
    adds that month to the rewrite, where the anti-join deletes it.

    EMPTIED MONTHS: a rewritten month left with no rows (a moved key
    that was its only row, an order whose lines were all removed) is
    deleted, exactly as the reference's DELETE leaves no row behind.

    ``months`` are the months of ``delete_keys`` (else of ``batch``)
    when the caller already observed them on the batch's checkpoint;
    left out, they are collected here.
    """
    from ..functions.fsutil import fs_exists

    key_src = batch if delete_keys is None else delete_keys
    batch_keys = key_src.select(*keys).distinct()
    # Hadoop-FS probe, never os.path: a driver-local probe reads
    # "absent" for hdfs://s3a:// warehouses and the merge would start
    # from an empty table — silently deleting prior history
    if fs_exists(spark, path):
        table = spark.read.parquet(path)
        if months is None:
            months = {
                r[0]
                for r in key_src.select(PARTITION_COL).distinct().collect()
            }
        months = set(months) | set(
            _months_holding(table, batch_keys, keys, months)
        )
    else:
        # first creation merges into an empty table, so an all-empty
        # batch writes nothing (a dataless directory would make the
        # NEXT run's read fail to infer a schema)
        table, months = batch.limit(0), set()
    _rewrite_months(
        table, path, months,
        lambda existing: upsert_df(existing, batch, keys, batch_keys),
    )


def _months_holding(
    table: DataFrame, key_set: DataFrame, keys: list[str], skip=()
) -> dict:
    """month → number of ``table`` rows whose ``keys`` are in
    ``key_set``, outside the months in ``skip``: a scan of ONLY the
    key + partition columns, semi-joined against the broadcast (drop-
    or request-sized) key set, so finding the months to rewrite never
    reads full-width."""
    return {
        r[0]: r[1]
        for r in table.filter(~_month_in(skip))
        .select(*keys, PARTITION_COL)
        .join(F.broadcast(key_set), keys, "left_semi")
        .groupBy(PARTITION_COL)
        .count()
        .collect()
    }


def _rewrite_months(table: DataFrame, path: str, months, transform) -> None:
    """The ONE way a warehouse month is rewritten: ``transform`` maps
    the table's rows in ``months`` (statically partition-pruned) to
    their new contents, which are checkpointed (breaking the file
    lineage, so the overwrite can replace the files the plan read;
    rebalanced by month, so a drop-sized month is written as one file
    while AQE still splits an oversized one at the advisory size),
    dynamic-partition-overwritten and released. Dynamic overwrite only
    replaces the months present in its output, so a month left with
    no rows is deleted explicitly; a table left with no month is
    removed whole, so the next upsert creates it afresh instead of
    failing to infer a schema from an empty directory."""
    from ..functions.fsutil import fs_delete, fs_list_names

    spark = table.sparkSession
    # the months present ride on the checkpoint job
    out, seen = _checkpoint(
        transform(table.filter(_month_in(months))),
        _months_metric(),
        by=PARTITION_COL,
    )
    try:
        present = {m for (m,) in seen["months"]}
        if present:
            upsert_partitioned_parquet(out, path, PARTITION_COL)
    finally:
        _release(out)
    for m in set(months) - present:
        # Hadoop-FS delete on the WAREHOUSE filesystem (a local rmtree
        # silently no-ops on hdfs/s3a), with the NULL month mapped to
        # its actual Hive directory name
        dirname = "__HIVE_DEFAULT_PARTITION__" if m is None else m
        fs_delete(spark, os.path.join(path, f"{PARTITION_COL}={dirname}"))
    if not present and not any(
        n.startswith(f"{PARTITION_COL}=") for n in fs_list_names(spark, path)
    ):
        fs_delete(spark, path)


def _checkpoint(
    df: DataFrame, *metrics: F.Column, by: str | None = None
) -> tuple[DataFrame, dict]:
    """Materialize ``df`` once, right-sized: a REBALANCE (on ``by``
    when given), which AQE coalesces to one partition for a
    drop-sized frame and splits at the advisory size for a large one;
    ``metrics`` observed on that same job; an eager
    ``localCheckpoint``. Returns the checkpointed frame, which the
    caller hands to ``_release``, and the observed values."""
    seen = Observation()
    hint = ("rebalance", by) if by else ("rebalance",)
    out = df.hint(*hint).observe(seen, *metrics).localCheckpoint(eager=True)
    return out, seen.get


def _release(df: DataFrame) -> None:
    """Free a ``_checkpoint``-ed frame's blocks. A local checkpoint is
    not in the cache manager, so ``unpersist()`` and ``clearCache()``
    both miss it; the LogicalRDD leaf it returns holds the RDD."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def _months_metric() -> F.Column:
    """The months a frame holds, as one-element arrays: a bare
    collect_set would drop the NULL month."""
    return F.collect_set(F.array(PARTITION_COL)).alias("months")


def _month_in(months) -> F.Column:
    """NULL-SAFE partition membership: ``isin`` is never true for a
    NULL month (a malformed order date lands in
    ``__HIVE_DEFAULT_PARTITION__``). A plain filter would EXCLUDE the
    NULL-month rows from the rewrite while the dynamic overwrite still
    replaces (or the emptied-month rule deletes) that directory —
    previously loaded rows silently deleted, missing snapshots never
    re-enriched, purge-requested rows silently retained. The coalesce
    keeps the negation (the probe's ``skip``) NULL-safe as well."""
    non_null = [m for m in months if m is not None]
    cond = (
        F.coalesce(F.col(PARTITION_COL).isin(non_null), F.lit(False))
        if non_null
        else F.lit(False)
    )
    if None in months:
        cond = cond | F.col(PARTITION_COL).isNull()
    return cond


def _with_month(df: DataFrame) -> DataFrame:
    return df.withColumn(
        PARTITION_COL, F.substring(F.col("order_date"), 1, 7)
    )


def incremental_run(
    spark: SparkSession,
    transport: rest.Transport,
    state: WatermarkStore,
    warehouse_dir: str,
    before_iso: str | None = None,
    retries: int = 0,
    retry_delay_sec: float = 30.0,
    overlap_minutes: int = 0,
) -> dict:
    """One incremental cycle (flow.py incremental_flow): returns run
    stats. Idempotent: re-running with an unmoved watermark rewrites
    the same keys (delete+insert), so retries are safe.
    ``before_iso`` bounds the extract above (the backfill-window
    case); a normal incremental run leaves it open.

    ``overlap_minutes`` selects the watermark-advance rule: 0
    (default) is REFERENCE PARITY — flow.py's t_advance_watermark
    skips the minute after the last ingested order, permanently
    losing any order created inside it (state.py module docstring).
    Pass 1+ for the gap-free rule (max − overlap): the boundary
    window re-reads every run, which the idempotent delete+insert
    upsert makes free — the setting production deployments want.

    ``retries``/``retry_delay_sec`` mirror the reference's
    ``@task(retries=2, retry_delay_seconds=30)`` on order fetching
    (flow.py:44-46), one layer up: a failed cycle — transient HTTP
    errors included — is re-run FROM THE TOP after the delay. This is
    safe precisely because of the idempotence above: the watermark
    only advances after a successful load, so a retry re-extracts the
    same window and the delete+insert upsert rewrites the same keys
    without double-loading. Deterministic plan/schema errors
    (AnalysisException) are NOT retried — re-running a query that can
    never compile just delays the real error by retries × delay.

    A retry re-lands the raw batch it actually fetched, with a
    superseding ``extracted_at`` — it does NOT reuse the first
    attempt's bronze copy. The facts are always built from the
    retry's own fetch, so skipping the re-stage would let bronze hold
    only attempt 1's snapshot while the warehouse held attempt N's:
    any order that changed between attempts would make
    ``replay_parsed_from_raw`` (which picks the LATEST landed copy
    per order_id) diverge from what was actually loaded, silently
    breaking the replay/audit contract. The cost is one extra bronze
    copy of the window per failed attempt — bounded by ``retries``
    and reclaimable by compaction, which is the right trade against
    an unauditable warehouse."""
    from pyspark.errors import AnalysisException

    attempt = 0
    while True:
        try:
            return _incremental_run_once(
                spark,
                transport,
                state,
                warehouse_dir,
                before_iso,
                overlap_minutes,
            )
        except AnalysisException:
            raise
        except Exception as e:
            attempt += 1
            if attempt > retries:
                raise
            log.warning(
                "incremental run failed (%s: %s); retry %d/%d in %.0fs",
                type(e).__name__,
                e,
                attempt,
                retries,
                retry_delay_sec,
            )
            time.sleep(max(0.0, retry_delay_sec))


def _incremental_run_once(
    spark: SparkSession,
    transport: rest.Transport,
    state: WatermarkStore,
    warehouse_dir: str,
    before_iso: str | None = None,
    overlap_minutes: int = 0,
) -> dict:
    since = state.get_since()
    log.info("incremental run since=%s", since)
    cleanup: list = []
    checkpoints: list = []
    try:
        orders, items = build_facts(
            spark,
            transport,
            since,
            warehouse_dir,
            persisted_frames=cleanup,
            before_iso=before_iso,
        )
        # one job materializes the orders batch and observes all the
        # run needs of it: its size, the watermark candidate, its months
        orders, seen = _checkpoint(
            _with_month(orders),
            F.count(F.lit(1)).alias("n"),
            F.max("order_date").alias("max_date"),
            _months_metric(),
        )
        checkpoints.append(orders)
        # items carry no date — stamp the order's month so both facts
        # share the partition layout (batch-sized broadcast join).
        items, seen_items = _checkpoint(
            items.join(
                F.broadcast(orders.select("order_id", PARTITION_COL)),
                "order_id",
            ),
            F.count(F.lit(1)).alias("n"),
        )
        checkpoints.append(items)
        # both batches now hold everything raw and refunds fed them
        _unpersist(cleanup)
        n_orders, n_items = seen["n"], seen_items["n"]
        months = {m for (m,) in seen["months"]}
        log.info("extracted %d orders / %d items", n_orders, n_items)
        if n_orders:
            _upsert_table(
                spark,
                orders,
                os.path.join(warehouse_dir, "fct_orders"),
                ["order_id"],
                months=months,
            )
            # items upsert at ORDER grain (reference parity:
            # duckdb_client.py:55 deletes by order_id unconditionally)
            # — a line item the merchant REMOVED from an order between
            # runs must not survive as a stale row, which a
            # (order, product, variation)-keyed anti-join would allow
            _upsert_table(
                spark,
                items,
                os.path.join(warehouse_dir, "fct_order_items"),
                ["order_id"],
                delete_keys=orders.select("order_id", PARTITION_COL),
                months=months,
            )
            nxt = WatermarkStore.advance_from(seen["max_date"], overlap_minutes)
            if nxt:
                state.set_since(nxt)
                log.info("watermark advanced to %s", nxt)
        return {"since": since, "orders": n_orders, "items": n_items}
    finally:
        # release on BOTH exits so a failed attempt doesn't leak
        # cached partitions into its retry
        _unpersist(cleanup)
        for f in checkpoints:
            _release(f)


def _unpersist(frames: list) -> None:
    for f in frames:
        try:
            f.unpersist()
        except Exception:  # pragma: no cover - best effort
            pass


def re_enrich_run(
    spark: SparkSession,
    transport: rest.Transport,
    warehouse_dir: str,
    force_all: bool = False,
) -> dict:
    """Re-enrich ``category_snapshot`` on the item fact in place — the
    Spark twin of the reference runner's ``_re_enrich_categories``
    (``run.py:52-97``): collect the product ids to refresh, fetch
    them, UPDATE the fact via join.

    Missing-only mode refreshes rows with a NULL/blank snapshot;
    ``force_all`` refreshes every row (run.py:54-66). The UPDATE
    becomes: fetch the (broadcast-sized) fresh snapshot map for only
    the ids in scope, left-join it onto the touched partitions, and
    dynamic-partition-overwrite those months. In missing-only mode
    the rewrite is limited to months that actually contain a missing
    snapshot — at 100 TB a targeted fix rewrites a handful of month
    directories, not the table; force_all is the one legitimately
    table-wide pass.
    """
    from ..functions.fsutil import fs_exists

    path = os.path.join(warehouse_dir, "fct_order_items")
    if not fs_exists(spark, path):  # Hadoop-FS probe (see _upsert_table)
        log.info("re-enrich: no item fact at %s", path)
        return {"re_enriched_months": 0}
    items = spark.read.parquet(path)
    missing = F.col("category_snapshot").isNull() | (
        F.trim(F.col("category_snapshot")) == ""
    )
    id_scope = items.filter(F.col("product_id").isNotNull())
    if not force_all:
        id_scope = id_scope.filter(missing)
    months = [
        r[0] for r in id_scope.select(PARTITION_COL).distinct().collect()
    ]
    if not months:
        log.info("re-enrich: nothing to do")
        return {"re_enriched_months": 0}
    fresh = rest.fetch_products_by_ids(
        spark, transport, id_scope.select("product_id")
    ).select("product_id", F.col("category_snapshot").alias("_fresh"))
    take_fresh = (
        F.col("product_id").isNotNull() if force_all else missing
    )
    _rewrite_months(
        items, path, months,
        lambda scope: scope.join(F.broadcast(fresh), "product_id", "left")
        .withColumn(
            "category_snapshot",
            F.when(take_fresh, F.col("_fresh")).otherwise(
                F.col("category_snapshot")
            ),
        )
        .select(*items.columns),
    )
    log.info(
        "re-enrich: rewrote %d month partition(s), force_all=%s",
        len(months),
        force_all,
    )
    return {"re_enriched_months": len(months)}


def backfill_windows(
    start_iso: str, end_iso: str, window_days: int
) -> list[tuple[str, str]]:
    """Date-range windows for chunked backfill (run.py:106-130)."""
    fmt = "%Y-%m-%dT%H:%M:%S"
    start = datetime.fromisoformat(start_iso)
    end = datetime.fromisoformat(end_iso)
    out = []
    cur = start
    while cur < end:
        nxt = min(cur + timedelta(days=window_days), end)
        out.append((cur.strftime(fmt), nxt.strftime(fmt)))
        cur = nxt
    return out


def purge_keys(
    spark: SparkSession,
    path: str,
    purge: DataFrame,
    keys: list[str],
) -> dict:
    """Right-to-be-forgotten erasure from a month-partitioned fact
    table: delete every row matching the ``purge`` key set, rewriting
    ONLY the partitions that contain those keys. The warehouse twin
    of a GDPR/CCPA deletion request — the reference's delete-by-id
    (duckdb_client.py:55) done partition-prunedly at lake scale.

    Two passes, both bounded: the key probe finds the touched months
    and counts the rows to purge; only those months are re-read
    full-width, anti-joined and rewritten (a fully-purged month is
    removed). Untouched months are never read full-width and never
    rewritten (byte-identical, pytest-asserted).

    Returns an audit dict: rows purged, partitions rewritten —
    the deletion-log evidence a compliance pipeline must retain.
    """
    table = spark.read.parquet(path)
    purge_set = purge.select(*keys).distinct()
    touched = _months_holding(table, purge_set, keys)
    if not touched:
        return {"rows_purged": 0, "partitions_rewritten": 0}
    _rewrite_months(
        table, path, touched,
        lambda kept: kept.join(F.broadcast(purge_set), keys, "left_anti"),
    )
    return {
        "rows_purged": sum(touched.values()),
        "partitions_rewritten": len(touched),
    }
