"""End-to-end incremental ingest flow: the Spark twin of the
reference orchestration (``/root/reference/src/etl/orchestration/
flow.py`` incremental_flow + backfill windows).

One run: watermark → paged extract (each order with its refunds) →
from_json normalize with the refunds applied inside the order row →
category enrich (broadcast) → delete+insert upsert into a
month-partitioned parquet warehouse → watermark advance.

The raw extract is the only pinned frame: it lands in bronze and
feeds both facts, and the refund path needs no shuffle, join, window
or cache of its own. Each drop is materialized once, at a size that
fits it. Extract and transform stay lazy lineage until one job per
fact batch rebalances it (a drop-sized batch becomes one partition),
observes what the rest of the run needs on that same job (row count,
latest order date, the months it touches) and local-checkpoints it.
The upserts and the watermark then read the checkpoint and the
observed values, never re-planning the extract. Every month rewrite
is materialized the same way, rebalanced by month, so a drop-sized
month is written as one file. A run is one ``frames.scope()``: it
releases the pinned extract and both batch checkpoints on success and
on failure alike. Each month rewrite opens its own scope, so its
checkpoint is freed as soon as the month is written.
"""

from __future__ import annotations

import os
import shutil
import time
from datetime import datetime, timedelta

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import frames
from ..functions.frames import checkpoint
from ..functions.logging import get_logger
from ..operators.enrich import missing_snapshot, refresh_categories
from ..operators.upsert import upsert_df, upsert_partitioned_parquet
from ..sources import rest
from ..sources.state import WatermarkStore

log = get_logger(__name__)

#: Warehouse partition column: facts are laid out by order month so an
#: incremental drop only ever rewrites the handful of month partitions
#: it touches (the 100 TB form of the reference's keyed DELETE).
PARTITION_COL = "order_month"

#: The bronze ``stg_orders_raw`` table: one landed order row each.
BRONZE_ORDERS_SCHEMA = (
    "order_id long, json string, refunds string, extracted_at timestamp"
)


def stage_raw_orders(raw: DataFrame, warehouse_dir: str) -> None:
    """Land the raw order rows BEFORE any parsing — the Spark twin of
    the reference's ``stg_orders_raw`` table (``load/ddl.sql:1-5``):
    each order's JSON, and beside it the JSON array of its refunds.

    Append-only: every extract lands with its timestamp, so normalize
    can be replayed (schema fixes, bug fixes) without refetching the
    API, and bad batches can be audited. At scale this is the bronze
    layer of a medallion lakehouse.
    """
    staged = raw.select(
        F.get_json_object("raw", "$.id").cast("long").alias("order_id"),
        F.col("raw").alias("json"),
        "refunds",
        F.current_timestamp().alias("extracted_at"),
    )
    staged.write.mode("append").parquet(
        os.path.join(warehouse_dir, "stg_orders_raw")
    )


def replay_parsed_from_raw(spark: SparkSession, warehouse_dir: str) -> DataFrame:
    """Re-parse the landed order rows with NO transport: latest landed
    copy per order_id → the same parsed frame ``build_facts`` produces
    in-flight, refunds included. One key-hash shuffle (row_number per
    order).

    The table is read with ``BRONZE_ORDERS_SCHEMA``, so a directory
    whose files differ in columns reads the same way every time. A
    row landed before refunds were landed beside the JSON reads NULL
    refunds and replays with zero refunds."""
    raw = spark.read.schema(BRONZE_ORDERS_SCHEMA).parquet(
        os.path.join(warehouse_dir, "stg_orders_raw")
    )
    w = Window.partitionBy("order_id").orderBy(F.col("extracted_at").desc())
    latest = (
        raw.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col("json").alias("raw"), "refunds")
    )
    return rest.parse_orders(latest)


def build_facts(
    spark: SparkSession,
    transport: rest.Transport,
    since_iso: str,
    warehouse_dir: str,
    before_iso: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Extract + transform since the watermark → (orders, items) with
    categories and refunds applied (flow.py t_process_batch), both
    stamped with their order's ``PARTITION_COL``.

    Refunds arrive on each order row from the extract and are applied
    inside that row (``rest.orders_frame``/``rest.items_frame``).
    The order rows land in ``warehouse_dir``'s ``stg_orders_raw``
    first; the raw frame is the one pinned frame (so the paged API
    extract runs exactly once for landing + parsing), released by the
    caller's ``frames.scope()``."""
    raw = frames.pin(
        rest.fetch_orders_since(spark, transport, since_iso, before_iso=before_iso),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    stage_raw_orders(raw, warehouse_dir)
    parsed = rest.parse_orders(raw)
    orders = _with_month(rest.orders_frame(parsed))
    items = rest.items_frame(parsed)

    cats = rest.fetch_products_by_ids(
        spark, transport, items.select("product_id")
    )
    # the category join keys on the raw product id; the fact row then
    # carries the refund grain's ids, NULL product/variation as 0
    items = _with_month(
        items.join(F.broadcast(cats), "product_id", "left")
    ).select(
        "order_id",
        F.coalesce("product_id", F.lit(0)).alias("product_id"),
        F.coalesce("variation_id", F.lit(0)).alias("variation_id"),
        "sku",
        "name",
        "quantity",
        "price",
        "total",
        "subtotal",
        "tax_class",
        "category_snapshot",
        "refunded_quantity",
        "refunded_total",
        PARTITION_COL,
    )
    return orders, items


def _upsert_table(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    keys: list[str],
    months: set,
    delete_keys: DataFrame | None = None,
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

    ``months`` are the months of ``delete_keys`` (else of ``batch``),
    which the caller observed on the batch's checkpoint.
    """
    from ..functions.fsutil import fs_exists

    key_src = batch if delete_keys is None else delete_keys
    batch_keys = key_src.select(*keys).distinct()
    # Hadoop-FS probe, never os.path: a driver-local probe reads
    # "absent" for hdfs://s3a:// warehouses and the merge would start
    # from an empty table — silently deleting prior history
    if fs_exists(spark, path):
        table = spark.read.parquet(path)
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
    with frames.scope():
        # the months present ride on the checkpoint job
        out, seen = checkpoint(
            transform(table.filter(_month_in(months))),
            _months_metric(),
            by=PARTITION_COL,
        )
        present = {m for (m,) in seen["months"]}
        if present:
            upsert_partitioned_parquet(out, path, PARTITION_COL)
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
    # released on BOTH exits, so a failed attempt doesn't leak pinned
    # or checkpointed partitions into its retry
    with frames.scope():
        orders, items = build_facts(
            spark, transport, since, warehouse_dir, before_iso=before_iso
        )
        # one job materializes the orders batch and observes all the
        # run needs of it: its size, the watermark candidate, its months
        orders, seen = checkpoint(
            orders,
            F.count(F.lit(1)).alias("n"),
            F.max("order_date").alias("max_date"),
            _months_metric(),
        )
        items, seen_items = checkpoint(items, F.count(F.lit(1)).alias("n"))
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
    id_scope = items.filter(F.col("product_id").isNotNull())
    if not force_all:
        id_scope = id_scope.filter(missing_snapshot())
    months = [
        r[0] for r in id_scope.select(PARTITION_COL).distinct().collect()
    ]
    if not months:
        log.info("re-enrich: nothing to do")
        return {"re_enriched_months": 0}
    fresh = rest.fetch_products_by_ids(
        spark, transport, id_scope.select("product_id")
    ).select("product_id", F.col("category_snapshot").alias("_fresh"))
    _rewrite_months(
        items, path, months,
        lambda scope: refresh_categories(
            scope, F.broadcast(fresh), force_all
        ).select(*items.columns),
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
