"""Distributed paged-REST ingestion (the engine's extract layer).

Re-expresses the reference extract stack Spark-first:

- ``wc_client.py:36-49`` fetches pages serially on one machine; here
  page 1 is probed on the driver to learn the page count, then the
  remaining pages fan out to executors as a ``mapInPandas`` over a
  page-number DataFrame — N workers ingest N pages concurrently, which
  is the only way a REST backfill finishes at warehouse scale.
- ``orders.py:4-18`` (orders since watermark), ``products.py:31-73``
  (batch by ids + per-id fallback) and ``refunds.py:6-61`` (per-order
  refunds) become thin wrappers producing DataFrames of raw JSON
  strings, parsed with ``from_json`` + explicit schemas (never
  inferSchema — schema drift must fail loudly, not silently retype).

The HTTP transport is injectable (any picklable
``(path, params) -> (json_text, total_pages)`` callable) so the layer
is testable offline and swappable for a real session-pooled client.
"""

from __future__ import annotations

import json
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .http_transport import WooHttpError

#: transport(path, params) -> (response_json_text, total_pages).
#: total_pages mirrors WooCommerce's X-WP-TotalPages header; a
#: transport that can't know it may return -1 for "unknown" (the
#: fetch then probes pages until an empty one, still in parallel
#: waves).
Transport = Callable[[str, dict], tuple[str, int]]

RAW_SCHEMA = T.StructType(
    [
        T.StructField("page", T.IntegerType()),
        T.StructField("raw", T.StringType()),
    ]
)

#: WooCommerce order payload, the fields the reference reads
#: (normalize_orders.py:25-69). Money arrives as strings in Woo JSON.
ORDER_JSON_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("currency", T.StringType()),
        T.StructField("customer_id", T.LongType()),
        T.StructField("date_created_gmt", T.StringType()),
        T.StructField("date_created", T.StringType()),
        T.StructField("discount_total", T.StringType()),
        T.StructField("discount_tax", T.StringType()),
        T.StructField("shipping_total", T.StringType()),
        T.StructField("shipping_tax", T.StringType()),
        T.StructField("cart_tax", T.StringType()),
        T.StructField("total_tax", T.StringType()),
        T.StructField("total", T.StringType()),
        T.StructField(
            "billing",
            T.StructType(
                [
                    T.StructField("country", T.StringType()),
                    T.StructField("city", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "line_items",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("id", T.LongType()),
                        T.StructField("product_id", T.LongType()),
                        T.StructField("variation_id", T.LongType()),
                        T.StructField("sku", T.StringType()),
                        T.StructField("name", T.StringType()),
                        T.StructField("quantity", T.LongType()),
                        T.StructField("price", T.StringType()),
                        T.StructField("total", T.StringType()),
                        T.StructField("subtotal", T.StringType()),
                        T.StructField("tax_class", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)

#: Product payload — id + categories[].name (products.py:55-73).
PRODUCT_JSON_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField(
            "categories",
            T.ArrayType(
                T.StructType([T.StructField("name", T.StringType())])
            ),
        ),
    ]
)

#: Refund payload — amount + line_items (refunds.py:35-53).
REFUND_JSON_SCHEMA = T.StructType(
    [
        T.StructField("amount", T.StringType()),
        T.StructField(
            "line_items",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("product_id", T.LongType()),
                        T.StructField("variation_id", T.LongType()),
                        T.StructField("quantity", T.LongType()),
                        T.StructField("total", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)


def _records(body: str) -> list[str]:
    """Response body -> one JSON string per record."""
    data = json.loads(body) if body else []
    if not isinstance(data, list):
        data = [data]
    return [json.dumps(r) for r in data]


def fetch_paged(
    spark: SparkSession,
    transport: Transport,
    path: str,
    params: dict,
    per_page: int = 100,
    max_unknown_pages: int = 10_000,
) -> DataFrame:
    """All pages of a paged endpoint as a DataFrame of raw JSON rows.

    Page 1 runs on the driver (one RTT) and yields the page count;
    pages 2..N fan out to executors. When the transport reports an
    unknown page count (-1), executors probe optimistic page ranges
    and stop at the first empty page — the serial loop of
    ``wc_client.paged`` turned into parallel waves.
    """
    first_body, total_pages = transport(path, {**params, "page": 1, "per_page": per_page})
    first = _records(first_body)
    first_rows = [(1, r) for r in first]
    known_total = total_pages >= 0
    if not known_total:
        # Unknown total (no X-WP-TotalPages): a short first page means
        # done, else probe optimistically (wc_client.py:41-48 loop).
        total_pages = 1 if len(first) < per_page else max_unknown_pages
    if known_total and total_pages > 1 and not first:
        # the executor path refuses this exact inconsistency (below);
        # swallowing it on the DRIVER would silently drop pages 2..N
        # and let the caller advance its watermark past the gap
        raise RuntimeError(
            f"fetch_paged: page 1 of {path} came back empty but "
            f"X-WP-TotalPages reported {total_pages} pages — refusing "
            "to silently drop the remaining pages"
        )
    # page 1 is at most one page of rows: one partition, not a slice
    # per core (each slice would be a task, and a file in every write)
    first_df = spark.createDataFrame(first_rows, RAW_SCHEMA).coalesce(1)
    if total_pages <= 1 or not first:
        return first_df
    last_probe_page = total_pages

    def fetch_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pages_out, raw_out = [], []
            for page in sorted(int(p) for p in pdf["page"]):
                body, _ = transport(
                    path, {**params, "page": page, "per_page": per_page}
                )
                recs = _records(body)
                pages_out.extend([page] * len(recs))
                raw_out.extend(recs)
                if not recs:
                    if known_total:
                        # the server SAID this page exists; an empty
                        # body is an upstream inconsistency (replica
                        # lag, WAF) — breaking here would silently
                        # drop every later page in this partition and
                        # advance the watermark past the gap. Fail the
                        # task loudly; retries re-fetch the window.
                        raise RuntimeError(
                            f"fetch_paged: page {page} of {path} came "
                            f"back empty but X-WP-TotalPages reported "
                            f"{total_pages} pages — refusing to "
                            "silently drop the remaining pages"
                        )
                    break  # past the end (unknown-total probing)
                if not known_total and page == last_probe_page:
                    # probe range exhausted with data still flowing:
                    # pages beyond max_unknown_pages may exist
                    import logging

                    logging.getLogger(__name__).warning(
                        "fetch_paged: unknown-total probe of %s hit the "
                        "max_unknown_pages=%d ceiling with a non-empty "
                        "page — data past page %d is NOT extracted",
                        path,
                        last_probe_page,
                        last_probe_page,
                    )
            yield pd.DataFrame({"page": pages_out, "raw": raw_out})

    n_tasks = min(
        total_pages - 1, spark.sparkContext.defaultParallelism * 2
    ) or 1
    rest = (
        spark.range(2, total_pages + 1)
        .select(F.col("id").cast("int").alias("page"))
        .repartition(n_tasks)
        .mapInPandas(fetch_batch, schema=RAW_SCHEMA)
    )
    return first_df.unionByName(rest)


def fetch_orders_since(
    spark: SparkSession,
    transport: Transport,
    since_iso: str,
    status: str | None = None,
    before_iso: str | None = None,
) -> DataFrame:
    """Raw orders created after ``since_iso`` (orders.py:4-18);
    ``before_iso`` adds Woo's upper ``before`` bound — what makes a
    windowed backfill actually extract ONE window instead of
    everything after the cursor."""
    params: dict = {"after": since_iso, "orderby": "date", "order": "asc"}
    if status:
        params["status"] = status
    if before_iso:
        params["before"] = before_iso
    return fetch_paged(spark, transport, "orders", params)


def parse_orders(raw: DataFrame) -> DataFrame:
    """raw JSON rows -> typed order structs (one row per order).

    Malformed JSON FAILS LOUDLY (the module doctrine): the default
    PERMISSIVE mode would turn a corrupt record into an all-NULL
    order row — order_id NULL, money coerced to 0.0 — that the keyed
    upsert can never delete (NULL never equi-joins), breaking
    idempotence one corrupt record at a time. FAILFAST raises on the
    record instead.
    """
    return raw.select(
        F.from_json("raw", ORDER_JSON_SCHEMA, {"mode": "FAILFAST"}).alias(
            "o"
        )
    ).select("o.*")


def _money(col) -> F.Column:
    """Woo money-string -> double, 0.0 on null/garbage (the `_f()`
    coercion of normalize_orders.py:6-10, vectorized). try_cast, not
    cast: under Spark 4's default ANSI mode a plain cast RAISES on a
    malformed money string instead of yielding the NULL this
    coalesce exists to absorb."""
    return F.coalesce(_try_double(col), F.lit(0.0))


def _try_double(col) -> F.Column:
    return F.expr(f"try_cast({col} AS DOUBLE)")


def orders_frame(parsed: DataFrame) -> DataFrame:
    """Order-grain frame matching the reference's df_orders columns
    (normalize_orders.py:25-49)."""
    created = F.coalesce("date_created_gmt", "date_created")
    total, total_tax = _money("total"), _money("total_tax")
    return parsed.select(
        F.col("id").alias("order_id"),
        F.date_format(F.to_timestamp(created), "yyyy-MM-dd HH:mm:ss").alias(
            "order_date"
        ),
        "status",
        "currency",
        "customer_id",
        _money("discount_total").alias("discount_total"),
        _money("discount_tax").alias("discount_tax"),
        _money("shipping_total").alias("shipping_total"),
        _money("shipping_tax").alias("shipping_tax"),
        _money("cart_tax").alias("cart_tax"),
        total_tax.alias("total_tax"),
        total.alias("gross_total"),
        (total - total_tax).alias("net_total"),
        F.col("billing.country").alias("billing_country"),
        F.col("billing.city").alias("billing_city"),
    )


def items_frame(parsed: DataFrame) -> DataFrame:
    """Line-item grain frame (normalize_orders.py:51-69): explode the
    nested array — one shuffle-free narrow op per order row.

    ``line_id`` (Woo's ``li.id``) rides along as the line's identity:
    an order can carry the SAME (product_id, variation_id) on two
    separate lines, and without the id there is no deterministic way
    to apply a refund to exactly one of them (``build_facts`` drops
    it from the warehouse row after the refund join)."""
    li = parsed.select(
        F.col("id").alias("order_id"),
        F.explode("line_items").alias("li"),
    )
    return li.select(
        "order_id",
        F.col("li.id").alias("line_id"),
        F.col("li.product_id").alias("product_id"),
        F.col("li.variation_id").alias("variation_id"),
        F.col("li.sku").alias("sku"),
        F.col("li.name").alias("name"),
        F.coalesce(F.col("li.quantity"), F.lit(0)).alias("quantity"),
        F.coalesce(_try_double("li.price"), F.lit(0.0)).alias("price"),
        F.coalesce(_try_double("li.total"), F.lit(0.0)).alias("total"),
        F.coalesce(_try_double("li.subtotal"), F.lit(0.0)).alias(
            "subtotal"
        ),
        F.col("li.tax_class").alias("tax_class"),
    )


def fetch_products_by_ids(
    spark: SparkSession, transport: Transport, product_ids: DataFrame
) -> DataFrame:
    """(product_id, category_snapshot) for the given ids.

    ``product_ids`` is a 1-column DataFrame (distributed dedup of the
    item fan-in, unlike products.py:40 which sorts ids on one node);
    executors fetch id-batches of 100 via the include= endpoint
    (products.py:47-60). category_snapshot is the ``" | "`` join of
    category names (flow.py:88-91).
    """

    def fetch_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = sorted({int(i) for i in pdf["product_id"].dropna()})
            raws: list[str] = []
            for i in range(0, len(ids), 100):
                chunk = ids[i : i + 100]
                # paginate each include= chunk exhaustively: a host
                # that clamps per_page (WAF/plugin caps) returns fewer
                # rows plus total_pages > 1, and ignoring that header
                # silently NULLs the category snapshot for 90% of the
                # chunk — the truncation fetch_paged never allows
                # (same exhaustive loop as fetch_refunds_for_orders)
                page = 1
                while True:
                    body, total_pages = transport(
                        "products",
                        {
                            "include": ",".join(str(x) for x in chunk),
                            "per_page": 100,
                            "page": page,
                            "status": "any",
                            "context": "edit",
                        },
                    )
                    raws.extend(_records(body))
                    if page >= max(int(total_pages or 1), 1):
                        break
                    page += 1
            yield pd.DataFrame({"page": [0] * len(raws), "raw": raws})

    raw = (
        product_ids.select(F.col(product_ids.columns[0]).alias("product_id"))
        .distinct()
        .mapInPandas(fetch_batches, schema=RAW_SCHEMA)
    )
    parsed = raw.select(F.from_json("raw", PRODUCT_JSON_SCHEMA).alias("p")).select(
        "p.*"
    )
    names = F.filter(
        F.transform("categories", lambda c: c["name"]), lambda n: n.isNotNull()
    )
    snapshot = F.when(
        F.size(names) > 0, F.array_join(names, " | ")
    ).otherwise(F.lit(None))
    return parsed.select(
        F.col("id").alias("product_id"), snapshot.alias("category_snapshot")
    )


def fetch_refunds_for_orders(
    spark: SparkSession, transport: Transport, order_ids: DataFrame
) -> DataFrame:
    """Per-order refund rows: (order_id, amount, line_items).

    The reference loops orders one by one on the driver
    (refunds.py:24-28); here order ids are a DataFrame and each
    executor task drains its partition's per-order endpoints —
    embarrassingly parallel fan-out.
    """
    schema = T.StructType(
        [
            T.StructField("order_id", T.LongType()),
            T.StructField("raw", T.StringType()),
        ]
    )

    def fetch_orders(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            oids, raws = [], []
            for oid in pdf["order_id"].dropna():
                oid = int(oid)
                try:
                    # page EXHAUSTIVELY: a subscription/marketplace
                    # order can exceed one page of refunds, and
                    # stopping at page 1 silently understates
                    # refund_total (the truncation fetch_paged never
                    # allows itself)
                    page, recs = 1, []
                    while True:
                        body, total_pages = transport(
                            f"orders/{oid}/refunds",
                            {"per_page": 100, "page": page},
                        )
                        batch = _records(body)
                        recs.extend(batch)
                        done = (
                            page >= total_pages
                            if total_pages >= 0
                            else len(batch) < 100
                        )
                        if done:
                            break
                        page += 1
                except WooHttpError as exc:
                    # refunds.py:26-28: a MISSING order -> no refunds.
                    # Only 404 qualifies — swallowing auth failures or
                    # exhausted retries here would silently persist
                    # refund_total=0 for the whole batch.
                    if exc.status != 404:
                        raise
                    recs = []
                oids.extend([oid] * len(recs))
                raws.extend(recs)
            yield pd.DataFrame({"order_id": oids, "raw": raws})

    raw = (
        order_ids.select(F.col(order_ids.columns[0]).alias("order_id"))
        .distinct()
        .mapInPandas(fetch_orders, schema=schema)
    )
    return raw.select(
        "order_id", F.from_json("raw", REFUND_JSON_SCHEMA).alias("r")
    ).select("order_id", "r.amount", "r.line_items")


def order_refund_totals(refunds: DataFrame) -> DataFrame:
    """order_id -> refund_total (refunds.py:30-37 aggregation)."""
    return refunds.groupBy("order_id").agg(
        F.sum(F.coalesce(_try_double("amount"), F.lit(0.0))).alias(
            "refund_total"
        )
    )


def item_refund_totals(refunds: DataFrame) -> DataFrame:
    """(order_id, product_id, variation_id) -> refunded qty/total
    (refunds.py:39-53; refund line totals are negative in Woo, summed
    as-is like the reference)."""
    li = refunds.select(
        "order_id", F.explode("line_items").alias("li")
    )
    return li.groupBy(
        "order_id",
        F.coalesce(F.col("li.product_id"), F.lit(0)).alias("product_id"),
        F.coalesce(F.col("li.variation_id"), F.lit(0)).alias("variation_id"),
    ).agg(
        F.sum(F.coalesce(F.col("li.quantity"), F.lit(0))).alias(
            "refunded_quantity"
        ),
        F.sum(F.coalesce(_try_double("li.total"), F.lit(0.0))).alias(
            "refunded_total"
        ),
    )
