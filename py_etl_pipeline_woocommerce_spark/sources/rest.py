"""Distributed paged-REST ingestion (the engine's extract layer).

Re-expresses the reference extract stack Spark-first:

- ``wc_client.py:36-49`` fetches pages serially on one machine; here
  page 1 is probed on the driver to learn the page count, then every
  page is fetched in ONE stage, a ``mapInPandas`` over ``spark.range``
  with ``C = min(pages, 2 × cores)`` calls in flight; page 1's records
  ride in the closure instead of being fetched twice. The fan-out is
  sized by its pages, not by the cores: a task takes at least ``C``
  pages before another task is added, and runs its calls on an
  in-task pool of ``C // tasks`` threads. A day-sized drop is one
  Python task with ``C`` calls in flight; a backfill of ``C²`` pages
  or more spreads over ``2 × cores`` tasks, which is how a REST
  backfill finishes at warehouse scale.
- ``orders.py:4-18`` (orders since watermark) and
  ``products.py:31-73`` (batch by ids + per-id fallback) become thin
  wrappers producing DataFrames of raw JSON strings, parsed with
  ``from_json`` + explicit schemas (never inferSchema — schema drift
  must fail loudly, not silently retype).
- ``refunds.py:6-61`` (per-order refunds, fetched right after the
  order) stays next to its order: the task that fetched an order page
  drains each order's refunds and carries them on the order's row as
  a JSON array, which ``orders_frame``/``items_frame`` apply inside
  the row — no shuffle, join or window between an order and its
  refunds.

Every page request — the driver's probe, each orders stride, each
order's refunds and each products include= chunk — goes through one
walk, ``_walk``, so all of them stop and refuse by one rule (the one
paged contract of ``wc_client.paged``).

An order row is ``(raw, refunds)`` (``ORDER_ROW_SCHEMA``) from the
fetch through the bronze table (``woo_flow.stage_raw_orders``) to the
facts, so a replay from bronze parses exactly what the run parsed.

The HTTP transport is injectable (any picklable, thread-safe
``(path, params) -> (json_text, total_pages)`` callable; a task calls
it from its pool threads at once) so the layer is testable offline and
swappable for a real session-pooled client.
"""

from __future__ import annotations

import json
import logging
from concurrent.futures import ThreadPoolExecutor
from functools import partial
from typing import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .http_transport import WooHttpError

#: transport(path, params) -> (response_json_text, total_pages).
#: total_pages mirrors WooCommerce's X-WP-TotalPages header; a
#: transport that can't know it may return -1 for "unknown" (a walk
#: then stops at its first empty or short page).
Transport = Callable[[str, dict], tuple[str, int]]

#: transport calls in flight per core: a paged fetch keeps
#: ``min(pages, 2 × cores)`` in flight, and a products task (at most
#: one runs per core) keeps 2
_CALLS_PER_CORE = 2

#: records a page request asks for (Woo's ``per_page`` maximum); an
#: include= chunk of product ids is one page of them
_PER_PAGE = 100

#: page ceiling of a walk whose transport reports no total
_MAX_UNKNOWN_PAGES = 10_000

_log = logging.getLogger(__name__)


def _in_flight(fn: Callable, items: Iterable, k: int) -> list:
    """``[fn(x) for x in items]`` with at most ``k`` calls at a time,
    results in order. The first failing call's exception (in item
    order) is raised here and calls not yet started are cancelled:
    nothing is swallowed in a pool thread. ``k <= 1`` runs inline."""
    items = list(items)
    if k <= 1 or len(items) <= 1:
        return [fn(x) for x in items]
    pool = ThreadPoolExecutor(min(k, len(items)))
    try:
        return list(pool.map(fn, items))
    finally:
        pool.shutdown(cancel_futures=True)


#: an order row from the fetch through bronze to the facts: the
#: order's JSON and the JSON array of its refund records
ORDER_ROW_SCHEMA = T.StructType(
    [
        T.StructField("raw", T.StringType()),
        T.StructField("refunds", T.StringType()),
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

#: Refund payload — amount + line_items (refunds.py:35-53); an
#: order's ``refunds`` column is a JSON array of these.
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


def _load(body: str) -> list:
    """Response body -> the list of records it holds."""
    data = json.loads(body) if body else []
    return data if isinstance(data, list) else [data]


def _walk(
    transport: Transport, path: str, params: dict, pages: range, total: int = -1
) -> Iterator[tuple[list, int]]:
    """``(records, total_pages)`` of each of ``pages`` of ``path`` in
    order — the one page walk every Woo REST call goes through
    (``wc_client.paged``'s loop). Its rule reads ONE total for the
    whole walk: ``total`` when the caller knows it (an orders stride
    gets the driver's), else the first X-WP-TotalPages a response
    reports. A later response's own count — a lagging replica's
    smaller one, or -1 for a missing header — does not change it.

    - a known total ends the walk at that page;
    - an unknown total (-1) ends it at the first empty or short page;
    - under a known total above 1 an empty page is refused: the
      server SAID it holds rows, so an empty body is an upstream
      inconsistency (replica lag, WAF), and skipping it would silently
      drop its rows and advance the watermark past the gap.

    ``pages.stop - 1`` is the walk's ceiling: a full page there under
    an unknown total is logged, since pages past it are not fetched.
    A generator, so the driver's probe can take page 1 alone."""
    for page in pages:
        query = {**params, "per_page": _PER_PAGE, "page": page}
        body, reported = transport(path, query)
        total = reported if total < 0 else total
        recs = _load(body)
        if not recs and total > 1:
            raise RuntimeError(
                f"page {page} of {path} came back empty but "
                f"X-WP-TotalPages reported {total} pages — refusing to "
                "silently drop the remaining pages"
            )
        yield recs, total
        if page >= total if total >= 0 else len(recs) < _PER_PAGE:
            return
        if total < 0 and page == pages.stop - 1:
            _log.warning(
                "unknown-total walk of %s hit its %d-page ceiling with a "
                "full page — data past page %d is NOT extracted",
                path,
                page,
                page,
            )


def _drain(transport: Transport, path: str, params: dict) -> list:
    """Every record of ``path``: the one-stride ``_walk`` over pages
    ``1.._MAX_UNKNOWN_PAGES``, for a walk one task owns (refunds, an
    include= chunk), where stopping at page 1 would silently truncate
    it."""
    pages = range(1, _MAX_UNKNOWN_PAGES + 1)
    return [r for recs, _ in _walk(transport, path, params, pages) for r in recs]


def _order_refunds(transport: Transport, order: dict) -> str:
    """One order's refunds as a JSON array (refunds.py:24-28).

    Pages EXHAUSTIVELY: a subscription/marketplace order can exceed
    one page of refunds, and stopping at page 1 silently understates
    refund_total. A missing order (404) has no refunds; any other
    failure propagates.
    """
    oid = order.get("id")
    if oid is None:
        return "[]"
    try:
        recs = _drain(transport, f"orders/{int(oid)}/refunds", {})
    except WooHttpError as exc:
        # refunds.py:26-28: a MISSING order -> no refunds. Only 404
        # qualifies — swallowing auth failures or exhausted retries
        # here would silently persist refund_total=0 for the batch.
        if exc.status != 404:
            raise
        recs = []
    return json.dumps(recs)


def fetch_orders_since(
    spark: SparkSession,
    transport: Transport,
    since_iso: str,
    before_iso: str | None = None,
) -> DataFrame:
    """Orders created after ``since_iso`` (orders.py:4-18) as order
    rows (``ORDER_ROW_SCHEMA``): each order's JSON and the JSON array
    of its refund records (refunds.py:24-28). ``before_iso`` adds
    Woo's upper ``before`` bound — what makes a windowed backfill
    actually extract ONE window instead of everything after the
    cursor.

    Page 1 runs on the driver (one RTT) and yields the page count.
    The fetch is then ONE stage: a ``mapInPandas`` over ``spark.range``
    that keeps ``C = min(pages, 2 × cores)`` calls in flight. The pages
    form ``C`` strides (stride ``j`` takes pages ``j+1, j+1+C, …``,
    each a ``_walk``), and tasks grow with the page count, not with
    the cores: a task takes at least ``C`` pages before another is
    added, so ``tasks = min(C, pages // C)``, and each task walks its
    strides on ``C // tasks`` threads. A drop-sized fetch (fewer than
    ``2C`` pages) is one task; ``C²`` pages or more keep ``2 × cores``
    single-threaded tasks. Page 1's records ride in the closure, so
    stride 0 starts from them instead of fetching the page again.
    Every stride walks under the probe's total, so a stride page that
    comes back empty is refused even when its own response counts
    fewer pages. When the transport reports an unknown page count
    (-1), the page count is ``_MAX_UNKNOWN_PAGES`` and each stride
    stops at its first empty or short page — the serial loop of
    ``wc_client.paged`` turned into ``C`` concurrent ones.

    Each order's refunds (``_order_refunds``) are drained by the task
    that fetched the order, on the same ``C // tasks`` threads, so at
    most ``C`` calls of either kind are in flight.
    """
    params: dict = {"after": since_iso, "orderby": "date", "order": "asc"}
    if before_iso:
        params["before"] = before_iso
    # read on the driver: it sizes the fan-out
    ceiling = _MAX_UNKNOWN_PAGES
    # an empty page 1 under a known total above 1 raises here, before
    # any task runs: the caller would advance its watermark past it
    first, total = next(
        _walk(transport, "orders", params, range(1, ceiling + 1))
    )
    # unknown total: a short first page means done, else probe
    # optimistically up to the ceiling (wc_client.py:41-48 loop)
    known = total if total >= 0 else 1 if len(first) < _PER_PAGE else ceiling
    last_page = max(known, 1) if first else 1
    calls = min(last_page, spark.sparkContext.defaultParallelism * _CALLS_PER_CORE)
    n_tasks = min(calls, last_page // calls)
    threads = calls // n_tasks
    refunds = partial(_order_refunds, transport)

    def stride(j: int) -> list:
        """Stride ``j``'s records; stride 0 starts from the probe's."""
        head, start = (first, 1 + calls) if j == 0 else ([], j + 1)
        pages = range(start, last_page + 1, calls)
        walk = _walk(transport, "orders", params, pages, total)
        return head + [r for recs, _ in walk for r in recs]

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            strides = [j for t in pdf["id"] for j in range(int(t), calls, n_tasks)]
            recs = [r for walk in _in_flight(stride, strides, threads) for r in walk]
            yield pd.DataFrame(
                {
                    "raw": [json.dumps(r) for r in recs],
                    "refunds": _in_flight(refunds, recs, threads),
                }
            )

    return spark.range(0, n_tasks, numPartitions=n_tasks).mapInPandas(
        fetch, schema=ORDER_ROW_SCHEMA
    )


def parse_orders(raw: DataFrame) -> DataFrame:
    """Order rows ``(raw, refunds)`` -> typed order structs (one row
    per order) with the parsed ``refunds`` array alongside.

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
        ),
        F.from_json("refunds", T.ArrayType(REFUND_JSON_SCHEMA)).alias("refunds"),
    ).select("o.*", "refunds")


def _money(col) -> F.Column:
    """Woo money-string -> double, 0.0 on null/garbage (the `_f()`
    coercion of normalize_orders.py:6-10, vectorized). try_cast, not
    cast: under Spark 4's default ANSI mode a plain cast RAISES on a
    malformed money string instead of yielding the NULL this
    coalesce exists to absorb."""
    return F.coalesce(_try_double(col), F.lit(0.0))


def _try_double(col) -> F.Column:
    return (F.col(col) if isinstance(col, str) else col).try_cast("double")


def _order_date() -> F.Column:
    created = F.coalesce("date_created_gmt", "date_created")
    return F.date_format(F.to_timestamp(created), "yyyy-MM-dd HH:mm:ss")


def orders_frame(parsed: DataFrame) -> DataFrame:
    """Order-grain frame matching the reference's df_orders columns
    (normalize_orders.py:25-49).

    The order's ``refunds`` are applied in the row (refunds.py:30-37):
    ``refund_total`` sums the refund amounts (NULL or garbage counts
    0.0, NULL refunds count none) and ``net_after_refunds`` is
    ``net_total - refund_total``."""
    total, total_tax = _money("total"), _money("total_tax")
    refund_total = F.coalesce(
        F.aggregate("refunds", F.lit(0.0), lambda acc, r: acc + _money(r["amount"])),
        F.lit(0.0),
    )
    return parsed.select(
        F.col("id").alias("order_id"),
        _order_date().alias("order_date"),
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
        refund_total.alias("refund_total"),
        (total - total_tax - refund_total).alias("net_after_refunds"),
    )


def items_frame(parsed: DataFrame) -> DataFrame:
    """Line-item grain frame (normalize_orders.py:51-69): explode the
    nested array — one shuffle-free narrow op per order row. Each line
    carries its order's ``order_date``, so it is laid out like its
    order without a join.

    Each line gets ``refunded_quantity``/``refunded_total`` from the
    order's ``refunds``, summed from the refund
    lines of its (product_id, variation_id) grain (refunds.py:39-53;
    Woo refund line totals are negative, summed as-is). An order can
    carry one grain on two lines (``line_id``, Woo's ``li.id``, tells
    them apart), and copying the refund onto both would double-count
    it, as the reference's pandas merge does — so exactly ONE line per
    grain takes it: the lowest ``line_id``, NULL first, ties by array
    position; the others get 0. REFERENCE-PARITY WAIVED
    (deliberately): order-grain totals agree either way, but a
    row-for-row check over fct_order_items must encode this policy
    (test-pinned in tests/test_ingest_flow.py)."""
    li = _with_line_refunds(parsed).select(
        F.col("id").alias("order_id"),
        _order_date().alias("order_date"),
        F.posexplode("line_items").alias("pos", "li"),
        "_line_refunds",
    )
    mine = F.col("_line_refunds")[F.col("pos")]
    return li.select(
        "order_id",
        "order_date",
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
        mine["refunded_quantity"].alias("refunded_quantity"),
        mine["refunded_total"].alias("refunded_total"),
    )


def _with_line_refunds(parsed: DataFrame) -> DataFrame:
    """``parsed`` plus ``_line_refunds``: per entry of ``line_items``,
    its (refunded_quantity, refunded_total).

    A grain is ``(coalesce(product_id, 0), coalesce(variation_id,
    0))`` on both sides, so a custom/fee line with a NULL product id
    still meets its refund. Lines and refund lines are materialized as
    columns first: inside a higher-order function a complex child
    re-evaluates per element (no CSE)."""

    def grain(x) -> list[F.Column]:
        return [
            F.coalesce(x["product_id"], F.lit(0)).alias("p"),
            F.coalesce(x["variation_id"], F.lit(0)).alias("v"),
        ]

    def same_grain(a, b) -> F.Column:
        return (a["p"] == b["p"]) & (a["v"] == b["v"])

    # a line's struct orders by (has id, id, position): its grain's
    # minimum is the lowest line_id, NULL first, ties by position
    staged = parsed.select(
        "*",
        F.transform(
            "line_items",
            lambda li, i: F.struct(
                li["id"].isNotNull().alias("has_id"),
                li["id"].alias("id"),
                i.alias("pos"),
                *grain(li),
            ),
        ).alias("_lines"),
        F.transform(
            F.flatten(F.filter("refunds.line_items", lambda a: a.isNotNull())),
            lambda r: F.struct(
                *grain(r),
                F.coalesce(r["quantity"], F.lit(0)).alias("q"),
                _money(r["total"]).alias("t"),
            ),
        ).alias("_refund_lines"),
    )
    zero = F.struct(
        F.lit(0).cast("long").alias("refunded_quantity"),
        F.lit(0.0).alias("refunded_total"),
    )

    def refund(line) -> F.Column:
        first = F.array_min(
            F.filter("_lines", lambda x: same_grain(x, line))
        )["pos"] == line["pos"]
        sums = F.aggregate(
            F.filter("_refund_lines", lambda r: same_grain(r, line)),
            zero,
            lambda acc, r: F.struct(
                (acc["refunded_quantity"] + r["q"]).alias("refunded_quantity"),
                (acc["refunded_total"] + r["t"]).alias("refunded_total"),
            ),
        )
        return F.when(first, F.coalesce(sums, zero)).otherwise(zero)

    return staged.withColumn(
        "_line_refunds", F.transform("_lines", refund)
    ).drop("_lines", "_refund_lines")


def fetch_products_by_ids(
    spark: SparkSession, transport: Transport, product_ids: DataFrame
) -> DataFrame:
    """(product_id, category_snapshot) for the given ids.

    ``product_ids`` is a 1-column DataFrame (distributed dedup of the
    item fan-in, unlike products.py:40 which sorts ids on one node);
    executors fetch id-batches of 100 via the include= endpoint
    (products.py:47-60), two batches in flight per task.
    category_snapshot is the ``" | "`` join of category names
    (flow.py:88-91).
    """

    def include(chunk: list[int]) -> list[str]:
        # drain each include= chunk: a host that clamps per_page
        # (WAF/plugin caps) returns fewer rows plus total_pages > 1,
        # and ignoring that header silently NULLs the category
        # snapshot for 90% of the chunk
        params = {
            "include": ",".join(str(x) for x in chunk),
            "status": "any",
            "context": "edit",
        }
        recs = _drain(transport, "products", params)
        return [json.dumps(r) for r in recs]

    def fetch_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = sorted({int(i) for i in pdf["product_id"].dropna()})
            chunks = [ids[i : i + _PER_PAGE] for i in range(0, len(ids), _PER_PAGE)]
            raws = [
                r for recs in _in_flight(include, chunks, _CALLS_PER_CORE) for r in recs
            ]
            yield pd.DataFrame({"raw": raws})

    raw = (
        product_ids.select(F.col(product_ids.columns[0]).alias("product_id"))
        .distinct()
        .mapInPandas(fetch_batches, schema="raw string")
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
