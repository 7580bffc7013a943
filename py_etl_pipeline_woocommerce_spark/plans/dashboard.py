"""Dashboard serving facade: the reference's Streamlit page assembly
(``/root/reference/src/dashboard/app.py``) minus the UI widgets.

``app.py`` builds one page from six cached queries (date bounds,
KPI header, revenue timeseries, top products, category mix, geo
rollup), the five loaders parameterized by the sidebar's (d1, d2)
date window. ``dashboard_payload`` is that assembly as an engine
surface — plus ``cohort_retention``, an ENGINE EXTENSION with no
app.py twin, deliberately unbounded (a cohort matrix windowed to 30
days would be a single column): ONE call returns every frame a
dashboard page needs — a serving layer (Streamlit, a REST endpoint,
a notebook) just collects the frames it renders. Defaulting the
window from ``date_bounds`` mirrors ``app.py``'s sidebar
initialization.

Scale note: like ``app.py``'s cached loaders, the page keeps each
frame's rows. A frame not kept yet is built and collected in the
JVM (``collectAsList``) inside the call; every frame comes back as a
local frame over kept rows, so collecting it launches no Spark job
and a revisited page runs none. The key is the catalog file
snapshot of the six tables the page reads (``catalog.tables_snapshot``;
it covers ``catalog._INFERENCE_CONFS``), ``spark.sql.ansi.enabled``
and, for the five windowed frames, the ISO-normalized (d1, d2).
``date_bounds`` and ``cohort_retention`` take no window, so a new
window on the same snapshot reuses them; ``date_bounds`` takes the
UTC date instead, because an empty orders table falls back to
``current_date``. A new snapshot for a directory drops the rows kept
under its old one, and at most ``_MAX_ENTRIES`` frames are kept,
least recently used out. When a table cannot be stat'ed from the
driver (a non-local filesystem) nothing is kept: the frames are lazy
plans, each an independent Catalyst plan whose (d1, d2) bounds push
down via ``_bound_orders``. Blind spot, the catalog's: an in-place
rewrite that keeps every file's size, ns mtime and inode serves the
old rows.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from datetime import date, datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import tables_snapshot
from .analytics import (
    category_mix,
    cohort_retention,
    date_bounds,
    geo_rollup,
    kpis,
    revenue_timeseries,
    top_products,
)

#: Every table a page frame reads (tests/test_dashboard.py checks the
#: frames' plans against it).
PAGE_TABLES = ("orders", "lineitem", "part", "customer", "nation", "region")

_WINDOWED = {
    "kpis": kpis,
    "revenue_timeseries": revenue_timeseries,
    "top_products": top_products,
    "category_mix": category_mix,
    "geo_rollup": geo_rollup,
}

#: Most frames kept across all directories (a page is 7, a new window
#: on a kept snapshot 5).
_MAX_ENTRIES = 128

_LOCK = threading.Lock()
#: (sf_dir, frame, window or UTC date) -> (Java rows, Java schema)
_KEPT: OrderedDict[tuple, tuple] = OrderedDict()
#: sf_dir -> the page key its kept rows were computed under; one per
#: directory, like the catalog's one schema per path
_PAGE_KEYS: dict[str, tuple] = {}


def _utc_today() -> str:
    return datetime.now(timezone.utc).date().isoformat()


def _page_key(spark: SparkSession, sf_dir: str) -> tuple | None:
    snap = tables_snapshot(spark, sf_dir, PAGE_TABLES)
    if snap is None:
        return None
    return snap, spark.conf.get("spark.sql.ansi.enabled", None)


def _kept_frame(spark, sf_dir, page, key, build) -> DataFrame:
    """A local frame over the rows kept under ``(sf_dir, *key)``,
    collecting ``build()`` in the JVM first when none are kept."""
    key = (sf_dir, *key)
    with _LOCK:
        hit = _KEPT.get(key)
        if hit is not None:
            _KEPT.move_to_end(key)
    if hit is None:
        jdf = build()._jdf
        hit = (jdf.collectAsList(), jdf.schema())
        with _LOCK:
            # a call that saw a newer snapshot meanwhile owns the store
            if _PAGE_KEYS.get(sf_dir) == page:
                _KEPT[key] = hit
                while len(_KEPT) > _MAX_ENTRIES:
                    _KEPT.popitem(last=False)
    return DataFrame(spark._jsparkSession.createDataFrame(*hit), spark)


def dashboard_payload(
    spark: SparkSession,
    sf_dir: str,
    d1: str | None = None,
    d2: str | None = None,
) -> dict[str, DataFrame]:
    """Every frame of the dashboard page for one (d1, d2) window.

    When either bound is missing it defaults the way the reference
    sidebar initializes (app.py:124-126): the LAST 30 DAYS of data —
    d2 from the data's max order date, d1 = max(min_d, max_d − 30d)
    — so a user comparing default pages sees the same numbers.

    Frames not kept under this key are materialized here, so the
    call runs the page's Spark jobs and every returned frame is local;
    a call whose key is all kept runs none. The key, eviction and the
    blind spot are in the module docstring's Scale note. When the
    tables cannot be stat'ed from the driver, the frames are lazy and
    only the default window's bounds are collected here.
    """
    page = _page_key(spark, sf_dir)
    if page is not None:
        with _LOCK:
            if _PAGE_KEYS.get(sf_dir) != page:
                _PAGE_KEYS[sf_dir] = page
                for k in [k for k in _KEPT if k[0] == sf_dir]:
                    del _KEPT[k]

    def frame(name, part, build):
        if page is None:
            return build()
        return _kept_frame(spark, sf_dir, page, (name, part), build)

    bounds_frame = frame(
        "date_bounds", _utc_today(), lambda: date_bounds(spark, sf_dir)
    )
    if d1 is None or d2 is None:
        row = bounds_frame.first()
        if d2 is None:
            d2 = row["max_d"]
        else:
            # normalize BEFORE the lexicographic clamp: fromisoformat
            # accepts non-canonical forms ('19900101') whose raw text
            # sorts wrongly against ISO dates ('-' < '0'), which would
            # recreate the inverted-empty-window this branch prevents
            d2 = date.fromisoformat(d2).isoformat()
        if d1 is None:
            # anchor the 30-day default to the EFFECTIVE d2 (caller-
            # provided or data max), never past it — else an explicit
            # early d2 would produce an inverted, empty window
            back30 = (
                date.fromisoformat(d2) - timedelta(days=30)
            ).isoformat()
            d1 = min(max(row["min_d"], back30), d2)
        if page is None:
            # the bounds were just materialized for the defaults — reuse
            # them as literals so a caller collecting the payload's
            # date_bounds frame does not pay the min/max orders scan a
            # SECOND time. Explicit string casts: date_bounds' columns
            # are strings, and F.lit(None) would otherwise type these
            # VOID, silently changing the frame's schema
            bounds_frame = spark.range(1).select(
                F.lit(row["min_d"]).cast("string").alias("min_d"),
                F.lit(row["max_d"]).cast("string").alias("max_d"),
            )
    window = tuple(date.fromisoformat(d).isoformat() for d in (d1, d2))
    out = {"date_bounds": bounds_frame}
    for name, fn in _WINDOWED.items():
        out[name] = frame(
            name,
            window,
            lambda fn=fn: fn(spark, sf_dir, d1=window[0], d2=window[1]),
        )
    out["cohort_retention"] = frame(
        "cohort_retention", None, lambda: cohort_retention(spark, sf_dir)
    )
    return out


# One numeric column per frame that summarizes its values; None means
# the frame is string-only and contributes row count alone.
_DIGEST_COL = {
    "date_bounds": None,
    "kpis": "net_after_refunds",
    "revenue_timeseries": "net",
    "top_products": "revenue",
    "category_mix": "revenue",
    "geo_rollup": "net",
    "cohort_retention": "n_orders",
}


def dashboard_digest(
    spark: SparkSession,
    sf_dir: str,
    d1: str | None = None,
    d2: str | None = None,
) -> DataFrame:
    """One-frame verification surface for ``dashboard_payload``: a row
    per payload frame with its row count and a value digest
    (sum of the frame's headline numeric column, accumulated in
    DECIMAL(28,6) so the fold is exact and order-independent — a
    straight double sum would be partitioning-dependent).

    This exercises the full facade — default-bounds resolution
    included — while returning a single DataFrame the correctness
    harness can hash against a SQL oracle. Each frame digest is an
    independent single-row aggregate and the union is 7 rows. Over
    kept rows (the module's Scale note) those aggregates read only the
    local frames, so past materializing the page the digest's jobs
    never scan a table; over lazy frames it costs what collecting the
    page would.
    """
    payload = dashboard_payload(spark, sf_dir, d1, d2)
    parts = []
    for name, frame in payload.items():
        col = _DIGEST_COL[name]
        if col is None:
            digest = F.lit(0.0)
        else:
            digest = F.coalesce(
                F.sum(F.col(col).cast("decimal(28,6)")),
                F.lit(0).cast("decimal(38,6)"),
            ).cast("double")
        parts.append(
            frame.agg(
                F.count(F.lit(1)).alias("n_rows"), digest.alias("digest")
            ).select(F.lit(name).alias("frame"), "n_rows", "digest")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
