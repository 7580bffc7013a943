"""Dashboard serving facade: the reference's Streamlit page assembly
(``/root/reference/src/dashboard/app.py``) minus the UI widgets.

``app.py`` builds one page from six cached queries (date bounds,
KPI header, revenue timeseries, top products, category mix, geo
rollup), the five loaders parameterized by the sidebar's (d1, d2)
date window. ``dashboard_payload`` is that assembly as an engine
surface — plus ``cohort_retention``, an ENGINE EXTENSION with no
app.py twin, deliberately unbounded (a cohort matrix windowed to 30
days would be a single column): ONE call returns every frame a
dashboard page needs, lazily — a serving layer (Streamlit, a REST
endpoint, a notebook) just collects the frames it renders.
Defaulting the window from ``date_bounds`` mirrors ``app.py``'s
sidebar initialization.

Scale note: each frame stays an independent Catalyst plan, so a
server can materialize them concurrently; the shared (d1, d2)
bounds push down (and partition-prune on month-partitioned layouts)
identically in every frame via ``_bound_orders``. A page makes 17
``load_table`` calls; once a table has been read, each resolves its
schema from the catalog's snapshot-keyed cache without a Spark job,
so building a page with an explicit window launches none.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .analytics import (
    category_mix,
    cohort_retention,
    date_bounds,
    geo_rollup,
    kpis,
    revenue_timeseries,
    top_products,
)


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
    """
    bounds_frame = date_bounds(spark, sf_dir)
    if d1 is None or d2 is None:
        from datetime import date, timedelta

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
        # the bounds were just materialized for the defaults — reuse
        # them as literals so a caller collecting the payload's
        # date_bounds frame does not pay the min/max orders scan a
        # SECOND time
        from pyspark.sql import functions as F

        # explicit string casts: date_bounds' columns are strings, and
        # F.lit(None) would otherwise type these VOID, silently
        # changing the reused frame's schema vs the real date_bounds
        bounds_frame = spark.range(1).select(
            F.lit(row["min_d"]).cast("string").alias("min_d"),
            F.lit(row["max_d"]).cast("string").alias("max_d"),
        )
    return {
        "date_bounds": bounds_frame,
        "kpis": kpis(spark, sf_dir, d1, d2),
        "revenue_timeseries": revenue_timeseries(spark, sf_dir, d1, d2),
        "top_products": top_products(spark, sf_dir, d1=d1, d2=d2),
        "category_mix": category_mix(spark, sf_dir, d1=d1, d2=d2),
        "geo_rollup": geo_rollup(spark, sf_dir, d1=d1, d2=d2),
        "cohort_retention": cohort_retention(spark, sf_dir),
    }


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
    independent single-row aggregate; the union is 7 rows total, so
    the extra plan cost over rendering the page is nil.
    """
    payload = dashboard_payload(spark, sf_dir, d1, d2)
    from pyspark.sql import functions as F

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
