"""Category enrichment: item rows gain a product category snapshot.

Re-expresses ``/root/reference/src/etl/transform/enrich.py:5-22``
(``enrich_items_with_categories``: per-row dict lookup into a fetched
``{product_id: product}`` map, joining category names with ``" | "``).

Spark-first: the product dimension is a DataFrame and the "lookup" is
a broadcast hash join — no driver-side map, no Python in the loop.
At 100 TB the items fact streams through executors while the product
dim (always orders of magnitude smaller) ships once per executor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_items_with_categories(items: DataFrame, part: DataFrame) -> DataFrame:
    """Left-join the product dim; NULL category when product unknown
    (the reference leaves ``category_snapshot = None`` when the lookup
    misses, ``enrich.py:14-17``)."""
    cats = part.select(
        F.col("p_partkey").alias("product_id"),
        F.col("p_type").alias("category_snapshot"),
        F.col("p_brand").alias("brand"),
    )
    # no F.broadcast hint: part GROWS with SF (200k rows/SF — larger
    # than customer, whose forced broadcasts were removed for the
    # 8 GB ceiling); AQE broadcasts it whenever it actually fits
    return items.join(cats, "product_id", "left")


def re_enrich_missing_categories(
    items: DataFrame, part: DataFrame, force_all: bool = False
) -> DataFrame:
    """Targeted re-enrichment: fill ``category_snapshot`` where it is
    NULL/blank, preserving existing snapshots — or, with
    ``force_all=True``, overwrite EVERY row's snapshot from the fresh
    dim (the ``--force-enrich-all`` branch of the reference runner,
    ``/root/reference/src/run.py:54-66``: the UPDATE applies
    unconditionally to every row whose product is in the fetched map,
    including setting NULL when the product no longer resolves).

    Re-expresses ``/root/reference/src/tools/re_enrich_categories.py``
    (SELECT DISTINCT missing ids → fetch → UPDATE via join).
    Spark-first: the UPDATE-via-join becomes a broadcast left join +
    conditional — the fact table streams through once, only rows the
    mode selects take the new value. The distinct-missing-ids probe
    the reference does first is unnecessary here: the join is against
    the (broadcast) dim anyway, and Catalyst prunes the dim columns
    to the one needed. Rows with a NULL ``product_id`` never match the
    reference's UPDATE join and are left untouched in both modes.
    """
    fresh = part.select(
        F.col("p_partkey").alias("product_id"),
        F.col("p_type").alias("_fresh"),
    )
    return refresh_categories(items, fresh, force_all)


def missing_snapshot() -> F.Column:
    """A row whose ``category_snapshot`` is NULL or blank: the rows a
    missing-only refresh selects."""
    return F.col("category_snapshot").isNull() | (
        F.trim(F.col("category_snapshot")) == ""
    )


def refresh_categories(
    items: DataFrame, fresh: DataFrame, force_all: bool
) -> DataFrame:
    """The UPDATE rule of a category refresh: left-join ``fresh``
    ``(product_id, _fresh)`` onto ``items`` and take ``_fresh`` as the
    ``category_snapshot`` of every row the mode selects — a row with a
    NULL/blank snapshot, or with ``force_all`` every row — keeping the
    old snapshot elsewhere. A row with a NULL ``product_id`` is never
    selected: the reference's UPDATE join on product_id never matches
    NULL, so overwriting its snapshot here would drift. The caller
    picks the join hint by passing ``fresh`` hinted or not."""
    take_fresh = F.col("product_id").isNotNull()
    if not force_all:
        take_fresh &= missing_snapshot()
    return (
        items.join(fresh, "product_id", "left")
        .withColumn(
            "category_snapshot",
            F.when(take_fresh, F.col("_fresh")).otherwise(
                F.col("category_snapshot")
            ),
        )
        .drop("_fresh")
    )
