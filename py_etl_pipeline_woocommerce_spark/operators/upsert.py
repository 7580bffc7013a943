"""Upsert (delete+insert) semantics, Spark-first.

Re-expresses ``/root/reference/src/etl/load/duckdb_client.py:55-75``:
``DELETE FROM fct WHERE order_id IN (batch keys)`` then ``INSERT`` —
i.e. the incoming batch fully replaces any existing rows sharing its
keys.

Two strategies:

- ``upsert_df``: pure-DataFrame anti-join ∪ batch. The batch is
  usually tiny relative to the table, so the anti-join broadcasts the
  batch keys — one table scan, no table-wide shuffle.
- ``upsert_partitioned_parquet``: dynamic partition overwrite —
  at 100 TB the table is date-partitioned and the batch only rewrites
  partitions it touches (the Spark-native equivalent of the
  reference's keyed DELETE at warehouse scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def upsert_df(
    existing: DataFrame,
    batch: DataFrame,
    keys: list[str],
    delete_keys: DataFrame | None = None,
) -> DataFrame:
    """Rows of ``existing`` whose key is NOT in ``batch``, plus all of
    ``batch`` (exact delete+insert semantics, duckdb_client.py:61-66).
    ``delete_keys`` WIDENS the delete set beyond the batch's own keys
    (the order-grain item upsert: an extracted order with zero
    remaining line items must still delete its old rows) — widens,
    never replaces: a delete_keys frame missing some batch key must
    not leave that key's old rows alongside its new ones."""
    batch_keys = (
        batch.select(*keys).distinct()
        if delete_keys is None
        else batch.select(*keys)
        .unionByName(delete_keys.select(*keys))
        .distinct()
    )
    # no forced broadcast: a backfill batch grows with the table, and
    # the hint would bypass the 8 GB ceiling (the repo's growing-input
    # rule); AQE still broadcasts genuinely drop-sized key sets
    kept = existing.join(batch_keys, keys, "left_anti")
    return kept.unionByName(batch)


def upsert_partitioned_parquet(
    batch: DataFrame, path: str, partition_col: str
) -> None:
    """Replace only the partitions present in the batch. The dynamic
    overwrite mode rides as a WRITER option (below), which takes
    precedence over any session conf — no session setup needed."""
    (
        batch.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )
