"""Testdata catalog: load the driver's star schema and register views.

Tables (TPC-H-ish + events/documents/embeddings) live as one parquet
file per table under ``/root/testdata/sf{SF}/``. At 100 TB each
"file" would be a partitioned parquet/iceberg dataset; everything here
goes through ``spark.read.parquet`` so the path can be a directory of
thousands of files without code changes.

Schema reuse: a bare ``spark.read.parquet`` runs one Spark job per call
just to re-read footers, and a dashboard page loads the same six
tables 17 times. ``load_table`` therefore infers a table's schema once
per file snapshot and hands it back to the reader
(``spark.read.schema(cached).parquet(path)``), which skips inference
and launches no job. The snapshot key is the file signature --
``(size, mtime_ns, inode)`` of a single file, or the sorted
``(relpath, size, mtime_ns, inode)`` of every file under a directory
(partitioned layouts) -- plus the session confs that shape inference
(``_INFERENCE_CONFS``). Listing and partition discovery still run on
every call, and every call still gets fresh attribute ids. One entry
is kept per path; a new key replaces the old one. A path the driver
cannot ``os.stat`` (a non-``file:`` URI, or a session whose
``fs.defaultFS`` is not local) is inferred on every call, as before.
Blind spot: an in-place rewrite that leaves size, nanosecond mtime
and inode all unchanged reuses the old schema. ``tables_snapshot``
shares this key with ``plans/dashboard.py``, which keeps page rows
under it, so the same rewrite also serves old dashboard rows.
"""

from __future__ import annotations

import os
import stat
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to FORCE-broadcast at ANY scale
#: factor: region=5 rows and nation=25 rows, constant by the schema.
#: part/supplier/customer GROW with SF (200k/10k/150k rows per SF) —
#: dim-sized relative to the facts, but a forced F.broadcast hint on
#: them bypasses the 8 GB broadcast ceiling and OOMs at large SF, so
#: they are joined UNHINTED and AQE broadcasts them whenever they
#: actually fit (which at small/mid SF they always do). ENFORCED by
#: tests/test_plan_guards.py::test_constant_dims_never_shuffle, which
#: fails any driver query whose plan hash-exchanges these dims.
BROADCAST_DIMS = ("region", "nation")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Session confs that change what parquet schema inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

#: path -> (snapshot key, inferred schema); one entry per path.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _snapshot_key(spark: SparkSession, path: str) -> tuple | None:
    """The file snapshot of ``path`` plus the inference confs, or None
    when the driver cannot stat the path the way Spark reads it."""
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return None
    if not url.scheme:
        default_fs = spark.conf.get("fs.defaultFS", None) or (
            spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
        )
        if default_fs and not default_fs.startswith("file:"):
            return None
    local = url.path
    try:
        st = os.stat(local)
        if not stat.S_ISDIR(st.st_mode):
            files = [("", st.st_size, st.st_mtime_ns, st.st_ino)]
        else:
            files = []
            for root, _, names in os.walk(local, followlinks=True):
                for n in names:
                    f = os.path.join(root, n)
                    fs = os.stat(f)
                    files.append(
                        (os.path.relpath(f, local), fs.st_size, fs.st_mtime_ns, fs.st_ino)
                    )
            files.sort()
    except OSError:
        return None
    confs = tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS)
    return tuple(files), confs


def tables_snapshot(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...]
) -> tuple | None:
    """The ``_snapshot_key`` of each named table under ``sf_dir``, or
    None when any of them is None."""
    keys = tuple(_snapshot_key(spark, table_path(sf_dir, n)) for n in names)
    return None if None in keys else keys


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, reusing the inferred schema while
    the path's snapshot key is unchanged (module docstring)."""
    key = _snapshot_key(spark, path)
    hit = _SCHEMAS.get(path)
    if key is not None and hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        _SCHEMAS[path] = (key, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table, normalized to the engine's contracts.

    SESSION-GLOBAL SIDE EFFECTS, by design: the session timezone is
    pinned to UTC on every call (timestamp literals and date_format
    must be timezone-stable regardless of how the host session was
    built — the oracle-parity contract), and loading ``events`` sets
    ``spark.sql.legacy.parquet.nanosAsLong`` for the session (there
    is no per-read option; TIMESTAMP(NANOS) files cannot be read
    without it). A host application embedding the engine in a session
    whose timezone or nanos semantics it relies on should use a
    separate SparkSession (``SparkSession.newSession()`` shares the
    cluster but isolates runtime conf).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Timestamp literals in filters and date_format() must be
    # timezone-stable regardless of how the host session was built.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # The events.ts physical type has varied across testdata
        # generations: TIMESTAMP(NANOS) (no native Spark type — read
        # as BIGINT nanoseconds via nanosAsLong) or TIMESTAMP(MICROS)
        # (arrives as TIMESTAMP_NTZ). Downstream operators contract on
        # BIGINT *nanoseconds*, so normalize either form here.
        # Session-level runtime conf so externally-built sessions (the
        # driver's) work too.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, table_path(sf_dir, name))
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type.startswith("timestamp"):
            from pyspark.sql import functions as F

            df = df.withColumn(
                "ts",
                F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000),
            )
        return df
    return _read_parquet(spark, table_path(sf_dir, name))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each table as a temp view (for the SQL surface)."""
    dfs = load_all(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def register_model_views(
    spark: SparkSession, sf_dir: str
) -> dict[str, DataFrame]:
    """SQL surface parity with the reference's DuckDB warehouse: on
    top of the base-table views, register the derived model as temp
    views — ``fct_orders`` / ``fct_order_items`` (the two tables
    ``ddl.sql`` defines) plus the six dashboard marts — so a SQL user
    can ``spark.sql("SELECT … FROM fct_orders WHERE …")`` exactly as
    they query the reference warehouse today. Views are lazy logical
    plans: every query through them gets full Catalyst
    pushdown/pruning, and a filter on a view prunes the underlying
    parquet scan like the hand-built DataFrame would.

    Cost note: registration ITSELF performs ~20 base-table loads
    (each mart builder calls load_table, and a parquet load eagerly
    lists files). Footers are read only once per table snapshot (the
    module docstring's schema reuse), so the repeat loads cost a
    listing each and no Spark job — trivial here but visible on a lake
    with thousands of files per table; if that ever matters, thread
    ``load_all``'s dict through the mart builders instead of the
    (spark, sf_dir) pair.
    """
    from .plans import analytics, woo_model

    dfs = register_views(spark, sf_dir)
    model = {
        "fct_orders": woo_model.fct_orders(spark, sf_dir),
        "fct_order_items": woo_model.fct_order_items(spark, sf_dir),
        "mart_date_bounds": analytics.date_bounds(spark, sf_dir),
        "mart_kpis": analytics.kpis(spark, sf_dir),
        "mart_revenue_timeseries": analytics.revenue_timeseries(spark, sf_dir),
        "mart_top_products": analytics.top_products(spark, sf_dir),
        "mart_category_mix": analytics.category_mix(spark, sf_dir),
        "mart_geo_rollup": analytics.geo_rollup(spark, sf_dir),
    }
    for name, df in model.items():
        df.createOrReplaceTempView(name)
    dfs.update(model)
    return dfs
