"""catalog.load_table reuses a table's inferred schema while its file
snapshot (size, mtime_ns, inode of every file) and the inference confs
are unchanged, and re-infers the moment either moves."""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from py_etl_pipeline_woocommerce_spark.catalog import load_table


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"catalog-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "load_table")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_warm_load_launches_no_job(spark, tmp_path):
    pq.write_table(pa.table({"o_orderkey": [1, 2, 3]}), tmp_path / "orders.parquet")
    _, cold = _jobs(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    df, warm = _jobs(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    assert cold >= 1
    assert warm == 0
    assert _rows(df) == [(1,), (2,), (3,)]
    # every call still gets fresh attribute ids: a self-join resolves
    other = load_table(spark, str(tmp_path), "orders")
    assert df.join(other, df.o_orderkey == other.o_orderkey).count() == 3


def test_in_place_rewrite_same_size_reads_new_schema(spark, tmp_path):
    path = tmp_path / "orders.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "orders").columns == ["a"]
    before = os.stat(path)
    time.sleep(0.05)
    pq.write_table(pa.table({"b": [3, 4]}), path)
    after = os.stat(path)
    # the rewrite differs from the cached snapshot only in mtime_ns
    assert (after.st_size, after.st_ino) == (before.st_size, before.st_ino)
    assert after.st_mtime_ns != before.st_mtime_ns
    df = load_table(spark, str(tmp_path), "orders")
    assert df.columns == ["b"]
    assert _rows(df) == [(3,), (4,)]


def test_partitioned_table_sees_new_partition(spark, tmp_path):
    path = str(tmp_path / "orders.parquet")
    schema = "o_orderkey long, o_month string"
    spark.createDataFrame([(1, "2024-01"), (2, "2024-02")], schema).write.partitionBy(
        "o_month"
    ).parquet(path)
    first = load_table(spark, str(tmp_path), "orders")
    assert _rows(first.select("o_orderkey", "o_month")) == [(1, "2024-01"), (2, "2024-02")]
    spark.createDataFrame([(3, "2024-03")], schema).write.mode("append").partitionBy(
        "o_month"
    ).parquet(path)
    df = load_table(spark, str(tmp_path), "orders")
    assert _rows(df.select("o_orderkey", "o_month")) == [
        (1, "2024-01"),
        (2, "2024-02"),
        (3, "2024-03"),
    ]


def test_inference_conf_flip_reinfers(spark, tmp_path):
    conf = "spark.sql.parquet.binaryAsString"
    pq.write_table(
        pa.table({"c_name": pa.array([b"x", b"y"], pa.binary())}),
        tmp_path / "customer.parquet",
    )
    old = spark.conf.get(conf, None)
    try:
        spark.conf.set(conf, "false")
        assert load_table(spark, str(tmp_path), "customer").dtypes == [("c_name", "binary")]
        spark.conf.set(conf, "true")
        df = load_table(spark, str(tmp_path), "customer")
        assert df.dtypes == [("c_name", "string")]
        assert _rows(df) == [("x",), ("y",)]
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_events_ts_stays_bigint_nanos_when_warm(spark, tmp_path, unit):
    ns = 1_704_067_200_123_456_000
    ts = pa.array([ns // (1000 if unit == "us" else 1)], pa.timestamp(unit))
    pq.write_table(pa.table({"event_id": [1], "ts": ts}), tmp_path / "events.parquet")
    load_table(spark, str(tmp_path), "events")
    df, warm = _jobs(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert warm == 0
    assert dict(df.dtypes)["ts"] == "bigint"
    assert df.first()["ts"] == ns
