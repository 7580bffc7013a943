"""Frame lifetime (functions/frames.py): a scope releases what was
pinned or checkpointed inside it, every headline query run inside a
scope leaves no persistent RDD behind, and no package code pins a
frame except through the helpers."""

from __future__ import annotations

import os
import re

import pytest
from conftest import pinned_ids

from py_etl_pipeline_woocommerce_spark.functions import frames

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "py_etl_pipeline_woocommerce_spark",
)


def test_scope_releases_pins_and_checkpoints(spark):
    df = spark.range(100)
    before = pinned_ids(spark)
    with frames.scope():
        p = frames.pin(df.selectExpr("id * 2 AS v"))
        c = frames.local_checkpoint(df.selectExpr("id + 1 AS v"))
        assert p.count() == c.count() == 100
        assert len(pinned_ids(spark) - before) == 2
    assert not p.is_cached
    assert pinned_ids(spark) - before == set()


def test_scope_nests_and_release_deregisters(spark):
    df = spark.range(10)
    before = pinned_ids(spark)
    with frames.scope():
        outer = frames.local_checkpoint(df)
        with frames.scope():
            frames.local_checkpoint(df.selectExpr("id AS v"))
            early = frames.pin(df.selectExpr("id AS w"))
            early.count()
            frames.release(early)
            assert len(pinned_ids(spark) - before) == 2
        # the inner scope freed its own checkpoint, not the outer one
        assert outer.count() == 10
        assert len(pinned_ids(spark) - before) == 1
    assert pinned_ids(spark) - before == set()


def test_scope_releases_on_exception(spark):
    before = pinned_ids(spark)
    with pytest.raises(RuntimeError):
        with frames.scope():
            frames.local_checkpoint(spark.range(5))
            raise RuntimeError("boom")
    assert pinned_ids(spark) - before == set()


def test_outside_a_scope_nothing_is_registered(spark):
    c = frames.local_checkpoint(spark.range(5))
    with frames.scope():
        pass
    assert c.count() == 5  # a later scope does not reach it
    frames.release(c)


def test_iterative_loops_hold_one_round(spark):
    """pagerank and the components loop release a round's checkpoint
    once the next round is materialized, so the pins a scope holds
    after the loop do not grow with the rounds run: on a 12-node chain
    only the final round remains (before: one per round, e.g.
    pagerank's 15 rounds left 5)."""
    from pyspark.sql import functions as F

    from py_etl_pipeline_woocommerce_spark.operators import dedup, graph

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "doc_a long, doc_b long"
    )
    docs = spark.range(1, 13).withColumnRenamed("id", "doc_id")
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    for loop in (
        lambda: graph.pagerank(edges),
        lambda: dedup.dedup_clusters(docs, pairs),
    ):
        before = pinned_ids(spark)
        with frames.scope():
            out = loop()
            assert out.count() == 12
            assert len(pinned_ids(spark) - before) <= 1
        assert pinned_ids(spark) - before == set()


def test_headline_queries_leave_no_pinned_rdd(spark, sf_dir):
    """Every bench.py headline query, run inside a scope to the noop
    sink, leaves no new persistent RDD id behind."""
    import __spark_entry__ as entrymod
    import bench

    qs = entrymod.queries()
    leaks = {}
    for name in bench.HEADLINE:
        before = pinned_ids(spark)
        with frames.scope():
            qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        new = pinned_ids(spark) - before
        if new:
            leaks[name] = sorted(new)
    assert not leaks, f"{len(leaks)} queries left pinned RDDs: {leaks}"


#: calls that pin a frame outside ``functions/frames.py``, and the
#: out-parameter the scope replaced
_BYPASS = re.compile(
    r"\.persist\(|\.cache\(\)|\.localCheckpoint\(|persisted_frame[s]"
)


def test_no_pin_bypasses_the_scope():
    hits = []
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path.endswith(
                os.path.join("functions", "frames.py")
            ):
                continue
            with open(path, encoding="utf-8") as fh:
                for i, line in enumerate(fh, 1):
                    if _BYPASS.search(line):
                        hits.append(f"{os.path.relpath(path, PKG)}:{i}: {line.strip()}")
    assert not hits, "pin through functions/frames.py:\n" + "\n".join(hits)
