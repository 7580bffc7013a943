"""Graph algorithms over relationship tables: co-purchase edges and
PageRank centrality.

The reference's dashboard ranks products by revenue
(``dashboard/app.py:64-81``); a recommendation surface wants the
*structurally* central products of the co-purchase graph instead —
the parts whose removal disconnects the most purchase behavior.
PageRank is the public textbook answer (Page et al., 1999).

Spark-first iterative shape, same discipline as the connected-
components loop in ``dedup.py``: the per-round work is ONE keyed
join + ONE aggregation on the edge list (O(edges) per round), every
materialized round is localCheckpointed so neither lineage nor the
codegen'd plan grows, and the frame is coalesced to cluster width so
per-task overhead doesn't dominate small active frames. No
driver-side data beyond the node count (a scalar) ever moves.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.frames import local_checkpoint, pin, release

#: pagerank truncates lineage every this many rounds, not every
#: round: unlike the components loop there is no per-round
#: convergence count forcing materialization, and a few-round
#: join+agg plan is still small, so batching checkpoints trades
#: bounded plan growth for ~1 fewer job per skipped round (r12 A/B at
#: sf0.1: every-5 beat every-3 by ~11% median, and lazy/no-AQE
#: variants were 1.4-2.5x WORSE — AQE's per-round partition
#: coalescing is load-bearing on the tiny per-round frames, so the
#: loop keeps it on)
PAGERANK_CKPT_EVERY = 5


def copurchase_edges(lineitem: DataFrame, min_orders: int = 2) -> DataFrame:
    """Undirected co-purchase edges between parts: an edge (a, b)
    with weight = number of orders containing both, kept when that
    count reaches ``min_orders`` (noise floor).

    Same scale shape as ``basket_pairs``: ONE (order-keyed) shuffle of
    the lineitem projection, then a per-ORDER pair join whose fan-out
    is C(basket, 2) — a basket-sized constant, never part×part.
    """
    # li feeds both join sides UNPINNED on purpose: a checkpoint
    # pin measured 1.12x SLOWER here (5.86 vs 5.25 s median at sf0.1,
    # r9) — the distinct's exchange is reused by Spark across the two
    # consumers, so the pin only added a materialization barrier.
    #
    # ONE exchange instead of three (r13, guide §2.4): repartition by
    # l_orderkey FIRST, then dedupe — HashPartitioning(o) satisfies
    # the dedupe's ClusteredDistribution((o, p)) (a subset of the
    # grouping keys), so the distinct runs exchange-free, and BOTH
    # sides of the per-order self-join are already co-partitioned on
    # o, so the join adds no exchange either. The old shape (distinct
    # first) exchanged on (o, p) and then re-exchanged both join
    # sides on o — two extra edge-sized shuffles. Identical edges
    # (deduping under a different partitioning); interleaved A/B on
    # the 10x sf1 replica: 10.87 s -> 3.54 s median for the edges
    # build (3.1x).
    li = (
        lineitem.select("l_orderkey", "l_partkey")
        .repartition("l_orderkey")
        .dropDuplicates(["l_orderkey", "l_partkey"])
    )
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("dst"))
    return (
        a.join(b, "o")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
        .filter(F.col("weight") >= min_orders)
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    n_iter: int = 15,
) -> DataFrame:
    """PageRank over an undirected edge list (edges are symmetrized;
    weights are ignored — classic uniform-split PageRank): rank_v =
    (1−d)/N + d · Σ_{u→v} rank_u / deg_u, iterated ``n_iter`` rounds
    from the uniform vector.

    Every node in the edge list has degree ≥ 1 after symmetrization,
    so there are no dangling nodes and total rank mass stays 1 (up
    to float error — asserted in tests). Nodes with no edges at all
    are out of scope by definition of the input.

    Per round: one hash join of the static (src, dst, deg) frame
    with the current rank vector + one groupBy(dst) sum — O(edges)
    shuffled rows, independent of round count. Lineage is truncated
    every ``PAGERANK_CKPT_EVERY`` rounds and after the last. Float
    sums make the low-order bits partitioning-dependent, so this is
    verified against a dense power-iteration oracle in pytest (1e-9
    tolerance), not a SQL hash — the driver records a rows-only
    check.
    """
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # deg has THREE consumers (the out_edges join, the n count, the
    # uniform rank init) — a lazy checkpoint materializes the
    # node-sized aggregate once instead of re-running the symmetrize
    # + groupBy per consumer
    deg = (
        sym.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .transform(local_checkpoint, eager=False)
    )
    out_edges = pin(sym.join(deg, "src"), StorageLevel.MEMORY_AND_DISK_DESER)
    n = deg.count()  # scalar: the only driver-side value
    spark = edges.sparkSession
    if n == 0:  # empty graph: no nodes, so no 1/n mass to spread
        release(out_edges)
        release(deg)
        return edges.select(F.col("src").alias("node")).limit(0).withColumn(
            "rank", F.lit(0.0)
        )
    par = spark.sparkContext.defaultParallelism
    ranks = (
        deg.select("src", F.lit(1.0 / n).alias("rank"))
        .coalesce(par)
        .transform(local_checkpoint)
    )
    base = 1.0 - damping
    held = ranks  # the last checkpointed round, which the loop reads
    for i in range(n_iter):
        contribs = out_edges.join(ranks, "src").select(
            F.col("dst").alias("src"),
            (F.col("rank") / F.col("deg")).alias("c"),
        )
        ranks = (
            contribs.groupBy("src")
            .agg(
                (F.lit(base / n) + F.lit(damping) * F.sum("c")).alias("rank")
            )
            .coalesce(par)
        )
        if (i + 1) % PAGERANK_CKPT_EVERY == 0 or i == n_iter - 1:
            ranks = local_checkpoint(ranks)
            # the round just materialized replaces the one it read
            release(held)
            held = ranks
    release(out_edges)
    release(deg)
    return ranks.select(F.col("src").alias("node"), "rank")


def part_pagerank(
    spark: SparkSession, sf_dir: str, min_orders: int = 2
) -> DataFrame:
    """Driver surface: PageRank centrality of parts in the
    co-purchase graph, rank rounded to 9 dp for display."""
    from ..catalog import load_table

    edges = copurchase_edges(
        load_table(spark, sf_dir, "lineitem"), min_orders=min_orders
    )
    pr = pagerank(edges)
    return pr.select("node", F.round("rank", 9).alias("rank"))
