"""Skew-mitigation helpers for 100 TB joins/aggregations.

AQE's skew-join splitting (on in ``session.py``) handles most cases
at runtime; these helpers cover the two places AQE can't: skewed
*aggregation* keys (two-phase salted agg) and skewed *join* keys
where the other side must be replicated per salt.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.frames import local_checkpoint

SALT_COL = "__salt"


def add_salt(df: DataFrame, n_salts: int = 16) -> DataFrame:
    """Uniform salt from the partition-local row ordinal. A
    content-based salt maps IDENTICAL duplicate rows (millions of
    repeated bot/filler events — exactly the data that creates hot
    keys) to ONE salt, defeating the spread; the ordinal is distinct
    per row by construction. Not ``rand()``: for deterministic scans
    (parquet file splits) a retried task re-reads the same rows in
    the same order, so output is retry-stable — the same guarantee
    ``monotonically_increasing_id`` itself carries."""
    # hash of the partition-local ordinal ONLY — never the row
    # content: the ordinal already disambiguates duplicates, hashing
    # every column burns per-row CPU on wide facts for zero extra
    # uniformity, and F.hash rejects MapType columns outright (the
    # wide event tables this helper targets routinely carry maps)
    return df.withColumn(
        SALT_COL,
        F.pmod(
            F.hash(F.monotonically_increasing_id()),
            F.lit(n_salts),
        ).cast("int"),
    )


def replicate_for_salt(df: DataFrame, n_salts: int = 16) -> DataFrame:
    """Explode the build side of a skewed join: one copy per salt
    value, so ``fact ⋈ dim`` on ``keys + [SALT_COL]`` spreads a hot
    key across ``n_salts`` reducers."""
    return df.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )


def salted_join(
    fact: DataFrame, dim: DataFrame, keys: list[str], n_salts: int = 16
) -> DataFrame:
    """Skew-proof inner join: salt the fact side, replicate the dim
    side, join on keys+salt, drop the salt."""
    return (
        add_salt(fact, n_salts)
        .join(replicate_for_salt(dim, n_salts), keys + [SALT_COL])
        .drop(SALT_COL)
    )


def salted_sum(
    df: DataFrame, keys: list[str], value_col: str, n_salts: int = 16
) -> DataFrame:
    """Two-phase aggregation for skewed group keys: partial sum per
    (key, salt), then final sum per key. The first shuffle spreads a
    hot key over ``n_salts`` partitions; the second is tiny."""
    partial = (
        add_salt(df, n_salts)
        .groupBy(*keys, SALT_COL)
        .agg(F.sum(value_col).alias("__partial"))
    )
    return partial.groupBy(*keys).agg(F.sum("__partial").alias(f"sum_{value_col}"))


def hot_keys(df: DataFrame, key_col: str, topk: int = 20) -> DataFrame:
    """Skew DIAGNOSTIC: the top-``topk`` hottest values of a join or
    grouping key, with each key's row count, its share of the table,
    and the ratio to a perfectly uniform key ("5000x uniform" = this
    key alone will dominate one reducer). Run it before planning a
    big join: the output tells you whether AQE's skew split is
    enough, or the key needs `salted_join`/`salted_sum`, or the hot
    values deserve a broadcast side-channel of their own.

    One partial-aggregated shuffle on the key; the global top-k cut
    is TakeOrdered over the aggregated frame (never a full sort), the
    totals ride in a 1-row broadcast. Shares round to 6 dp and ties
    break on the key string, so the report is engine-exact.
    """
    # counts feeds BOTH the totals agg and the top-k cut; a lazy
    # checkpoint materializes the table-wide groupBy once instead of
    # once per consumer (the repo's multi-consumer device)
    counts = (
        df.groupBy(F.col(key_col).cast("string").alias("key_value"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .transform(local_checkpoint, eager=False)
    )
    totals = counts.agg(
        F.sum("n_rows").alias("_total"),
        F.count(F.lit(1)).alias("_n_keys"),
    )
    # explicit NULLS FIRST on the tie-break (the Spark asc default,
    # PINNED so the oracle can mirror it — DuckDB defaults NULLS
    # LAST, and a NULL key group tying at the cut would otherwise
    # rank differently per engine; NULL keys are often THE hot spot)
    top = counts.orderBy(
        F.col("n_rows").desc(), F.col("key_value").asc_nulls_first()
    ).limit(topk)
    w = Window.orderBy(
        F.col("n_rows").desc(), F.col("key_value").asc_nulls_first()
    )
    return (
        top.join(F.broadcast(totals))
        .select(
            "key_value",
            "n_rows",
            F.round(F.col("n_rows") / F.col("_total"), 6).alias("share"),
            # double BEFORE the multiply: bigint n_rows × n_keys
            # overflows under ANSI at exactly the table sizes this
            # diagnostic targets (1e13 rows × 1e12 keys ≫ int64)
            F.round(
                F.col("n_rows").cast("double")
                * F.col("_n_keys")
                / F.col("_total"),
                6,
            ).alias("x_uniform"),
        )
        .withColumn("key_rank", F.row_number().over(w).cast("int"))
    )


def hot_keys_approx(
    df: DataFrame, key_col: str, topk: int = 20, counters: int = 200
) -> DataFrame:
    """Approximate heavy hitters via per-partition Misra–Gries
    summaries merged downstream (Misra & Gries 1982; mergeability per
    Agarwal et al., "Mergeable Summaries") — the sketch companion to
    the exact ``hot_keys`` for when the key cardinality itself is too
    large to aggregate (raw URLs, session ids, free-text tokens at
    100 TB): shuffle volume is bounded by ``counters`` rows PER
    PARTITION, never by distinct keys.

    Each partition keeps at most ``counters`` weighted candidates;
    when full, the batch decrement subtracts the (counters+1)-largest
    weight from every counter and drops the non-positive ones —
    removing ≥ (counters+1)·m mass per decrement of m, so a
    partition's total decrement d_p ≤ n_p/(counters+1) and the merged
    global error D = Σ d_p ≤ n/(counters+1). Output counts are
    guaranteed bounds: ``est_count ≤ true ≤ est_count + err_bound``,
    and ANY key with true count > D survives into the summary
    (asserted against exact ``hot_keys`` in pytest).

    Python touches only the bounded counter maps (pandas value_counts
    per Arrow batch feeding a dict) — the scan stays Arrow-batched,
    and the merge is an ordinary integer groupBy over ≤ counters ×
    n_partitions rows.

    NULL keys (often THE hot spot — missing user_id) ride
    OUT-OF-BAND: the counter key is the pair (string form, is_null
    flag), never a reserved token, so a hostile genuine key whose
    string form looks like any encoding of NULL is counted and
    reported as itself, distinct from the NULL group (pytest pins a
    literal ``"\\x00<NULL>"`` key against genuine NULLs).
    """
    import pandas as pd

    schema = "key_value string, is_null boolean, cnt long, dec long"

    def mg(batches):
        counts: dict[tuple, int] = {}
        dec_total = 0
        for pdf in batches:
            # NOT pdf[["_k","_isnull"]].value_counts(): pandas'
            # factorize-based DataFrame grouping hashes object strings
            # as C strings, so an embedded NUL terminates the key and
            # "\x00<NULL>" COLLAPSES into "" (verified on pandas
            # 2.2.2). Series.value_counts hashes PyObjects and is
            # safe; the NULL group needs no string grouping at all —
            # it is just the flag sum.
            n_null = int(pdf["_isnull"].sum())
            if n_null:
                counts[("", True)] = counts.get(("", True), 0) + n_null
            sub = pdf.loc[~pdf["_isnull"], "_k"]
            for key, c in sub.value_counts().items():
                k2 = (key, False)
                counts[k2] = counts.get(k2, 0) + int(c)
            if len(counts) > counters:
                m = sorted(counts.values(), reverse=True)[counters]
                dec_total += m
                counts = {k: v - m for k, v in counts.items() if v - m > 0}
        yield pd.DataFrame(
            [(k, bool(isnull), v, 0) for (k, isnull), v in counts.items()]
            # the per-partition decrement sentinel: is_null stays NULL
            # so no real (key, flag) group can collide with it
            + [(None, None, 0, dec_total)],
            columns=["key_value", "is_null", "cnt", "dec"],
        )

    # NULL keys are often THE hot spot (missing user_id) and pandas
    # value_counts drops NaN — carry an OUT-OF-BAND is_null flag
    # through the Python path (the counter key is the (string, flag)
    # pair; NULL rows count under ("", true), a genuine empty string
    # under ("", false)), so the approx report counts the NULL group
    # exactly like `hot_keys` does with zero reserved-token collisions
    # summaries has TWO consumers (merged counts + the err agg); a
    # lazy checkpoint runs the Misra-Gries scan once, and its size is
    # bounded at counters x partitions rows
    summaries = (
        df.select(
            F.coalesce(F.col(key_col).cast("string"), F.lit("")).alias("_k"),
            F.col(key_col).isNull().alias("_isnull"),
        )
        .mapInPandas(mg, schema)
        .transform(local_checkpoint, eager=False)
    )
    merged = (
        summaries.filter(F.col("is_null").isNotNull())
        .groupBy("key_value", "is_null")
        .agg(F.sum("cnt").alias("est_count"))
        # decode here so the rank/tie order below sorts the DECODED
        # key exactly like exact hot_keys (NULLS FIRST on asc ties)
        .select(
            F.when(F.col("is_null"), F.lit(None).cast("string"))
            .otherwise(F.col("key_value"))
            .alias("key_value"),
            "est_count",
        )
    )
    err = summaries.agg(F.sum("dec").alias("err_bound"))
    top = merged.orderBy(F.col("est_count").desc(), "key_value").limit(topk)
    w = Window.orderBy(F.col("est_count").desc(), "key_value")
    return (
        top.join(F.broadcast(err))
        .withColumn("key_rank", F.row_number().over(w))
        .select("key_rank", "key_value", "est_count", "err_bound")
    )
