"""Warehouse-maintenance operators: SCD2 dimension history, snapshot
diffing, and data-quality summaries.

The reference refreshes its ``category_snapshot`` in place
(``tools/re_enrich_categories.py``) — at warehouse scale the same
need becomes slowly-changing-dimension history (keep every version
with validity ranges), snapshot comparison (what changed between two
loads), and load-gate quality checks. All three are single-pass
DataFrame plans with exact integer/hash semantics, so each has an
ANSI-SQL oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import frames
from ..functions.frames import local_checkpoint
from ..functions.timeutil import TS_US_FLOOR

def _row_fingerprint(cols: list[str], prefix: str = "") -> "F.Column":
    """md5 over tracked columns, each column hashed SEPARATELY first.

    A separator-joined concat can collide on real data (any separator
    byte may occur inside string values: ('a\\x1f', 'b') vs
    ('a', '\\x1fb')), and concat_ws silently DROPS null arguments so
    NULL↔value transitions vanish. Per-column md5 gives every value a
    fixed 32-char hex token and NULL a 1-char '-' marker; hex never
    contains '-', so the token stream is uniquely decodable and the
    outer md5 is injective over the column tuple."""
    return F.md5(
        F.concat(
            *[
                F.coalesce(
                    F.md5(F.col(prefix + c).cast("string")), F.lit("-")
                )
                for c in cols
            ]
        )
    )


def scd2_apply(
    current: DataFrame,
    updates: DataFrame,
    key: str,
    tracked: list[str],
    batch_version: int,
) -> DataFrame:
    """Apply an update batch to an SCD2 dimension table.

    ``current`` rows carry (key, tracked..., valid_from, valid_to,
    is_current) with open rows at ``valid_to = NULL``. For each key in
    ``updates`` whose tracked values differ from the open row (or that
    is brand new), the open row closes at ``batch_version`` and a new
    open row appends; unchanged keys and already-closed history pass
    through untouched.

    Scale shape: ONE key-hash shuffle joining open rows to the update
    batch (broadcast when the batch is drop-sized — the usual case);
    closed history is a pass-through union that never shuffles.
    Change detection compares a concat-hash of tracked columns —
    one string md5 per row, engine-portable, NULL-safe via sentinel
    substitution (a NULL column value is distinct from every string).
    """
    fp = _row_fingerprint(tracked)
    open_rows = current.filter(F.col("is_current"))
    closed_rows = current.filter(~F.col("is_current"))
    # a batch carrying one key TWICE would fan the full-outer join out
    # and write duplicate closed rows plus multiple open rows per key
    # — corruption every later batch compounds. Guard lazily (a
    # batch-sized window count) and raise loudly instead.
    wk = Window.partitionBy(key)
    upd = (
        updates.withColumn("_kn", F.count(F.lit(1)).over(wk))
        .select(
            F.when(
                F.col("_kn") > 1,
                F.raise_error(
                    F.concat(
                        F.lit("scd2_apply: duplicate key in updates "
                              "batch: "),
                        F.col(key).cast("string"),
                    )
                ),
            )
            # NULL keys fail loudly too: the full-outer equi-join
            # never matches NULL to NULL, so a NULL-key update would
            # keep the existing open row AND open a second concurrent
            # one — corruption every later batch compounds
            .when(
                F.col(key).isNull(),
                F.raise_error(
                    F.lit("scd2_apply: NULL key in updates batch")
                ),
            )
            .otherwise(F.col(key)).alias(key),
            *[F.col(c).alias(f"_new_{c}") for c in tracked],
        )
        .withColumn("_new_fp", _row_fingerprint(tracked, prefix="_new_"))
    )
    # joined feeds THREE filter branches — pin or the open⋈batch join
    # and fingerprint hashing re-run per branch
    joined = (
        open_rows.withColumn("_fp", fp)
        .join(upd, key, "full_outer")
        .transform(local_checkpoint, eager=False)
    )
    # rows whose key has an update with different tracked values
    changed = F.col("_new_fp").isNotNull() & (
        F.col("_fp").isNull() | (F.col("_fp") != F.col("_new_fp"))
    )
    # surviving open rows: no update, or update identical
    keep_open = joined.filter(F.col("_fp").isNotNull() & ~changed).select(
        key, *tracked, "valid_from", "valid_to", "is_current"
    )
    closed_now = joined.filter(F.col("_fp").isNotNull() & changed).select(
        key,
        *tracked,
        "valid_from",
        F.lit(batch_version).alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    opened_now = joined.filter(changed).select(
        key,
        *[F.col(f"_new_{c}").alias(c) for c in tracked],
        F.lit(batch_version).alias("valid_from"),
        F.lit(None).cast("int").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return (
        closed_rows.select(key, *tracked, "valid_from", "valid_to", "is_current")
        .unionByName(keep_open)
        .unionByName(closed_now)
        .unionByName(opened_now)
    )


def snapshot_diff(
    before: DataFrame, after: DataFrame, key: str, compare: list[str]
) -> DataFrame:
    """Row-level diff of two table versions: per key, ``added`` /
    ``removed`` / ``changed`` (unchanged keys are omitted).

    One full-outer key join; the value comparison is a concat-hash per
    side so wide rows compare as one string equality. Output carries
    the change kind plus both fingerprints for audit. Linear, one
    shuffle, no skew (keys are unique per side).
    """
    def _guarded(df: DataFrame, side: str, alias: str) -> DataFrame:
        # a key appearing twice on either side fans the full-outer
        # join out and the audit report itself becomes corrupt —
        # exactly what a diff tool runs to catch, so fail loudly
        # (scd2_apply's window-count guard, applied to both sides)
        wk = Window.partitionBy(key)
        return df.withColumn("_kn", F.count(F.lit(1)).over(wk)).select(
            F.when(
                F.col("_kn") > 1,
                F.raise_error(
                    F.concat(
                        F.lit(f"snapshot_diff: duplicate key in "
                              f"{side} snapshot: "),
                        F.col(key).cast("string"),
                    )
                ),
            ).otherwise(F.col(key)).alias(key),
            _row_fingerprint(compare).alias(alias),
        )

    b = _guarded(before, "before", "fp_before")
    a = _guarded(after, "after", "fp_after")
    j = b.join(a, key, "full_outer")
    kind = (
        F.when(F.col("fp_before").isNull(), F.lit("added"))
        .when(F.col("fp_after").isNull(), F.lit("removed"))
        .when(F.col("fp_before") != F.col("fp_after"), F.lit("changed"))
    )
    return (
        j.withColumn("change", kind)
        .filter(F.col("change").isNotNull())
        .select(key, "change", "fp_before", "fp_after")
    )


def dq_summary(
    df: DataFrame, key: str, not_null: list[str], non_negative: list[str]
) -> DataFrame:
    """Load-gate data-quality summary in ONE conditional aggregate:
    row count, duplicate-key count, per-column null counts, per-column
    negative counts — the checks a warehouse runs before publishing a
    batch. All counters are integers (engine-exact); the whole check
    is a single scan plus one tiny key-duplicate aggregate.
    """
    dup = (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .agg(
            F.coalesce(F.sum(F.col("_n") - 1), F.lit(0)).alias("dup_key_rows")
        )
    )
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in not_null:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"nulls_{c}")
        )
    for c in non_negative:
        aggs.append(
            F.sum(F.when(F.col(c) < 0, 1).otherwise(0)).alias(f"negative_{c}")
        )
    return df.agg(*aggs).join(F.broadcast(dup))


def dq_check(df: DataFrame, rules: dict[str, str]) -> DataFrame:
    """Declarative rule-based data-quality gate: ``rules`` maps rule
    name → SQL boolean expression that must HOLD for every row
    (``"o_totalprice >= 0"``). Output is one row per rule with its
    violation count against the total — the publish/abort signal of a
    warehouse load, configurable without code changes (the
    generalization of the fixed-column ``dq_summary``).

    ONE conditional-aggregate scan evaluates every rule (a NULL
    predicate result counts as a violation — unknown is not a pass);
    the per-rule rows come from unpivoting the 1-row aggregate, so
    rule count never multiplies scans. Linear, no shuffle beyond the
    final 1-row partial-agg merge.

    Rule NAMES are interpolated into the ``stack()`` literal list, so
    quotes are SQL-escaped; an empty rules dict is a caller bug
    (``stack(0)`` is invalid SQL) and raises a clear ValueError.
    """
    if not rules:
        raise ValueError("dq_check requires at least one rule")
    names = list(rules)
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, name in enumerate(names):
        holds = F.coalesce(F.expr(rules[name]), F.lit(False))
        aggs.append(
            F.sum(F.when(~holds, 1).otherwise(0)).alias(f"_v{i}")
        )
    wide = df.agg(*aggs)
    pairs = ", ".join(
        "'{}', _v{}".format(
            n.replace("\\", "\\\\").replace("'", "\\'"), i
        )
        for i, n in enumerate(names)
    )
    return (
        wide.select(
            F.col("_n").alias("n_rows"),
            F.expr(
                f"stack({len(names)}, {pairs}) AS (rule, violations)"
            ),
        )
        .select(
            "rule",
            "violations",
            "n_rows",
            (F.col("violations") == 0).alias("ok"),
        )
    )


def profile_table(df: DataFrame, exact: bool = False) -> DataFrame:
    """Generic one-pass table profiler — the per-column report a
    warehouse publishes next to every landed table (dbt-style
    profiling): rows, null count/rate, distinct count, min and max,
    one row per column.

    DEFAULTS TO ``approx_count_distinct`` (mergeable HLL — a fixed
    KB-sized sketch per column at any table size, and the single
    aggregation stays one pass with NO expand). ``exact=True``
    switches to exact multi-column distinct via Spark's single-expand
    plan — use for oracle verification (the expand multiplies the
    scan by the column count, and exact distinct state grows with
    cardinality). Same output schema either way.

    The per-column rows are projected off the single 1-row aggregate
    (union of 1-row selects — plan cost nil). Min/max normalize to
    strings by dtype: doubles through DECIMAL(28,6) (so neither
    engine prints scientific notation), timestamps through a fixed
    'yyyy-MM-dd HH:mm:ss' format, everything else a plain cast —
    each choice is engine-exact for the oracle.
    """
    nd = F.countDistinct if exact else F.approx_count_distinct
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c, t in df.dtypes:
        aggs += [
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"_nn_{c}"),
            nd(F.col(c)).alias(f"_nd_{c}"),
            F.min(F.col(c)).alias(f"_mn_{c}"),
            F.max(F.col(c)).alias(f"_mx_{c}"),
        ]
    # DELIBERATELY NOT checkpointed: the per-column union branches let
    # column pruning specialize each branch to ONE distinct aggregate.
    # Pinning the combined 1-row aggregate forces all k exact
    # count-distincts into a single plan, which Spark executes via an
    # EXPAND (input × k) — measured 3.6x SLOWER than the k pruned
    # branch scans at sf0.1 (bench 2026-08-15). The multi-consumer
    # convention applies to frames whose subtree re-execution is the
    # dominant cost; here the re-execution is what keeps each branch
    # expand-free.
    one = df.agg(*aggs)

    def _s(col, t):
        if t == "double":
            # try_cast: one NaN/Infinity/|v|>=1e22 row must not crash
            # the whole landing profile under ANSI — it renders NULL
            # (the oracle twin TRY_CASTs in lockstep)
            return col.try_cast("decimal(28,6)").cast("string")
        if t.startswith("timestamp"):
            return F.date_format(col, "yyyy-MM-dd HH:mm:ss")
        return col.cast("string")

    parts = []
    for c, t in df.dtypes:
        parts.append(
            one.select(
                F.lit(c).alias("column"),
                F.lit(t).alias("dtype"),
                F.col("_n").alias("n_rows"),
                F.col(f"_nn_{c}").alias("n_nulls"),
                F.round(F.col(f"_nn_{c}") / F.col("_n"), 6).alias(
                    "null_rate"
                ),
                F.col(f"_nd_{c}").alias("n_distinct"),
                _s(F.col(f"_mn_{c}"), t).alias("min_value"),
                _s(F.col(f"_mx_{c}"), t).alias("max_value"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def profile_drift(
    before: DataFrame, after: DataFrame, exact: bool = False
) -> DataFrame:
    """Schema/quality drift between two snapshots of the same table —
    the "did yesterday's load change the shape of this table" check a
    warehouse runs before promoting a batch: per column, row counts
    on both sides, null-rate delta, distinct-count delta, and whether
    the min/max bounds moved.

    Composes two ``profile_table`` runs (each one scan; ``exact``
    forwarded — HLL distinct by default, exact for oracle parity)
    with a FULL OUTER join on the |columns|-row profile frames — a
    column ADDED or DROPPED between snapshots (the most drastic drift
    there is) keeps its report row, with the missing side's counts
    NULL and ``bounds_changed`` true. The bounds compare is
    NULL-SAFE, so an all-NULL column on both sides reads unchanged
    (false), never NULL. The drift math never touches the data again.
    """
    b = profile_table(before, exact=exact).select(
        "column",
        F.col("dtype").alias("_dt_b"),
        F.col("n_rows").alias("n_rows_before"),
        F.col("null_rate").alias("_nr_b"),
        F.col("n_distinct").alias("_nd_b"),
        F.col("min_value").alias("_mn_b"),
        F.col("max_value").alias("_mx_b"),
    )
    a = profile_table(after, exact=exact).select(
        "column",
        F.col("dtype").alias("_dt_a"),
        F.col("n_rows").alias("n_rows_after"),
        F.col("null_rate").alias("_nr_a"),
        F.col("n_distinct").alias("_nd_a"),
        F.col("min_value").alias("_mn_a"),
        F.col("max_value").alias("_mx_a"),
    )
    return b.join(a, "column", "full_outer").select(
        "column",
        F.coalesce("_dt_a", "_dt_b").alias("dtype"),
        "n_rows_before",
        "n_rows_after",
        F.round(F.col("_nr_a") - F.col("_nr_b"), 6).alias("null_rate_delta"),
        (F.col("_nd_a") - F.col("_nd_b")).alias("n_distinct_delta"),
        # presence ORed in: an added/dropped column whose min/max are
        # NULL (all-NULL column, zero-row side) would otherwise pass
        # eqNullSafe(NULL, NULL) and read bounds_changed=false — hiding
        # the most drastic drift the report promises to surface
        (
            F.col("_dt_a").isNull()
            | F.col("_dt_b").isNull()
            | ~(
                F.col("_mn_a").eqNullSafe(F.col("_mn_b"))
                & F.col("_mx_a").eqNullSafe(F.col("_mx_b"))
            )
        ).alias("bounds_changed"),
    )


def daily_rollup_partials(events: DataFrame) -> DataFrame:
    """Mergeable daily partial aggregates per (day, event_type):
    count + exact-decimal value sum — the stored form of a
    continuous aggregate. Counts and decimal sums are ASSOCIATIVE,
    so any two partial frames merge by re-aggregation alone; no
    operator here ever needs the raw history again."""
    from ..functions.money import dec_money

    ts_us = F.expr(TS_US_FLOOR)
    day_us = 86_400_000_000
    return events.groupBy(
        (ts_us - (ts_us % day_us)).alias("day_us"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec_money("value")).alias("total_value_dec"),
    )


def rollup_merge(existing: DataFrame, batch_events: DataFrame) -> DataFrame:
    """Incremental continuous-aggregate maintenance (the
    TimescaleDB-continuous-aggregate / materialized-view-refresh
    shape): fold a new batch of raw events into a STORED daily
    rollup without rescanning history. The reference recomputes its
    dashboard aggregates from scratch each run (``dashboard/app.py``
    queries over the whole table); at 100 TB the rollup is
    maintained, not recomputed.

    ``existing`` is a previously materialized ``daily_rollup_partials``
    frame (read from the warehouse); only ``batch_events`` — the new
    drop — is scanned. Because the stored measures are associative
    partials (counts, decimal sums), the merge is a union +
    re-aggregate on (day, type): cost O(|existing rows| + |batch|),
    where the existing side is |days|×|types| AGGREGATE rows, not
    events. Late-arriving data lands in its (old) day naturally —
    no special backfill path. Parity with a full recompute over
    (history ∪ batch) is exact, not approximate (pytest-asserted;
    the driver oracle replays the same split).
    """
    batch = daily_rollup_partials(batch_events)
    cols = ["day_us", "event_type", "n_events", "total_value_dec"]
    return (
        existing.select(*cols)
        .unionByName(batch.select(*cols))
        .groupBy("day_us", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("total_value_dec").alias("total_value_dec"),
        )
    )


def _rollup_batch_frame(batch_events: DataFrame) -> DataFrame:
    """The batch projection every rollup-store merge folds in
    (staged-commit and direct alike): daily partials with the measure
    type PINNED at DECIMAL(30,2) — Spark widens decimal sums per
    plan, and letting each merge write whatever the optimizer
    inferred would drift the store schema between rounds — plus the
    month partition key via DATE arithmetic, not a timestamp render:
    this op takes caller DataFrames (never load_table, which pins the
    session to UTC), so date_format over a timestamp would shift rows
    into neighboring month= partitions under a non-UTC host session —
    and the next merge would prune the WRONG months. Epoch-day
    integer math is timezone-free."""
    return daily_rollup_partials(batch_events).select(
        "day_us",
        "event_type",
        "n_events",
        F.col("total_value_dec")
        .cast("decimal(30,2)")
        .alias("total_value_dec"),
        F.date_format(
            F.date_add(
                F.lit("1970-01-01").cast("date"),
                (F.col("day_us") / F.lit(86_400_000_000)).cast("int"),
            ),
            "yyyy-MM",
        ).alias("month"),
    )


def merge_rollup_store(
    spark, store_path: str, batch_events: DataFrame,
    batch_id: int | None = None,
) -> None:
    """Persist-side of ``rollup_merge``: fold a batch of raw events
    into an ON-DISK month-partitioned daily-rollup table, touching
    only the months the batch lands in. The existing side is read
    PRUNED to those months (a drop spans days, so this is a handful
    of directories regardless of table age), merged by partial
    re-aggregation, and dynamic-partition-overwritten — untouched
    months are never read full-width and never rewritten, the same
    contract as ``woo_flow._upsert_table``.

    Used directly for batch drops and as the body of the streaming
    ``run_stream_rollup_merge`` — the continuous aggregate is maintained by
    the identical code under both execution models. A merge runs in
    its own ``frames.scope()``, so every frame it pins is released
    before it returns and a long-running stream does not accumulate
    pinned RDDs one micro-batch at a time.
    """
    from ..functions.fsutil import fs_exists, fs_touch

    # The stored measure type is PINNED at DECIMAL(30,2): Spark's sum
    # widens decimals per plan, and letting each merge write whatever
    # the optimizer inferred would drift the parquet schema between
    # partitions written in different rounds.
    _dec = "decimal(30,2)"
    # batch-id marker + STAGED COMMIT: foreachBatch is at-least-once,
    # and a SUM fold is not idempotent — a re-delivered micro-batch
    # would double-count its events into the store permanently. The
    # merged months are first written to a SIBLING staging directory
    # (never the live store), the marker is the commit point, and
    # promotion then swaps each staged month directory into place via
    # Hadoop rename. Every crash window is covered:
    #   before the marker  -> live store untouched; replay recomputes
    #                         the merge from it and overwrites staging;
    #   after the marker   -> replay finds the marker and COMPLETES the
    #                         promotion from whatever is still staged
    #                         (months already swapped are gone from
    #                         staging, so re-promotion is idempotent).
    # This closes the double-count window the r8 marker-only scheme
    # left open. HDFS/local rename is per-directory atomic; on S3A
    # (copy+delete) replay stays correct but mid-promotion readers can
    # see a partial month — Delta/Iceberg is the production fix there.
    # All probes/markers/renames go through the Hadoop FS client
    # (fsutil) so hdfs://s3a:// stores behave like local ones.
    staged_dir = _rollup_staged_dir(store_path, batch_id)
    if batch_id is not None:
        marker = f"{store_path.rstrip('/')}/_applied/batch-{batch_id}"
        if fs_exists(spark, marker):
            # committed: finish any interrupted promotion, then no-op
            _promote_staged_months(spark, staged_dir, store_path)
            return
    # TWO consumers (the month list collect + the merge/write) — pin
    # or the batch aggregation runs twice per fold
    with frames.scope():
        batch = local_checkpoint(_rollup_batch_frame(batch_events), eager=False)
        merged = batch
        if _store_has_months(spark, store_path):
            months = [
                r[0] for r in batch.select("month").distinct().collect()
            ]
            existing = spark.read.parquet(store_path).filter(
                F.col("month").isin(months)
            )
            cols = [
                "day_us", "event_type", "n_events", "total_value_dec", "month"
            ]
            merged = (
                existing.select(*cols)
                .unionByName(batch.select(*cols))
                .groupBy("day_us", "event_type", "month")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("total_value_dec").cast(_dec).alias("total_value_dec"),
                )
                .transform(local_checkpoint)
            )
        if batch_id is None:
            # direct (non-replayed) drops keep the one-step dynamic
            # partition overwrite — there is no marker to stage against
            (
                merged.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("month")
                .parquet(store_path)
            )
        else:
            # staged commit: stage -> marker (commit point) -> promote
            merged.write.mode("overwrite").partitionBy("month").parquet(
                staged_dir
            )
            fs_touch(spark, marker)
            _promote_staged_months(spark, staged_dir, store_path)


def _rollup_staged_dir(store_path: str, batch_id: int | None) -> str:
    """Staging directory for one batch's merged months: INSIDE the
    store at ``_staged/batch-{id}`` — underscore-prefixed children are
    invisible to Spark's data-file listing, and an inside-the-store
    path works for ANY store URI (a sibling of a bucket-root store
    like ``s3a://rollups`` would mangle the authority). The store
    existence probe is month-aware (``_store_has_months``) precisely
    so staging/marker dirs never make an empty store read "present"."""
    return f"{store_path.rstrip('/')}/_staged/batch-{batch_id}"


def _promote_staged_months(spark, staged_dir: str, store_path: str) -> None:
    """Swap every ``month=`` directory still under ``staged_dir`` into
    the live store — the shared ``fsutil.promote_staged`` protocol
    (delete-target-then-rename per entry, idempotent under replay,
    S3A partial-rename safe, no-op when staging is absent)."""
    from ..functions.fsutil import promote_staged

    promote_staged(spark, staged_dir, store_path, "month=")


def _store_has_months(spark, store_path: str) -> bool:
    """True when the store holds at least one ``month=`` partition —
    the existence probe the merge path needs. A bare directory-exists
    check would read "present" once the ``_staged``/``_applied``
    bookkeeping dirs are created and then crash the pruned read on a
    data-file-less directory."""
    from ..functions.fsutil import fs_list_names

    return any(
        n.startswith("month=") for n in fs_list_names(spark, store_path)
    )


def cdc_apply(
    current: DataFrame,
    changes: DataFrame,
    key: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Apply an ordered change-data-capture feed (op ∈ I/U/D with a
    monotonic sequence) to a current-state table — the Debezium/CDC
    MERGE shape the reference's delete+insert upsert
    (``duckdb_client.py:55-75``) can't express: a key may be inserted,
    updated twice, and deleted within ONE feed, and only the net
    effect may apply.

    Net effect per key = the change with the highest (seq, op).
    Well-formed feeds have unique (key, seq); including ``op_col`` in
    the ordering makes even a malformed feed with duplicate sequence
    numbers resolve deterministically at any parallelism. A net 'D'
    removes the key; any other net op replaces/creates the row with
    the change's payload columns.

    Scale shape: ONE key shuffle of the FEED (a window over changes,
    which are drop-sized), then the same broadcast-anti-join ∪
    survivors plan as ``upsert_df`` — the current table is scanned
    once and never reshuffled.
    """
    payload = [c for c in current.columns]
    w = Window.partitionBy(key).orderBy(
        F.col(seq_col).desc(), F.col(op_col).desc()
    )
    net = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        # a NULL/unknown net op would pass `!= "D"` as NULL and the
        # key — already anti-joined out of `kept` — would silently
        # VANISH (a phantom delete). Malformed feeds must fail loudly.
        # a NULL key can neither anti-join out of `kept` nor
        # delete/replace anything — a net 'D' would silently fail to
        # delete and an I/U would duplicate. Malformed keys fail loudly
        # (same policy as the op validation below).
        .withColumn(
            key,
            F.when(
                F.col(key).isNull(),
                F.raise_error(F.lit("cdc_apply: NULL key in feed")),
            ).otherwise(F.col(key)),
        )
        .withColumn(
            op_col,
            F.when(
                F.col(op_col).isin("I", "U", "D"), F.col(op_col)
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("cdc_apply: op must be I/U/D, got "),
                        F.coalesce(
                            F.col(op_col).cast("string"), F.lit("NULL")
                        ),
                        F.lit(" for key "),
                        F.col(key).cast("string"),
                    )
                )
            ),
        )
        # two consumers (touched + upserts) — pin the drop-sized net
        .transform(local_checkpoint, eager=False)
    )
    touched = net.select(key).distinct()
    # no forced broadcast: `touched` is FEED-sized, and a backfill
    # feed grows with the table — a hint would bypass the size
    # ceiling and OOM where AQE would have picked a sensible join
    # (drop-sized feeds still auto-broadcast under the threshold)
    kept = current.join(touched, key, "left_anti")
    upserts = net.filter(F.col(op_col) != "D").select(*payload)
    return kept.unionByName(upserts)


def dq_referential(
    child: DataFrame,
    parent: DataFrame,
    fk: str,
    pk: str,
    relation: str,
) -> DataFrame:
    """Referential-integrity audit: one row summarizing how many
    ``child`` rows point at a ``parent`` key that does not exist —
    the orphan check a load gate runs after every upsert (the
    reference trusts WooCommerce to be internally consistent; a
    warehouse ingesting partial drops cannot).

    NULL foreign keys are counted separately, not as orphans (a NULL
    FK is a modeling choice; a dangling one is corruption). Orphan
    detection is an anti-join of the child's DISTINCT key frame
    against the parent's DISTINCT key frame — both sides collapse to
    key cardinality before the join, so the shuffle carries keys,
    not rows; per-key child row counts ride along as an integer sum.

    Scale shape: one (fk) partial-agg shuffle of the child + one key
    shuffle of the parent's distinct keys; output is a single row.
    Union several calls for a whole-schema audit — each relation is
    an independent plan.
    """
    fk_counts = (
        child.filter(F.col(fk).isNotNull())
        .groupBy(F.col(fk).alias("_k"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    orphans = fk_counts.join(
        parent.select(F.col(pk).alias("_k")).distinct(), "_k", "left_anti"
    ).agg(
        F.coalesce(F.sum("_n"), F.lit(0)).alias("n_orphan_rows"),
        F.count(F.lit(1)).alias("n_orphan_keys"),
    )
    totals = child.agg(
        F.count(F.lit(1)).alias("n_child_rows"),
        F.sum(F.col(fk).isNull().cast("bigint")).alias("n_null_fk"),
        F.count_distinct(F.col(fk)).alias("n_distinct_fk"),
    )
    return totals.crossJoin(orphans).select(
        F.lit(relation).alias("relation"),
        "n_child_rows",
        "n_null_fk",
        "n_distinct_fk",
        "n_orphan_rows",
        "n_orphan_keys",
    )


def numeric_corr(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlation matrix over numeric columns in
    ONE aggregation pass — the profiler's relationship report
    (``profile_table`` sees columns in isolation; this sees which
    move together, e.g. "is discount driven by quantity?").

    All co-moments (Σx, Σxy) accumulate in EXACT DECIMAL, so the
    partial aggregation is order-insensitive and the only floating
    point is the textbook closed form
    ``(n·Σxy − Σx·Σy) / sqrt((n·Σx² − (Σx)²)(n·Σy² − (Σy)²))``
    evaluated once per pair on the 1-row result with an identical
    operation order in the SQL oracle — engine-exact after the 6 dp
    round. A zero-variance column yields NULL corr (0/0), not a
    crash.

    Scale shape: one scan; each task emits k(k−1)/2 exact-integer
    partial rows (numpy two-limb accumulation over the unscaled
    BIGINT image of the decimal staging — see the inline notes), a
    single tiny aggregate sums them as decimal(38,0), and the pair
    matrix is projected off that one row via a literal struct
    explode — nothing else moves. DECIMAL(18,6) inputs bound values
    to ~10¹²; widen the cast for larger magnitudes.

    PAIRWISE-COMPLETE: each pair's ``n`` and moments count only rows
    where BOTH columns are non-NULL (the statistic every stats engine
    reports); variances are clamped at 0 before the sqrt so float
    cancellation on a constant column yields the documented NULL
    instead of NaN (Spark) or an abort (DuckDB).
    """
    if len(cols) < 2:
        raise ValueError(
            f"numeric_corr: need at least two columns, got {cols!r}"
        )
    # INDEX-based aggregate aliases: name-joined ones ("s_" + x + "_"
    # + y) collide when a column name itself contains the delimiter
    # (cols ["a", "b", "a_b"]: pair (a, b) and column a_b both alias
    # s_a_b — duplicate agg names, AMBIGUOUS_REFERENCE downstream)
    idx = {c: i for i, c in enumerate(cols)}
    # PAIRWISE-COMPLETE moments: each pair's n and sums condition on
    # BOTH columns being non-NULL. The old shared per-column sums
    # skipped NULLs while n counted every row — silently reporting
    # the Pearson of zero-imputed data (missingness read as signal).
    # The decimal casts are PRE-PROJECTED once per row: inlining them
    # into the 6·k(k−1)/2 conditional aggregates re-evaluates each
    # cast per pair (no CSE across aggregate expressions) — measured
    # 1.6x slower at k=4.
    staged = df.select(
        *[F.col(c).cast("decimal(18,6)").alias(f"_d{i}") for i, c in enumerate(cols)]
    )
    k = len(cols)
    # Exact unscaled-integer image of the decimal(18,6) staging:
    # d·10^6 is an integer with |u| ≤ 10^18 (always fits BIGINT for
    # decimal(18,6)); NULLs propagate. The co-moments then accumulate
    # as EXACT integers in one vectorized numpy pass per task
    # (mapInArrow — guide §4.2), replacing 6·k(k−1)/2 conditional
    # 128-bit decimal aggregates evaluated per row in the JVM: the
    # dominant cost of this query was precisely those decimal
    # multiply/sum updates (36 per row at k=4). Each task emits one
    # partial row per pair; the partials sum in Spark as
    # decimal(38,0) and are re-scaled back to the EXACT same decimal
    # values the old plan summed (Σdx = Σux/10^6, Σdx·dy = Σux·uy/10^12
    # — same rationals, so the double casts below are bit-identical;
    # BigDecimal→double correctly rounds the exact value on every
    # JVM path).
    ints = staged.select(
        *[
            (F.col(f"_d{i}") * F.lit(1_000_000).cast("decimal(7,0)"))
            .cast("bigint")
            .alias(f"_u{i}")
            for i in range(k)
        ]
    )
    pairs = [(i, j) for i in range(k) for j in range(i + 1, k)]

    def _comoment_partials(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        P = len(pairs)
        n_acc = [0] * P
        a_acc, b_acc = [0] * P, [0] * P
        xx_acc, yy_acc, xy_acc = [0] * P, [0] * P, [0] * P
        seen = False
        # chunk size keeps every int64 partial term sum below 2^62
        # on the fast path (|u| < 2^52 ⇒ limb products ≤ 2^52, 1024
        # addends ⇒ ≤ 2^62); larger values take the exact
        # object-dtype path (the decimal(38,0) regime)
        CH, SHIFT, MASK = 1024, 26, (1 << 26) - 1
        for batch in batches:
            rows = batch.num_rows
            if rows == 0:
                continue
            seen = True
            vals, valid = [], []
            for i in range(k):
                c = batch.column(i)
                if c.null_count:
                    valid.append(np.asarray(c.is_valid()))
                    vals.append(
                        pc.fill_null(c, 0).to_numpy(zero_copy_only=False)
                    )
                else:
                    valid.append(None)
                    vals.append(c.to_numpy(zero_copy_only=False))
            for c0 in range(0, rows, CH):
                sl = slice(c0, min(c0 + CH, rows))
                for p, (i, j) in enumerate(pairs):
                    ui, uj = vals[i][sl], vals[j][sl]
                    if valid[i] is None and valid[j] is None:
                        n_acc[p] += ui.shape[0]
                    else:
                        mb = np.ones(ui.shape[0], dtype=bool)
                        if valid[i] is not None:
                            mb &= valid[i][sl]
                        if valid[j] is not None:
                            mb &= valid[j][sl]
                        n_acc[p] += int(mb.sum())
                        ui = ui * mb
                        uj = uj * mb
                    big = max(
                        int(np.abs(ui).max(initial=0)),
                        int(np.abs(uj).max(initial=0)),
                    ) >= (1 << 52)
                    if big:
                        oi, oj = ui.astype(object), uj.astype(object)
                        a_acc[p] += int(oi.sum())
                        b_acc[p] += int(oj.sum())
                        xx_acc[p] += int((oi * oi).sum())
                        yy_acc[p] += int((oj * oj).sum())
                        xy_acc[p] += int((oi * oj).sum())
                        continue
                    a_acc[p] += int(ui.sum())
                    b_acc[p] += int(uj.sum())
                    # two-limb exact products: u = hi·2^26 + lo with
                    # 0 ≤ lo < 2^26 (arithmetic shift handles sign)
                    hi_i, lo_i = ui >> SHIFT, ui & MASK
                    hi_j, lo_j = uj >> SHIFT, uj & MASK
                    xx_acc[p] += (
                        (int((hi_i * hi_i).sum()) << 52)
                        + (int((hi_i * lo_i).sum()) << 27)
                        + int((lo_i * lo_i).sum())
                    )
                    yy_acc[p] += (
                        (int((hi_j * hi_j).sum()) << 52)
                        + (int((hi_j * lo_j).sum()) << 27)
                        + int((lo_j * lo_j).sum())
                    )
                    xy_acc[p] += (
                        (int((hi_i * hi_j).sum()) << 52)
                        + (
                            (
                                int((hi_i * lo_j).sum())
                                + int((lo_i * hi_j).sum())
                            )
                            << 26
                        )
                        + int((lo_i * lo_j).sum())
                    )
        if seen:
            from decimal import Decimal

            # Emit the partials AT THE OLD PLAN'S SCALES — linear
            # sums as decimal(38,6) (Σdx's value), quadratic sums as
            # decimal(38,12) (Σdx·dy's value) — so Spark's final
            # decimal SUM and the double cast reproduce the old
            # aggregate bit-for-bit. (A decimal(38,0)/10^12 division
            # in the plan does NOT work: Spark's precision-loss rule
            # caps the quotient at scale 6, silently rounding the
            # 12-scale moments — caught by review on small-magnitude
            # columns.) Integer→Decimal scaleb is exact; overflow of
            # the target scale raises the same loud refusal class as
            # the old decimal-sum plan.
            for accs, frac in (
                (a_acc, 6), (b_acc, 6), (xx_acc, 12), (yy_acc, 12), (xy_acc, 12),
            ):
                for v in accs:
                    if abs(v) >= 10**38:  # unscaled bound of decimal(38,frac)
                        raise ValueError(
                            "numeric_corr: co-moment partial exceeds "
                            f"decimal(38,{frac}) — narrow the inputs "
                            "or pre-scale the columns"
                        )
            d6 = pa.decimal128(38, 6)
            d12 = pa.decimal128(38, 12)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(range(len(pairs)), type=pa.int32()),
                    pa.array(n_acc, type=pa.int64()),
                    pa.array([Decimal(v).scaleb(-6) for v in a_acc], type=d6),
                    pa.array([Decimal(v).scaleb(-6) for v in b_acc], type=d6),
                    pa.array([Decimal(v).scaleb(-12) for v in xx_acc], type=d12),
                    pa.array([Decimal(v).scaleb(-12) for v in yy_acc], type=d12),
                    pa.array([Decimal(v).scaleb(-12) for v in xy_acc], type=d12),
                ],
                names=["p", "n", "a", "b", "xx", "yy", "xy"],
            )

    partials = ints.mapInArrow(
        _comoment_partials,
        "p int, n bigint, a decimal(38,6), b decimal(38,6), "
        "xx decimal(38,12), yy decimal(38,12), xy decimal(38,12)",
    )
    aggs = []
    for p, (i, j) in enumerate(pairs):
        m = F.col("p") == p
        for stat in ("n", "a", "b", "xx", "yy", "xy"):
            agg = F.sum(F.when(m, F.col(stat)))
            agg = (
                agg.cast("bigint") if stat == "n" else agg.cast("double")
            )
            aggs.append(agg.alias(f"{stat}_{i}_{j}"))
    one = partials.agg(*aggs)
    pair_structs = []
    for i, x in enumerate(cols):
        for y in cols[i + 1 :]:
            j = idx[y]
            n_ij = F.col(f"n_{i}_{j}")
            num = n_ij * F.col(f"xy_{i}_{j}") - F.col(
                f"a_{i}_{j}"
            ) * F.col(f"b_{i}_{j}")
            # GREATEST clamp: float cancellation can land a
            # zero-variance column at -1e-15, and sqrt of that is NaN
            # on Spark but an ABORT on DuckDB — clamped in lockstep,
            # the zero-variance case stays the documented NULL
            vx = F.greatest(
                n_ij * F.col(f"xx_{i}_{j}")
                - F.col(f"a_{i}_{j}") * F.col(f"a_{i}_{j}"),
                F.lit(0.0),
            )
            vy = F.greatest(
                n_ij * F.col(f"yy_{i}_{j}")
                - F.col(f"b_{i}_{j}") * F.col(f"b_{i}_{j}"),
                F.lit(0.0),
            )
            pair_structs.append(
                F.struct(
                    F.lit(x).alias("col_x"),
                    F.lit(y).alias("col_y"),
                    n_ij.alias("n"),
                    F.round(
                        F.try_divide(num, F.sqrt(vx * vy)), 6
                    ).alias("corr"),
                )
            )
    return one.select(
        F.explode(F.array(*pair_structs)).alias("p")
    ).select("p.col_x", "p.col_y", "p.n", "p.corr")



def _store_sibling(store_path: str, suffix: str) -> str:
    """Sibling bookkeeping dir of a current-state store
    (``_{name}_{suffix}`` next to it). Root-level stores (e.g. a bare
    bucket ``s3a://state``) have no sibling slot — raise instead of
    mangling the authority."""
    base = store_path.rstrip("/")
    if "/" not in base.replace("://", ""):
        raise ValueError(
            f"current-state store {store_path!r} sits at a filesystem "
            "root — place it in a directory so the staged swap has a "
            "sibling slot"
        )
    parent, name = base.rsplit("/", 1)
    return f"{parent}/_{name}_{suffix}"


def _recover_current_store(spark, store_path: str) -> None:
    """Complete an interrupted current-state swap BEFORE reading the
    store: a crash between "live → trash" and "staged → live" leaves
    the live dir absent while the fully-written staged state (gated
    on its _SUCCESS marker) holds the truth — without this, the next
    fold would read "store absent" and silently rebuild from one
    batch, losing all history. A staged dir WITHOUT _SUCCESS is a
    torn write and is ignored (the live dir, or absence, stands)."""
    from ..functions.fsutil import fs_delete, fs_exists, fs_rename

    staged = _store_sibling(store_path, "staged")
    trash = _store_sibling(store_path, "trash")
    if not fs_exists(spark, store_path) and fs_exists(
        spark, f"{staged}/_SUCCESS"
    ):
        fs_rename(spark, staged, store_path)
    fs_delete(spark, trash)


def _swap_in_staged(spark, store_path: str) -> None:
    """Atomically-enough promote the fully-written staged state over
    the live store: live → trash, staged → live, drop trash. Each
    step is a single Hadoop rename; every crash point is recovered by
    ``_recover_current_store`` at the next fold (the fold itself is
    idempotent — max-seq / MIN are replay-stable — so no applied
    marker is needed, only swap atomicity)."""
    from ..functions.fsutil import fs_delete, fs_exists, fs_rename

    staged = _store_sibling(store_path, "staged")
    trash = _store_sibling(store_path, "trash")
    fs_delete(spark, trash)
    if fs_exists(spark, store_path):
        if not fs_rename(spark, store_path, trash):
            raise RuntimeError(
                f"store swap failed moving {store_path} aside"
            )
    if not fs_rename(spark, staged, store_path):
        raise RuntimeError(
            f"store swap failed promoting staged state into {store_path}"
        )
    fs_delete(spark, trash)


def cdc_apply_store(
    spark,
    store_path: str,
    changes: DataFrame,
    key: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> None:
    """Persist-side of ``cdc_apply``: fold a change batch into an
    ON-DISK current-state table. The store carries each row's last
    applied sequence (``_seq``) plus a ``_deleted`` tombstone flag,
    and the merge resolves the net effect over
    stored-rows-∪-incoming-changes — so a LATE batch whose sequence
    numbers are older than what's already applied cannot regress the
    table (plain delete+insert would): max-seq wins globally, which
    makes the fold independent of how the feed is split into batches
    (pytest asserts split-invariance, the CDC twin of the
    rollup-store property). Deletes are kept as TOMBSTONE rows rather
    than dropped, so a late stale I/U for an already-deleted key
    loses to the tombstone's newer ``_seq`` instead of resurrecting
    the row — read the live view through ``read_cdc_store``.

    Sized for dimension/current-state tables (the usual CDC target):
    each fold rewrites the table once, cost O(store + batch) with one
    key shuffle. For fact-scale targets use the month-pruned
    ``woo_flow`` upsert instead. Used directly for batch drops and as
    the body of the streaming ``run_stream_cdc_apply`` — one code
    path under both execution models.
    """
    from ..functions.fsutil import fs_exists

    _recover_current_store(spark, store_path)
    payload = [c for c in changes.columns if c not in (seq_col, op_col)]
    incoming = changes.select(*payload, seq_col, op_col)
    if fs_exists(spark, store_path):
        stored = spark.read.parquet(store_path)
        # stores written before the tombstone change carry no
        # _deleted column — their rows are all live by construction
        deleted = (
            F.col("_deleted")
            if "_deleted" in stored.columns
            else F.lit(False)
        )
        existing = stored.select(
            *payload,
            F.col("_seq").alias(seq_col),
            F.when(deleted, F.lit("D")).otherwise(F.lit("U")).alias(op_col),
        )
        incoming = incoming.unionByName(existing)
    w = Window.partitionBy(key).orderBy(
        F.col(seq_col).desc(), F.col(op_col).desc()
    )
    merged = (
        incoming.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            *payload,
            F.col(seq_col).alias("_seq"),
            # validate like cdc_apply: a NULL/unknown op would make
            # _deleted NULL and the live view would silently drop the
            # key (read_cdc_store filters on NOT _deleted)
            F.when(
                F.col(op_col).isin("I", "U", "D"),
                F.col(op_col) == "D",
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("cdc_apply_store: op must be I/U/D, got "),
                        F.coalesce(
                            F.col(op_col).cast("string"), F.lit("NULL")
                        ),
                    )
                ).cast("boolean")
            ).alias("_deleted"),
        )
    )
    # STAGED swap, never an in-place overwrite: mode('overwrite')
    # deletes the live store before the job commits, so a crash
    # mid-write would permanently destroy the current-state table
    # and the next fold would silently rebuild it from one batch
    # (the r9 rollup-store lesson applied to the whole-table stores).
    # Writing to the staging sibling leaves the live store readable
    # while merged computes from it — the eager checkpoint the old
    # in-place overwrite needed is gone with it.
    merged.write.mode("overwrite").parquet(
        _store_sibling(store_path, "staged")
    )
    _swap_in_staged(spark, store_path)


def read_cdc_store(spark, store_path: str) -> DataFrame:
    """Live view of a ``cdc_apply_store`` table: tombstoned keys
    filtered out, bookkeeping flag dropped (``_seq`` retained — it is
    part of the documented store contract). Pre-tombstone stores
    (no ``_deleted`` column — all rows live) read unchanged."""
    df = spark.read.parquet(store_path)
    if "_deleted" not in df.columns:
        return df
    return df.filter(~F.col("_deleted")).drop("_deleted")


def merge_first_seen_store(spark, store_path: str, batch_events: DataFrame) -> None:
    """Maintain an ON-DISK (user_id, first_day_us) table — the state
    behind ``dau_new_vs_returning`` when the events arrive as a
    stream or as daily drops instead of one scannable history. MIN is
    associative, so folding each batch's per-user min into the store
    is split-invariant and out-of-order-safe (same argument as the
    rollup partials; pytest asserts both). Per fold: one user-keyed
    aggregate of the batch + one key shuffle against the store.

    A day's new-vs-returning split then derives from joining that
    day's actives against this store — O(day + store keys), never a
    rescan of history.
    """
    from ..functions.fsutil import fs_exists

    _recover_current_store(spark, store_path)
    batch = (
        batch_events.select(
            "user_id",
            (F.expr(TS_US_FLOOR) - F.expr(TS_US_FLOOR) % 86_400_000_000)
            .alias("first_day_us"),
        )
        .groupBy("user_id")
        .agg(F.min("first_day_us").alias("first_day_us"))
    )
    if fs_exists(spark, store_path):
        existing = spark.read.parquet(store_path)
        batch = (
            existing.unionByName(batch)
            .groupBy("user_id")
            .agg(F.min("first_day_us").alias("first_day_us"))
        )
    # staged swap (see cdc_apply_store): never in-place overwrite a
    # current-state store
    batch.write.mode("overwrite").parquet(
        _store_sibling(store_path, "staged")
    )
    _swap_in_staged(spark, store_path)
