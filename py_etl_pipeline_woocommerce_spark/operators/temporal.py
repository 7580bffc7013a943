"""Temporal operators over the event stream: as-of join, windowed
range join, multi-resolution rollup, percentiles, daily actives.

These are the time-series operators a warehouse bolts next to the
reference's dashboard timeseries (``dashboard/app.py:47-62``) once the
data outgrows one node. Event time is exact integer µs everywhere
(epoch-ns BIGINT → µs floor-div) — no float time, no tz ambiguity.

Scale notes: every operator here is one hash shuffle (on user or on
the grouping key) + window/agg; nothing is quadratic. The as-of join
is the union-tag algorithm (no per-row subquery); the range join
buckets time so candidates come from an equi-join, never a full
inequality join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.frames import local_checkpoint
from ..functions.timeutil import TS_US_FLOOR

from ..functions.stats import pctl_fn

from ..functions.money import dec_money

HOUR_US = 3_600_000_000
DAY_US = 86_400_000_000


def _money_value(col: str = "value"):
    """events.value → exact money decimal with NaN EXPLICITLY treated
    as missing: ANSI Spark silently casts NaN→DECIMAL to NULL while
    DuckDB ERRORS on the same cast, so relying on the implicit cast
    made the policy invisible and the oracle inexpressible (r12
    review find). Nulling first is deliberate and has the exact SQL
    twin ``CASE WHEN isnan(value) THEN NULL ELSE value END``. NULL
    stays NULL (isnan(NULL) is false)."""
    c = F.col(col)
    return dec_money(F.when(~F.isnan(c), c))


def _day_idx_col():
    """Canonical epoch-day index: exact INTEGER division of t_us.
    The once-common ``(t_us / DAY_US).cast('bigint')`` double-division
    form is exact only while t_us < 2^53 (~year 2255 in µs — but ns
    inputs wander close); integer ``div`` matches DuckDB ``//`` trunc
    semantics at every magnitude, and ONE helper keeps all day-bucket
    operators on the same grain."""
    return F.expr(f"t_us div {DAY_US}")


def _ts_us(events: DataFrame) -> DataFrame:
    # TS_US_FLOOR, not `div`: every temporal oracle derives t_us via
    # epoch_us(ts) — exact microseconds, i.e. the FLOOR of ns/1000 —
    # while the DAY-INDEX layer below (`t_us div DAY_US`) stays
    # trunc-convention to match the oracles' `//`
    return events.select(
        "event_id",
        "user_id",
        "event_type",
        F.expr(TS_US_FLOOR).alias("t_us"),
        "value",
    )


def _mask_tolerance(out, tolerance_us):
    """Shared tolerance mask of asof_join's three direction branches
    (two verbatim copies until r12): a match farther than the
    tolerance is NO match — the left row survives with NULL asof
    columns, like a row with no candidate at all."""
    if tolerance_us is None:
        return out
    within = F.col("gap_us") <= tolerance_us
    return out.select(
        "event_id",
        "user_id",
        "t_us",
        F.when(within, F.col("asof_event_id")).alias("asof_event_id"),
        F.when(within, F.col("asof_t_us")).alias("asof_t_us"),
        F.when(within, F.col("gap_us")).alias("gap_us"),
    )


def asof_join(
    events: DataFrame,
    left_type: str = "purchase",
    right_type: str = "click",
    direction: str = "backward",
    tolerance_us: int | None = None,
) -> DataFrame:
    """Each ``left_type`` event joined to the user's nearest
    ``right_type`` event: the most recent at-or-before it
    (``direction="backward"``, the classic as-of join) or the earliest
    at-or-after it (``direction="forward"`` — the "what happened next"
    attribution shape).

    Union-tag algorithm: tag both sides, sort per user by
    (time, kind, id) with the right side adjacent to equal-time left
    rows on the matching side, and carry the last (backward) or first
    (forward) non-null right id/time across a running window — ONE
    shuffle on user_id, no inequality join, no per-row lookup. Ties
    (same user, same µs) resolve to the max right event_id backward /
    min forward; the ordering is total, so output is deterministic at
    any parallelism. ``gap_us`` is always the non-negative distance in
    the join direction (NULL when no match exists on that side).

    ``direction="nearest"`` (pandas ``merge_asof`` parity) runs BOTH
    carries over the SAME per-user sort (two Window nodes, one
    exchange — the ``merge_intervals`` shared-sort shape) and keeps
    whichever side is closer, backward winning exact-distance ties
    (an equal-time right is a 0-gap backward match by the tie
    ordering, so it always wins).

    ``tolerance_us`` bounds the match distance (pandas
    ``merge_asof(tolerance=...)`` semantics): a nearest event farther
    than the tolerance is NO match — the left row survives with NULL
    asof columns, exactly like a row with no candidate at all. The
    cut is an integer compare on the already-computed gap, so the
    bounded variant costs nothing extra and shares the single-shuffle
    plan.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            "asof_join: direction must be 'backward', 'forward', or "
            f"'nearest', got {direction!r}"
        )
    # a timeless event neither matches nor is matched: NULL-ts rows
    # would otherwise sort NULLS-FIRST in Spark's per-user window but
    # NULLS-LAST in the DuckDB oracle, silently flipping which right
    # event the carry sees (r12 review find; oracle in lockstep)
    e = _ts_us(events).filter(F.col("t_us").isNotNull())
    if direction == "nearest":
        right = e.filter(F.col("event_type") == right_type).select(
            "user_id", "t_us", F.lit(0).alias("kind"), "event_id"
        )
        left = e.filter(F.col("event_type") == left_type).select(
            "user_id", "t_us", F.lit(1).alias("kind"), "event_id"
        )
        base = Window.partitionBy("user_id").orderBy(
            "t_us", "kind", "event_id"
        )
        is_right = F.col("kind") == 0
        wb = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        wf = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        tagged = right.unionByName(left).select(
            "*",
            F.last(F.when(is_right, F.col("event_id")), ignorenulls=True)
            .over(wb)
            .alias("_b_id"),
            F.last(F.when(is_right, F.col("t_us")), ignorenulls=True)
            .over(wb)
            .alias("_b_t"),
            F.first(F.when(is_right, F.col("event_id")), ignorenulls=True)
            .over(wf)
            .alias("_f_id"),
            F.first(F.when(is_right, F.col("t_us")), ignorenulls=True)
            .over(wf)
            .alias("_f_t"),
        )
        bgap = F.col("t_us") - F.col("_b_t")
        fgap = F.col("_f_t") - F.col("t_us")
        use_b = F.col("_b_t").isNotNull() & (
            F.col("_f_t").isNull() | (bgap <= fgap)
        )
        out = tagged.filter(F.col("kind") == 1).select(
            "event_id",
            "user_id",
            "t_us",
            F.when(use_b, F.col("_b_id"))
            .otherwise(F.col("_f_id"))
            .alias("asof_event_id"),
            F.when(use_b, F.col("_b_t"))
            .otherwise(F.col("_f_t"))
            .alias("asof_t_us"),
            F.when(use_b, bgap).otherwise(fgap).alias("gap_us"),
        )
        return _mask_tolerance(out, tolerance_us)
    backward = direction == "backward"
    right_kind = 0 if backward else 2
    right = e.filter(F.col("event_type") == right_type).select(
        "user_id", "t_us", F.lit(right_kind).alias("kind"), "event_id"
    )
    left = e.filter(F.col("event_type") == left_type).select(
        "user_id", "t_us", F.lit(1).alias("kind"), "event_id"
    )
    base = Window.partitionBy("user_id").orderBy("t_us", "kind", "event_id")
    is_right = F.col("kind") == right_kind
    if backward:
        w = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        pick = lambda c: F.last(  # noqa: E731
            F.when(is_right, c), ignorenulls=True
        ).over(w)
        gap = F.col("t_us") - F.col("asof_t_us")
    else:
        w = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        pick = lambda c: F.first(  # noqa: E731
            F.when(is_right, c), ignorenulls=True
        ).over(w)
        gap = F.col("asof_t_us") - F.col("t_us")
    tagged = right.unionByName(left).select(
        "*",
        pick(F.col("event_id")).alias("asof_event_id"),
        pick(F.col("t_us")).alias("asof_t_us"),
    )
    out = tagged.filter(F.col("kind") == 1).select(
        "event_id",
        "user_id",
        "t_us",
        "asof_event_id",
        "asof_t_us",
        gap.alias("gap_us"),
    )
    return _mask_tolerance(out, tolerance_us)


def range_join_window(
    events: DataFrame,
    anchor_type: str = "purchase",
    probe_type: str = "view",
    window_us: int = HOUR_US,
) -> DataFrame:
    """Per ``anchor_type`` event: count/sum of ``probe_type`` events of
    the same user in the inclusive window ``[t - window_us, t]``.

    A naive inequality join is O(n·m); instead both sides are bucketed
    to ``window_us`` grains and probes join to the anchor's bucket and
    the one before (any in-window probe lands in one of the two) — an
    equi-join on (user, bucket) followed by the exact range filter.
    Anchors with no probes are kept via a left join against the
    aggregated counts (count 0, sum 0.0).
    """
    e = _ts_us(events)
    anchors = e.filter(F.col("event_type") == anchor_type).select(
        "event_id", "user_id", "t_us"
    )
    probes = e.filter(F.col("event_type") == probe_type).select(
        F.col("user_id").alias("p_user"),
        F.col("t_us").alias("p_t_us"),
        F.expr(f"t_us div {int(window_us)}").alias("p_bucket"),
        "value",
    )
    cand = anchors.select(
        "event_id",
        "user_id",
        "t_us",
        F.explode(
            F.array(
                F.expr(f"t_us div {int(window_us)}"),
                F.expr(f"t_us div {int(window_us)}") - 1,
            )
        ).alias("bucket"),
    )
    hits = (
        cand.join(
            probes,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("bucket") == F.col("p_bucket")),
        )
        .filter(
            (F.col("p_t_us") >= F.col("t_us") - F.lit(window_us))
            & (F.col("p_t_us") <= F.col("t_us"))
        )
        .groupBy("event_id")
        .agg(
            F.count(F.lit(1)).alias("n_probe"),
            F.sum(_money_value()).alias("_sum_dec"),
        )
    )
    return anchors.join(hits, "event_id", "left").select(
        "event_id",
        "user_id",
        "t_us",
        F.coalesce(F.col("n_probe"), F.lit(0)).alias("n_in_window"),
        F.coalesce(F.col("_sum_dec").cast("double"), F.lit(0.0)).alias(
            "value_in_window"
        ),
    )


def multires_rollup(events: DataFrame) -> DataFrame:
    """Hypertable-style continuous aggregate: hour AND day grains per
    event_type in ONE scan via ROLLUP(event_type, day, hour), keeping
    only the two fully-grouped-by-day levels.

    At 100 TB this is the materialized-rollup pattern: a single
    map-side-combined shuffle produces every resolution, instead of
    one scan per grain.
    """
    e = _ts_us(events)
    bucketed = e.select(
        "event_type",
        (_day_idx_col() * DAY_US).alias("day_us"),
        (F.expr(f"t_us div {HOUR_US}") * HOUR_US).alias("hour_us"),
        "value",
    )
    agg = bucketed.rollup("event_type", "day_us", "hour_us").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_money_value()).cast("double").alias("total_value"),
        F.grouping("day_us").alias("_gd"),
        F.grouping("hour_us").alias("_gh"),
    )
    # rollup levels: (et,day,hour) _gh=0 | (et,day) _gh=1 | (et), ()
    # have _gd=1 — keep the two day-resolved levels only.
    return agg.filter(F.col("_gd") == 0).select(
        F.when(F.col("_gh") == 1, F.lit("day")).otherwise(F.lit("hour")).alias("grain"),
        "event_type",
        "day_us",
        F.coalesce(F.col("hour_us"), F.col("day_us")).alias("bucket_us"),
        "n_events",
        "total_value",
    )


def value_percentiles(events: DataFrame) -> DataFrame:
    """Exact interpolated p50/p90/p99 of event value per event_type.

    ORACLE-PARITY PATH ONLY: ``F.percentile`` buffers every group
    value in one aggregation buffer, so with a handful of event types
    at 100 TB a single group holds ~billions of doubles — per-group
    memory death. It exists to hash-match DuckDB's ``quantile_cont``
    bit-for-bit at verification scale. The production default at
    scale is ``value_percentiles_approx`` (Greenwald-Khanna sketch,
    bounded memory per group, mergeable map-side); pick the exact
    variant only when group sizes are known-small.
    """
    e = _ts_us(events)
    pct = F.percentile("value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    agg = e.groupBy("event_type").agg(pct.alias("_p"))
    return agg.select(
        "event_type",
        F.round(F.col("_p")[0], 6).alias("p50"),
        F.round(F.col("_p")[1], 6).alias("p90"),
        F.round(F.col("_p")[2], 6).alias("p99"),
    )


def daily_active_users(events: DataFrame) -> DataFrame:
    """Per UTC day: exact distinct users, event count, value total.

    Exact count-distinct is a two-level agg (partial distinct
    map-side); at extreme cardinality swap for approx_count_distinct
    — kept exact here so the SQL oracle matches bit-for-bit.
    """
    e = _ts_us(events)
    day = (_day_idx_col() * DAY_US).alias("day_us")
    return e.groupBy(day).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_money_value()).cast("double").alias("total_value"),
    )


def _day_grid(events: DataFrame):
    """(daily aggregate, day×type grid) shared by the three
    ``fill_missing_days*`` variants — ONE construction so a spine
    change (bounds, grain) can never drift between fill policies.

    The spine explodes from a 1-row min/max aggregate and the type
    list is a distinct over the same daily agg — both tiny regardless
    of input scale, so the spine×types frame (days × types rows) is
    broadcast into the left join against the daily aggregate. Gap
    filling never touches raw events twice."""
    e = _ts_us(events)
    # THREE consumers (bounds, distinct types, the fill join) — pin or
    # the raw-event aggregate re-runs per consumer. _val coalesces to
    # 0 on OBSERVED days: a day whose events all carry NULL value is
    # observed-with-zero-money, never "missing" — otherwise locf/
    # interp would fabricate a value for a day the zero-fill variant
    # reports as 0.0 (three fill policies disagreeing on observedness)
    daily = e.groupBy(
        _day_idx_col().alias("day_idx"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.coalesce(
            F.sum(_money_value()), F.lit(0).cast("decimal(18,2)")
        ).alias("_val"),
    ).transform(local_checkpoint, eager=False)
    bounds = daily.agg(
        F.min("day_idx").alias("_lo"), F.max("day_idx").alias("_hi")
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("_lo"), F.col("_hi"))).alias("day_idx")
    )
    grid = spine.crossJoin(daily.select("event_type").distinct())
    return daily, grid


def fill_missing_days(events: DataFrame) -> DataFrame:
    """Zero-filled daily event counts per type: a day spine spanning
    the observed [min, max] day range, cross-joined with the observed
    event types, left-joined to the daily aggregates (the shared
    ``_day_grid`` construction).
    """
    daily, grid = _day_grid(events)
    return (
        grid.join(daily, ["day_idx", "event_type"], "left")
        .select(
            (F.col("day_idx") * DAY_US).alias("day_us"),
            "event_type",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce(F.col("_val").cast("double"), F.lit(0.0)).alias(
                "total_value"
            ),
        )
    )


def rolling_active_users(events: DataFrame, window_days: int = 7) -> DataFrame:
    """Exact rolling ``window_days``-day distinct users for every day
    with events.

    The scalable exact plan: dedup to (day, user), explode each pair
    into the ``window_days`` target days it contributes to (bounded
    linear fan-out — never a per-day rescan of history), then
    count-distinct per target day. A semi-join against observed days
    drops phantom trailing days. The fan-out factor is the window
    length: events multiply ×``window_days`` before the distinct, so
    the exact plan is priced for dashboards and short windows.

    AT SCALE PREFER THE SKETCH ROLLUP: ``dau_sketch_rollup`` keeps one
    KB-sized Datasketches HLL per day and unions sketches across any
    window — no ×window fan-out, no exact-distinct expand+reshuffle,
    reaggregatable to coarser windows for free. This mirrors how
    ``event_value_summary`` fronts GK sketches over exact percentiles:
    exact variant for verification and small windows, mergeable
    sketch as the 100 TB default.
    """
    e = _ts_us(events)
    du = (
        e.select(
            _day_idx_col().alias("day_idx"), "user_id"
        )
        .distinct()
        # two consumers (contrib explode + observed) of an AGGREGATED
        # distinct frame — the dayn_retention convention; measured
        # flat locally (0.88 vs 0.90 median-of-5, r9) and halves the
        # distinct shuffle at SF
        .transform(local_checkpoint, eager=False)
    )
    contrib = du.select(
        F.explode(
            F.sequence(F.col("day_idx"), F.col("day_idx") + (window_days - 1))
        ).alias("target_day"),
        "user_id",
    )
    observed = du.select(F.col("day_idx").alias("target_day")).distinct()
    return (
        contrib.join(observed, "target_day", "left_semi")
        .groupBy("target_day")
        .agg(F.countDistinct("user_id").alias("active_users"))
        .select(
            (F.col("target_day") * DAY_US).alias("day_us"), "active_users"
        )
    )


def daily_active_users_approx(events: DataFrame, rsd: float = 0.05) -> DataFrame:
    """HyperLogLog++ daily distinct users — the 100 TB path for
    distinct counting: fixed-size sketch per group, map-side
    combinable, no exact-distinct expand+reshuffle.

    No SQL oracle: sketch estimates are algorithm-specific. The unit
    test bounds relative error against the exact count instead.
    """
    e = _ts_us(events)
    return e.groupBy(
        (_day_idx_col() * DAY_US).alias("day_us")
    ).agg(
        F.approx_count_distinct("user_id", rsd).alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


def value_percentiles_approx(
    events: DataFrame, accuracy: int = 10_000
) -> DataFrame:
    """Greenwald-Khanna approximate p50/p90/p99 per event type — the
    sketch twin of ``value_percentiles``: mergeable per-partition
    summaries instead of a full sort, the only viable quantile plan
    when a group no longer fits in one task.

    No SQL oracle (sketch-specific); the unit test bounds the error
    against the exact interpolated percentiles.
    """
    probs = [0.5, 0.9, 0.99]
    return (
        events.groupBy("event_type")
        .agg(
            F.percentile_approx("value", probs, accuracy).alias("_p")
        )
        .select(
            "event_type",
            F.col("_p")[0].alias("p50"),
            F.col("_p")[1].alias("p90"),
            F.col("_p")[2].alias("p99"),
        )
    )


def event_value_summary(events: DataFrame, exact: bool = False) -> DataFrame:
    """Per-event-type value percentiles — the surface pipelines should
    call. DEFAULTS TO THE SKETCH PATH (``value_percentiles_approx``):
    mergeable fixed-size GK summaries, map-side combinable, safe with
    a handful of event types over 100 TB. ``exact=True`` selects
    ``value_percentiles`` (single-buffer exact interpolation) — use it
    only for oracle verification or groups known to fit in one task.

    Same output schema either way (event_type, p50, p90, p99), so
    swapping precision never breaks a downstream pipeline.
    """
    if exact:
        return value_percentiles(events)
    return value_percentiles_approx(events)


def ohlc_bars(events: DataFrame, bar_us: int = DAY_US) -> DataFrame:
    """OHLC bars per (event_type, bar): the continuous-aggregate shape
    time-series stores bolt onto an event stream (open/close by total
    event order, exact high/low, decimal-exact volume).

    Open/close come from forward and reverse ``row_number`` over the
    total order (t_us, event_id) — deterministic under ties at the
    same microsecond — then everything reduces in ONE aggregate. The
    window partition keys equal the groupBy keys, so Catalyst plans a
    single exchange: shuffle once on (event_type, bar), sort in
    partition, window + agg without a second shuffle.
    """
    e = _ts_us(events).withColumn(
        "bar_start_us", F.col("t_us") - F.col("t_us") % F.lit(bar_us)
    )
    asc = Window.partitionBy("event_type", "bar_start_us").orderBy(
        "t_us", "event_id"
    )
    desc = Window.partitionBy("event_type", "bar_start_us").orderBy(
        F.col("t_us").desc(), F.col("event_id").desc()
    )
    ranked = e.select(
        "event_type",
        "bar_start_us",
        "value",
        F.row_number().over(asc).alias("_rn_a"),
        F.row_number().over(desc).alias("_rn_d"),
    )
    return ranked.groupBy("event_type", "bar_start_us").agg(
        F.max(F.when(F.col("_rn_a") == 1, F.col("value"))).alias("open_value"),
        F.max("value").alias("high_value"),
        F.min("value").alias("low_value"),
        F.max(F.when(F.col("_rn_d") == 1, F.col("value"))).alias("close_value"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_money_value()).cast("double").alias("total_value"),
    )


def value_histogram(events: DataFrame, bin_width: float = 5.0) -> DataFrame:
    """Fixed-width value histogram per event type — the distribution
    profile behind dashboards and outlier cuts, computed exactly.

    A pure two-key aggregate: bin id is a map-side expression, the
    shuffle carries only (type, bin) partials — group space is bins,
    not rows, at any scale. Min/max per bin are order-insensitive, so
    output is engine-exact despite double values.
    """
    e = _ts_us(events)
    # NaN gets a NULL bin explicitly: Spark's floor(NaN).cast('bigint')
    # silently lands on bin 0 (inflating it and making its max NaN)
    # while DuckDB CRASHES casting NaN to BIGINT — with the guard both
    # engines collect NaN (and NULL) values under one NULL-bin row
    # (oracle in lockstep)
    bin_id = F.when(
        ~F.isnan(F.col("value")),
        F.floor(F.col("value") / F.lit(bin_width)),
    ).cast("bigint")
    return (
        e.groupBy("event_type", bin_id.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .withColumn("bin_low", F.col("bin") * F.lit(bin_width))
    )


def dau_sketch_rollup(events: DataFrame, days_per_window: int = 7) -> DataFrame:
    """REAGGREGATABLE distinct-user rollup via Datasketches HLL: build
    one user sketch per day, then UNION the day sketches into coarser
    windows instead of rescanning raw events — the pattern that makes
    "distinct users last N days" a dashboard query instead of a 100 TB
    scan (daily sketches are KB-sized; every coarser grain is a
    sketch-merge over days, and the same stored sketches answer week,
    month, or arbitrary ranges).

    Two aggs: (day, sketch) from one event scan, then
    ``hll_union_agg`` per window — both map-side mergeable. Output is
    per window: the estimate from the merged sketch plus the summed
    (double-counting) daily estimate, whose gap is exactly the
    cross-day repeat visitors that a naive SUM of daily DAU gets
    wrong.

    No SQL oracle (sketch-specific binary); the unit test bounds the
    estimate against exact distincts. Rows-only driver check.
    """
    e = _ts_us(events)
    day_idx = _day_idx_col()
    # ONE sketch aggregation per day; the daily estimate derives from
    # the already-built sketch column (a second hll_sketch_agg in the
    # same agg would double the aggregation state and CPU)
    daily = (
        e.groupBy(day_idx.alias("day_idx"))
        .agg(F.hll_sketch_agg("user_id").alias("sketch"))
        .select(
            "day_idx",
            "sketch",
            F.hll_sketch_estimate("sketch").alias("day_estimate"),
        )
    )
    win = F.expr(f"day_idx div {int(days_per_window)}")
    return (
        daily.groupBy(win.alias("window_idx"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(
                "distinct_users"
            ),
            F.sum("day_estimate").alias("summed_daily"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .select(
            (F.col("window_idx") * days_per_window * DAY_US).alias("window_start_us"),
            "n_days",
            "distinct_users",
            "summed_daily",
        )
    )


def fill_missing_days_locf(events: DataFrame) -> DataFrame:
    """Gap-filled daily series with LOCF (last observation carried
    forward) — the timescale-style ``locf()`` companion to the
    zero-filling ``fill_missing_days``: missing days repeat the most
    recent observed day's total_value; days before a type's first
    observation stay NULL (carrying nothing forward is a fact worth
    surfacing, not a zero).

    Same spine/grid construction as ``fill_missing_days`` (the shared
    ``_day_grid``); the carry is one window per event_type over the
    day-grain frame — partitions are bounded by the day span, never
    by event cardinality.
    """
    daily, grid = _day_grid(events)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(daily, ["day_idx", "event_type"], "left")
        .withColumn("_carried", F.last("_val", ignorenulls=True).over(w))
        .select(
            (F.col("day_idx") * DAY_US).alias("day_us"),
            "event_type",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.col("_carried").cast("double").alias("total_value"),
        )
    )


def fill_missing_days_interp(events: DataFrame) -> DataFrame:
    """Gap-filled daily series with LINEAR INTERPOLATION between the
    surrounding observed days (timescale ``interpolate()``): a missing
    day's total_value is the straight line between the previous and
    next observed values; edges with only one neighbor stay NULL
    (interpolation needs both ends — extrapolating silently would
    fabricate trend).

    Two ignore-null window passes per event_type (backward carry of
    the previous observation and its day, forward carry of the next)
    feed one deterministic per-row blend, rounded at 6 dp. Observed
    days pass through exactly. Spine/grid from the shared
    ``_day_grid`` construction.
    """
    daily, grid = _day_grid(events)
    back = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fwd = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("_val").isNotNull(), F.col("day_idx"))
    joined = (
        grid.join(daily, ["day_idx", "event_type"], "left")
        .withColumn("_pv", F.last("_val", ignorenulls=True).over(back))
        .withColumn("_pd", F.last(obs_day, ignorenulls=True).over(back))
        .withColumn("_nv", F.first("_val", ignorenulls=True).over(fwd))
        .withColumn("_nd", F.first(obs_day, ignorenulls=True).over(fwd))
    )
    pv, nv = F.col("_pv").cast("double"), F.col("_nv").cast("double")
    frac = (F.col("day_idx") - F.col("_pd")) / (F.col("_nd") - F.col("_pd"))
    blended = F.when(
        F.col("_val").isNotNull(), F.col("_val").cast("double")
    ).otherwise(
        F.when(
            F.col("_pd").isNotNull() & F.col("_nd").isNotNull(),
            F.round(pv + (nv - pv) * frac, 6),
        )
    )
    return joined.select(
        (F.col("day_idx") * DAY_US).alias("day_us"),
        "event_type",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        blended.alias("total_value"),
    )


def value_outliers(events: DataFrame, exact: bool = False) -> DataFrame:
    """Events whose value exceeds their type's p99 — the standard
    threshold-from-the-data anomaly flag (fraud review queues, SLO
    breach detection): per-type percentiles (a types-row frame)
    broadcast back over one event scan. The comparison uses the
    ROUNDED p99 both engines agree on, so with ``exact=True`` the
    flagged set is engine-exact.

    DEFAULTS TO THE SKETCH PATH via ``event_value_summary`` (the
    exact/sketch facade convention): the exact single-buffer
    percentile puts a type's every value in one aggregation buffer —
    per-group OOM at the scale this module targets — so ``exact=True``
    is for oracle verification and known-small groups only. Same
    output schema either way; the scan side is unchanged.
    """
    p99 = event_value_summary(events, exact=exact).select(
        "event_type", "p99"
    )
    e = _ts_us(events)
    return (
        e.join(F.broadcast(p99), "event_type")
        .filter(F.col("value") > F.col("p99"))
        .select(
            "event_id",
            "event_type",
            "t_us",
            "value",
            "p99",
            # try_divide: a type that is >99% zeros has p99 = 0 while
            # positive values still pass the filter — NULL ratio, not
            # an ANSI divide-by-zero crash
            F.round(
                F.try_divide(F.col("value"), F.col("p99")), 6
            ).alias("exceed_ratio"),
        )
    )


def seasonal_profile(events: DataFrame) -> DataFrame:
    """Hour-of-day x day-of-week activity profile per event type — the
    seasonality fingerprint behind traffic forecasting, anomaly
    baselines ("is 3am Tuesday volume normal?"), and batch-window
    placement.

    Both calendar coordinates are PURE INTEGER epoch math —
    ``hour = (t_us mod day) div hour``, ``weekday = (epoch_day + 3)
    mod 7`` (epoch day 0 = Thursday, so +3 lands Monday = 0) — rather
    than engine date functions, which disagree across engines on
    week-start convention and timezone defaults. Integer-exact on any
    engine, UTC by construction.

    One scan, one partial-aggregated shuffle carrying at most
    |types| x 168 group rows regardless of event volume; the mean is
    the single float division at the output boundary.
    """
    e = _ts_us(events)
    grouped = (
        e.select(
            "event_type",
            F.expr(f"(t_us % {DAY_US}) div {HOUR_US}").alias("hour"),
            ((_day_idx_col() + 3) % 7).alias("weekday"),
            "value",
        )
        .groupBy("event_type", "weekday", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_money_value()).alias("_total"),
        )
    )
    return grouped.select(
        "event_type",
        "weekday",
        "hour",
        "n_events",
        F.col("_total").cast("double").alias("total_value"),
        F.round(
            F.col("_total").cast("double") / F.col("n_events"), 6
        ).alias("mean_value"),
    )


def value_outliers_mad(
    events: DataFrame, z_cut: float = 3.5, exact: bool = False
) -> DataFrame:
    """Robust per-type anomaly flags via the modified z-score
    (Iglewicz & Hoaglin's public 0.6745·(x − median)/MAD rule):
    unlike ``value_outliers``' p99 cut, the median/MAD baseline is
    insensitive to the outliers themselves, so a burst of extreme
    values can't drag its own threshold upward.

    Two grouped aggregations over the event scan (median, then median
    absolute deviation around it) — both per-type frames are tiny and
    broadcast back; the flagging pass is one scan. Median/MAD are
    ROUNDED to 6 dp before the comparison so the flagged set is
    engine-exact given the baseline.

    DEFAULTS TO ``percentile_approx`` medians (mergeable GK, fixed
    per-group state at any volume). ``exact=True`` uses the exact
    interpolating median — oracle verification only; it buffers each
    (type)'s values in one aggregation buffer, the
    ``value_percentiles`` caveat. Same output schema either way.

    Pure composition of the train/score split — the baseline
    estimator and the scoring expression live ONCE, in
    ``value_outlier_baseline`` + ``score_outliers_with_baseline``, so
    the inline op and the persisted-baseline/streaming path can never
    drift apart.
    """
    return score_outliers_with_baseline(
        events, value_outlier_baseline(events, exact=exact), z_cut
    )


def ewma_daily(events: DataFrame, alpha: float = 0.2) -> DataFrame:
    """Exponentially weighted moving average of daily value totals per
    event type — the classic smoothing baseline behind alerting
    ("is today's revenue off its trend?") and forecast seeding.

    EWMA is a sequential recurrence (y_t = α·x_t + (1−α)·y_{t−1}, y
    seeded with the first observation), which most engines can't
    window. Both engines CAN fold a list in order, so the recurrence
    runs as an ordered ``collect_list`` over the day window +
    ``aggregate`` fold — the identical left-to-right IEEE operation
    sequence on both sides, hence bit-identical results (rounded to
    6 dp at the boundary anyway).

    Scale shape: the fold runs on the AGGREGATED (type, day) frame —
    ≤ |types| × |days| rows regardless of event volume — after one
    partial-agg shuffle of the raw scan. The per-row list is the
    type's day-prefix (O(days²) per type in memory terms), bounded by
    the calendar, not the data.
    """
    # NULL- and NaN-value events carry no observation: a day whose
    # events were ALL NULL/NaN would aggregate total_value NULL,
    # which Spark's collect_list silently skips while DuckDB's list()
    # keeps — poisoning the oracle's fold NULL from that day on (and
    # crashing element_at when it is a type's FIRST day). Excluding
    # them up front makes a value-less day simply ABSENT from the
    # daily series (like a day with no events at all), identically
    # on both engines (oracle in lockstep).
    e = _ts_us(events).filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    daily = (
        e.select(
            "event_type",
            (_day_idx_col() * DAY_US).alias(
                "day_us"
            ),
            "value",
        )
        .groupBy("event_type", "day_us")
        .agg(F.sum(_money_value()).cast("double").alias("total_value"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    series = F.collect_list("total_value").over(w)
    ewma = F.aggregate(
        F.slice(series, 2, F.greatest(F.size(series) - 1, F.lit(0))),
        F.element_at(series, 1),
        lambda acc, x: F.lit(alpha) * x + F.lit(1.0 - alpha) * acc,
    )
    return daily.select(
        "event_type",
        "day_us",
        "total_value",
        F.round(ewma, 6).alias("ewma"),
    )


def conversion_latency(
    events: DataFrame,
    from_type: str = "view",
    to_type: str = "purchase",
    exact: bool = False,
) -> DataFrame:
    """Time-to-conversion report: for every ``from_type`` event, the
    forward as-of gap to the user's next ``to_type`` event, reduced
    to ONE row — conversion rate plus p50/p90 latency — the "how long
    does a view take to become a purchase" number a funnel page
    quotes next to its counts.

    Composes the (driver-verified) forward as-of join — one
    user-keyed shuffle, no inequality join — with a single global
    aggregate; only scalar counters and two percentiles leave the
    reduction. DEFAULTS to mergeable ``percentile_approx`` (the 1-row
    reduction otherwise buffers every gap in one aggregation state);
    ``exact=True`` keeps the interpolating percentile for the oracle
    gate, identical schema.
    """
    j = asof_join(
        events, left_type=from_type, right_type=to_type, direction="forward"
    )
    ps = F.array(F.lit(0.5), F.lit(0.9))
    pct = (
        F.percentile("gap_us", ps)
        if exact
        else F.percentile_approx("gap_us", ps).cast("array<double>")
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_from_events"),
        F.count("gap_us").alias("n_converted"),
        pct.alias("_p"),
    ).select(
        "n_from_events",
        "n_converted",
        F.round(
            F.try_divide(F.col("n_converted"), F.col("n_from_events")), 6
        ).alias("conversion_rate"),
        F.round(F.col("_p")[0], 6).alias("p50_gap_us"),
        F.round(F.col("_p")[1], 6).alias("p90_gap_us"),
    )


def value_outlier_baseline(
    events: DataFrame, exact: bool = False
) -> DataFrame:
    """The train-offline half of robust outlier detection: per-type
    rounded median and MAD (see ``value_outliers_mad`` for the
    estimator; ``exact`` selects the same GK-vs-interpolating median
    pair so split scoring matches the inline op under either
    precision). Persist this tiny frame (|types| rows) on a schedule;
    live scoring then needs NO aggregation at all — see
    ``score_outliers_with_baseline``."""
    med_of = (
        (lambda col: F.percentile(col, F.lit(0.5)))
        if exact
        else (lambda col: F.percentile_approx(col, F.lit(0.5)))
    )
    e = _ts_us(events)
    med = e.groupBy("event_type").agg(
        F.round(med_of(F.col("value")), 6).alias("med")
    )
    return (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("med").alias("med"),
            F.round(
                med_of(F.abs(F.col("value") - F.col("med"))),
                6,
            ).alias("mad"),
        )
    )


def score_outliers_with_baseline(
    events: DataFrame, baseline: DataFrame, z_cut: float = 3.5
) -> DataFrame:
    """Score-online half: flag events against a PRECOMPUTED med/MAD
    baseline with a stateless broadcast join + filter — no
    aggregation, no watermark, so the identical expression scores a
    batch frame AND a Structured Streaming frame (the live anomaly
    gate; companion to ``dsir_score_with_model`` and the PCA model
    split). Types absent from the baseline or with mad = 0 pass
    through unflagged-and-dropped, matching ``value_outliers_mad``.
    """
    e = _ts_us(events)
    z = F.round(
        F.lit(0.6745) * (F.col("value") - F.col("med")) / F.col("mad"), 6
    )
    return (
        e.join(F.broadcast(baseline), "event_type")
        .filter(F.col("mad") > 0)
        .withColumn("mod_z", z)
        .filter(F.abs(F.col("mod_z")) > z_cut)
        .select(
            "event_id", "event_type", "t_us", "value", "med", "mad", "mod_z"
        )
    )


def event_mix_drift(
    events: DataFrame, cut_us: int = 1_705_363_200_000_000
) -> DataFrame:
    """Event-type mix shift across a time cut — "did the traffic
    composition change after the release" (the event-stream twin of
    ``vocab_drift``): per type, event counts and share of traffic
    before/after ``cut_us``, and the share delta.

    ONE scan with conditional integer aggregates (no second pass per
    side), a 1-row totals broadcast, and one division per share at
    the boundary — engine-exact at any partitioning. Default cut:
    2024-01-16 UTC, the midpoint of the testdata's event range.
    """
    e = _ts_us(events)
    # when/otherwise, not a bare boolean cast: (NULL < cut) is NULL,
    # and sum would then count a NULL-ts event in NEITHER side while
    # the oracle's CASE ELSE routes it to "after" — counts and shares
    # would silently diverge (the ks_drift idiom, applied here too)
    before = F.when(F.col("t_us") < cut_us, 1).otherwise(0)
    per_type = e.groupBy("event_type").agg(
        F.sum(before).alias("n_before"),
        F.sum(F.lit(1) - before).alias("n_after"),
    )
    # two consumers (totals + the share join) — pin the types-row agg
    per_type = local_checkpoint(per_type, eager=False)
    totals = per_type.agg(
        F.sum("n_before").alias("_tb"), F.sum("n_after").alias("_ta")
    )
    share_b = F.when(
        F.col("_tb") > 0,
        F.round(F.col("n_before") / F.col("_tb"), 6),
    ).otherwise(0.0)
    share_a = F.when(
        F.col("_ta") > 0,
        F.round(F.col("n_after") / F.col("_ta"), 6),
    ).otherwise(0.0)
    return per_type.join(F.broadcast(totals)).select(
        "event_type",
        "n_before",
        "n_after",
        share_b.alias("share_before"),
        share_a.alias("share_after"),
        F.round(share_a - share_b, 6).alias("share_delta"),
    )


def daily_value_percentiles(
    events: DataFrame, exact: bool = False
) -> DataFrame:
    """Per (event_type, UTC day) exact interpolated p50/p95 of event
    value — the latency-dashboard shape ("p95 by day") one grain
    finer than ``value_percentiles``.

    DEFAULTS to per-(type, day) ``percentile_approx`` (mergeable GK —
    even an ultra-hot type-day keeps fixed aggregation state).
    ``exact=True`` uses interpolating ``F.percentile`` per group,
    matching DuckDB's ``quantile_cont`` bit-for-bit after 6-dp
    rounding — the oracle gate; its per-group buffers hold one day of
    one type, so it survives much deeper into scale than a global
    exact percentile. Same output schema either way.

    One scan → one partial-aggregated shuffle on (type, day).
    """
    e = _ts_us(events)
    ps = F.array(F.lit(0.5), F.lit(0.95))
    pct = (
        F.percentile("value", ps)
        if exact
        else F.percentile_approx("value", ps).cast("array<double>")
    )
    agg = e.groupBy(
        "event_type", _day_idx_col().alias("day_idx")
    ).agg(pct.alias("_p"), F.count(F.lit(1)).alias("n_events"))
    return agg.select(
        "event_type",
        (F.col("day_idx") * DAY_US).alias("day_us"),
        "n_events",
        F.round(F.col("_p")[0], 6).alias("p50"),
        F.round(F.col("_p")[1], 6).alias("p95"),
    )


def equidepth_histogram(
    events: DataFrame, bins: int = 10, exact: bool = False
) -> DataFrame:
    """Equi-DEPTH value histogram per event type: ``bins`` buckets
    holding (near-)equal row counts, with each bucket's value range —
    the companion to ``value_histogram``'s fixed-width (equi-WIDTH)
    bins. Equi-depth edges are what optimizers keep as column
    statistics and what monitoring wants when the distribution is
    heavy-tailed (fixed-width puts 99% of rows in one bin).

    DEFAULTS TO THE SKETCH PATH: per-type ``percentile_approx`` edges
    (mergeable GK, one partial-agg shuffle) broadcast back into a
    value-range bin projection + one (type, bin) aggregate — no
    per-type sort, safe when one event type dominates the stream.
    Bucket populations are then only near-equal (edge ties land low).

    ``exact=True`` assigns via ``ntile(bins)`` over the total order
    (value, event_id) — the tie-break makes bucket membership
    parallelism-invariant, so min/max/count per bucket are
    engine-exact (no floats until the output boundary). Use it for
    oracle verification or types known to fit one task; the per-type
    ntile window is a per-type sort. Same output schema either way.
    """
    # NULL values are excluded: they have no place on the value
    # axis, and the exact path's ntile would put them in bin 1 on
    # Spark (NULLS FIRST) but the LAST bin on DuckDB (NULLS LAST),
    # shifting every bucket boundary by the NULL count (oracle in
    # lockstep)
    e = _ts_us(events).filter(F.col("value").isNotNull())
    if bins < 2:  # degenerate: no edges to cut, one bucket — hoisted
        # ABOVE the exact branch so both precision modes agree
        # (exact=True used to reach ntile(bins<=0) and fail at
        # runtime; "same output schema either way" promised otherwise)
        binned = e.select("event_type", "value", F.lit(1).alias("bin"))
    elif exact:
        w = Window.partitionBy("event_type").orderBy("value", "event_id")
        binned = e.select(
            "event_type", "value", F.ntile(bins).over(w).alias("bin")
        )
    else:
        fr = ", ".join(str(i / bins) for i in range(1, bins))
        edges = e.groupBy("event_type").agg(
            F.expr(f"percentile_approx(value, array({fr}))").alias("_edges")
        )
        binned = e.join(F.broadcast(edges), "event_type").select(
            "event_type",
            "value",
            (
                F.size(F.filter("_edges", lambda c: c < F.col("value"))) + 1
            ).alias("bin"),
        )
    return binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.min("value"), 6).alias("lo"),
        F.round(F.max("value"), 6).alias("hi"),
    )


def seasonal_anomaly(
    events: DataFrame, low: float = 0.5, high: float = 2.0
) -> DataFrame:
    """Daily volume anomaly flags per event type against the type's
    own day-of-week seasonal baseline — the consumer of
    ``seasonal_profile``'s fingerprint: "is Tuesday's volume normal
    *for a Tuesday*?". A day flags when its event count falls outside
    [low, high] × the mean daily count of that (type, weekday) cell.

    Two aggregates over the same scan lineage: (type, day) daily
    counts (|types|×|days| rows), then (type, weekday) baseline means
    over THAT frame (≤ |types|×7 rows, broadcast back). The ratio is
    one division, rounded to 6 dp BEFORE the cut so the flag is
    engine-exact; weekday uses the same pure-integer epoch math as
    ``seasonal_profile`` (Monday = 0, UTC by construction).

    Note the baseline includes the day being judged (a transparency
    choice, not leakage — it's a descriptive report; for a strict
    out-of-sample monitor, compute the baseline on a trailing
    window via ``value_outlier_baseline``'s offline/online split).
    """
    e = _ts_us(events)
    daily = e.groupBy(
        "event_type", _day_idx_col().alias("day_idx")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    # two consumers (the weekday baseline + the flag join) — pin the
    # (type, day) aggregate or the raw scan re-runs per consumer
    daily = daily.withColumn(
        "weekday", F.expr("(day_idx + 3) % 7")
    ).transform(local_checkpoint, eager=False)
    base = daily.groupBy("event_type", "weekday").agg(
        F.sum("n_events").alias("_tot"), F.count(F.lit(1)).alias("_days")
    )
    joined = daily.join(F.broadcast(base), ["event_type", "weekday"])
    mean_c = F.round(F.col("_tot").cast("double") / F.col("_days"), 6)
    ratio = F.round(F.col("n_events") / mean_c, 6)
    return joined.select(
        "event_type",
        (F.col("day_idx") * DAY_US).alias("day_us"),
        "weekday",
        "n_events",
        mean_c.alias("baseline_mean"),
        ratio.alias("ratio"),
        ((ratio < low) | (ratio > high)).alias("is_anomaly"),
    )


def time_gaps(
    events: DataFrame,
    min_gap_us: int = HOUR_US,
    coarse_us: int | None = None,
) -> DataFrame:
    """Stream-outage report: per event type, every silence in the
    stream longer than ``min_gap_us`` — the "did the collector stop
    sending for six hours" monitor a pipeline page next to its volume
    charts (the reference's dashboard has no liveness view at all;
    this is the operational twin of ``fill_missing_days``, at event
    grain instead of day grain).

    Consecutive-event deltas via one ``lag`` window per type, ordered
    by the TOTAL key (t_us, event_id) so equal-µs ties are
    deterministic at any parallelism (tied rows yield a 0 delta and
    can never flag). Pure integer µs arithmetic end to end —
    engine-exact, no rounding anywhere.

    Scale shape: ONE shuffle partitioned by event_type; the per-type
    window over raw events is the honest cost of exact adjacency. At
    100 TB with few types pass ``coarse_us`` (e.g. 60_000_000 for
    minute grain): events pre-aggregate to DISTINCT (type, floored
    bucket) before the window — the sorted frame shrinks from event
    count to active-bucket count, and any true gap longer than
    ``min_gap_us + coarse_us`` still surfaces (a reported coarse gap
    is bucket-start to bucket-start; require ``coarse_us`` ≤ the
    monitoring slack below ``min_gap_us``). Exact µs endpoints need
    the default path.
    """
    e = _ts_us(events)
    if coarse_us is not None:
        e = (
            e.select(
                "event_type",
                (F.col("t_us") - F.col("t_us") % F.lit(coarse_us)).alias(
                    "t_us"
                ),
            )
            .distinct()
            .withColumn("event_id", F.lit(0))
        )
    w = Window.partitionBy("event_type").orderBy("t_us", "event_id")
    gapped = e.select(
        "event_type",
        F.lag("t_us").over(w).alias("gap_start_us"),
        F.col("t_us").alias("gap_end_us"),
    ).withColumn("gap_us", F.col("gap_end_us") - F.col("gap_start_us"))
    return gapped.filter(F.col("gap_us") > min_gap_us).select(
        "event_type", "gap_start_us", "gap_end_us", "gap_us"
    )


def merge_intervals(
    events: DataFrame, ttl_us: int = 30 * 60 * 1_000_000
) -> DataFrame:
    """Interval-union coverage per user: extend every event to the
    span ``[t_us, t_us + ttl_us)`` and merge overlapping/touching
    spans into maximal islands — presence/uptime coverage ("when was
    this user's device reporting"), the duration-interval twin of
    gap-based ``sessionize`` (which clusters POINTS by inter-event
    gap; this unions SPANS, the classic gaps-and-islands construction
    over [start, end) intervals).

    A new island starts where an interval's start exceeds the running
    maximum of all previous interval ends (one ``max`` window), and a
    running sum of those starts numbers the islands (one ``sum``
    window over the same (user, time, id) total order) — both windows
    share ONE user-keyed sort, then a (user, island) aggregate emits
    the island bounds. All integer µs arithmetic: engine-exact.

    Scale shape: one shuffle on user_id; per-user data is
    human-bounded. ``covered_us = end - start`` sums to the user's
    total presence without double-counting overlaps — the number raw
    ``count(*) × ttl`` overstates.
    """
    # a NULL-ts event has no presence span: dropped explicitly, or
    # Spark's NULLS-FIRST window order would mint a phantom
    # NULL-bounds island while DuckDB's NULLS-LAST merges the row
    # into the user's LAST island (r12 review find; oracle in
    # lockstep)
    e = (
        _ts_us(events)
        .filter(F.col("t_us").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.col("t_us").alias("start_us"),
            (F.col("t_us") + F.lit(ttl_us)).alias("end_us"),
        )
    )
    order = Window.partitionBy("user_id").orderBy("start_us", "event_id")
    prev_max_end = F.max("end_us").over(
        order.rowsBetween(Window.unboundedPreceding, -1)
    )
    tagged = e.withColumn(
        "new_island",
        F.when(
            prev_max_end.isNull() | (F.col("start_us") > prev_max_end),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    island = F.sum("new_island").over(
        order.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        tagged.withColumn("island", island)
        .groupBy("user_id", "island")
        .agg(
            F.min("start_us").alias("start_us"),
            F.max("end_us").alias("end_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .withColumn("covered_us", F.col("end_us") - F.col("start_us"))
    )


def m4_downsample(events: DataFrame, n_buckets: int = 100) -> DataFrame:
    """M4 visualization-oriented downsampling (Jugel et al., VLDB
    2014): split each type's time range into ``n_buckets`` equal
    pixel buckets and keep, per bucket, the first/last points (by
    time) and the min/max values — the four extrema that make a
    line-chart rendering of the reduced series pixel-identical to
    the full series. The dashboard-serving answer to "don't ship a
    million points to the browser".

    One tiny per-type (min, max) time agg broadcast back (the pixel
    grid), then ONE (type, bucket) aggregate over the scan carrying
    four struct-extrema — lexicographic struct min/max with event_id
    tie-breaks, so every selected point is deterministic at any
    parallelism. Values pass through untouched (no float arithmetic):
    engine-exact.

    Scale shape: one broadcast + one partial-agg shuffle bounded by
    |types| × n_buckets rows regardless of event volume.
    """
    e = _ts_us(events)
    span = e.groupBy("event_type").agg(
        F.min("t_us").alias("_t0"), F.max("t_us").alias("_t1")
    )
    # the (offset × n_buckets) product runs in DECIMAL(38,0): a year
    # of µs (~3e13) × a million pixels overflows BIGINT (9.2e18)
    # under ANSI mode; decimal keeps the division exact (no
    # double-rounding at bucket boundaries) at any span × resolution
    bucket = F.least(
        F.lit(n_buckets - 1),
        F.expr(
            f"(CAST(t_us - _t0 AS DECIMAL(38,0)) * {n_buckets}) div "
            "(CASE WHEN _t1 > _t0 THEN _t1 - _t0 ELSE 1 END)"
        ),
    ).cast("int")
    binned = e.join(F.broadcast(span), "event_type").select(
        "event_type",
        bucket.alias("bucket"),
        "t_us",
        "event_id",
        "value",
    )
    first_s = F.min(F.struct("t_us", "event_id", "value"))
    last_s = F.max(F.struct("t_us", "event_id", "value"))
    # NULL-value rows are excluded from the min candidate set: a
    # struct min would rank (NULL, ...) FIRST (Spark sorts struct
    # fields nulls-first asc) and return v_min = NULL for any bucket
    # containing one NULL value, while the oracle's MIN(value)
    # ignores NULLs — the chart would silently lose its true low.
    vmin_s = F.min(
        F.when(
            F.col("value").isNotNull(),
            F.struct("value", "event_id", "t_us"),
        )
    )
    vmax_s = F.max(F.struct("value", "event_id", "t_us"))
    return binned.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("n_events"),
        first_s.getField("t_us").alias("t_first_us"),
        first_s.getField("value").alias("v_first"),
        last_s.getField("t_us").alias("t_last_us"),
        last_s.getField("value").alias("v_last"),
        vmin_s.getField("value").alias("v_min"),
        vmax_s.getField("value").alias("v_max"),
    )


def ks_drift(
    events: DataFrame,
    cut_us: int = 1_705_363_200_000_000,
    d_cut: float = 0.1,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test per event type across
    a time cut: did the VALUE DISTRIBUTION shift after the release?
    The distribution-shape companion to ``event_mix_drift`` (which
    only sees composition) and ``profile_drift`` (which only sees
    bounds/null-rates) — KS catches a variance blow-up or a bimodal
    split that leaves counts and means untouched.

    D = max_x |F_before(x) − F_after(x)| evaluated exactly: collapse
    to DISTINCT values first (per-value side counts — the tie-correct
    evaluation points; a per-row cumsum over arbitrary tie order
    would inflate D), then one per-type window cumsum and a max over
    the INTEGER cross product |c_b·n_a − c_a·n_b| — division by
    n_b·n_a happens once, on the final scalar, rounded to 6 dp, so
    the statistic and the flag are engine-exact.

    Scale shape: one (type, value) partial-agg shuffle (distinct
    values ≪ events), one per-type window over that reduced frame,
    one |types|-row output. At extreme per-type value cardinality,
    pre-quantize values to a fixed grid — D changes by at most one
    grid cell's mass.
    """
    # NULL values carry no position on the value axis — and the two
    # engines would ORDER them to opposite ends of the cumulative
    # window (Spark NULLS FIRST asc, DuckDB NULLS LAST), silently
    # shifting every prefix and the statistic. Excluded on BOTH
    # sides (oracle in lockstep); NULL-ts rows still count as
    # "after", matching the oracle's CASE ELSE.
    e = _ts_us(events).filter(F.col("value").isNotNull())
    # two consumers (totals + the cumulative window) — pin or the
    # raw-event scan re-runs per consumer
    per_value = e.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("t_us") < cut_us, 1).otherwise(0)).alias("d_b"),
        F.sum(F.when(F.col("t_us") < cut_us, 0).otherwise(1)).alias("d_a"),
    ).transform(local_checkpoint, eager=False)
    totals = per_value.groupBy("event_type").agg(
        F.sum("d_b").alias("n_before"), F.sum("d_a").alias("n_after")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = per_value.select(
        "event_type",
        F.sum("d_b").over(w).alias("c_b"),
        F.sum("d_a").over(w).alias("c_a"),
    )
    per_type = (
        cum.join(F.broadcast(totals), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("n_before").alias("n_before"),
            F.first("n_after").alias("n_after"),
            # DECIMAL(38,0): BIGINT c_b*n_after overflows past ~3e9
            # events per side (ANSI crash / silent wrap) — the same
            # guard m4_downsample applies to its bucket product
            F.max(
                F.abs(
                    F.col("c_b").cast("decimal(38,0)") * F.col("n_after")
                    - F.col("c_a").cast("decimal(38,0)")
                    * F.col("n_before")
                )
            ).alias("_num"),
        )
    )
    # try_divide: a type with ALL events on one side of the cut (the
    # brand-new-event-type case a drift monitor exists to catch) has
    # an undefined KS statistic — NULL ks_d/drifted, not an ANSI
    # divide-by-zero crash
    ks_d = F.round(
        F.try_divide(
            F.col("_num"),
            F.col("n_before").cast("double") * F.col("n_after"),
        ),
        6,
    )
    return per_type.select(
        "event_type",
        "n_before",
        "n_after",
        ks_d.alias("ks_d"),
        (ks_d > d_cut).alias("drifted"),
    )


def dayn_retention(
    events: DataFrame, offsets: tuple[int, ...] = (1, 3, 7, 14)
) -> DataFrame:
    """Day-N retention curve: of the users ELIGIBLE to return N days
    after their first-seen day (their day-0 plus N fits inside the
    data's time range), what fraction had any activity exactly on
    day N? The product-analytics companion to the monthly
    ``cohort_retention`` matrix, at event/day grain and reduced to
    one row per offset — the "D1/D7/D30" numbers a growth dashboard
    headlines.

    Eligibility matters: without the ``first_day + N ≤ max_day``
    filter the late cohorts structurally drag D14 toward zero. All
    day arithmetic is integer epoch-day math; the single float is the
    final rate division, rounded to 6 dp — engine-exact.

    Scale shape: one distinct (user, day) shuffle of the scan, a
    per-user min (same shuffle key), then a (user, probe-day)
    equi-join — probes are |users| × |offsets| rows. The max-day
    scalar rides a 1-row broadcast.
    """
    e = _ts_us(events)
    # THREE consumers (firsts, max_day, the active probe join) — pin
    # or the distinct scan re-runs per consumer
    days = e.select(
        "user_id", _day_idx_col().alias("day_idx")
    ).distinct().transform(local_checkpoint, eager=False)
    firsts = days.groupBy("user_id").agg(F.min("day_idx").alias("first_day"))
    max_day = days.agg(F.max("day_idx").alias("max_day"))
    probes = (
        firsts.crossJoin(F.broadcast(max_day))
        .select(
            "user_id",
            "first_day",
            "max_day",
            F.explode(
                F.array(*[F.lit(o) for o in offsets])
            ).alias("offset_days"),
        )
        .filter(F.col("first_day") + F.col("offset_days") <= F.col("max_day"))
        .withColumn("day_idx", F.col("first_day") + F.col("offset_days"))
    )
    active = days.withColumn("active", F.lit(1))
    joined = probes.join(active, ["user_id", "day_idx"], "left")
    agg = joined.groupBy("offset_days").agg(
        F.count(F.lit(1)).alias("n_eligible"),
        F.sum(F.coalesce("active", F.lit(0))).alias("n_retained"),
    )
    # offsets SPINE: an offset no user is yet eligible for (data
    # younger than D14) must come back as an n_eligible=0 row, not
    # silently vanish from the curve — "one row per offset" is the
    # contract a dashboard iterates
    spine = (
        events.sparkSession.range(1)
        .select(
            F.explode(F.array(*[F.lit(o) for o in offsets])).alias(
                "offset_days"
            )
        )
    )
    return (
        spine.join(agg, "offset_days", "left")
        .select(
            "offset_days",
            F.coalesce("n_eligible", F.lit(0))
            .cast("long")
            .alias("n_eligible"),
            F.coalesce("n_retained", F.lit(0))
            .cast("long")
            .alias("n_retained"),
            F.round(
                F.try_divide(
                    F.coalesce("n_retained", F.lit(0)),
                    F.coalesce("n_eligible", F.lit(0)),
                ),
                6,
            ).alias("retention"),
        )
    )


def cusum_changepoint(events: DataFrame) -> DataFrame:
    """Single change-point location per event type via the CUSUM
    statistic (Page 1954 / the textbook MLE for one mean shift):
    the day t maximizing |Σ_{i≤t} x_i − (t/n)·Σx| over the daily
    value totals — "when did this metric's level actually move",
    the localization step after ``ks_drift``/``seasonal_anomaly``
    say *that* something moved.

    Exactness: the maximized statistic is evaluated SCALED BY n —
    ``|n·prefix_t − t·S|`` — which is pure DECIMAL×INTEGER
    arithmetic (same argmax, no division inside the ordering), so
    the selected day is engine-exact; the reported peak height
    divides back and rounds only at the output boundary. Ties take
    the earliest day (total order).

    Scale shape: one partial-agg shuffle to the (type, day) frame,
    then two windows sharing one per-type sort over that reduced
    frame (≤ |types| × |days| rows) and a 1-row-per-type rank cut.
    """
    e = _ts_us(events)
    daily = (
        e.select(
            "event_type",
            _day_idx_col().alias("day_idx"),
            "value",
        )
        .groupBy("event_type", "day_idx")
        .agg(F.sum(_money_value()).cast("decimal(28,2)").alias("x"))
        # two consumers (totals + the cumulative select) — pin the
        # aggregated frame or the raw scan re-runs per consumer
        .transform(local_checkpoint, eager=False)
    )
    totals = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(10,0)").alias("n"),
        F.sum("x").cast("decimal(28,2)").alias("s"),
    )
    order = Window.partitionBy("event_type").orderBy("day_idx")
    cum = daily.select(
        "event_type",
        "day_idx",
        F.row_number().over(order).cast("decimal(10,0)").alias("t"),
        F.sum("x")
        .over(order.rowsBetween(Window.unboundedPreceding, 0))
        .cast("decimal(28,2)")
        .alias("prefix"),
    )
    stat = cum.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "day_idx",
        "n",
        F.abs(
            F.col("n") * F.col("prefix") - F.col("t") * F.col("s")
        ).alias("abs_stat"),
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.col("abs_stat").desc(), F.col("day_idx")
    )
    return (
        stat.withColumn("_rn", F.row_number().over(pick))
        .filter(F.col("_rn") == 1)
        .select(
            "event_type",
            (F.col("day_idx") * DAY_US).alias("cp_day_us"),
            F.col("n").cast("bigint").alias("n_days"),
            F.round(
                F.col("abs_stat").cast("double") / F.col("n").cast("double"),
                6,
            ).alias("cusum_peak"),
        )
    )


def trend_fit(events: DataFrame) -> DataFrame:
    """Per-type ordinary-least-squares daily trend: slope (value/day),
    intercept, and R² of the line through (epoch-day, daily total) —
    the "is this metric growing, and how fast" number behind every
    capacity forecast, fitted in closed form with NO iteration.

    Same exactness discipline as ``numeric_corr``: all five
    co-moments accumulate in DECIMAL/INTEGER (the x side — epoch
    days — is pure integer), and the closed form
    ``slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)`` runs once per type
    on the aggregated row with the identical operation order in the
    oracle — engine-exact at 6 dp. A single-day type has zero x
    variance → NULL slope/intercept/r2 via try_divide, not a crash.

    Scale shape: one partial-agg shuffle to (type, day), one tiny
    per-type aggregate; output is |types| rows.
    """
    e = _ts_us(events)
    daily = (
        e.select(
            "event_type",
            _day_idx_col().alias("x"),
            "value",
        )
        .groupBy("event_type", "x")
        .agg(F.sum(_money_value()).cast("decimal(28,2)").alias("y"))
    )
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x").cast("decimal(10,0)") * F.col("y"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den_x = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = F.try_divide(num, den_x.cast("double"))
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    r2 = F.try_divide(num * num, den_x.cast("double") * den_y)
    return m.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def user_streaks(events: DataFrame) -> DataFrame:
    """Per-user consecutive-day activity streaks — the engagement
    metric behind "7-day streak" product mechanics and the per-user
    drill-down under ``dayn_retention``'s aggregate curve. Reports
    each user's active-day count, number of distinct streaks, and
    longest streak.

    The other classic gaps-and-islands construction (``sessionize``
    groups by gap, ``merge_intervals`` unions spans): over distinct
    (user, day), ``day − row_number()`` is constant exactly within a
    run of consecutive days, so one window + two integer aggregates
    finish the job. All-integer: engine-exact.

    Scale shape: one distinct (user, day) shuffle; the window and
    both aggregates stay on that user-keyed frame.
    """
    e = _ts_us(events)
    days = e.select(
        "user_id", _day_idx_col().alias("day_idx")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day_idx")
    runs = days.withColumn(
        "island", F.col("day_idx") - F.row_number().over(w)
    )
    streaks = runs.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("len").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").alias("max_streak"),
    )


def dau_new_vs_returning(events: DataFrame) -> DataFrame:
    """Daily active users split into NEW (first-ever-seen that day)
    vs RETURNING — the growth-accounting view of ``daily_active_users``
    (is the DAU line new acquisition or retention?), feeding the same
    dashboard as ``dayn_retention``.

    One distinct (user, day) shuffle; each user's first day is a
    per-user min over that frame (same shuffle key, no extra
    exchange), and the day-grain aggregate counts the split. The
    share is the single rounded division. All-integer otherwise.
    """
    e = _ts_us(events)
    days = e.select(
        "user_id", _day_idx_col().alias("day_idx")
    ).distinct()
    w = Window.partitionBy("user_id")
    tagged = days.withColumn(
        "is_new",
        # coalesce: the NULL-ts day group compares NULL == min → NULL,
        # which would ripple NULL n_new/n_returning/new_share while
        # the oracle's CASE ... ELSE 0 yields 0 (r12 review find)
        F.coalesce(
            (F.col("day_idx") == F.min("day_idx").over(w)).cast("int"),
            F.lit(0),
        ),
    )
    return (
        tagged.groupBy("day_idx")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum("is_new").alias("n_new"),
            (F.count(F.lit(1)) - F.sum("is_new")).alias("n_returning"),
        )
        .withColumn(
            "new_share", F.round(F.col("n_new") / F.col("n_active"), 6)
        )
        .select(
            (F.col("day_idx") * DAY_US).alias("day_us"),
            "n_active",
            "n_new",
            "n_returning",
            "new_share",
        )
    )


def interarrival_stats(
    events: DataFrame, exact: bool = False
) -> DataFrame:
    """Per-type inter-arrival-time distribution (p50/p90/p99 and mean
    µs between consecutive events) — the rate-stability report behind
    ``time_gaps``' binary outage flags: a drifting p99 warns BEFORE
    the stream goes silent enough to flag a gap.

    One lag window per type over the (t_us, event_id) total order
    (equal-µs ties contribute 0-µs deltas — the honest reading of
    simultaneous arrivals); integer deltas, three percentiles + one
    mean division rounded at the boundary. DEFAULTS to mergeable
    ``percentile_approx`` per type (fixed group state for a hot
    type); ``exact=True`` keeps the interpolating percentile for the
    oracle gate, identical schema.

    SCALE NOTE (same trade ``time_gaps`` documents): the lag window
    partitions by event_type only, so one hot type's events sort in
    one task. For billions-of-rows-per-type streams, pre-aggregate to
    a coarse time grid first (``time_gaps(coarse_us=...)`` is the
    gap-flag path) or sessionize per user — a raw per-type total
    order is inherently single-task per type.
    """
    pctl = pctl_fn(exact)
    e = _ts_us(events)
    w = Window.partitionBy("event_type").orderBy("t_us", "event_id")
    deltas = e.select(
        "event_type",
        (F.col("t_us") - F.lag("t_us").over(w)).alias("delta_us"),
    ).filter(F.col("delta_us").isNotNull())
    agg = deltas.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(pctl(F.col("delta_us"), F.lit(0.5)), 6).alias("p50_us"),
        F.round(pctl(F.col("delta_us"), F.lit(0.9)), 6).alias("p90_us"),
        F.round(pctl(F.col("delta_us"), F.lit(0.99)), 6).alias("p99_us"),
        F.sum("delta_us").alias("_sum"),
    )
    # mean as INTEGER division: at µs scale the fractional part is
    # noise, and a rounded double mean of a ~1e10 value sits past
    # double's representable 6-dp precision — engines disagree in the
    # last ulp. Floor-div of exact integer sums is bit-identical.
    return agg.select(
        "event_type",
        "n_gaps",
        "p50_us",
        "p90_us",
        "p99_us",
        F.expr("_sum div n_gaps").alias("mean_us"),
    )
