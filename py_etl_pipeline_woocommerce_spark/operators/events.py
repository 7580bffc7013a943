"""Event-payload normalization + windowed aggregation (batch side).

``parse_event_props`` is the engine's JSON-payload normalizer — the
same job the reference's ``normalize_orders`` does for Woo order JSON
(``normalize_orders.py:13``), applied to the ``events.props`` JSON
column. ``event_window_agg`` is the batch twin of the streaming
windowed aggregation in ``streaming/events.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.frames import local_checkpoint
from ..functions.money import dec_money
from ..functions.timeutil import TS_US_FLOOR as _TS_US_FLOOR


def parse_event_props(events: DataFrame) -> DataFrame:
    """Typed projection of raw events + extracted JSON prop.

    Extraction uses a regexp (identical semantics in the SQL oracle);
    ``from_json`` would be equivalent but regexp keeps the oracle
    twin byte-for-byte portable.
    """
    # ts arrives as epoch-ns BIGINT (session.py nanosAsLong); emit
    # epoch-µs (true integer FLOOR — see _TS_US_FLOOR).
    return events.select(
        "event_id",
        "user_id",
        "event_type",
        F.expr(_TS_US_FLOOR).alias("ts_us"),
        F.col("value"),
        # try_cast, not cast: a payload without a numeric "k" makes
        # regexp_extract return '' and under ANSI a plain cast would
        # abort the whole normalization job on ONE malformed row —
        # exactly the input a JSON normalizer exists to tolerate
        # (DuckDB TRY_CAST('' AS BIGINT) is NULL too, oracle in
        # lockstep)
        F.regexp_extract("props", r'"k":\s*(\d+)', 1)
        .try_cast("bigint")
        .alias("prop_k"),
    )


def event_window_agg(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour windows per event_type: count + exact value sum.

    Batch parity of the streaming watermark aggregation; hour
    truncation + groupBy is a single map-side-combined shuffle.
    """
    hour_us = 3_600_000_000
    ts_us = F.expr(_TS_US_FLOOR)
    # pmod, not %: the remainder operator follows the dividend's sign,
    # so a negative timestamp would anchor to a window STARTING AFTER
    # the event; pmod floors the anchor for either sign
    return (
        events.groupBy(
            (ts_us - F.pmod(ts_us, F.lit(hour_us))).alias("window_start_us"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec_money("value")).cast("double").alias("total_value"),
        )
    )


def hopping_window_agg(
    events: DataFrame,
    window_us: int = 3_600_000_000,
    hop_us: int = 1_800_000_000,
) -> DataFrame:
    """Hopping (sliding) windows: 1-hour windows advancing every 30
    minutes — each event lands in ``window/hop`` overlapping windows.

    The window membership explode is a ``sequence`` of the k window
    starts covering the event (pure integer arithmetic — identical in
    any engine), then the same map-side-combined agg as the tumbling
    case. Fan-out is the fixed ⌈window/hop⌉ ratio (2 here) — CEILING,
    because when hop doesn't divide window an event near the start of
    its hop bucket still falls inside one extra earlier window (the
    in-window filter below trims candidates that overshoot) — so the
    shuffled volume is a fixed small multiple of the input regardless
    of scale: the standard streaming-SQL hopping-window plan.
    """
    n = -(-window_us // hop_us)  # ceil
    ts_us = F.expr(_TS_US_FLOOR)
    # pmod (not %) so negative timestamps anchor at-or-below the event
    anchor = ts_us - F.pmod(ts_us, F.lit(int(hop_us)))
    starts = F.sequence(
        F.lit(0).cast("bigint"), F.lit(int(n - 1)).cast("bigint")
    )
    exploded = events.select(
        "event_type",
        F.col("value"),
        F.explode(
            F.transform(starts, lambda k: anchor - k * F.lit(int(hop_us)))
        ).alias("window_start_us"),
        ts_us.alias("_ts_us"),
    ).filter(F.col("_ts_us") < F.col("window_start_us") + F.lit(int(window_us)))
    return exploded.groupBy("window_start_us", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec_money("value")).cast("double").alias("total_value"),
    )


def funnel_steps(
    events: DataFrame, max_gap_us: int | None = None
) -> DataFrame:
    """Ordered funnel view → click → purchase: per stage, the number
    of users who completed it in sequence (a later stage only counts
    events at/after the user's earliest qualifying previous stage).
    With ``max_gap_us``, each step must additionally land within that
    window of the previous step's time — the conversion-window funnel
    every product-analytics tool defaults to (an unconstrained funnel
    credits a purchase months after the click).

    Three per-user aggregations chained by join — each stage frame is
    one row per surviving user, strictly shrinking, so the joins get
    cheaper down the funnel and AQE broadcasts the later stages. No
    window over the whole event stream: the per-user min is a
    map-side-combinable agg, robust to power-user skew. The gap
    constraint is a filter on the already-joined frame — plan shape
    unchanged.
    """
    # NULL user_id / NULL ts rows are unattributable: the NULL group
    # would count as a stage-1 "user" that no equi-join can ever
    # convert, inflating the funnel top (and the streaming twins
    # drop exactly these rows)
    e = events.filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    ).select("user_id", "event_type", F.expr(_TS_US_FLOOR).alias("t"))
    within = (
        (lambda prev: F.lit(True))
        if max_gap_us is None
        else (lambda prev: F.col("t") <= F.col(prev) + max_gap_us)
    )
    # views and clicks each feed TWO consumers (the next stage's join
    # and their own stage() count), so stage(purchases) recomputes
    # clicks recomputes views — 6 events scans instead of 3. Pinning
    # them was tried and NOT kept: measured 1.36x SLOWER at sf0.1
    # (0.85 -> 1.16 s, 5-pass median) — the per-user aggregates are
    # small but each lazy checkpoint adds a materialization barrier
    # that costs more than the filtered rescans it saves.
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t").alias("t_view"))
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .join(views, "user_id")
        .filter((F.col("t") >= F.col("t_view")) & within("t_view"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t_click"))
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .filter((F.col("t") >= F.col("t_click")) & within("t_click"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t_purchase"))
    )

    def stage(df: DataFrame, name: str, order: int) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(order).alias("stage_order"),
            F.lit(name).alias("stage"),
            "n_users",
        )

    return (
        stage(views, "view", 1)
        .unionByName(stage(clicks, "click", 2))
        .unionByName(stage(purchases, "purchase", 3))
    )


def event_props_typed(events: DataFrame) -> DataFrame:
    """Schema-on-read JSON normalization via ``from_json`` — the
    structured twin of ``parse_event_props``'s regexp extraction.

    ``from_json`` with a declared schema stays JVM-side (Jackson
    inside codegen), null-safe on malformed payloads, and prunes
    unreferenced fields at parse time at scale.
    """
    # k is parsed as STRING then try_cast to int: a declared INT
    # schema makes Jackson NULL the row for a QUOTED integer ('{"k":
    # "7"}') and for values past 2^31 — both places the DuckDB twin
    # (json_extract_string + CAST) disagrees. String-parse + try_cast
    # gives identical semantics on both engines: quoted and unquoted
    # integers extract, out-of-range and non-integral values are NULL.
    parsed = events.select(
        "event_id",
        "event_type",
        F.from_json("props", "k STRING").alias("_p"),
    )
    # integral-REGEX gate before the cast: Spark's try_cast NULLs a
    # non-integral string ('1.5') but DuckDB's TRY_CAST ROUNDS it to
    # 2 — the one try_cast dialect seam left. Validating the shape
    # first makes both engines NULL non-integral payloads identically
    # (oracle in lockstep).
    intish = F.col("_p.k").rlike(r"^-?[0-9]+$")
    return parsed.select(
        "event_id",
        "event_type",
        F.when(intish, F.col("_p.k").try_cast("int")).alias("prop_k"),
    )


def session_window_agg(
    events: DataFrame, gap: str = "30 minutes"
) -> DataFrame:
    """Per-user session aggregation via Spark's BUILT-IN
    ``session_window`` (gap-based dynamic windows): same semantics as
    the hand-rolled ``sessionize`` (lag/cumsum), but expressed as one
    native grouped aggregate — the form that also runs unchanged under
    Structured Streaming with watermark-driven state eviction.

    One shuffle on (user, window); the session assembly happens inside
    the aggregation operator (no window-function sort pass). Output is
    one row per session: bounds, event count, decimal-exact value sum.
    """
    e = events.select(
        "user_id",
        F.timestamp_micros(F.expr(_TS_US_FLOOR)).alias("event_time"),
        "value",
    )
    return _session_window_kernel(e, gap)


def _session_window_kernel(e: DataFrame, gap: str) -> DataFrame:
    """The ONE definition of the session aggregate — shared by the
    batch ``session_window_agg`` and the streaming
    ``streaming_session_agg`` (which watermarks ``e`` first), so the
    money cast / µs-floor projection cannot silently diverge between
    the two execution modes (r12 review find). ``e`` carries
    (user_id, event_time TIMESTAMP, value)."""
    return (
        e.groupBy("user_id", F.session_window("event_time", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec_money("value")).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("start_us"),
            F.unix_micros(F.col("w.end")).alias("end_us"),
            "n_events",
            "total_value",
        )
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams: for every (from_type, to_type) pair of CONSECUTIVE
    events of one user, the transition count and P(to | from) — the
    "what do users do next" report behind next-action prediction
    features and funnel discovery (``session_paths`` shows whole
    journeys; this shows the one-step kernel).

    One user-keyed shuffle (window lead over (ts, event_id) — the
    same total order every session operator uses), then a partial
    aggregate to the |types|² transition space. Each user's last
    event has no successor and drops out. The probability is one
    division per matrix cell against a broadcast per-from total,
    rounded to 6 dp — engine-exact at any partitioning.
    """
    # anonymous (NULL-user) events would collapse into ONE pseudo-user
    # whose consecutive pairs are fabricated transitions (and a giant
    # skewed window partition); NULL ts/event_id rows have no place in
    # the total order — the streaming twin drops all three identically
    e = events.filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
    ).select(
        "event_id", "user_id", "event_type", F.expr(_TS_US_FLOOR).alias("t_us")
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    pairs = (
        e.withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
        .select(F.col("event_type").alias("from_type"), "to_type")
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    totals = counts.groupBy("from_type").agg(
        F.sum("n_transitions").alias("_from_total")
    )
    return counts.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(F.col("n_transitions") / F.col("_from_total"), 6).alias(
            "p_transition"
        ),
    )


def user_overlap(events: DataFrame, exact: bool = False) -> DataFrame:
    """Audience-overlap matrix between event types: for every
    unordered type pair (a < b), the distinct-user counts of each
    side, the overlap, and the Jaccard of the two audiences — "do
    the people who view also purchase".

    DEFAULTS TO THE SKETCH PATH: per-pair UNION audiences via
    ``approx_count_distinct`` (HLL) + inclusion-exclusion
    (n_both = n_a + n_b − n_union). The pair grid is the bounded
    |types|² broadcast; each event row fans out to ≤ |types| pairs
    and partial HLL aggregation means the shuffle carries KB sketches
    per pair, never user ids — the extreme-cardinality shape where
    even the distinct (user, type) shuffle hurts. Sketch noise is
    clamped at 0 and pairs with no estimated overlap are dropped to
    match the exact row set.

    ``exact=True`` (the oracle gate) runs one distinct over
    (user, type) — the only corpus-sized shuffle — then a per-user
    self-join whose fan-out is bounded by C(types-per-user, 2), with
    per-type audience sizes broadcast into the |types|²-row result.
    Same output schema either way.
    """
    jaccard = F.round(
        F.col("n_both") / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
        6,
    )
    if exact:
        # ut feeds THREE consumers (sizes, both sides of the pair
        # self-join) — an aggregated frame, so the pin runs "the only
        # corpus-sized shuffle" the docstring promises exactly once
        # NULL users are not an audience member: they would inflate
        # n_a/n_b (the self-join can never match NULL, so n_both is
        # unaffected) and diverge from the sketch path, whose
        # approx_count_distinct ignores NULLs by definition
        ut = (
            events.filter(F.col("user_id").isNotNull())
            .select("user_id", "event_type")
            .distinct()
            .transform(local_checkpoint, eager=False)
        )
        sizes = ut.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        )
        a = ut.select("user_id", F.col("event_type").alias("type_a"))
        b = ut.select("user_id", F.col("event_type").alias("type_b"))
        both = (
            a.join(b, "user_id")
            .filter(F.col("type_a") < F.col("type_b"))
            .groupBy("type_a", "type_b")
            .agg(F.count(F.lit(1)).alias("n_both"))
        )
        return (
            both.join(
                F.broadcast(
                    sizes.select(
                        F.col("event_type").alias("type_a"),
                        F.col("n").alias("n_a"),
                    )
                ),
                "type_a",
            )
            .join(
                F.broadcast(
                    sizes.select(
                        F.col("event_type").alias("type_b"),
                        F.col("n").alias("n_b"),
                    )
                ),
                "type_b",
            )
            .select(
                "type_a", "type_b", "n_a", "n_b", "n_both",
                jaccard.alias("jaccard"),
            )
        )
    e = events.filter(F.col("user_id").isNotNull()).select(
        "user_id", "event_type"
    )
    # ONE corpus scan feeds both the per-type sizes and the type list
    # for the pair grid (a separate .distinct() re-scanned the whole
    # events frame just to enumerate ~4 types); the KB aggregate is
    # pinned because it has three consumers
    sizes = (
        e.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id").alias("n"))
        .transform(local_checkpoint, eager=False)
    )
    types = sizes.select("event_type")
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .join(types.select(F.col("event_type").alias("type_b")))
        .filter(F.col("type_a") < F.col("type_b"))
    )
    unions = (
        e.join(
            F.broadcast(pairs),
            (F.col("event_type") == F.col("type_a"))
            | (F.col("event_type") == F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.approx_count_distinct("user_id").alias("_n_union"))
    )
    # inclusion-exclusion over three independent HLL estimates: clamp
    # into [0, min(n_a, n_b)] so sketch noise can never report an
    # overlap exceeding either audience (jaccard stays in [0, 1])
    return (
        unions.join(
            F.broadcast(
                sizes.select(
                    F.col("event_type").alias("type_a"),
                    F.col("n").alias("n_a"),
                )
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("event_type").alias("type_b"),
                    F.col("n").alias("n_b"),
                )
            ),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            F.least(
                F.greatest(
                    F.col("n_a") + F.col("n_b") - F.col("_n_union"),
                    F.lit(0),
                ),
                F.col("n_a"),
                F.col("n_b"),
            ).alias("n_both"),
        )
        .filter(F.col("n_both") > 0)
        .select(
            "type_a", "type_b", "n_a", "n_b", "n_both",
            jaccard.alias("jaccard"),
        )
    )


def linear_attribution(
    events: DataFrame,
    conversion_type: str = "purchase",
    touch_types: tuple[str, ...] = ("view", "click"),
    window_us: int = 7 * 86_400_000_000,
) -> DataFrame:
    """Multi-touch linear revenue attribution: every conversion's
    value splits EQUALLY across the user's touch events in the
    ``window_us`` strictly before it; conversions with no touches
    credit a ``direct`` channel. One row per channel with attributed
    revenue — the step past last-touch (which the as-of join already
    gives) toward the fractional-credit models a marketing warehouse
    actually reports.

    Candidate touches come from the same bucketed equi-join as
    ``range_join_window`` (each conversion probes its window-grain
    bucket and the one before — never an inequality join); the split
    count is one window over the pair frame. Per pair the ONE float
    op is ``round(value / n, 6)``; shares then accumulate in
    DECIMAL(28,6) so channel totals are order-insensitive and
    engine-exact (the dashboard-digest accumulation pattern).

    Scale shape: one (user, bucket) equi-join + one conversion-keyed
    window + one |channels|-row aggregate.
    """
    # NULL user_id / NULL ts rows are unattributable BY CONSTRUCTION
    # (the user/bucket equi-join can never match NULL), so keeping
    # them would silently credit every anonymous conversion's full
    # value to the 'direct' channel — exclusion is the honest policy
    e = events.filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.expr(_TS_US_FLOOR).alias("t_us"),
        "value",
    )
    conv = e.filter(F.col("event_type") == conversion_type).select(
        F.col("event_id").alias("conv_id"),
        "user_id",
        F.col("t_us").alias("conv_us"),
        dec_money("value").alias("conv_value"),
    )
    probes = e.filter(F.col("event_type").isin(*touch_types)).select(
        F.col("user_id").alias("p_user"),
        F.col("event_type").alias("channel"),
        F.col("t_us").alias("p_t_us"),
        # integer `div`, not double `/` + cast: exact at any epoch
        # (double floor drifts past 2^53), the engine's integer-time
        # convention; the bucket is join-blocking only — the exact
        # range filter below is the semantic bound
        F.expr(f"t_us div {window_us}").alias("p_bucket"),
    )
    cand = conv.select(
        "conv_id",
        "user_id",
        "conv_us",
        "conv_value",
        F.explode(
            F.array(
                F.expr(f"conv_us div {window_us}"),
                F.expr(f"conv_us div {window_us}") - 1,
            )
        ).alias("bucket"),
    )
    pairs = cand.join(
        probes,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("bucket") == F.col("p_bucket")),
    ).filter(
        (F.col("p_t_us") >= F.col("conv_us") - F.lit(window_us))
        & (F.col("p_t_us") < F.col("conv_us"))
    )
    n_w = Window.partitionBy("conv_id")
    shares = pairs.select(
        "conv_id",
        "channel",
        F.round(
            F.col("conv_value").cast("double")
            / F.count(F.lit(1)).over(n_w),
            6,
        )
        .cast("decimal(28,6)")
        .alias("share"),
    )
    # shares feeds BOTH the touched-conversions anti-join and the
    # final union, so the bucketed join + conv-keyed count window
    # executes twice. Pinning it was tried and NOT kept: measured
    # 1.17x SLOWER at sf0.1 (1.16 -> 1.36 s, 5-pass median) — the
    # duplicated subtree is cheaper than materializing the share rows.
    touched = shares.select("conv_id").distinct()
    direct = conv.join(touched, "conv_id", "left_anti").select(
        "conv_id",
        F.lit("direct").alias("channel"),
        F.col("conv_value").cast("decimal(28,6)").alias("share"),
    )
    return (
        shares.unionByName(direct)
        .groupBy("channel")
        .agg(
            F.count_distinct(F.col("conv_id")).alias("n_conversions"),
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("share").cast("double").alias("attributed_value"),
        )
    )
