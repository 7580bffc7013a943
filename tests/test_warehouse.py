"""Warehouse-maintenance operators: SCD2 history, snapshot diff,
data-quality summary — hand-computed literal cases."""

from __future__ import annotations

from pyspark.sql import functions as F

from py_etl_pipeline_woocommerce_spark.operators.warehouse import (
    dq_summary,
    scd2_apply,
    snapshot_diff,
)


def test_scd2_closes_changed_and_appends_new_version(spark):
    current = spark.createDataFrame(
        [
            (1, "red", 0, None, True),
            (2, "blue", 0, None, True),
            (3, "green", 0, 1, False),   # already-closed history
            (3, "lime", 1, None, True),
        ],
        "k bigint, color string, valid_from int, valid_to int, is_current boolean",
    )
    updates = spark.createDataFrame(
        [(1, "crimson"), (2, "blue"), (4, "new")], "k bigint, color string"
    )
    out = scd2_apply(current, updates, "k", ["color"], batch_version=2)
    rows = {(r.k, r.color, r.valid_from, r.valid_to, r.is_current) for r in out.collect()}
    assert rows == {
        (1, "red", 0, 2, False),        # closed at v2
        (1, "crimson", 2, None, True),  # new open version
        (2, "blue", 0, None, True),     # unchanged passes through
        (3, "green", 0, 1, False),      # closed history untouched
        (3, "lime", 1, None, True),     # open, not in batch
        (4, "new", 2, None, True),      # brand-new key
    }
    # exactly one open row per live key
    opens = out.filter("is_current").groupBy("k").count().collect()
    assert all(r["count"] == 1 for r in opens)


def test_snapshot_diff_classifies_rows(spark):
    before = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k bigint, v string"
    )
    after = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], "k bigint, v string"
    )
    out = {r.k: r.change for r in snapshot_diff(before, after, "k", ["v"]).collect()}
    assert out == {2: "changed", 3: "removed", 4: "added"}  # key 1 unchanged, omitted


def test_dq_summary_counts_violations(spark):
    df = spark.createDataFrame(
        [
            (1, 10, 5.0),
            (2, None, -1.0),
            (2, 30, 2.0),     # duplicate key
            (3, None, 0.0),
        ],
        "k bigint, c bigint, total double",
    )
    r = dq_summary(df, "k", not_null=["c"], non_negative=["total"]).collect()[0]
    assert r.n_rows == 4
    assert r.nulls_c == 2
    assert r.negative_total == 1
    assert r.dup_key_rows == 1


def test_scd2_reapplying_same_batch_is_idempotent(spark):
    """Applying an identical update batch twice must not create new
    versions — change detection is value-based, not arrival-based."""
    current = spark.createDataFrame(
        [(1, "red", 0, None, True), (2, "blue", 0, None, True)],
        "k bigint, color string, valid_from int, valid_to int, is_current boolean",
    )
    updates = spark.createDataFrame(
        [(1, "crimson"), (3, "new")], "k bigint, color string"
    )
    once = scd2_apply(current, updates, "k", ["color"], batch_version=1)
    twice = scd2_apply(once, updates, "k", ["color"], batch_version=2)
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_scd2_version_chain_has_no_overlap(spark):
    """Three successive batches: each key's history is a disjoint
    chain — closed rows end exactly where the next version starts."""
    cur = spark.createDataFrame(
        [(1, "a", 0, None, True)],
        "k bigint, v string, valid_from int, valid_to int, is_current boolean",
    )
    for ver, val in [(1, "b"), (2, "c"), (3, "c")]:  # last batch unchanged
        upd = spark.createDataFrame([(1, val)], "k bigint, v string")
        cur = scd2_apply(cur, upd, "k", ["v"], batch_version=ver)
    rows = sorted(
        (r.valid_from, r.valid_to, r.v, r.is_current) for r in cur.collect()
    )
    assert rows == [(0, 1, "a", False), (1, 2, "b", False), (2, None, "c", True)]


def test_scd2_detects_null_value_transitions(spark):
    # concat_ws drops NULLs, so without sentinel substitution the rows
    # (NULL,'x') and ('x',NULL) fingerprint identically and these
    # transitions would silently pass through as "unchanged".
    current = spark.createDataFrame(
        [
            (1, None, "x", 0, None, True),   # (NULL,'x') -> ('x',NULL): changed
            (2, "x", None, 0, None, True),   # value -> NULL: changed
            (3, None, None, 0, None, True),  # stays all-NULL: unchanged
        ],
        "k bigint, a string, b string, valid_from int, valid_to int, is_current boolean",
    )
    updates = spark.createDataFrame(
        [(1, "x", None), (2, "x", "y"), (3, None, None)],
        "k bigint, a string, b string",
    )
    out = scd2_apply(current, updates, "k", ["a", "b"], batch_version=1)
    rows = {(r.k, r.a, r.b, r.valid_from, r.valid_to, r.is_current) for r in out.collect()}
    assert rows == {
        (1, None, "x", 0, 1, False),
        (1, "x", None, 1, None, True),
        (2, "x", None, 0, 1, False),
        (2, "x", "y", 1, None, True),
        (3, None, None, 0, None, True),   # unchanged: no new version
    }


def test_snapshot_diff_sees_null_shifts(spark):
    before = spark.createDataFrame([(1, None, "x"), (2, "a", "b")], "k bigint, u string, v string")
    after = spark.createDataFrame([(1, "x", None), (2, "a", "b")], "k bigint, u string, v string")
    out = {r.k: r.change for r in snapshot_diff(before, after, "k", ["u", "v"]).collect()}
    assert out == {1: "changed"}  # key 2 unchanged; NULL shift detected


def test_dq_check_counts_rule_violations(spark):
    from py_etl_pipeline_woocommerce_spark.operators.warehouse import dq_check

    df = spark.createDataFrame(
        [(1, 5.0, "A"), (2, -1.0, None), (3, 0.0, "B"), (4, None, "A")],
        "k long, v double, s string",
    )
    out = {r["rule"]: r for r in dq_check(
        df,
        {
            "v_non_negative": "v >= 0",     # row 2 violates; row 4 NULL -> violates
            "s_not_null": "s IS NOT NULL",  # row 2
            "k_positive": "k > 0",          # clean
        },
    ).collect()}
    assert out["v_non_negative"]["violations"] == 2  # NULL predicate is NOT a pass
    assert out["s_not_null"]["violations"] == 1
    assert out["k_positive"]["violations"] == 0 and out["k_positive"]["ok"]
    assert all(r["n_rows"] == 4 for r in out.values())


def test_dq_check_escapes_quoted_rule_names_and_rejects_empty(spark):
    import pytest

    from py_etl_pipeline_woocommerce_spark.operators.warehouse import dq_check

    df = spark.createDataFrame([(1,), (-2,)], "v long")
    out = {
        r["rule"]: r["violations"]
        for r in dq_check(df, {"v isn't negative": "v >= 0"}).collect()
    }
    assert out == {"v isn't negative": 1}
    with pytest.raises(ValueError):
        dq_check(df, {})


def test_profile_table_per_column_report(spark):
    from py_etl_pipeline_woocommerce_spark.operators.warehouse import (
        profile_table,
    )

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, 2.5), (3, "a", None)],
        "id bigint, s string, v double",
    )
    out = {r.column: r for r in profile_table(df, exact=True).collect()}
    assert set(out) == {"id", "s", "v"}
    assert out["id"].n_rows == 3 and out["id"].n_nulls == 0
    assert out["id"].n_distinct == 3
    assert out["id"].min_value == "1" and out["id"].max_value == "3"
    assert out["s"].n_nulls == 1
    assert out["s"].null_rate == round(1 / 3, 6)
    assert out["s"].n_distinct == 1  # nulls don't count as a value
    assert out["v"].min_value == "1.500000"  # decimal-normalized double
    assert out["v"].dtype == "double"
    # sketch default: same schema, HLL distinct exact at tiny
    # cardinality, and the plan carries no Expand (the exact
    # multi-distinct rewrite)
    sk = {r.column: r for r in profile_table(df).collect()}
    assert set(sk) == set(out)
    assert sk["id"].asDict().keys() == out["id"].asDict().keys()
    assert sk["id"].n_distinct == 3 and sk["s"].n_distinct == 1
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        profile_table(df).explain("formatted")
    assert ") Expand" not in buf.getvalue()


def test_profile_drift_flags_shape_changes(spark):
    from py_etl_pipeline_woocommerce_spark.operators.warehouse import (
        profile_drift,
    )

    before = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "id bigint, s string, v double"
    )
    after = spark.createDataFrame(
        [(1, "a", 1.0), (2, None, 9.0), (3, None, 2.0)],
        "id bigint, s string, v double",
    )
    out = {r.column: r for r in profile_drift(before, after).collect()}
    assert out["id"].n_rows_before == 2 and out["id"].n_rows_after == 3
    assert out["id"].bounds_changed  # max id moved 2 -> 3
    assert out["s"].null_rate_delta == round(2 / 3, 6)
    assert out["s"].n_distinct_delta == -1  # b disappeared
    assert out["v"].bounds_changed  # max v 2.0 -> 9.0


def test_cdc_apply_nets_insert_update_delete(spark):
    from py_etl_pipeline_woocommerce_spark.operators.warehouse import cdc_apply

    current = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "order_id long, status string, total double",
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", 21.0, 1, "U"),   # update key 2
            (2, "x", 0.0, 2, "D"),     # ...then delete it: D wins (seq 2)
            (3, "c2", 31.0, 5, "U"),   # plain update
            (4, "d", 40.0, 1, "I"),    # brand-new key
            (4, "d2", 41.0, 2, "U"),   # updated within the same feed
        ],
        "order_id long, status string, total double, seq int, op string",
    )
    out = {
        r.order_id: (r.status, r.total)
        for r in cdc_apply(current, changes, "order_id").collect()
    }
    assert out == {1: ("a", 10.0), 3: ("c2", 31.0), 4: ("d2", 41.0)}


def test_cdc_apply_duplicate_seq_resolves_deterministically(spark):
    from py_etl_pipeline_woocommerce_spark.operators.warehouse import cdc_apply

    current = spark.createDataFrame(
        [(1, "a", 1.0)], "order_id long, status string, total double"
    )
    # malformed feed: same key, same seq — op desc breaks the tie ('U' > 'D')
    changes = spark.createDataFrame(
        [(1, "u", 2.0, 7, "U"), (1, "x", 0.0, 7, "D")],
        "order_id long, status string, total double, seq int, op string",
    )
    out = cdc_apply(current, changes, "order_id").collect()
    assert [(r.order_id, r.status) for r in out] == [(1, "u")]


def test_dq_referential_counts_orphans_and_null_fks(spark):
    from py_etl_pipeline_woocommerce_spark.operators.warehouse import dq_referential

    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, 99), (5, 99), (6, None)],
        "id long, fk long",
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    r = dq_referential(child, parent, "fk", "pk", "child->parent").collect()[0]
    assert r.relation == "child->parent"
    assert r.n_child_rows == 6 and r.n_null_fk == 1
    assert r.n_distinct_fk == 2          # 10 and 99 (NULL excluded)
    assert r.n_orphan_rows == 3 and r.n_orphan_keys == 1  # fk=99


def test_numeric_corr_hand_computed(spark):
    from py_etl_pipeline_woocommerce_spark.operators.warehouse import numeric_corr

    df = spark.createDataFrame(
        [(1.0, 2.0, 3.0), (2.0, 4.0, 2.0), (3.0, 6.0, 1.0)],
        "x double, y double, z double",
    )
    out = {(r.col_x, r.col_y): r for r in numeric_corr(df, ["x", "y", "z"]).collect()}
    assert out[("x", "y")].corr == 1.0    # y = 2x exactly
    assert out[("x", "z")].corr == -1.0   # z = 4 - x exactly
    assert out[("y", "z")].corr == -1.0
    assert all(r.n == 3 for r in out.values())


def test_numeric_corr_zero_variance_yields_null(spark):
    from py_etl_pipeline_woocommerce_spark.operators.warehouse import numeric_corr

    df = spark.createDataFrame(
        [(1.0, 5.0), (2.0, 5.0)], "x double, c double"
    )
    r = numeric_corr(df, ["x", "c"]).collect()[0]
    assert r.corr is None


def test_numeric_corr_overflow_refusal_and_small_magnitudes(spark):
    """Pins the mapInArrow kernel's documented boundary contract (r12
    advice): co-moment partials past the decimal(38,scale) unscaled
    bound refuse LOUDLY inside the task (the overflow class the old
    decimal-sum plan surfaced as ANSI errors), and sub-1e-6-magnitude
    columns — the regime a plan-side /10^12 division silently
    scale-capped in the kernel's first draft — stay exact."""
    import pytest as _pt
    from py_etl_pipeline_woocommerce_spark.operators.warehouse import numeric_corr

    # tiny magnitudes: moments ~1e-12 live at decimal scale 12; the
    # exact linear relation must come back exactly 1.0, not NULL
    tiny = spark.createDataFrame(
        [(1e-6, 2e-6), (2e-6, 4e-6), (3e-6, 6e-6)], "x double, y double"
    )
    r = numeric_corr(tiny, ["x", "y"]).collect()[0]
    assert r.corr == 1.0 and r.n == 3

    # overflow: 120 max-magnitude decimal(18,6) rows push one task's
    # Σx² partial past 10^38 (the decimal(38,12) unscaled bound)
    big = spark.createDataFrame(
        [(999_999_999_999.0, 999_999_999_999.0)] * 120,
        "x double, y double",
    ).coalesce(1)
    with _pt.raises(Exception, match="co-moment partial exceeds"):
        numeric_corr(big, ["x", "y"]).collect()


def test_warehouse_malformed_input_guards(spark):
    """The review-wave guards fail LOUDLY instead of corrupting:
    duplicate SCD2 batch keys, NULL CDC ops, hostile DQ rule names,
    corr alias collisions, and the drift report's added-all-NULL
    column case."""
    import pytest as _pt
    from py_etl_pipeline_woocommerce_spark.operators.warehouse import (
        cdc_apply,
        dq_check,
        numeric_corr,
        profile_drift,
        scd2_apply,
    )

    # scd2: a key sent twice in one batch must raise, not fan out
    cur = spark.createDataFrame(
        [(1, "a", 0, None, True)],
        "k long, v string, valid_from int, valid_to int, is_current boolean",
    )
    dup = spark.createDataFrame([(1, "x"), (1, "y")], "k long, v string")
    with _pt.raises(Exception, match="duplicate key"):
        scd2_apply(cur, dup, "k", ["v"], 1).collect()

    # cdc: a NULL net op must raise, never phantom-delete the key
    cur2 = spark.createDataFrame([(1, "a", 0, "I")],
                                 "k long, v string, seq long, op string")
    bad = spark.createDataFrame([(1, "b", 9, None)],
                                "k long, v string, seq long, op string")
    with _pt.raises(Exception, match="op must be I/U/D"):
        cdc_apply(cur2, bad, "k").collect()

    # dq_check: backslashes and quotes in rule names survive intact
    df = spark.createDataFrame([(1,)], "x long")
    rules = {"path\\check": "x >= 0", "it's fine": "x < 10",
             "trail\\": "x > 0"}
    got = {r["rule"] for r in dq_check(df, rules).collect()}
    assert got == set(rules)

    # numeric_corr: underscore column names no longer collide, and
    # <2 columns raises a clear error
    nc = spark.createDataFrame(
        [(1.0, 2.0, 3.0), (2.0, 4.0, 5.0), (3.0, 7.0, 6.0)],
        "a double, b double, a_b double",
    )
    rows = numeric_corr(nc, ["a", "b", "a_b"]).collect()
    assert len(rows) == 3  # all pairs, no AMBIGUOUS_REFERENCE
    with _pt.raises(ValueError, match="at least two"):
        numeric_corr(nc, ["a"])

    # profile_drift: an all-NULL column present only on one side must
    # report bounds_changed (presence beats eqNullSafe(NULL, NULL))
    before = spark.createDataFrame([(1, None)], "k long, notes string")
    after = spark.createDataFrame([(1,)], "k long")
    drift = {r["column"]: r for r in profile_drift(before, after).collect()}
    assert drift["notes"]["bounds_changed"] is True


def test_rollup_store_staged_commit_survives_both_crash_windows(
    spark, tmp_path, monkeypatch
):
    """Staged-commit protocol: a crash on EITHER side of the marker
    must leave the store either fully applied + marked or fully
    untouched — never half-applied, and never double-counted on
    replay (the window the r8 marker-only scheme left open)."""
    import pytest as _pytest

    from py_etl_pipeline_woocommerce_spark.functions import fsutil
    from py_etl_pipeline_woocommerce_spark.operators import warehouse as wh

    store = str(tmp_path / "rollup_crash")
    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )
    base = 1_700_006_400_000_000_000
    day_ns = 86_400_000_000_000
    ev = lambda i, d: (i, base + d * day_ns, 10 + i, "click", 1.0, "{}")
    b0 = spark.createDataFrame([ev(1, 0), ev(2, 0)], schema)
    b1 = spark.createDataFrame([ev(3, 0), ev(4, 40)], schema)
    b2 = spark.createDataFrame([ev(5, 0)], schema)

    def snapshot() -> dict:
        return {
            (r["day_us"], r["event_type"]): (
                r["n_events"],
                r["total_value_dec"],
            )
            for r in spark.read.parquet(store).collect()
        }

    # every merge releases the frames it pinned, on a crash exit too
    # (no new persistent RDD id; ids, not counts, so a freed leftover
    # of an earlier test hides nothing)
    jsc = spark.sparkContext._jsc
    pins = set(jsc.getPersistentRDDs().keySet())

    wh.merge_rollup_store(spark, store, b0, batch_id=0)
    after_b0 = snapshot()
    assert set(jsc.getPersistentRDDs().keySet()) <= pins

    # WINDOW A: crash between the staged write and the marker — the
    # live store must be untouched, and replay must apply ONCE.
    real_touch = fsutil.fs_touch

    def crash_on_marker(spark_, uri):
        if uri.endswith("_applied/batch-1"):
            raise RuntimeError("injected crash before marker")
        return real_touch(spark_, uri)

    monkeypatch.setattr(fsutil, "fs_touch", crash_on_marker)
    with _pytest.raises(RuntimeError, match="injected"):
        wh.merge_rollup_store(spark, store, b1, batch_id=1)
    monkeypatch.setattr(fsutil, "fs_touch", real_touch)
    assert snapshot() == after_b0  # fully absent
    assert set(jsc.getPersistentRDDs().keySet()) <= pins
    wh.merge_rollup_store(spark, store, b1, batch_id=1)  # replay
    after_b1 = snapshot()
    assert set(jsc.getPersistentRDDs().keySet()) <= pins
    assert after_b1 != after_b0
    wh.merge_rollup_store(spark, store, b1, batch_id=1)  # re-delivery
    assert snapshot() == after_b1  # exactly once

    # WINDOW B: crash between the marker and the promotion — replay
    # must COMPLETE the promotion, still exactly once.
    real_promote = wh._promote_staged_months
    monkeypatch.setattr(
        wh,
        "_promote_staged_months",
        lambda *a: (_ for _ in ()).throw(
            RuntimeError("injected crash before promotion")
        ),
    )
    with _pytest.raises(RuntimeError, match="injected"):
        wh.merge_rollup_store(spark, store, b2, batch_id=2)
    monkeypatch.setattr(wh, "_promote_staged_months", real_promote)
    assert snapshot() == after_b1  # marked but not yet promoted
    wh.merge_rollup_store(spark, store, b2, batch_id=2)  # replay
    after_b2 = snapshot()
    assert set(jsc.getPersistentRDDs().keySet()) <= pins
    d0 = (base // 1_000 - (base // 1_000) % 86_400_000_000, "click")
    assert after_b2[d0][0] == 4  # events 1,2,3,5 on day 0 — no doubles
    wh.merge_rollup_store(spark, store, b2, batch_id=2)
    assert snapshot() == after_b2
    # staging fully cleaned up after promotion
    assert fsutil.fs_list_names(
        spark, str(tmp_path / "_rollup_crash_staged")
    ) == []


def test_cdc_store_swap_survives_crash_mid_swap(spark, tmp_path, monkeypatch):
    """Current-state stores must never be destroyed by a crash during
    their rewrite: the staged swap leaves the live store intact until
    the staged state is fully written, and an interrupted swap is
    completed by the next fold's recovery — no history loss, no
    silent one-batch rebuild."""
    import pytest as _pytest

    from py_etl_pipeline_woocommerce_spark.functions import fsutil
    from py_etl_pipeline_woocommerce_spark.operators import warehouse as wh

    store = str(tmp_path / "cdc_state")
    schema = "k long, v string, seq long, op string"
    b1 = spark.createDataFrame([(1, "a", 1, "I"), (2, "b", 1, "I")], schema)
    b2 = spark.createDataFrame([(2, "b2", 2, "U"), (3, "c", 2, "I")], schema)

    wh.cdc_apply_store(spark, store, b1, "k")
    assert {
        (r.k, r.v) for r in wh.read_cdc_store(spark, store).collect()
    } == {(1, "a"), (2, "b")}

    # crash between "live -> trash" and "staged -> live": the second
    # rename raises once, leaving live ABSENT and staged complete
    real_rename = fsutil.fs_rename
    state = {"n": 0}

    def crashy(spark_, src, dst):
        state["n"] += 1
        if state["n"] == 2:  # first rename = live->trash, second = staged->live
            raise RuntimeError("injected crash mid-swap")
        return real_rename(spark_, src, dst)

    monkeypatch.setattr(fsutil, "fs_rename", crashy)
    with _pytest.raises(RuntimeError, match="injected"):
        wh.cdc_apply_store(spark, store, b2, "k")
    monkeypatch.setattr(fsutil, "fs_rename", real_rename)
    assert not fsutil.fs_exists(spark, store)  # mid-swap state

    # next fold recovers the swap FIRST, then applies its own batch —
    # all three keys present, batch-2 update applied exactly once
    b3 = spark.createDataFrame([(4, "d", 3, "I")], schema)
    wh.cdc_apply_store(spark, store, b3, "k")
    got = {(r.k, r.v) for r in wh.read_cdc_store(spark, store).collect()}
    assert got == {(1, "a"), (2, "b2"), (3, "c"), (4, "d")}


def test_warehouse_loud_guards_r9(spark):
    """NULL keys and duplicate snapshot keys fail loudly instead of
    silently corrupting the dimension/diff (full-outer equi-joins
    never match NULL to NULL; duplicate keys fan the join out)."""
    import pytest as _pytest

    from py_etl_pipeline_woocommerce_spark.operators.warehouse import (
        cdc_apply,
        scd2_apply,
        snapshot_diff,
    )

    cur = spark.createDataFrame(
        [(1, "x", 0, None, True)],
        "k long, val string, valid_from int, valid_to int, is_current boolean",
    )
    upd_null = spark.createDataFrame([(None, "y")], "k long, val string")
    with _pytest.raises(Exception, match="NULL key"):
        scd2_apply(cur, upd_null, "k", ["val"], 1).collect()

    table = spark.createDataFrame([(1, "x")], "k long, val string")
    feed = spark.createDataFrame(
        [(None, "y", 1, "U")], "k long, val string, seq long, op string"
    )
    with _pytest.raises(Exception, match="NULL key"):
        cdc_apply(table, feed, "k").collect()

    before = spark.createDataFrame([(1, "a"), (1, "b")], "k long, v string")
    after = spark.createDataFrame([(1, "a")], "k long, v string")
    with _pytest.raises(Exception, match="duplicate key"):
        snapshot_diff(before, after, "k", ["v"]).collect()


def test_numeric_corr_pairwise_complete_and_clamped(spark):
    """Pairwise-complete Pearson: rows where either column is NULL
    contribute to NEITHER n nor the moments (the old shared sums
    zero-imputed them); a constant column yields NULL, never NaN."""
    import math

    from py_etl_pipeline_woocommerce_spark.operators.warehouse import (
        numeric_corr,
    )

    df = spark.createDataFrame(
        [
            (1.0, 2.0, 5.0),
            (2.0, 4.0, 5.0),
            (3.0, 6.0, 5.0),
            (4.0, None, 5.0),  # pairwise-incomplete for (x, y)
        ],
        "x double, y double, c double",
    )
    rows = {
        (r.col_x, r.col_y): r for r in numeric_corr(df, ["x", "y", "c"]).collect()
    }
    xy = rows[("x", "y")]
    assert xy.n == 3  # NULL row excluded from the pair
    assert xy.corr == 1.0  # y = 2x exactly on the complete rows
    xc = rows[("x", "c")]
    assert xc.n == 4 and xc.corr is None  # constant column -> NULL
    assert all(
        r.corr is None or not math.isnan(r.corr) for r in rows.values()
    )
