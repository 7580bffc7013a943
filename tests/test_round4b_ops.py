"""Round-4 late additions: daily percentiles, equi-depth histograms,
seasonal anomaly flags, Markov transitions, audience overlap, BM25
retrieval, RFM segmentation, continuous-aggregate merge, GDPR purge.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

DAY_NS = 86_400_000_000_000
DAY_US = 86_400_000_000


def _events(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id long, ts long, user_id long, event_type string, value double",
    )


def test_daily_value_percentiles_interpolates_per_day(spark):
    from py_etl_pipeline_woocommerce_spark.operators.temporal import (
        daily_value_percentiles,
    )

    ev = _events(
        spark,
        [
            (1, 0 * DAY_NS, 1, "A", 0.0),
            (2, 0 * DAY_NS, 2, "A", 10.0),
            (3, 1 * DAY_NS, 1, "A", 5.0),
        ],
    )
    out = {
        r["day_us"] // DAY_US: r
        for r in daily_value_percentiles(ev, exact=True).collect()
    }
    assert out[0]["p50"] == 5.0  # midpoint of {0, 10}
    assert out[0]["p95"] == 9.5  # 0 + 0.95 * 10
    assert out[0]["n_events"] == 2
    assert out[1]["p50"] == 5.0 and out[1]["p95"] == 5.0
    # sketch default: same schema, GK picks actual data values
    sk = {
        r["day_us"] // DAY_US: r
        for r in daily_value_percentiles(ev).collect()
    }
    assert set(sk) == set(out)
    assert sk[0]["p50"] in (0.0, 10.0) and sk[0]["p95"] in (0.0, 10.0)
    assert sk[1]["p50"] == 5.0 and sk[1]["p95"] == 5.0


def test_equidepth_histogram_equal_counts_and_tight_ranges(spark):
    from py_etl_pipeline_woocommerce_spark.operators.temporal import (
        equidepth_histogram,
    )

    ev = _events(
        spark,
        [(i, 0, i, "A", float(i)) for i in range(1, 11)],
    )
    out = {
        r["bin"]: r
        for r in equidepth_histogram(ev, bins=5, exact=True).collect()
    }
    assert len(out) == 5
    for b in range(1, 6):
        assert out[b]["n_events"] == 2
        assert out[b]["lo"] == 2 * b - 1.0
        assert out[b]["hi"] == 2 * b + 0.0
    # sketch default: all rows binned, bins ordered and non-overlapping
    sk = sorted(
        equidepth_histogram(ev, bins=5).collect(), key=lambda r: r["bin"]
    )
    assert sum(r["n_events"] for r in sk) == 10
    for prev, cur in zip(sk, sk[1:]):
        assert cur["lo"] >= prev["hi"]
    # degenerate bins=1: one bucket holding everything (no edge cut)
    (one,) = equidepth_histogram(ev, bins=1).collect()
    assert one["bin"] == 1 and one["n_events"] == 10


def test_seasonal_anomaly_flags_vs_weekday_baseline(spark):
    from py_etl_pipeline_woocommerce_spark.operators.temporal import (
        seasonal_anomaly,
    )

    # Same weekday three weeks running: 4, 10, 40 events -> mean 18.
    rows = []
    eid = 0
    for week, n in ((0, 4), (1, 10), (2, 40)):
        for i in range(n):
            eid += 1
            rows.append((eid, (week * 7) * DAY_NS, i, "A", 1.0))
    out = {
        r["day_us"] // (7 * DAY_US): r
        for r in seasonal_anomaly(_events(spark, rows)).collect()
    }
    assert out[0]["baseline_mean"] == 18.0
    assert out[0]["is_anomaly"] is True  # 4/18 < 0.5
    assert out[1]["is_anomaly"] is False  # 10/18
    assert out[2]["is_anomaly"] is True  # 40/18 > 2
    assert out[1]["weekday"] == out[0]["weekday"]


def test_event_transitions_counts_and_probs(spark):
    from py_etl_pipeline_woocommerce_spark.operators.events import (
        event_transitions,
    )

    ev = _events(
        spark,
        [
            (1, 1_000, 1, "A", 0.0),
            (2, 2_000, 1, "B", 0.0),
            (3, 3_000, 1, "A", 0.0),
            (4, 1_000, 2, "A", 0.0),
            (5, 2_000, 2, "C", 0.0),
        ],
    )
    out = {
        (r["from_type"], r["to_type"]): r
        for r in event_transitions(ev).collect()
    }
    assert out[("A", "B")]["n_transitions"] == 1
    assert out[("A", "C")]["n_transitions"] == 1
    assert out[("B", "A")]["n_transitions"] == 1
    assert out[("A", "B")]["p_transition"] == 0.5
    assert out[("B", "A")]["p_transition"] == 1.0
    # last event of each user has no successor
    assert sum(r["n_transitions"] for r in out.values()) == 3


def test_user_overlap_jaccard_and_sparsity(spark):
    from py_etl_pipeline_woocommerce_spark.operators.events import user_overlap

    ev = _events(
        spark,
        [
            (1, 0, 1, "A", 0.0),
            (2, 0, 2, "A", 0.0),
            (3, 0, 3, "A", 0.0),
            (4, 0, 2, "B", 0.0),
            (5, 0, 3, "B", 0.0),
            (6, 0, 2, "B", 0.0),  # duplicate (user, type) collapses
            (7, 0, 4, "C", 0.0),
        ],
    )
    out = {(r["type_a"], r["type_b"]): r for r in user_overlap(ev).collect()}
    ab = out[("A", "B")]
    assert (ab["n_a"], ab["n_b"], ab["n_both"]) == (3, 2, 2)
    assert ab["jaccard"] == round(2 / 3, 6)
    # disjoint audiences produce no row (sparse matrix)
    assert ("A", "C") not in out and ("B", "C") not in out
    # the exact path agrees cell-for-cell at this cardinality (HLL is
    # exact in sparse mode, so the sketch default matches here)
    exact = {
        (r["type_a"], r["type_b"]): r
        for r in user_overlap(ev, exact=True).collect()
    }
    assert set(exact) == set(out)
    for k in out:
        assert out[k].asDict() == exact[k].asDict()


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )


def test_bm25_ranks_rare_term_and_tf_higher(spark):
    from py_etl_pipeline_woocommerce_spark.operators.corpus import bm25_search

    docs = _docs(
        spark,
        [
            (1, "zebra quantum common", "en", "s"),
            (2, "zebra zebra zebra common filler words here", "en", "s"),
            (3, "common filler words here and more padding", "en", "s"),
            (4, "entirely unrelated content block", "en", "s"),
        ],
    )
    queries = spark.createDataFrame(
        [(100, "zebra"), (100, "common")], "query_id long, term string"
    )
    out = bm25_search(docs, queries, topk=10).collect()
    ranked = {r["bm25_rank"]: r["doc_id"] for r in out}
    # doc 4 shares no term -> absent entirely
    assert 4 not in {r["doc_id"] for r in out}
    # docs with the rare term beat the common-term-only doc
    assert set(ranked.values()) == {1, 2, 3}
    assert ranked[3] == 3
    scores = {r["doc_id"]: r["score"] for r in out}
    assert scores[1] > scores[3] and scores[2] > scores[3]


def test_bm25_default_queries_exclude_self(spark, sf_dir):
    from py_etl_pipeline_woocommerce_spark.operators.corpus import bm25_search
    from py_etl_pipeline_woocommerce_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = bm25_search(docs, topk=3)
    assert out.filter(F.col("query_id") == F.col("doc_id")).count() == 0
    per_q = out.groupBy("query_id").count().collect()
    assert per_q and all(r["count"] <= 3 for r in per_q)


def test_rfm_segments_scores_and_code(spark, sf_dir):
    from py_etl_pipeline_woocommerce_spark.plans.relational import rfm_segments

    rows = rfm_segments(spark, sf_dir, exact=True).collect()
    assert rows
    by_cust = {r["cust_id"]: r for r in rows}
    for r in rows:
        assert 1 <= r["r_score"] <= 4
        assert 1 <= r["f_score"] <= 4
        assert 1 <= r["m_score"] <= 4
        assert r["rfm"] == f"{r['r_score']}{r['f_score']}{r['m_score']}"
    # the biggest spender lands in the top monetary quartile, the
    # most recent customer in the top recency quartile
    top_m = max(rows, key=lambda r: (r["monetary"], -r["cust_id"]))
    assert top_m["m_score"] == 4
    most_recent = min(rows, key=lambda r: (r["recency_days"], r["cust_id"]))
    assert most_recent["recency_days"] == 0 and most_recent["r_score"] == 4
    # quartiles are near-balanced (ntile property)
    from collections import Counter

    counts = Counter(r["m_score"] for r in rows)
    assert max(counts.values()) - min(counts.values()) <= 1
    assert len(by_cust) == len(rows)  # one row per customer
    # sketch default: same schema/score ranges, extremes still land
    # in the top quartile, one row per customer
    sk = rfm_segments(spark, sf_dir).collect()
    assert len(sk) == len(rows)
    for r in sk:
        assert 1 <= r["r_score"] <= 4
        assert 1 <= r["f_score"] <= 4
        assert 1 <= r["m_score"] <= 4
        assert r["rfm"] == f"{r['r_score']}{r['f_score']}{r['m_score']}"
    sk_top_m = max(sk, key=lambda r: (r["monetary"], -r["cust_id"]))
    assert sk_top_m["m_score"] == 4
    sk_recent = min(sk, key=lambda r: (r["recency_days"], r["cust_id"]))
    assert sk_recent["r_score"] == 4


def test_rollup_merge_matches_full_recompute(spark):
    from py_etl_pipeline_woocommerce_spark.operators.warehouse import (
        daily_rollup_partials,
        rollup_merge,
    )

    hist = _events(
        spark,
        [
            (1, 0 * DAY_NS, 1, "A", 10.0),
            (2, 0 * DAY_NS, 2, "A", 5.0),
            (3, 1 * DAY_NS, 1, "B", 2.0),
        ],
    )
    # batch includes a LATE row for day 0 and a new day 2
    batch = _events(
        spark,
        [
            (4, 0 * DAY_NS, 3, "A", 1.0),
            (5, 2 * DAY_NS, 1, "A", 7.0),
        ],
    )
    merged = rollup_merge(daily_rollup_partials(hist), batch)
    full = daily_rollup_partials(hist.unionByName(batch))
    key = lambda r: (r["day_us"], r["event_type"])
    m = {key(r): r for r in merged.collect()}
    f = {key(r): r for r in full.collect()}
    assert m.keys() == f.keys()
    for k in f:
        assert m[k]["n_events"] == f[k]["n_events"]
        assert m[k]["total_value_dec"] == f[k]["total_value_dec"]
    # late day-0 row merged INTO the stored day, no new row
    assert m[(0, "A")]["n_events"] == 3


def test_purge_keys_prunes_partitions_and_drops_emptied(spark, tmp_path):
    from py_etl_pipeline_woocommerce_spark.plans.woo_flow import (
        PARTITION_COL,
        purge_keys,
    )

    path = str(tmp_path / "fct")
    df = spark.createDataFrame(
        [
            (1, "2024-01-05", 10.0),
            (2, "2024-01-06", 20.0),
            (3, "2024-02-05", 30.0),
            (4, "2024-03-05", 40.0),
        ],
        "order_id long, order_date string, net_total double",
    ).withColumn(PARTITION_COL, F.substring("order_date", 1, 7))
    df.write.partitionBy(PARTITION_COL).parquet(path)

    untouched = os.path.join(path, f"{PARTITION_COL}=2024-03")
    before_bytes = {
        f: os.path.getmtime(os.path.join(untouched, f))
        for f in os.listdir(untouched)
    }

    purge = spark.createDataFrame([(1,), (3,)], "order_id long")
    pins = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    audit = purge_keys(spark, path, purge, ["order_id"])
    assert audit == {"rows_purged": 2, "partitions_rewritten": 2}
    # the rewrite's checkpoint is released, not left pinned
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) <= pins

    left = spark.read.parquet(path)
    assert sorted(r["order_id"] for r in left.collect()) == [2, 4]
    # the fully-purged February directory is gone
    assert not os.path.exists(os.path.join(path, f"{PARTITION_COL}=2024-02"))
    # untouched March files were not rewritten
    after_bytes = {
        f: os.path.getmtime(os.path.join(untouched, f))
        for f in os.listdir(untouched)
    }
    assert after_bytes == before_bytes

    # purging nothing is a no-op
    none = spark.createDataFrame([(999,)], "order_id long")
    assert purge_keys(spark, path, none, ["order_id"]) == {
        "rows_purged": 0,
        "partitions_rewritten": 0,
    }


# --- adversarial / edge-case invariants ---


def test_bm25_empty_and_no_overlap_inputs(spark):
    from py_etl_pipeline_woocommerce_spark.operators.corpus import bm25_search

    # documents with no tokens at all -> empty result, no crash
    empty = _docs(spark, [(1, "!!! ???", "en", "s"), (2, "", "en", "s")])
    q = spark.createDataFrame([(9, "zebra")], "query_id long, term string")
    assert bm25_search(empty, q).count() == 0
    # query term absent from the corpus -> empty result
    docs = _docs(spark, [(1, "plain words here", "en", "s")])
    assert bm25_search(docs, q).count() == 0


def test_event_transitions_single_event_users(spark):
    from py_etl_pipeline_woocommerce_spark.operators.events import (
        event_transitions,
    )

    ev = _events(
        spark,
        [(1, 1_000, 1, "A", 0.0), (2, 1_000, 2, "B", 0.0)],
    )
    assert event_transitions(ev).count() == 0


def test_equidepth_histogram_fewer_rows_than_bins(spark):
    from py_etl_pipeline_woocommerce_spark.operators.temporal import (
        equidepth_histogram,
    )

    ev = _events(spark, [(1, 0, 1, "A", 1.0), (2, 0, 2, "A", 2.0)])
    out = equidepth_histogram(ev, bins=10).collect()
    # ntile degrades to one row per bin, bins beyond the rows are empty
    assert len(out) == 2
    assert all(r["n_events"] == 1 and r["lo"] == r["hi"] for r in out)


def test_user_overlap_single_type_produces_no_pairs(spark):
    from py_etl_pipeline_woocommerce_spark.operators.events import user_overlap

    ev = _events(spark, [(1, 0, 1, "A", 0.0), (2, 0, 2, "A", 0.0)])
    assert user_overlap(ev).count() == 0


def test_rollup_merge_empty_batch_is_identity(spark):
    from py_etl_pipeline_woocommerce_spark.operators.warehouse import (
        daily_rollup_partials,
        rollup_merge,
    )

    hist = _events(spark, [(1, 0, 1, "A", 3.0)])
    partials = daily_rollup_partials(hist)
    empty = hist.filter("event_id < 0")
    merged = rollup_merge(partials, empty).collect()
    base = partials.collect()
    assert len(merged) == len(base) == 1
    assert merged[0]["n_events"] == base[0]["n_events"]
    assert merged[0]["total_value_dec"] == base[0]["total_value_dec"]


def test_hot_keys_flags_dominant_key(spark):
    from py_etl_pipeline_woocommerce_spark.operators.skew import hot_keys

    rows = [(i, 0, 7, "A", 0.0) for i in range(80)] + [
        (100 + u, 0, u, "B", 0.0) for u in range(20)
    ]
    ev = _events(spark, [(i + 1, r[1], r[2], r[3], r[4]) for i, r in enumerate(rows)])
    out = {r["key_rank"]: r for r in hot_keys(ev, "user_id", topk=5).collect()}
    assert len(out) == 5
    top = out[1]
    assert top["key_value"] == "7"
    # user 7 also appears once among the B rows: 81 of 100 rows
    assert top["n_rows"] == 81
    assert top["share"] == 0.81
    # 20 distinct keys, so uniform would be 5 rows each
    assert top["x_uniform"] == round(81 * 20 / 100, 6)
    assert out[2]["n_rows"] == 1  # everything else is cold


def test_hybrid_search_rrf_rewards_cross_list_agreement(spark, sf_dir):
    from py_etl_pipeline_woocommerce_spark.catalog import load_table
    from py_etl_pipeline_woocommerce_spark.operators.corpus import (
        bm25_search,
        hybrid_search,
    )

    docs = load_table(spark, sf_dir, "documents")
    fused = hybrid_search(docs).collect()
    assert fused
    by_q = {}
    for r in fused:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        ranks = [r["fused_rank"] for r in sorted(rows, key=lambda r: r["fused_rank"])]
        assert ranks == list(range(1, len(ranks) + 1))
        # scores non-increasing in rank, ties impossible after the
        # doc_id tie-break
        scores = [r["rrf_score"] for r in sorted(rows, key=lambda r: r["fused_rank"])]
        assert all(a >= b for a, b in zip(scores, scores[1:]))
    # every fused doc must come from one of the stage lists
    lex = {(r["query_id"], r["doc_id"]) for r in bm25_search(docs).collect()}
    assert any((r["query_id"], r["doc_id"]) in lex for r in fused)
    # RRF score bounds: max possible is rank 1 in both lists
    assert all(r["rrf_score"] <= round(2 / 61, 6) + 1e-9 for r in fused)


def test_hybrid_search_threads_every_into_both_stages(spark, sf_dir):
    # a non-default `every` must drive BOTH retrieval stages: every
    # fused query_id is on the every-grid, and none of the default
    # every=97 grid's extra queries leak in from the lexical stage
    from py_etl_pipeline_woocommerce_spark.catalog import load_table
    from py_etl_pipeline_woocommerce_spark.operators.corpus import (
        hybrid_search,
    )

    docs = load_table(spark, sf_dir, "documents")
    fused = hybrid_search(docs, every=50, topk=3).collect()
    qids = {r["query_id"] for r in fused}
    assert qids
    assert all(q % 50 == 0 for q in qids)


def test_basket_pairs_lift_math(spark, sf_dir):
    from py_etl_pipeline_woocommerce_spark.plans.relational import basket_pairs

    rows = basket_pairs(spark, sf_dir, min_pair_orders=1, topk=10).collect()
    assert rows
    ranks = sorted(r["pair_rank"] for r in rows)
    assert ranks == list(range(1, len(rows) + 1))
    for r in rows:
        assert r["part_a"] < r["part_b"]
        assert r["n_both"] >= 1
        assert 0 < r["support"] <= 1
        assert 0 < r["conf_a_to_b"] <= 1
        assert r["lift"] > 0
    # lift ordering is the rank ordering
    lifts = [r["lift"] for r in sorted(rows, key=lambda r: r["pair_rank"])]
    assert all(a >= b for a, b in zip(lifts, lifts[1:]))


def test_rollup_merge_split_invariance_property(spark):
    """Associativity property behind the continuous aggregate: for ANY
    split of the event stream into (history, batch), merging the
    batch into the history's stored partials equals the full
    recompute. Randomized splits over a fixed event set — the
    property the incremental warehouse design rests on."""
    import random

    from py_etl_pipeline_woocommerce_spark.operators.warehouse import (
        daily_rollup_partials,
        rollup_merge,
    )

    rng = random.Random(42)
    rows = [
        (
            i,
            rng.randrange(0, 5) * DAY_NS + rng.randrange(0, 1000) * 1_000_000,
            rng.randrange(1, 20),
            rng.choice(["A", "B", "C"]),
            round(rng.uniform(-50, 50), 2),
        )
        for i in range(1, 120)
    ]
    ev = _events(spark, rows)
    full = {
        (r["day_us"], r["event_type"]): (r["n_events"], r["total_value_dec"])
        for r in daily_rollup_partials(ev).collect()
    }
    for cut in (1, 30, 60, 119):
        hist = ev.filter(F.col("event_id") <= cut)
        batch = ev.filter(F.col("event_id") > cut)
        merged = {
            (r["day_us"], r["event_type"]): (
                r["n_events"],
                r["total_value_dec"],
            )
            for r in rollup_merge(daily_rollup_partials(hist), batch).collect()
        }
        assert merged == full, f"split at {cut} diverged"


def test_asof_tolerance_nulls_far_matches(spark):
    from py_etl_pipeline_woocommerce_spark.operators.temporal import asof_join

    MIN_NS = 60 * 1_000_000_000
    ev = _events(
        spark,
        [
            (1, 0, 1, "click", 0.0),
            (2, 5 * MIN_NS, 1, "purchase", 0.0),  # 5 min after click
            (3, 0, 2, "click", 0.0),
            (4, 120 * MIN_NS, 2, "purchase", 0.0),  # 2 h after click
        ],
    )
    out = {
        r["event_id"]: r
        for r in asof_join(ev, tolerance_us=3_600_000_000).collect()
    }
    assert out[2]["asof_event_id"] == 1 and out[2]["gap_us"] == 5 * 60_000_000
    # beyond tolerance -> treated as no match
    assert out[4]["asof_event_id"] is None and out[4]["gap_us"] is None
    # unbounded variant still matches it
    unbounded = {r["event_id"]: r for r in asof_join(ev).collect()}
    assert unbounded[4]["asof_event_id"] == 3
