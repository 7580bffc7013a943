"""Unit tests for operators/corpus.py and label_centroids: literal
hand-computed expectations plus the invariants that matter at scale
(sample composability, centroid exactness under repartitioning)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from py_etl_pipeline_woocommerce_spark.catalog import load_table
from py_etl_pipeline_woocommerce_spark.operators import corpus
from py_etl_pipeline_woocommerce_spark.operators.similarity import label_centroids


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the cat sat on the mat", "en", "s1"),
            (2, "the dog sat", "en", "s1"),
            (3, "le chat noir", "fr", "s2"),
            (4, "", "en", "s2"),
        ],
        "doc_id bigint, text string, lang string, source string",
    )


def test_tfidf_rare_term_outranks_common(spark, docs):
    out = corpus.tfidf_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: "the" has tf=2 but df=2 -> score 2*4/2=4; "cat" tf=1 df=1 -> 4;
    # "mat"/"on"/"sat" score 4 or 2 ... top-2 is deterministic by (score desc, term)
    top1 = sorted(by_doc[1], key=lambda r: r.term_rank)
    assert [r.term for r in top1] == ["cat", "mat"]
    assert all(r.score == 4.0 for r in top1)
    # empty doc contributes no terms
    assert 4 not in by_doc


def test_ngram_freq_counts(spark, docs):
    out = {
        (r.lang, r.ngram): r.freq
        for r in corpus.ngram_freq(docs, n=2, topk=50).collect()
    }
    assert out[("en", "the cat")] == 1
    assert out[("en", "sat on")] == 1
    assert out[("fr", "le chat")] == 1
    # "the dog" and "dog sat" each once; "cat sat" once
    assert out[("en", "cat sat")] == 1


def test_stratified_sample_composable_and_deterministic(spark, sf_dir):
    documents = load_table(spark, sf_dir, "documents")
    half = corpus.stratified_sample(documents, rates={"en": 50}, default_pct=20)
    quarter = corpus.stratified_sample(documents, rates={"en": 25}, default_pct=10)
    half_ids = {r.doc_id for r in half.collect()}
    quarter_ids = {r.doc_id for r in quarter.collect()}
    # nested rates -> nested samples (hash-mod composability)
    assert quarter_ids <= half_ids
    # re-run identical
    assert {r.doc_id for r in half.collect()} == half_ids


def test_sample_exact_k_counts_nesting_and_scalable_plan(spark, sf_dir):
    import contextlib
    import io

    documents = load_table(spark, sf_dir, "documents")
    lang_sizes = {
        r.lang: r.n
        for r in documents.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    out = corpus.sample_exact_k(documents, k=20).collect()
    per_lang = {}
    for r in out:
        per_lang.setdefault(r.lang, []).append(r)
    for lang, rows in per_lang.items():
        # exactly k, or the whole (smaller) language
        assert len(rows) == min(20, lang_sizes[lang])
        # ranks are 1..n without gaps
        assert sorted(r.sample_rank for r in rows) == list(
            range(1, len(rows) + 1)
        )
    assert set(per_lang) == set(lang_sizes)
    # hash-order selection nests: the k=5 sample is the rank<=5 slice
    # of the k=20 sample, and a re-run is identical
    small = {
        (r.lang, r.doc_id)
        for r in corpus.sample_exact_k(documents, k=5).collect()
    }
    assert small == {
        (r.lang, r.doc_id) for r in out if r.sample_rank <= 5
    }
    assert {(r.lang, r.doc_id, r.sample_rank) for r in out} == {
        (r.lang, r.doc_id, r.sample_rank)
        for r in corpus.sample_exact_k(documents, k=20).collect()
    }
    # different seed -> different selection order
    reseeded = {
        (r.lang, r.doc_id)
        for r in corpus.sample_exact_k(documents, k=5, seed=7).collect()
    }
    assert reseeded != small
    # scalable plan: the only ordered windows partition by
    # (lang, bucket) / the bounded selected frame — never unpartitioned
    from tests.test_plan_guards import count_unpartitioned_windows

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        corpus.sample_exact_k(documents).explain("formatted")
    assert count_unpartitioned_windows(buf.getvalue()) == 0


def test_corpus_stats_totals(spark, docs):
    out = {(r.lang, r.source): r for r in corpus.corpus_stats(docs).collect()}
    en_s1 = out[("en", "s1")]
    assert en_s1.n_docs == 2
    assert en_s1.total_tokens == 6 + 3
    assert en_s1.total_chars == len("the cat sat on the mat") + len("the dog sat")
    assert en_s1.avg_chars == en_s1.total_chars / 2
    assert out[("en", "s2")].total_tokens == 0


def test_label_centroids_exact_and_partition_invariant(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 2.0], 7), (1, [3.0, 4.0], 7), (2, [10.0, 20.0], 8)],
        "vec_id bigint, embedding array<float>, label int",
    )
    out = {(r.label, r.dim): r for r in label_centroids(emb).collect()}
    assert out[(7, 0)].centroid == 2.0 and out[(7, 1)].centroid == 3.0
    assert out[(8, 0)].centroid == 10.0
    assert out[(7, 0)].n_vecs == 2
    # identical under a different partitioning (exact grid sums)
    re = {
        (r.label, r.dim): r.centroid
        for r in label_centroids(emb.repartition(7)).collect()
    }
    assert re == {k: v.centroid for k, v in out.items()}


def test_decontaminate_flags_benchmark_overlap(spark):
    from py_etl_pipeline_woocommerce_spark.operators.corpus import decontaminate

    schema = "doc_id bigint, text string, lang string, source string"
    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon", "en", "s"),  # overlaps
            (2, "totally different words here now", "en", "s"),  # clean
            (3, "", "en", "s"),  # empty: no shingles, clean
        ],
        schema,
    )
    bench = spark.createDataFrame(
        [(100, "intro alpha beta gamma outro", "en", "eval")], schema
    )
    out = {r.doc_id: r for r in decontaminate(train, benchmark=bench).collect()}
    assert out[1].contaminated and out[1].n_hits >= 1
    assert not out[2].contaminated and out[2].n_hits == 0
    assert not out[3].contaminated


def test_dedup_apply_keeps_one_per_cluster(spark):
    from py_etl_pipeline_woocommerce_spark.operators.corpus import dedup_apply

    BASE = (
        "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    )
    docs = spark.createDataFrame(
        [
            (1, BASE, "en", "s"),
            (2, BASE + " extra", "en", "s"),
            (3, "completely unrelated words about spark engines and parquet", "en", "s"),
        ],
        "doc_id bigint, text string, lang string, source string",
    )
    out = {r.doc_id: r for r in dedup_apply(docs).collect()}
    assert set(out) == {1, 3}  # 2 merged into 1
    assert out[1].n_merged == 2
    assert out[3].n_merged == 1


def test_dedup_clusters_chain_converges(spark):
    """A 4-doc chain a-b-c-d must collapse to one cluster even though
    a and d are never a pair (transitivity through propagation)."""
    from py_etl_pipeline_woocommerce_spark.operators.dedup import dedup_clusters

    docs = spark.createDataFrame(
        [(i, f"doc {i}", "en", "s") for i in range(1, 7)],
        "doc_id bigint, text string, lang string, source string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "doc_a bigint, doc_b bigint"
    )
    out = {r.doc_id: r for r in dedup_clusters(docs, pairs=pairs).collect()}
    assert all(out[i].cluster_id == 1 for i in (1, 2, 3, 4))
    assert all(out[i].cluster_size == 4 for i in (1, 2, 3, 4))
    # singletons cluster with themselves
    assert out[5].cluster_id == 5 and out[5].cluster_size == 1
    assert out[6].cluster_id == 6


def test_dedup_clusters_resolves_long_chain(spark):
    """A chain is propagation's worst case (one hop per round) and the
    sharpest check of transitivity: the default max_iter must resolve
    an 8-hop chain into one cluster rooted at its minimum."""
    from py_etl_pipeline_woocommerce_spark.operators.dedup import dedup_clusters

    # chain 1-2-...-9 + two singletons
    docs = spark.createDataFrame(
        [(i, f"doc {i}", "en", "s") for i in range(1, 12)],
        "doc_id bigint, text string, lang string, source string",
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "doc_a bigint, doc_b bigint"
    )
    out = {r.doc_id: r for r in dedup_clusters(docs, pairs=pairs).collect()}
    assert all(out[i].cluster_id == 1 for i in range(1, 10))
    assert all(out[i].cluster_size == 9 for i in range(1, 10))
    assert out[10].cluster_id == 10 and out[10].cluster_size == 1
    assert out[11].cluster_id == 11 and out[11].cluster_size == 1


def test_hopping_window_membership(spark):
    """Each event lands in exactly window/hop windows; counts line up."""
    from py_etl_pipeline_woocommerce_spark.operators.events import hopping_window_agg

    hour = 3_600_000_000_000  # ns
    events = spark.createDataFrame(
        [(1, 0 * hour + 10, "u1", "click", 1.0, "{}"),
         (2, 0 * hour + 20, "u2", "click", 2.0, "{}")],
        "event_id bigint, ts bigint, user_id string, event_type string, value double, props string",
    )
    rows = hopping_window_agg(events).collect()
    # both events at ~t=0 -> windows starting at 0 and -30min
    starts = sorted(r.window_start_us for r in rows)
    assert starts == [-1_800_000_000, 0]
    assert all(r.n_events == 2 and r.total_value == 3.0 for r in rows)


def test_hopping_window_non_divisible_hop_matches_brute_force(spark):
    """When hop does not divide window (3.6s windows hopping 1s) the
    fan-out is CEIL(window/hop): an event early in its hop bucket
    belongs to one extra earlier window — parity with a brute-force
    membership reference over every (event, window) pair."""
    from py_etl_pipeline_woocommerce_spark.operators.events import (
        hopping_window_agg,
    )

    W, H = 3_600_000, 1_000_000  # 3.6 s window, 1 s hop (µs)
    ts_us = [200_000, 10_200_000, 10_900_000, 13_100_000]
    events = spark.createDataFrame(
        [
            (i, t * 1000, "u", "click", 1.0, "{}")
            for i, t in enumerate(ts_us)
        ],
        "event_id bigint, ts bigint, user_id string, event_type string, "
        "value double, props string",
    )
    expected = {}
    for t in ts_us:
        s = t - t % H
        while s > t - W:
            if s <= t < s + W:
                expected[s] = expected.get(s, 0) + 1
            s -= H
    got = {
        r.window_start_us: r.n_events
        for r in hopping_window_agg(
            events, window_us=W, hop_us=H
        ).collect()
    }
    assert got == expected
    # the event at 10.2e6 must appear in the window starting at 7e6
    # (the one the old floor(window/hop) fan-out silently dropped)
    assert expected[7_000_000] >= 1 and got[7_000_000] == expected[7_000_000]


def test_unigram_logprob_hand_computed(spark):
    import math

    from py_etl_pipeline_woocommerce_spark.operators.corpus import unigram_logprob

    docs = spark.createDataFrame(
        [
            (1, "a a b", "en", "s", 5),
            (2, "a c", "en", "s", 3),
            (3, "", "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # corpus tf: a=3, b=1, c=1, total=5
    out = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
    exp1 = (2 * -math.log2(3 / 5) + 1 * -math.log2(1 / 5)) / 3
    exp2 = (1 * -math.log2(3 / 5) + 1 * -math.log2(1 / 5)) / 2
    assert out[1]["bits_per_token"] == pytest.approx(round(exp1, 6))
    assert out[2]["bits_per_token"] == pytest.approx(round(exp2, 6))
    assert out[3]["n_occ"] == 0 and out[3]["bits_per_token"] == 0.0


def test_tokenizer_stats_hand_computed(spark):
    from py_etl_pipeline_woocommerce_spark.operators.corpus import tokenizer_stats

    docs = spark.createDataFrame(
        [
            (1, "aa bb", "en", "s", 5),    # 2 tokens, 5 chars, 1 sep
            (2, "ccc", "en", "s", 3),      # 1 token, 3 chars, 0 sep
            (3, "", "fr", "s", 0),         # empty
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["lang"]: r for r in tokenizer_stats(docs).collect()}
    en = out["en"]
    assert en["n_docs"] == 2 and en["total_tokens"] == 3 and en["total_chars"] == 8
    assert en["tokens_per_100_chars"] == pytest.approx(round(3 * 100.0 / 8, 6))
    # token chars = 8 - 1 separator = 7; mean len 7/3
    assert en["mean_token_len"] == pytest.approx(round(7 / 3, 6))
    fr = out["fr"]
    assert fr["total_tokens"] == 0 and fr["tokens_per_100_chars"] == 0.0


def test_token_budget_sample_fills_greedily_per_lang(spark):
    from py_etl_pipeline_woocommerce_spark.operators.corpus import (
        token_budget_sample,
    )

    mk = lambda n: " ".join(f"word{i} token{i} fine{i} text{i}" for i in range(n))
    docs = spark.createDataFrame(
        [
            # en: high quality long, medium, low-quality repetitive
            (1, mk(30), "en", "s", 0),     # ~120 tokens, varied
            (2, mk(15), "en", "s", 0),     # ~60 tokens
            (3, "spam spam spam spam spam spam spam spam", "en", "s", 0),
            (4, mk(20), "fr", "s", 0),     # fr budget independent
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["doc_id"]: r for r in token_budget_sample(docs, budget_tokens=150).collect()}
    # per-lang cumulative sums restart: fr doc's cum equals its own count
    assert out[4]["cum_tokens"] == out[4]["n_tokens"]
    # selection = docs whose PRECEDING tokens are under budget
    for r in out.values():
        assert r["is_selected"] == (r["cum_tokens"] - r["n_tokens"] < 150)
    # the repetitive doc ranks last among en docs
    en = sorted(
        (r for r in out.values() if r["lang"] == "en"),
        key=lambda r: r["cum_tokens"],
    )
    assert en[-1]["doc_id"] == 3
    # budget binds: not everything in en is selected
    assert not all(r["is_selected"] for r in en)


def test_token_budget_two_pass_matches_naive_window(spark, sf_dir):
    """The bucketed two-pass prefix sum must be BIT-IDENTICAL to the
    naive per-language cumsum window it replaced, for any n_buckets
    (cut values only partition the order, never change the result) —
    including n_buckets larger than the corpus (empty buckets)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from py_etl_pipeline_woocommerce_spark.catalog import load_table
    from py_etl_pipeline_woocommerce_spark.operators.corpus import (
        token_budget_sample,
    )
    from py_etl_pipeline_woocommerce_spark.operators.textstats import (
        quality_score,
    )

    docs = load_table(spark, sf_dir, "documents")
    q = quality_score(docs).select("doc_id", "n_tokens", "quality")
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("quality").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    naive = {
        r["doc_id"]: (r["cum_tokens"], r["is_selected"])
        for r in docs.select("doc_id", "lang")
        .join(q, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.sum("n_tokens").over(w).alias("cum_tokens"),
        )
        .withColumn(
            "is_selected",
            (F.col("cum_tokens") - F.col("n_tokens")) < F.lit(20_000),
        )
        .collect()
    }
    for n_buckets in (1, 2, 7, 64, 10_000):
        got = {
            r["doc_id"]: (r["cum_tokens"], r["is_selected"])
            for r in token_budget_sample(
                docs, n_buckets=n_buckets
            ).collect()
        }
        assert got == naive, n_buckets


def test_dsir_weights_prefers_target_like_docs(spark):
    from py_etl_pipeline_woocommerce_spark.operators.corpus import dsir_weights

    rows = [
        # target domain: cooking vocabulary
        (1, "recipe flour sugar butter oven bake recipe", "en", "tgt", 40),
        (2, "bake oven sugar flour recipe butter cake", "en", "tgt", 40),
        # target-like doc from another source -> should score high
        (3, "cake recipe oven butter sugar flour", "en", "web", 36),
        # off-domain docs -> should score low
        (4, "stock market futures bond yield equity", "en", "web", 38),
        (5, "goalkeeper penalty referee offside stadium", "en", "web", 42),
        (6, "", "en", "web", 0),  # empty doc: zero weight, still a row
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {
        r["doc_id"]: r
        for r in dsir_weights(
            docs, target_source="tgt", n_buckets=64, keep_frac=0.5
        ).collect()
    }
    assert len(out) == 6
    # the target-like doc outranks both off-domain docs
    assert out[3]["log_weight"] > out[4]["log_weight"]
    assert out[3]["log_weight"] > out[5]["log_weight"]
    # empty doc contributes no features
    assert out[6]["n_occ"] == 0 and out[6]["log_weight"] == 0.0
    # keep_frac=0.5 of 6 docs (one lang) -> exactly 3 selected
    assert sum(1 for r in out.values() if r["is_selected"]) == 3
    assert out[3]["is_selected"]


def test_dsir_model_scoring_matches_weights_and_streams(spark, sf_dir, tmp_path):
    """The persisted-model scorer reproduces dsir_weights' log_weight
    (same corpus), and the SAME stateless expression scores a
    Structured Streaming frame — batch/stream parity row for row."""
    import pytest

    from py_etl_pipeline_woocommerce_spark.catalog import load_table
    from py_etl_pipeline_woocommerce_spark.operators.corpus import (
        dsir_score_with_model,
        dsir_weights,
        write_dsir_model,
    )

    docs = load_table(spark, sf_dir, "documents")
    model_path = str(tmp_path / "dsir_model")
    write_dsir_model(docs, model_path)
    model = spark.read.parquet(model_path)
    assert model.count() == 1024  # full spine, absent buckets included

    batch = {
        r["doc_id"]: r for r in dsir_score_with_model(docs, model).collect()
    }
    ref = {r["doc_id"]: r for r in dsir_weights(docs).collect()}
    assert set(batch) == set(ref)
    for i, r in ref.items():
        assert batch[i]["n_occ"] == r["n_occ"]
        assert batch[i]["log_weight"] == pytest.approx(
            r["log_weight"], abs=1e-4
        )

    # stream the same docs through the identical scorer expression
    src = str(tmp_path / "stream_src")
    docs.limit(50).write.parquet(src)
    stream_docs = spark.readStream.schema(docs.schema).parquet(src)
    scored = dsir_score_with_model(stream_docs, model)
    assert scored.isStreaming
    q = (
        scored.writeStream.format("memory")
        .queryName("dsir_scores")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {
        r["doc_id"]: r for r in spark.sql("SELECT * FROM dsir_scores").collect()
    }
    assert len(streamed) == 50
    for i, r in streamed.items():
        assert r["log_weight"] == batch[i]["log_weight"]
        assert r["n_occ"] == batch[i]["n_occ"]


def test_corpus_prep_v2_strips_gates_dedups_selects(spark):
    from py_etl_pipeline_woocommerce_spark.operators.corpus import corpus_prep_v2

    boiler = "all rights reserved contact us for details today please"
    text_a = (
        "the small garden behind our house grows tomatoes and peppers of "
        "many colors while birds visit the old fountain each morning to "
        "drink and sing before the heat of noon arrives quietly over "
        "dusty rooftops nearby"
    )
    text_b = (
        "a narrow river winds through the quiet valley and carries cold "
        "water past stone bridges where children of the village gather "
        "to watch silver fish and toss pebbles during long summer "
        "afternoons under clear skies"
    )
    rows = [
        (1, text_a + " " + boiler, "en", "tgt", 0),
        (2, text_b + " " + boiler, "en", "web", 0),
        (3, boiler + " " + boiler, "en", "web", 0),  # pure boilerplate
        (4, text_a + " " + boiler, "en", "web", 0),  # exact dup of doc 1
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {
        r["doc_id"]: r
        for r in corpus_prep_v2(docs, target_source="tgt", keep_frac=1.0).collect()
    }
    # dup collapses to the min-id keeper BEFORE stripping, so doc 1
    # survives with its body intact; the shared boilerplate is cut
    assert 4 not in out
    assert 1 in out and 2 in out
    # pure-boilerplate doc strips to nothing and fails the gate
    assert 3 not in out
    # the packed token counts reflect the stripped text (body only)
    assert out[1]["n_tokens"] < len(rows[0][1].split())


def test_source_quota_caps_each_source(spark, sf_dir):
    from py_etl_pipeline_woocommerce_spark.catalog import load_table
    from py_etl_pipeline_woocommerce_spark.operators.corpus import (
        source_quota_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = source_quota_sample(docs, max_per_source=5).collect()
    per_source = {}
    for r in out:
        if r["is_kept"]:
            per_source.setdefault(r["source"], []).append(r["source_rank"])
    assert per_source  # something survives
    for src, ranks in per_source.items():
        assert len(ranks) <= 5
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_length_buckets_power_of_two_and_padding(spark):
    from py_etl_pipeline_woocommerce_spark.operators.corpus import length_buckets

    rows = [
        (1, "one", "en", "w", 0),                      # 1 token -> bucket 0
        (2, "two words", "en", "w", 0),                # 2 -> bucket 1
        (3, "a b c d e", "en", "w", 0),                # 5 -> bucket 3 cap 8
        (4, "", "en", "w", 0),                         # 0 -> bucket 0
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["bucket"]: r for r in length_buckets(docs).collect()}
    assert out[0]["bucket_cap"] == 1 and out[0]["n_docs"] == 2
    assert out[0]["padding_tokens"] == 1  # empty doc pads 1, 1-token doc 0
    assert out[1]["bucket_cap"] == 2 and out[1]["padding_tokens"] == 0
    assert out[3]["bucket_cap"] == 8 and out[3]["padding_tokens"] == 3


def test_dsir_threshold_selection_tracks_exact_rank(spark, sf_dir):
    from py_etl_pipeline_woocommerce_spark.catalog import load_table
    from py_etl_pipeline_woocommerce_spark.operators.corpus import (
        dsir_select_threshold,
        dsir_weights,
    )

    docs = load_table(spark, sf_dir, "documents")
    exact = {
        r["doc_id"] for r in dsir_weights(docs).collect() if r["is_selected"]
    }
    approx = {
        r["doc_id"]
        for r in dsir_select_threshold(docs).collect()
        if r["is_selected"]
    }
    assert exact and approx
    # the quantile cut may admit boundary ties the rank cut splits;
    # the symmetric difference stays small at sketch accuracy
    drift = len(exact ^ approx) / len(exact)
    assert drift < 0.1
    # scale guard: the threshold path contains the mergeable quantile
    # agg and NO rank window (no per-language global sort anywhere)
    plan = (
        dsir_select_threshold(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "percentile_approx" in plan
    assert "row_number" not in plan


def test_corpus_split_is_deterministic_and_complete(spark, sf_dir):
    from py_etl_pipeline_woocommerce_spark.catalog import load_table
    from py_etl_pipeline_woocommerce_spark.operators.corpus import corpus_split

    docs = load_table(spark, sf_dir, "documents")
    a = {r.doc_id: (r.split, r.bucket) for r in corpus_split(docs).collect()}
    b = {r.doc_id: (r.split, r.bucket) for r in corpus_split(docs).collect()}
    assert a == b                      # rerun-stable
    assert len(a) == docs.count()      # total partition of the corpus
    splits = {s for s, _ in a.values()}
    assert splits == {"train", "val", "test"}
    n_train = sum(1 for s, _ in a.values() if s == "train")
    assert n_train / len(a) > 0.8      # roughly the 90% mass
    # buckets and split labels agree
    for s, bkt in a.values():
        want = "train" if bkt < 90 else ("val" if bkt < 95 else "test")
        assert s == want


def test_split_leakage_counts_cross_split_exact_dups(spark):
    from py_etl_pipeline_woocommerce_spark.operators.corpus import (
        corpus_split,
        split_leakage,
    )

    base = spark.createDataFrame(
        [(i, "en", "web", f"unique document number {i} with words") for i in range(200)]
        + [(1000 + i, "en", "web", f"unique document number {i} with words") for i in range(200)],
        "doc_id long, lang string, source string, text string",
    )
    splits = {r.doc_id: r.split for r in corpus_split(base).collect()}
    out = {r.split: r for r in split_leakage(base).collect()}
    # hand-compute expected leakage from the split assignment itself
    for ev_split in ("val", "test"):
        expected_docs = [d for d, s in splits.items() if s == ev_split]
        leaked = 0
        for d in expected_docs:
            twin = d + 1000 if d < 1000 else d - 1000
            if splits.get(twin) == "train":
                leaked += 1
        assert out[ev_split].n_docs == len(expected_docs)
        assert out[ev_split].n_leaked == leaked
        assert out[ev_split].leak_rate == round(leaked / len(expected_docs), 6)


def test_split_leakage_near_catches_paraphrase_across_boundary(spark):
    from py_etl_pipeline_woocommerce_spark.operators.corpus import (
        corpus_split,
        split_leakage_near,
    )

    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away home tonight to sleep deeply")
    docs = spark.createDataFrame(
        [(i, "en", "web", f"totally unrelated document {i} about topic {i} "
                          f"with its own distinct words number {i}")
         for i in range(40)]
        + [(100 + i, "en", "web", base) for i in range(40)],  # near-dup family
        "doc_id long, lang string, source string, text string",
    )
    splits = {r.doc_id: r.split for r in corpus_split(docs).collect()}
    fam = [d for d in splits if d >= 100]
    fam_train = {d for d in fam if splits[d] == "train"}
    out = {r.split: r for r in split_leakage_near(docs).collect()}
    for ev_split in ("val", "test"):
        expected = sorted(d for d in fam if splits[d] == ev_split)
        r = out[ev_split]
        # every family member in an eval split leaks iff any family
        # member landed in train (they're identical texts)
        want = len(expected) if fam_train else 0
        assert r.n_leaked_docs == want
        assert r.n_docs == sum(1 for s in splits.values() if s == ev_split)


def test_weighted_sample_k_is_proportional_and_deterministic(spark):
    """A-ES sampling: seeded determinism, exactly-k per group under
    pressure, whole groups below k, zero/NULL weights excluded, and
    heavy rows selected far more often than light ones across seeds
    (probability proportional to weight)."""
    from py_etl_pipeline_woocommerce_spark.operators.corpus import (
        weighted_sample_k,
    )

    rows = [
        (i, "big", 1000.0 if i % 10 == 0 else 1.0) for i in range(200)
    ]
    rows += [(1000, "tiny", 5.0), (1001, "tiny", 7.0)]
    # zero, NULL, and NaN weights are all ineligible — NaN would
    # otherwise pass (NaN > 0) and hijack rank 1 with a NaN key
    rows += [(2000, "dead", 0.0), (2001, "dead", None)]
    rows += [(3000, "big", float("nan"))]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, n_chars double"
    )

    out = weighted_sample_k(df, k=20, by="source", weight="n_chars")
    got = out.collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r.source, []).append(r)
    # exactly k under pressure; whole group below k; no zero/NULL rows
    assert len(by_src["big"]) == 20
    assert sorted(r.sample_rank for r in by_src["big"]) == list(
        range(1, 21)
    )
    assert len(by_src["tiny"]) == 2
    assert "dead" not in by_src
    assert all(r.doc_id != 3000 for r in by_src["big"])  # NaN excluded
    # fractional weights pass through unchanged (no long truncation)
    assert {r.weight for r in by_src["tiny"]} == {5.0, 7.0}

    # deterministic: same seed, same sample
    again = weighted_sample_k(df, k=20, by="source", weight="n_chars")
    assert sorted(map(tuple, got)) == sorted(map(tuple, again.collect()))

    # proportionality: the 20 heavy docs (weight 1000 vs 1) should
    # dominate the big group's sample across seeds — with weights this
    # skewed each sample is ~all-heavy; demand a strong majority
    heavy_share = []
    for seed in (1, 2, 3, 4, 5):
        s = weighted_sample_k(
            df, k=20, by="source", weight="n_chars", seed=seed
        ).filter("source = 'big'")
        n_heavy = s.filter("weight = 1000.0").count()
        heavy_share.append(n_heavy / 20)
    assert sum(heavy_share) / len(heavy_share) > 0.75
