"""Round-4 additions: Gopher document rules, bigram LM scoring,
source JS-divergence, seasonal profile, and distributed PCA — literal
hand-computed expectations plus the linear-algebra contract for PCA.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from conftest import pinned_ids
from pyspark.sql import functions as F

from py_etl_pipeline_woocommerce_spark.operators import corpus, reduction
from py_etl_pipeline_woocommerce_spark.operators.temporal import (
    seasonal_profile,
)
from py_etl_pipeline_woocommerce_spark.operators.textstats import gopher_rules

DOC_SCHEMA = "doc_id bigint, text string, lang string, source string"
EV_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)


# ------------------------------------------------------------------
# gopher_rules
# ------------------------------------------------------------------

def _docs(spark, rows):
    return spark.createDataFrame(rows, DOC_SCHEMA)


def test_gopher_word_count_and_stopwords(spark):
    good = "the quick brown fox and that dog have fun with everyone " * 6
    out = {
        r.doc_id: r
        for r in gopher_rules(
            _docs(
                spark,
                [
                    (1, good, "en", "s"),  # 66 words, stopword-rich
                    (2, "tiny doc only", "en", "s"),  # too short, no stops
                ],
            )
        ).collect()
    }
    assert out[1].n_words == 66
    assert out[1].word_count_ok and out[1].stopword_ok
    assert out[1].gopher_pass
    assert out[2].n_words == 3
    assert not out[2].word_count_ok
    assert out[2].stop_hits == 0 and not out[2].stopword_ok
    assert not out[2].gopher_pass


def test_gopher_line_and_symbol_rules(spark):
    bullets = "\n".join(["- item one two", "* item three", "plain line"])
    ellipsis = "\n".join(["trailing off...", "also this…", "solid line"])
    hashy = "a b c # # # # #"
    out = {
        r.doc_id: r
        for r in gopher_rules(
            _docs(
                spark,
                [
                    (1, bullets, "en", "s"),
                    (2, ellipsis, "en", "s"),
                    (3, hashy, "en", "s"),
                ],
            )
        ).collect()
    }
    assert out[1].bullet_ratio == pytest.approx(2 / 3)
    assert out[2].ellipsis_ratio == pytest.approx(2 / 3)
    assert not out[2].ellipsis_ok
    # 5 '#' chars over 8 words
    assert out[3].symbol_ratio == pytest.approx(5 / 8)
    assert not out[3].symbol_ok
    # words that are pure '#' contain no alphabetic char
    assert out[3].alpha_word_ratio == pytest.approx(3 / 8)


def test_gopher_empty_doc_all_zero(spark):
    (row,) = gopher_rules(_docs(spark, [(1, "", "en", "s")])).collect()
    assert row.n_words == 0
    assert row.mean_word_len == 0.0
    assert not row.gopher_pass  # word_count + stopword rules fail


# ------------------------------------------------------------------
# bigram_logprob
# ------------------------------------------------------------------

def test_bigram_logprob_hand_computed(spark):
    docs = _docs(
        spark,
        [(1, "a b a c", "en", "s"), (2, "a b", "en", "s")],
    )
    out = {r.doc_id: r for r in corpus.bigram_logprob(docs).collect()}
    # c2: (a b)=2, (b a)=1, (a c)=1 ; prefix c1: a=3, b=1
    # doc1 bits = -[log2(2/3) + log2(1/1) + log2(1/3)]
    bits1 = -(math.log2(2 / 3) + math.log2(1 / 3))
    assert out[1].n_bigrams == 3
    assert out[1].bits_per_bigram == pytest.approx(round(bits1 / 3, 6))
    assert out[2].n_bigrams == 1
    assert out[2].bits_per_bigram == pytest.approx(
        round(-math.log2(2 / 3), 6)
    )


def test_bigram_logprob_short_docs_zero(spark):
    docs = _docs(spark, [(1, "solo", "en", "s"), (2, "", "en", "s")])
    out = {r.doc_id: r for r in corpus.bigram_logprob(docs).collect()}
    assert out[1].n_bigrams == 0 and out[1].bits_per_bigram == 0.0
    assert out[2].n_bigrams == 0 and out[2].bits_per_bigram == 0.0


# ------------------------------------------------------------------
# source_divergence
# ------------------------------------------------------------------

def test_source_divergence_identical_and_disjoint(spark):
    docs = _docs(
        spark,
        [
            (1, "x y x", "en", "sA"),
            (2, "x y x", "en", "sB"),  # identical distribution to sA
            (3, "z w", "en", "sC"),    # disjoint vocabulary
        ],
    )
    out = {
        (r.source_a, r.source_b): r
        for r in corpus.source_divergence(docs).collect()
    }
    assert out[("sA", "sB")].jsd == pytest.approx(0.0, abs=1e-9)
    assert out[("sA", "sB")].n_shared_terms == 2
    # disjoint vocabularies: the pair ROW must exist with JSD exactly
    # 1 — the maximally-divergent cell is what the matrix is for
    assert out[("sA", "sC")].jsd == pytest.approx(1.0)
    assert out[("sA", "sC")].n_shared_terms == 0
    assert out[("sB", "sC")].jsd == pytest.approx(1.0)
    # the matrix is COMPLETE: every unordered source pair present
    assert set(out) == {("sA", "sB"), ("sA", "sC"), ("sB", "sC")}


def test_source_divergence_bounded(spark):
    docs = _docs(
        spark,
        [
            (1, "x x x y", "en", "sA"),
            (2, "x y y y", "en", "sB"),
        ],
    )
    (row,) = corpus.source_divergence(docs).collect()
    assert 0.0 < row.jsd < 1.0


# ------------------------------------------------------------------
# seasonal_profile
# ------------------------------------------------------------------

def test_seasonal_profile_epoch_math(spark):
    day_us = 86_400_000_000
    hour_us = 3_600_000_000
    rows = [
        # epoch 0 = Thursday 1970-01-01 -> weekday 3 (Monday=0), hour 0
        (1, 0, 1, "click", 1.0, "{}"),
        # +25h -> Friday (4), hour 1
        (2, (day_us + hour_us) * 1000, 1, "click", 3.0, "{}"),
        # same cell as event 1
        (3, 1_000_000 * 1000, 2, "click", 2.0, "{}"),
    ]
    ev = spark.createDataFrame(rows, EV_SCHEMA)
    out = {
        (r.event_type, r.weekday, r.hour): r
        for r in seasonal_profile(ev).collect()
    }
    cell = out[("click", 3, 0)]
    assert cell.n_events == 2
    assert cell.total_value == pytest.approx(3.0)
    assert cell.mean_value == pytest.approx(1.5)
    assert out[("click", 4, 1)].n_events == 1


# ------------------------------------------------------------------
# pca
# ------------------------------------------------------------------

@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(7)
    d = 6
    # strong variance along axis 0, medium along axis 1, noise elsewhere
    data = np.column_stack(
        [
            rng.normal(0, 10, 200),
            rng.normal(0, 3, 200),
            *[rng.normal(0, 0.1, 200) for _ in range(d - 2)],
        ]
    )
    return (
        spark.createDataFrame(
            [
                (int(i), [float(x) for x in row], int(i % 3))
                for i, row in enumerate(data)
            ],
            "vec_id bigint, embedding array<float>, label int",
        ),
        data.astype(np.float32).astype(np.float64),
    )


def test_pca_fit_matches_numpy(emb):
    df, data = emb
    model = reduction.pca_fit(df, k=3)
    comps = np.array(model["components"])
    # orthonormal
    assert np.abs(comps @ comps.T - np.eye(3)).max() < 1e-9
    # explained variance descending, dominated by the wide axis
    assert model["explained"][0] > model["explained"][1] > model["explained"][2]
    assert model["explained"][0] > 0.8
    # first component is essentially e0
    assert abs(abs(comps[0][0]) - 1.0) < 1e-2
    # parity with numpy PCA on the same rows, up to the fit's
    # DELIBERATE 1e-9 moment-grid quantization (the determinism
    # device: exact associative integer sums instead of
    # partition-order-dependent double sums) — components track the
    # exact-covariance basis to ~1e-6, far below PCA's own noise
    cov = np.cov(data.T, bias=True)
    ev, W = np.linalg.eigh(cov)
    order = np.argsort(ev)[::-1][:3]
    Wk = W[:, order].T
    for i in range(3):
        j = int(np.argmax(np.abs(Wk[i])))
        if Wk[i][j] < 0:
            Wk[i] = -Wk[i]
    assert np.abs(Wk - comps).max() < 1e-6


def test_pca_project_reconstruction_improves_with_k(emb):
    df, data = emb
    mu = data.mean(0)
    errs = []
    for k in (1, 2, 4):
        model = reduction.pca_fit(df, k=k)
        proj = (
            reduction.pca_project(df, k=k, model=model)
            .orderBy("vec_id")
            .collect()
        )
        P = np.array([r.proj for r in proj])
        comps = np.array(model["components"])
        recon = mu + P @ comps
        errs.append(float(((data - recon) ** 2).sum()))
    assert errs[0] > errs[1] > errs[2]
    # top-2 axes carry nearly all the variance in this construction
    total = float(((data - mu) ** 2).sum())
    assert errs[1] / total < 0.01


def test_pca_project_partitioning_invariant(emb):
    df, _ = emb
    model = reduction.pca_fit(df, k=2)
    a = (
        reduction.pca_project(df, k=2, model=model)
        .orderBy("vec_id")
        .collect()
    )
    b = (
        reduction.pca_project(df.repartition(7), k=2, model=model)
        .orderBy("vec_id")
        .collect()
    )
    for ra, rb in zip(a, b):
        assert ra.proj == pytest.approx(rb.proj, abs=1e-12)


# ------------------------------------------------------------------
# lang_confusion / value_outliers_mad / perplexity buckets / PMI
# ------------------------------------------------------------------

def test_lang_confusion_cells(spark):
    from py_etl_pipeline_woocommerce_spark.operators.textstats import (
        lang_confusion,
    )

    docs = _docs(
        spark,
        [
            (1, "the cat and the dog", "en", "s"),   # en -> en
            (2, "le chat et la mer", "en", "s"),      # declared en, reads fr
            (3, "der hund und die katze", "de", "s"),  # de -> de
        ],
    )
    out = {
        (r.lang_declared, r.lang_pred): r
        for r in lang_confusion(docs).collect()
    }
    assert out[("en", "en")].n_docs == 1
    assert out[("en", "fr")].n_docs == 1
    assert out[("en", "en")].declared_total == 2
    assert out[("en", "fr")].share == pytest.approx(0.5)
    assert out[("de", "de")].share == pytest.approx(1.0)


def test_value_outliers_mad_flags_only_extremes(spark):
    from py_etl_pipeline_woocommerce_spark.operators.temporal import (
        value_outliers_mad,
    )

    rows = [
        (i, i * 1000_000, 1, "buy", v, "{}")
        for i, v in enumerate([1.0, 2.0, 3.0, 4.0, 100.0])
    ]
    ev = spark.createDataFrame(rows, EV_SCHEMA)
    out = value_outliers_mad(ev).collect()
    # med=3, mad=1 -> only 100.0 crosses |0.6745*(v-3)/1| > 3.5
    assert [r.value for r in out] == [100.0]
    assert out[0].med == 3.0 and out[0].mad == 1.0
    assert out[0].mod_z == pytest.approx(round(0.6745 * 97, 6))


def test_value_outliers_mad_zero_mad_type_dropped(spark):
    from py_etl_pipeline_woocommerce_spark.operators.temporal import (
        value_outliers_mad,
    )

    rows = [(i, i * 1000_000, 1, "buy", 5.0, "{}") for i in range(4)] + [
        (9, 9_000_000_000, 1, "buy", 500.0, "{}")
    ]
    ev = spark.createDataFrame(rows, EV_SCHEMA)
    # med=5, mad=0 -> the whole type is unas sessable, emits nothing
    assert value_outliers_mad(ev).count() == 0


def test_perplexity_bucket_mix_shares(spark):
    docs = _docs(
        spark,
        [
            (i, " ".join(f"w{i}t{j}" for j in range(5)) + " common", "en", "s")
            for i in range(20)
        ],
    )
    out = sorted(
        corpus.perplexity_bucket_mix(docs, exact=True).collect(),
        key=lambda r: r.decile,
    )
    assert [r.decile for r in out] == list(range(1, 11))
    assert sum(r.n_docs for r in out) == 20
    assert sum(r.token_share for r in out) == pytest.approx(1.0, abs=1e-4)
    # deciles are ordered by score: each bucket's min >= previous max
    for prev, cur in zip(out, out[1:]):
        assert cur.min_bits >= prev.max_bits - 1e-9
    # sketch default: same schema, full doc mass, ordered buckets,
    # and no global sort in the plan
    sk = sorted(
        corpus.perplexity_bucket_mix(docs).collect(), key=lambda r: r.decile
    )
    assert sum(r.n_docs for r in sk) == 20
    assert sum(r.token_share for r in sk) == pytest.approx(1.0, abs=1e-4)
    assert {f for f in sk[0].asDict()} == {f for f in out[0].asDict()}
    for prev, cur in zip(sk, sk[1:]):
        assert cur.min_bits >= prev.max_bits - 1e-9


def test_pmi_terms_hand_computed(spark):
    docs = _docs(
        spark,
        [(i, "a b filler%d" % i, "en", "s") for i in range(5)]
        + [(i + 10, "c filler%d" % i, "en", "s") for i in range(5)],
    )
    out = {
        (r.term_a, r.term_b): r
        for r in corpus.pmi_terms(docs, top_v=10, k=10, min_pair_docs=5).collect()
    }
    # df_ab=5, df_a=df_b=5, N=10 -> pmi = log2(5*10/25) = 1
    assert out[("a", "b")].pmi == pytest.approx(1.0)
    assert out[("a", "b")].df_ab == 5
    # 'c' never co-occurs >= 5 docs with a/b
    assert all("c" not in pair for pair in out)


# ------------------------------------------------------------------
# mmr_topk
# ------------------------------------------------------------------

def _vecs(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in rows],
        "vec_id bigint, embedding array<float>, label int",
    )


def test_mmr_demotes_near_duplicate(spark):
    from py_etl_pipeline_woocommerce_spark.operators.similarity import (
        ann_topk,
        mmr_topk,
    )

    emb = _vecs(
        spark,
        [
            (0, [1, 0, 0, 0]),          # the query
            (1, [0.9, 0.1, 0, 0]),      # most relevant
            (2, [0.9, 0.1, 0.001, 0]),  # near-duplicate of 1
            (3, [0.6, 0, 0.8, 0]),      # less relevant but diverse
        ],
    )
    plain = [
        r.neighbor_id
        for r in ann_topk(emb, n_queries=1, k=2)
        .orderBy("knn_rank")
        .collect()
    ]
    assert plain == [1, 2]  # relevance-only ranking keeps the dup
    mmr = [
        r.neighbor_id
        for r in mmr_topk(emb, n_queries=1, k=2, lamb=0.5)
        .orderBy("mmr_rank")
        .collect()
    ]
    assert mmr == [1, 3]  # MMR swaps the dup for the diverse hit


def test_mmr_rank1_is_top_relevance_and_deterministic(spark):
    from py_etl_pipeline_woocommerce_spark.operators.similarity import (
        mmr_topk,
    )

    import numpy as np

    rng = np.random.RandomState(3)
    emb = _vecs(
        spark,
        [(i, rng.normal(size=8)) for i in range(40)],
    )
    out = mmr_topk(emb, n_queries=2, k=4).orderBy("query_id", "mmr_rank")
    a = [(r.query_id, r.neighbor_id) for r in out.collect()]
    b = [
        (r.query_id, r.neighbor_id)
        for r in mmr_topk(emb.repartition(5), n_queries=2, k=4)
        .orderBy("query_id", "mmr_rank")
        .collect()
    ]
    assert a == b
    # rank 1 always equals the pure-relevance argmax
    first = {
        r.query_id: r.redundancy
        for r in out.collect()
        if r.mmr_rank == 1
    }
    assert all(v == 0.0 for v in first.values())


# ------------------------------------------------------------------
# corpus_report
# ------------------------------------------------------------------

def test_corpus_report_hand_computed(spark):
    docs = _docs(
        spark,
        [
            (1, "the cat and the dog sat", "en", "sA"),
            (2, "the cat and the dog sat", "en", "sA"),  # exact dup of 1
            (3, "le chat et la mer bleue", "en", "sA"),  # declared en, reads fr
            (4, "der hund und die katze", "de", "sB"),
        ],
    )
    out = {r.source: r for r in corpus.corpus_report(docs).collect()}
    a = out["sA"]
    assert a.n_docs == 3
    assert a.dup_ratio == pytest.approx(round(1 - 2 / 3, 6))
    assert a.lang_mismatch_rate == pytest.approx(round(1 / 3, 6))
    # none of these tiny docs pass the 50-word Gopher gate
    assert a.gopher_pass_rate == 0.0
    b = out["sB"]
    assert b.n_docs == 1 and b.dup_ratio == 0.0
    assert b.lang_mismatch_rate == 0.0
    assert 0.0 < a.mean_quality < 1.0


# ------------------------------------------------------------------
# lang_id_nb
# ------------------------------------------------------------------

def test_lang_id_nb_recovers_labels_and_flags_mislabels(spark):
    from py_etl_pipeline_woocommerce_spark.operators.textstats import (
        lang_id_nb,
    )

    en = "the quick brown fox jumps over the lazy dog again and again"
    fr = "le chat noir dort sur le canape pres de la fenetre ouverte"
    rows = [
        (1, en, "en", "s"),
        (2, en + " every day", "en", "s"),
        (3, fr, "fr", "s"),
        (4, fr + " chaque nuit", "fr", "s"),
        # declared en but the text is the French corpus's trigrams
        (5, fr, "en", "s"),
        (6, "", "en", "s"),
    ]
    out = {
        r.doc_id: r
        for r in lang_id_nb(
            spark.createDataFrame(rows, DOC_SCHEMA)
        ).collect()
    }
    assert out[1].lang_pred == "en" and out[3].lang_pred == "fr"
    assert out[5].lang_pred == "fr"  # the mislabel is caught
    assert out[6].lang_pred == "unknown" and out[6].score == 0.0


def test_lang_id_nb_partitioning_invariant(spark, sf_dir):
    from py_etl_pipeline_woocommerce_spark.operators.textstats import (
        lang_id_nb,
    )
    from py_etl_pipeline_woocommerce_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = sorted(
        (r.doc_id, r.lang_pred, r.score) for r in lang_id_nb(docs).collect()
    )
    b = sorted(
        (r.doc_id, r.lang_pred, r.score)
        for r in lang_id_nb(docs.repartition(9)).collect()
    )
    assert a == b


# ------------------------------------------------------------------
# ewma_daily
# ------------------------------------------------------------------

def test_ewma_daily_recurrence(spark):
    from py_etl_pipeline_woocommerce_spark.operators.temporal import (
        ewma_daily,
    )

    day_ns = 86_400_000_000_000
    rows = [
        (1, 0 * day_ns, 1, "buy", 10.0, "{}"),
        (2, 1 * day_ns, 1, "buy", 20.0, "{}"),
        (3, 2 * day_ns, 1, "buy", 30.0, "{}"),
        # a second type with one day only: ewma == total
        (4, 0 * day_ns, 1, "view", 5.0, "{}"),
    ]
    ev = spark.createDataFrame(rows, EV_SCHEMA)
    out = {
        (r.event_type, r.day_us): r for r in ewma_daily(ev).collect()
    }
    # y0 = 10; y1 = .2*20+.8*10 = 12; y2 = .2*30+.8*12 = 15.6
    assert out[("buy", 0)].ewma == pytest.approx(10.0)
    assert out[("buy", 86_400_000_000)].ewma == pytest.approx(12.0)
    assert out[("buy", 2 * 86_400_000_000)].ewma == pytest.approx(15.6)
    assert out[("view", 0)].ewma == pytest.approx(5.0)


# ------------------------------------------------------------------
# hash_embed
# ------------------------------------------------------------------

def test_hash_embed_unit_norm_and_collision_fold(spark):
    docs = _docs(
        spark,
        [(1, "cat cat dog", "en", "s"), (2, "", "en", "s")],
    )
    rows = corpus.hash_embed(docs, dim=16).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # empty doc contributes no rows (sparse form)
    assert 2 not in by_doc
    v = by_doc[1]
    # tf counts fold into buckets; L2 norm of weights == 1
    assert sum(r.tf for r in v) == 3
    assert sum(r.weight**2 for r in v) == pytest.approx(1.0, abs=1e-4)
    # deterministic: identical under repartitioning
    again = sorted(
        (r.doc_id, r.dim_idx, r.tf, r.weight)
        for r in corpus.hash_embed(docs.repartition(4), dim=16).collect()
    )
    assert again == sorted((r.doc_id, r.dim_idx, r.tf, r.weight) for r in rows)


def test_pca_model_roundtrip_scores_identically(spark, emb, tmp_path):
    df, _ = emb
    model = reduction.pca_fit(df, k=3)
    path = str(tmp_path / "pca_model")
    reduction.write_pca_model(spark, model, path)
    loaded = reduction.read_pca_model(spark, path)
    assert loaded["dim"] == model["dim"]
    assert loaded["explained"] == pytest.approx(model["explained"])
    a = reduction.pca_project(df, k=3, model=model).orderBy("vec_id").collect()
    b = reduction.pca_project(df, k=3, model=loaded).orderBy("vec_id").collect()
    for ra, rb in zip(a, b):
        assert ra.proj == rb.proj


# ------------------------------------------------------------------
# dedup_audit
# ------------------------------------------------------------------

def test_dedup_audit_lsh_subset_and_recall(spark):
    from py_etl_pipeline_woocommerce_spark.operators.dedup import (
        dedup_audit,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    docs = _docs(
        spark,
        [
            (1, base, "en", "s"),
            (2, base + " extra", "en", "s"),       # near-dup of 1
            (3, "completely different words entirely here now", "en", "s"),
            (4, base.replace("quick", "rapid"), "en", "s"),  # near-dup of 1
        ],
    )
    (row,) = dedup_audit(docs, threshold=0.5).collect()
    assert row.n_exact_pairs >= 1
    # LSH never invents pairs: hits == lsh pairs (subset of truth)
    assert row.n_hits == row.n_lsh_pairs
    assert row.n_missed == row.n_exact_pairs - row.n_hits
    assert 0.0 <= row.recall <= 1.0


def test_dedup_audit_empty_corpus_recall_one(spark):
    from py_etl_pipeline_woocommerce_spark.operators.dedup import (
        dedup_audit,
    )

    docs = _docs(spark, [(1, "one doc alone", "en", "s")])
    (row,) = dedup_audit(docs).collect()
    assert row.n_exact_pairs == 0 and row.recall == 1.0


def test_dedup_audit_sampled_mode(spark, sf_dir):
    from py_etl_pipeline_woocommerce_spark.catalog import load_table
    from py_etl_pipeline_woocommerce_spark.operators.dedup import (
        dedup_audit,
    )

    docs = load_table(spark, sf_dir, "documents")
    full = dedup_audit(docs).first()
    # sample_frac=1.0 keeps every doc: identical report
    assert dedup_audit(docs, sample_frac=1.0).first() == full
    # a half sample is deterministic (hash, not rand) and coherent
    a = dedup_audit(docs, sample_frac=0.5).first()
    b = dedup_audit(docs, sample_frac=0.5).first()
    assert a == b
    assert a.n_exact_pairs <= full.n_exact_pairs
    assert a.n_hits == a.n_lsh_pairs  # precision-1 subset holds
    assert 0.0 <= a.recall <= 1.0


# ------------------------------------------------------------------
# quality_percentile_by_source
# ------------------------------------------------------------------

def test_quality_percentile_normalizes_within_source(spark):
    docs = _docs(
        spark,
        [
            (1, "a", "en", "sA"),
            (2, "a b", "en", "sA"),
            (3, "a b c", "en", "sA"),
            (4, "solo", "en", "sB"),  # single-doc source -> 0.0
        ],
    )
    out = {
        r.doc_id: r
        for r in corpus.quality_percentile_by_source(
            docs, exact=True
        ).collect()
    }
    # within sA ranks follow quality; endpoints are exactly 0 and 1
    vals = sorted(
        (out[i].quality, out[i].quality_pctile) for i in (1, 2, 3)
    )
    assert [p for _, p in vals] == [0.0, 0.5, 1.0]
    assert out[4].quality_pctile == 0.0
    # sketch default: same schema, percentile monotone in quality
    # within a source, bounded to [0, 1), single-doc source pinned 0
    sk = {
        r.doc_id: r
        for r in corpus.quality_percentile_by_source(docs).collect()
    }
    assert set(sk) == set(out)
    ranked = sorted((sk[i].quality, sk[i].quality_pctile) for i in (1, 2, 3))
    assert all(
        a[1] <= b[1] for a, b in zip(ranked, ranked[1:])
    )
    assert all(0.0 <= sk[i].quality_pctile < 1.0 for i in sk)
    assert sk[4].quality_pctile == 0.0


def test_dedup_audit_pins_released_by_scope(spark):
    from py_etl_pipeline_woocommerce_spark.functions import frames
    from py_etl_pipeline_woocommerce_spark.operators.dedup import (
        dedup_audit,
    )

    docs = _docs(
        spark,
        [(1, "alpha beta gamma delta epsilon zeta", "en", "s"),
         (2, "alpha beta gamma delta epsilon eta", "en", "s")],
    )
    before = pinned_ids(spark)
    with frames.scope():
        dedup_audit(docs).collect()
        # ONE shared shingle frame (r12: both sides tokenize once) +
        # the LSH band table
        assert len(pinned_ids(spark) - before) == 2
    assert pinned_ids(spark) - before == set()


# ------------------------------------------------------------------
# conversion_latency
# ------------------------------------------------------------------

def test_conversion_latency_hand_computed(spark):
    from py_etl_pipeline_woocommerce_spark.operators.temporal import (
        conversion_latency,
    )

    rows = [
        # user 1: view at 100us, purchase at 300us -> gap 200
        (1, 100_000, 1, "view", 0.0, "{}"),
        (2, 300_000, 1, "purchase", 5.0, "{}"),
        # user 2: view at 100us, no purchase -> unconverted
        (3, 100_000, 2, "view", 0.0, "{}"),
        # user 3: view 0us, purchase 100us -> gap 100
        (4, 0, 3, "view", 0.0, "{}"),
        (5, 100_000, 3, "purchase", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(rows, EV_SCHEMA)
    (r,) = conversion_latency(ev, exact=True).collect()
    assert r.n_from_events == 3 and r.n_converted == 2
    assert r.conversion_rate == pytest.approx(round(2 / 3, 6))
    assert r.p50_gap_us == pytest.approx(150.0)  # interp of {100, 200}
    # sketch default: same schema/counters, GK picks an actual gap
    (sk,) = conversion_latency(ev).collect()
    assert sk.n_from_events == 3 and sk.n_converted == 2
    assert sk.p50_gap_us in (100.0, 200.0)


# ------------------------------------------------------------------
# corpus_drop_pipeline (production daily-drop capstone)
# ------------------------------------------------------------------

def test_corpus_drop_pipeline_end_to_end(spark):
    import shutil

    from py_etl_pipeline_woocommerce_spark.operators.dedup import (
        write_lsh_index,
    )
    from py_etl_pipeline_woocommerce_spark.sources.bucketing import (
        drop_table,
    )

    def _text(prefix):
        return (
            " ".join(f"{prefix}{j}" for j in range(40)) + " the of and"
        )

    corpus = _docs(
        spark,
        [(i, _text(f"corp{i}w"), "en", "src0") for i in range(4)],
    )
    try:
        write_lsh_index(corpus, "drop_test")
        model = corpus.sparkSession.createDataFrame(
            [(b, 0.5 if b % 2 == 0 else -0.5) for b in range(1024)],
            "bucket long, log_ratio double",
        )
        batch = _docs(
            spark,
            [
                # near-dup of corpus doc 0 -> dropped at stage 1
                (100, _text("corp0w") + " zz", "en", "src0"),
                # fresh, long, stopword-rich -> survives everything
                (101, _text("novelq"), "en", "src0"),
                # too short -> gate drop
                (102, "tiny", "en", "src0"),
            ],
        )
        from py_etl_pipeline_woocommerce_spark.functions import frames
        from py_etl_pipeline_woocommerce_spark.operators.corpus import (
            corpus_drop_pipeline,
        )

        before = pinned_ids(spark)
        with frames.scope():
            out = {
                r.doc_id: r
                for r in corpus_drop_pipeline(
                    batch, "drop_test", model, min_log_weight=-1e9
                ).collect()
            }
            # the batch's shingle frame, pinned by dedup_against_index
            assert len(pinned_ids(spark) - before) == 1
        assert pinned_ids(spark) - before == set()
        assert out[100].is_near_dup and not out[100].selected
        assert out[100].dup_of == 0
        assert out[102].reason == "too_short" and not out[102].selected
        assert out[101].selected and out[101].pack_id is not None
        assert out[100].pack_id is None  # unselected docs get no pack
    finally:
        drop_table(spark, "drop_test_bands")
        drop_table(spark, "drop_test_shingles")
        shutil.rmtree("spark-warehouse", ignore_errors=True)


# ------------------------------------------------------------------
# cluster_stats
# ------------------------------------------------------------------

def test_cluster_stats_sizes_and_inertia(spark, sf_dir):
    from py_etl_pipeline_woocommerce_spark.catalog import load_table
    from py_etl_pipeline_woocommerce_spark.operators.similarity import (
        cluster_stats,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    rows = cluster_stats(emb, n_centroids=8, iterations=1).collect()
    assert sum(r.n_vectors for r in rows) == n
    assert all(r.inertia >= 0 for r in rows)
    assert sum(r.size_share for r in rows) == pytest.approx(1.0, abs=1e-4)
    # more Lloyd iterations never increase total inertia
    i1 = sum(r.inertia for r in rows)
    i3 = sum(
        r.inertia
        for r in cluster_stats(emb, n_centroids=8, iterations=3).collect()
    )
    assert i3 <= i1 + 1e-6


# ------------------------------------------------------------------
# doc_similarity_topk
# ------------------------------------------------------------------

def test_doc_similarity_finds_the_near_copy(spark):
    base = " ".join(f"tok{j}" for j in range(30))
    docs = _docs(
        spark,
        [
            (0, base, "en", "s"),                       # the query
            (1, base + " extra", "en", "s"),            # near copy
            (2, " ".join(f"other{j}" for j in range(30)), "en", "s"),
            (3, base.replace("tok1", "tok1x"), "en", "s"),
        ],
    )
    out = sorted(
        (
            r.sim_rank,
            r.doc_id,
            r.cos,
        )
        for r in corpus.doc_similarity_topk(docs, n_queries=1, k=3).collect()
    )
    # rank 1 is one of the two near copies with cosine close to 1
    assert out[0][1] in (1, 3) and out[0][2] > 0.9
    # the unrelated doc ranks last with a much lower cosine
    assert out[-1][1] == 2 and out[-1][2] < out[0][2]


def test_outlier_baseline_split_matches_inline_op(spark):
    from py_etl_pipeline_woocommerce_spark.operators.temporal import (
        score_outliers_with_baseline,
        value_outlier_baseline,
        value_outliers_mad,
    )

    rows = [
        (i, i * 1_000_000_000, 1, "buy", v, "{}")
        for i, v in enumerate([1.0, 2.0, 3.0, 4.0, 100.0, -50.0])
    ]
    ev = spark.createDataFrame(rows, EV_SCHEMA)
    inline = sorted(r.event_id for r in value_outliers_mad(ev).collect())
    baseline = value_outlier_baseline(ev)
    split = sorted(
        r.event_id
        for r in score_outliers_with_baseline(ev, baseline).collect()
    )
    assert inline == split and len(inline) == 2


# ------------------------------------------------------------------
# session_paths
# ------------------------------------------------------------------

def test_session_paths_orders_and_splits_on_gap(spark):
    from py_etl_pipeline_woocommerce_spark.operators.sessionize import (
        session_paths,
    )

    m = 60_000_000  # one minute in us
    rows = [
        # user 1 session A: view -> click -> purchase
        (1, 0 * m * 1000, 1, "view", 0.0, "{}"),
        (2, 1 * m * 1000, 1, "click", 0.0, "{}"),
        (3, 2 * m * 1000, 1, "purchase", 1.0, "{}"),
        # gap > 30min -> session B: view -> click -> purchase again
        (4, 60 * m * 1000, 1, "view", 0.0, "{}"),
        (5, 61 * m * 1000, 1, "click", 0.0, "{}"),
        (6, 62 * m * 1000, 1, "purchase", 1.0, "{}"),
        # user 2: single view
        (7, 0, 2, "view", 0.0, "{}"),
    ]
    ev = spark.createDataFrame(rows, EV_SCHEMA)
    out = {r.path: r for r in session_paths(ev).collect()}
    assert out["view>click>purchase"].n_sessions == 2
    assert out["view>click>purchase"].path_rank == 1
    assert out["view"].n_sessions == 1


def test_dup_cluster_histogram_counts(spark):
    from py_etl_pipeline_woocommerce_spark.operators.dedup import (
        dup_cluster_histogram,
    )

    base = "the quick brown fox jumps over the lazy dog near the river today"
    docs = _docs(
        spark,
        [
            (1, base, "en", "s"),
            (2, base + " extra", "en", "s"),   # clusters with 1
            (3, "totally different words all around here now", "en", "s"),
        ],
    )
    out = {r.cluster_size: r for r in dup_cluster_histogram(docs).collect()}
    assert out[2].n_clusters == 1 and out[2].n_docs == 2
    assert out[2].n_removable == 1
    assert out[1].n_docs == 1 and out[1].n_removable == 0


# ------------------------------------------------------------------
# adversarial-input invariants for the round-4 text operators
# ------------------------------------------------------------------

NASTY_TEXTS = [
    "",
    " ",
    "\n\n\n",
    "\t \t",
    "a",
    "#",
    "...",
    "…",
    "- ",
    "• bullet only",
    "* \n- \n• ",
    "ünïcödé tëxt wïth äccents everywhere ünïcödé",
    "ΑΒΓΔ ελληνικά κείμενο δοκιμής",
    "日本語のテキスト サンプル ですます",
    "🙂 🚀 emoji 🎉 only 🙂 party",
    "word " * 500,                      # heavy repetition
    "x" * 5000,                         # one enormous word
    "a b" * 100,                        # no spaces between pairs
    "line one\nline two\nline three...",
    "  leading and trailing  ",
    "MiXeD CaSe WoRdS HeRe AgAiN",
    "numbers 123 456 7890 42 13 37",
    "tab\tseparated\tcolumns\there",
    "quote 'single' and \"double\" marks",
    "null\x00byte",                     # control char
    "ellipsis… mid… sentence… often…",
    "the of and to be that have with",  # all stopwords
]


def test_text_ops_survive_adversarial_inputs(spark):
    from py_etl_pipeline_woocommerce_spark.operators.textstats import (
        gopher_rules,
        lang_id_nb,
        quality_score,
    )

    docs = _docs(
        spark,
        [(i, t, "en", "s") for i, t in enumerate(NASTY_TEXTS)],
    )
    n = len(NASTY_TEXTS)

    g = gopher_rules(docs).collect()
    assert len(g) == n
    for r in g:
        assert r.n_words >= 0
        for ratio in (
            r.symbol_ratio,
            r.bullet_ratio,
            r.ellipsis_ratio,
            r.alpha_word_ratio,
        ):
            assert ratio >= 0.0
        assert 0.0 <= r.bullet_ratio <= 1.0
        assert 0.0 <= r.alpha_word_ratio <= 1.0

    q = quality_score(docs).collect()
    assert len(q) == n
    for r in q:
        assert r.n_tokens >= 0
        assert 0.0 <= r.distinct_ratio <= 1.0 + 1e-9
        assert 0.0 <= r.stop_ratio <= 1.0 + 1e-9

    b = corpus.bigram_logprob(docs).collect()
    assert len(b) == n
    assert all(r.bits_per_bigram >= 0.0 for r in b)

    he = corpus.hash_embed(docs).collect()
    by_doc = {}
    for r in he:
        by_doc.setdefault(r.doc_id, 0.0)
        by_doc[r.doc_id] += r.weight**2
    for doc_id, sq in by_doc.items():
        assert sq == pytest.approx(1.0, abs=1e-3), doc_id

    li = lang_id_nb(docs).collect()
    assert len(li) == n  # every doc classified (or 'unknown'), none lost


def test_text_ops_deterministic_on_adversarial_inputs(spark):
    from py_etl_pipeline_woocommerce_spark.operators.textstats import (
        gopher_rules,
    )

    docs = _docs(
        spark, [(i, t, "en", "s") for i, t in enumerate(NASTY_TEXTS)]
    )
    a = sorted(tuple(r) for r in gopher_rules(docs).collect())
    b = sorted(
        tuple(r) for r in gopher_rules(docs.repartition(5)).collect()
    )
    assert a == b


def test_event_mix_drift_shares(spark):
    from py_etl_pipeline_woocommerce_spark.operators.temporal import (
        event_mix_drift,
    )

    rows = [
        # before the cut at t=100us: 3 clicks, 1 view
        (1, 10_000, 1, "click", 0.0, "{}"),
        (2, 20_000, 1, "click", 0.0, "{}"),
        (3, 30_000, 1, "click", 0.0, "{}"),
        (4, 40_000, 1, "view", 0.0, "{}"),
        # after: 1 click, 3 views
        (5, 200_000, 1, "click", 0.0, "{}"),
        (6, 210_000, 1, "view", 0.0, "{}"),
        (7, 220_000, 1, "view", 0.0, "{}"),
        (8, 230_000, 1, "view", 0.0, "{}"),
    ]
    ev = spark.createDataFrame(rows, EV_SCHEMA)
    out = {
        r.event_type: r for r in event_mix_drift(ev, cut_us=100).collect()
    }
    assert out["click"].share_before == 0.75
    assert out["click"].share_after == 0.25
    assert out["click"].share_delta == -0.5
    assert out["view"].share_delta == 0.5


def test_pca_degenerate_inputs_fail_loudly(spark, emb):
    """Each degenerate input gets a NAMED refusal, not a masking
    TypeError/IndexError — and NULL elements inside an embedding
    raise instead of silently biasing the moments toward 0."""
    df, _ = emb
    # k larger than the embedding dimensionality
    with pytest.raises(ValueError, match="exceeds the embedding"):
        reduction.pca_fit(df, k=99)
    # NULL array rows
    null_row = spark.createDataFrame(
        [(9999, None, 0)], "vec_id bigint, embedding array<float>, label int"
    )
    with pytest.raises(ValueError, match="NULL embedding arrays"):
        reduction.pca_fit(df.unionByName(null_row), k=2)
    # zero-length arrays
    empty = spark.createDataFrame(
        [(1, [], 0), (2, [], 1)],
        "vec_id bigint, embedding array<float>, label int",
    )
    with pytest.raises(ValueError, match="zero-length"):
        reduction.pca_fit(empty, k=2)
    # NULL ELEMENT inside an array: loud executor-side raise naming
    # the row, in both fit and project
    bad_elem = spark.createDataFrame(
        [(0, [1.0, None, 3.0, 0.0, 0.0, 0.0], 0)],
        "vec_id bigint, embedding array<double>, label int",
    )
    with pytest.raises(Exception, match="NULL elements"):
        reduction.pca_fit(df.unionByName(bad_elem), k=2)
    model = reduction.pca_fit(df, k=3)
    with pytest.raises(Exception, match="NULL elements"):
        reduction.pca_project(bad_elem, k=3, model=model).collect()
    # k beyond the stored model's components: refuse, don't truncate
    with pytest.raises(ValueError, match="stored components"):
        reduction.pca_project(df, k=5, model=model)
    # whole-NULL embedding through the SCORE-ONLINE path (model=): no
    # pca_fit pass runs to catch it, and without its own guard branch
    # size(NULL)/exists(NULL) evaluate to NULL (not true) and the row
    # would silently project to [null, ...]
    null_row = spark.createDataFrame(
        [(7777, None, 0)],
        "vec_id bigint, embedding array<double>, label int",
    )
    with pytest.raises(Exception, match="embedding is NULL"):
        reduction.pca_project(null_row, k=3, model=model).collect()
