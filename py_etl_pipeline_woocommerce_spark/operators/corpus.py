"""Corpus-level analytics over the ``documents`` table: TF-IDF term
extraction, n-gram frequency, deterministic stratified sampling, and
per-stratum corpus statistics.

These are the ops a training-data pipeline runs corpus-wide, so each
is a pure column-expression pipeline (explode → partial-agg → shuffle
on a high-cardinality key) that scales linearly: no driver-side state,
no collect, no Python in the loop.

Cross-engine determinism notes:
- TF-IDF uses a log-free rarity weight ``tf · N / df`` (one IEEE
  double division). ``ln``/``log`` are correctly-rounded on neither
  engine and would break value-hash parity in the last ulp.
- Sampling is hash-mod (md5 of the doc id), the standard reproducible
  sampler: membership is a pure function of the row, so it needs no
  count, no sort, no RNG state, and re-runs identically on any
  cluster layout — unlike ``df.sample`` whose output depends on
  partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import (
    norm_text,
    token_count_expr,
    tokens_expr,
    word_shingles,
)
from .dedup import _spread


def _hash_bucket(col, buckets: int = 100):
    """Deterministic [0, buckets) bucket from md5 of a column's string
    form — portable: DuckDB computes the identical value via
    ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) % buckets``."""
    h = F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10)
    return (h.cast("bigint") % buckets).alias("bucket")


def tfidf_top_terms(documents: DataFrame, k: int = 5) -> DataFrame:
    """Top-``k`` highest-TF-IDF terms per document.

    explode → (doc, term) partial counts → term document-frequency →
    broadcast 1-row corpus size → per-doc top-k window. The big
    shuffles key on ``term`` and ``doc_id`` (both high-cardinality, no
    skew); df is re-derived from tf (already one row per doc×term) so
    the corpus is scanned once.
    """
    toks = documents.select(
        "doc_id", F.explode(tokens_expr("text")).alias("term")
    ).filter(F.col("term") != "")
    # tf has TWO consumers (the df derivation and the scored join) —
    # pin it or Catalyst re-runs the tokenize+explode+agg subtree per
    # consumer and the "scanned once" claim below is false
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            # tf widens to DOUBLE before the multiply: the raw BIGINT
            # product tf*n_docs overflows int64 at corpus scale
            # (1e7-token doc x 1e12 docs) — wrapped garbage in
            # non-ANSI, a crash in ANSI (oracle in lockstep)
            F.col("tf").cast("double") * F.col("n_docs") / F.col("df"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= k)
        .select("doc_id", "term", "tf", "df", "score", "term_rank")
    )


def ngram_freq(documents: DataFrame, n: int = 2, topk: int = 20) -> DataFrame:
    """Top-``topk`` word ``n``-grams per language by frequency.

    One explode + two-key agg. The aggregated (lang, ngram) frame is
    CORPUS-SCALE (n-gram type counts grow near-linearly with data),
    so the per-language top-k is NOT one window over it — a dominant
    language would sort its whole n-gram vocabulary on one task.
    Instead the standard two-level cut: rank within (lang, md5-byte
    cell) keeps a ≤ 256·topk superset (any global top-k gram is
    top-k within its cell), and only that bounded superset enters the
    final ranking window. Ties break on the n-gram string so the cut
    is total-ordered. Empty shingles (token-less docs emit one) are
    filtered like every other shingle consumer.
    """
    # stage tokens as a column: word_shingles re-evaluates its input
    # per element inside the transform lambda (no HOF CSE) — unstaged
    # this re-ran normalize+split once per shingle position (O(T²))
    grams = documents.select(
        "lang", tokens_expr("text").alias("_toks")
    ).select(
        "lang", F.explode(word_shingles(F.col("_toks"), n)).alias("ngram")
    ).filter(F.col("ngram") != "")
    counts = grams.groupBy("lang", "ngram").agg(F.count(F.lit(1)).alias("freq"))
    cell = F.conv(F.substring(F.md5("ngram"), 1, 2), 16, 10).cast("int")
    wc = Window.partitionBy("lang", "_c").orderBy(
        F.col("freq").desc(), F.col("ngram")
    )
    sel = (
        counts.withColumn("_c", cell)
        .withColumn("_r", F.row_number().over(wc))
        .filter(F.col("_r") <= topk)
    )
    w = Window.partitionBy("lang").orderBy(F.col("freq").desc(), F.col("ngram"))
    return (
        sel.withColumn("freq_rank", F.row_number().over(w))
        .filter(F.col("freq_rank") <= topk)
        .select("lang", "ngram", "freq", "freq_rank")
    )


def stratified_sample(
    documents: DataFrame,
    rates: dict[str, int] | None = None,
    default_pct: int = 20,
) -> DataFrame:
    """Reproducible stratified sample: keep ``rates[lang]`` percent of
    each language stratum (``default_pct`` for unlisted strata).

    Pure map-side filter — membership depends only on
    ``md5(doc_id)``, so the sample is identical at any scale, cluster
    size, or re-run, and composable (a 50% sample contains the 25%
    sample of the same key).
    """
    rates = {"en": 50} if rates is None else rates
    rate = F.lit(default_pct)
    for lang, pct in sorted(rates.items()):
        rate = F.when(F.col("lang") == lang, pct).otherwise(rate)
    bucket = _hash_bucket(F.col("doc_id"))
    return (
        documents.withColumn("bucket", bucket)
        .withColumn("_rate", rate)
        .filter(F.col("bucket") < F.col("_rate"))
        .select("doc_id", "lang", "source", "bucket")
    )


def sample_exact_k(
    documents: DataFrame, k: int = 100, seed: int = 42
) -> DataFrame:
    """EXACTLY ``k`` documents per language, deterministically — the
    "give me 10k docs per language for the eval set, same ones every
    run" sibling of ``stratified_sample`` (which keeps a percentage).
    Selection order is (md5(doc_id:seed), doc_id): uniform, seedable,
    engine-portable (DuckDB computes the identical hex), and
    independent of partitioning; a language with fewer than ``k``
    docs is kept whole.

    Scale shape — distributed order-statistic selection, NOT a
    per-language rank window (a dominant language would sort on one
    task): docs split into 256 hash-prefix buckets per language;
    per-bucket counts (tiny frame) give each bucket's running offset;
    a doc is selected iff offset + rank-within-bucket ≤ k, where the
    rank window partitions by (lang, bucket) — |lang|/256 rows. Only
    the ≤ k SELECTED rows per language enter the final
    ``sample_rank`` window (bounded frame by construction).
    """
    h = F.md5(
        F.concat_ws(
            ":", F.col("doc_id").cast("string"), F.lit(str(seed))
        )
    )
    d = (
        documents.select("doc_id", "lang", "source")
        .withColumn("_h", h)
        .withColumn(
            "_b", F.conv(F.substring("_h", 1, 2), 16, 10).cast("int")
        )
    )
    counts = d.groupBy("lang", "_b").agg(F.count(F.lit(1)).alias("_c"))
    wo = (
        Window.partitionBy("lang")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = counts.select(
        "lang",
        "_b",
        F.coalesce(F.sum("_c").over(wo), F.lit(0)).alias("_before"),
    )
    wb = Window.partitionBy("lang", "_b").orderBy("_h", "doc_id")
    sel = (
        d.join(F.broadcast(off), ["lang", "_b"])
        .withColumn("_r", F.row_number().over(wb))
        .filter(F.col("_before") + F.col("_r") <= k)
    )
    ws = Window.partitionBy("lang").orderBy("_h", "doc_id")
    return sel.withColumn(
        "sample_rank", F.row_number().over(ws)
    ).select("doc_id", "lang", "source", "sample_rank")


def weighted_sample_k(
    documents: DataFrame,
    k: int = 100,
    by: str = "source",
    weight: str = "n_chars",
    seed: int = 42,
) -> DataFrame:
    """EXACTLY ``k`` rows per ``by`` group, sampled WITHOUT
    replacement with probability proportional to ``weight`` — the
    Efraimidis-Spirakis A-ES scheme ("Weighted random sampling with a
    reservoir", IPL 2006): each row draws ``key = u^(1/w)`` and the k
    LARGEST keys per group are the sample. This is the
    statistically-correct consumer of the engine's weight producers
    (``dsir_weights``, ``soft_dedup_weights``, quality scores):
    ``dsir_select_threshold`` keeps the deterministic TOP of a weight
    ranking, while this draws a proportional sample across the whole
    weight range — rare-but-heavy docs are likely, light docs still
    possible, and the choice is seeded, not random-at-runtime.

    ``u`` is a seeded md5-derived uniform (identical hex in DuckDB,
    so the oracle replays the exact draw); rows with NULL, NaN, or
    non-positive weight are excluded — zero weight means "never
    sample" (the A-ES limit) and a NaN key would otherwise sort ABOVE
    every real key under DESC NULLS/NaN-last-is-first semantics and
    hijack the sample. Groups with fewer than ``k`` eligible rows are
    kept whole. The input weight value passes through unchanged.

    Scale shape: A-ES keys concentrate near 1.0 for realistic weights
    (key = exp(ln(u)/w) ≥ 0.978 already at w = 1000), so bucketing on
    the KEY would degenerate to one cell; instead rows split on an
    independent uniform md5 byte purely as a SPLITTER. Any global
    top-k row is also top-k within its hash cell, so per-(group,
    cell) rank windows (each |group|/256) keep a ≤ 256·k superset,
    and only that bounded superset enters the final ``sample_rank``
    window — no dominant group ever sorts on one task, and the result
    is exactly the plain per-group rank the DuckDB oracle computes.
    """
    h = F.md5(
        F.concat_ws(
            ":", F.col("doc_id").cast("string"), F.lit(str(seed))
        )
    )
    u = (F.conv(F.substring(h, 1, 8), 16, 10).cast("double") + 1.0) / F.lit(
        4294967297.0
    )
    wd = F.col(weight).cast("double")
    d = documents.filter(
        F.col(weight).isNotNull() & ~F.isnan(wd) & (wd > 0)
    ).select(
        "doc_id",
        by,
        F.col(weight).alias("weight"),
        # round-before-rank (module convention): Math.pow and
        # DuckDB's libm pow differ in the last ulp, and an unrounded
        # transcendental rank key lets a 1-ulp divergence flip the
        # boundary doc between engines. 12 dp keeps A-ES keys (which
        # concentrate near 1.0 at large weights) distinct in
        # practice; genuine ties break on doc_id in both windows.
        F.round(F.pow(u, F.lit(1.0) / wd), 12).alias("_key"),
        F.conv(F.substring(h, 9, 2), 16, 10).cast("int").alias("_b"),
    )
    wb = Window.partitionBy(by, "_b").orderBy(F.col("_key").desc(), "doc_id")
    sel = (
        d.withColumn("_r", F.row_number().over(wb))
        .filter(F.col("_r") <= k)
    )
    ws = Window.partitionBy(by).orderBy(F.col("_key").desc(), "doc_id")
    return sel.withColumn(
        "sample_rank", F.row_number().over(ws).cast("long")
    ).filter(F.col("sample_rank") <= k).select(
        "doc_id", by, "weight", "sample_rank"
    )


def corpus_stats(documents: DataFrame) -> DataFrame:
    """Per (lang, source) corpus statistics: doc count, token and char
    totals, mean document length.

    Map-side-combinable aggregates over one scan; (lang × source) is a
    small group space, but the partial agg means the shuffle carries
    only group rows regardless of corpus size.
    """
    return (
        documents.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count_expr("text")).alias("total_tokens"),
            F.sum(F.length("text").cast("bigint")).alias("total_chars"),
            F.max(F.length("text").cast("bigint")).alias("max_chars"),
        )
        .withColumn(
            "avg_chars", F.col("total_chars").cast("double") / F.col("n_docs")
        )
    )


def decontaminate(
    documents: DataFrame,
    benchmark: DataFrame | None = None,
    n: int = 3,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination: per training doc, how many distinct
    word ``n``-gram shingles it shares with an eval/benchmark set, and
    whether it crosses the removal threshold.

    The standard pre-training hygiene op (eval n-gram overlap scan):
    benchmark shingles are DISTINCT'd and joined against exploded
    corpus shingles on the shingle string — a broadcast hash join
    whenever the benchmark is benchmark-sized (thousands of docs vs a
    100 TB corpus), so the corpus is one scan with a map-side join +
    one groupBy(doc_id) partial agg. No Python, no skew (shingle
    strings are high-cardinality).

    When ``benchmark`` is None, a deterministic held-out slice of the
    corpus itself (doc_id % 20 == 0) plays the eval set — the driver
    query needs a self-contained shape; held-out docs are excluded
    from the scan side so they don't trivially flag themselves.
    """
    if benchmark is None:
        benchmark = documents.filter(F.col("doc_id") % 20 == 0)
        documents = documents.filter(F.col("doc_id") % 20 != 0)
    # tokens staged as columns before shingling — see ngram_freq for
    # the per-element HOF re-evaluation trap this avoids
    bench_shingles = (
        benchmark.select(tokens_expr("text").alias("_toks"))
        .select(F.explode(word_shingles(F.col("_toks"), n)).alias("shingle"))
        .filter(F.col("shingle") != "")
        .distinct()
    )
    doc_shingles = (
        documents.select("doc_id", tokens_expr("text").alias("_toks"))
        .select(
            "doc_id",
            F.explode(word_shingles(F.col("_toks"), n)).alias("shingle"),
        )
        .filter(F.col("shingle") != "")
        .distinct()
    )
    # NO forced broadcast: a real benchmark set is broadcast-sized
    # and AQE broadcasts it on its own, but the benchmark=None
    # self-decontamination default makes bench_shingles a CORPUS-SCALE
    # 5% shingle slice — a forced hint would bypass the size ceiling
    # and OOM the driver at SF (the r8 growing-table hint rule)
    hits = doc_shingles.join(bench_shingles, "shingle").groupBy(
        "doc_id"
    ).agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        documents.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


def dedup_apply(documents: DataFrame) -> DataFrame:
    """Materialize the near-dup removal decision: one surviving
    representative per MinHash cluster (the minimum doc_id), all
    singletons kept, with the cluster size as provenance.

    This is the op a pipeline actually runs after near-dup detection —
    ``dedup_clusters`` labels every doc; the keep-policy filter
    ``doc_id == cluster_id`` is a map-side predicate over its output,
    so applying dedup costs nothing beyond the clustering itself.
    """
    from .dedup import dedup_clusters

    labels = dedup_clusters(documents)
    return (
        labels.filter(F.col("doc_id") == F.col("cluster_id"))
        .join(documents.select("doc_id", "lang", "source"), "doc_id")
        .select("doc_id", "lang", "source", F.col("cluster_size").alias("n_merged"))
    )


def corpus_pipeline(
    documents: DataFrame, quality_min: float = 0.5, sample_pct: int = 50
) -> DataFrame:
    """End-to-end training-corpus preparation in ONE composed plan:
    exact dedup (keep first) → quality gate → deterministic sample.

    The three stages compose as DataFrame transforms, so Catalyst
    optimizes across them — the hash/normalize work is shared, filters
    reorder, and nothing materializes between stages. Shuffle budget:
    one groupBy on content hash (dedup) + one keyed semi-join back;
    quality features and the hash-mod sample are map-side. The
    quality threshold compares a value both engines derive from the
    same integer-count ratios, so the cut is engine-exact.
    """
    from .textstats import quality_score

    # kept is deliberately NOT pinned: it is a RAW-scale frame
    # (full corpus text), and materializing it costs more at SF than
    # the dedup subtree rescan its two consumers pay (convention: pin
    # aggregated multi-consumer frames only; local measurement
    # inconclusive at 1.30-1.37 pinned vs 1.40 unpinned, r9)
    kept = documents.join(_exact_keepers(documents), "doc_id", "left_semi")
    q = quality_score(kept).filter(F.col("quality") >= quality_min)
    bucket = _hash_bucket(F.col("doc_id"))
    return (
        kept.select("doc_id", "lang", "source")
        .join(q.select("doc_id", "n_tokens", "quality"), "doc_id")
        .withColumn("bucket", bucket)
        .filter(F.col("bucket") < sample_pct)
    )


def _exact_keepers(documents: DataFrame) -> DataFrame:
    """Keeper doc_ids of exact dedup — delegates to ``dedup_exact`` so
    the canonical normal form and keeper policy (min doc_id per
    md5(norm_text)) can never diverge between the prep pipelines and
    the dedup operators that define them."""
    from .dedup import dedup_exact

    return dedup_exact(documents).select(F.col("keep_id").alias("doc_id"))


def mix_weights(
    documents: DataFrame, target: dict[str, float] | None = None
) -> DataFrame:
    """Data-mixing resampling weights per language stratum.

    Training pipelines rarely sample the corpus as-is — they reweight
    strata toward a target mix (e.g. uniform over languages, or a
    hand-tuned domain recipe). ``mix_weight`` is the per-stratum
    sampling multiplier: ``target_share / actual_token_share``; feed
    it to ``stratified_sample``-style hash-mod rates to materialize
    the mix.

    ``target`` maps lang → desired token share; unlisted languages
    (and the ``None`` default) get a uniform ``1 / n_langs`` target.

    Scale shape: one scan with a map-side-combinable (lang) aggregate
    (group space = number of languages), a 1-row corpus total
    broadcast back — no second scan, no skew, no Python.
    """
    # per_lang is langs-sized but has TWO consumers (totals + the
    # output join) — without the pin each re-runs the corpus token
    # scan, falsifying the "no second scan" claim below
    per_lang = documents.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_expr("text")).alias("lang_tokens"),
    ).localCheckpoint(eager=False)
    totals = per_lang.agg(
        F.sum("lang_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    uniform = F.lit(1.0) / F.col("n_langs")
    tgt = uniform
    for lang, share in sorted((target or {}).items()):
        tgt = F.when(F.col("lang") == lang, F.lit(float(share))).otherwise(tgt)
    # zero guards (r12 review find): a language whose docs are all
    # zero-token (NULL/empty/punctuation-only text) has actual=0 —
    # its upsampling weight is undefined, so emit NULL rather than a
    # divide-by-zero (ANSI error / non-ANSI silent NULL anyway, but
    # explicit and engine-portable); same for an all-empty corpus
    actual = F.when(
        F.col("total_tokens") > 0,
        F.col("lang_tokens").cast("double") / F.col("total_tokens"),
    )
    return (
        per_lang.join(F.broadcast(totals))
        .select(
            "lang",
            "n_docs",
            "lang_tokens",
            actual.alias("actual_share"),
            tgt.alias("target_share"),
        )
        .withColumn(
            "mix_weight",
            F.when(
                F.col("actual_share") > 0,
                F.col("target_share") / F.col("actual_share"),
            ),
        )
    )


def doc_rarity(documents: DataFrame) -> DataFrame:
    """Corpus-frequency rarity score per document — the cheap LM-free
    proxy for "is this doc full of boilerplate vocabulary or rare
    content" used to balance sampling (high commonness ≈ template
    text; high rarity ≈ unusual vocabulary worth upweighting).

    ``commonness`` = Σ_occurrences df(term) / (n_occ · N): the mean
    document-frequency share of the doc's token stream. The numerator
    is an INTEGER sum (order-insensitive — engine-exact under any
    partitioning); exactly one double division happens at the end,
    then ``rarity = 1 − commonness``.

    Scale shape: explode → distinct (doc, term) → df on term (all
    high-cardinality partial-agg shuffles), one term-keyed join back
    to occurrences, one doc-keyed agg, and a 1-row corpus-size
    broadcast. Linear end to end.
    """
    # two consumers (the df aggregate and the per-doc join) — pin the
    # exploded frame or the tokenize+explode re-runs per consumer
    occ = _spread(documents).select(
        "doc_id", F.explode(tokens_expr("text")).alias("term")
    ).filter(F.col("term") != "").localCheckpoint(eager=False)
    df_ = (
        occ.distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    per_doc = (
        occ.join(df_, "term")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_occ"), F.sum("df").alias("df_sum"))
    )
    n_docs = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    # n_occ widens to DOUBLE before the multiply: the BIGINT product
    # n_occ*n_docs overflows int64 at corpus scale (oracle in lockstep)
    commonness = F.col("df_sum").cast("double") / (
        F.col("n_occ").cast("double") * F.col("n_docs")
    )
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            F.coalesce("n_occ", F.lit(0)).alias("n_occ"),
            F.coalesce("df_sum", F.lit(0)).alias("df_sum"),
            # token-less docs: NULL for BOTH, never the contradictory
            # (commonness=0 "maximally rare", rarity=0 "maximally
            # common") pair the old coalesces produced — absent
            # content has no rarity, the caller decides its fate
            commonness.alias("commonness"),
            (F.lit(1.0) - commonness).alias("rarity"),
        )
    )


def vocab_drift(
    documents: DataFrame, source_a: str = "src0", source_b: str = "src1", k: int = 25
) -> DataFrame:
    """Vocabulary drift between two corpus slices: the top-``k`` terms
    whose relative frequency shifted most between ``source_a`` and
    ``source_b`` — the distribution check a training pipeline runs
    when a new crawl/source lands (did the mix change under us?).

    Per-term shares are integer counts over integer totals (one
    double division each); the ranking key ``|share_a − share_b|`` is
    a single subtraction of those — deterministic cross-engine. Scale
    shape: one explode → (source, term) partial agg; totals are a
    2-row broadcast; the top-k window runs over the aggregated vocab,
    not the corpus.
    """
    toks = (
        _spread(documents)
        .filter(F.col("source").isin([source_a, source_b]))
        .select("source", F.explode(tokens_expr("text")).alias("term"))
        .filter(F.col("term") != "")
    )
    counts = (
        toks.groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    totals = counts.groupBy("source").agg(F.sum("c").alias("total"))
    shares = (
        counts.join(F.broadcast(totals), "source")
        .select(
            "term",
            "source",
            (F.col("c").cast("double") / F.col("total")).alias("share"),
            "c",
        )
    )
    a = shares.filter(F.col("source") == source_a).select(
        "term", F.col("share").alias("share_a"), F.col("c").alias("count_a")
    )
    b = shares.filter(F.col("source") == source_b).select(
        "term", F.col("share").alias("share_b"), F.col("c").alias("count_b")
    )
    j = a.join(b, "term", "full_outer").select(
        "term",
        F.coalesce("count_a", F.lit(0)).alias("count_a"),
        F.coalesce("count_b", F.lit(0)).alias("count_b"),
        F.coalesce("share_a", F.lit(0.0)).alias("share_a"),
        F.coalesce("share_b", F.lit(0.0)).alias("share_b"),
    )
    drift = F.abs(F.col("share_a") - F.col("share_b"))
    # distributed TakeOrdered for the global cut; the rank window only
    # ever sees the k survivors (never a single-partition vocab sort)
    top = j.withColumn("drift", drift).orderBy(
        F.col("drift").desc(), F.col("term")
    ).limit(k)
    w = Window.orderBy(F.col("drift").desc(), F.col("term"))
    return top.withColumn("drift_rank", F.row_number().over(w))


def _term_freq(documents: DataFrame) -> DataFrame:
    """ONE (doc_id, term, tf) term-frequency frame — the shared
    corpus-scan input of ``bm25_search`` and (via ``hash_embed``'s
    ``_tf`` seam) the semantic stage of ``hybrid_search``. Empty
    tokens are dropped here so every consumer sees the same term
    universe."""
    occ = (
        _spread(documents)
        .select("doc_id", F.explode(tokens_expr("text")).alias("term"))
        .filter(F.col("term") != "")
    )
    return occ.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))


def corpus_prep(
    documents: DataFrame,
    sample_pct: int = 80,
    budget: int = 512,
    buckets: int = 8,
) -> DataFrame:
    """The COMPLETE training-corpus preparation as one declarative
    plan: quality/repetition gate → exact dedup (keep the minimum
    doc_id per content, corpus-wide) → deterministic hash sample →
    concat-chunk packing layout of the survivors.

    Every stage is a DataFrame transform, so Catalyst plans the whole
    prep as one job: the gate's conditional and the sample are
    map-side filters, dedup adds one content-hash aggregate plus a
    semi-join, and packing adds the per-bucket window — four pipeline
    stages, three shuffles total, nothing materialized in between.
    Each stage is engine-exact, so the composition is too (the DuckDB
    oracle replays the identical cascade).
    """
    from .packing import pack_sequences
    from .textstats import filter_pipeline

    gated = filter_pipeline(documents).filter(F.col("keep")).select("doc_id")
    keepers = _exact_keepers(documents)
    survivors = (
        documents.join(gated, "doc_id", "left_semi")
        .join(keepers, "doc_id", "left_semi")
        .withColumn("_b", _hash_bucket(F.col("doc_id")))
        .filter(F.col("_b") < sample_pct)
        .drop("_b")
    )
    return pack_sequences(survivors, budget=budget, buckets=buckets)


def unigram_logprob(documents: DataFrame) -> DataFrame:
    """Per-document bits-per-token under the corpus's own unigram MLE
    — the LM-free stand-in for CCNet-style perplexity filtering:
    boilerplate scores low (common vocabulary), gibberish and
    OCR-noise score high (hapax-heavy). Downstream gates cut both
    tails before training.

    bits_per_token = Σ_t tf_doc(t) · (−log2(tf(t) / total)) / n_occ
    over the doc's distinct terms. The inner sum runs over DISTINCT
    (doc, term) pairs — one log per term, not per occurrence — and
    the only float reduction is ≤ vocab-per-doc addends, rounded to
    6 dp at the boundary (fp association noise ~1e-13, far below the
    rounding grain — same determinism argument as the money policy).

    Scale: explode → (doc, term) count agg → term-keyed tf agg →
    one term join back → doc agg; a 1-row total broadcast. All
    high-cardinality shuffles carry integer partial aggregates.
    """
    occ = (
        _spread(documents)
        .select("doc_id", F.explode(tokens_expr("text")).alias("term"))
        .filter(F.col("term") != "")
    )
    # doc_tf has THREE consumers (total via corpus_tf, the corpus_tf
    # join, the score join) — a lazy localCheckpoint materializes the
    # corpus tokenize+agg once per execution instead of once per
    # consumer (the bigram_logprob/bm25 device)
    doc_tf = (
        occ.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf_doc"))
        .localCheckpoint(eager=False)
    )
    corpus_tf = doc_tf.groupBy("term").agg(F.sum("tf_doc").alias("tf"))
    total = corpus_tf.agg(F.sum("tf").alias("total"))
    per_doc = (
        doc_tf.join(corpus_tf, "term")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf_doc").alias("n_occ"),
            F.sum(
                F.col("tf_doc")
                * -F.log2(F.col("tf").cast("double") / F.col("total"))
            ).alias("_bits"),
        )
    )
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_occ", F.lit(0)).alias("n_occ"),
            F.coalesce(
                F.round(F.col("_bits") / F.col("n_occ"), 6), F.lit(0.0)
            ).alias("bits_per_token"),
        )
    )


def bigram_logprob(documents: DataFrame) -> DataFrame:
    """Per-document bits-per-bigram under the corpus's own CONDITIONAL
    bigram MLE — one LM order up from ``unigram_logprob``:

        bits = Σ_b tf_doc(b) · (−log2( c2(b) / c1(first(b)) ))

    where ``c2`` counts the bigram corpus-wide and ``c1`` counts its
    first word *as a bigram prefix* (occurrences in non-final
    position), so each addend is a proper conditional probability
    P(w₂|w₁) and the score is the document's cross-entropy under the
    corpus 2-gram model. Fluent/templated text scores low; shuffled
    or OCR-mangled word order scores high even when the unigram mix
    looks normal — exactly the signal order-blind unigram scoring
    misses.

    Scale shape mirrors ``unigram_logprob``: one shingle explode →
    distinct (doc, bigram) integer counts → bigram- and prefix-keyed
    count aggregates → two joins back → doc-grain agg. All big
    shuffles carry integer partials on high-cardinality keys; the only
    float reduction is ≤ distinct-bigrams-per-doc addends, rounded to
    6 dp at the boundary.
    """
    # Stage the token array as a REAL column before shingling:
    # word_shingles references its input inside a transform lambda,
    # and HOF children re-evaluate PER ELEMENT (no CSE) — un-staged,
    # the whole normalize+split pipeline re-ran once per bigram
    # position, turning each doc O(T²·regex) (measured 31 s vs 1.5 s
    # at sf0.1).
    staged = _spread(documents).select(
        "doc_id", tokens_expr("text").alias("_toks")
    )
    occ = (
        staged.select(
            "doc_id",
            F.explode(word_shingles(F.col("_toks"), 2)).alias("gram"),
        )
        .filter(F.col("gram") != "")
        .select(
            "doc_id",
            "gram",
            F.split(F.col("gram"), " ")[0].alias("w1"),
        )
    )
    # doc_tf has THREE consumers (c2, c1, the score join) — a lazy
    # localCheckpoint materializes the shingle explode+agg once per
    # execution instead of once per consumer (lang_id_nb/bm25 device)
    doc_tf = (
        occ.groupBy("doc_id", "gram", "w1")
        .agg(F.count(F.lit(1)).alias("tf_doc"))
        .localCheckpoint(eager=False)
    )
    c2 = doc_tf.groupBy("gram").agg(F.sum("tf_doc").alias("c2"))
    c1 = doc_tf.groupBy("w1").agg(F.sum("tf_doc").alias("c1"))
    per_doc = (
        doc_tf.join(c2, "gram")
        .join(c1, "w1")
        .groupBy("doc_id")
        .agg(
            F.sum("tf_doc").alias("n_bigrams"),
            F.sum(
                F.col("tf_doc")
                * -F.log2(F.col("c2").cast("double") / F.col("c1"))
            ).alias("_bits"),
        )
    )
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce(
                F.round(F.col("_bits") / F.col("n_bigrams"), 6), F.lit(0.0)
            ).alias("bits_per_bigram"),
        )
    )


def source_divergence(documents: DataFrame, top_v: int = 2000) -> DataFrame:
    """Jensen–Shannon divergence between every pair of sources'
    unigram distributions — the "how different are my crawls really"
    matrix that decides whether two sources deserve separate
    ``mix_weights`` strata or are near-clones.

    Per source: term probabilities over its top-``top_v`` terms
    (rank-cut so a 100 TB source contributes a bounded vocabulary;
    probabilities renormalized over the kept terms so each side is a
    true distribution). For a pair (a, b) with co-occurring terms C:

        JSD = Σ_C [ p/2·log2(2p/(p+q)) + q/2·log2(2q/(p+q)) ]
              + (1 − Σ_C p)/2 + (1 − Σ_C q)/2

    — the one-sided mass needs no per-term rows because each
    exclusive term contributes exactly p/2·log2(2) = p/2. Output is
    in [0, 1] (log2 base), 0 = identical, 1 = disjoint.

    Scale shape: explode → (source, term) integer counts → per-source
    rank window over the SMALL aggregated vocab (not the corpus) →
    term-keyed self-join producing only co-occurring pairs (never a
    vocab cross product) → pair-grain agg. Sources × sources output
    is tiny by construction.
    """
    occ = documents.select(
        "source", F.explode(tokens_expr("text")).alias("term")
    ).filter(F.col("term") != "")
    counts = occ.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("term")
    )
    # kept (≤ top_v × sources rows) feeds totals AND probs; probs
    # feeds both join sides AND the source grid — pin each or the
    # corpus explode+agg+rank re-runs up to five times
    kept = counts.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= top_v
    ).localCheckpoint(eager=False)
    totals = kept.groupBy("source").agg(F.sum("c").alias("tot"))
    probs = kept.join(totals, "source").select(
        "source", "term", (F.col("c").cast("double") / F.col("tot")).alias("p")
    ).localCheckpoint(eager=False)
    a = probs.select(
        F.col("source").alias("source_a"),
        "term",
        F.col("p").alias("pa"),
    )
    b = probs.select(
        F.col("source").alias("source_b"),
        "term",
        F.col("p").alias("pb"),
    )
    pairs = a.join(b, "term").filter(F.col("source_a") < F.col("source_b"))
    m = F.col("pa") + F.col("pb")
    shared_term = (
        F.col("pa") / 2 * F.log2(2 * F.col("pa") / m)
        + F.col("pb") / 2 * F.log2(2 * F.col("pb") / m)
    )
    agg = pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_shared_terms"),
        F.sum(shared_term).alias("_shared_bits"),
        F.sum("pa").alias("_mass_a"),
        F.sum("pb").alias("_mass_b"),
    )
    # full pair grid off the tiny distinct-source frame: a pair whose
    # top vocabularies share ZERO terms is the maximally-divergent
    # cell (JSD = 1) the matrix most needs to show, not a missing row
    srcs = probs.select("source").distinct()
    grid = (
        srcs.select(F.col("source").alias("source_a"))
        .join(srcs.select(F.col("source").alias("source_b")))
        .filter(F.col("source_a") < F.col("source_b"))
    )
    full = grid.join(agg, ["source_a", "source_b"], "left")
    jsd = (
        F.coalesce("_shared_bits", F.lit(0.0))
        + (1 - F.coalesce("_mass_a", F.lit(0.0))) / 2
        + (1 - F.coalesce("_mass_b", F.lit(0.0))) / 2
    )
    return full.select(
        "source_a",
        "source_b",
        F.coalesce("n_shared_terms", F.lit(0)).alias("n_shared_terms"),
        F.round(jsd, 6).alias("jsd"),
    )


def tokenizer_stats(documents: DataFrame) -> DataFrame:
    """Per-language tokenizer fertility report: how many tokens a
    language yields per 100 normalized characters and the mean token
    length — the numbers that size a token budget when mixing
    languages (and flag a tokenizer that shreds one language into
    char-level pieces).

    One scan, one tiny lang-keyed agg; every sum is an INTEGER
    (token counts, char counts), so results are engine-exact under
    any partitioning. The two ratios divide at the output boundary.
    """
    per_doc = documents.select(
        "lang",
        token_count_expr("text").alias("n_tok"),
        F.length(norm_text("text")).cast("bigint").alias("n_chars"),
    )
    # normalized text is space-joined, so a doc's token chars are
    # n_chars − (n_tok − 1) separators (0 separators when empty)
    seps = F.when(F.col("n_tok") > 0, F.col("n_tok") - 1).otherwise(F.lit(0))
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(seps).alias("_seps"),
        )
        .select(
            "lang",
            "n_docs",
            "total_tokens",
            "total_chars",
            F.when(
                F.col("total_chars") > 0,
                F.round(
                    F.col("total_tokens") * 100.0 / F.col("total_chars"), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("tokens_per_100_chars"),
            F.when(
                F.col("total_tokens") > 0,
                F.round(
                    (F.col("total_chars") - F.col("_seps"))
                    / F.col("total_tokens"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("mean_token_len"),
        )
    )


def token_budget_sample(
    documents: DataFrame,
    budget_tokens: int = 20_000,
    n_buckets: int = 64,
) -> DataFrame:
    """Greedy quality-ranked corpus selection under a PER-LANGUAGE
    token budget: take documents best-quality-first until each
    language's budget fills — the "spend my 2T-token budget on the
    best material" step between scoring and packing in a training-data
    pipeline (deterministic twin of quality-weighted sampling).

    A doc is selected iff the tokens ranked AHEAD of it are under
    budget (the boundary doc may overflow — greedy fill). Total order
    (quality DESC, doc_id) makes the selection reproducible across
    engines and partitionings.

    Scale shape: the per-language cumulative sum is computed as a
    TWO-PASS distributed prefix sum, not one lang-partitioned window
    (a single language — English, ~half of any web corpus — would
    otherwise land on ONE task). Docs are split into ``n_buckets``
    quality-range buckets per language (approximate-quantile cuts;
    the cut VALUES only partition the order, so their precision never
    affects the result), the running sum is a window inside each
    (lang, bucket) — |lang|/n_buckets rows — and bucket base offsets
    come from a per-bucket token-sum cumsum over the tiny
    (lang × n_buckets) frame. Equal-quality docs share a bucket by
    construction, so bucket concatenation reproduces the exact
    (quality DESC, doc_id) order and the result is bit-identical to
    the naive single window (oracle-checked).
    """
    from .textstats import quality_score

    q = quality_score(documents).select("doc_id", "n_tokens", "quality")
    # d embeds the quality_score scan and has TWO consumers (the cut
    # points + the bucketed join) — pin it or the scan re-runs
    d = (
        documents.select("doc_id", "lang")
        .join(q, "doc_id")
        .localCheckpoint(eager=False)
    )
    if n_buckets < 2:
        # degenerate opt-out: one bucket == the naive per-language
        # window (callers accepting the single-task cost)
        b = d.withColumn("_b", F.lit(0))
    else:
        # pass 0: per-language descending quality cut points (any
        # values work; quantiles just keep buckets balanced)
        fracs = ", ".join(
            str(1.0 - (i + 1) / n_buckets) for i in range(n_buckets - 1)
        )
        cuts = d.groupBy("lang").agg(
            F.expr(
                f"approx_percentile(quality, array({fracs}))"
            ).alias("_cuts")
        )
        b = d.join(F.broadcast(cuts), "lang").withColumn(
            "_b",
            F.size(F.filter("_cuts", lambda c: c > F.col("quality"))),
        )
    # b feeds the within-bucket cumsum AND the offset aggregate
    b = b.localCheckpoint(eager=False)
    wb = (
        Window.partitionBy("lang", "_b")
        .orderBy(F.col("quality").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = b.select(
        "doc_id",
        "lang",
        "n_tokens",
        "quality",
        "_b",
        F.sum("n_tokens").over(wb).alias("_cum_in"),
    )
    # bucket base offsets: n_buckets rows per language — bounded frame
    wo = (
        Window.partitionBy("lang")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        b.groupBy("lang", "_b")
        .agg(F.sum("n_tokens").alias("_btok"))
        .select(
            "lang",
            "_b",
            F.coalesce(F.sum("_btok").over(wo), F.lit(0)).alias("_off"),
        )
    )
    return (
        within.join(F.broadcast(offsets), ["lang", "_b"])
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "quality",
            (F.col("_cum_in") + F.col("_off")).alias("cum_tokens"),
        )
        .withColumn(
            "is_selected",
            (F.col("cum_tokens") - F.col("n_tokens")) < F.lit(budget_tokens),
        )
    )


def dsir_weights(
    documents: DataFrame,
    target_source: str = "src0",
    n_buckets: int = 1024,
    alpha: float = 1.0,
    keep_frac: float = 0.25,
) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al.,
    "Data Selection for Language Models via Importance Resampling",
    arXiv:2302.03169): score every document by how target-like its
    hashed-n-gram feature distribution is, then keep the top
    ``keep_frac`` per language.

    Features are md5-hashed unigram buckets (engine-portable hash —
    the same trick as the LSH hyperplanes). With add-α smoothing over
    ``n_buckets``:

        log w(doc) = Σ_t  log p_target[h(t)] − log p_raw[h(t)]

    where p_target counts token occurrences from ``target_source``
    docs and p_raw from the whole corpus. Selection ranks the ROUNDED
    weight (6 dp, ties by doc_id) inside each language, so ranking is
    identical across engines and partitionings.

    Scale shape: one token explode → (doc, bucket) integer partial
    agg; bucket statistics are a ``n_buckets``-row frame (two
    conditional counts in ONE pass — no second corpus scan for the
    target), broadcast back onto the doc-bucket counts. Nothing
    driver-side; the feature table is KB-sized at any corpus size —
    that fixed-size summary is the reason DSIR scales where pairwise
    selection cannot.

    CAVEAT at 100 TB: the rank window partitions by LANGUAGE — a
    language with billions of docs becomes one sorted partition. The
    exact rank is kept for oracle parity and moderate strata; for
    corpus-scale selection use ``dsir_select_threshold``, which
    replaces the per-language sort with a mergeable approximate
    quantile cut (no global ordering anywhere).
    """
    scored = _dsir_scored(documents, target_source, n_buckets, alpha)
    w = Window.partitionBy("lang").orderBy(
        F.col("log_weight").desc(), F.col("doc_id")
    )
    n_lang = Window.partitionBy("lang")
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(n_lang))
        .withColumn(
            "is_selected",
            F.col("_rk") <= F.ceil(F.lit(keep_frac) * F.col("_n")),
        )
        .drop("_rk", "_n")
    )


def _dsir_scored(
    documents: DataFrame,
    target_source: str,
    n_buckets: int,
    alpha: float,
) -> DataFrame:
    """(doc_id, lang, n_occ, log_weight) — the shared scoring stage of
    ``dsir_weights`` (exact rank cut) and ``dsir_select_threshold``
    (quantile cut): one token explode, one (doc, bucket) integer agg,
    bucket stats in one conditional pass, KB ratio table broadcast
    back. No windows here — selection strategy is the caller's."""
    occ = (
        _spread(documents)
        .select(
            "doc_id",
            "source",
            F.explode(tokens_expr("text")).alias("term"),
        )
        .filter(F.col("term") != "")
        .withColumn(
            "bucket",
            F.pmod(
                F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("long"),
                F.lit(n_buckets),
            ),
        )
        # TWO consumers (doc_b + b_stats) — pin the explode or the
        # "one token explode" claim above is false at execution time
        .localCheckpoint(eager=False)
    )
    doc_b = occ.groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).alias("tf")
    )
    # b_stats is n_buckets rows but ALSO has two consumers (totals +
    # ratio), each otherwise re-aggregating the full occ frame
    b_stats = occ.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("raw_n"),
        F.count(F.when(F.col("source") == target_source, 1)).alias("tgt_n"),
    ).localCheckpoint(eager=False)
    totals = b_stats.agg(
        F.sum("raw_n").alias("raw_tot"), F.sum("tgt_n").alias("tgt_tot")
    )
    ratio = (
        b_stats.join(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log((F.col("tgt_n") + alpha) / (F.col("tgt_tot") + alpha * n_buckets))
                - F.log((F.col("raw_n") + alpha) / (F.col("raw_tot") + alpha * n_buckets))
            ).alias("log_ratio"),
        )
    )
    per_doc = (
        doc_b.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_occ"),
            F.sum(F.col("tf") * F.col("log_ratio")).alias("_lw"),
        )
    )
    return (
        documents.select("doc_id", "lang")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("n_occ", F.lit(0)).alias("n_occ"),
            F.coalesce(F.round("_lw", 6), F.lit(0.0)).alias("log_weight"),
        )
    )


def dsir_model(
    documents: DataFrame,
    target_source: str = "src0",
    n_buckets: int = 1024,
    alpha: float = 1.0,
) -> DataFrame:
    """The trained DSIR artifact: the (bucket, log_ratio) table —
    exactly the broadcast frame inside ``dsir_weights``, exposed so it
    can be persisted once and reused across drops/streams (the
    train-offline / score-online split; companion to
    ``write_lsh_index`` on the near-dup side). Always ``n_buckets``
    rows regardless of corpus size: buckets absent from the corpus
    still get the smoothed prior, so scoring never misses a lookup.
    """
    occ = (
        _spread(documents)
        .select("source", F.explode(tokens_expr("text")).alias("term"))
        .filter(F.col("term") != "")
        .withColumn(
            "bucket",
            F.pmod(
                F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("long"),
                F.lit(n_buckets),
            ),
        )
    )
    b_stats = occ.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("raw_n"),
        F.count(F.when(F.col("source") == target_source, 1)).alias("tgt_n"),
    ).localCheckpoint(eager=False)
    totals = b_stats.agg(
        F.sum("raw_n").alias("raw_tot"), F.sum("tgt_n").alias("tgt_tot")
    )
    spine = documents.sparkSession.range(n_buckets).select(
        F.col("id").alias("bucket")
    )
    return (
        spine.join(b_stats, "bucket", "left")
        .join(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce("tgt_n", F.lit(0)) + alpha)
                    / (F.col("tgt_tot") + alpha * n_buckets)
                )
                - F.log(
                    (F.coalesce("raw_n", F.lit(0)) + alpha)
                    / (F.col("raw_tot") + alpha * n_buckets)
                )
            ).alias("log_ratio"),
        )
    )


def write_dsir_model(
    documents: DataFrame,
    path: str,
    target_source: str = "src0",
    n_buckets: int = 1024,
    alpha: float = 1.0,
) -> None:
    """Persist the DSIR model (KB-sized at any corpus scale)."""
    dsir_model(documents, target_source, n_buckets, alpha).coalesce(
        1
    ).write.mode("overwrite").parquet(path)


def dsir_score_with_model(docs: DataFrame, model: DataFrame) -> DataFrame:
    """Score documents against a trained DSIR model with a STATELESS
    per-row expression — no shuffle, no aggregation state, so the SAME
    code scores a batch frame and a Structured Streaming frame (drop
    it straight into ``readStream → select → writeStream``; nothing
    here needs a watermark).

    The model (bounded at ``n_buckets`` rows) collapses into a map
    literal: the per-token bucket lookup + left-fold sum runs entirely
    inside whole-stage codegen against that literal — the scoring cost
    of a 100 TB corpus is one scan, zero exchanges. The fold order is
    the token order, deterministic for a given document.
    """
    rows = model.orderBy("bucket").collect()  # bounded: n_buckets rows
    # the hash modulus is DERIVED from the model's row count, so a
    # model frame that isn't exactly one row per bucket 0..n-1 (a
    # filtered read, the pre-spine b_stats shape) would silently
    # re-bucket every token differently than at training time
    seen = [r["bucket"] for r in rows]
    # an EMPTY model passes the contiguity check ([] == range(0)) and
    # would make pmod(hash, 0) NULL-bucket every token — the silent
    # zero-survivors failure this validation exists to prevent
    if not rows or seen != list(range(len(rows))):
        raise ValueError(
            "dsir model must hold exactly one row per contiguous "
            f"bucket 0..n-1; got {len(rows)} rows with ids "
            f"{seen[:3]}...{seen[-3:] if rows else []} — pass "
            "dsir_model(...)'s frame unfiltered"
        )
    lut = F.map_from_arrays(
        F.lit([r["bucket"] for r in rows]),
        F.lit([r["log_ratio"] for r in rows]),
    )
    n_buckets = len(rows)
    bucket = lambda t: F.pmod(  # noqa: E731
        F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"),
        F.lit(n_buckets),
    )
    # tokens materialize as a column first: HOF children re-evaluate
    # per reference (no CSE), so size() + aggregate() over the raw
    # tokenize tree would tokenize every document twice. NULL text
    # coalesces to an empty array so the score-online path matches
    # _dsir_scored's train-offline contract (n_occ=0, log_weight=0.0)
    # — size(NULL)/aggregate(NULL) would emit -1/NULL instead (r12
    # review find)
    staged = docs.select(
        "doc_id",
        F.coalesce(
            F.filter(tokens_expr("text"), lambda t: t != ""),
            F.array().cast("array<string>"),
        ).alias("_tk"),
    )
    logw = F.aggregate(
        F.col("_tk"),
        F.lit(0.0),
        lambda acc, t: acc + F.element_at(lut, bucket(t)),
    )
    return staged.select(
        "doc_id",
        F.size("_tk").cast("long").alias("n_occ"),
        F.round(logw, 6).alias("log_weight"),
    )


def corpus_prep_v2(
    documents: DataFrame,
    target_source: str = "src0",
    keep_frac: float = 0.5,
    budget: int = 512,
    buckets: int = 8,
) -> DataFrame:
    """The modern training-corpus preparation cascade, one declarative
    plan: exact dedup → repeated-span boilerplate strip → quality/
    repetition gate → DSIR importance selection (top ``keep_frac``
    per language toward ``target_source``) → concat-chunk packing.
    ``corpus_prep``'s hash sample becomes a learned selection.

    ORDER MATTERS: exact dedup runs BEFORE the span strip. Stripping
    first would let duplicate copies mark each other's ENTIRE text as
    a repeated span and erase every copy — the reason Lee et al. keep
    one occurrence. Collapsing dup groups to their min-id keeper
    first means the surviving copy's text no longer repeats (unless
    the phrase genuinely recurs elsewhere — true boilerplate — which
    is exactly what the strip should cut).

    Still one Catalyst job end-to-end: dedup is a semi-join against a
    content-hash aggregate, the strip contributes its gram shuffle +
    doc reassembly, the gate and DSIR stages are semi-joins against
    doc-grain frames (DSIR's model side is a broadcast KB), packing
    adds the per-bucket window. Every stage is engine-exact, so the
    composition replays verbatim in the DuckDB oracle.
    """
    from .dedup import strip_repeated_spans
    from .packing import pack_sequences
    from .textstats import filter_pipeline

    keepers = _exact_keepers(documents)
    deduped = documents.join(keepers, "doc_id", "left_semi")
    stripped = strip_repeated_spans(deduped)
    # docs2 embeds the whole strip_repeated_spans subtree (k-gram
    # shuffle + reassembly) and has THREE consumers (gate, surv join,
    # final join) — pin it or the most expensive stage of the cascade
    # executes three times
    docs2 = (
        deduped.select("doc_id", "lang", "source")
        .join(
            stripped.select("doc_id", F.col("clean_text").alias("text")),
            "doc_id",
        )
        .withColumn("n_chars", F.length("text"))
        .localCheckpoint(eager=False)
    )
    gated = filter_pipeline(docs2).filter(F.col("keep")).select("doc_id")
    surv = docs2.join(gated, "doc_id", "left_semi")
    sel = (
        dsir_weights(surv, target_source=target_source, keep_frac=keep_frac)
        .filter(F.col("is_selected"))
        .select("doc_id")
    )
    final = docs2.join(sel, "doc_id", "left_semi")
    return pack_sequences(final, budget=budget, buckets=buckets)


def source_quota_sample(
    documents: DataFrame, max_per_source: int = 40
) -> DataFrame:
    """Per-source quota capping: keep at most ``max_per_source`` docs
    from each source, best-quality first — the guard against one
    crawl/domain dominating the mixture (the per-domain cap every
    production corpus applies before mixing; cf. the source-weighted
    sampling in ``mix_weights``, which rebalances but cannot CAP).

    Rank = (quality desc, doc_id) inside each source partition — one
    window whose partitions are source-grain, so skew follows source
    skew, not corpus size; the quality signal reuses the single-scan
    ``quality_score`` columns. Output: every doc with its rank and
    the keep verdict (callers semi-join on is_kept).

    At 100 TB the same caveat as ``dsir_weights`` applies: a source
    with billions of docs makes its rank window one sorted partition.
    For corpus-scale caps, swap the rank for a per-source
    ``percentile_approx`` quality threshold exactly as
    ``dsir_select_threshold`` does — mergeable sketch cut, no
    per-source global sort.
    """
    from .textstats import quality_score

    q = quality_score(documents).select("doc_id", "quality")
    w = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        documents.select("doc_id", "source")
        .join(q, "doc_id")
        .withColumn("source_rank", F.row_number().over(w).cast("long"))
        .withColumn("is_kept", F.col("source_rank") <= max_per_source)
        .select("doc_id", "source", "source_rank", "is_kept")
    )


def length_buckets(documents: DataFrame, max_seq: int = 512) -> DataFrame:
    """Length-bucketed batching report: docs binned by power-of-2
    token-count buckets (1-2, 3-4, 5-8, ...), with per-bucket doc/
    token counts and the padding waste of batching that bucket to its
    upper bound — the quantified case for length-grouped batching in
    tokenize/embed/inference fleets (padding to a global ``max_seq``
    wastes the difference; padding within a power-of-2 bucket caps
    waste at <50%).

    One scan: token counts are a pure map, the bucket id is
    ``ceil(log2(n))`` computed as the BIT LENGTH of ``n - 1`` — pure
    integer math, engine-exact (a float ``log2`` can land a hair above
    an integer on one engine and below on the other, flipping the
    ceil) — and the report is a tiny groupBy. Empty and 1-token docs
    land in bucket 0.
    """
    n = token_count_expr("text")
    b = F.when(n <= 1, F.lit(0).cast("long")).otherwise(
        F.length(F.bin(n - 1)).cast("long")
    )
    per_doc = documents.select(
        n.alias("n_tokens"), b.alias("bucket")
    ).withColumn(
        "bucket_cap",
        # shiftleft with a COLUMN bit count only exists in SQL form
        # the shifted literal must be BIGINT: an INT 1 uses Java's
        # mod-32 shift count, so bucket 31 yields -2^31 and bucket 32
        # wraps to 1 — a >2^30-token crawl blob would report a
        # negative cap (BIGINT is safe through bucket 62, far past
        # any real document; oracle in lockstep)
        F.least(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT))"),
            F.lit(max_seq).cast("long"),
        ),
    )
    return (
        per_doc.groupBy("bucket", "bucket_cap")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(
                F.greatest(
                    F.col("bucket_cap") - F.least("n_tokens", F.col("bucket_cap")),
                    F.lit(0),
                )
            ).alias("padding_tokens"),
        )
        .select(
            "bucket",
            "bucket_cap",
            "n_docs",
            "total_tokens",
            "padding_tokens",
        )
    )


def dsir_select_threshold(
    documents: DataFrame,
    target_source: str = "src0",
    n_buckets: int = 1024,
    alpha: float = 1.0,
    keep_frac: float = 0.25,
    accuracy: int = 10_000,
) -> DataFrame:
    """Corpus-scale DSIR selection: same scores as ``dsir_weights``,
    but the per-language top-``keep_frac`` cut comes from an
    APPROXIMATE QUANTILE threshold (``percentile_approx`` — a
    mergeable GK summary per language) instead of an exact rank
    window. No per-language global sort exists anywhere in the plan:
    the quantile agg is map-side combinable, the thresholds are a
    languages-row broadcast, and selection is a stream filter.

    The cut differs from the exact rank only within the quantile
    sketch's rank error (1/accuracy of the stratum) around the
    threshold — the boundary docs a resampling selection is least
    sensitive to. This is the 100 TB default; ``dsir_weights`` is the
    oracle-exact twin.
    """
    scored = _dsir_scored(documents, target_source, n_buckets, alpha)
    thr = scored.groupBy("lang").agg(
        F.percentile_approx(
            "log_weight", F.lit(1.0 - keep_frac), F.lit(accuracy)
        ).alias("_thr")
    )
    return scored.join(F.broadcast(thr), "lang").select(
        "doc_id",
        "lang",
        "n_occ",
        "log_weight",
        (F.col("log_weight") >= F.col("_thr")).alias("is_selected"),
    )


def perplexity_bucket_mix(
    documents: DataFrame, exact: bool = False
) -> DataFrame:
    """CCNet-style perplexity-decile mixing report: rank every doc by
    its ``unigram_logprob`` bits-per-token, cut into 10 equal-count
    buckets, and report each bucket's doc/token mass — the table
    behind "keep the middle deciles, resample the head" curation
    (Wenzek et al., CCNet, arXiv:1911.00359 — public paper).

    DEFAULTS TO THE SKETCH PATH (the ``dsir_select_threshold``
    construction): nine ``percentile_approx`` boundaries (mergeable
    GK, one aggregate) + a broadcast bucket projection — no global
    sort anywhere, so decile populations are only near-equal (score
    ties share a decile).

    ``exact=True`` cuts with ``ntile(10)`` over the total order
    (bits_per_token, doc_id), which moves the doc-grain frame (NOT
    the corpus text) through one global window — use for oracle
    verification, a single-partition sort at 100 TB. Same output
    schema either way.

    token_share divides two engine-exact BIGINTs at the boundary.
    """
    scored = unigram_logprob(documents)
    # toks has two consumers (the score join and the corpus-total
    # agg); checkpoint so the text scan + token count runs once
    toks = documents.select(
        "doc_id", token_count_expr("text").alias("n_tokens")
    ).localCheckpoint(eager=False)
    joined = scored.join(toks, "doc_id")
    if exact:
        w = Window.orderBy("bits_per_token", "doc_id")
        binned = joined.withColumn("decile", F.ntile(10).over(w))
    else:
        # two consumers in the sketch path (cuts agg + bucket
        # projection) — materialize the scored join once
        joined = joined.localCheckpoint(eager=False)
        fr = ", ".join(str(i / 10) for i in range(1, 10))
        cuts = joined.agg(
            F.expr(f"percentile_approx(bits_per_token, array({fr}))").alias(
                "_cuts"
            )
        )
        binned = (
            joined.join(F.broadcast(cuts))
            .withColumn(
                "decile",
                F.size(
                    F.filter("_cuts", lambda c: c < F.col("bits_per_token"))
                )
                + 1,
            )
            .drop("_cuts")
        )
    dec = (
        binned.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("bits_per_token").alias("min_bits"),
            F.max("bits_per_token").alias("max_bits"),
        )
    )
    corpus_toks = toks.agg(F.sum("n_tokens").alias("_corpus_tokens"))
    return dec.join(F.broadcast(corpus_toks)).select(
        "decile",
        "n_docs",
        "total_tokens",
        F.round(
            F.col("total_tokens").cast("double") / F.col("_corpus_tokens"), 6
        ).alias("token_share"),
        "min_bits",
        "max_bits",
    )


def pmi_terms(
    documents: DataFrame,
    top_v: int = 100,
    k: int = 50,
    min_pair_docs: int = 5,
) -> DataFrame:
    """Top-``k`` term pairs by pointwise mutual information over
    document co-occurrence — collocation mining for tokenizer vocab
    curation and phrase detection:

        pmi(a, b) = log2( df(a,b) · N / (df(a) · df(b)) )

    with document frequencies over DISTINCT presence (a term counts
    once per doc).

    Scale shape: the pair join is restricted to the top-``top_v``
    corpus vocabulary (broadcast, rank-cut on the aggregated term
    frame), so per-doc candidates are bounded by C(min(top_v, doc
    vocab), 2) and the pair space by C(top_v, 2) — never a corpus
    cross join. Presence explode → df agg → vocab cut → doc-keyed
    self-join → pair agg → distributed TakeOrdered top-k. The cut
    orders by ROUNDED pmi then the pair, so it is total-ordered and
    engine-exact.
    """
    pres = documents.select(
        "doc_id",
        F.explode(F.array_distinct(tokens_expr("text"))).alias("term"),
    ).filter(F.col("term") != "").localCheckpoint(eager=False)
    # pres is raw-scale (one row per doc x distinct term) but feeds
    # BOTH the df aggregate and the pv join — the pin halves the
    # dominant tokenize+explode stage and MEASURED 0.78x median-of-5
    # (1.29 vs 1.64 s at sf0.1, r9); the strip_repeated_spans shared-
    # tokenization precedent. Trade: executor disk holds the exploded
    # frame once instead of computing it twice.
    df_ = pres.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # distributed TakeOrdered vocab cut (corpus vocabulary is
    # unbounded — a rank window over it would be a one-task sort)
    vocab = (
        df_.orderBy(F.col("df").desc(), "term")
        .limit(top_v)
        .select("term", "df")
    )
    pv = pres.join(F.broadcast(vocab), "term")
    a = pv.select(
        "doc_id", F.col("term").alias("term_a"), F.col("df").alias("df_a")
    )
    b = pv.select(
        "doc_id", F.col("term").alias("term_b"), F.col("df").alias("df_b")
    )
    pairs = a.join(b, "doc_id").filter(F.col("term_a") < F.col("term_b"))
    n_docs = documents.agg(F.count(F.lit(1)).alias("n_corpus"))
    agg = (
        pairs.groupBy("term_a", "term_b")
        .agg(
            F.count(F.lit(1)).alias("df_ab"),
            F.first("df_a").alias("df_a"),
            F.first("df_b").alias("df_b"),
        )
        .filter(F.col("df_ab") >= min_pair_docs)
        .join(F.broadcast(n_docs))
    )
    # df_a·df_b in DOUBLE: a BIGINT product overflows once doc
    # frequencies pass ~3e9 (a real 100 TB corpus size)
    pmi = F.round(
        F.log2(
            F.col("df_ab").cast("double")
            * F.col("n_corpus")
            / (F.col("df_a").cast("double") * F.col("df_b"))
        ),
        6,
    )
    return (
        agg.select("term_a", "term_b", "df_ab", "df_a", "df_b", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "term_a", "term_b")
        .limit(k)
    )


def corpus_report(documents: DataFrame) -> DataFrame:
    """One-call corpus health report, one row per source: the summary
    a curation run publishes before anyone trains on the data —
    volume, exact-dup rate, Gopher pass rate, language-metadata
    mismatch rate, mean quality.

    Composes the individually-verified doc-grain operators
    (fingerprints, quality_score, gopher_rules, lang_id) — all four
    are map-only per-doc projections, so they CHAIN over ONE corpus
    scan via their ``_carry`` pass-through seams (r13; previously each
    was its own scan of the documents table and the four doc-grain
    frames met in three doc_id-keyed shuffle joins — 4 scans + 4
    exchanges for what is one projection) — and ONE source-grain
    aggregate. Chain order puts ``lang_id`` before ``gopher_rules``
    so the raw ``text`` column never has to survive gopher's
    CRLF-normalized restaging of that name. The only non-integer
    reduction is the quality sum, rounded to 6 dp at the boundary
    (association noise ~1e-13, far below the grain). dup_ratio counts
    distinct fingerprints WITHIN the source, so cross-source template
    reuse doesn't leak between rows.
    """
    from .textstats import (
        doc_fingerprint,
        gopher_rules,
        lang_id,
        quality_score,
    )

    # _spread: the fused chain concentrates ALL four operators'
    # per-doc regex/tokenize CPU into one map stage; on a small
    # single-split corpus that stage would run one-task (the old
    # four-scan shape got one task PER operator, concurrently), so
    # spread first. No-op at real scale (thousands of splits).
    d = doc_fingerprint(
        _spread(documents).select("doc_id", "source", "lang", "text"),
        _carry=("source", "lang", "text"),
    )
    d = quality_score(d, _carry=("source", "lang", "text", "fingerprint"))
    d = lang_id(
        d, _carry=("source", "text", "fingerprint", "n_tokens", "quality")
    )
    d = gopher_rules(
        d,
        _carry=(
            "source",
            "fingerprint",
            "n_tokens",
            "quality",
            "lang_declared",
            "lang_pred",
        ),
    )
    j = d.select(
        "doc_id",
        "source",
        "fingerprint",
        "n_tokens",
        "quality",
        "gopher_pass",
        # null-safe: a NULL declared lang with a real prediction IS a
        # metadata mismatch — plain != would NULL out and sum() would
        # skip exactly the broken rows the health report must flag
        (~F.col("lang_declared").eqNullSafe(F.col("lang_pred"))).alias(
            "_mismatch"
        ),
    )
    agg = j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.countDistinct("fingerprint").alias("_n_unique"),
        F.sum(F.col("gopher_pass").cast("bigint")).alias("_n_pass"),
        F.sum(F.col("_mismatch").cast("bigint")).alias("_n_mismatch"),
        F.sum("quality").alias("_q_sum"),
    )
    n = F.col("n_docs")
    return agg.select(
        "source",
        "n_docs",
        "total_tokens",
        F.round(1 - F.col("_n_unique").cast("double") / n, 6).alias(
            "dup_ratio"
        ),
        F.round(F.col("_n_pass").cast("double") / n, 6).alias(
            "gopher_pass_rate"
        ),
        F.round(F.col("_n_mismatch").cast("double") / n, 6).alias(
            "lang_mismatch_rate"
        ),
        F.round(F.col("_q_sum") / n, 6).alias("mean_quality"),
    )


def hash_embed(
    documents: DataFrame, dim: int = 16, _tf: DataFrame | None = None
) -> DataFrame:
    """Feature-hashing document vectors (the "hashing trick",
    Weinberger et al. 2009 — public paper): term counts fold into
    ``dim`` buckets by md5, L2-normalized — model-free embeddings
    good enough for cheap near-dup candidate generation and topic
    drift checks without shipping a neural encoder.

    Output is the SPARSE form — one (doc_id, dim_idx, weight) row per
    non-zero bucket — because sparse rows hash cross-engine exactly,
    while a dense array column would compare by stringified form.
    Downstream dense consumers pivot with ``map_from_entries`` /
    ``transform(sequence(...))`` in one map stage.

    One explode → (doc, bucket) integer counts → per-doc norm from
    the SAME aggregated frame (no second scan) → one division per
    row, rounded at the boundary. All shuffles carry integer partials
    keyed on high-cardinality doc_id.
    """
    h = F.conv(F.substring(F.md5(F.col("term")), 1, 15), 16, 10)
    # tb feeds the norm aggregate AND the output join — pin it or the
    # "no second scan" claim is false at execution time. ``_tf``
    # (hybrid_search's seam) folds a pre-aggregated (doc_id, term, tf)
    # frame into the buckets instead of re-tokenizing the corpus; the
    # bucket counts are the same integers either way (Σ per-term
    # counts grouped by bucket ≡ per-occurrence counts by bucket).
    if _tf is not None:
        tb = (
            _tf.select(
                "doc_id", (h.cast("bigint") % dim).alias("dim_idx"), "tf"
            )
            .groupBy("doc_id", "dim_idx")
            .agg(F.sum("tf").cast("bigint").alias("tf"))
            .localCheckpoint(eager=False)
        )
    else:
        occ = documents.select(
            "doc_id", F.explode(tokens_expr("text")).alias("term")
        ).filter(F.col("term") != "")
        tb = occ.select(
            "doc_id", (h.cast("bigint") % dim).alias("dim_idx")
        ).groupBy("doc_id", "dim_idx").agg(
            F.count(F.lit(1)).alias("tf")
        ).localCheckpoint(eager=False)
    norms = tb.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("tf") * F.col("tf"))).alias("_nrm")
    )
    return tb.join(norms, "doc_id").select(
        "doc_id",
        "dim_idx",
        "tf",
        F.round(F.col("tf") / F.col("_nrm"), 6).alias("weight"),
    )


def quality_percentile_by_source(
    documents: DataFrame, exact: bool = False
) -> DataFrame:
    """Quantile-normalize quality scores WITHIN each source — the fix
    for "source A's scorer runs hot": a 0.9 from a lenient source and
    a 0.6 from a strict one can both be their source's 85th
    percentile, so cross-source selection should cut on the
    percentile, not the raw score.

    DEFAULTS TO THE SKETCH PATH (the ``dsir_select_threshold``
    construction): 99 per-source ``percentile_approx`` cut points
    (mergeable GK, one source-keyed aggregate) broadcast into a
    projection that counts cuts below each doc's quality — percentile
    quantized to the 1% grid, no per-source sort, safe when one crawl
    source dominates the corpus.

    ``exact=True`` computes percentile = (rank − 1) / (n − 1) over
    (quality, doc_id) within the source (0 for a single-doc source) —
    integer rank arithmetic, one division, engine-exact; use for
    oracle verification (the rank window partitions by source over
    the doc-grain frame — one task per source). Same output schema
    either way.
    """
    from .textstats import quality_score

    q = (
        quality_score(documents)
        .select("doc_id", "quality")
        .join(documents.select("doc_id", "source"), "doc_id")
    )
    if exact:
        w = Window.partitionBy("source").orderBy("quality", "doc_id")
        n = F.count(F.lit(1)).over(Window.partitionBy("source"))
        rnk = F.row_number().over(w)
        return q.select(
            "doc_id",
            "source",
            "quality",
            F.when(
                n > 1,
                F.round((rnk - 1).cast("double") / (n - 1), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("quality_pctile"),
        )
    fr = ", ".join(str(i / 100) for i in range(1, 100))
    cuts = q.groupBy("source").agg(
        F.expr(f"percentile_approx(quality, array({fr}))").alias("_cuts")
    )
    return q.join(F.broadcast(cuts), "source").select(
        "doc_id",
        "source",
        "quality",
        F.round(
            F.size(F.filter("_cuts", lambda c: c < F.col("quality")))
            .cast("double")
            / 100.0,
            6,
        ).alias("quality_pctile"),
    )


def corpus_drop_pipeline(
    new_docs: DataFrame,
    index_prefix: str,
    dsir_model: DataFrame,
    min_log_weight: float = 0.0,
    budget: int = 512,
    persisted_frames: list | None = None,
) -> DataFrame:
    """The PRODUCTION daily-drop shape: everything ``corpus_prep_v2``
    does, but against PERSISTED state so a day's batch costs
    O(batch), never O(corpus):

    1. near-dup annotate vs the stored bucketed LSH index
       (``write_lsh_index`` — corpus side exchange-free),
    2. quality/repetition gate (``filter_pipeline``, batch-local),
    3. DSIR scoring with the persisted model
       (``dsir_score_with_model`` — stateless map against a KB
       literal) cut at ``min_log_weight`` (precomputed offline by
       ``dsir_select_threshold``),
    4. BFD pack layout (``pack_bins_bfd``) for the survivors.

    Output: one row per batch doc with every stage's verdict — the
    audit trail of WHY each document survived or fell — plus pack
    assignment for survivors. Composition of individually-verified
    operators; the end-to-end flow is pytest-driven (stored-index
    tests can't run inside the driver's query harness).
    """
    from .dedup import dedup_against_index
    from .packing import pack_bins_bfd
    from .textstats import filter_pipeline

    dup = dedup_against_index(
        new_docs, index_prefix, persisted_frames=persisted_frames
    ).select("doc_id", "dup_of", "is_near_dup")
    gate = filter_pipeline(new_docs).select(
        "doc_id", F.col("keep").alias("gate_keep"), "reason"
    )
    scored = dsir_score_with_model(new_docs, dsir_model).select(
        "doc_id", "log_weight"
    )
    verdicts = (
        new_docs.select("doc_id")
        .join(dup, "doc_id")
        .join(gate, "doc_id")
        .join(scored, "doc_id")
        .withColumn(
            "selected",
            ~F.col("is_near_dup")
            & F.col("gate_keep")
            & (F.col("log_weight") >= min_log_weight),
        )
    )
    survivors = new_docs.join(
        verdicts.filter("selected").select("doc_id"), "doc_id"
    )
    packs = pack_bins_bfd(survivors, budget=budget).select(
        "doc_id", "pack_id", "n_tokens"
    )
    return verdicts.join(packs, "doc_id", "left").select(
        "doc_id",
        "is_near_dup",
        "dup_of",
        "gate_keep",
        "reason",
        "log_weight",
        "selected",
        "pack_id",
        "n_tokens",
    )


def doc_similarity_topk(
    documents: DataFrame, n_queries: int = 8, k: int = 5, dim: int = 64
) -> DataFrame:
    """Top-``k`` most similar documents per query doc WITHOUT a
    neural embedding: cosine over the ``hash_embed`` vectors,
    computed RELATIONALLY on the sparse form — the dot product of two
    L2-normalized sparse vectors is one equi-join on ``dim_idx`` plus
    a sum of weight products, so no dense arrays are built and the
    whole query is joins + aggregates (fully oracle-checkable).

    The query side (doc_id < n_queries) is a broadcast-sized sparse
    batch; each corpus (doc, dim) row meets at most ``n_queries``
    query rows — bounded fan-out, one corpus-side shuffle to the
    (query, doc) aggregate. Cosines are ROUNDED to 6 dp before the
    rank cut (ties → doc_id), so the top-k is engine-exact.
    """
    e = hash_embed(documents, dim=dim).select("doc_id", "dim_idx", "weight")
    return _sparse_cosine_topk(e, F.col("doc_id") < n_queries, k)


def _sparse_cosine_topk(e: DataFrame, query_pred, k: int) -> DataFrame:
    """ONE sparse-cosine scoring stage shared by
    ``doc_similarity_topk`` and ``hybrid_search``'s semantic side
    (rounding grain, tie-break, and fan-out shape must stay identical
    or the fused ranking drifts from the standalone operator):
    queries = hash-embed rows satisfying ``query_pred``
    (broadcast-sized by construction), one dim_idx equi-join +
    (query, doc) aggregate + per-query rank, cosine rounded to 6 dp
    before the cut (ties → doc_id)."""
    q = e.filter(query_pred).select(
        F.col("doc_id").alias("query_id"),
        "dim_idx",
        F.col("weight").alias("q_w"),
    )
    # no forced broadcast — the query-vector side grows with the
    # corpus under default sampling; AQE sizes it (see bm25_search)
    scored = (
        e.join(q, "dim_idx")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(F.col("q_w") * F.col("weight")), 6).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("sim_rank", F.row_number().over(w))
        .filter(F.col("sim_rank") <= k)
        .select("query_id", "doc_id", "cos", "sim_rank")
    )


def _query_doc_pred(every: int, doc_ids: list[int] | None):
    """The ONE query-doc selection predicate shared by the lexical
    (``sample_queries``) and semantic (``hybrid_search``) stages —
    two hand-maintained copies of this rule silently diverging would
    make the stages answer disjoint query sets, the exact fusion bug
    ``hybrid_search`` exists to prevent."""
    if doc_ids is not None:
        return F.col("doc_id").isin([int(i) for i in doc_ids])
    return F.col("doc_id") % every == 0


def sample_queries(
    documents: DataFrame,
    every: int = 97,
    n_terms: int = 8,
    doc_ids: list[int] | None = None,
) -> DataFrame:
    """Deterministic "more-like-this" query batch for retrieval ops:
    every ``every``-th document becomes a query whose terms are the
    doc's first ``n_terms`` tokens (a prefix slice — positionally
    stable in any engine). ``doc_ids`` pins an EXPLICIT query-doc
    batch instead (the serving shape: a fixed query load over a
    growing corpus — with ``every``-sampling the query set grows with
    the corpus, which is self-retrieval smoke, not serving). Output:
    (query_id, term), distinct."""
    toks = documents.filter(_query_doc_pred(every, doc_ids)).select(
        F.col("doc_id").alias("query_id"),
        F.explode(F.slice(tokens_expr("text"), 1, n_terms)).alias("term"),
    )
    return toks.filter(F.col("term") != "").distinct()


def bm25_search(
    documents: DataFrame,
    queries: DataFrame | None = None,
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 10,
    _tf: DataFrame | None = None,
) -> DataFrame:
    """BM25 full-text retrieval over the corpus for a batch of term
    queries — the lexical side of a retrieval stack (the dense side
    is ``ann_topk``/``doc_similarity_topk``; production rankers fuse
    both). Lucene-style positive idf: ``ln(1 + (N − df + ½)/(df + ½))``,
    per-term contribution ``idf · tf(k1+1) / (tf + k1(1 − b + b·dl/avgdl))``.

    ``queries`` is (query_id, term); defaults to ``sample_queries``
    (every 97th doc's token prefix — self-retrieval smoke, query doc
    excluded from its own results).

    Scale shape: the corpus is scanned ONCE into a (doc, term, tf)
    frame; df and the dl/avgdl length stats derive from that frame,
    not a second scan. The query batch (small by construction)
    broadcasts into the term join, so the only corpus-sized shuffles
    are the tf aggregate and the per-(query, doc) score aggregate.
    Scores are double sums over ≤ |query terms| addends rounded to
    6 dp (association noise ≪ rounding grain — the
    ``unigram_logprob`` determinism argument); ranking orders by the
    ROUNDED score with doc_id tie-break, so the cut is engine-exact.
    """
    if queries is None:
        queries = sample_queries(documents)
    # the tf frame has THREE consumers (dl, df_, the score join) and
    # Catalyst inlines the corpus explode+agg subtree into each — a
    # lazy localCheckpoint materializes the tokenize ONCE per
    # execution (the lang_id_nb construction). ``_tf`` injects an
    # externally built/checkpointed (doc_id, term, tf) frame — the
    # hybrid_search seam, so its lexical and semantic stages share
    # ONE corpus tokenize instead of scanning twice.
    if _tf is not None:
        tf = _tf
    else:
        tf = (
            _term_freq(documents)
            .localCheckpoint(eager=False)
        )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    # df is only consumed for QUERY terms — pre-filtering on the
    # broadcast term set keeps the df aggregate's shuffle at
    # |matching postings|, not vocab-wide (df values are still full
    # corpus counts: the semi-filter keeps every doc's row per term)
    # query joins carry no forced broadcast: under the default
    # every=97 sampling the query set GROWS with the corpus, and a
    # forced hint would bypass the size ceiling (AQE still broadcasts
    # the serving-mode query_ids shape on its own)
    df_ = (
        tf.join(queries.select("term").distinct(), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("_tok_total")
    )
    scored = (
        tf.join(queries, "term")
        .join(df_, "term")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .filter(F.col("doc_id") != F.col("query_id"))
    )
    avgdl = F.col("_tok_total").cast("double") / F.col("n_docs")
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = idf * (
        F.col("tf") * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl))
    )
    per_pair = scored.groupBy("query_id", "doc_id").agg(
        F.round(F.sum(contrib), 6).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        per_pair.withColumn("bm25_rank", F.row_number().over(w))
        .filter(F.col("bm25_rank") <= topk)
        .select("query_id", "doc_id", "score", "bm25_rank")
    )


def hybrid_search(
    documents: DataFrame,
    every: int = 97,
    topk: int = 10,
    rrf_k: int = 60,
    stage_k: int = 10,
    dim: int = 64,
    query_ids: list[int] | None = None,
) -> DataFrame:
    """Hybrid lexical + semantic retrieval fused by Reciprocal Rank
    Fusion (Cormack, Clarke & Büttcher 2009): per (query, doc),
    ``Σ 1/(rrf_k + rank)`` over the lists the doc appears in. RRF is
    the standard production fusion because it needs no score
    calibration — ranks are scale-free, so a BM25 score and a cosine
    never have to share units. Query set = ``query_ids`` when given
    (the serving mode), else ``bm25_search``'s default sample (every
    97th doc); both stages always answer the same questions.

    Lexical = ``bm25_search`` top-``stage_k``; semantic = sparse
    relational cosine over ``hash_embed`` vectors for the SAME query
    docs (the ``doc_similarity_topk`` construction) top-``stage_k``.
    Fusion is a union of the two (query, ≤stage_k)-row frames plus
    one (query, doc) aggregate summing their RRF addends — trivially
    small next to either retrieval — and every addend is
    ``1.0/(int + int)`` with the sum rounded, so the fused ranking is
    engine-exact.

    Scale: both stages are verified linear-ish plans; at serving
    scale swap the semantic stage for ``ann_rerank_topk`` over real
    embeddings — the fusion is unchanged (rank columns are the whole
    interface). ``query_ids`` pins a FIXED query batch (the
    serving shape: constant query load over a growing corpus); the
    default ``every``-sampling grows the query set with the corpus —
    right for self-retrieval smoke, quadratic-by-construction as a
    scaling model (confirmed empirically by the sf1 scale probe).
    """
    # BOTH stages must answer the same question set: thread the query
    # selection into the lexical stage's sampling AND the semantic
    # stage's predicate (defaulting bm25_search would silently pin
    # its own every=97 and fuse disjoint queries) — one shared
    # predicate builder, so the rule cannot diverge between stages
    sem_pred = _query_doc_pred(every, query_ids)
    # ONE corpus tokenize for BOTH stages: the (doc, term, tf) frame
    # is built and lazily checkpointed here, then injected into the
    # lexical stage (bm25's postings) AND the semantic stage (the
    # hash_embed bucket fold) — previously each stage re-scanned and
    # re-tokenized the full corpus, the dominant cost of the fused
    # query (guide §1.2: don't compute things twice; §2.4: share the
    # exchange). Bucket counts from the tf frame are the same
    # integers the per-occurrence fold produced, so scores, ranks and
    # the fused output are unchanged.
    tf = _term_freq(documents).localCheckpoint(eager=False)
    lex = bm25_search(
        documents,
        queries=sample_queries(documents, every=every, doc_ids=query_ids),
        topk=stage_k,
        _tf=tf,
    ).select("query_id", "doc_id", "bm25_rank")
    e = hash_embed(documents, dim=dim, _tf=tf).select(
        "doc_id", "dim_idx", "weight"
    )
    sem = _sparse_cosine_topk(e, sem_pred, stage_k).select(
        "query_id", "doc_id", "sim_rank"
    )
    # Fusion as a UNION + one aggregate instead of a full-outer join:
    # each side contributes its per-(query, doc) RRF addend and the
    # groupBy sums them (guide §2.4 — an aggregate with map-side
    # partials replaces a sort-merge full-outer and its two sorts).
    # Equivalence is exact: each side has at most one row per (query,
    # doc), IEEE addition of two doubles is commutative, and a
    # one-sided pair sums to the same value the old coalesce(…, 0.0)
    # + addend produced (x + 0.0 == x for the strictly positive
    # addends here) — so the rounded scores, and therefore the fused
    # ranking, are bit-identical.
    fused = (
        lex.select(
            "query_id",
            "doc_id",
            (F.lit(1.0) / (rrf_k + F.col("bm25_rank"))).alias("_rrf"),
        )
        .unionByName(
            sem.select(
                "query_id",
                "doc_id",
                (F.lit(1.0) / (rrf_k + F.col("sim_rank"))).alias("_rrf"),
            )
        )
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("_rrf"), 6).alias("rrf_score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= topk)
        .select("query_id", "doc_id", "rrf_score", "fused_rank")
    )


def _split_assign(bucket, train_pct: int, val_pct: int):
    """bucket → split label, in ONE place: the leakage audits
    (``split_leakage``/``split_leakage_near``) must apply the exact
    rule ``corpus_split`` assigns with, or a drifted copy would
    desynchronize the audit from the split it audits — the very
    cross-split leak they exist to catch."""
    return (
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test")
    )


def _split_bucket(doc_id: Column | None = None):
    """Salted [0, 100) split bucket from md5('split:' || doc_id) —
    one recipe with ``_hash_bucket`` (portable to DuckDB as
    ``CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
    1, 15) AS BIGINT) % 100``), so a future change to the bucket
    hash cannot desynchronize split buckets from sample buckets.

    ``doc_id`` applies the SAME recipe to a differently-named id
    column (split_leakage_near computes each candidate pair side's
    split from doc_a/doc_b directly — membership is a pure function
    of the id, no join to the documents table needed)."""
    col = F.col("doc_id") if doc_id is None else doc_id
    return _hash_bucket(F.concat(F.lit("split:"), col.cast("string")))


def corpus_split(
    documents: DataFrame, train_pct: int = 90, val_pct: int = 5
) -> DataFrame:
    """Deterministic train/validation/test assignment — the split
    every training pipeline needs pinned BEFORE any other processing
    so no experiment ever leaks across it. Membership depends only on
    ``md5('split:' || doc_id)`` (salted so it is independent of
    ``stratified_sample``'s unsalted buckets): identical at any
    scale, parallelism, or re-run; stable under corpus growth (a new
    doc never moves an old one); and a pure map-side projection —
    zero shuffles.

    Buckets 0..train_pct-1 → train, the next val_pct → val, the rest
    → test. The bucket rides along for audit.
    """
    h = _split_bucket()
    split = (
        _split_assign(F.col("bucket"), train_pct, val_pct)
    )
    return documents.select(
        "doc_id", "lang", "source", h.alias("bucket")
    ).withColumn("split", split)


def split_leakage(
    documents: DataFrame, train_pct: int = 90, val_pct: int = 5
) -> DataFrame:
    """Cross-split contamination audit: how many val/test documents
    share EXACT (normalized) content with any train document — the
    leak that silently inflates every eval number, and the first
    thing to re-check after any corpus refresh. Composes the salted
    ``corpus_split`` assignment with ``dedup_exact``'s content hash;
    a near-dup sweep (`decontaminate`) is the recall-heavier second
    pass, this is the exact-match fast gate.

    One projection computes split + fingerprint (zero extra scans);
    train fingerprints collapse to a distinct hash frame; the eval
    side left-joins it and reduces to one row per eval split with
    an integer leak count and a rounded rate — engine-exact.

    Scale shape: one (fp) distinct shuffle of the train side + one
    hash equi-join; output is two rows.
    """
    from ..functions.text import md5_hex

    h = _split_bucket()
    split = (
        _split_assign(h, train_pct, val_pct)
    )
    tagged = documents.select(
        "doc_id",
        split.alias("split"),
        md5_hex(norm_text("text")).alias("fp"),
    )
    train_fps = (
        tagged.filter(F.col("split") == "train")
        .select("fp")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    evals = tagged.filter(F.col("split") != "train")
    # NULL-safe on fp: dedup_exact's convention treats all
    # NULL-content docs as one content group, so a NULL-text eval doc
    # leaks iff train also holds a NULL-text doc — a plain equi-join
    # would report it as never-leaked (r12 review find; same device
    # as dedup_incremental's eqNullSafe)
    joined = evals.join(
        train_fps, evals["fp"].eqNullSafe(train_fps["fp"]), "left"
    ).drop(train_fps["fp"])
    return (
        joined.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("n_leaked"),
        )
        .withColumn(
            "leak_rate", F.round(F.col("n_leaked") / F.col("n_docs"), 6)
        )
    )


def split_leakage_near(
    documents: DataFrame,
    threshold: float = 0.5,
    train_pct: int = 90,
    val_pct: int = 5,
) -> DataFrame:
    """NEAR-duplicate cross-split contamination: val/test documents
    whose MinHash-verified Jaccard similarity to some TRAIN document
    reaches ``threshold`` — the recall pass behind the exact
    ``split_leakage`` gate (an eval doc paraphrasing a train doc
    inflates eval scores just as surely as a byte copy). Reuses the
    verified ``minhash_lsh_pairs`` machinery, so candidates come from
    band-key equi-joins, never an all-pairs comparison.

    Output: one row per eval split with its doc count, the distinct
    docs near-leaked, the leaking pair count, and the rounded rate —
    eval splits with zero leaks still report (left join from the
    split totals). All counters integer; one division per row.

    Cross-split pruning happens BEFORE the exact-Jaccard verify
    (r13, guide §3 pre-filter the join): split membership is a pure
    md5 function of the doc_id, so each band candidate's sides are
    labeled MAP-SIDE (no join to the documents table) and the
    within-split pairs — the overwhelming majority under a 90/5/5
    split, ~81% train↔train alone — are dropped without ever paying
    the O(|A|+|B|) shingle verify. The filter commutes with the
    verify (split depends only on the ids), so the surviving pairs,
    and therefore every count, are identical to verifying first.
    """
    from pyspark.storagelevel import StorageLevel

    from .dedup import _band_candidates, _band_frame, _jaccard_verify_pairs

    h = _split_bucket()
    split = (
        _split_assign(h, train_pct, val_pct)
    )
    splits = documents.select("doc_id", split.alias("split"))

    def _split_of(idcol):
        return _split_assign(_split_bucket(idcol), train_pct, val_pct)

    sh, bands = _band_frame(documents, "doc_id")
    bands = bands.persist(StorageLevel.MEMORY_AND_DISK)
    cand = (
        _band_candidates(bands)
        .select(
            "doc_a",
            "doc_b",
            _split_of(F.col("doc_a")).alias("_sa"),
            _split_of(F.col("doc_b")).alias("_sb"),
        )
        .filter((F.col("_sa") == "train") != (F.col("_sb") == "train"))
    )
    pairs = _jaccard_verify_pairs(cand, sh, threshold, keep=("_sa", "_sb"))
    cross = pairs.select(
        F.when(F.col("_sa") == "train", F.col("doc_b"))
        .otherwise(F.col("doc_a"))
        .alias("eval_doc"),
        F.when(F.col("_sa") == "train", F.col("_sb"))
        .otherwise(F.col("_sa"))
        .alias("split"),
    )
    leaks = cross.groupBy("split").agg(
        F.count_distinct("eval_doc").alias("n_leaked_docs"),
        F.count(F.lit(1)).alias("n_leak_pairs"),
    )
    totals = (
        splits.filter(F.col("split") != "train")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return totals.join(leaks, "split", "left").select(
        "split",
        "n_docs",
        F.coalesce("n_leaked_docs", F.lit(0)).alias("n_leaked_docs"),
        F.coalesce("n_leak_pairs", F.lit(0)).alias("n_leak_pairs"),
        F.round(
            F.coalesce("n_leaked_docs", F.lit(0)) / F.col("n_docs"), 6
        ).alias("leak_rate"),
    )


def zipf_fit(documents: DataFrame, top_v: int = 500) -> DataFrame:
    """Per-source Zipf power-law fit over the term-frequency ranking —
    the corpus-health diagnostic that flags a source whose frequency
    curve is NOT Zipfian (slope ≫ −1 and a collapsing r² mean
    template spam or mode collapse in synthetic data; natural text
    sits near slope −1).

    Fit: least squares of ``log2(count)`` against ``log2(rank)`` over
    each source's top-``top_v`` terms (rank-cut so a 100 TB source
    contributes a bounded, aggregated vocabulary to the fit — the
    regression runs on ≤ top_v rows per source, never on the corpus).
    Slope and r² are base-invariant, so log2 is used for the
    cross-engine determinism the log-family ops here standardize on
    (round-6 outputs, oracle in lockstep). The slope/r² algebra is
    spelled out from raw Σx/Σy/Σxy/Σxx/Σyy sums rather than
    ``regr_slope`` so both engines run the SAME formula — the builtin
    regression aggregates use different one-pass co-moment updates
    per engine and drift past the rounding grid.

    Scale shape: explode → (source, term) count agg (map-side
    combinable, high-cardinality key) → per-source rank window over
    the SMALL aggregated vocab → one tiny per-source aggregate.
    Output: (source, n_terms, vocab_size, zipf_slope, zipf_r2).
    """
    occ = documents.select(
        "source", F.explode(tokens_expr("text")).alias("term")
    ).filter(F.col("term") != "")
    # TWO consumers (vocab + kept) — pin the aggregated frame or the
    # corpus tokenize+explode+agg executes twice (the module's
    # multi-consumer convention; r12 review find)
    counts = occ.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=False)
    w = Window.partitionBy("source").orderBy(F.col("c").desc(), F.col("term"))
    vocab = counts.groupBy("source").agg(
        F.count(F.lit(1)).alias("vocab_size")
    )
    kept = (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_v)
        .select(
            "source",
            F.log2(F.col("rnk").cast("double")).alias("x"),
            F.log2(F.col("c").cast("double")).alias("y"),
        )
    )
    sums = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    cov_n = n * F.col("sxy") - F.col("sx") * F.col("sy")
    var_x = n * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = n * F.col("syy") - F.col("sy") * F.col("sy")
    # a single-term or constant-count vocabulary has no defined slope
    slope = F.when(var_x > 0, cov_n / var_x)
    r2 = F.when(
        (var_x > 0) & (var_y > 0), (cov_n * cov_n) / (var_x * var_y)
    )
    return sums.join(vocab, "source").select(
        "source",
        F.col("n").cast("bigint").alias("n_terms"),
        "vocab_size",
        F.round(slope, 6).alias("zipf_slope"),
        F.round(r2, 6).alias("zipf_r2"),
    )


def ngram_novelty(
    documents: DataFrame,
    reference: DataFrame,
    n: int = 3,
) -> DataFrame:
    """Fraction of each document's distinct word n-grams that are
    ABSENT from a reference corpus — the novelty/memorization signal
    run before adding a new crawl to a training mix (novelty ≈ 0
    means the "new" source is already in the corpus; it is also the
    doc-grain view of eval decontamination).

    Scale shape: both sides explode to DISTINCT (key, gram) rows —
    per-doc distinct on the scored side, corpus-distinct on the
    reference side (the reference gram set is aggregated once,
    however many times larger the reference corpus is) — then ONE
    equi-join on the gram key counts matches, and the doc-grain
    ratio is exact-integer division (deterministic double, no
    rounding seam). Docs with fewer than ``n`` tokens have no grams:
    ``n_grams = 0`` with NULL novelty (nothing to be novel — 0.0
    would alias "all seen before").

    Output: (doc_id, n_grams, n_novel, novelty).
    """
    # STAGE the token array before shingling: word_shingles' slice
    # lambda references its input once PER GRAM, and Catalyst does not
    # CSE non-cheap subtrees — an un-staged tokens_expr re-ran the
    # whole regex pipeline per shingle index (measured 15s -> ~2s at
    # sf0.1). _spread keeps a single-split corpus parallel through
    # the explode.
    grams = (
        _spread(documents)
        .select("doc_id", tokens_expr("text").alias("_toks"))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(word_shingles(F.col("_toks"), n))
            ).alias("gram"),
        )
    )
    ref_grams = (
        _spread(reference)
        .select(tokens_expr("text").alias("_toks"))
        .select(
            F.explode(
                F.array_distinct(word_shingles(F.col("_toks"), n))
            ).alias("gram")
        )
        .distinct()
    )
    matched = grams.join(
        ref_grams.withColumn("_seen", F.lit(1)), "gram", "left"
    )
    per_doc = matched.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.when(F.col("_seen").isNull(), 1).otherwise(0)).alias(
            "n_novel"
        ),
    )
    # left join back so gram-less docs keep a row (the caller's
    # too-short policy stays the caller's, not a silent drop)
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
            F.when(
                F.col("n_grams") > 0,
                F.col("n_novel").cast("double")
                / F.col("n_grams").cast("double"),
            ).alias("novelty"),
        )
    )


def curriculum_order(documents: DataFrame) -> DataFrame:
    """Deterministic curriculum position for every document:
    quality-descending WITHIN each source, sources interleaved
    round-robin — the standard "best of every source first, no
    source starves the head of training" ordering, computed without
    any global sort over the raw corpus.

    Position algebra: rank docs per source by (quality desc, doc_id)
    — a source-partitioned window — then compute the GLOBAL position
    arithmetically instead of sorting the corpus: for a doc at rank
    ``r`` in source ``s``,

        pos = Σ_{s'} min(r−1, c_{s'})                (earlier rounds)
            + |{s' < s : c_{s'} ≥ r}| + 1            (this round)

    where ``c_{s'}`` are the per-source doc counts — a
    sources-bounded frame collected once (KB-sized, same contract as
    the PCA/DSIR models) and folded per row as a literal array. No
    global window, no single-task sort: at 100 TB the only serial
    artifact is the #sources-row count vector. The quality signal is
    ``quality_score`` (exact-integer-ratio determinism carries over;
    equal scores tie-break on doc_id, so the curriculum is
    engine-reproducible). Output: (doc_id, source, quality,
    source_rank, curriculum_pos).
    """
    from .textstats import quality_score

    # NULL source buckets under '' (sorts before every named source
    # in both the interleave tie-break and the counts fold) — the
    # raw NULL would poison the literal-array comparisons with
    # three-valued logic AND crash the driver-side sort on
    # (None < str); applied ONCE here so window, counts and fold all
    # see the same bucketing
    scored = documents.select(
        "doc_id", F.coalesce(F.col("source"), F.lit("")).alias("source")
    ).join(quality_score(documents).select("doc_id", "quality"), "doc_id")
    per_src = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), "doc_id"
    )
    ranked = scored.withColumn(
        "source_rank", F.row_number().over(per_src).cast("bigint")
    )
    # sources are a bounded dimension (a corpus has tens of sources,
    # not millions) — the counts collect is the documented KB-model
    # exception to the no-collect rule
    counts = sorted(
        (r["source"], r["c"])
        for r in scored.groupBy("source")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    if not counts:
        # empty corpus: a zero-element F.array() types as VOID and
        # breaks the fold's struct access — the curriculum of nothing
        # is the (correctly-typed) empty frame
        return ranked.select(
            "doc_id",
            "source",
            "quality",
            "source_rank",
            F.lit(0).cast("bigint").alias("curriculum_pos"),
        )
    cnt_arr = F.array(
        *[
            F.struct(
                F.lit(s).alias("s"), F.lit(int(c)).cast("bigint").alias("c")
            )
            for s, c in counts
        ]
    )
    r = F.col("source_rank")
    zero = F.lit(0).cast("bigint")
    earlier_rounds = F.aggregate(
        cnt_arr, zero, lambda acc, e: acc + F.least(r - 1, e["c"])
    )
    this_round = F.aggregate(
        cnt_arr,
        zero,
        lambda acc, e: acc
        + F.when(
            (e["c"] >= r) & (e["s"] < F.col("source")), F.lit(1).cast("bigint")
        ).otherwise(zero),
    )
    return ranked.select(
        "doc_id",
        "source",
        "quality",
        "source_rank",
        (earlier_rounds + this_round + F.lit(1).cast("bigint")).alias(
            "curriculum_pos"
        ),
    )


def bpe_merge_candidates(documents: DataFrame, k: int = 50) -> DataFrame:
    """Top-k adjacent-character-pair counts over the corpus — the
    candidate table for the FIRST byte-pair-encoding merge (Sennrich
    et al. 2016): the pair a tokenizer trainer would merge next, with
    occurrence counts.

    Scale shape is the standard BPE trick: pair counting runs over
    the AGGREGATED (token, count) vocabulary, never the raw corpus —
    a 100 TB corpus explodes once to token counts (map-side
    combinable), then every token contributes its within-token
    adjacent pairs (overlapping, the BPE definition: ``aaa`` yields
    ``(a,a)`` twice) weighted by its corpus count. The pair frame is
    bounded by vocabulary size × token length, not corpus size. The
    final rank is a TakeOrdered cut (orderBy + limit over the
    aggregated pair counts) with a window only over the ≤k survivors
    — the hot_keys pattern. Ties break (count desc, left, right).

    Output: (left, right, n_occurrences, pair_rank).
    """
    vocab = (
        documents.select(F.explode(tokens_expr("text")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tok_count"))
    )
    # within-token adjacent pairs: substring windows over the token
    # string; sequence() DESCENDS when stop < start, so short tokens
    # need the explicit empty-array guard (the word_shingles idiom)
    n_pairs = F.length("token") - 1
    idx = F.when(n_pairs >= 1, F.sequence(F.lit(1), n_pairs)).otherwise(
        F.array().cast("array<int>")
    )
    pairs = vocab.select(
        "tok_count",
        F.explode(
            F.transform(idx, lambda i: F.col("token").substr(i, F.lit(2)))
        ).alias("pair"),
    )
    agg = pairs.groupBy("pair").agg(
        F.sum("tok_count").alias("n_occurrences")
    )
    top = agg.orderBy(
        F.col("n_occurrences").desc(), F.col("pair")
    ).limit(k)
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("pair"))
    return top.select(
        F.substring("pair", 1, 1).alias("left"),
        F.substring("pair", 2, 1).alias("right"),
        "n_occurrences",
        F.row_number().over(w).cast("int").alias("pair_rank"),
    )


def skipgram_pairs(
    documents: DataFrame, window: int = 2, k: int = 50
) -> DataFrame:
    """Top-k skip-gram co-occurrence pairs (Mikolov et al. 2013):
    for every token, its FORWARD neighbors within ``window``
    positions — the (center, context) pair counts a word2vec-style
    embedding trainer consumes (symmetric-window counts are exactly
    these with the roles swapped, so forward-only counting loses
    nothing and halves the pair volume).

    Scale shape: the pair emission is a per-row higher-order flatten
    over the STAGED token array (bounded fan-out: ``window`` pairs
    per token, one codegen'd scan — never a positional self-join,
    which would shuffle the corpus once per window offset), then one
    map-side-combinable count agg and a TakeOrdered cut with the rank
    window over the ≤k survivors (the hot_keys pattern). Pair keys
    are '<center> <context>' strings — tokens are space-free by the
    norm contract, so the separator is unambiguous. Ties break
    (count desc, center, context).

    Output: (center, context, n_pairs, pair_rank).
    """
    staged = _spread(documents).select(
        tokens_expr("text").alias("_toks")
    )
    n = F.size("_toks")
    centers = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    pair_lists = F.transform(
        centers,
        lambda i: F.transform(
            F.sequence(
                F.lit(1), F.least(F.lit(window), n - i)
            ),
            lambda j: F.concat_ws(
                " ",
                F.element_at(F.col("_toks"), i),
                F.element_at(F.col("_toks"), i + j),
            ),
        ),
    )
    pairs = staged.select(
        F.explode(F.flatten(pair_lists)).alias("pair")
    ).filter(~F.col("pair").rlike("^ | $|^$"))
    agg = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n_pairs"))
    top = agg.orderBy(F.col("n_pairs").desc(), F.col("pair")).limit(k)
    w = Window.orderBy(F.col("n_pairs").desc(), F.col("pair"))
    return top.select(
        F.substring_index("pair", " ", 1).alias("center"),
        F.substring_index("pair", " ", -1).alias("context"),
        "n_pairs",
        F.row_number().over(w).cast("int").alias("pair_rank"),
    )
