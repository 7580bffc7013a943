"""Text analysis over the ``documents`` table: token counting,
quality scoring, language ID, fingerprinting.

All pure column expressions (higher-order functions on token arrays)
— zero Python in the loop, so at 100 TB each op is a single codegen'd
scan with map-side-combinable aggregates. Each has an exact ANSI-SQL
twin for the DuckDB oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.frames import local_checkpoint
from ..functions.text import md5_hex, norm_text, token_count_expr, tokens_expr, word_shingles

#: Marker words per language for the heuristic classifier. Honest
#: n-gram/stopword language ID needs per-language marker vocabularies;
#: the classifier is the deterministic argmax over marker hit counts.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and"),
    "fr": ("le", "la", "les", "et"),
    "de": ("der", "die", "das", "und"),
    "es": ("el", "los", "las", "y"),
}


def token_count(
    documents: DataFrame, mode: str = "ws", bpe_merges=None
) -> DataFrame:
    """doc_id, n_tokens (whitespace tokens of normalized text),
    n_chars (raw length).

    ``mode="bpe"`` adds ``n_tokens_bpe`` — the EXACT token budget
    under a trained BPE merge table (``operators/bpe.bpe_train``),
    replacing the whitespace proxy where budgets must be exact.
    ``bpe_merges`` is the trained merge DataFrame; None trains an
    8-merge table from this corpus (the self-contained form)."""
    base = documents.select(
        "doc_id",
        token_count_expr("text").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    if mode == "ws":
        return base
    if mode != "bpe":
        raise ValueError(
            f"token_count: unknown mode {mode!r}; expected 'ws' or 'bpe'"
        )
    from . import bpe as _bpe

    counts = _bpe.bpe_token_count(documents, merges_df=bpe_merges)
    # left join + coalesce-0: rows with NULL doc_id must keep the 0/0
    # contract the rest of the family follows (bpe_token_count itself
    # preserves them the same way), not silently drop in bpe mode
    return base.join(
        counts.select("doc_id", "n_tokens_bpe"), "doc_id", "left"
    ).withColumn(
        "n_tokens_bpe", F.coalesce("n_tokens_bpe", F.lit(0).cast("bigint"))
    )


def quality_score(documents: DataFrame, _carry: tuple = ()) -> DataFrame:
    """Per-doc quality features + composite score in [0, ~1].

    Features mirror standard LLM-corpus quality filters: length,
    mean token length, stopword ratio, distinct-token (repetition)
    ratio, alpha-character ratio. The composite is a fixed-weight
    blend — integer-count ratios in double, fully deterministic.

    ``_carry`` names input columns passed through unchanged — the
    ``corpus_report`` one-scan fusion seam: the four doc-grain
    map-only operators chain over ONE projection instead of being
    joined as four separate corpus scans. Default () keeps the
    standalone plan byte-identical.
    """
    # Stage the normalization/tokenization ONCE as real columns: the
    # ratio expressions below each reference tokens/n_tok several
    # times, and Catalyst does not CSE non-cheap duplicated subtrees
    # (CollapseProject keeps staged projections separate instead of
    # inlining them), so an un-staged version re-ran the regex
    # pipeline + split up to ~6x per row.
    staged = documents.select(
        "doc_id",
        *_carry,
        F.length("text").cast("bigint").alias("_n_chars"),
        F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", "")).alias(
            "_alpha_chars"
        ),
        norm_text("text").alias("_norm"),
    ).select(
        "doc_id",
        *_carry,
        "_n_chars",
        "_alpha_chars",
        "_norm",
        F.split("_norm", " ").alias("_toks"),
    )
    markers = [w for ws in LANG_MARKERS.values() for w in ws]
    counted = staged.select(
        "doc_id",
        *_carry,
        "_n_chars",
        "_alpha_chars",
        "_norm",
        # NULL text counts 0 tokens, not NULL: under ANSI size(NULL)
        # is NULL, and a NULL n_tokens made filter_pipeline's
        # too_short branch (NULL < min) silently fall through to a
        # WRONG audit reason while every ratio column read 0.0
        F.when(
            F.col("_norm").isNull() | (F.length("_norm") == 0), F.lit(0)
        )
        .otherwise(F.size("_toks"))
        .cast("bigint")
        .alias("_n_tok"),
        F.size(F.filter("_toks", lambda t: t.isin(markers))).alias("_stop"),
        F.size(F.array_distinct("_toks")).alias("_n_distinct"),
    )
    n_tok = F.col("_n_tok")
    distinct_ratio = F.col("_n_distinct") / n_tok
    stop_ratio = F.col("_stop") / n_tok
    alpha_ratio = F.col("_alpha_chars") / F.col("_n_chars")
    mean_tok_len = (F.length("_norm") - (n_tok - 1)) / n_tok
    nonempty = n_tok > 0
    score = (
        F.least(n_tok / F.lit(100.0), F.lit(1.0)) * 0.25
        + distinct_ratio * 0.25
        + stop_ratio * 0.25
        + alpha_ratio * 0.25
    )
    return counted.select(
        "doc_id",
        *_carry,
        n_tok.alias("n_tokens"),
        F.when(nonempty, distinct_ratio).otherwise(0.0).alias("distinct_ratio"),
        F.when(nonempty, stop_ratio).otherwise(0.0).alias("stop_ratio"),
        F.when(F.col("_n_chars") > 0, alpha_ratio).otherwise(0.0).alias("alpha_ratio"),
        F.when(nonempty, mean_tok_len).otherwise(0.0).alias("mean_token_len"),
        F.when(nonempty, score).otherwise(0.0).alias("quality"),
    )


def lang_id(documents: DataFrame, _carry: tuple = ()) -> DataFrame:
    """Heuristic language ID: argmax of marker-word hit counts with a
    deterministic tie-break (language order en > fr > de > es, then
    'unknown' when no marker hits at all).

    Tokenization and the four hit counts are staged as columns first —
    the argmax when-chain references every count ~3x, and un-staged
    that re-tokenized the document per reference (no CSE across
    duplicated non-cheap subtrees).

    ``_carry`` passes input columns through unchanged (the
    ``corpus_report`` one-scan fusion seam; must not contain ``lang``,
    which this operator consumes and renames).
    """
    def _is_marker(words: tuple[str, ...]):
        wl = list(words)
        return lambda t: t.isin(wl)

    staged = documents.select(
        "doc_id", "lang", *_carry, tokens_expr("text").alias("_toks")
    ).select(
        "doc_id",
        "lang",
        *_carry,
        *[
            F.size(F.filter("_toks", _is_marker(words))).alias(f"_h_{lang}")
            for lang, words in LANG_MARKERS.items()
        ],
    )
    hits = {lang: F.col(f"_h_{lang}") for lang in LANG_MARKERS}
    best = F.greatest(*hits.values())
    pred = F.lit("unknown")
    # reversed so earlier languages win ties via later .when overriding
    for lang in reversed(list(LANG_MARKERS)):
        pred = F.when(hits[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("unknown")).otherwise(pred)
    return staged.select(
        "doc_id",
        *_carry,
        F.col("lang").alias("lang_declared"),
        pred.alias("lang_pred"),
    )


def doc_fingerprint(documents: DataFrame, _carry: tuple = ()) -> DataFrame:
    """Content fingerprint: md5 of the normal form + length bucket —
    the join key for exact dedup and incremental dedup at scale.
    ``_carry`` passes input columns through unchanged (the
    ``corpus_report`` one-scan fusion seam)."""
    return documents.select(
        "doc_id",
        *_carry,
        md5_hex(norm_text("text")).alias("fingerprint"),
        (F.floor(F.length("text") / 100)).cast("bigint").alias("len_bucket"),
    )


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition filters: per-doc duplicate-n-gram
    signals used to drop template/spam pages from training corpora
    (Rae et al. 2021 §A1.1 repetition heuristics — public paper).

    Signals:
    - ``top_unigram_frac`` — share of tokens taken by the most
      frequent token,
    - ``top_bigram_frac`` — share of bigram occurrences taken by the
      most frequent bigram,
    - ``dup_trigram_frac`` — fraction of trigram occurrences that are
      repeats of an earlier trigram (1 − distinct/total).

    Scale shape: ONE text scan. The three gram streams are emitted as
    a single tagged explode (``(gram_size, gram)`` structs from
    materialized token/shingle arrays — one pass over the column,
    where three separate explodes would re-scan 100 TB of text three
    times), then a two-level aggregate keyed on (doc_id, n, gram) —
    high-cardinality, skew-free, map-side combinable. The shuffle
    carries one row per *distinct* gram per doc, not per occurrence,
    and the doc-grain signals fall out of ONE conditional aggregate,
    no joins between gram sizes. (A per-row HOF formulation would be
    O(len²) per doc and die on long docs.)
    """
    def _tag(arr, n):
        return F.transform(
            arr, lambda g: F.struct(F.lit(n).alias("n"), g.alias("g"))
        )

    from .dedup import _spread

    # A small corpus often arrives as ONE parquet split; the tokenize+
    # shingle explode would then run single-threaded (measured: the
    # whole 2.4s at sf0.1 was one core). No-op at real scale.
    staged = _spread(documents).select("doc_id", tokens_expr("text").alias("_toks"))
    grams = staged.select(
        "doc_id",
        F.explode(
            F.concat(
                _tag(F.filter("_toks", lambda t: t != ""), 1),
                _tag(word_shingles(F.col("_toks"), 2), 2),
                _tag(word_shingles(F.col("_toks"), 3), 3),
            )
        ).alias("t"),
    ).select("doc_id", F.col("t.n").alias("n"), F.col("t.g").alias("g"))
    counts = grams.groupBy("doc_id", "n", "g").agg(F.count(F.lit(1)).alias("c"))
    n = F.col("n")
    per_doc = counts.groupBy("doc_id").agg(
        F.sum(F.when(n == 1, F.col("c"))).alias("n_tokens"),
        F.max(F.when(n == 1, F.col("c"))).alias("top_uni"),
        F.sum(F.when(n == 2, F.col("c"))).alias("n_bi"),
        F.max(F.when(n == 2, F.col("c"))).alias("top_bi"),
        F.sum(F.when(n == 3, F.col("c"))).alias("n_tri"),
        F.sum(F.when(n == 3, F.lit(1))).alias("distinct_tri"),
    )
    out = documents.select("doc_id").join(per_doc, "doc_id", "left")
    return out.select(
        "doc_id",
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint").alias("n_tokens"),
        F.coalesce(
            F.col("top_uni").cast("double") / F.col("n_tokens"), F.lit(0.0)
        ).alias("top_unigram_frac"),
        F.coalesce(
            F.col("top_bi").cast("double") / F.col("n_bi"), F.lit(0.0)
        ).alias("top_bigram_frac"),
        F.coalesce(
            (F.col("n_tri") - F.col("distinct_tri")).cast("double") / F.col("n_tri"),
            F.lit(0.0),
        ).alias("dup_trigram_frac"),
    )


#: PII patterns scrubbed from training text. Deliberately simple,
#: deterministic regexes (email, 16-digit card runs, international-ish
#: phone) — portable to any regex engine for oracle parity. ORDER
#: MATTERS: cards must scrub before phones (a card digit-run also
#: matches the looser phone pattern).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("card", r"\b[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}\b", "<CARD>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    # explicit [ \t] inside the run, NOT \s: Java's \s matches \x0B
    # where the RE2 oracle's does not (the extract_links rule), and a
    # newline-crossing \s let one "phone" swallow unrelated digit runs
    # on adjacent lines — a phone number never spans lines
    ("phone", r"\+?[0-9][0-9()\- \t]{7,}[0-9]", "<PHONE>"),
)


def pii_scrub(documents: DataFrame) -> DataFrame:
    """Redact PII spans from document text (training-data hygiene).

    Output: doc_id, scrubbed text, and per-pattern match counts (the
    audit trail a removal pipeline needs). Each count is taken on the
    text with all EARLIER patterns already scrubbed, so it reflects
    exactly the spans that pattern replaced. Chained
    ``regexp_replace``/``regexp_count`` stays a single codegen'd scan
    — no Python, no shuffle.
    """
    stage = F.col("text")
    counts = []
    for name, pattern, token in PII_PATTERNS:
        counts.append(F.regexp_count(stage, F.lit(pattern)).alias(f"n_{name}"))
        stage = F.regexp_replace(stage, pattern, token)
    return documents.select("doc_id", stage.alias("text_scrubbed"), *counts)


#: Gopher's stopword rule vocabulary (Rae et al. 2021 §A1.1 — public
#: paper): a doc must contain at least two DISTINCT words of this set.
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_rules(
    documents: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stop_hits: int = 2,
    _carry: tuple = (),
) -> DataFrame:
    """Gopher document-level quality rules (Rae et al. 2021
    arXiv:2112.11446 §A1.1 — public paper) over the RAW text: the
    rule set ``quality_score``/``repetition_stats`` do not cover.

    Per-doc signals + rule verdicts:
    - ``n_words`` in [min_words, max_words] (raw whitespace words),
    - ``mean_word_len`` in [3, 10],
    - ``symbol_ratio`` — (# '#' chars + '…'/'...' runs) / words ≤ 0.1,
    - ``bullet_ratio`` / ``ellipsis_ratio`` — fraction of lines
      starting with a bullet (≤0.9) / ending in an ellipsis (≤0.3),
    - ``alpha_word_ratio`` — words containing ≥1 alphabetic char ≥0.8,
    - ``stop_hits`` — distinct GOPHER_STOPWORDS present ≥2.

    ``gopher_pass`` ANDs all seven. Single codegen'd scan, zero
    shuffles, zero Python: every signal is integer counting over
    split/filter/transform arrays, each ratio ONE int/int division —
    engine-exact against the DuckDB twin at any partitioning.

    ``_carry`` passes input columns through unchanged (the
    ``corpus_report`` one-scan fusion seam; must not contain
    ``text`` — this operator stages a CRLF-normalized text column
    under that name).
    """
    if "text" in _carry:
        raise ValueError(
            "gopher_rules: _carry cannot pass 'text' through — the "
            "operator stages a CRLF-normalized column under that name"
        )
    stops = list(GOPHER_STOPWORDS)
    # CRLF-normalize FIRST: Java's $ matches before a trailing \r
    # while the RE2 oracle's does not (live-verified), and a bare \r
    # keeps blank lines "nonempty" past trim — both would skew the
    # bullet/ellipsis ratios on CRLF documents. Words split on the
    # EXPLICIT class, not \s+: Java \s matches \x0B, RE2 \s does not
    # (the extract_links rule).
    arrays = documents.select(
        "doc_id",
        *_carry,
        F.regexp_replace(F.col("text"), r"\r\n?", "\n").alias("text"),
    ).select(
        "doc_id",
        *_carry,
        "text",
        F.filter(
            F.split(F.col("text"), "[ \t\n\f\r]+"), lambda w: w != ""
        ).alias("_words"),
        F.filter(
            F.transform(F.split(F.col("text"), "\n"), F.trim),
            lambda l: l != "",
        ).alias("_lines"),
    )
    words, lines = F.col("_words"), F.col("_lines")
    staged = arrays.select(
        "doc_id",
        *_carry,
        F.size(words).cast("bigint").alias("n_words"),
        F.aggregate(
            F.transform(words, F.length), F.lit(0), lambda a, x: a + x
        ).cast("bigint").alias("_word_chars"),
        (
            F.length(F.col("text"))
            - F.length(F.regexp_replace(F.col("text"), "#", ""))
            + F.regexp_count(F.col("text"), F.lit(r"\.\.\.|…"))
        ).cast("bigint").alias("_symbols"),
        F.size(lines).cast("bigint").alias("_n_lines"),
        F.size(
            F.filter(lines, lambda l: l.rlike(r"^[-*•]"))
        ).cast("bigint").alias("_bullet_lines"),
        F.size(
            F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)$"))
        ).cast("bigint").alias("_ellipsis_lines"),
        F.size(
            F.filter(words, lambda w: w.rlike("[A-Za-z]"))
        ).cast("bigint").alias("_alpha_words"),
        F.size(
            F.array_distinct(
                F.filter(F.transform(words, F.lower), lambda w: w.isin(stops))
            )
        ).cast("bigint").alias("stop_hits"),
    )
    n_words = F.col("n_words")
    nonempty = n_words > 0
    has_lines = F.col("_n_lines") > 0
    mean_word_len = F.when(
        nonempty, F.col("_word_chars") / n_words
    ).otherwise(0.0)
    symbol_ratio = F.when(
        nonempty, F.col("_symbols") / n_words
    ).otherwise(0.0)
    bullet_ratio = F.when(
        has_lines, F.col("_bullet_lines") / F.col("_n_lines")
    ).otherwise(0.0)
    ellipsis_ratio = F.when(
        has_lines, F.col("_ellipsis_lines") / F.col("_n_lines")
    ).otherwise(0.0)
    alpha_ratio = F.when(
        nonempty, F.col("_alpha_words") / n_words
    ).otherwise(0.0)
    staged = staged.select(
        "doc_id",
        *_carry,
        "n_words",
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_ratio.alias("bullet_ratio"),
        ellipsis_ratio.alias("ellipsis_ratio"),
        alpha_ratio.alias("alpha_word_ratio"),
        "stop_hits",
    )
    rules = {
        "word_count_ok": (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words),
        "word_len_ok": (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len),
        "symbol_ok": F.col("symbol_ratio") <= max_symbol_ratio,
        "bullet_ok": F.col("bullet_ratio") <= max_bullet_ratio,
        "ellipsis_ok": F.col("ellipsis_ratio") <= max_ellipsis_ratio,
        "alpha_ok": F.col("alpha_word_ratio") >= min_alpha_word_ratio,
        "stopword_ok": F.col("stop_hits") >= min_stop_hits,
    }
    gopher_pass = F.lit(True)
    for expr in rules.values():
        gopher_pass = gopher_pass & expr
    return staged.select(
        "*",
        *[expr.alias(name) for name, expr in rules.items()],
        gopher_pass.alias("gopher_pass"),
    )


def filter_pipeline(
    documents: DataFrame,
    min_tokens: int = 20,
    max_top_unigram: float = 0.15,
    max_dup_trigram: float = 0.05,
    min_stop_ratio: float = 0.02,
    min_quality: float = 0.42,
) -> DataFrame:
    """Composed C4/Gopher-style cleaning gate: every doc gets a keep
    verdict and the FIRST rule it failed (deterministic rule order —
    the audit column a corpus-curation run reports).

    Rules, in order: too_short → repetitive_unigram →
    repetitive_trigram → low_stopword → low_quality. Thresholds
    compare doubles both engines derive from identical integer-count
    ratios, so the cut is engine-exact.

    Scale shape: ``quality_score`` is a pure map over one scan;
    ``repetition_stats`` is the one-scan tagged-gram aggregate; the
    composition adds a single doc_id-keyed join of two doc-grain
    frames — nothing new materializes, and Catalyst plans the whole
    gate as one job. (Examined and REJECTED r13: fusing q onto the
    gram join via a repetition_stats ``_base`` seam — one fewer
    doc_id scan + join — measured consistently ~0.3 s SLOWER in
    interleaved A/B at sf0.1 (1.74 vs 2.10 s median), and the saved
    scan is a pruned doc_id-only column read that stays cheap at any
    scale; the joined shape stays.)
    """
    q = quality_score(documents).select(
        "doc_id", "n_tokens", "stop_ratio", "quality"
    )
    r = repetition_stats(documents).select(
        "doc_id", "top_unigram_frac", "dup_trigram_frac"
    )
    j = q.join(r, "doc_id")
    reason = (
        F.when(F.col("n_tokens") < min_tokens, F.lit("too_short"))
        .when(F.col("top_unigram_frac") > max_top_unigram, F.lit("repetitive_unigram"))
        .when(F.col("dup_trigram_frac") > max_dup_trigram, F.lit("repetitive_trigram"))
        .when(F.col("stop_ratio") < min_stop_ratio, F.lit("low_stopword"))
        .when(F.col("quality") < min_quality, F.lit("low_quality"))
        .otherwise(F.lit("kept"))
    )
    return j.select(
        "doc_id",
        "n_tokens",
        "top_unigram_frac",
        "dup_trigram_frac",
        "stop_ratio",
        "quality",
        reason.alias("reason"),
        (reason == "kept").alias("keep"),
    )


def lang_confusion(documents: DataFrame) -> DataFrame:
    """Declared-vs-predicted language confusion matrix — the
    lang-ID observability report a corpus run publishes: each cell
    counts docs whose metadata says ``lang_declared`` but whose text
    classifies as ``lang_pred``, with the cell's share of its
    declared-language row.

    Composes ``lang_id`` (one scan) with a cell-grain aggregate; the
    row totals come from a window over the already-aggregated cells
    (|langs|² rows), not a second corpus scan. The share is one
    int/int division at the boundary — engine-exact.
    """
    from pyspark.sql import Window

    cells = (
        lang_id(documents)
        .groupBy("lang_declared", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    row_total = F.sum("n_docs").over(
        Window.partitionBy("lang_declared")
    )
    return cells.select(
        "lang_declared",
        "lang_pred",
        "n_docs",
        row_total.alias("declared_total"),
        F.round(F.col("n_docs") / row_total, 6).alias("share"),
    )


def lang_id_nb(documents: DataFrame, top_v: int = 4096) -> DataFrame:
    """Character-trigram naive-Bayes language ID — the classic
    textcat construction (Cavnar & Trenkle 1994 n-gram categorization
    — public paper), trained ON THE CORPUS'S OWN declared labels and
    applied back to every document. Where ``lang_id`` is a fixed
    marker-word heuristic, this learns per-language trigram
    likelihoods, so it generalizes to text that contains no marker
    words at all.

    Model (all distributed, no driver state):
    - trigram explode of the normalized text → (lang, gram) counts,
    - vocabulary = top-``top_v`` grams by corpus count (rank-cut so
      the model is KB-sized at any corpus scale, broadcastable),
    - add-one smoothed per-lang log-likelihoods
      ``ln((c+1)/(T_l+V))``; grams outside a language's training
      rows fall back to that language's smoothing floor.

    Scoring: one (doc, gram) tf frame joined to the broadcast
    gram×lang likelihood matrix; per-doc-per-lang score =
    Σ tf·logp + (oov occurrences)·floor. The argmax compares scores
    ROUNDED to 6 dp with a declared language order tie-break, so the
    prediction is engine-exact (the same rounding contract as DSIR's
    selection). Two corpus scans (train + score) — at 100 TB, train
    on a sample and persist the matrix; scoring is unchanged.
    """
    from pyspark.sql import Window

    from .dedup import _spread

    # _spread: small-corpus parquet arrives as ONE split; the trigram
    # explode would run single-threaded without it (no-op at scale)
    staged = _spread(documents).select(
        "doc_id", "lang", norm_text("text").alias("_n")
    )
    occ = staged.select(
        "doc_id",
        "lang",
        F.explode(
            F.when(
                F.length("_n") >= 3,
                F.transform(
                    F.sequence(F.lit(1), F.length("_n") - 2),
                    lambda i: F.col("_n").substr(i, F.lit(3)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram"),
    )
    # --- train: vocabulary cut + per-(lang, gram) add-one logp ---
    # ONE trigram explode feeds both train and score: the (doc, gram)
    # tf aggregate is computed first and the (lang, gram) training
    # counts derive from it via a doc→lang join — re-exploding the
    # corpus for training doubled the dominant cost (4.2 s → 2.6 s
    # at sf0.1).
    # The tf frame has FIVE downstream consumers (training counts,
    # vocab, totals, scoring, doc sizes) and Catalyst inlines the
    # whole explode+agg subtree into each — a lazy localCheckpoint
    # materializes it once per execution instead (same device as
    # dedup_clusters' per-round checkpoints).
    tf = (
        occ.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(local_checkpoint, eager=False)
    )
    # lg itself has THREE consumers (vocab, totals, matrix) — without
    # a checkpoint each re-runs the corpus-sized tf⋈lang join + agg.
    # TRAIN ON LABELED DOCS ONLY: a NULL declared lang would otherwise
    # become a phantom class — it enters totals (floor only, since the
    # matrix join drops NULL keys) and the doc×lang grid, where its
    # all-OOV floor score can beat every real language for OOV-heavy
    # docs and the NULLS-FIRST tie-break prefers it. Unlabeled docs
    # are still SCORED (tf covers the whole corpus), just never
    # trained on.
    lg = (
        tf.join(
            staged.select("doc_id", "lang").filter(
                F.col("lang").isNotNull()
            ),
            "doc_id",
        )
        .groupBy("lang", "gram")
        .agg(F.sum("tf").alias("c"))
        .transform(local_checkpoint, eager=False)
    )
    # distributed TakeOrdered vocab cut (trigram vocabulary is
    # corpus-sized — a rank window over it would be a one-task sort)
    vocab = (
        lg.groupBy("gram")
        .agg(F.sum("c").alias("vc"))
        .orderBy(F.col("vc").desc(), "gram")
        .limit(top_v)
        .select("gram")
        .transform(local_checkpoint, eager=False)  # 3 consumers, ≤top_v rows
    )
    v_size = vocab.agg(F.count(F.lit(1)).alias("v_size"))
    totals = (
        lg.join(vocab, "gram")
        .groupBy("lang")
        .agg(F.sum("c").alias("t_l"))
        .join(F.broadcast(v_size))
        .select(
            "lang",
            "t_l",
            "v_size",
            F.log((F.lit(1.0)) / (F.col("t_l") + F.col("v_size"))).alias(
                "floor_logp"
            ),
        )
        # two consumers (matrix + the doc x lang grid) of a
        # |langs|-row aggregate — pin or the vocab join + per-lang
        # aggregate re-run per consumer (measured flat locally at
        # sf0.1, r9; the halved vocab join is the SF payoff)
        .transform(local_checkpoint, eager=False)
    )
    matrix = (
        lg.join(vocab, "gram")
        .join(F.broadcast(totals.select("lang", "t_l", "v_size")), "lang")
        .select(
            "lang",
            "gram",
            F.log(
                (F.col("c") + 1.0) / (F.col("t_l") + F.col("v_size"))
            ).alias("logp"),
        )
    )
    # --- score: the same per-doc tf joined to the broadcast matrix ---
    doc_n = tf.groupBy("doc_id").agg(F.sum("tf").alias("n_grams"))
    in_vocab = (
        tf.join(F.broadcast(matrix), "gram")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.col("tf") * F.col("logp")).alias("_in_bits"),
            F.sum("tf").alias("_in_occ"),
        )
    )
    # every doc scores against EVERY language: start from the
    # doc × lang grid (langs is a tiny broadcast dim) so a doc whose
    # grams all miss a language still gets that language's floor mass
    grid = doc_n.join(F.broadcast(totals.select("lang", "floor_logp")))
    scored = grid.join(in_vocab, ["doc_id", "lang"], "left").select(
        "doc_id",
        "lang",
        F.round(
            F.coalesce(F.col("_in_bits"), F.lit(0.0))
            + (
                F.col("n_grams") - F.coalesce(F.col("_in_occ"), F.lit(0))
            )
            * F.col("floor_logp"),
            6,
        ).alias("score"),
    )
    # deterministic argmax: max rounded score, ties to first lang
    # alphabetically (scores rounded to 6 dp on both engines)
    wd = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("lang")
    )
    best = (
        scored.withColumn("_r", F.row_number().over(wd))
        .filter(F.col("_r") == 1)
        .select("doc_id", F.col("lang").alias("lang_pred"), "score")
    )
    return (
        documents.select("doc_id", F.col("lang").alias("lang_declared"))
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            "lang_declared",
            F.coalesce("lang_pred", F.lit("unknown")).alias("lang_pred"),
            F.coalesce("score", F.lit(0.0)).alias("score"),
        )
    )


def _canon_whitespace(c):
    """Shared whitespace canonicalization tail (normalize_text AND
    strip_markup — one place to fix, mirrored once per oracle):
    space/tab runs -> one space, spaces trimmed around newlines, 3+
    newlines -> paragraph break, leading/trailing whitespace removed.
    """
    c = F.regexp_replace(c, "[ \\t]+", " ")
    c = F.regexp_replace(c, " ?\\n ?", "\n")
    c = F.regexp_replace(c, "\\n{3,}", "\n\n")
    return F.regexp_replace(c, "^[\\n ]+|[\\n ]+$", "")


def normalize_text(documents: DataFrame) -> DataFrame:
    """Unicode + whitespace canonicalization of raw document text —
    the first stage every web-crawl curation pipeline runs before any
    hashing, tokenizing, or quality scoring sees the bytes:

    1. Unicode NFC composition (``café`` as ``e`` + combining acute
       becomes the single codepoint — without it the SAME rendered
       string hashes to different dedup keys),
    2. line endings unified (CRLF and lone CR become LF — the LF and
       CRLF variants of the same rendered document must hash alike),
    3. control characters stripped (C0 minus tab/newline/CR — CR was
       already consumed by step 2 — plus DEL),
    4. runs of spaces/tabs collapsed to one space,
    5. spaces trimmed around newlines,
    6. runs of 3+ newlines collapsed to a paragraph break (2),
    7. leading/trailing whitespace removed.

    NFC is the one step Spark has no built-in for, so it runs as an
    Arrow-batched pandas UDF (``Series.str.normalize`` — the pandas
    C-dispatch path, null-safe); every other step is a JVM
    ``regexp_replace`` stacked on top, and the DuckDB oracle mirrors
    the exact same rule order with ``nfc_normalize``
    + ``regexp_replace(..., 'g')``.

    Output: (doc_id, text_norm, changed, n_chars_norm). NULL text
    passes through as NULL with ``changed = false`` — absent content
    is not "changed", and downstream NULL handling stays the caller's
    policy. Unlike ``norm_text`` (the lossy lowercase-alnum dedup
    key), this is a LOSSLESS canonical form meant to replace the
    stored text.
    """
    @F.pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        return s.str.normalize("NFC")

    t = _nfc(F.col("text"))
    t = F.regexp_replace(t, "\\r\\n?", "\n")
    t = F.regexp_replace(t, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    t = _canon_whitespace(t)
    out = documents.select(
        "doc_id",
        F.when(F.col("text").isNull(), F.lit(None).cast("string"))
        .otherwise(t)
        .alias("text_norm"),
        "text",
    )
    return out.select(
        "doc_id",
        "text_norm",
        (~F.col("text_norm").eqNullSafe(F.col("text"))).alias("changed"),
        F.length("text_norm").cast("long").alias("n_chars_norm"),
    )


#: The six dominant HTML entities, decode order SIGNIFICANT:
#: ``&amp;`` must be LAST or ``&amp;lt;`` would double-decode. ONE
#: table for both strip_markup's text and extract_links' URLs — the
#: two must stay in sync or extracted links stop joining against
#: extracted text domains.
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
)


def _decode_entities(col):
    for ent, ch in HTML_ENTITIES:
        col = F.replace(col, F.lit(ent), F.lit(ch))
    return col


def strip_markup(documents: DataFrame) -> DataFrame:
    """HTML/markup → text extraction — the stage every web-crawl
    pipeline runs before quality scoring or dedup ever sees a
    document (the regex tier of trafilatura/jusText-style extraction;
    DOM-aware readability scoring is a deployment concern, this is
    the deterministic, oracle-checkable core):

    1. ``<script>``/``<style>`` elements dropped WITH their contents
       (two separate patterns — RE2, which the DuckDB oracle uses,
       has no backreferences, so ``</\\1>`` is not portable),
    2. HTML comments dropped,
    3. block-boundary tags (``br``, ``p``, ``div``, ``li``, ``tr``,
       ``table``, ``ul``, ``ol``, ``h1``-``h6``) become newlines so
       document structure survives as line structure (feeding
       ``common_lines``/``strip_common_lines`` downstream),
    4. every remaining tag is removed,
    5. the six dominant entities decode (``&nbsp; &lt; &gt; &quot;
       &#39; &amp;`` — ``&amp;`` LAST, or ``&amp;lt;`` would
       double-decode),
    6. whitespace canonicalizes via the shared ``_canon_whitespace``
       tail (space/tab runs, newline trims, paragraph collapse,
       edges).

    Source whitespace — including CR and source-wrap newlines — is
    collapsed to single spaces BEFORE block tags become newlines
    (step between 2 and 3): in HTML a line break in the source is
    rendering-inert, so output line structure must reflect BLOCK
    structure, not crawler wrapping, and no ``\r`` can survive to
    poison the line-dedup family downstream.

    All JVM ``regexp_replace``/``replace`` stages in one codegen'd
    scan — zero Python; the DuckDB twin mirrors the exact rule order.
    Output: (doc_id, text_clean, n_tags) with ``n_tags`` counted on
    the RAW text; NULL text passes through as NULL with NULL n_tags.
    """
    t = F.col("text")
    # explicit whitespace class, NOT \s: Java \s matches \x0B but
    # RE2's does not, so a '</script\x0B>' closer would be paired on
    # Spark while DuckDB's backstop deleted to end-of-document — the
    # same divergence every other oracle-mirrored pattern in this
    # file already fixed (with the explicit class, both engines
    # consistently treat that closer as unclosed)
    t = F.regexp_replace(t, "(?is)<script\\b.*?</script[ \\t\\n\\f\\r]*>", "")
    t = F.regexp_replace(t, "(?is)<style\\b.*?</style[ \\t\\n\\f\\r]*>", "")
    # UNCLOSED script/style backstop: a crawl-truncated page whose
    # closing tag never arrives would otherwise leak its entire
    # JS/CSS body into text_clean (the paired pattern above requires
    # the closer; the generic tag pass below strips only the opening
    # tag). Anything still opening a script/style here has no closer
    # by construction — drop through end-of-document.
    t = F.regexp_replace(t, "(?is)<(?:script|style)\\b[^>]*>.*$", "")
    t = F.regexp_replace(t, "(?s)<!--.*?-->", "")
    # HTML source whitespace — including source-wrap newlines and CR —
    # is rendering-inert inter-word space; collapsing it BEFORE block
    # tags become newlines means output line structure reflects BLOCK
    # structure, not how the crawler happened to wrap the source (and
    # CR can never leak into text_clean to poison line-level dedup).
    # Consequence: do not run strip_markup on already-plain text whose
    # newlines are meaningful — that is normalize_text's job.
    t = F.regexp_replace(t, "[ \\t\\r\\n]+", " ")
    t = F.regexp_replace(
        t,
        "(?i)<(br|/?p|/?div|/?li|/?tr|/?table|/?ul|/?ol|/?h[1-6])\\b[^>]*>",
        "\n",
    )
    t = F.regexp_replace(t, "<[^>]*>", "")
    t = _decode_entities(t)
    t = _canon_whitespace(t)
    return documents.select(
        "doc_id",
        F.when(F.col("text").isNull(), F.lit(None).cast("string"))
        .otherwise(t)
        .alias("text_clean"),
        F.regexp_count("text", F.lit("<[^>]*>"))
        .cast("long")
        .alias("n_tags"),
    )


def extract_links(documents: DataFrame) -> DataFrame:
    r"""Outgoing links from raw HTML — the link-graph side of web
    extraction, feeding the standard URL-level curation machinery:
    domain blocklists, per-domain quotas (compose with
    ``source_quota_sample`` on ``domain``), and link-graph features.

    One row per ``href=``/``src=`` attribute value in document order:
    (doc_id, link_pos, url, domain). The attribute grammar follows
    what browsers actually accept: double-quoted, single-quoted, AND
    unquoted values (minified HTML), with quotes PAIRED — an
    apostrophe inside a double-quoted URL (Wikipedia titles) stays in
    the URL instead of truncating it. The six dominant entities
    decode in extracted URLs (``&amp;`` last), so
    ``...?x=1&amp;y=2`` joins against the real target
    ``...?x=1&y=2`` in the link graph. Whitespace in the patterns is
    the explicit class ``[ \t\n\f\r]`` — Java's ``\s`` includes
    ``\x0B`` while RE2's (the oracle engine's) does not, and the two
    sides must tokenize identically.

    ``domain`` is the lowercased host with userinfo skipped
    (``https://trusted.com@evil.com/`` is ``evil.com`` — the classic
    blocklist-bypass shape) and IPv6 hosts kept bracketed
    (``[2001:db8::1]``); relative URLs get ``''``. Scheme parsing by
    regex on both engines (DuckDB has no parse_url). Docs with no
    links emit no rows; NULL text emits none.

    One codegen'd scan + a bounded explode (fan-out = links per doc);
    the grammar is deliberately attribute-anchored — bare URLs in
    text are content, not links.

    RECALL-LEANING BY POLICY: the ``\\b(?:href|src)`` anchor also
    matches suffixed attributes (``data-src=`` — real lazy-load URLs)
    and attribute-lookalikes inside comments or script bodies
    (RE2, the oracle engine, has no lookbehind to anchor harder). A
    curation link graph prefers over-collection to silent misses;
    consumers needing browser-exact link sets should strip
    comments/scripts first (``strip_markup`` order) — parity holds
    either way since the oracle shares the pattern.
    """
    _ATTR = (
        "(?i)\\b(?:href|src)[ \\t\\n\\f\\r]*=[ \\t\\n\\f\\r]*"
        "(\"[^\"<>]*\"|'[^'<>]*'|[^\"'<>=` \\t\\n\\f\\r][^<> \\t\\n\\f\\r]*)"
    )

    def _clean(u):
        # strip PAIRED quotes when present, then decode the six
        # dominant entities (&amp; LAST — no double-decode), matching
        # strip_markup's entity policy
        unq = F.when(
            F.substring(u, 1, 1).isin('"', "'"),
            F.substring(u, F.lit(2), F.length(u) - 2),
        ).otherwise(u)
        return _decode_entities(unq)

    urls = F.transform(
        F.regexp_extract_all(F.col("text"), F.lit(_ATTR), 1), _clean
    )
    exploded = (
        documents.filter(F.col("text").isNotNull())
        .select("doc_id", F.posexplode(urls).alias("link_pos", "url"))
    )
    domain = F.lower(
        F.regexp_extract(
            F.col("url"),
            "^(?:[a-zA-Z][a-zA-Z0-9+.-]*:)?//(?:[^/?#]*@)?"
            "(\\[[^\\]]*\\]|[^/:?#]+)",
            1,
        )
    )
    return exploded.select(
        "doc_id",
        F.col("link_pos").cast("long").alias("link_pos"),
        "url",
        domain.alias("domain"),
    )


def readability(documents: DataFrame) -> DataFrame:
    """Flesch reading-ease approximation per document — the classic
    surface readability signal corpus-quality filters bucket on
    (too-easy boilerplate at one end, OCR shred at the other).

    Counts are deliberately cheap proxies that stay inside one
    codegen'd JVM scan (no NLP deps at 100 TB):

    - ``n_words``: whitespace tokens of the normalized text (the
      engine-wide ``token_count`` policy — 0 for NULL/empty),
    - ``n_sentences``: runs of terminal punctuation ``[.!?]+`` in the
      RAW text, floored at 1 whenever the doc has words (a headline
      with no period is one sentence, not a division by zero),
    - ``n_syllables``: vowel-group runs ``[aeiouy]+`` of the lowercased
      raw text — the standard one-pass syllable proxy.

    ``flesch = 206.835 − 1.015·(words/sentence) − 84.6·(syllables/word)``
    rounded to 6; NULL when the doc has no words (no prose to grade —
    a 0.0 would alias "unreadable" with "empty"). Both regexes use
    only literal character classes, identical under Java regex and
    RE2 (the dialect seam gopher_rules documents).
    """
    counted = documents.select(
        "doc_id",
        token_count_expr("text").alias("n_words"),
        F.coalesce(F.regexp_count(F.col("text"), F.lit("[.!?]+")), F.lit(0))
        .cast("bigint")
        .alias("_sent_runs"),
        F.coalesce(
            F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+")),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_syllables"),
    ).select(
        "doc_id",
        "n_words",
        F.when(F.col("n_words") > 0, F.greatest("_sent_runs", F.lit(1)))
        .otherwise(F.col("_sent_runs"))
        .alias("n_sentences"),
        "n_syllables",
    )
    words = F.col("n_words").cast("double")
    wps = words / F.col("n_sentences").cast("double")
    spw = F.col("n_syllables").cast("double") / words
    flesch = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    nonempty = F.col("n_words") > 0
    return counted.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.when(nonempty, F.round(wps, 6)).alias("words_per_sentence"),
        F.when(nonempty, F.round(spw, 6)).alias("syllables_per_word"),
        F.when(nonempty, F.round(flesch, 6)).alias("flesch"),
    )


def char_entropy(documents: DataFrame) -> DataFrame:
    """Per-document Shannon entropy of the character distribution
    (bits/char) plus the distinct-character count — the gibberish/
    boilerplate detector that catches what token ratios miss: base64
    blobs and minified JS sit far ABOVE prose entropy, repeated
    padding and template spam far BELOW it.

    Runs as ONE Arrow-batched pandas UDF (a per-char explode would
    blow every 100 TB row into ~10³ shuffle rows; here the histogram
    never leaves the executor). The fold is ``log2(n) − Σ c·log2(c)/n``
    accumulated in SORTED character order so the float summation
    order is deterministic and matches the oracle's ordered
    aggregate; libm ``log2`` is shared by both engines in-container.
    The round-6 happens JVM-side (``F.round``) — Python's ``round``
    is half-EVEN while Spark's and DuckDB's are half-up, and a
    boundary value would hash-diverge. NULL/empty text → NULL entropy
    with 0 distinct chars (no distribution to measure — 0.0 would
    alias "empty" with "single-char padding").
    """
    import collections
    import math

    @F.pandas_udf("entropy double, n_distinct_chars bigint")
    def _ent(texts: pd.Series) -> pd.DataFrame:
        ents: list[float | None] = []
        dist: list[int] = []
        for s in texts:
            if s is None or len(s) == 0:
                ents.append(None)
                dist.append(0)
                continue
            cnt = collections.Counter(s)
            n = len(s)
            tot = 0.0
            for ch in sorted(cnt):
                c = cnt[ch]
                tot += c * math.log2(c)
            ents.append(math.log2(n) - tot / n)
            dist.append(len(cnt))
        return pd.DataFrame({"entropy": ents, "n_distinct_chars": dist})

    return documents.select(
        "doc_id", _ent(F.col("text")).alias("_e")
    ).select(
        "doc_id",
        F.round(F.col("_e.entropy"), 6).alias("entropy"),
        F.col("_e.n_distinct_chars").alias("n_distinct_chars"),
    )


def link_domains(documents: DataFrame) -> DataFrame:
    """Per-domain link census over the corpus — the frame a crawl
    curator reads before writing a blocklist: which hosts dominate
    the outlink graph and how many documents cite them.

    Aggregates ``extract_links`` (grammar + entity policy documented
    there) by lowercased registrable host with the ``www.`` prefix
    folded; links whose URL has no authority (relative hrefs,
    ``mailto:`` without ``//``) are excluded — they have no domain to
    govern. Output: (domain, n_links, n_docs, link_share) with the
    share an exact-integer ratio (deterministic double).
    """
    links = extract_links(documents).filter(
        F.col("domain").isNotNull() & (F.col("domain") != "")
    )
    dom = F.regexp_replace(F.col("domain"), "^www\\.", "")
    per = links.select(dom.alias("domain"), "doc_id").groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_links"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    total = per.groupBy().agg(F.sum("n_links").alias("_tot"))
    return per.join(F.broadcast(total)).select(
        "domain",
        "n_links",
        "n_docs",
        (F.col("n_links").cast("double") / F.col("_tot").cast("double")).alias(
            "link_share"
        ),
    )


def filter_blocked_domains(
    documents: DataFrame, blocked: list[str]
) -> DataFrame:
    """Drop every document that links to a blocked domain — the
    blocklist gate a crawl pipeline runs right after link extraction
    (spam/SEO farms poison a corpus through their outlinks long
    before a quality score notices).

    A document is blocked when ANY of its links' domains equals a
    blocklist entry or is a subdomain of one (``ads.example.com``
    matches ``example.com``); matching is on the lowercased host with
    ``www.`` folded, so the blocklist is written in registrable form.
    The blocklist is a driver-side list (KB-sized in practice) turned
    into one literal predicate — no join, no shuffle; the whole gate
    is a codegen'd scan + one left-anti semi-join on doc_id. Output:
    the surviving documents, full schema, plus nothing else — the
    contract is "same table, fewer rows".
    """
    if not blocked:
        return documents
    # fold 'www.' on the BLOCKLIST too: link domains are www-folded
    # before matching, so a 'www.example.com' entry would otherwise
    # match nothing — a silent no-op blocklist line
    canon = sorted(
        {
            b2[4:] if b2.startswith("www.") else b2
            for b in blocked
            if b.strip()
            for b2 in [b.strip().lower().lstrip(".")]
        }
    )
    links = extract_links(documents).filter(
        F.col("domain").isNotNull() & (F.col("domain") != "")
    )
    dom = F.regexp_replace(F.col("domain"), "^www\\.", "")
    hit = F.lit(False)
    for b in canon:
        hit = hit | (dom == b) | dom.endswith("." + b)
    bad = links.filter(hit).select("doc_id").distinct()
    return documents.join(bad, "doc_id", "left_anti")


#: The classic UTF-8-read-as-cp1252 artifact classes. Lead chars
#: \u00c2/\u00c3 are what 2-byte UTF-8 lead bytes 0xC2/0xC3 display
#: as under cp1252; the trail class is cp1252's rendering of bytes
#: 0x80-0xBF (the euro/quote/dash punctuation block plus
#: U+00A0-U+00BF). Literal character classes only -- identical under
#: Java regex and RE2. Escapes resolve at import, so BOTH engines see
#: the same literal class text.
_MOJI_TRAIL = (
    "\u20ac\u201a\u0192\u201e\u2026\u2020\u2021\u02c6\u2030\u0160"
    "\u2039\u0152\u017d\u2018\u2019\u201c\u201d\u2022\u2013\u2014"
    "\u02dc\u2122\u0161\u203a\u0153\u017e\u0178\u00a0-\u00bf"
)
_MOJI2_RE = f"[\u00c2\u00c3][{_MOJI_TRAIL}]"
_MOJI3_RE = f"[\u00e0-\u00ef][{_MOJI_TRAIL}][{_MOJI_TRAIL}]"
_C1_RE = "[\u0080-\u009f]"


def mojibake_score(documents: DataFrame) -> DataFrame:
    """Encoding-damage census per document -- the signal a crawl
    pipeline buckets on before deciding to repair or drop: classic
    UTF-8-decoded-as-cp1252 artifacts (``caf\u00c3\u00a9``,
    ``\u00e2\u20ac\u2122``), U+FFFD replacement characters (a
    decoder already gave up upstream), and stray C1 control
    codepoints (raw 0x80-0x9F bytes that survived a latin-1 decode).
    One codegen'd scan of literal-class regex counts;
    ``mojibake_per_kchar`` is an exact-int ratio scaled by 1000,
    round-6. NULL text -> zero counts with NULL rate (absent content
    is not "clean").
    """
    two = F.coalesce(F.regexp_count(F.col("text"), F.lit(_MOJI2_RE)), F.lit(0))
    three = F.coalesce(F.regexp_count(F.col("text"), F.lit(_MOJI3_RE)), F.lit(0))
    repl = F.coalesce(
        F.regexp_count(F.col("text"), F.lit("\ufffd")), F.lit(0)
    )
    c1 = F.coalesce(F.regexp_count(F.col("text"), F.lit(_C1_RE)), F.lit(0))
    counted = documents.select(
        "doc_id",
        two.cast("bigint").alias("n_mojibake2"),
        three.cast("bigint").alias("n_mojibake3"),
        repl.cast("bigint").alias("n_replacement"),
        c1.cast("bigint").alias("n_c1_controls"),
        F.length("text").cast("bigint").alias("_n_chars"),
    )
    total = (
        F.col("n_mojibake2")
        + F.col("n_mojibake3")
        + F.col("n_replacement")
        + F.col("n_c1_controls")
    )
    return counted.select(
        "doc_id",
        "n_mojibake2",
        "n_mojibake3",
        "n_replacement",
        "n_c1_controls",
        F.when(
            F.col("_n_chars") > 0,
            F.round(
                total.cast("double") / F.col("_n_chars").cast("double") * 1000,
                6,
            ),
        ).alias("mojibake_per_kchar"),
    )


def fix_mojibake(documents: DataFrame) -> DataFrame:
    """Repair UTF-8-decoded-as-cp1252 mojibake
    (``caf\u00c3\u00a9`` -> ``caf\u00e9``) -- the ftfy-class fix
    run between extraction and dedup (the damaged and clean spellings
    of the same document must hash alike).

    The repair is the cp1252 round trip, ALL-OR-NOTHING per document:
    re-encode every char through cp1252 (falling back to latin-1 when
    a char has no cp1252 byte -- the C1 block browsers render for the
    five cp1252 holes), then strictly re-decode as UTF-8 -- and the
    rewrite is ARTIFACT-GATED: it applies only when the original text
    actually shows cp1252 artifacts (the ``mojibake_score`` classes)
    AND the rewrite strictly reduces their count. The gate is what
    makes the pass safe for ordinary accented text: an UNGATED round
    trip rewrites ANY text whose cp1252 bytes coincidentally form
    valid UTF-8, while gated, artifact-free text (``caf\\u00e9 au
    lait`` -- accented chars NOT followed by trail-class chars) is
    untouched by construction. Repeated application peels one
    encoding layer per pass (double-encoded mojibake needs two) and
    stops at clean text -- convergent, each pass a strict artifact
    reduction. The honest residual is the inherently AMBIGUOUS case:
    an accented char followed by two cp1252-trail chars (e.g.
    ``\\u00e9\\u00a7\\u00a7``) is byte-for-byte indistinguishable
    from real 3-byte mojibake, and the fixer sides with "damaged" --
    the same call every round-trip fixer makes short of a
    language-model segmenter. Runs as one Arrow-batched pandas kernel
    (pure per-row
    codec work, no JVM equivalent). Output: (doc_id, text_fixed,
    changed, n_chars_fixed); NULL text passes through NULL with
    changed = false.
    """
    import re as _re

    artifact_re = _re.compile(
        f"{_MOJI2_RE}|{_MOJI3_RE}|{_C1_RE}|�"
    )

    @F.pandas_udf("string")
    def _fix(texts: pd.Series) -> pd.Series:
        def repair(s):
            if s is None:
                return None
            n_art = len(artifact_re.findall(s))
            if n_art == 0:
                return s
            try:
                b = s.encode("cp1252", errors="strict")
            except UnicodeEncodeError:
                try:
                    b = s.encode("latin-1", errors="strict")
                except UnicodeEncodeError:
                    return s
            try:
                fixed = b.decode("utf-8", errors="strict")
            except UnicodeDecodeError:
                return s
            return fixed if len(artifact_re.findall(fixed)) < n_art else s

        return texts.map(repair)

    return documents.select(
        "doc_id",
        F.col("text").alias("_orig"),
        _fix(F.col("text")).alias("text_fixed"),
    ).select(
        "doc_id",
        "text_fixed",
        F.coalesce(F.col("text_fixed") != F.col("_orig"), F.lit(False)).alias(
            "changed"
        ),
        F.length("text_fixed").cast("bigint").alias("n_chars_fixed"),
    )


def split_sentences(documents: DataFrame) -> DataFrame:
    """Sentence segmentation: one row per sentence in document order --
    the grain chunkers, per-sentence dedup, and context-window packing
    operate on.

    Boundaries are terminal-punctuation runs ``[.!?]+`` (the same
    proxy ``readability`` counts, so the two agree on what a sentence
    is); segments are trimmed of explicit whitespace
    (``[ \\t\\n\\f\\r]`` -- never ``\\s``, the Java/RE2
    ``\\x0B`` seam) and empty segments drop. ``sent_pos`` numbers
    the KEPT sentences 0..n-1 per doc via a doc-partitioned window.
    One scan + bounded explode. Output: (doc_id, sent_pos, sentence,
    n_chars_sent).
    """
    from pyspark.sql import Window

    segs = (
        documents.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), "[.!?]+")).alias(
                "_raw_pos", "_seg"
            ),
        )
        .select(
            "doc_id",
            "_raw_pos",
            F.regexp_replace(
                F.col("_seg"), "^[ \\t\\n\\f\\r]+|[ \\t\\n\\f\\r]+$", ""
            ).alias("sentence"),
        )
        .filter(F.length("sentence") > 0)
    )
    w = Window.partitionBy("doc_id").orderBy("_raw_pos")
    return segs.select(
        "doc_id",
        (F.row_number().over(w) - 1).cast("bigint").alias("sent_pos"),
        "sentence",
        F.length("sentence").cast("bigint").alias("n_chars_sent"),
    )


#: href-value grammar of an <a> tag with its inner text — the
#: extract_links attribute grammar (quoted both ways + unquoted)
#: anchored inside an anchor element, with the label captured as the
#: text run IMMEDIATELY after the opening tag (group 2), up to the
#: first ``<``. Recall-leaning like extract_links: requiring a
#: literal ``</a>`` would SKIP every anchor whose label contains
#: nested markup (``<a ...>nested <b>bold</b></a>``) — this grammar
#: keeps them with the pre-markup prefix as the label (the regex
#: tier's standard approximation; a DOM parser is the deps-enabled
#: upgrade). No backreferences — identical under Java regex and RE2.
_ANCHOR_RE = (
    "(?i)<a\\b[^>]*?href[ \\t\\n\\f\\r]*=[ \\t\\n\\f\\r]*"
    "(\"[^\"<>]*\"|'[^'<>]*'|[^\"'<>=` \\t\\n\\f\\r][^<> \\t\\n\\f\\r]*)"
    "[^>]*>([^<]*)"
)


def anchor_texts(documents: DataFrame) -> DataFrame:
    """Anchor-text extraction: one row per ``<a href=...>text</a>``
    element with the link target AND its visible label — the
    link-graph EDGE LABELS (``extract_links`` gives the edges).
    Anchor text is the classic relevance signal (what the linking
    page calls the target) and doubles as alt-text-style weak
    supervision for retrieval training pairs.

    Same value grammar + entity policy as extract_links (paired-quote
    strip, six-entity decode, &amp; last); the label is additionally
    whitespace-collapsed and trimmed with explicit classes (never
    ``\\s`` — the Java/RE2 ``\\x0B`` seam). Alignment note: the url
    and label come from group 1 and 2 of the SAME regex pass, so the
    two extract_all arrays always line up. One codegen'd scan +
    bounded explode. Output: (doc_id, link_pos, url, anchor_text).
    """
    urls_raw = F.regexp_extract_all(F.col("text"), F.lit(_ANCHOR_RE), 1)
    labels_raw = F.regexp_extract_all(F.col("text"), F.lit(_ANCHOR_RE), 2)

    def _clean_url(u):
        unq = F.when(
            F.substring(u, 1, 1).isin('"', "'"),
            F.substring(u, F.lit(2), F.length(u) - 2),
        ).otherwise(u)
        return _decode_entities(unq)

    def _clean_label(t):
        t = _decode_entities(t)
        t = F.regexp_replace(t, "[ \\t\\n\\f\\r]+", " ")
        return F.regexp_replace(t, "^ +| +$", "")

    exploded = (
        documents.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.posexplode(
                F.zip_with(
                    F.transform(urls_raw, _clean_url),
                    F.transform(labels_raw, _clean_label),
                    lambda u, t: F.struct(u.alias("u"), t.alias("t")),
                )
            ).alias("link_pos", "_p"),
        )
    )
    return exploded.select(
        "doc_id",
        F.col("link_pos").cast("long").alias("link_pos"),
        F.col("_p.u").alias("url"),
        F.col("_p.t").alias("anchor_text"),
    )
