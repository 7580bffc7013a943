"""Iterative byte-pair-encoding training and application over the
``documents`` table (Sennrich, Haddow & Birch 2016, "Neural Machine
Translation of Rare Words with Subword Units").

Training semantics (the reference algorithm, pinned exactly):

- the corpus is aggregated ONCE into a (token, count) vocabulary;
  every subsequent round runs over that vocabulary, never the corpus;
- each round counts ADJACENT symbol pairs per vocabulary word,
  weighted by the word's corpus count, OVERLAPPING (``aaa`` as
  ``[a,a,a]`` contributes ``(a,a)`` twice);
- the argmax pair (count desc, then (left, right) lexicographic asc
  for determinism) becomes the round's merge;
- the merge is applied to every word LEFT-TO-RIGHT NON-OVERLAPPING
  (``[a,a,a,a]`` under ``(a,a)`` becomes ``[aa,aa]``, and
  ``[a,a,a]`` becomes ``[aa,a]``), then the next round repeats.

Scale shape for 100 TB: the only corpus-sized work is the initial
token-count aggregation — map-side combinable, one shuffle, output
bounded by vocabulary size. The merge loop itself is inherently
sequential (merge k+1's pair counts depend on merge k), so it runs
on the DRIVER over the bounded vocabulary model — the exact split
every production tokenizer trainer (SentencePiece, HF tokenizers)
uses: distributed counting, in-memory merge training. ``max_vocab_
words`` caps the driver-side model (count-desc top-V cut with a
deterministic token tie-break); the merge table itself is tiny
(``n_merges`` rows) and travels as plan literals.

Applying a trained merge table is fully distributed AND fully
JVM-side: each merge (left, right) is a literal at plan time, so
``segment_tokens`` replays the merges in rank order as a chain of
``F.aggregate`` left-folds over the symbol array — the fold "replace
the accumulator's last symbol when (last, current) equals the merge"
is exactly left-to-right non-overlapping application, and the whole
chain stays inside whole-stage codegen (no Python in the 100 TB hot
path). ``bpe_token_count`` dictionary-encodes first — segmentation
runs once per DISTINCT token (vocabulary-bounded work), then joins
back to the exploded corpus.

Reference repo has no tokenizer; this extends the engine's
training-data surface (token_count's whitespace/regex proxies →
exact BPE token budgets).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.frames import pin
from ..functions.logging import get_logger
from ..functions.text import tokens_expr

_LOG = get_logger(__name__)


def _collect_capped_vocab(
    v: DataFrame, max_vocab_words: int | None
) -> list[tuple[str, int]]:
    """Collect the (token, tok_count) model frame, bounded by
    ``max_vocab_words`` with a deterministic top-V cut (count desc,
    token asc). Truncation is LOUD: the cut fetches cap+1 rows, and
    when the vocabulary actually exceeds the cap a warning names the
    cap and states that the trained merges are approximate under
    truncation (pair counts sum over the whole vocabulary, so a
    dropped tail can collectively shift which merges win)."""
    if max_vocab_words is not None:
        cap = int(max_vocab_words)
        probe = (
            v.orderBy(F.col("tok_count").desc(), F.col("token"))
            .limit(cap + 1)
            .collect()
        )
        if len(probe) > cap:
            _LOG.warning(
                "bpe vocabulary exceeds max_vocab_words=%d; training "
                "on the top-%d tokens by count — merge ranks are "
                "APPROXIMATE under truncation (dropped-tail pair "
                "counts no longer participate). Pass "
                "max_vocab_words=None for the exact full-vocabulary "
                "collect.",
                cap,
                cap,
            )
            probe = probe[:cap]
        rows = probe
    else:
        rows = v.collect()
    return [(r["token"], int(r["tok_count"])) for r in rows]


def apply_merge_py(syms: list[str], left: str, right: str) -> list[str]:
    """Left-to-right non-overlapping application of one merge to one
    symbol sequence — the pinned semantics shared by the Python
    trainer, the Spark fold expressions, and the SQL oracle."""
    out: list[str] = []
    i = 0
    n = len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def train_merges_py(
    word_counts: list[tuple[str, int]], n_merges: int
) -> tuple[list[tuple[int, str, str, int]], dict[str, list[str]]]:
    """Pure-Python reference BPE trainer over an aggregated
    (token, count) vocabulary.

    Returns (merges, final_vocab):
    - merges: [(merge_rank 1-based, left, right, n_occurrences)],
      stopping early if no adjacent pair remains;
    - final_vocab: token -> symbol sequence after ALL merges (the
      segmentation of every vocabulary word).
    """
    vocab: dict[str, list[str]] = {
        tok: list(tok) for tok, _ in word_counts
    }
    counts = dict(word_counts)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        pair_counts: dict[tuple[str, str], int] = {}
        for tok, syms in vocab.items():
            c = counts[tok]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + c
        if not pair_counts:
            break
        (left, right), n_occ = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        merges.append((rank, left, right, n_occ))
        vocab = {
            tok: apply_merge_py(syms, left, right)
            for tok, syms in vocab.items()
        }
    return merges, vocab


def vocab_counts(documents: DataFrame) -> DataFrame:
    """(token, tok_count) over the normalized corpus — the one
    corpus-sized aggregation (map-side combinable; output bounded by
    vocabulary size). Same normalization as every text operator."""
    return (
        documents.select(F.explode(tokens_expr("text")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tok_count"))
    )


#: default vocabulary-collect cap for the BPE trainer: the merge
#: recurrence needs the (token, count) model on the driver, and at
#: 100 TB a junk-token corpus can push the DISTINCT-token space far
#: past driver memory — the cap makes that collect bounded BY DEFAULT
#: (top-1M tokens ≈ low hundreds of MB worst case). Training under
#: an exceeded cap is APPROXIMATE — merge decisions use pair counts
#: summed across the WHOLE vocabulary, so a dropped long tail can
#: collectively shift which merges win even though no single dropped
#: token could — and the collect logs a loud warning when the cut
#: actually drops vocabulary. Pass ``max_vocab_words=None`` to opt in
#: to the exact full-vocabulary collect on corpora known to have a
#: sane vocabulary.
DEFAULT_MAX_VOCAB_WORDS = 1_000_000


def bpe_train(
    documents: DataFrame,
    n_merges: int = 8,
    max_vocab_words: int | None = DEFAULT_MAX_VOCAB_WORDS,
) -> DataFrame:
    """Train ``n_merges`` BPE merges over the corpus vocabulary.

    Output (merge_rank, left, right, n_occurrences), merge_rank
    1-based in training order. ``max_vocab_words`` bounds the
    driver-side model with a deterministic top-V cut (count desc,
    token asc) — a TakeOrdered over the aggregated vocabulary, never
    a global sort of the corpus. The default cap is
    ``DEFAULT_MAX_VOCAB_WORDS`` (1M, see there). Results are
    identical on any corpus whose vocabulary fits the cap (the
    driver oracle's testdata does); when the vocabulary EXCEEDS the
    cap the trained merges are APPROXIMATE — pair counts sum over
    the whole vocabulary, so a dropped tail can collectively shift
    which merges win — and a loud warning is logged at collect time.
    ``max_vocab_words=None`` opts in to the exact FULL-vocabulary
    collect.
    """
    v = vocab_counts(documents)
    # bounded model collect (vocabulary-sized, like dsir_model):
    # the merge recurrence is sequential and cannot be distributed
    rows = _collect_capped_vocab(v, max_vocab_words)
    merges, _ = train_merges_py(rows, n_merges)
    return documents.sparkSession.createDataFrame(
        merges,
        "merge_rank int, left string, right string, n_occurrences bigint",
    )


def merges_from_df(merges_df: DataFrame) -> list[tuple[str, str]]:
    """Collect a (small) merge table to ordered (left, right) plan
    literals — ``n_merges`` rows, the model every executor replays."""
    rows = sorted(
        merges_df.select("merge_rank", "left", "right").collect(),
        key=lambda r: r["merge_rank"],
    )
    return [(r["left"], r["right"]) for r in rows]


def _chars(col):
    """Character array of a token — empty array for the empty string
    (F.split('', '') yields [''], not []; the Python trainer and the
    oracle both treat the empty token as zero symbols)."""
    return F.when(
        F.length(col) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(col, ""))


def _fold_step(left: str, right: str):
    """Two-arg fold lambda for one merge — a factory because
    ``F.aggregate`` introspects the callable's arity (exactly
    (acc, x)), so the merge literals must close over, not default."""
    merged = left + right

    def step(acc, x):
        last = F.try_element_at(acc, F.lit(-1))
        return F.when(
            (last == left) & (x == right),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x)))

    return step


def _fold_chain(syms: Column, merges: list[tuple[str, str]]) -> Column:
    """Apply ``merges`` in rank order to a symbol-array column — the
    core of ``segment_tokens``'s staged chain."""
    for left, right in merges:
        syms = F.aggregate(
            syms, F.array().cast("array<string>"), _fold_step(left, right)
        )
    return syms


def segment_tokens(
    tokens: DataFrame, merges: list[tuple[str, str]], stage_every: int = 4
) -> DataFrame:
    """(token) -> (token, symbols, n_symbols), replaying the merges.

    The fold chain is staged into a real column every ``stage_every``
    merges: inside higher-order functions Catalyst does not CSE
    non-cheap duplicated subtrees, and one projection holding a
    32-deep nested aggregate makes codegen quadratic — staging keeps
    each generated function small while referencing each intermediate
    exactly once.

    Above ``FOLD_CHAIN_MAX_MERGES`` the fold chain would still grow
    the PLAN with the merge count (a production 32k-merge table can't
    codegen as 32k nested aggregates), so segmentation switches to
    the Arrow priority-encode kernel — parity-tested against the
    chain, constant plan size, vocabulary-bounded Python (see
    ``_segment_tokens_arrow`` for the one degenerate corner).
    """
    if len(merges) > FOLD_CHAIN_MAX_MERGES:
        return _segment_tokens_arrow(tokens, merges)
    df = tokens.select("token", _chars(F.col("token")).alias("symbols"))
    for i in range(0, len(merges), stage_every):
        chunk = merges[i : i + stage_every]
        df = df.select(
            "token", _fold_chain(F.col("symbols"), chunk).alias("symbols")
        )
    return df.select(
        "token",
        "symbols",
        F.size("symbols").cast("bigint").alias("n_symbols"),
    )


#: merge-table size above which segment_tokens switches from the JVM
#: fold chain to the Arrow kernel — each merge is one nested
#: F.aggregate, and codegen cost grows with chain depth; ~64 is well
#: inside safe territory while a real 32k-merge tokenizer is not
FOLD_CHAIN_MAX_MERGES = 64


def _segment_tokens_arrow(
    tokens: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """Arrow-batched segmentation for LARGE merge tables (a real
    tokenizer carries ~32k merges — far past what a per-merge
    expression chain can codegen). Standard PRIORITY encode per token
    (the GPT-2 reference encoder): repeatedly merge every occurrence
    of the lowest-rank adjacent pair present. Replaying all merges in
    rank order instead would be O(n_merges x len) per token — 32k
    passes — which is exactly why production encoders use priority
    encode; the two are equal except in one degenerate corner (two
    DIFFERENT merges producing the same concatenated symbol string,
    which lets a later merge resurrect an earlier pair), asserted
    equal on normal tables by the parity test. The
    merge→rank dict broadcasts in the closure (n_merges entries, MB
    at 32k); results memoize per distinct token within a batch, and
    the caller already dictionary-encodes (distinct tokens only), so
    the Python cost is vocabulary-bounded — the same scale shape as
    the fold chain, traded for constant plan size."""
    import pandas as pd

    # first-occurrence-wins: a duplicated (left, right) pair must keep
    # its EARLIEST rank, matching fold-chain rank-order replay
    ranks: dict = {}
    for i, pair in enumerate(merges):
        ranks.setdefault(pair, i)

    def encode(tok: str) -> list[str]:
        syms = list(tok)
        while len(syms) > 1:
            best_i, best_rank = -1, len(ranks)
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]), None)
                if r is not None and r < best_rank:
                    best_i, best_rank = i, r
            if best_i < 0:
                break
            left, right = merges[best_rank]
            syms = apply_merge_py(syms, left, right)
        return syms

    def batches(it):
        cache: dict[str, list[str]] = {}
        for pdf in it:
            segs = []
            for t in pdf["token"]:
                s = cache.get(t)
                if s is None:
                    s = cache[t] = encode(t)
                segs.append(s)
            yield pd.DataFrame(
                {
                    "token": pdf["token"],
                    "symbols": segs,
                    "n_symbols": [len(s) for s in segs],
                }
            )

    return tokens.select("token").mapInPandas(
        batches,
        schema="token string, symbols array<string>, n_symbols bigint",
    )


def bpe_token_count(
    documents: DataFrame,
    merges_df: DataFrame | None = None,
    n_merges: int = 8,
    max_vocab_words: int | None = DEFAULT_MAX_VOCAB_WORDS,
) -> DataFrame:
    """Exact BPE token budget per document under a trained merge
    table (trained here from the same corpus when ``merges_df`` is
    None — the self-contained form the driver checks).

    Output (doc_id, n_tokens_ws, n_tokens_bpe): whitespace tokens
    and BPE symbols after segmentation; 0/0 for empty and NULL text
    (the token_count contract).

    Scale shape: segmentation runs once per DISTINCT token
    (vocabulary-bounded, JVM fold chain), then joins back to the
    exploded corpus — dictionary encoding. The join key is the token
    string; AQE picks broadcast when the vocabulary fits, else a
    plain equi-join. Out-of-vocabulary tokens (when training used
    ``max_vocab_words``) still segment correctly — the fold replays
    merges on ANY token, not just vocabulary words.
    """
    occ = documents.select(
        "doc_id", F.explode(tokens_expr("text")).alias("token")
    ).filter(F.col("token") != "")
    if merges_df is None:
        # self-training path: ONE corpus aggregation serves both the
        # trainer's model collect and the segmenter's distinct-token
        # frame (pinned — vocabulary-sized, KB-MB). Without the shared
        # frame the final action re-scanned the corpus for the
        # vocabulary a second time.
        vc_all = (
            occ.groupBy("token")
            .agg(F.count(F.lit(1)).alias("tok_count"))
            .transform(pin)
        )
        rows = _collect_capped_vocab(vc_all, max_vocab_words)
        merges = [
            (left, right)
            for _, left, right, _ in train_merges_py(rows, n_merges)[0]
        ]
        # segment ALL distinct tokens (vc_all, cached), never the
        # capped model frame — a capped vocabulary must still
        # segment out-of-vocabulary tokens
        tokens = vc_all.select("token")
    else:
        merges = merges_from_df(merges_df)
        tokens = occ.select("token").distinct()
    seg = segment_tokens(tokens, merges)
    per_doc = (
        occ.join(seg.select("token", "n_symbols"), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens_ws"),
            F.sum("n_symbols").alias("n_tokens_bpe"),
        )
    )
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens_ws", F.lit(0))
            .cast("bigint")
            .alias("n_tokens_ws"),
            F.coalesce("n_tokens_bpe", F.lit(0))
            .cast("bigint")
            .alias("n_tokens_bpe"),
        )
    )
