"""Deduplication family over the ``documents`` table.

- exact (normalized-hash groupBy)
- n-gram Jaccard near-dup (shingle-set overlap, blocked)
- MinHash + LSH banding (the 100 TB path: candidate generation is an
  equi-join on band keys, never an all-pairs comparison)
- SimHash (bitwise fingerprint, banded hamming candidates)

Everything is built from md5-derived hashes expressed as built-in
column functions — deterministic, engine-portable (the DuckDB oracle
computes the same md5 strings), and whole-stage-codegen'd (no Python
in the loop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.frames import local_checkpoint, pin, release
from ..functions.text import md5_hex, norm_text, tokens_expr, word_shingles

SHINGLE_N = 3
MINHASH_PERMS = 16
MINHASH_BANDS = 4  # 4 rows/band; s-curve threshold ≈ (1/4)^(1/4) ≈ 0.71


def _spread(df: DataFrame) -> DataFrame:
    """Ensure ≥ cluster-width partitions before CPU-heavy per-doc work.

    A small corpus often arrives as one parquet split; everything
    downstream (and anything persisted from it) would then run
    single-threaded. The repartition shuffle moves only raw text —
    negligible vs the hashing it unlocks. At 100 TB inputs already
    have thousands of splits and this is a no-op.

    The probe is SKIPPED when the plan already carries a Repartition
    (i.e. _spread ran upstream, e.g. _doc_lines over docs_as_lines):
    under AQE the ``.rdd`` partition-count probe finalizes the plan,
    which EXECUTES the upstream shuffle stages — a thrown-away corpus
    scan per nested call (r12 review find). On a shuffle-free scan
    the probe just counts file splits, no job.
    """
    if "Repartition" in df._jdf.queryExecution().logical().toString():
        return df
    want = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < want:
        return df.repartition(want)
    return df


def _shingle_sets(
    documents: DataFrame, nonempty: bool = True, with_hash: bool = False
) -> DataFrame:
    """doc_id + distinct word-3-gram shingle array (+ lang block key).

    ``with_hash=True`` additionally stages ``by_hash`` — the SORTED
    md5 image of the shingle set — into the frame. Callers that
    persist the result and feed BOTH the prefix-filter side and the
    minhash signature side (dedup_audit) then hash every shingle
    once instead of once per consumer.

    Tokens are materialized as a column BEFORE shingling: inside a
    higher-order function a complex child expression is re-evaluated
    per reference (no common-subexpression elimination), so shingling
    directly over ``tokens_expr`` re-tokenizes each document many
    times — a measured ~10× slowdown on the corpus scan.

    ``nonempty=True`` drops docs that would yield zero shingles via a
    CHEAP pre-filter on the token count (< n tokens ⟺ no n-grams).
    Do NOT filter ``size(shingles) > 0`` after the fact: predicate
    pushdown inlines the whole tokenize+shingle tree into a Filter
    below the repartition Exchange, so it runs twice (size + isnull)
    on the un-spread input — measured 20× slower at sf0.1.
    """
    base = _spread(documents)
    if nonempty:
        base = base.filter(F.size(tokens_expr("text")) >= SHINGLE_N)
    toks = base.select(
        "doc_id", "lang", tokens_expr("text").alias("_toks")
    )
    out = toks.select(
        "doc_id",
        "lang",
        F.array_distinct(word_shingles(F.col("_toks"), SHINGLE_N)).alias("shingles"),
    )
    if with_hash:
        out = out.withColumn(
            "by_hash", F.array_sort(F.transform("shingles", F.md5))
        )
    return out


def dedup_exact(documents: DataFrame) -> DataFrame:
    """Exact dedup on the normalized text hash: one row per distinct
    content with the keeper (min doc_id) and the copy count.

    Scale: a single hash-shuffle groupBy on a 32-char key; partial
    aggregation map-side. The keeper choice (min id) is the
    reference-style "first wins" upsert rule.
    """
    return (
        documents.select("doc_id", md5_hex(norm_text("text")).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def dedup_incremental(
    new_docs: DataFrame, existing: DataFrame | None = None
) -> DataFrame:
    """Incremental exact dedup: annotate a NEW batch of documents with
    whether their content already exists in the ingested corpus — the
    shape a daily training-data drop actually runs (dedup against
    everything seen so far, not within one batch).

    The corpus side reduces to distinct 32-char fingerprints (at
    petabyte scale that's the stored dedup index, not a rescan); the
    new batch left-semi-ish joins it on the hash. One hash-shuffle
    (or broadcast when the daily batch index fits), map-side partial
    distinct on the corpus side.

    When ``existing`` is None, a deterministic self-contained split
    makes the driver query: even doc_ids play the ingested corpus,
    odd doc_ids the incoming batch.
    """
    if existing is None:
        existing = new_docs.filter(F.col("doc_id") % 2 == 0)
        new_docs = new_docs.filter(F.col("doc_id") % 2 == 1)
    known = (
        existing.select(md5_hex(norm_text("text")).alias("content_hash"))
        .distinct()
        .withColumnRenamed("content_hash", "_known_hash")
        .withColumn("_known", F.lit(True))
    )
    hashed = new_docs.select(
        "doc_id", md5_hex(norm_text("text")).alias("content_hash")
    )
    # NULL-SAFE join: md5(norm_text(NULL)) is NULL, and dedup_exact's
    # groupBy (like every SQL GROUP BY) treats all NULL-content docs
    # as one group — a plain equi-join here would instead report a
    # NULL-text batch doc as never-known even when the corpus already
    # holds NULL-text docs, making the two exact-dedup entry points
    # disagree about absent content. eqNullSafe is still a hash-join
    # key, so the plan shape is unchanged.
    return (
        hashed.join(
            known,
            F.col("content_hash").eqNullSafe(F.col("_known_hash")),
            "left",
        )
        .select(
            "doc_id",
            "content_hash",
            F.coalesce("_known", F.lit(False)).alias("is_known_dup"),
        )
    )


def _jaccard_verify_pairs(
    cand: DataFrame, sh: DataFrame, threshold: float, keep: tuple = ()
) -> DataFrame:
    """Shared exact-Jaccard verify tail of the two self-join pair
    families (prefix-filter and MinHash-band candidates — verbatim
    copies until r12): join both sides' shingle sets back onto the
    candidate (doc_a, doc_b) pairs and keep jaccard >= threshold.

    ``keep`` carries extra candidate columns (e.g. dedup_audit's
    provenance flags) through the verify unchanged."""
    sh_a = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    sh_b = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    pairs = cand.join(sh_a, "doc_a").join(sh_b, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", *keep, "jaccard")
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    _shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by word-shingle Jaccard ≥ threshold (exact).

    Exact set-similarity join via PREFIX FILTERING (AllPairs/PPJoin
    family): under any global total order on shingles, two sets with
    Jaccard ≥ t must share an element within the first
    ``n - ceil(t·n) + 1`` shingles of each (pigeonhole on the overlap
    lower bound). We order by md5(shingle) — a deterministic
    pseudo-random order, so "prefix" shingles are effectively a
    uniform sample and hot shingles don't concentrate. Candidates are
    an equi-join on (lang, prefix-shingle-hash); only candidates pay
    the O(|A|+|B|) exact-Jaccard verify. Output equals the brute-force
    all-pairs join (the DuckDB oracle) — the prune is lossless.

    This plus a size-ratio prune (J ≤ min/max sizes) keeps the join
    linear-ish in corpus size instead of quadratic per lang block —
    the 100 TB-safe EXACT path next to the approximate MinHash one.

    ``_shingles`` injects an externally persisted ``_shingle_sets``
    frame (the dedup_audit seam — the audit's exact and LSH sides
    share ONE corpus tokenize+shingle scan; the injector owns the
    frame's lifecycle).
    """
    if _shingles is not None:
        s = _shingles.withColumn("n_sh", F.size("shingles"))
    else:
        s = (
            _shingle_sets(documents, nonempty=True)  # empty sets pair with nothing
            .withColumn("n_sh", F.size("shingles"))
            .transform(pin)
        )
    cand = _prefix_filter_candidates(s, threshold)
    return _jaccard_verify_pairs(cand, s, threshold)


def _prefix_filter_candidates(s: DataFrame, threshold: float) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs of the exact prefix-filter
    Jaccard join — the generation stage of ``ngram_jaccard_pairs``,
    split out so ``dedup_audit`` can union these with the band
    candidates and verify ONCE. ``s`` is a (persisted) shingle frame
    with ``n_sh`` staged (and optionally ``by_hash``). Lossless: the
    output is a superset of all pairs with Jaccard ≥ threshold."""
    # reuse a staged sorted-md5 image when the injected frame carries
    # one (dedup_audit's with_hash persist) — identical values, one
    # corpus-wide hashing pass saved
    by_hash = (
        F.col("by_hash")
        if "by_hash" in s.columns
        else F.array_sort(F.transform("shingles", F.md5))
    )
    prefix_len = (
        F.col("n_sh")
        - F.ceil(F.lit(threshold) * F.col("n_sh")).cast("int")
        + 1
    )
    # posexplode keeps each prefix element's 0-based position in the
    # SORTED array — fuel for the positional filter below (PPJoin,
    # Xiao et al.: "Efficient Similarity Joins for Near Duplicate
    # Detection", WWW'08)
    pref = s.select(
        "doc_id",
        "lang",
        "n_sh",
        F.posexplode(F.slice(by_hash, 1, prefix_len)).alias("pos", "ph"),
    )
    a = pref.select(
        F.col("doc_id").alias("doc_a"),
        "lang",
        "ph",
        F.col("pos").alias("pa"),
        F.col("n_sh").alias("n_a"),
    )
    b = pref.select(
        F.col("doc_id").alias("doc_b"),
        "lang",
        "ph",
        F.col("pos").alias("pb"),
        F.col("n_sh").alias("n_b"),
    )
    matches = a.join(b, ["lang", "ph"]).filter(
        (F.col("doc_a") < F.col("doc_b"))
        & (F.col("n_a") * F.lit(threshold) <= F.col("n_b"))
        & (F.col("n_b") * F.lit(threshold) <= F.col("n_a"))
    )
    # POSITIONAL prune (lossless): group the matches per pair and keep
    # the SMALLEST shared prefix element (min over the md5 order —
    # the struct min orders by ph first). For a pair with J ≥ t the
    # smallest common element c0 of the two sets sits inside BOTH
    # prefixes (at most n − |A∩B| non-common elements precede it),
    # so it IS this group-min row; every other common element is
    # > c0, hence strictly after position (pa, pb) in the sorted
    # arrays, giving the exact bound
    #   |A∩B| ≤ 1 + min(n_a − 1 − pa, n_b − 1 − pb).
    # J ≥ t needs |A∩B| ≥ t·(n_a+n_b)/(1+t); pairs whose bound can't
    # reach it are dropped BEFORE the O(|A|+|B|) verify — which was
    # the audit's dominant cost (110 722 candidates → 79 true pairs
    # at sf0.1; the bound kills the hot-shingle one-match pairs).
    # The slack makes float rounding err on the KEEP side only; it is
    # RELATIVE (scaled by n_a+n_b, the compared magnitude) so the
    # prune stays provably lossless at any document size — an
    # absolute 1e-9 would be smaller than one ulp of the right-hand
    # side once shingle counts pass ~1e8 (r12 advice).
    ub = F.lit(1) + F.least(
        F.col("n_a") - 1 - F.col("pa"), F.col("n_b") - 1 - F.col("pb")
    )
    return (
        matches.groupBy("doc_a", "doc_b")
        .agg(F.min(F.struct("ph", "pa", "pb", "n_a", "n_b")).alias("m"))
        .select("doc_a", "doc_b", "m.pa", "m.pb", "m.n_a", "m.n_b")
        .filter(
            ub * F.lit(1.0 + threshold)
            >= F.lit(threshold) * (F.col("n_a") + F.col("n_b"))
            - F.lit(1e-9) * (F.col("n_a") + F.col("n_b"))
        )
        .select("doc_a", "doc_b")
    )


#: Modulus for the universal-hash permutation family (fits all
#: intermediate products in int64 on any SQL engine — no overflow).
MINHASH_P = 1_000_000_007


def _signature_from_shingles(s: DataFrame) -> DataFrame:
    """shingle sets → array of MINHASH_PERMS integer min-hashes.

    One md5 per shingle (not per permutation): the 128-bit digest is
    split into two 60-bit ints (a, b) and permutation i's hash is the
    universal-family ``(a + i·(b+1)) mod P``. 16 permutations are then
    16 passes of int arithmetic over an int array — ~16× less hashing
    than md5-per-permutation, and the min-reduction runs on longs
    instead of 32-char strings.
    """
    # a staged ``by_hash`` column (the dedup_audit shared frame) is the
    # same md5 multiset already computed — the signature's per-
    # permutation min is order-free over the set, so reusing the
    # SORTED image yields bit-identical signatures while skipping a
    # second corpus-wide hashing pass
    hashed = s.select(
        "doc_id",
        (
            F.col("by_hash")
            if "by_hash" in s.columns
            else F.transform(F.col("shingles"), F.md5)
        ).alias("_h"),
    )
    ha = F.transform(
        F.col("_h"),
        lambda h: F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint") % MINHASH_P,
    )
    hb = F.transform(
        F.col("_h"),
        lambda h: F.conv(F.substring(h, 17, 15), 16, 10).cast("bigint") % MINHASH_P
        + 1,
    )
    withab = hashed.select("doc_id", ha.alias("_ha"), hb.alias("_hb"))
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(MINHASH_PERMS - 1)),
        lambda i: F.array_min(
            F.zip_with(
                F.col("_ha"),
                F.col("_hb"),
                lambda a, b: (a + i.cast("bigint") * b) % MINHASH_P,
            )
        ),
    )
    return withab.select("doc_id", sig.alias("sig"))


def minhash_lsh_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    _shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified by true Jaccard.

    Banding: signature split into MINHASH_BANDS contiguous bands;
    docs sharing any band key become candidates (equi-join on the
    band key — linear-ish, no cross join; THE scalable dedup at
    100 TB). The band join carries ONLY (doc_id, band key) — shingle
    sets are re-joined afterwards for exact-Jaccard verification, so
    the wide arrays never ride through the self-join shuffle.

    The shingle table and the compact band table are persisted
    (MEMORY_AND_DISK, spills at scale): both are consumed by two
    downstream branches, and without a persist Spark re-tokenizes the
    full corpus once per branch — the dominant cost.
    """
    # ONE band-key construction for every LSH consumer (_band_frame
    # also feeds the incremental and stored-index paths — a format
    # drift here would silently break index compatibility)
    sh, bands = _band_frame(documents, "doc_id", _shingles=_shingles)
    bands = pin(bands)
    cand = _band_candidates(bands)
    return _jaccard_verify_pairs(cand, sh, threshold)


def _band_candidates(bands: DataFrame) -> DataFrame:
    """Distinct candidate (doc_a, doc_b) pairs from a banded-signature
    self-join — the generation stage of ``minhash_lsh_pairs``, split
    out so ``dedup_audit`` can union these with the prefix-filter
    candidates and verify ONCE."""
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "band_hash")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "band_hash")
    return (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _simhash_bits(documents: DataFrame, bits: int = 32) -> DataFrame:
    """doc_id + simhash bit array (length ``bits``).

    Token t contributes +1/-1 to bit j according to whether nibble j
    of md5(t) ≥ 8; the fingerprint bit is sign(Σ contributions).
    Token multiplicity counts (standard weighted SimHash).

    ``bits`` is capped at 32 — one signal bit per md5 hex nibble.
    Beyond 32, ``substring`` would return '' for every row and the
    extra bits would be CONSTANT: any band landing wholly above bit
    32 would give every document the same band key, degenerating the
    candidate equi-join into the full cross product the banding
    exists to prevent. Raise loudly instead.
    """
    if not 1 <= bits <= 32:
        raise ValueError(
            f"simhash bits={bits} out of range: md5 provides 32 hex "
            "nibbles, one signal bit each (1 <= bits <= 32)"
        )
    # Explode tokens to rows and compute the 32 per-bit ±1 sums as 32
    # plain aggregate expressions: everything stays in whole-stage
    # codegen with map-side partial aggregation (a higher-order
    # aggregate() per bit is interpreted per element — measured ~10×
    # slower on the corpus scan).
    high = ("8", "9", "a", "b", "c", "d", "e", "f")
    # drop empty tokens: an empty/punctuation-only doc normalizes to
    # [''] and would otherwise get the CONSTANT fingerprint of
    # md5('') — every such doc pairing with every other in an
    # all-pairs hamming-0 clique (r12 review find). With the filter,
    # zero-token docs have no rows here, hence no fingerprint: empty
    # docs pair with nothing, the jaccard/minhash convention.
    tok_hash = (
        _spread(documents)
        .select("doc_id", F.explode(tokens_expr("text")).alias("_tok"))
        .filter(F.col("_tok") != "")
        .select("doc_id", F.md5("_tok").alias("_h"))
    )
    sums = tok_hash.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.substring("_h", j, 1).isin(*high), 1).otherwise(-1)
            ).alias(f"_b{j}")
            for j in range(1, bits + 1)
        ]
    )
    sim = F.array(
        *[(F.col(f"_b{j}") > 0).cast("int") for j in range(1, bits + 1)]
    )
    return sums.select("doc_id", sim.alias("simbits"))


def simhash_pairs(
    documents: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
) -> DataFrame:
    """SimHash near-dup pairs: hamming(simhash) ≤ max_hamming.

    Candidates via exact-match band blocking with ``max_hamming + 1``
    bands — pigeonhole: a pair differing in ≤ max_hamming bits cannot
    differ in every one of max_hamming+1 bands, so it shares at least
    one band key (complete for ANY max_hamming, not just the
    default; band widths are the near-equal integer split of
    ``bits``). Exact hamming verification follows. Same
    join-don't-cross-join shape as MinHash LSH.
    """
    n_bands = max_hamming + 1
    if n_bands > bits:
        raise ValueError(
            f"max_hamming={max_hamming} needs {n_bands} bands but the "
            f"fingerprint has only {bits} bits"
        )
    bounds = [i * bits // n_bands for i in range(n_bands + 1)]
    sim = pin(_simhash_bits(documents, bits))
    bands = sim.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "",
                        F.slice(
                            F.col("simbits"),
                            bounds[i] + 1,
                            bounds[i + 1] - bounds[i],
                        ),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band", "band_key"),
    )
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    cand = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    bits_a = sim.select(F.col("doc_id").alias("doc_a"), F.col("simbits").alias("bits_a"))
    bits_b = sim.select(F.col("doc_id").alias("doc_b"), F.col("simbits").alias("bits_b"))
    hamming = F.aggregate(
        F.zip_with("bits_a", "bits_b", lambda x, y: (x != y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cand.join(bits_a, "doc_a")
        .join(bits_b, "doc_b")
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def dedup_clusters(
    documents: DataFrame, pairs: DataFrame | None = None, max_iter: int = 20
) -> DataFrame:
    """Resolve near-dup pairs into connected components: every doc gets
    a ``cluster_id`` = the smallest doc_id reachable through the
    near-dup graph (singletons cluster with themselves). The keep-one
    policy of a dedup pipeline is then ``keep doc_id == cluster_id``.

    Iterative min-label propagation: each round every vertex adopts
    the minimum label among itself and its neighbors, converging in
    O(component diameter) rounds — near-dup components are tight
    (diameter a few hops), so this terminates in a handful of
    distributed joins. Each round localCheckpoints the label frame:
    without it the lineage (and the codegen'd plan) doubles per round,
    which is what actually kills iterative DataFrame jobs at scale.
    Convergence is detected with a distributed count of changed
    labels — no driver-side data beyond that scalar.

    At 100 TB the same loop holds (labels and edges shuffle on doc
    ids, both high-cardinality). A component deeper than ``max_iter``
    hops is refused, not split: raise ``max_iter`` for adversarial
    graphs with long chains.
    """
    if max_iter < 1:
        raise ValueError(f"dedup_clusters: max_iter must be >= 1, got {max_iter}")
    if pairs is None:
        pairs = minhash_lsh_pairs(documents)
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).union(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    edges = pin(edges, StorageLevel.MEMORY_AND_DISK_DESER)
    # Only vertices that touch a near-dup edge can ever change label;
    # the (overwhelming) singleton majority keeps cluster_id = doc_id.
    # Running the loop on the active set alone shrinks every per-round
    # join from |corpus| to |graph| rows — at 100 TB the near-dup
    # graph is orders of magnitude smaller than the corpus.
    # Coalesce each materialized round to cluster width: under a
    # default-conf session (the driver's) every round otherwise
    # checkpoints ~shuffle.partitions near-empty partitions, and the
    # per-task overhead — not the data — dominates iteration cost.
    # The active set is graph-sized, so cluster width is the right
    # parallelism at ANY scale; AQE handles the in-round shuffles.
    par = documents.sparkSession.sparkContext.defaultParallelism
    labels = (
        edges.select(F.col("u").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .coalesce(par)
        .transform(local_checkpoint)
    )
    held = labels  # the last checkpointed round, which the loop reads
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.v == labels.doc_id)
            .groupBy(F.col("u").alias("doc_id"))
            .agg(F.min("cluster_id").alias("_nbr_min"))
        )
        # The changed flag rides along in the SAME join that computes
        # the new label, so convergence detection costs a scan of the
        # just-checkpointed active set — not a second shuffle join per
        # round against the previous labels.
        new_labels = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce("_nbr_min", F.col("cluster_id"))
                ).alias("cluster_id"),
                (
                    F.coalesce("_nbr_min", F.col("cluster_id"))
                    < F.col("cluster_id")
                ).alias("_changed"),
            )
            .coalesce(par)
            .transform(local_checkpoint)
        )
        changed = new_labels.filter(F.col("_changed")).count()
        # the round just materialized replaces the one it read
        release(held)
        held, labels = new_labels, new_labels.drop("_changed")
        if changed == 0:
            break
    release(edges)
    if changed != 0:
        # labels that stopped mid-propagation split one component into
        # several clusters — downstream keep-one would silently retain
        # near-duplicates
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iter} rounds "
            f"({changed} labels still moving — a component with "
            "diameter > max_iter; raise max_iter)"
        )
    return _attach_cluster_sizes(documents, labels)


def _attach_cluster_sizes(documents: DataFrame, labels: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, cluster_size) for the whole corpus, with
    sizes computed on the GRAPH-sized label frame, not the corpus.

    The previous shape — ``count().over(Window.partitionBy
    ("cluster_id"))`` after the corpus join — shuffled and sorted the
    ENTIRE corpus just to stamp a per-cluster count. Every vertex of a
    non-singleton cluster necessarily touches an edge and is therefore
    in ``labels``, so sizes aggregate from ``labels`` alone; singleton
    docs never enter the join and take size 1 via coalesce. The corpus
    then needs a single left join against a graph-sized frame, which
    AQE turns into a broadcast at typical near-dup graph sizes —
    corpus-side shuffle-free, the shape that matters at 100 TB.
    Propagation labels each root with itself, so ``labels`` holds every
    member of every non-singleton cluster.
    """
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    labelled = labels.join(sizes, "cluster_id").select(
        "doc_id", "cluster_id", "cluster_size"
    )
    return (
        documents.select("doc_id")
        .join(labelled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
            F.coalesce("cluster_size", F.lit(1).cast("long")).alias(
                "cluster_size"
            ),
        )
    )


def _band_frame(docs: DataFrame, id_alias: str, _shingles=None):
    """(shingle sets, banded signatures) for one side of an LSH join.

    The shingle frame is persisted — both the band branch and the
    exact-Jaccard verify branch consume it, and without the persist
    Spark re-tokenizes the corpus once per branch. ``_shingles``
    injects an externally persisted frame instead (the injector owns
    its lifecycle; the returned sh is then that frame's projection)."""
    rows_per_band = MINHASH_PERMS // MINHASH_BANDS
    if _shingles is not None:
        keep = ["doc_id", "shingles"] + (
            ["by_hash"] if "by_hash" in _shingles.columns else []
        )
        sh = _shingles.select(*keep)
    else:
        sh = _shingle_sets(docs, nonempty=True).select("doc_id", "shingles")
        sh = pin(sh)
    sig = _signature_from_shingles(sh)
    bands = sig.select(
        F.col("doc_id").alias(id_alias),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(MINHASH_BANDS - 1)),
                lambda b: F.concat_ws(
                    "|",
                    F.transform(
                        F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                        lambda v: v.cast("string"),
                    ),
                ),
            )
        ).alias("band", "band_hash"),
    )
    return sh, bands


def _best_match_annotate(
    new_docs: DataFrame,
    cand: DataFrame,
    sh_b: DataFrame,
    sh_c: DataFrame,
    threshold: float,
) -> DataFrame:
    """Shared tail of ``dedup_incremental_near`` and
    ``dedup_against_index`` (one definition — the two were verbatim
    copies, r12 review find): exact-Jaccard-verify the candidate
    (doc_id, dup_of) pairs, keep each batch doc's best corpus match
    (jaccard desc, dup_of asc tie break), LEFT-annotate the full
    batch. ``sh_b``/``sh_c`` carry (doc_id, shingles) for the
    batch / corpus sides."""
    pairs = cand.join(
        sh_b.select("doc_id", F.col("shingles").alias("sh_b")), "doc_id"
    ).join(
        sh_c.select(
            F.col("doc_id").alias("dup_of"), F.col("shingles").alias("sh_c")
        ),
        "dup_of",
    )
    inter = F.size(F.array_intersect("sh_b", "sh_c"))
    union = F.size(F.array_union("sh_b", "sh_c"))
    scored = pairs.withColumn("jaccard", inter / union).filter(
        F.col("jaccard") >= threshold
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("jaccard").desc(), F.col("dup_of")
    )
    best = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "dup_of", "jaccard")
    )
    return (
        new_docs.select("doc_id")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            "dup_of",
            "jaccard",
            F.col("dup_of").isNotNull().alias("is_near_dup"),
        )
    )


def dedup_incremental_near(
    new_docs: DataFrame,
    existing: DataFrame | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental NEAR-dup: annotate a new batch with its best
    near-duplicate in the already-ingested corpus — the daily-drop
    twin of ``minhash_lsh_pairs`` (same signatures/banding, but a
    batch×corpus band join instead of a corpus self-join).

    At scale the corpus side is the stored LSH index (doc_id + band
    keys — exactly the compact frame built here; in production it is
    written once and re-read per drop, never re-tokenized). The band
    join keys on (band, band_hash); the batch side is drop-sized, so
    AQE broadcasts it and the corpus index streams through map-side.
    Candidates then verify by exact Jaccard on the shingle sets, and
    each batch doc keeps its best match (max Jaccard, ties to the
    lower corpus doc_id).

    When ``existing`` is None, a deterministic self-contained split
    makes the driver query: doc_id % 10 == 0 plays the incoming
    batch, the rest the ingested corpus.
    """
    if existing is None:
        existing = new_docs.filter(F.col("doc_id") % 10 != 0)
        new_docs = new_docs.filter(F.col("doc_id") % 10 == 0)

    sh_c, bands_c = _band_frame(existing, "dup_of")
    sh_b, bands_b = _band_frame(new_docs, "doc_id")
    # no F.broadcast hint: a drop-sized batch index is broadcast by
    # AQE's runtime sizing anyway, while a forced hint on a LARGE
    # batch (the existing=None split makes it 10% of the corpus)
    # bypasses the 8 GB broadcast ceiling check and OOMs instead of
    # degrading to the shuffle join — the same reason
    # dedup_against_index omits the hint
    cand = (
        bands_c.join(bands_b, ["band", "band_hash"])
        .select("doc_id", "dup_of")
        .distinct()
    )
    return _best_match_annotate(new_docs, cand, sh_b, sh_c, threshold)


def write_lsh_index(documents: DataFrame, prefix: str, n_buckets: int = 32) -> None:
    """Materialize the corpus near-dup index ONCE: the banded MinHash
    keys (``{prefix}_bands``, bucketed on ``band_hash``) and the
    shingle sets for exact verification (``{prefix}_shingles``,
    bucketed on ``doc_id``).

    This is the production form of ``dedup_incremental_near``'s
    corpus side: tokenize/hash the 100 TB corpus one time at ingest,
    then every daily drop joins the stored index — never re-reading
    corpus text. Bucketing on the join keys means an incoming batch
    too large to broadcast sort-merge-joins the index with the
    corpus side EXCHANGE-FREE (only the drop-sized batch shuffles).
    """
    from ..sources.bucketing import write_bucketed

    sh, bands = _band_frame(documents, "doc_id")
    write_bucketed(bands, f"{prefix}_bands", ["band_hash"], n_buckets=n_buckets)
    write_bucketed(sh, f"{prefix}_shingles", ["doc_id"], n_buckets=n_buckets)
    release(sh)


def dedup_against_index(
    new_docs: DataFrame,
    prefix: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Annotate a new batch against a stored LSH index (see
    ``write_lsh_index``) — same output contract as
    ``dedup_incremental_near`` but the corpus side comes from the
    bucketed tables, so the per-drop cost is O(batch), not O(corpus).
    """
    spark = new_docs.sparkSession
    bands_c = spark.table(f"{prefix}_bands").withColumnRenamed("doc_id", "dup_of")
    sh_c = spark.table(f"{prefix}_shingles")
    sh_b, bands_b = _band_frame(new_docs, "doc_id")
    cand = (
        bands_c.join(bands_b, ["band", "band_hash"])
        .select("doc_id", "dup_of")
        .distinct()
    )
    return _best_match_annotate(new_docs, cand, sh_b, sh_c, threshold)


def containment_pairs(
    documents: DataFrame,
    threshold: float = 0.8,
) -> DataFrame:
    """Directional near-dup pairs by shingle CONTAINMENT:
    C(A→B) = |A∩B| / |A| ≥ threshold — "most of A appears inside B".

    Catches the doc-inside-doc cases symmetric Jaccard misses: a
    paragraph quoted whole inside a 100× larger page has tiny Jaccard
    but containment ≈ 1. This is the quote/boilerplate-inclusion
    detector of a training-corpus pipeline (and the shape of
    prefix-containment joins in the AllPairs/PPJoin literature).

    Exact via prefix filtering on the CONTAINED side only: if
    |A∩B| ≥ t·|A|, A must share one of its first
    |A| − ceil(t·|A|) + 1 shingles (md5 total order) with B — so
    candidates are an equi-join of A-prefixes against the FULL
    shingle index of B (containment puts no lower bound on |B|, so
    the probe side prunes but the indexed side cannot). Only
    candidates pay the exact |A∩B| verify; the prune is lossless.
    Linear-ish: prefix(A) × postings(B) equi-join on (lang, shingle),
    never all-pairs.
    """
    # The md5 total order is staged INTO the persisted frame (the
    # _shingle_sets with_hash option — ONE definition of the staged
    # order, shared with the prefix-filter and minhash consumers):
    # both the probe and the index branch consume it, and recomputing
    # array_sort(transform(md5)) per branch doubles the hashing cost
    # of the corpus scan.
    s = (
        _shingle_sets(documents, nonempty=True, with_hash=True)
        .withColumn("n_sh", F.size("shingles"))
        .transform(pin)
    )
    prefix_len = (
        F.col("n_sh")
        - F.ceil(F.lit(threshold) * F.col("n_sh")).cast("int")
        + 1
    )
    probe = s.select(
        F.col("doc_id").alias("doc_a"),
        "lang",
        F.col("n_sh").alias("n_a"),
        F.posexplode(F.slice("by_hash", 1, prefix_len)).alias("pa", "ph"),
    )
    index = s.select(
        F.col("doc_id").alias("doc_b"),
        "lang",
        F.col("n_sh").alias("n_b"),
        F.posexplode("by_hash").alias("pb", "ph"),
    )
    # SIZE prune (lossless): |A∩B| ≤ |B|, so C(A→B) ≥ t needs
    # n_b ≥ t·n_a — drop undersized index docs inside the join.
    # POSITIONAL prune (lossless, the ngram_jaccard_pairs PPJoin
    # bound): per pair keep the smallest shared element (group min
    # over the md5 order); for a true pair it is the smallest COMMON
    # element of the two sets (≤ n_a − ⌈t·n_a⌉ non-common elements
    # precede it in A, so it lies in A's prefix; the index side is
    # unsliced), every other common element sits strictly after it
    # in both sorted arrays, so |A∩B| ≤ 1 + min(n_a−1−pa, n_b−1−pb);
    # containment ≥ t needs |A∩B| ≥ t·n_a. Both prunes only drop
    # pairs the exact verify would reject — output unchanged. The
    # keep-side slack is RELATIVE (scaled by n_a, the compared
    # magnitude) so the prune stays provably lossless at any document
    # size — an absolute 1e-9 would be smaller than one ulp of t·n_a
    # once shingle counts pass ~1e8 (r12 advice).
    ub = F.lit(1) + F.least(
        F.col("n_a") - 1 - F.col("pa"), F.col("n_b") - 1 - F.col("pb")
    )
    slack = F.lit(1e-9) * F.col("n_a")
    cand = (
        probe.join(index, ["lang", "ph"])
        .filter(
            (F.col("doc_a") != F.col("doc_b"))
            & (F.col("n_b") >= F.lit(threshold) * F.col("n_a") - slack)
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.min(F.struct("ph", "pa", "pb", "n_a", "n_b")).alias("m"))
        .select("doc_a", "doc_b", "m.pa", "m.pb", "m.n_a", "m.n_b")
        .filter(
            ub >= F.lit(threshold) * F.col("n_a") - slack
        )
        .select("doc_a", "doc_b")
    )
    sh_a = s.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.col("n_sh").alias("n_a"),
    )
    sh_b = s.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    out = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn(
            "containment",
            F.size(F.array_intersect("sh_a", "sh_b")) / F.col("n_a"),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment")
    )
    return out


def repeated_spans(
    documents: DataFrame,
    k: int = 5,
    min_count: int = 2,
    _toks: DataFrame | None = None,
) -> DataFrame:
    """Exact repeated-substring span detection: maximal token spans
    whose every ``k``-gram occurs at least ``min_count`` times across
    the corpus — the ExactSubstr construction of Lee et al.
    ("Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499), which removes verbatim boilerplate/license/
    template runs that document-level MinHash can never see.

    Suffix arrays are the single-machine tool; the distributed
    equivalent is a k-gram position index: a span repeats iff each of
    its overlapping k-grams repeats, so (1) explode every k-gram START
    position, (2) keep grams whose corpus count ≥ ``min_count``
    (grouped on md5 of the gram — fixed 32-char shuffle keys instead
    of raw text), (3) merge each doc's surviving consecutive start
    positions into maximal runs (a run of starts [i..j] covers tokens
    [i, j+k-1]). Per-doc windows only — no global sort; the gram
    count agg is the one corpus-wide shuffle, integer partial aggs
    both sides.

    Output: (doc_id, start_tok, end_tok, span_tokens) with 0-based
    inclusive token offsets; downstream policy (cut spans, drop docs,
    keep first occurrence) composes on top. Note min_count counts ALL
    occurrences, so a phrase repeated twice in ONE document also
    qualifies — matching ExactSubstr.

    ``_toks``: private seam for ``strip_repeated_spans`` — an
    already-built (doc_id, tk) frame so the strip path tokenizes the
    corpus once, not three times.
    """
    toks = (
        _spread(documents).select("doc_id", tokens_expr("text").alias("tk"))
        if _toks is None
        else _toks
    ).filter(F.size("tk") >= k)
    # grams has TWO consumers (gram-count agg + hits join) but stays
    # UNPINNED deliberately: it is the corpus-scale exploded frame,
    # and checkpointing it measured flat (2.41 -> 2.37 s) — the
    # materialization costs as much as the recompute, the same
    # raw-scale-frame rule as the profiler pin revert
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("tk") - k),
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice(F.col("tk"), i + 1, F.lit(k)))
                ),
            )
        ).alias("pos", "gh"),
    )
    dup = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("gh")
    )
    hits = grams.join(dup, "gh").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = hits.withColumn(
        "_brk",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") - F.lag("pos").over(w) > 1),
            1,
        ).otherwise(0),
    ).withColumn(
        "_run",
        F.sum("_brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return runs.groupBy("doc_id", "_run").agg(
        F.min("pos").cast("long").alias("start_tok"),
        (F.max("pos") + (k - 1)).cast("long").alias("end_tok"),
        (F.max("pos") - F.min("pos") + k).cast("long").alias("span_tokens"),
    ).select("doc_id", "start_tok", "end_tok", "span_tokens")


def strip_repeated_spans(
    documents: DataFrame, k: int = 5, min_count: int = 2
) -> DataFrame:
    """Apply-side of ``repeated_spans``: the cleaned corpus with every
    repeated span cut out of every document (conservative boilerplate
    removal — license blocks, navigation chrome, templated headers
    vanish corpus-wide; Lee et al. instead keep one occurrence, a
    policy that needs a global owner election and buys little when the
    repeats are boilerplate rather than content).

    Span rows explode into their covered token positions (fan-out =
    total boilerplate tokens, bounded by corpus size), anti-join the
    position-exploded tokens on (doc_id, pos) — a plain equi-join, no
    range join — and each doc reassembles via an array_sort of
    (pos, term) structs: deterministic under any partitioning, one
    doc-keyed shuffle. Docs that were pure boilerplate come back as
    empty strings (kept, so downstream length filters decide their
    fate explicitly).
    """
    # ONE tokenization for the whole strip: the (doc_id, tk) frame
    # feeds the span detection (via repeated_spans' _toks seam), the
    # position explode, and the total-token count — without the shared
    # pin the corpus tokenizes three times (measured 0.7x after)
    base = (
        _spread(documents)
        .select("doc_id", tokens_expr("text").alias("tk"))
        .transform(local_checkpoint, eager=False)
    )
    spans = repeated_spans(documents, k=k, min_count=min_count, _toks=base)
    covered = spans.select(
        "doc_id",
        F.explode(F.sequence("start_tok", "end_tok")).alias("pos"),
    ).distinct()
    toks = base.select(
        "doc_id", F.posexplode("tk").alias("pos", "term")
    ).filter(F.col("term") != "")
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "term"))),
                lambda s: s["term"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    # NULL-text docs: tk is NULL, and size(NULL) is NULL under ANSI —
    # n_removed would come back NULL instead of 0 (the line-strip
    # family's explicit contract; r12 review find)
    n_tok = F.when(F.col("tk").isNull(), F.lit(0)).otherwise(
        F.size(F.filter(F.col("tk"), lambda t: t != ""))
    )
    return (
        base.select("doc_id", n_tok.alias("_n"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("_n") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
        )
    )


def dedup_audit(
    documents: DataFrame,
    threshold: float = 0.5,
    sample_frac: float | None = None,
    seed: int = 42,
) -> DataFrame:
    """Recall audit of the MinHash/LSH near-dup path against the
    EXACT prefix-filter Jaccard join at the same threshold — the
    "measure the approximation, don't guess" report a curation run
    publishes before trusting banded LSH at a new threshold or
    shingle size.

    Both sides verify true Jaccard over identical shingle sets, but
    their candidate universes differ: the exact join blocks by
    language while MinHash bands are language-blind, so the LSH side
    is first restricted to same-language pairs (via a broadcast-able
    doc→lang attach) to compare like with like. Within that universe
    LSH is a SUBSET of exact (precision 1.0 by construction); what
    banding can lose is recall — similar pairs whose signatures never
    collide in any band. Output is ONE row: exact pairs, LSH pairs,
    hits, misses, recall.

    Scale shape: candidate generation is the two (already linear-ish)
    verified generators, but their candidate sets are UNIONED with
    provenance flags and verified ONCE — one exact-Jaccard join over
    the shared shingle frame instead of one per side — and every
    audit count derives from the flags in a single 1-row aggregate.
    At 100 TB pass ``sample_frac`` — recall
    is a property of the band geometry, not the corpus size, so a
    deterministic hash sample of the documents (both sides audit the
    IDENTICAL sampled universe; xxhash64 on doc_id, never ``rand()``,
    so reruns and engines agree) estimates it at a fraction of the
    pair cost. ``sample_frac=None`` (the oracle-parity default)
    audits everything.
    """
    if sample_frac is not None:
        m = 1_000_000
        documents = documents.filter(
            F.pmod(F.xxhash64("doc_id", F.lit(seed)), F.lit(m))
            < int(sample_frac * m)
        )
    # ONE corpus tokenize+shingle scan for BOTH sides (r12 review
    # find: each side previously built and persisted its own
    # _shingle_sets over the identical universe — the dominant cost
    # of the audit, paid twice). with_hash stages the sorted md5
    # image into the SAME persisted frame: the prefix-filter side's
    # total order and the minhash side's signature family both
    # consume it, so every shingle is hashed once, not once per side.
    shared = pin(_shingle_sets(documents, nonempty=True, with_hash=True))
    # ONE O(|A|+|B|) exact-Jaccard verify for BOTH sides (r13): the
    # exact and LSH candidate sets overlap heavily (banding candidates
    # are near-dups the prefix filter also finds), and each side
    # previously ran its own verify join over the persisted shingle
    # frame. Instead, union the two candidate universes with
    # provenance flags, verify the union once, and derive every audit
    # count from the flags:
    #   n_exact  = verified ∧ in_exact  (≡ verify(prefix candidates):
    #              the prefix filter is lossless, so every pair with
    #              J ≥ t is in it),
    #   n_lsh    = verified ∧ in_lsh    (the same-lang band candidates
    #              — the lang restriction commutes with the verify
    #              because lang is a property of the pair, not of the
    #              jaccard),
    #   n_hits   = verified ∧ both      (old hits = lsh ⋈ truth = the
    #              pairs that verify from both universes).
    # This also collapses the three 1-row aggregates + two broadcast
    # joins + the pair-keyed hit join into ONE aggregate.
    s = shared.withColumn("n_sh", F.size("shingles"))
    exact_cand = _prefix_filter_candidates(s, threshold)
    _sh, bands = _band_frame(documents, "doc_id", _shingles=shared)
    bands = pin(bands)
    # lang attach from the SHARED frame (every candidate doc has
    # shingle rows by construction, so the lookup is total and the
    # values identical to the documents table's)
    langs = shared.select("doc_id", "lang")
    band_cand = (
        _band_candidates(bands)
        .join(
            langs.select(
                F.col("doc_id").alias("doc_a"), F.col("lang").alias("_la")
            ),
            "doc_a",
        )
        .join(
            langs.select(
                F.col("doc_id").alias("doc_b"), F.col("lang").alias("_lb")
            ),
            "doc_b",
        )
        .filter(F.col("_la") == F.col("_lb"))
        .select("doc_a", "doc_b")
    )
    cand = (
        exact_cand.select(
            "doc_a",
            "doc_b",
            F.lit(True).alias("in_exact"),
            F.lit(False).alias("in_lsh"),
        )
        .unionByName(
            band_cand.select(
                "doc_a",
                "doc_b",
                F.lit(False).alias("in_exact"),
                F.lit(True).alias("in_lsh"),
            )
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max("in_exact").alias("in_exact"),
            F.max("in_lsh").alias("in_lsh"),
        )
    )
    verified = _jaccard_verify_pairs(
        cand, shared, threshold, keep=("in_exact", "in_lsh")
    )
    return (
        verified.agg(
            F.count(F.when(F.col("in_exact"), 1)).alias("n_exact_pairs"),
            F.count(F.when(F.col("in_lsh"), 1)).alias("n_lsh_pairs"),
            F.count(F.when(F.col("in_exact") & F.col("in_lsh"), 1)).alias(
                "n_hits"
            ),
        )
        .select(
            "n_exact_pairs",
            "n_lsh_pairs",
            "n_hits",
            (F.col("n_exact_pairs") - F.col("n_hits")).alias("n_missed"),
            F.when(
                F.col("n_exact_pairs") > 0,
                F.round(
                    F.col("n_hits").cast("double")
                    / F.col("n_exact_pairs"),
                    6,
                ),
            )
            .otherwise(F.lit(1.0))
            .alias("recall"),
        )
    )


def dup_cluster_histogram(
    documents: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """"How duplicated is my corpus" in one small frame: the
    distribution of near-dup cluster sizes — clusters and docs per
    size, and how many docs a keep-one policy would remove
    (``n_docs − n_clusters``). The number a dedup run quotes first.

    Composes the verified connected components; the histogram itself
    is one aggregate over the doc-grain labels (output rows bounded
    by the largest cluster size).
    """
    c = dedup_clusters(documents, pairs)
    return (
        c.groupBy("cluster_size")
        .agg(
            F.countDistinct("cluster_id").alias("n_clusters"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .select(
            "cluster_size",
            "n_clusters",
            "n_docs",
            (F.col("n_docs") - F.col("n_clusters")).alias("n_removable"),
        )
    )


def soft_dedup_weights(
    documents: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """Soft dedup: instead of dropping near-duplicates, weight every
    document by ``1 / cluster_size`` so each near-dup cluster carries
    the total sampling mass of ONE document — the frequency-based
    down-weighting alternative to ``dedup_apply``'s keep-one policy
    (duplicated content often correlates with quality; keeping all
    copies at reduced weight preserves diversity of near-identical
    variants while removing the repetition bias at training time).

    A thin weighting layer over the verified ``dedup_clusters``
    components — singletons get weight 1.0; the weight column feeds
    the same weighted-sampling machinery as ``mix_weights``. One
    float division per doc, rounded to 6 dp: engine-exact.
    """
    labels = dedup_clusters(documents, pairs=pairs)
    return labels.select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        F.round(F.lit(1.0) / F.col("cluster_size"), 6).alias("weight"),
    )


def docs_as_lines(documents: DataFrame, width: int = 8) -> DataFrame:
    """Deterministic doc→multi-line bridge for the LINE-level dedup
    family (same role as ``multimodal.docs_as_media``): rewrap each
    document's normalized tokens into fixed-``width`` newline-joined
    lines, so a corpus whose synthetic texts are single-line still
    exercises cross-document line collisions (planted near-dup docs
    share aligned token runs, so their rewrapped lines collide).

    SQL-expressible on both engines (tokens → generate_series slices
    → string_agg), which is what makes ``common_lines`` /
    ``strip_common_lines`` oracle-checkable on this testdata. Docs
    with zero tokens are dropped — they have no lines to carry.
    """
    toks = F.filter(tokens_expr("text"), lambda t: t != "")
    base = (
        _spread(documents)
        .select("doc_id", toks.alias("_tk"))
        .filter(F.size("_tk") > 0)
    )
    n_lines = F.ceil(F.size("_tk") / F.lit(width)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.concat_ws(" ", F.slice(F.col("_tk"), i * width + 1, width)),
    )
    return base.select(
        "doc_id", F.concat_ws("\n", lines).alias("text")
    )


def _doc_lines(documents: DataFrame) -> DataFrame:
    """(doc_id, pos, line) — newline-split positions, blanks dropped.

    Blank lines are structural, not content: they carry no dedup
    signal and counting them would let a run of empty lines dominate
    doc-frequency ranks.
    """
    return (
        _spread(documents)
        .select(
            "doc_id",
            F.posexplode(F.split("text", "\n")).alias("pos", "line"),
        )
        .filter(F.col("line") != "")
    )


def common_lines(documents: DataFrame, min_df: int = 2) -> DataFrame:
    """Line-frequency index: every text line appearing in at least
    ``min_df`` DISTINCT documents, with its document frequency and
    total occurrence count — the diagnostic half of CCNet-style
    line-level dedup (Wenzek et al., "CCNet: Extracting High Quality
    Monolingual Datasets from Web Crawl Data", arXiv:1911.00359),
    which targets boilerplate the document-level family can't see:
    navigation chrome, cookie banners, and footer lines that repeat
    across MANY documents while each document stays globally unique.

    One explode + one distinct-count aggregate: the countDistinct
    plans as a two-phase agg keyed on (line, doc_id), so the shuffle
    carries each distinct (line, doc_id) pair once per map partition
    — for a footer in 1M docs that is ~1M shuffle rows, linear in the
    corpus, not in raw occurrences. The ``min_df`` HAVING cut keeps
    the OUTPUT to the repeated tail. Complements ``repeated_spans``
    (token k-grams, position-aware): lines are the newline-structural
    unit.
    """
    return (
        _doc_lines(documents)
        .groupBy("line")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("doc_freq"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        )
        .filter(F.col("doc_freq") >= min_df)
    )


def strip_common_lines(documents: DataFrame, min_df: int = 2) -> DataFrame:
    """Apply-side of ``common_lines``: the corpus with every line
    appearing in ≥ ``min_df`` distinct documents removed from every
    document (CCNet's paragraph-dedup policy — boilerplate lines
    vanish corpus-wide; content lines, which are document-unique,
    survive untouched).

    The line-frequency cut is ONE corpus-wide groupBy; the strip is a
    left_anti equi-join on the line string; reassembly is the same
    sort_array-of-(pos, line)-structs fold ``strip_repeated_spans``
    uses — deterministic under any partitioning, one doc-keyed
    shuffle. Docs whose every line was boilerplate come back as empty
    strings (kept, so downstream length filters decide their fate
    explicitly); NULL text passes through as NULL with zero counts —
    absent content has no lines, and the caller keeps NULL policy.
    Blank lines are dropped during reassembly — they are delimiter
    artifacts, not content.
    """
    # three consumers (frequency agg, anti-join probe, per-doc line
    # totals) — pin the exploded frame or Catalyst re-runs the
    # explode per consumer
    lines = _doc_lines(documents).transform(local_checkpoint, eager=False)
    common = (
        lines.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("_df"))
        .filter(F.col("_df") >= min_df)
        .select("line")
    )
    kept = lines.join(common, "line", "left_anti")
    return _rebuild_stripped(documents, lines, kept)


def _rebuild_stripped(
    documents: DataFrame, lines: DataFrame, kept: DataFrame
) -> DataFrame:
    """Shared tail of the line-strip family: reassemble surviving
    (doc_id, pos, line) rows into clean text + kept/removed counts.

    Per-doc totals REUSE the (checkpointed) exploded frame —
    recomputing them from ``documents`` would re-run the whole
    upstream subtree (at the driver entry that subtree is the
    ``docs_as_lines`` rewrap) a second time. NULL text passes through
    as NULL with zero counts.
    """
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_lines_kept"),
    )
    totals = lines.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    base = documents.select("doc_id", F.col("text").isNull().alias("_null"))
    return (
        base.join(totals, "doc_id", "left")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_null"), F.lit(None).cast("string"))
            .otherwise(F.coalesce("clean_text", F.lit("")))
            .alias("clean_text"),
            F.coalesce("n_lines_kept", F.lit(0))
            .cast("long")
            .alias("n_lines_kept"),
            (
                F.coalesce("_n", F.lit(0))
                - F.coalesce("n_lines_kept", F.lit(0))
            )
            .cast("long")
            .alias("n_lines_removed"),
        )
    )


def write_line_index(
    documents: DataFrame,
    prefix: str,
    n_buckets: int = 32,
    mode: str = "append",
    batch_id: int | None = None,
) -> None:
    """Persist a batch's line-frequency partials to the stored
    boilerplate index ``{prefix}_lines`` (bucketed on ``line_hash``)
    — the production form of ``common_lines``'s corpus side: count
    each ingest batch ONCE at ingest, then every daily drop strips
    against the store without re-reading corpus text.

    The table is APPEND-ONLY partial aggregates: each batch writes
    one (line_hash, doc_freq, n_occurrences) row per distinct line,
    and readers fold with a sum — exchange-free, because the table is
    bucketed on the fold key. ``mode`` therefore DEFAULTS to append
    (an accidental overwrite would silently reset every historic
    count — the exact failure the store exists to prevent); pass
    ``mode="overwrite"`` only for a from-scratch rebuild. Counts ADD
    across batches because a document belongs to exactly ONE ingest
    batch (the same doc-disjointness contract as
    ``dedup_incremental``); re-staging the same docs double-counts,
    exactly like re-inserting them would anywhere else. Lines ride as
    md5 hashes — fixed 32-char join keys instead of raw text, same
    trade as the k-gram index. Appends accumulate one row per
    (batch, distinct line); ``compact_line_index`` folds them back to
    one row per line when the partial tail grows long.

    Pass ``batch_id`` (e.g. the foreachBatch epoch) to make the
    append IDEMPOTENT under at-least-once replay — see
    ``write_line_partials``.
    """
    lines = _doc_lines(documents).withColumn("line_hash", F.md5("line"))
    write_line_partials(
        lines, prefix, n_buckets=n_buckets, mode=mode, batch_id=batch_id
    )


def _line_index_location(spark, prefix: str) -> str:
    """Warehouse URI of the ``{prefix}_lines`` table directory, scheme
    preserved (file:/hdfs:/s3a:)."""
    row = [
        r
        for r in spark.sql(
            f"DESCRIBE FORMATTED {prefix}_lines"
        ).collect()
        if r.col_name.strip() == "Location"
    ][0]
    return row.data_type.strip().rstrip("/")


def _line_index_marker_dir(spark, prefix: str) -> str:
    """URI of the directory holding the line index's applied-batch
    markers: a SIBLING of the table directory (``_{table}_applied``
    next to it in the warehouse), NOT inside it — ``saveAsTable``
    overwrite and ``compact_line_index`` recreate the table directory,
    and markers must survive compaction (a compacted batch is still
    applied). The scheme is PRESERVED (file:/hdfs:/s3a:) so markers
    land on the warehouse filesystem, not the driver's local disk —
    a driver restarted on another host (the main at-least-once replay
    case) must still see them."""
    loc = _line_index_location(spark, prefix)
    parent, base = loc.rsplit("/", 1)
    return f"{parent}/_{base}_applied"


def _line_index_staged_dir(spark, prefix: str, batch_id: int) -> str:
    """Staging URI for one batch's partials: ``_{table}_staged/
    batch-{id}`` beside the table, same sibling convention (and same
    rationale) as the marker directory."""
    loc = _line_index_location(spark, prefix)
    parent, base = loc.rsplit("/", 1)
    return f"{parent}/_{base}_staged/batch-{batch_id}"


def write_line_partials(
    lines: DataFrame,
    prefix: str,
    n_buckets: int = 32,
    mode: str = "append",
    batch_id: int | None = None,
) -> None:
    """Fold an already-exploded (doc_id, line_hash) frame into the
    store — the seam that lets ``run_stream_line_strip`` append the
    SAME checkpointed frame the strip just consumed instead of
    re-exploding and re-hashing the drop's text a second time (the
    explode+md5 is the dominant per-batch cost for text-heavy drops).

    ``batch_id`` marker + STAGED COMMIT (same device as
    ``merge_rollup_store``, operators/warehouse.py): foreachBatch is
    at-least-once and an append-then-SUM fold is not idempotent — a
    re-delivered micro-batch would permanently double-count doc_freq.
    With a ``batch_id``, the batch's partials are first written as a
    bucketed EXTERNAL table at a staging path beside the store, the
    marker file is the commit point, and the staged bucket files are
    then renamed into the live table directory (bucket ids ride in
    the file names, so a moved file keeps its bucket). A re-delivery
    that finds the marker COMPLETES any interrupted promotion and is
    otherwise a no-op — a crash between the append and the marker can
    no longer double-apply (the r8 residual window): before the
    marker the live table is untouched and staging is recomputed;
    after it, promotion is idempotent (moved files are gone from
    staging). HDFS/local rename is atomic; on S3A replay stays
    correct but mid-promotion readers can see a partial batch.
    Markers live beside the table (not inside it) so compaction
    preserves them, and everything goes through the Hadoop FileSystem
    client so it lands on the WAREHOUSE filesystem (file:/hdfs:/s3a:
    alike), not the driver's local disk. A ``mode="overwrite"``
    rebuild — or a first append to a table name whose previous
    incarnation was dropped — CLEARS them: the fresh store's contents
    no longer correspond to the old applied set, and stale markers
    would silently skip a new stream's reused batch ids. After a
    rebuild, restart the stream from a source position consistent
    with the rebuilt store.
    """
    from ..functions.fsutil import fs_delete, fs_exists, fs_touch
    from ..sources.bucketing import write_bucketed

    spark = lines.sparkSession
    table = f"{prefix}_lines"
    table_exists = spark.catalog.tableExists(table)
    # one batch's (line_hash, doc_freq, n_occurrences) partials
    agg = lines.groupBy("line_hash").agg(
        F.countDistinct("doc_id").cast("long").alias("doc_freq"),
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
    )
    if batch_id is None or mode != "append":
        # rebuilds and unmarked appends keep the direct one-step write
        write_bucketed(
            agg, table, ["line_hash"], n_buckets=n_buckets, mode=mode
        )
        if mode == "overwrite" or not table_exists:
            fs_delete(spark, _line_index_marker_dir(spark, prefix))
        return
    if not table_exists:
        # materialize the store EMPTY first so even the first marked
        # append runs through the staged path (a direct first write
        # would re-open the crash-between-append-and-marker window for
        # batch 0), then reset any stale marker set from a dropped
        # previous incarnation.
        write_bucketed(
            agg.limit(0), table, ["line_hash"],
            n_buckets=n_buckets, mode="overwrite",
        )
        fs_delete(spark, _line_index_marker_dir(spark, prefix))
    live_buckets = _line_index_n_buckets(spark, prefix)
    if live_buckets is not None and live_buckets != n_buckets:
        # the r8 direct append went through saveAsTable, which raises
        # on a mismatched bucket spec; the staged file-promotion path
        # must keep that validation — renaming files bucketed mod
        # n_buckets into a live mod-live_buckets table would silently
        # corrupt every exchange-free read against it
        raise ValueError(
            f"write_line_partials: n_buckets={n_buckets} does not "
            f"match the existing {prefix}_lines table "
            f"(bucketed {live_buckets}) — pass the store's bucket "
            "count or rebuild with mode='overwrite'"
        )
    marker = f"{_line_index_marker_dir(spark, prefix)}/batch-{batch_id}"
    staged_dir = _line_index_staged_dir(spark, prefix, batch_id)
    if fs_exists(spark, marker):
        # committed: finish any interrupted promotion, then no-op
        _promote_staged_bucket_files(spark, staged_dir, prefix)
        return
    # stage: a bucketed external table at the staging path, identical
    # bucket spec to the store — its part files are directly
    # promotable. Metadata is dropped immediately (files stay), so
    # recovery never depends on a catalog entry surviving a crash.
    staged_table = f"{prefix}_lines_staged_b{batch_id}"
    spark.sql(f"DROP TABLE IF EXISTS {staged_table}")
    fs_delete(spark, staged_dir)
    (
        agg.repartition(n_buckets, agg["line_hash"])
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, "line_hash")
        .sortBy("line_hash")
        .option("path", staged_dir)
        .saveAsTable(staged_table)
    )
    spark.sql(f"DROP TABLE IF EXISTS {staged_table}")
    fs_touch(spark, marker)
    _promote_staged_bucket_files(spark, staged_dir, prefix)


def _promote_staged_bucket_files(spark, staged_dir: str, prefix: str) -> None:
    """Move every staged bucket file still under ``staged_dir`` into
    the live ``{prefix}_lines`` table directory via the shared
    ``fsutil.promote_staged`` protocol (idempotent under replay, S3A
    partial-rename safe — part file names embed a per-job UUID, so a
    staged name colliding with a live file can only be THIS batch's
    own interrupted copy, which delete-then-rename re-lands), then
    refresh the table's file listing."""
    from ..functions.fsutil import promote_staged

    promote_staged(
        spark, staged_dir, _line_index_location(spark, prefix), "part-"
    )
    spark.catalog.refreshTable(f"{prefix}_lines")


def _line_index_n_buckets(spark, prefix: str) -> int | None:
    """Bucket count of the live ``{prefix}_lines`` table, from the
    catalog (None when the table is somehow unbucketed)."""
    for r in spark.sql(f"DESCRIBE FORMATTED {prefix}_lines").collect():
        if r.col_name.strip() == "Num Buckets":
            return int(r.data_type.strip())
    return None


def compact_line_index(
    spark, prefix: str, n_buckets: int | None = None
) -> None:
    """Fold the append-only partials of ``{prefix}_lines`` back to
    ONE row per line_hash, bounding the store-side scan every strip
    pays (appends add a row per batch per line; after N drops a
    daily footer costs N rows until compacted).

    ``n_buckets`` defaults to the LIVE table's bucket count (r12
    review find: a fixed default silently re-bucketed a store built
    with a different count, and the next marked append then died on
    the bucket-mismatch guard); pass it explicitly only to
    deliberately re-bucket.

    The merged aggregate is eagerly localCheckpointed BEFORE the
    overwrite — the write must not depend on the very table files it
    replaces. The checkpoint is index-aggregate-sized (one row per
    distinct line), not corpus-sized.
    """
    if n_buckets is None:
        n_buckets = _line_index_n_buckets(spark, prefix) or 32
    merged = (
        spark.table(f"{prefix}_lines")
        .groupBy("line_hash")
        .agg(
            F.sum("doc_freq").cast("long").alias("doc_freq"),
            F.sum("n_occurrences").cast("long").alias("n_occurrences"),
        )
        .transform(local_checkpoint)
    )
    from ..sources.bucketing import write_bucketed

    write_bucketed(
        merged,
        f"{prefix}_lines",
        ["line_hash"],
        n_buckets=n_buckets,
        mode="overwrite",
    )


def strip_against_line_index(
    new_docs: DataFrame,
    prefix: str,
    min_df: int = 2,
    lines_out: list | None = None,
) -> DataFrame:
    """``strip_common_lines`` for a NEW batch against the stored line
    index (see ``write_line_index``): a line is boilerplate when its
    stored corpus doc-frequency plus its doc-frequency within THIS
    batch reaches ``min_df`` — so cross-batch boilerplate (a footer
    seen once per daily drop, never twice in one) is caught, which
    per-batch ``strip_common_lines`` structurally cannot do.

    Per-drop SHUFFLE is O(batch): only the drop's 32-char hashes move,
    and the index side's fold is an exchange-free bucketed groupBy.
    The store-side SCAN is linear in the index itself — distinct
    lines plus appended partials, not corpus text — so run
    ``compact_line_index`` periodically to keep that scan at one row
    per line. The batch is NOT folded into the store by the strip —
    call ``write_line_index(...)`` (append) after it, keeping
    count-then-strip ordering the caller's explicit choice.
    """
    spark = new_docs.sparkSession
    # four consumers of the exploded batch (batch-df agg, anti-join
    # probe, reassembly, totals) — checkpoint or each re-explodes
    lines = (
        _doc_lines(new_docs)
        .withColumn("line_hash", F.md5("line"))
        .transform(local_checkpoint, eager=False)
    )
    if lines_out is not None:
        # hand the checkpointed frame to the caller so a following
        # write_line_partials fold reuses it instead of re-exploding
        # the batch; its blocks are GC-managed like every other lazy
        # localCheckpoint in the engine — dropping the reference after
        # the fold is what frees them
        lines_out.append(lines)
    stored = spark.table(f"{prefix}_lines").groupBy("line_hash").agg(
        F.sum("doc_freq").alias("_stored_df")
    )
    batch_df = lines.groupBy("line_hash").agg(
        F.countDistinct("doc_id").alias("_batch_df")
    )
    common = (
        batch_df.join(stored, "line_hash", "left")
        .filter(
            F.coalesce("_stored_df", F.lit(0)) + F.col("_batch_df")
            >= min_df
        )
        .select("line_hash")
    )
    kept = lines.join(common, "line_hash", "left_anti")
    return _rebuild_stripped(new_docs, lines, kept)
