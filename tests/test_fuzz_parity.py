"""Seeded random brute-force parity for the order-sensitive operator
families: connected components, gap sessionization, and interval
union. Hand-case tests pin the documented tie semantics; these fuzz
runs pin them against independent pure-Python references on inputs
with ties, one-sided users, and adversarial chains that hand cases
can't enumerate.
"""

from __future__ import annotations

import random


def _union_find(n_ids, edges):
    parent = {i: i for i in n_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for i in n_ids:
        comp.setdefault(find(i), []).append(i)
    # operator contract: cluster_id = min doc_id in the component
    return {
        i: (min(members), len(members))
        for members in comp.values()
        for i in members
    }


def test_dedup_clusters_random_graph_vs_union_find(spark):
    from py_etl_pipeline_woocommerce_spark.operators.dedup import dedup_clusters

    rng = random.Random(11)
    ids = list(range(1, 121))
    edges = sorted(
        {
            tuple(sorted(rng.sample(ids, 2)))
            for _ in range(150)
        }
    )
    expected = _union_find(ids, edges)
    docs = spark.createDataFrame(
        [(i, f"doc {i}", "en", "s") for i in ids],
        "doc_id bigint, text string, lang string, source string",
    )
    pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    got = {
        r.doc_id: (r.cluster_id, r.cluster_size)
        for r in dedup_clusters(docs, pairs=pairs).collect()
    }
    assert got == expected


def test_sessionize_random_events_vs_python(spark):
    from py_etl_pipeline_woocommerce_spark.operators.sessionize import (
        sessionize,
    )

    rng = random.Random(23)
    GAP_US = 30 * 60 * 1_000_000
    rows = []
    for eid in range(1, 301):
        rows.append(
            (
                eid,
                rng.randint(0, 200) * (10 * 60 * 1_000_000_000),  # ns
                rng.randint(1, 8),
                "view",
                float(rng.randint(0, 5)),
            )
        )
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts long, user_id long, event_type string, value double",
    )
    # python reference: sort per user by (us, id), split on gap > 30min
    per_user = {}
    for eid, ts, u, _t, v in rows:
        per_user.setdefault(u, []).append((ts // 1000, eid, v))
    expected = set()
    for u, evs in per_user.items():
        evs.sort()
        sessions = []
        for t, eid, v in evs:
            if sessions and t - sessions[-1][-1][0] <= GAP_US:
                sessions[-1].append((t, eid, v))
            else:
                sessions.append([(t, eid, v)])
        for seq, s in enumerate(sessions, 1):
            expected.add(
                (
                    u,
                    seq,
                    len(s),
                    s[0][0],
                    max(x[0] for x in s),
                    round(sum(x[2] for x in s), 2),
                )
            )
    got = {
        (
            r.user_id,
            r.session_seq,
            r.n_events,
            r.start_us,
            r.end_us,
            round(r.total_value, 2),
        )
        for r in sessionize(ev).collect()
    }
    assert got == expected


def test_merge_intervals_random_vs_python(spark):
    from py_etl_pipeline_woocommerce_spark.operators.temporal import (
        merge_intervals,
    )

    rng = random.Random(31)
    TTL_US = 30 * 60 * 1_000_000
    rows = []
    for eid in range(1, 301):
        rows.append(
            (
                eid,
                rng.randint(0, 300) * (7 * 60 * 1_000_000_000),  # ns
                rng.randint(1, 8),
                "hb",
                0.0,
            )
        )
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts long, user_id long, event_type string, value double",
    )
    per_user = {}
    for eid, ts, u, _t, _v in rows:
        per_user.setdefault(u, []).append(ts // 1000)
    expected = set()
    for u, starts in per_user.items():
        starts.sort()
        islands = []
        for t in starts:
            if islands and t <= islands[-1][1]:  # touching extends
                islands[-1][1] = max(islands[-1][1], t + TTL_US)
                islands[-1][2] += 1
            else:
                islands.append([t, t + TTL_US, 1])
        for s, e, n in islands:
            expected.add((u, s, e, n, e - s))
    got = {
        (r.user_id, r.start_us, r.end_us, r.n_events, r.covered_us)
        for r in merge_intervals(ev, ttl_us=TTL_US).collect()
    }
    assert got == expected


def test_bpe_train_and_segment_random_corpora(spark):
    """Seeded random-corpus parity for the BPE family: tiny alphabets
    maximize pair-count ties, overlap runs (aaa...), and early merge
    exhaustion — the adversarial shapes the hand cases can't
    enumerate. Spark training must equal the pure-Python trainer
    merge-for-merge, and the JVM fold-chain segmentation must equal
    replaying the merges with apply_merge_py on every distinct
    token."""
    from py_etl_pipeline_woocommerce_spark.operators import bpe

    rng = random.Random(20260816)
    for trial in range(5):
        alphabet = "ab" if trial % 2 == 0 else "abc"
        n_docs = rng.randint(2, 6)
        docs = []
        for d in range(n_docs):
            words = [
                "".join(
                    rng.choice(alphabet)
                    for _ in range(rng.randint(1, 6))
                )
                for _ in range(rng.randint(0, 8))
            ]
            docs.append((d, " ".join(words) if words else None))
        df = spark.createDataFrame(docs, "doc_id bigint, text string")
        n_merges = rng.randint(1, 6)

        wc = [
            (r["token"], int(r["tok_count"]))
            for r in bpe.vocab_counts(df).collect()
        ]
        exp_merges, exp_vocab = bpe.train_merges_py(wc, n_merges)
        got_merges = sorted(
            tuple(r) for r in bpe.bpe_train(df, n_merges).collect()
        )
        assert got_merges == sorted(exp_merges), (trial, docs)

        pairs = [(l, r) for _, l, r, _ in exp_merges]
        toks = [t for t, _ in wc]
        if toks:
            tdf = spark.createDataFrame(
                [(t,) for t in toks], "token string"
            )
            got_seg = {
                r["token"]: list(r["symbols"])
                for r in bpe.segment_tokens(tdf, pairs).collect()
            }
            assert got_seg == exp_vocab, (trial, docs, pairs)
