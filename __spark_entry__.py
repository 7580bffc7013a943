"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship fct_orders build (normalize → money
rollup → refunds) at sf0.001.

``queries()`` — one callable per operator from SURVEY.md §2.
``oracle_sql()`` — DuckDB ANSI-SQL twin for each SQL-expressible
query. All money math runs in exact DECIMAL in BOTH engines and is
cast to DOUBLE only at the output boundary, so value hashes match
bit-for-bit regardless of partitioning. Timestamps cross the boundary
as epoch-microsecond BIGINTs (Spark µs vs DuckDB ns parity).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from py_etl_pipeline_woocommerce_spark.catalog import load_table
from py_etl_pipeline_woocommerce_spark.operators import (
    bpe,
    corpus,
    dedup,
    events,
    graph,
    skew,
    multimodal,
    packing,
    reduction,
    sessionize,
    similarity,
    temporal,
    textstats,
    warehouse,
)
from py_etl_pipeline_woocommerce_spark.operators.enrich import enrich_items_with_categories
from py_etl_pipeline_woocommerce_spark.operators.incremental import (
    assign_backfill_windows,
    filter_since,
)
from py_etl_pipeline_woocommerce_spark.operators.normalize import normalize_items, normalize_orders
from py_etl_pipeline_woocommerce_spark.operators.refunds import apply_refunds_items
from py_etl_pipeline_woocommerce_spark.operators.upsert import upsert_df
from py_etl_pipeline_woocommerce_spark.plans import analytics, dashboard, relational, woo_model


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: refund-aware fct_orders at sf0.001."""
    return woo_model.fct_orders(spark, "/root/testdata/sf0.001")


# --------------------------------------------------------------------
# queries(): (spark, sf_dir) -> DataFrame
# --------------------------------------------------------------------

def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _doc_sample_frac() -> float:
    """Deterministic sample fraction for the PAIRWISE-verify entries —
    the whole family whose ORACLES are O(true-pairs): on documents
    dedup_ngram_jaccard / dedup_simhash / dedup_containment /
    dedup_audit / dedup_minhash / dedup_clusters /
    dedup_incremental_near / doc_similarity_topk / lsh_index_digest,
    and on embeddings embedding_cosine_dup / semdedup_apply. Read
    from ``SPARK_GRAFT_DOC_SAMPLE`` in (0, 1]. Default 1.0 = full
    corpus — the driver contract is unchanged; the knob exists so the
    sf1+ scale gates (tools/selfcheck.py on a 10x-duplicate replica)
    can run these oracles on a hash-sampled universe instead of
    excluding them (VERDICT r11 item 3). Spark entry and DuckDB twin
    read the SAME variable and apply the SAME md5 predicate, so both
    engines see the identical sampled universe."""
    import os as _os

    raw = _os.environ.get("SPARK_GRAFT_DOC_SAMPLE", "")
    if not raw:
        return 1.0
    frac = float(raw)
    if not (0.0 < frac <= 1.0):
        raise ValueError(
            f"SPARK_GRAFT_DOC_SAMPLE must be in (0, 1], got {raw!r}"
        )
    return frac


#: md5-on-doc_id modulus shared by the Spark and DuckDB sample
#: predicates (first 8 hex nibbles of md5(doc_id-as-string) mod 1e6)
_DOC_SAMPLE_MOD = 1_000_000


def _pair_sampled(df, key: str):
    """Apply the shared md5-hash sample predicate to ``df`` on ``key``
    when the knob is active — the single Spark-side definition of the
    rule (_doc_sample_cte is its SQL twin; change them in lockstep)."""
    frac = _doc_sample_frac()
    if frac >= 1.0:
        return df
    from pyspark.sql import functions as F

    return df.filter(
        F.conv(
            F.substring(F.md5(F.col(key).cast("string")), 1, 8),
            16,
            10,
        ).cast("bigint")
        % _DOC_SAMPLE_MOD
        < int(frac * _DOC_SAMPLE_MOD)
    )


def _docs_pair_sampled(spark, sf_dir):
    """documents for the pairwise-verify dedup entries: the full table
    unless SPARK_GRAFT_DOC_SAMPLE < 1 (see _doc_sample_frac)."""
    return _pair_sampled(_docs(spark, sf_dir), "doc_id")


def _emb_pair_sampled(spark, sf_dir):
    """embeddings for the pairwise-verify similarity entries: full
    table unless SPARK_GRAFT_DOC_SAMPLE < 1 (same knob and md5 rule
    as the documents sample, keyed on vec_id)."""
    return _pair_sampled(_emb(spark, sf_dir), "vec_id")


def _doc_sample_cte(sql: str, table: str = "documents", key: str = "doc_id") -> str:
    """Rewrite a WITH-leading oracle SQL to read from an
    md5-hash-sampled CTE instead of the ``documents`` view when the
    sample knob is active. DuckDB rejects a CTE that shadows the view
    it reads (circular-reference binder error), so the CTE gets its
    own name and every table reference is rewritten to it."""
    frac = _doc_sample_frac()
    if frac >= 1.0:
        return sql
    import re as _re

    cut = int(frac * _DOC_SAMPLE_MOD)
    pred = (
        f"CAST('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 8) "
        f"AS BIGINT) % {_DOC_SAMPLE_MOD} < {cut}"
    )
    stripped = sql.lstrip()
    assert stripped.startswith("WITH "), "sample CTE needs WITH-leading SQL"
    # WITH RECURSIVE: the keyword must stay first; a non-recursive
    # CTE is legal inside the RECURSIVE list
    head = (
        "WITH RECURSIVE "
        if stripped.upper().startswith("WITH RECURSIVE")
        else "WITH "
    )
    body = _re.sub(rf"\b{table}\b", f"{table}_sampled", stripped)
    # normalize the consumed head (allow 'WITH RECURSIVE\n...')
    rest = body[len("WITH "):]
    if head == "WITH RECURSIVE ":
        rest = rest.lstrip()[len("RECURSIVE"):].lstrip()
    return (
        head
        + f"{table}_sampled AS (SELECT * FROM {table} WHERE "
        + pred
        + "),\n"
        + rest
    )


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


# Planted encoding-damage prefixes, shared by the Spark wrappers and
# the DuckDB oracles (ONE source — the linky-grammar lesson). The
# score wrapper exercises all four artifact classes; the fix wrapper
# only the two REPAIRABLE ones (a replacement char / raw C1 byte
# fails the strict UTF-8 round trip and correctly pins the whole doc
# unchanged — that's the all-or-nothing contract, not a fixture).
_MOJI_SCORE_PREFIX = "caf\u00c3\u00a9 it\u00e2\u20ac\u2122s \ufffd \u0080 "
_MOJI_FIX_PREFIX = "caf\u00c3\u00a9 it\u00e2\u20ac\u2122s "
_MOJI_FIXED_PREFIX = "caf\u00e9 it\u2019s "
#: sentence wrapper: planted boundaries + tab/newline trim exercise
_SENT_PREFIX = "First sentence. \t"
_SENT_SUFFIX = "! Tail one?\nEnd"


def _wrapped_docs(spark, sf_dir, prefix, suffix=""):
    """documents with deterministic planted text around the body —
    one wrapper for the mojibake and sentence entries (same column
    list as _docs, so the oracles' ``prefix || text || suffix``
    construction stays the single other copy)."""
    from pyspark.sql import functions as F

    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit(prefix), F.col("text"), F.lit(suffix)).alias("text"),
        "lang",
        "source",
        "n_chars",
    )


def _anchory_docs(spark, sf_dir):
    """documents wrapped in deterministic anchors exercising every
    anchor_texts rule: entity decode in the label, whitespace
    collapse/trim, unquoted href, and a nested-markup label."""
    from pyspark.sql import functions as F

    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit('<a href="https://www.site'),
            (F.col("doc_id") % 5).cast("string"),
            F.lit('.com/p/'),
            F.col("doc_id").cast("string"),
            F.lit('">t &amp; '),
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(
                "</a> <a href='//cdn.x.org/i' rel=nofollow>\tpad  "
                "label\n</a><a href=/un?a=1&amp;b=2>u</a>"
                '<a href="/rel">nested <b>x</b></a>'
            ),
        ).alias("text"),
        "lang",
        "source",
        "n_chars",
    )


def _linky_docs(spark, sf_dir):
    """documents wrapped in deterministic anchors with per-doc domain
    variety (doc_id % 5 picks the host, plus one shared CDN and a
    relative href) — the synthetic corpus has no markup, so the link
    census / blocklist entries plant their own, exactly like the
    extract_links entry does."""
    from pyspark.sql import functions as F

    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit('<a href="https://www.site'),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".com/p/"),
            F.col("doc_id").cast("string"),
            F.lit('">'),
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(
                "</a><img src='//cdn.shared.org/i.png'/>"
                '<a href="/rel">r</a>'
            ),
        ).alias("text"),
        "lang",
        "source",
        "n_chars",
    )


def _q_upsert(spark, sf_dir):
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders")
    existing = orders.select(
        F.col("o_orderkey").alias("order_id"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total"),
    )
    batch = (
        orders.filter(F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        .select(
            F.col("o_orderkey").alias("order_id"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.lit("refreshed").alias("status"),
            F.col("o_totalprice").alias("total"),
        )
    )
    return upsert_df(existing, batch, ["order_id"])


def _q_incremental(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return normalize_orders(filter_since(orders, "o_orderdate", "1996-01-01T00:00:00"))


def _q_backfill(spark, sf_dir):
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders")
    tagged = assign_backfill_windows(orders, "o_orderdate", "1992-01-01T00:00:00", 30)
    return tagged.groupBy("backfill_window").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("first_date"),
        F.max(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("last_date"),
    )


def _q_enrich(spark, sf_dir):
    items = normalize_items(load_table(spark, sf_dir, "lineitem"))
    return enrich_items_with_categories(items, load_table(spark, sf_dir, "part"))


def _q_items(spark, sf_dir):
    return apply_refunds_items(_q_enrich(spark, sf_dir))


def _q_re_enrich(spark, sf_dir):
    """Simulate stale items (odd product ids lose their snapshot), then
    re-enrich from a refreshed dim whose types are 'NEW_'-prefixed —
    proving only the missing rows take the fresh value."""
    from pyspark.sql import functions as F

    from py_etl_pipeline_woocommerce_spark.operators.enrich import (
        re_enrich_missing_categories,
    )

    stale = _q_enrich(spark, sf_dir).withColumn(
        "category_snapshot",
        F.when(F.col("product_id") % 2 == 1, F.lit(None)).otherwise(
            F.col("category_snapshot")
        ),
    )
    fresh_part = load_table(spark, sf_dir, "part").withColumn(
        "p_type", F.concat(F.lit("NEW_"), F.col("p_type"))
    )
    return re_enrich_missing_categories(stale, fresh_part)


def _q_scd2(spark, sf_dir):
    from pyspark.sql import functions as F

    from py_etl_pipeline_woocommerce_spark.operators.warehouse import scd2_apply

    part = load_table(spark, sf_dir, "part")
    current = part.select(
        "p_partkey",
        "p_type",
        "p_retailprice",
        F.lit(0).alias("valid_from"),
        F.lit(None).cast("int").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = part.filter(F.col("p_partkey") % 3 != 2).select(
        "p_partkey",
        F.when(
            F.col("p_partkey") % 2 == 1, F.concat(F.lit("NEW_"), F.col("p_type"))
        )
        .otherwise(F.col("p_type"))
        .alias("p_type"),
        "p_retailprice",
    )
    return scd2_apply(
        current, updates, "p_partkey", ["p_type", "p_retailprice"], batch_version=1
    )


def _q_snapshot_diff(spark, sf_dir):
    from pyspark.sql import functions as F

    from py_etl_pipeline_woocommerce_spark.operators.warehouse import snapshot_diff

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").cast("string").alias("total_c"),
    )
    after = (
        base.filter(F.col("o_orderkey") % 11 != 0)
        .withColumn(
            "total_c",
            F.when(
                F.col("o_orderkey") % 7 == 0,
                (F.col("total_c").cast("decimal(18,2)") + 1)
                .cast("decimal(18,2)")
                .cast("string"),
            ).otherwise(F.col("total_c")),
        )
        .unionByName(
            base.filter(F.col("o_orderkey") % 13 == 0).withColumn(
                "o_orderkey", -F.col("o_orderkey")
            )
        )
    )
    return snapshot_diff(
        base, after, "o_orderkey", ["o_orderstatus", "total_c"]
    )


def _q_dq(spark, sf_dir):
    from pyspark.sql import functions as F

    from py_etl_pipeline_woocommerce_spark.operators.warehouse import dq_summary

    orders = load_table(spark, sf_dir, "orders")
    dirty = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 10 == 0, F.lit(None).cast("bigint"))
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
        F.when(F.col("o_orderkey") % 17 == 0, -F.col("o_totalprice"))
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    dirty = dirty.unionByName(dirty.filter(F.col("o_orderkey") % 19 == 0))
    return dq_summary(
        dirty, "o_orderkey", not_null=["o_custkey"], non_negative=["o_totalprice"]
    )


def _q_dq_rules(spark, sf_dir):
    from pyspark.sql import functions as F

    from py_etl_pipeline_woocommerce_spark.operators.warehouse import dq_check

    orders = load_table(spark, sf_dir, "orders")
    dirty = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 10 == 0, F.lit(None).cast("bigint"))
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
        F.when(F.col("o_orderkey") % 17 == 0, -F.col("o_totalprice"))
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    return dq_check(
        dirty,
        {
            "custkey_not_null": "o_custkey IS NOT NULL",
            "totalprice_non_negative": "o_totalprice >= 0",
            "status_valid": "o_orderstatus IN ('O', 'F', 'P')",
        },
    )


# The driver's per-round CORRECTNESS budget stops after ~50 entries, so
# ordering decides what gets (re-)verified each round. Round 9 changed
# MORE entries than the budget holds (~75 across six review waves), so
# the front orders by RISK TIER:
#   T1 (positions 1-39): entries whose ORACLE TEXT or semantics
#      changed this round — int64/shift widenings, NULL/NaN lockstep
#      policies, the valid/cosable embedding guards, the quantity
#      floor, the event_props integral gate, pairwise-complete
#      numeric_corr, NULLS-FIRST hot_keys, the profiler TRY_CAST.
#   T2 (40-60): Spark-side behavior guards whose gate values are
#      unchanged (loud raises, rows-only sketch paths, token-policy
#      riders).
#   T3 (61-71): plan-only changes (growing-side broadcast-hint
#      removals, measured checkpoint pins) — value-identical by
#      construction.
# EVERY changed entry, all tiers, was re-gated green at sf0.01 by
# selfcheck when its wave landed, and the terminal full-surface
# selfcheck re-verifies all 208 on the final tree; the driver's
# 50-row budget covers T1 + half of T2.
# ROUND-10 ROTATION NOTE (updated after the r9b session): the front
# below leads with (a) the 14 NEVER-verified r9b operators
# (readability char_entropy link_domains filter_blocked_domains
# zipf_fit ngram_novelty curriculum_order embedding_outliers
# mojibake_score fix_mojibake split_sentences bpe_merge_candidates
# anchor_texts skipgram_pairs — all selfchecked hash-green at sf0.01
# AND sf0.1 when added, plus a mid-session full-surface 220/220), then
# (b) the r9b ORACLE-CHANGED event family (NULL-policy + floor-division
# lockstep moves: funnel_steps[_windowed] event_transitions
# user_overlap linear_attribution parse_event_props event_props_typed
# event_window_agg hopping_window_agg session_window_agg sessionize
# session_paths session_stats — each re-gated per-entry at sf0.01 in
# the same wave), then (c) the original r9 T1 risk tier. For r10:
# promote any r10 changes first, then the T2/T3 spill (position ~51
# on), then the r4-era tail enumerated in the git history of this
# note. Entries re-verified TWICE in r9 on current data (sf0.01 +
# sf0.1 full gates) carry the lowest risk.
# ROUND-11 ROTATION (VERDICT r10 item #2: clear the r5-era staleness
# tail). Rebuilt from CORRECTNESS_r01..r10 last-checked rounds: the
# front leads with the 3 never-verified r11 digests and the 6
# r11-changed entries, then ALL 18 r5-stale entries, then the 43
# r6-stale entries alphabetically — the ~50-row budget re-proves
# everything stale since r5 and cuts ~23 rows into the r6 tier; the
# r6 spill is the designated r12 front. Every entry outside the
# budget is re-verified by the terminal full-surface selfcheck
# (sf0.01 AND sf0.1) on this round's final tree. Any operator whose
# oracle text changes later in r11 gets promoted into the NEW block.
# ROUND-12 ROTATION (VERDICT r11 item #2: drain the r6 staleness
# tail). Rebuilt from CORRECTNESS_r01..r11 last-checked rounds: the
# front leads with (a) the 3 never-driver-verified r12 entries
# (ann_serve_tuned + the two streaming digests — each selfchecked
# hash-green at sf0.001+sf0.01 when added), then (b) every entry whose
# OPERATOR or ORACLE text changed in r12 (the round-to-cents money
# family + zorder_digest + dashboard_payload, the FULL sample-knob
# pairwise-verify family — a frac=1.0 no-op for the driver, but the
# lambdas/oracle text changed so they re-verify first — and the BPE
# capped-collect pair), then (c) ALL 24 r6-stale entries; the
# r7-stale tier (asof_join onward, alphabetical) is the designated
# r13 front — block (b)'s width consumed its budget share.
# Every entry outside the budget is re-verified by the terminal
# full-surface selfcheck (sf0.01 AND sf0.1) on this round's final
# tree. Any operator whose oracle text changes later in r12 gets
# promoted into the NEW block.
_R12_FRONT = [
    # (a) new in r12 — never driver-verified
    "ann_serve_tuned",
    "sessionize_stream_digest",
    "transitions_stream_digest",
    # (b) operator/oracle changed in r12 (cents contract engine+oracle
    # lockstep; raw-double zorder sum fixed; dashboard oracle follows
    # its bounded frames; dedup sample knob touched entry lambdas +
    # oracle builders; BPE collect path now cap+1-probed)
    "regional_revenue",
    "sales_rollup",
    "sales_cube",
    "returnflag_totals",
    "discount_revenue",
    "kpis",
    "kpis_bounded",
    "revenue_timeseries",
    "revenue_timeseries_bounded",
    "zorder_digest",
    "dashboard_payload",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_containment",
    "dedup_audit",
    "dedup_minhash",
    "dedup_clusters",
    "dedup_incremental_near",
    "doc_similarity_topk",
    "semdedup_apply",
    "embedding_cosine_dup",
    "lsh_index_digest",
    "bpe_merge_table",
    "bpe_token_count",
    # (c) r6-stale tail (last driver-checked round 6; the five money
    # entries from this tier already sit in block (b))
    "normalize_items",
    "order_priority_count",
    "part_pagerank",
    "perplexity_bucket_mix",
    "pricing_summary",
    "product_profit",
    "promo_revenue",
    "returned_item_report",
    "revenue_pivot",
    "segment_share",
    "shipping_priority",
    "small_qty_revenue",
    "supplier_part_breadth",
    "supplier_quartiles",
    "top_orders_per_customer",
    "top_products_bounded",
    "top_supplier",
    "unigram_logprob",
    "upsert",
    "volume_shipping",
]


def _woo_digest_batch():
    """The deterministic 120-order Woo batch behind woo_flow_digest:
    pure integer arithmetic (prices in tenths, tax in cents) so every
    money string is exact and the DuckDB oracle can regenerate the
    identical batch from generate_series — no floats, no randomness.

    Shape per order i in 1..120: 1 + i%3 line items, product_id
    10 + (i+j)%7, qty 1 + (i*j)%5, price (100 + (i*7+j*13)%900)/10;
    10% tax; status 'processing' when i%10==0; month 1 + i%2; every
    9th order refunds one unit of its first line item.
    """
    import json as _json

    countries = ["GR", "DE", "FR", "IT", "ES"]
    orders, refunds = [], {}
    for i in range(1, 121):
        lines, subtotal_tenths = [], 0
        for j in range(1, 2 + (i % 3)):
            q = 1 + ((i * j) % 5)
            pt = 100 + ((i * 7 + j * 13) % 900)
            lt = q * pt
            subtotal_tenths += lt
            lines.append(
                {
                    "id": j,
                    "product_id": 10 + ((i + j) % 7),
                    "variation_id": 0,
                    "sku": f"SKU-{10 + ((i + j) % 7)}",
                    "name": f"Product {10 + ((i + j) % 7)}",
                    "quantity": q,
                    "price": f"{pt // 10}.{pt % 10}",
                    "total": f"{lt // 10}.{lt % 10}",
                    "subtotal": f"{lt // 10}.{lt % 10}",
                    "tax_class": "",
                }
            )
        tax_cents = subtotal_tenths  # 10% of subtotal, exact in cents
        total_cents = 11 * subtotal_tenths
        orders.append(
            {
                "id": i,
                "status": "processing" if i % 10 == 0 else "completed",
                "currency": "EUR",
                "customer_id": 100 + (i % 40),
                "date_created_gmt": (
                    f"2024-{1 + (i % 2):02d}-{1 + (i % 28):02d}T10:00:00"
                ),
                "total": f"{total_cents // 100}.{total_cents % 100:02d}",
                "total_tax": f"{tax_cents // 100}.{tax_cents % 100:02d}",
                "discount_total": "0.00",
                "billing": {"country": countries[i % 5], "city": "X"},
                "line_items": lines,
            }
        )
        if i % 9 == 0:
            pt1 = 100 + ((i * 7 + 13) % 900)
            refunds[i] = [
                {
                    "amount": f"{pt1 // 10}.{pt1 % 10}",
                    "line_items": [
                        {
                            "product_id": 10 + ((i + 1) % 7),
                            "variation_id": 0,
                            "quantity": 1,
                            "total": f"-{pt1 // 10}.{pt1 % 10}",
                        }
                    ],
                }
            ]
    products = {
        p: {
            "id": p,
            "categories": (
                [{"name": f"Cat{p % 3}"}]
                + ([{"name": "Extra"}] if p % 2 == 0 else [])
            ),
        }
        for p in range(10, 17)
    }

    def transport(path, params):
        if path == "orders":
            since = params.get("after", "")
            rows = sorted(
                (o for o in orders if o["date_created_gmt"] > since),
                key=lambda o: o["date_created_gmt"],
            )
            per = min(int(params.get("per_page", 100)), 50)
            page = int(params.get("page", 1))
            total_pages = max(1, -(-len(rows) // per))
            return (
                _json.dumps(rows[(page - 1) * per : page * per]),
                total_pages,
            )
        if path == "products":
            ids = [int(x) for x in params["include"].split(",")]
            return (
                _json.dumps([products[i] for i in ids if i in products]),
                1,
            )
        if path.startswith("orders/") and path.endswith("/refunds"):
            oid = int(path.split("/")[1])
            return _json.dumps(refunds.get(oid, [])), 1
        raise AssertionError(f"unexpected path {path}")

    return transport


def _q_woo_flow_digest(spark, sf_dir):
    """END-TO-END reference-parity gate for the whole ingest pipeline
    (reference flow.py incremental_flow): stage → parse → enrich →
    refunds → month-partitioned upsert → watermark advance, run
    against the deterministic fake batch, then digested per
    (order_month, status) from the LOADED warehouse tables. The
    oracle regenerates the identical batch in pure SQL and replays
    the same net-total/refund/category semantics, so the driver hash
    proves the composed flow — not just its pieces — matches the
    reference. The digest is collected (≤4 rows) so the temp
    warehouse can be deleted before returning."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from py_etl_pipeline_woocommerce_spark.plans.woo_flow import (
        incremental_run,
    )
    from py_etl_pipeline_woocommerce_spark.sources.state import (
        WatermarkStore,
    )

    tmp = tempfile.mkdtemp(prefix="woo_flow_digest_")
    try:
        state = WatermarkStore(os.path.join(tmp, "state.json"))
        state.set_since("2023-12-31T00:00:00")
        wh = os.path.join(tmp, "wh")
        incremental_run(spark, _woo_digest_batch(), state, wh)
        fct = spark.read.parquet(os.path.join(wh, "fct_orders"))
        items = spark.read.parquet(os.path.join(wh, "fct_order_items"))
        orders_agg = fct.groupBy("order_month", "status").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("net_total"), 2).alias("net_sum"),
            F.round(F.sum("refund_total"), 2).alias("refund_sum"),
            F.round(F.sum("net_after_refunds"), 2).alias("net_after_sum"),
        )
        items_agg = (
            items.join(
                fct.select("order_id", "status"), "order_id"
            )
            .groupBy("order_month", "status")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum("quantity").cast("long").alias("qty_sum"),
                F.round(F.sum("total"), 2).alias("item_total_sum"),
                F.sum("refunded_quantity")
                .cast("long")
                .alias("refunded_qty_sum"),
                F.round(F.sum("refunded_total"), 2).alias(
                    "refunded_total_sum"
                ),
                F.countDistinct("category_snapshot").alias("n_cats"),
            )
        )
        digest = orders_agg.join(
            items_agg, ["order_month", "status"]
        ).orderBy("order_month", "status")
        rows = digest.collect()
        return spark.createDataFrame(rows, digest.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _q_bpe_segment_vocab(spark, sf_dir):
    """Every distinct corpus token with its trained-BPE segmentation
    — the direct surface of the JVM fold-chain segmenter (the oracle
    is the trainer's own final vocabulary state, so the fold chain is
    hash-proven equal to 8 rounds of left-to-right non-overlapping
    merge application on every token)."""
    from pyspark.sql import functions as F

    from py_etl_pipeline_woocommerce_spark.operators import (
        bpe as _bpe,
    )

    docs = _docs(spark, sf_dir)
    merges = _bpe.merges_from_df(_bpe.bpe_train(docs, n_merges=8))
    toks = _bpe.vocab_counts(docs).select("token")
    return _bpe.segment_tokens(toks, merges).select(
        "token",
        F.concat_ws("\u001f", "symbols").alias("segmentation"),
        "n_symbols",
    )


def _q_purge_digest(spark, sf_dir):
    """END-TO-END erasure gate for purge_keys (the GDPR delete path):
    build a month-partitioned fact table from orders, purge every
    key divisible by 97 through the real partition-pruned rewrite,
    then digest the SURVIVING warehouse per month with the audit
    numbers attached. The oracle replays the deletion in pure SQL
    (WHERE o_orderkey % 97 <> 0), so the driver hash proves rows were
    erased from disk — and ONLY those rows."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from py_etl_pipeline_woocommerce_spark.plans.woo_flow import (
        purge_keys,
    )

    orders = load_table(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="purge_digest_")
    try:
        path = os.path.join(tmp, "fct")
        fct = orders.select(
            F.col("o_orderkey").alias("order_id"),
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("total"),
        )
        fct.write.partitionBy("order_month").parquet(path)
        purge = orders.filter(F.col("o_orderkey") % 97 == 0).select(
            F.col("o_orderkey").alias("order_id")
        )
        if fct.head(1):
            audit = purge_keys(spark, path, purge, keys=["order_id"])
        else:
            # empty warehouse: the write produced a schemaless dir
            # purge_keys could not read — the digest is honestly
            # empty with a zero audit (the oracle agrees: 0 rows)
            audit = {"rows_purged": 0, "partitions_rewritten": 0}
        after = spark.read.schema(fct.schema).parquet(path)
        digest = (
            after.groupBy("order_month")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.round(F.sum("total"), 2).alias("total_sum"),
            )
            .select(
                F.col("order_month").cast("string").alias("order_month"),
                "n_rows",
                "total_sum",
                F.lit(int(audit["rows_purged"]))
                .cast("bigint")
                .alias("rows_purged"),
                F.lit(int(audit["partitions_rewritten"]))
                .cast("bigint")
                .alias("partitions_rewritten"),
            )
            .orderBy("order_month")
        )
        rows = digest.collect()
        return spark.createDataFrame(rows, digest.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _q_export_shards_digest(spark, sf_dir):
    """Shard-manifest gate for export_shards: write the corpus as
    lang-partitioned training shards capped at 40 records/file, then
    digest (partition_dir, n_shards, n_rows) with the shard counts
    from the FILESYSTEM listing and the row counts from re-reading
    the written shards. One upstream repartition on the stratum key
    puts each lang in exactly one write task, so the file count per
    directory is ceil(rows/cap) — which the oracle predicts straight
    from the documents table."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from py_etl_pipeline_woocommerce_spark.operators.maintenance import (
        export_shards,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    tmp = tempfile.mkdtemp(prefix="export_shards_digest_")
    try:
        dest = os.path.join(tmp, "shards")
        manifest = export_shards(
            docs.repartition("lang"),
            dest,
            partition_by=("lang",),
            max_records_per_file=40,
        )
        mdf = spark.createDataFrame(
            sorted(manifest.items()),
            "partition_dir string, n_shards bigint",
        )
        written = (
            spark.read.schema(docs.schema).parquet(dest)
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .select(
                F.concat(
                    F.lit("lang="),
                    F.coalesce(
                        F.col("lang"), F.lit("__HIVE_DEFAULT_PARTITION__")
                    ),
                ).alias("partition_dir"),
                "n_rows",
            )
        )
        digest = mdf.join(written, "partition_dir").orderBy(
            "partition_dir"
        )
        rows = digest.collect()
        return spark.createDataFrame(rows, digest.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _q_zorder_digest(spark, sf_dir):
    """Layout gate for zorder_cluster: rewrite orders Morton-ordered
    on (o_totalprice, o_custkey), ASSERT from the real parquet
    footers that every clustered dimension's mean per-row-group
    coverage shrank (raises loudly on a lost layout — the
    dedup_clusters non-convergence pattern), then digest the
    rewritten table per status. The file boundaries themselves are
    range-partitioner-sampled (not oracle-predictable), so the SQL
    oracle pins what IS deterministic: the rewrite preserved the
    table as an exact multiset."""
    import glob as _glob
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from py_etl_pipeline_woocommerce_spark.operators.maintenance import (
        zorder_cluster,
    )

    orders = load_table(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="zorder_digest_")
    try:
        dest = os.path.join(tmp, "orders_z")
        zorder_cluster(
            orders, dest, ["o_totalprice", "o_custkey"], n_files=16
        )
        import pyarrow.parquet as pq

        for col in ("o_totalprice", "o_custkey"):
            spans, glo, ghi = [], None, None
            for f in _glob.glob(f"{dest}/*.parquet"):
                md = pq.ParquetFile(f).metadata
                idx = {
                    md.schema.column(i).name: i
                    for i in range(md.num_columns)
                }
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx[col]).statistics
                    spans.append((st.min, st.max))
                    glo = st.min if glo is None else min(glo, st.min)
                    ghi = st.max if ghi is None else max(ghi, st.max)
            width = (ghi - glo) or 1
            cov = sum((hi - lo) / width for lo, hi in spans) / len(spans)
            if cov >= 0.8:
                raise RuntimeError(
                    f"zorder_digest: {col} mean row-group coverage "
                    f"{cov:.2f} — Morton layout lost its locality"
                )
        after = spark.read.parquet(dest)
        digest = (
            after.groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct("o_orderkey").alias("n_keys"),
                # decimal sum + round-to-cents + double boundary (the
                # money contract): the raw DOUBLE sum diverged from the
                # oracle by 1 ulp at the r12 sf10 money gate
                F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
                .cast("double")
                .alias("price_sum"),
                F.sum("o_custkey").cast("bigint").alias("cust_sum"),
                F.min("o_orderkey").alias("min_key"),
                F.max("o_orderkey").alias("max_key"),
            )
            .orderBy("o_orderstatus")
        )
        rows = digest.collect()
        return spark.createDataFrame(rows, digest.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _q_cdc_store_digest(spark, sf_dir):
    """END-TO-END gate for the ON-DISK CDC store (cdc_apply_store —
    split-invariance was pytest-only until r11): replay the
    cdc_apply feed (seq-0 I for the current state, then the %7/%13/
    %11 U/D/I arms) through the persisted store in THREE batches
    split by pmod(order_id, 3) and folded OUT OF ORDER (2, 0, 1),
    then digest the raw store — tombstones included. The oracle
    resolves the same net effect in one pure-SQL window, so the
    driver hash proves the staged on-disk fold is split- and
    order-invariant, and that deletes persist as tombstones rather
    than resurrectable gaps."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders")
    cur = orders.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("total"),
        F.lit(0).alias("seq"),
        F.lit("I").alias("op"),
    )
    upd = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("order_id"),
        F.lit("updated").alias("status"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("total"),
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
    )
    dele = orders.filter(F.col("o_orderkey") % 13 == 0).select(
        F.col("o_orderkey").alias("order_id"),
        F.lit("gone").alias("status"),
        F.lit(0).cast("decimal(18,2)").alias("total"),
        F.lit(3).alias("seq"),
        F.lit("D").alias("op"),
    )
    ins = orders.filter(F.col("o_orderkey") % 11 == 0).select(
        (F.col("o_orderkey") + 100_000_000).alias("order_id"),
        F.lit("new").alias("status"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("total"),
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
    )
    changes = cur.unionByName(upd).unionByName(dele).unionByName(ins)
    tmp = tempfile.mkdtemp(prefix="cdc_store_digest_")
    try:
        store = os.path.join(tmp, "state")
        for b in (2, 0, 1):  # deliberately out of order
            warehouse.cdc_apply_store(
                spark,
                store,
                changes.filter(F.pmod("order_id", F.lit(3)) == b),
                "order_id",
            )
        raw = spark.read.parquet(store)
        digest = (
            raw.groupBy("status", F.col("_deleted").alias("deleted"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("order_id").cast("bigint").alias("key_sum"),
                F.sum("total").cast("decimal(18,2)").cast("double").alias("total_sum"),
                F.max("_seq").cast("bigint").alias("max_seq"),
            )
            .orderBy("status", "deleted")
        )
        rows = digest.collect()
        return spark.createDataFrame(rows, digest.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _q_first_seen_digest(spark, sf_dir):
    """Gate for the ON-DISK first-seen store (the batch body of the
    streaming run_stream_first_seen): fold the events history through
    merge_first_seen_store in THREE user-sharded batches applied out
    of order (1, 2, 0), then digest the store per first day. MIN is
    associative, so the oracle is simply per-user MIN(day) over all
    events — the driver hash proves the store fold equals the
    one-shot batch recompute regardless of batch boundaries."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    ev = _events(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="first_seen_digest_")
    try:
        store = os.path.join(tmp, "first_seen")
        ev = ev.filter(F.col("user_id").isNotNull())
        for b in (1, 2, 0):
            warehouse.merge_first_seen_store(
                spark, store, ev.filter(F.pmod("user_id", F.lit(3)) == b)
            )
        digest = (
            spark.read.parquet(store)
            .groupBy("first_day_us")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_users"),
                F.sum("user_id").cast("bigint").alias("user_sum"),
                F.min("user_id").cast("bigint").alias("min_user"),
                F.max("user_id").cast("bigint").alias("max_user"),
            )
            .orderBy("first_day_us")
        )
        rows = digest.collect()
        return spark.createDataFrame(rows, digest.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _q_line_index_digest(spark, sf_dir):
    """Gate for the STORED boilerplate line index (write_line_index →
    strip_against_line_index — the cross-batch CCNet path that was
    pytest-only until r11): index the even-doc_id half of the
    rewrapped corpus into the bucketed store, then strip the odd
    half against it. The oracle recomputes both halves' line
    frequencies in pure SQL (stored df + batch df ≥ min_df), so the
    driver hash proves the persisted index carries exactly the
    corpus-side counts the one-shot operator would have used."""
    from pyspark.sql import functions as F

    from py_etl_pipeline_woocommerce_spark.operators.dedup import (
        docs_as_lines,
        strip_against_line_index,
        write_line_index,
    )
    from py_etl_pipeline_woocommerce_spark.sources.bucketing import (
        drop_table,
    )

    docs = _docs(spark, sf_dir)
    prefix = "r11_line_digest"
    batch_a = docs_as_lines(docs.filter(F.col("doc_id") % 2 == 0))
    batch_b = docs_as_lines(docs.filter(F.col("doc_id") % 2 == 1))
    # overwrite = from-scratch rebuild: the digest must be idempotent
    # across driver re-runs in the same warehouse
    write_line_index(batch_a, prefix, n_buckets=8, mode="overwrite")
    try:
        out = strip_against_line_index(batch_b, prefix, min_df=2)
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        drop_table(spark, f"{prefix}_lines")


def _q_lsh_index_digest(spark, sf_dir):
    """Gate for the STORED near-dup LSH index (write_lsh_index →
    dedup_against_index — the daily-drop path that was pytest-only
    until r11): materialize the %10≠0 docs as the bucketed band +
    shingle tables, then annotate the %10==0 batch against the STORE.
    The oracle is dedup_incremental_near's, verbatim — the stored-
    index path must produce exactly what the direct batch×corpus
    operator produces on the same split, which is the store's whole
    contract."""
    from pyspark.sql import functions as F

    from py_etl_pipeline_woocommerce_spark.operators.dedup import (
        dedup_against_index,
        write_lsh_index,
    )
    from py_etl_pipeline_woocommerce_spark.sources.bucketing import (
        drop_table,
    )

    docs = _docs_pair_sampled(spark, sf_dir)
    prefix = "r11_lsh_digest"
    write_lsh_index(
        docs.filter(F.col("doc_id") % 10 != 0), prefix, n_buckets=8
    )
    try:
        out = dedup_against_index(
            docs.filter(F.col("doc_id") % 10 == 0), prefix
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        drop_table(spark, f"{prefix}_bands")
        drop_table(spark, f"{prefix}_shingles")


def _stream_replay_src(spark, sf_dir, tmp):
    """Deterministic 3-batch event replay source for the streaming
    digests: the events table (NULL ts/user_id/event_id dropped — the
    streams' poison-pill rule) split into three TIME-RANGE terciles,
    landed as three single parquet files whose name and mtime order
    is the time order. Feeding micro-batches in nondecreasing event
    time makes the stateful fold equal the batch twin (within a batch
    the state fn sorts; across batches state carries the last event),
    so the digest is oracle-checkable by pure batch SQL."""
    import glob as _glob
    import shutil

    from pyspark.sql import functions as F

    ev = _events(spark, sf_dir).filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_id").isNotNull()
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    if lo is None:
        # empty warehouse: three empty batch files — the streaming
        # query still runs (and terminates) and the digest is empty,
        # matching the oracle's empty result
        lo = hi = 0
    t1 = lo + (hi - lo) // 3
    t2 = lo + 2 * ((hi - lo) // 3)
    src = os.path.join(tmp, "src")
    os.makedirs(src, exist_ok=True)
    cuts = [
        F.col("ts") <= t1,
        (F.col("ts") > t1) & (F.col("ts") <= t2),
        F.col("ts") > t2,
    ]
    for k, pred in enumerate(cuts):
        d = os.path.join(tmp, f"_b{k}")
        ev.filter(pred).repartition(1).write.mode("overwrite").parquet(d)
        part = _glob.glob(os.path.join(d, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(src, f"b{k}.parquet"))
    return (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


def _q_sessionize_stream_digest(spark, sf_dir):
    """END-TO-END gate for the stateful streaming sessionizer
    (streaming/sessions.py sessionize_stream — batch-parity was
    pytest-only until r12): replay the events history through the
    REAL streaming query (applyInPandasWithState, update mode,
    availableNow over three time-ordered micro-batches), take each
    (user, session_seq)'s LAST update as its final state, and digest
    per (session_seq, closed). The oracle recomputes sessions with
    the batch gap rule in pure SQL and derives ``closed`` as "a later
    session exists for this user" — exactly what a fully-consumed,
    time-ordered stream leaves closed — so the driver hash proves the
    cross-batch state fold equals the one-shot batch sessionization."""
    import shutil
    import tempfile

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from py_etl_pipeline_woocommerce_spark.streaming.sessions import (
        sessionize_stream,
    )

    tmp = tempfile.mkdtemp(prefix="sess_stream_digest_")
    try:
        stream = _stream_replay_src(spark, sf_dir, tmp)
        out = os.path.join(tmp, "out")
        ckpt = os.path.join(tmp, "ckpt")

        def sink(df, bid):
            df.withColumn("_bid", F.lit(bid)).write.mode(
                "append"
            ).parquet(out)

        # timeout="event": availableNow TERMINATES (a
        # ProcessingTimeTimeout state timer keeps the engine alive
        # forever — the documented processAllAvailable caveat); the
        # huge lateness horizon keeps the watermark behind every
        # last_event + gap, so no eviction fires mid-replay and the
        # fold equals the batch twin exactly
        q = (
            sessionize_stream(
                stream,
                gap_minutes=30,
                timeout="event",
                lateness_minutes=60 * 24 * 365 * 50,
            )
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.read.parquet(out)
        w = W.partitionBy("user_id", "session_seq").orderBy(
            F.col("_bid").desc()
        )
        final = (
            rows.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .drop("_rk", "_bid")
        )
        digest = (
            final.groupBy("session_seq", "closed")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
                F.sum("n_events").cast("bigint").alias("events_sum"),
                F.sum("user_id").cast("bigint").alias("user_sum"),
                F.min("start_us").cast("bigint").alias("min_start_us"),
                F.max("end_us").cast("bigint").alias("max_end_us"),
                # per-session total_value is exact cents in double;
                # sum in decimal so the digest is order-independent
                F.sum(F.col("total_value").cast("decimal(18,2)"))
                .cast("double")
                .alias("value_sum"),
            )
            .orderBy("session_seq", "closed")
        )
        got = digest.collect()
        return spark.createDataFrame(got, digest.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _q_transitions_stream_digest(spark, sf_dir):
    """END-TO-END gate for the stateful streaming transition tracker
    (streaming/transitions.py transitions_stream — batch-parity was
    pytest-only until r12): replay the events history through the
    REAL streaming query (append mode, availableNow over three
    time-ordered micro-batches) and digest the emitted pair multiset
    per (from_type, to_type). The oracle is the batch LAG over
    (t_us, event_id) per user — the exact tie-break the stream's
    state carries across batches — so the driver hash proves no
    cross-batch pair is dropped, duplicated, or mis-gapped."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from py_etl_pipeline_woocommerce_spark.streaming.transitions import (
        transitions_stream,
    )

    tmp = tempfile.mkdtemp(prefix="trans_stream_digest_")
    try:
        stream = _stream_replay_src(spark, sf_dir, tmp)
        out = os.path.join(tmp, "out")
        ckpt = os.path.join(tmp, "ckpt")

        def sink(df, bid):
            df.write.mode("append").parquet(out)

        # same event-timeout/huge-lateness shape as the session
        # digest: terminates under availableNow, no mid-replay
        # eviction, pure LAG parity
        q = (
            transitions_stream(
                stream,
                timeout="event",
                lateness_minutes=60 * 24 * 365 * 50,
            )
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        digest = (
            spark.read.parquet(out)
            .groupBy("from_type", "to_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
                F.sum("gap_us").cast("bigint").alias("gap_us_sum"),
                F.sum("user_id").cast("bigint").alias("user_sum"),
            )
            .orderBy("from_type", "to_type")
        )
        got = digest.collect()
        return spark.createDataFrame(got, digest.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _q_profile_drift(spark, sf_dir):
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders")
    cut = "1995-07-01"
    return warehouse.profile_drift(
        orders.filter(F.col("o_orderdate") < cut),
        orders.filter(F.col("o_orderdate") >= cut),
        exact=True,
    )


def _q_cdc_apply(spark, sf_dir):
    """Apply a synthetic-but-deterministic CDC feed to the orders
    current state: every key divisible by 7 gets an UPDATE (seq 2),
    by 13 a DELETE (seq 3, so it beats a coexisting update — keys
    divisible by 91 must vanish), by 11 an INSERT of a brand-new key
    (seq 1). The oracle replays the identical net-effect resolution."""
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders")
    current = orders.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total"),
    )
    upd = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("order_id"),
        F.lit("updated").alias("status"),
        F.col("o_totalprice").alias("total"),
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
    )
    dele = orders.filter(F.col("o_orderkey") % 13 == 0).select(
        F.col("o_orderkey").alias("order_id"),
        F.lit("gone").alias("status"),
        F.lit(0.0).alias("total"),
        F.lit(3).alias("seq"),
        F.lit("D").alias("op"),
    )
    ins = orders.filter(F.col("o_orderkey") % 11 == 0).select(
        (F.col("o_orderkey") + 100_000_000).alias("order_id"),
        F.lit("new").alias("status"),
        F.col("o_totalprice").alias("total"),
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
    )
    changes = upd.unionByName(dele).unionByName(ins)
    return warehouse.cdc_apply(current, changes, "order_id")


def _q_dq_referential(spark, sf_dir):
    """Two-relation referential audit: lineitem→orders is intact by
    construction (0 orphans); lineitem→part runs against a parent
    with every 10th key dropped (synthetic orphans) and a child with
    every 97th order's part key nulled (NULL-FK accounting)."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    li_holes = li.select(
        F.when(F.col("l_orderkey") % 97 == 0, F.lit(None).cast("bigint"))
        .otherwise(F.col("l_partkey"))
        .alias("l_partkey"),
        "l_orderkey",
    )
    r1 = warehouse.dq_referential(
        li, orders, "l_orderkey", "o_orderkey", "lineitem->orders"
    )
    r2 = warehouse.dq_referential(
        li_holes,
        part.filter(F.col("p_partkey") % 10 != 0),
        "l_partkey",
        "p_partkey",
        "lineitem->part",
    )
    return r1.unionByName(r2)


def _q_rollup_merge(spark, sf_dir):
    """Incremental continuous-aggregate maintenance, driver-shaped:
    the stored rollup is the partials of events BEFORE the cut, the
    batch is everything after; the merged result must equal a full
    recompute over all events — which is exactly what the oracle
    runs, so the driver hash PROVES the merge is lossless."""
    from pyspark.sql import functions as F

    from py_etl_pipeline_woocommerce_spark.operators.warehouse import (
        daily_rollup_partials,
        rollup_merge,
    )

    ev = _events(spark, sf_dir)
    cut_us = 1_705_363_200_000_000
    before = ev.filter(F.expr("ts div 1000") < cut_us)
    after = ev.filter(F.expr("ts div 1000") >= cut_us)
    merged = rollup_merge(daily_rollup_partials(before), after)
    return merged.select(
        "day_us",
        "event_type",
        "n_events",
        F.col("total_value_dec").cast("double").alias("total_value"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from pyspark.sql import functions as F

    base: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        # --- round-7 addition: the composed ingest flow, oracle-hashed
        # end-to-end (verdict item 6) ---
        "woo_flow_digest": _q_woo_flow_digest,
        "purge_digest": _q_purge_digest,
        "export_shards_digest": _q_export_shards_digest,
        "zorder_digest": _q_zorder_digest,
        # --- round-11 store-digest promotions (VERDICT r10 item 6) ---
        "cdc_store_digest": _q_cdc_store_digest,
        "first_seen_digest": _q_first_seen_digest,
        "sessionize_stream_digest": _q_sessionize_stream_digest,
        "transitions_stream_digest": _q_transitions_stream_digest,
        "line_index_digest": _q_line_index_digest,
        "lsh_index_digest": _q_lsh_index_digest,
        # --- round-4b additions (this rework of the round): never
        # driver-verified, take the budget first ---
        "daily_value_percentiles": (
            lambda s, d: temporal.daily_value_percentiles(
                _events(s, d), exact=True
            )
        ),
        "equidepth_histogram": lambda s, d: temporal.equidepth_histogram(
            _events(s, d), exact=True
        ),
        "seasonal_anomaly": lambda s, d: temporal.seasonal_anomaly(
            _events(s, d)
        ),
        "event_transitions": lambda s, d: events.event_transitions(
            _events(s, d)
        ),
        "user_overlap": lambda s, d: events.user_overlap(
            _events(s, d), exact=True
        ),
        "bm25_search": lambda s, d: corpus.bm25_search(_docs(s, d)),
        "rfm_segments": lambda s, d: relational.rfm_segments(
            s, d, exact=True
        ),
        "rollup_merge": _q_rollup_merge,
        "hot_keys": lambda s, d: skew.hot_keys(_events(s, d), "user_id"),
        "hybrid_search": lambda s, d: corpus.hybrid_search(_docs(s, d)),
        "basket_pairs": relational.basket_pairs,
        # --- round-4c additions ---
        "time_gaps": lambda s, d: temporal.time_gaps(_events(s, d)),
        "merge_intervals": lambda s, d: temporal.merge_intervals(
            _events(s, d)
        ),
        "m4_downsample": lambda s, d: temporal.m4_downsample(_events(s, d)),
        "ks_drift": lambda s, d: temporal.ks_drift(_events(s, d)),
        "cdc_apply": _q_cdc_apply,
        "dq_referential": _q_dq_referential,
        "numeric_corr": lambda s, d: warehouse.numeric_corr(
            load_table(s, d, "lineitem"),
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        ),
        "soft_dedup_weights": lambda s, d: dedup.soft_dedup_weights(
            _docs(s, d)
        ),
        # iterative float power iteration — not SQL-expressible,
        # rows-only driver check (numpy-parity pytest in test_graph.py)
        "part_pagerank": graph.part_pagerank,
        # bounded-memory sketch with data-dependent per-partition
        # decrements — not SQL-expressible, rows-only driver check
        # (error-bound-vs-exact pytest in test_multimodal_skew.py)
        "hot_keys_approx": lambda s, d: skew.hot_keys_approx(
            _events(s, d), "user_id"
        ),
        "fulfillment_latency": lambda s, d: relational.fulfillment_latency(
            s, d, exact=True
        ),
        "wow_growth": relational.wow_growth,
        "repeat_rate": lambda s, d: relational.repeat_rate(
            s, d, exact=True
        ),
        "user_streaks": lambda s, d: temporal.user_streaks(_events(s, d)),
        "dau_new_vs_returning": lambda s, d: temporal.dau_new_vs_returning(
            _events(s, d)
        ),
        "interarrival_stats": lambda s, d: temporal.interarrival_stats(
            _events(s, d), exact=True
        ),
        "session_stats": lambda s, d: sessionize.session_stats(
            _events(s, d)
        ),
        "dayn_retention": lambda s, d: temporal.dayn_retention(
            _events(s, d)
        ),
        "corpus_split": lambda s, d: corpus.corpus_split(_docs(s, d)),
        "split_leakage": lambda s, d: corpus.split_leakage(_docs(s, d)),
        "split_leakage_near": lambda s, d: corpus.split_leakage_near(
            _docs(s, d)
        ),
        "trend_fit": lambda s, d: temporal.trend_fit(_events(s, d)),
        "linear_attribution": lambda s, d: events.linear_attribution(
            _events(s, d)
        ),
        "cusum_changepoint": lambda s, d: temporal.cusum_changepoint(
            _events(s, d)
        ),
        # --- round-4 additions: facade surfaces promoted to driver checks ---
        "event_value_summary": lambda s, d: temporal.event_value_summary(
            _events(s, d), exact=True
        ),
        "dashboard_payload": dashboard.dashboard_digest,
        "gopher_rules": lambda s, d: textstats.gopher_rules(_docs(s, d)),
        "bigram_logprob": lambda s, d: corpus.bigram_logprob(_docs(s, d)),
        "source_divergence": lambda s, d: corpus.source_divergence(
            _docs(s, d)
        ),
        "seasonal_profile": lambda s, d: temporal.seasonal_profile(
            _events(s, d)
        ),
        # the driver's rows-only canonicalizer sorts raw pandas values,
        # and an array<double> column is unhashable there (r5 ERR) —
        # so the ENTRY projects `proj` to rounded scalar columns
        # p0..p7; the operator keeps its array API for library users.
        "pca_project": lambda s, d: reduction.pca_project(
            _emb(s, d)
        ).selectExpr(
            "vec_id",
            "label",
            *[f"round(proj[{i}], 6) AS p{i}" for i in range(8)],
        ),
        "lang_confusion": lambda s, d: textstats.lang_confusion(_docs(s, d)),
        "value_outliers_mad": lambda s, d: temporal.value_outliers_mad(
            _events(s, d), exact=True
        ),
        "perplexity_bucket_mix": lambda s, d: corpus.perplexity_bucket_mix(
            _docs(s, d), exact=True
        ),
        "pmi_terms": lambda s, d: corpus.pmi_terms(_docs(s, d)),
        # greedy set-conditioned selection — not SQL-expressible,
        # rows-only driver check (see test_quality_reduction MMR tests)
        "mmr_topk": lambda s, d: similarity.mmr_topk(_emb(s, d)),
        "corpus_report": lambda s, d: corpus.corpus_report(_docs(s, d)),
        # greedy bin assignment — not SQL-expressible, rows-only
        # driver check (capacity/determinism pytest)
        "pack_bins_bfd": lambda s, d: packing.pack_bins_bfd(_docs(s, d)),
        "lang_id_nb": lambda s, d: textstats.lang_id_nb(_docs(s, d)),
        "ewma_daily": lambda s, d: temporal.ewma_daily(_events(s, d)),
        "hash_embed": lambda s, d: corpus.hash_embed(_docs(s, d)),
        "dedup_audit": lambda s, d: dedup.dedup_audit(_docs_pair_sampled(s, d)),
        "quality_percentile_by_source": (
            lambda s, d: corpus.quality_percentile_by_source(
                _docs(s, d), exact=True
            )
        ),
        "conversion_latency": lambda s, d: temporal.conversion_latency(
            _events(s, d), exact=True
        ),
        # k-means centroids aren't SQL-expressible — rows-only driver
        # check (size/inertia-contract pytest)
        "cluster_stats": lambda s, d: similarity.cluster_stats(_emb(s, d)),
        "doc_similarity_topk": lambda s, d: corpus.doc_similarity_topk(
            _docs_pair_sampled(s, d)
        ),
        "profile_orders": lambda s, d: warehouse.profile_table(
            load_table(s, d, "orders"), exact=True
        ),
        "session_paths": lambda s, d: sessionize.session_paths(
            _events(s, d)
        ),
        "dup_cluster_histogram": lambda s, d: dedup.dup_cluster_histogram(
            _docs(s, d)
        ),
        "profile_drift_orders": _q_profile_drift,
        "event_mix_drift": lambda s, d: temporal.event_mix_drift(
            _events(s, d)
        ),
        "dsir_weights": lambda s, d: corpus.dsir_weights(_docs(s, d)),
        "repeated_spans": lambda s, d: dedup.repeated_spans(_docs(s, d)),
        "strip_repeated_spans": lambda s, d: dedup.strip_repeated_spans(
            _docs(s, d)
        ),
        # LINE-level dedup (CCNet) over the docs_as_lines bridge — the
        # synthetic texts are single-line, so the bridge rewraps tokens
        # into 8-token lines (planted near-dups collide cross-doc)
        "common_lines": lambda s, d: dedup.common_lines(
            dedup.docs_as_lines(_docs(s, d))
        ),
        "strip_common_lines": lambda s, d: dedup.strip_common_lines(
            dedup.docs_as_lines(_docs(s, d))
        ),
        # link extraction over deterministic anchors (absolute +
        # protocol-relative + relative, both quote styles)
        "extract_links": lambda s, d: textstats.extract_links(
            _docs(s, d).select(
                "doc_id",
                F.concat(
                    F.lit('<a href="https://Example.com/doc/'),
                    F.col("doc_id").cast("string"),
                    F.lit('?q=1">'),
                    F.col("text"),
                    F.lit("</a><img src='//cdn.example.org/img/"),
                    F.col("doc_id").cast("string"),
                    F.lit(
                        ".png'/><a href=https://plain.example.net/"
                        'u?a=1&amp;b=2>u</a><a href="/rel/path">rel</a>'
                    ),
                ).alias("text"),
            )
        ),
        # markup extraction over deterministically HTML-wrapped text:
        # script/style/comment drop, block tags -> newlines, entity
        # decode, whitespace canon — every rule exercised
        "strip_markup": lambda s, d: textstats.strip_markup(
            _docs(s, d).select(
                "doc_id",
                F.concat(
                    F.lit(
                        '<html><body><script type="text/javascript">'
                        "var x = 1 &amp;&amp; 2;</script>"
                        "<style>.c { color: red }</style>"
                        '<!-- hidden comment --><p class="lead">'
                        "source\r\nwrapped "  # CRLF source wrap
                    ),
                    F.col("text"),
                    F.lit(
                        '</p><br><div id="t">tail &lt;b&gt;not a tag'
                        "&lt;/b&gt; &amp; &quot;quoted&quot; &#39;s"
                        "&nbsp;end</div></body></html>"
                    ),
                ).alias("text"),
            )
        ),
        # unicode/whitespace canonicalizer over deterministically
        # messed-up text (decomposed accents, control chars, tab runs,
        # newline stacks) so every rule is exercised, not vacuous
        "normalize_text": lambda s, d: textstats.normalize_text(
            _docs(s, d).select(
                "doc_id",
                F.concat(
                    F.lit("  "),
                    F.col("text"),
                    F.lit(" caf"),
                    F.lit("e\u0301"),  # decomposed; NFC composes it
                    # tab run, control char, lone CR, CRLF, LF stack
                    F.lit("\tx\x01\rcr\r\ncrlf\n\n\n"),
                    F.lit("end  "),
                ).alias("text"),
            )
        ),
        "fill_missing_days_locf": lambda s, d: temporal.fill_missing_days_locf(
            _events(s, d)
        ),
        "fill_missing_days_interp": (
            lambda s, d: temporal.fill_missing_days_interp(_events(s, d))
        ),
        "corpus_prep_v2": lambda s, d: corpus.corpus_prep_v2(_docs(s, d)),
        "asof_join_forward": lambda s, d: temporal.asof_join(
            _events(s, d), direction="forward"
        ),
        "funnel_steps_windowed": lambda s, d: events.funnel_steps(
            _events(s, d), max_gap_us=86_400_000_000
        ),
        "source_quota_sample": lambda s, d: corpus.source_quota_sample(
            _docs(s, d)
        ),
        "length_buckets": lambda s, d: corpus.length_buckets(_docs(s, d)),
        # exact=True pin: the oracle needs the exact percentile plan;
        # the sketch is the production default (facade convention)
        "value_outliers": lambda s, d: temporal.value_outliers(
            _events(s, d), exact=True
        ),
        "ann_rerank_topk": lambda s, d: similarity.ann_rerank_topk(_emb(s, d)),
        # approximate by construction (GK quantile cut) — rows-only
        "dsir_select_threshold": lambda s, d: corpus.dsir_select_threshold(
            _docs(s, d)
        ),
        # --- never driver-verified (r3 front block): oracle-backed first,
        # cheapest first, heaviest last ---
        "embedding_scores": lambda s, d: similarity.score_embeddings(_emb(s, d)),
        "chunk_documents": lambda s, d: packing.chunk_documents(_docs(s, d)),
        "vocab_drift": lambda s, d: corpus.vocab_drift(_docs(s, d)),
        "corpus_prep": lambda s, d: corpus.corpus_prep(_docs(s, d)),
        "ann_quantized_topk": lambda s, d: similarity.ann_quantized_topk(
            _emb(s, d)
        ),
        "ann_lsh_topk": lambda s, d: similarity.ann_lsh_topk(_emb(s, d)),
        "ann_tune_geometry": lambda s, d: similarity.ann_tune_geometry(
            _emb(s, d)
        ),
        "ann_serve_tuned": lambda s, d: similarity.ann_serve_tuned(
            _emb(s, d)
        ),
        "ann_recall_audit": lambda s, d: similarity.ann_recall_audit(
            _emb(s, d)
        ),
        "corpus_pipeline": lambda s, d: corpus.corpus_pipeline(_docs(s, d)),
        "decontaminate": lambda s, d: corpus.decontaminate(_docs(s, d)),
        "dedup_incremental_near": lambda s, d: dedup.dedup_incremental_near(
            _docs_pair_sampled(s, d)
        ),
        "embedding_cosine_dup": lambda s, d: similarity.cosine_dup_pairs(_emb_pair_sampled(s, d)),
        "dedup_apply": lambda s, d: corpus.dedup_apply(_docs(s, d)),
        "dedup_simhash": lambda s, d: dedup.simhash_pairs(_docs_pair_sampled(s, d)),
        "dedup_clusters": lambda s, d: dedup.dedup_clusters(_docs_pair_sampled(s, d)),
        # --- new in r3 (oracle-backed, never driver-verified) ---
        "dedup_containment": lambda s, d: dedup.containment_pairs(_docs_pair_sampled(s, d)),
        "unigram_logprob": lambda s, d: corpus.unigram_logprob(_docs(s, d)),
        "tokenizer_stats": lambda s, d: corpus.tokenizer_stats(_docs(s, d)),
        "semdedup_apply": lambda s, d: similarity.semdedup_apply(_emb_pair_sampled(s, d)),
        "session_window_agg": lambda s, d: events.session_window_agg(
            _events(s, d)
        ),
        "token_budget_sample": lambda s, d: corpus.token_budget_sample(
            _docs(s, d)
        ),
        "dq_rules": _q_dq_rules,
        # --- no-SQL-oracle sketch/ANN entries (rows-only driver check;
        # after the oracle-backed ones so full checks are spent first) ---
        "dau_sketch_rollup": lambda s, d: temporal.dau_sketch_rollup(
            _events(s, d)
        ),
        "daily_active_users_approx": lambda s, d: temporal.daily_active_users_approx(
            _events(s, d)
        ),
        "value_percentiles_approx": lambda s, d: temporal.value_percentiles_approx(
            _events(s, d)
        ),
        "ann_ivf_topk": lambda s, d: similarity.ann_ivf_topk(_emb(s, d)),
        # --- temporal / time-series (r2 driver-pass) ---
        "asof_join": lambda s, d: temporal.asof_join(_events(s, d)),
        "asof_join_nearest": lambda s, d: temporal.asof_join(
            _events(s, d), direction="nearest"
        ),
        "asof_join_tolerance": lambda s, d: temporal.asof_join(
            _events(s, d), tolerance_us=3_600_000_000
        ),
        "range_join_window": lambda s, d: temporal.range_join_window(_events(s, d)),
        "multires_rollup": lambda s, d: temporal.multires_rollup(_events(s, d)),
        "value_percentiles": lambda s, d: temporal.value_percentiles(_events(s, d)),
        "daily_active_users": lambda s, d: temporal.daily_active_users(_events(s, d)),
        "fill_missing_days": lambda s, d: temporal.fill_missing_days(_events(s, d)),
        "rolling_active_users": lambda s, d: temporal.rolling_active_users(_events(s, d)),
        # --- events / sessions (r2 driver-pass) ---
        "event_window_agg": lambda s, d: events.event_window_agg(_events(s, d)),
        "hopping_window_agg": lambda s, d: events.hopping_window_agg(_events(s, d)),
        "funnel_steps": lambda s, d: events.funnel_steps(_events(s, d)),
        "event_props_typed": lambda s, d: events.event_props_typed(_events(s, d)),
        "sessionize": lambda s, d: sessionize.sessionize(_events(s, d)),
        # --- text / corpus ops (r2 driver-pass) ---
        "lang_id": lambda s, d: textstats.lang_id(_docs(s, d)),
        "quality_score": lambda s, d: textstats.quality_score(_docs(s, d)),
        "token_count": lambda s, d: textstats.token_count(_docs(s, d)),
        "doc_fingerprint": lambda s, d: textstats.doc_fingerprint(_docs(s, d)),
        "pii_scrub": lambda s, d: textstats.pii_scrub(_docs(s, d)),
        "tfidf_top_terms": lambda s, d: corpus.tfidf_top_terms(_docs(s, d)),
        "ngram_freq": lambda s, d: corpus.ngram_freq(_docs(s, d)),
        "stratified_sample": lambda s, d: corpus.stratified_sample(_docs(s, d)),
        "sample_exact_k": lambda s, d: corpus.sample_exact_k(_docs(s, d)),
        "weighted_sample_k": lambda s, d: corpus.weighted_sample_k(
            _docs(s, d), k=40
        ),
        "corpus_stats": lambda s, d: corpus.corpus_stats(_docs(s, d)),
        # --- dedup / similarity (r2 driver-pass) ---
        "ann_topk": lambda s, d: similarity.ann_topk(_emb(s, d)),
        "label_centroids": lambda s, d: similarity.label_centroids(_emb(s, d)),
        # --- r1 hash-fails, now fixed oracle-side (BIGINT casts) ---
        "linestatus_priority": relational.linestatus_priority,
        "dominant_suppliers": relational.dominant_suppliers,
        # --- new in r2 (r2 driver-pass) ---
        "dedup_incremental": lambda s, d: dedup.dedup_incremental(_docs(s, d)),
        "late_suppliers": relational.late_suppliers,
        "knn_classify": lambda s, d: similarity.knn_classify(_emb(s, d)),
        "customer_ltv": relational.customer_ltv,
        "kpis_bounded": lambda s, d: analytics.kpis(
            s, d, d1="1995-01-01", d2="1996-12-31"
        ),
        "revenue_timeseries_bounded": lambda s, d: analytics.revenue_timeseries(
            s, d, d1="1995-01-01", d2="1996-12-31"
        ),
        "top_products_bounded": lambda s, d: analytics.top_products(
            s, d, d1="1995-01-01", d2="1996-12-31"
        ),
        "category_mix_bounded": lambda s, d: analytics.category_mix(
            s, d, d1="1995-01-01", d2="1996-12-31"
        ),
        "geo_rollup_bounded": lambda s, d: analytics.geo_rollup(
            s, d, d1="1995-01-01", d2="1996-12-31"
        ),
        "repetition_stats": lambda s, d: textstats.repetition_stats(_docs(s, d)),
        "mix_weights": lambda s, d: corpus.mix_weights(_docs(s, d)),
        "pack_sequences": lambda s, d: packing.pack_sequences(_docs(s, d)),
        "quantize_embeddings": lambda s, d: similarity.quantize_embeddings(
            _emb(s, d)
        ),
        "filter_pipeline": lambda s, d: textstats.filter_pipeline(_docs(s, d)),
        "doc_rarity": lambda s, d: corpus.doc_rarity(_docs(s, d)),
        "customer_order_gaps": relational.customer_order_gaps,
        "supplier_percentiles": relational.supplier_percentiles,
        "ohlc_bars": lambda s, d: temporal.ohlc_bars(_events(s, d)),
        "value_histogram": lambda s, d: temporal.value_histogram(_events(s, d)),
        "scd2_apply": _q_scd2,
        "snapshot_diff": _q_snapshot_diff,
        "dq_summary": _q_dq,
        "media_metadata": lambda s, d: multimodal.media_metadata(
            multimodal.docs_as_media(_docs(s, d))
        ),
        "resize_images": lambda s, d: multimodal.media_metadata(
            multimodal.resize_images(multimodal.docs_as_media(_docs(s, d)))
        ),
        "frame_sample": lambda s, d: multimodal.frame_sample_plan(
            multimodal.docs_as_media(_docs(s, d))
        ),
        # --- core ETL (reference parity; r1 driver-pass) ---
        "normalize_orders": lambda s, d: normalize_orders(load_table(s, d, "orders")),
        "normalize_items": lambda s, d: normalize_items(load_table(s, d, "lineitem")),
        "parse_event_props": lambda s, d: events.parse_event_props(_events(s, d)),
        "enrich_categories": _q_enrich,
        "re_enrich_categories": _q_re_enrich,
        "apply_refunds_orders": lambda s, d: woo_model.fct_orders(s, d),
        "apply_refunds_items": _q_items,
        "upsert": _q_upsert,
        "incremental_watermark": _q_incremental,
        "backfill_windows": _q_backfill,
        # --- dashboard analytics (r1 driver-pass) ---
        "date_bounds": analytics.date_bounds,
        "kpis": analytics.kpis,
        "revenue_timeseries": analytics.revenue_timeseries,
        "top_products": analytics.top_products,
        "category_mix": analytics.category_mix,
        "geo_rollup": analytics.geo_rollup,
        "cohort_retention": analytics.cohort_retention,
        # --- relational breadth (r1 driver-pass) ---
        "pricing_summary": relational.pricing_summary,
        "regional_revenue": relational.regional_revenue,
        "top_orders_per_customer": relational.top_orders_per_customer,
        "sales_rollup": relational.sales_rollup,
        "order_priority_count": relational.order_priority_count,
        "shipping_priority": relational.shipping_priority,
        "discount_revenue": relational.discount_revenue,
        "customer_order_distribution": relational.customer_order_distribution,
        "top_supplier": relational.top_supplier,
        "returnflag_totals": relational.returnflag_totals,
        "volume_shipping": relational.volume_shipping,
        "market_share": relational.market_share,
        "promo_revenue": relational.promo_revenue,
        "large_volume_orders": relational.large_volume_orders,
        "supplier_part_breadth": relational.supplier_part_breadth,
        "important_parts": relational.important_parts,
        "idle_customers": relational.idle_customers,
        "min_cost_supplier": relational.min_cost_supplier,
        "product_profit": relational.product_profit,
        "returned_item_report": relational.returned_item_report,
        "small_qty_revenue": relational.small_qty_revenue,
        "disjunctive_revenue": relational.disjunctive_revenue,
        "supplier_quartiles": relational.supplier_quartiles,
        "segment_share": relational.segment_share,
        "revenue_pivot": relational.revenue_pivot,
        "customer_year_cohorts": relational.customer_year_cohorts,
        "sales_cube": relational.sales_cube,
        "fuzzy_part_names": relational.fuzzy_part_names,
        # --- training-data ops (r1 driver-pass) ---
        "dedup_exact": lambda s, d: dedup.dedup_exact(_docs(s, d)),
        "dedup_ngram_jaccard": lambda s, d: dedup.ngram_jaccard_pairs(_docs_pair_sampled(s, d)),
        "dedup_minhash": lambda s, d: dedup.minhash_lsh_pairs(_docs_pair_sampled(s, d)),
        # --- round-9b corpus-curation breadth ---
        "readability": lambda s, d: textstats.readability(_docs(s, d)),
        "char_entropy": lambda s, d: textstats.char_entropy(_docs(s, d)),
        "link_domains": lambda s, d: textstats.link_domains(
            _linky_docs(s, d)
        ),
        "filter_blocked_domains": lambda s, d: textstats.filter_blocked_domains(
            _linky_docs(s, d), ["site1.com", "site3.com"]
        ),
        "zipf_fit": lambda s, d: corpus.zipf_fit(_docs(s, d)),
        "ngram_novelty": lambda s, d: corpus.ngram_novelty(
            _docs(s, d).filter(F.col("source") != "src0"),
            _docs(s, d).filter(F.col("source") == "src0"),
        ),
        "curriculum_order": lambda s, d: corpus.curriculum_order(_docs(s, d)),
        "embedding_outliers": lambda s, d: similarity.embedding_outliers(
            _emb(s, d)
        ),
        "mojibake_score": lambda s, d: textstats.mojibake_score(
            _wrapped_docs(s, d, _MOJI_SCORE_PREFIX)
        ),
        "fix_mojibake": lambda s, d: textstats.fix_mojibake(
            _wrapped_docs(s, d, _MOJI_FIX_PREFIX)
        ),
        "split_sentences": lambda s, d: textstats.split_sentences(
            _wrapped_docs(s, d, _SENT_PREFIX, _SENT_SUFFIX)
        ),
        "bpe_merge_candidates": lambda s, d: corpus.bpe_merge_candidates(
            _docs(s, d)
        ),
        "anchor_texts": lambda s, d: textstats.anchor_texts(
            _anchory_docs(s, d)
        ),
        "skipgram_pairs": lambda s, d: corpus.skipgram_pairs(_docs(s, d)),
        "bpe_merge_table": lambda s, d: bpe.bpe_train(
            _docs(s, d), n_merges=8
        ),
        "bpe_token_count": lambda s, d: bpe.bpe_token_count(
            _docs(s, d), n_merges=8
        ),
        "bpe_segment_vocab": _q_bpe_segment_vocab,
    }
    unknown_front = [k for k in _R12_FRONT if k not in base]
    if unknown_front:
        # the rotation's whole purpose is priority: a typo'd name
        # must fail loudly, not silently fall outside the driver's
        # verification budget
        raise KeyError(
            f"_R12_FRONT names not in queries(): {unknown_front}"
        )
    ordered = {k: base[k] for k in _R12_FRONT}
    ordered.update({k: v for k, v in base.items() if k not in ordered})
    return ordered


# --------------------------------------------------------------------
# oracle_sql(): DuckDB twins (exact decimal money, µs-integer time)
# --------------------------------------------------------------------

# Mirrors of similarity.valid_embedding()/cosable_embedding():
# malformed vectors (NULL / empty / NaN-or-NULL elements)
# participate in NO similarity oracle; COSINE oracles further
# require a positive norm — exactly the Spark-side guards.
_EMB_VALID = ("embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0")
_EMB_COSABLE = _EMB_VALID + " AND len(list_filter(embedding, x -> x <> 0)) > 0"


_DEC0 = "CAST(0 AS DECIMAL(18,2))"
_DISC = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) * "
    "(CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"
)
_GROSS = f"({_DISC}) * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))"
_TAXAMT = f"({_DISC}) * CAST(l_tax AS DECIMAL(4,2))"
_NETLINE = (
    f"CASE WHEN l_returnflag IS DISTINCT FROM 'R' THEN {_DISC} "
    f"ELSE {_DEC0} END"
)
_REFLINE = f"CASE WHEN l_returnflag = 'R' THEN {_DISC} ELSE {_DEC0} END"

_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
    " ' +', ' ', 'g'))"
)
_TOKS = f"string_split({_NORM}, ' ')"
_MARKERS = "('the','a','of','and','le','la','les','et','der','die','das','und','el','los','las','y')"

_NORM_ORDERS_SQL = """
SELECT o_orderkey AS order_id, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
       o_orderstatus AS status, o_custkey AS customer_id,
       o_orderpriority AS order_priority,
       o_totalprice AS gross_total, o_totalprice AS net_total,
       CAST(0 AS DOUBLE) AS refund_total
FROM orders
"""

_ITEMS_BASE = f"""
SELECT l_orderkey AS order_id, l_partkey AS product_id, l_suppkey AS supplier_id,
       CAST(l_linenumber AS INT) AS line_number, CAST(floor(l_quantity) AS BIGINT) AS quantity,
       l_extendedprice AS price, l_discount AS discount, l_tax AS tax,
       CAST({_DISC} AS DOUBLE) AS total, l_returnflag AS return_flag
FROM lineitem
"""

_FCT_ORDERS_SQL = f"""
WITH agg AS (
  SELECT l_orderkey AS order_id,
         CAST(SUM({_GROSS}) AS DOUBLE) AS gross_total,
         CAST(SUM({_TAXAMT}) AS DOUBLE) AS total_tax,
         CAST(SUM({_DISC}) AS DOUBLE) AS net_total,
         CAST(SUM({_REFLINE}) AS DOUBLE) AS refund_total,
         COUNT(*) AS n_items
  FROM lineitem GROUP BY 1)
SELECT o_orderkey AS order_id, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
       o_orderstatus AS status, o_custkey AS customer_id,
       o_orderpriority AS order_priority,
       COALESCE(gross_total, 0) AS gross_total,
       COALESCE(total_tax, 0) AS total_tax,
       COALESCE(net_total, 0) AS net_total,
       COALESCE(refund_total, 0) AS refund_total,
       COALESCE(net_total, 0) - COALESCE(refund_total, 0) AS net_after_refunds,
       COALESCE(n_items, 0) AS n_items
FROM orders LEFT JOIN agg ON o_orderkey = agg.order_id
"""

_SHINGLES = (
    "list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1), "
    "i -> array_to_string(list_slice(toks, i, i + 2), ' ')))"
)

# ONE oracle-side copy of extract_links' URL grammar (attr regex +
# paired-quote strip + entity decode) and of the domain parse —
# shared by the extract_links, link_domains and filter_blocked_domains
# oracles so a grammar fix lands in every oracle at once (the Spark
# side already has a single source: textstats.extract_links). Expects
# a CTE named ``messy`` with (doc_id, text); yields (doc_id, urls).
_URL_GRAMMAR_SQL = r'''
  SELECT doc_id,
         list_transform(
           regexp_extract_all(
             text,
             '(?i)\b(?:href|src)[ \t\n\f\r]*=[ \t\n\f\r]*("[^"<>]*"|__SQ__[^__SQ__<>]*__SQ__|[^"__SQ__<>=` \t\n\f\r][^<> \t\n\f\r]*)',
             1),
           x -> replace(replace(replace(replace(replace(replace(
                  CASE WHEN x[1:1] IN ('"', chr(39))
                       THEN x[2:len(x)-1] ELSE x END,
                '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&')
         ) AS urls
  FROM messy WHERE text IS NOT NULL
'''.replace("__SQ__", chr(39) * 2)

_DOMAIN_RE_SQL = (
    r"'^(?:[a-zA-Z][a-zA-Z0-9+.-]*:)?//(?:[^/?#]*@)?(\[[^\]]*\]|[^/:?#]+)'"
)

_JACCARD_SQL = f"""
WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, lang, {_SHINGLES} AS sh FROM t)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       len(list_intersect(a.sh, b.sh)) / len(list_distinct(a.sh || b.sh)) AS jaccard
FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE len(list_distinct(a.sh || b.sh)) > 0
  AND len(list_intersect(a.sh, b.sh)) / len(list_distinct(a.sh || b.sh)) >= 0.5
"""

_MINHASH_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {_SHINGLES} AS sh FROM t),
sf AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
ab AS (SELECT doc_id,
         list_transform(sh, x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) % 1000000007) AS ha,
         list_transform(sh, x -> CAST('0x' || substr(md5(x), 17, 15) AS BIGINT) % 1000000007 + 1) AS hb
       FROM sf),
sig AS (SELECT doc_id,
          list_transform(range(0, 16), i ->
            list_aggregate(list_transform(range(1, len(ha) + 1),
              j -> (ha[j] + i * hb[j]) % 1000000007), 'min')) AS sg
        FROM ab),
bands AS (SELECT doc_id, b.range AS band,
                 array_to_string(list_slice(sg, b.range*4 + 1, b.range*4 + 4), '|') AS band_hash
          FROM sig CROSS JOIN range(0, 4) b),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, x.doc_id AS doc_b
         FROM bands a JOIN bands x
           ON a.band = x.band AND a.band_hash = x.band_hash AND a.doc_id < x.doc_id)
SELECT c.doc_a, c.doc_b,
       len(list_intersect(sa.sh, sb.sh)) / len(list_distinct(sa.sh || sb.sh)) AS jaccard
FROM cand c JOIN sf sa ON sa.doc_id = c.doc_a JOIN sf sb ON sb.doc_id = c.doc_b
WHERE len(list_intersect(sa.sh, sb.sh)) / len(list_distinct(sa.sh || sb.sh)) >= 0.5
"""

_SIMHASH_SQL = f"""
WITH t AS (SELECT doc_id,
                  list_filter({_TOKS}, tk -> tk <> '') AS toks
           FROM documents
           WHERE len(list_filter({_TOKS}, tk -> tk <> '')) > 0),
bits AS (SELECT doc_id,
  list_transform(range(1, 33), j ->
    CASE WHEN COALESCE(list_sum(list_transform(toks, tk ->
      CASE WHEN substr(md5(tk), j, 1) IN ('8','9','a','b','c','d','e','f')
           THEN 1 ELSE -1 END)), 0) > 0 THEN 1 ELSE 0 END) AS sb
  FROM t),
bands AS (SELECT doc_id, sb, b.range AS band,
                 array_to_string(list_slice(sb, b.range*8 + 1, b.range*8 + 8), '') AS band_key
          FROM bits CROSS JOIN range(0, 4) b),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, x.doc_id AS doc_b
         FROM bands a JOIN bands x
           ON a.band = x.band AND a.band_key = x.band_key AND a.doc_id < x.doc_id)
SELECT c.doc_a, c.doc_b,
       CAST(list_sum(list_transform(range(1, 33),
            j -> CASE WHEN ba.sb[j] <> bb.sb[j] THEN 1 ELSE 0 END)) AS INT) AS hamming
FROM cand c JOIN bits ba ON ba.doc_id = c.doc_a JOIN bits bb ON bb.doc_id = c.doc_b
WHERE list_sum(list_transform(range(1, 33),
      j -> CASE WHEN ba.sb[j] <> bb.sb[j] THEN 1 ELSE 0 END)) <= 3
"""

_COS = (
    "list_sum(list_transform(range(1, 65), i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))"
    " * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)))))"
)

def _lsh_topk_sql(n_planes: int = 4, n_probe: int = 8) -> str:
    """DuckDB twin of ``similarity.ann_lsh_topk`` at the tuned default
    geometry, generated from the SAME ``_probe_flip_sets`` multi-probe
    schedule the Spark operator compiles — one SELECT per probe (base
    bucket, Hamming-1 marginal flips, Hamming-2 marginal rank pairs),
    unioned, so geometry changes stay single-sourced."""
    from py_etl_pipeline_woocommerce_spark.operators.similarity import (
        _probe_flip_sets,
    )

    _VALID = (
        "embedding IS NOT NULL AND len(embedding) > 0 "
        "AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0 "
        "AND len(list_filter(embedding, x -> x <> 0)) > 0"
    )
    probe_selects = []
    for spec in _probe_flip_sets(n_planes, n_probe):
        if not spec:
            probe_selects.append(
                "SELECT query_id, string_agg(bit, '' ORDER BY p) AS bucket"
                "\n   FROM qb GROUP BY query_id"
            )
        else:
            mranks = ", ".join(str(r + 1) for r in spec)
            probe_selects.append(
                "SELECT query_id, string_agg(CASE WHEN mrank IN"
                f" ({mranks})"
                "\n     THEN CASE WHEN bit = '1' THEN '0' ELSE '1' END"
                " ELSE bit END, '' ORDER BY p) AS bucket"
                "\n   FROM qb GROUP BY query_id"
            )
    probes = "\n  UNION ALL\n  ".join(probe_selects)
    return f"""
WITH qd AS (  -- per (query, plane): signed dot against the md5 hyperplane
  SELECT vec_id AS query_id, CAST(p.range AS INT) AS p,
         list_sum(list_transform(range(1, 65), i ->
           CAST(embedding[i] AS DOUBLE) *
           (CAST('0x' || substr(md5(CAST(p.range AS VARCHAR) || '_'
                                    || CAST(i - 1 AS VARCHAR)), 1, 1)
                 AS BIGINT) - 7.5))) AS dot
  FROM embeddings CROSS JOIN range(0, {n_planes}) p
  WHERE vec_id < 8 AND {_VALID}),
qb AS (SELECT *, CASE WHEN dot > 0 THEN '1' ELSE '0' END AS bit,
              ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY abs(dot), p) AS mrank
       FROM qd),
probes AS (
  {probes}),
q AS (SELECT query_id, e.embedding AS qe, bucket
      FROM probes JOIN embeddings e ON e.vec_id = probes.query_id
      WHERE {_VALID.replace("embedding", "e.embedding")}),
c AS (SELECT vec_id AS neighbor_id, embedding AS ce,
             {_lsh_sig_sql("embedding", n_planes)} AS bucket
      FROM embeddings WHERE {_VALID}),
scored AS (SELECT query_id, neighbor_id, {_COS} AS cos
           FROM c JOIN q USING (bucket)
           WHERE neighbor_id <> query_id)
SELECT query_id, neighbor_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS INT)
         AS knn_rank
FROM scored QUALIFY knn_rank <= 5
"""


def _lsh_sig_sql(vec: str, n_planes: int = 8) -> str:
    """Random-hyperplane LSH signature of a FLOAT[] column — the exact
    SQL twin of ``similarity._hyperplane``/``signature_col``: weight
    (p, d) = md5-nibble(p || '_' || d) − 7.5, bit = dot(v, w_p) > 0."""
    bits = []
    for p in range(n_planes):
        dot = (
            f"list_sum(list_transform(range(1, 65), i -> "
            f"CAST({vec}[i] AS DOUBLE) * "
            f"(CAST('0x' || substr(md5('{p}_' || CAST(i - 1 AS VARCHAR)), 1, 1) "
            f"AS BIGINT) - 7.5)))"
        )
        bits.append(f"CASE WHEN {dot} > 0 THEN '1' ELSE '0' END")
    return " || ".join(bits)


_QUALITY_SQL = f"""
WITH n AS (SELECT doc_id, text, {_NORM} AS norm FROM documents),
t AS (SELECT doc_id, text, norm, string_split(norm, ' ') AS toks,
             CASE WHEN norm IS NULL OR length(norm) = 0 THEN 0 ELSE len(string_split(norm, ' ')) END AS n_tok
      FROM n)
SELECT doc_id,
  CAST(n_tok AS BIGINT) AS n_tokens,
  CASE WHEN n_tok > 0 THEN len(list_distinct(toks)) / n_tok ELSE 0.0 END AS distinct_ratio,
  CASE WHEN n_tok > 0 THEN len(list_filter(toks, tk -> tk IN {_MARKERS})) / n_tok ELSE 0.0 END AS stop_ratio,
  CASE WHEN length(text) > 0
       THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / length(text) ELSE 0.0 END AS alpha_ratio,
  CASE WHEN n_tok > 0 THEN (length(norm) - (n_tok - 1)) / n_tok ELSE 0.0 END AS mean_token_len,
  CASE WHEN n_tok > 0 THEN
    least(n_tok / 100.0, 1.0) * 0.25
    + (len(list_distinct(toks)) / n_tok) * 0.25
    + (len(list_filter(toks, tk -> tk IN {_MARKERS})) / n_tok) * 0.25
    + (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / length(text)) * 0.25
  ELSE 0.0 END AS quality
FROM t
"""

_REPETITION_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
uc AS (SELECT doc_id, g, COUNT(*) AS c
       FROM (SELECT doc_id, unnest(toks) AS g FROM t) WHERE g <> ''
       GROUP BY 1, 2),
uni AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, MAX(c) AS top_uni
        FROM uc GROUP BY 1),
bc AS (SELECT doc_id, g, COUNT(*) AS c
       FROM (SELECT doc_id,
                    unnest(list_transform(generate_series(1, len(toks) - 1),
                                          i -> toks[i] || ' ' || toks[i + 1])) AS g
             FROM t)
       GROUP BY 1, 2),
bi AS (SELECT doc_id, SUM(c) AS n_bi, MAX(c) AS top_bi FROM bc GROUP BY 1),
tc AS (SELECT doc_id, g, COUNT(*) AS c
       FROM (SELECT doc_id,
                    unnest(list_transform(generate_series(1, len(toks) - 2),
                                          i -> toks[i] || ' ' || toks[i + 1]
                                               || ' ' || toks[i + 2])) AS g
             FROM t)
       GROUP BY 1, 2),
tri AS (SELECT doc_id, SUM(c) AS n_tri, COUNT(*) AS distinct_tri FROM tc GROUP BY 1)
SELECT d.doc_id,
       COALESCE(n_tokens, 0) AS n_tokens,
       COALESCE(CAST(top_uni AS DOUBLE) / n_tokens, 0.0::DOUBLE) AS top_unigram_frac,
       COALESCE(CAST(top_bi AS DOUBLE) / n_bi, 0.0::DOUBLE) AS top_bigram_frac,
       COALESCE(CAST(n_tri - distinct_tri AS DOUBLE) / n_tri, 0.0::DOUBLE)
         AS dup_trigram_frac
FROM documents d
LEFT JOIN uni ON d.doc_id = uni.doc_id
LEFT JOIN bi ON d.doc_id = bi.doc_id
LEFT JOIN tri ON d.doc_id = tri.doc_id
"""

_BM25_SQL = f"""
WITH toks AS (SELECT doc_id, t.term
              FROM (SELECT doc_id, {_TOKS} AS tk FROM documents),
                   UNNEST(tk) AS t(term)
              WHERE t.term <> ''),
q AS (SELECT DISTINCT doc_id AS query_id, t.term
      FROM (SELECT doc_id, list_slice({_TOKS}, 1, 8) AS tk
            FROM documents WHERE doc_id % 97 = 0),
           UNNEST(tk) AS t(term)
      WHERE t.term <> ''),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
st AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS tok_total
       FROM dl),
sc AS (SELECT q.query_id, tf.doc_id,
              round(SUM(
                ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                * (tf.tf * (1.2 + 1.0)
                   / (tf.tf + 1.2 * (1.0 - 0.75
                        + 0.75 * dl.dl
                          / (CAST(tok_total AS DOUBLE) / n_docs))))
              ), 6) AS score
       FROM tf JOIN q USING (term)
               JOIN df USING (term)
               JOIN dl ON dl.doc_id = tf.doc_id
               CROSS JOIN st
       WHERE tf.doc_id <> q.query_id
       GROUP BY 1, 2)
SELECT query_id, doc_id, score,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, doc_id) AS INT)
         AS bm25_rank
FROM sc QUALIFY bm25_rank <= 10
"""


_SEM97_SQL = f"""
WITH occ AS (SELECT doc_id, t.term
             FROM (SELECT doc_id, {_TOKS} AS tk FROM documents),
                  UNNEST(tk) AS t(term)
             WHERE t.term <> ''),
tb AS (SELECT doc_id, dim_idx, COUNT(*) AS tf
       FROM (SELECT doc_id,
                    CAST('0x' || substr(md5(term), 1, 15) AS BIGINT) % 64
                      AS dim_idx
             FROM occ)
       GROUP BY 1, 2),
nm AS (SELECT doc_id, sqrt(CAST(SUM(tf * tf) AS BIGINT)) AS nrm
       FROM tb GROUP BY 1),
ev AS (SELECT doc_id, dim_idx, round(tf / nrm, 6) AS weight
       FROM tb JOIN nm USING (doc_id)),
qv AS (SELECT doc_id AS query_id, dim_idx, weight AS q_w
       FROM ev WHERE doc_id % 97 = 0),
sc AS (SELECT query_id, ev.doc_id, round(SUM(q_w * weight), 6) AS cos
       FROM ev JOIN qv USING (dim_idx)
       WHERE ev.doc_id <> query_id
       GROUP BY 1, 2)
SELECT query_id, doc_id, cos,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, doc_id) AS INT)
         AS sim_rank
FROM sc QUALIFY sim_rank <= 10
"""


_CLUSTERS_SQL = f"""
WITH RECURSIVE
pairs AS (SELECT doc_a, doc_b FROM ({_MINHASH_SQL})),
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
lab AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY 1)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM lab
"""

_MEDIA_SQL = """
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS modality,
       CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
            ELSE 'video/mp4' END AS mime_type,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       CASE WHEN doc_id % 3 = 0
            THEN CAST((doc_id % 8 + 1) * 16 AS INT) END AS width,
       CASE WHEN doc_id % 3 = 0
            THEN CAST((doc_id % 4 + 1) * 16 AS INT) END AS height,
       CASE WHEN doc_id % 3 <> 0
            THEN CAST((doc_id % 10 + 1) * 2000 AS BIGINT) END AS duration_ms
FROM documents
"""

_FILTER_SQL = f"""
WITH q AS ({_QUALITY_SQL}),
r AS ({_REPETITION_SQL}),
j AS (SELECT q.doc_id, q.n_tokens, r.top_unigram_frac, r.dup_trigram_frac,
             q.stop_ratio, q.quality,
             CASE WHEN q.n_tokens < 20 THEN 'too_short'
                  WHEN r.top_unigram_frac > 0.15 THEN 'repetitive_unigram'
                  WHEN r.dup_trigram_frac > 0.05 THEN 'repetitive_trigram'
                  WHEN q.stop_ratio < 0.02 THEN 'low_stopword'
                  WHEN q.quality < 0.42 THEN 'low_quality'
                  ELSE 'kept' END AS reason
      FROM q JOIN r ON q.doc_id = r.doc_id)
SELECT *, reason = 'kept' AS keep FROM j
"""

_LANG_SQL = f"""
WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
h AS (SELECT doc_id, lang,
        len(list_filter(toks, tk -> tk IN ('the','a','of','and'))) AS h_en,
        len(list_filter(toks, tk -> tk IN ('le','la','les','et'))) AS h_fr,
        len(list_filter(toks, tk -> tk IN ('der','die','das','und'))) AS h_de,
        len(list_filter(toks, tk -> tk IN ('el','los','las','y'))) AS h_es
      FROM t)
SELECT doc_id, lang AS lang_declared,
  CASE WHEN greatest(h_en, h_fr, h_de, h_es) IS NULL THEN 'unknown'
       WHEN greatest(h_en, h_fr, h_de, h_es) = 0 THEN 'unknown'
       WHEN h_en = greatest(h_en, h_fr, h_de, h_es) THEN 'en'
       WHEN h_fr = greatest(h_en, h_fr, h_de, h_es) THEN 'fr'
       WHEN h_de = greatest(h_en, h_fr, h_de, h_es) THEN 'de'
       ELSE 'es' END AS lang_pred
FROM h
"""


_BOUNDS = (
    "o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' "
    "AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'"
)


#: The dashboard's DEFAULT sidebar window — the reference initializes
#: to the LAST 30 DAYS of data: (max(min_d, max_d − 30d), max_d)
#: (app.py:124-126). Expressed as scalar subqueries over orders so the
#: oracle derives the bounds from the data exactly like
#: dashboard_payload's default resolution.
_DEF_BOUNDS = (
    "o_orderdate >= (SELECT greatest(min(CAST(o_orderdate AS DATE)), "
    "max(CAST(o_orderdate AS DATE)) - INTERVAL 30 DAY) FROM orders) "
    "AND o_orderdate < (SELECT max(CAST(o_orderdate AS DATE)) "
    "+ INTERVAL 1 DAY FROM orders)"
)


def _dashboard_digest_oracle(frames: dict[str, str]) -> str:
    """Digest oracle for ``dashboard_payload``: wraps each payload
    frame's own oracle as a subquery and reduces it to
    (frame, n_rows, digest) exactly like ``dashboard_digest`` —
    DECIMAL(28,6)-accumulated sum of the headline numeric column so
    the fold matches Spark's bit-for-bit. The five windowed frames
    use their *_bounded oracles with the fixed test window swapped
    for the data-derived DEFAULT window (last 30 days of data), the
    same bounds ``dashboard_payload`` resolves when called bare."""
    # ONE source for the frame->headline-column map (the
    # linky-grammar lesson): a frame rename in dashboard.py must not
    # leave this oracle silently verifying the old shape
    from py_etl_pipeline_woocommerce_spark.plans.dashboard import (
        _DIGEST_COL as digest_col,
    )
    src_key = {
        "kpis": "kpis_bounded",
        "revenue_timeseries": "revenue_timeseries_bounded",
        "top_products": "top_products_bounded",
        "category_mix": "category_mix_bounded",
        "geo_rollup": "geo_rollup_bounded",
    }
    parts = []
    for name, col in digest_col.items():
        inner = frames[src_key.get(name, name)].strip()
        if name in src_key:
            # the swap is literal-string-based: fail loudly if the
            # *_bounded oracle was rephrased, never verify the wrong
            # window silently
            assert _BOUNDS in inner, f"{src_key[name]} lost _BOUNDS"
            inner = inner.replace(_BOUNDS, _DEF_BOUNDS)
        if col is None:
            digest = "CAST(0 AS DOUBLE)"
        else:
            digest = (
                f"CAST(COALESCE(SUM(CAST({col} AS DECIMAL(28,6))), 0) AS DOUBLE)"
            )
        parts.append(
            f"SELECT '{name}' AS frame, COUNT(*) AS n_rows, {digest} AS digest\n"
            f"FROM ({inner})"
        )
    return "\nUNION ALL\n".join(parts)


def _bpe_rounds_sql(n: int) -> str:
    """Unrolled DuckDB twin of bpe.train_merges_py: n merge rounds
    over the aggregated vocabulary. Every CTE is MATERIALIZED —
    inlined CTEs re-expand v{i-1} twice per round, which is 2^n
    vocabulary scans by round n. Per round: pair counts from adjacent
    symbols, deterministic argmax (count desc, left, right), then
    left-to-right NON-OVERLAPPING apply via the run-parity pick: in a
    run of consecutive match positions (only possible when left =
    right), the greedy scan merges exactly the even offsets. The
    m{i} attach is a LEFT JOIN ON TRUE, not a cross join: when the
    vocabulary exhausts its pairs before round n, m{i} is EMPTY and a
    cross join would annihilate v{i}..v{n} — the left join passes the
    vocabulary through unchanged instead, matching the Python
    trainer's early break (and the merge-table UNION naturally
    yields fewer rows)."""
    parts = [f"""occ AS MATERIALIZED (SELECT t.term AS token
             FROM (SELECT {_TOKS} AS tk FROM documents),
                  UNNEST(tk) AS t(term)
             WHERE t.term <> ''),
v0 AS MATERIALIZED (SELECT token, CAST(COUNT(*) AS BIGINT) AS tok_count,
              string_split(token, '') AS syms
       FROM occ GROUP BY token)"""]
    for i in range(1, n + 1):
        parts.append(f"""p{i} AS MATERIALIZED (SELECT syms[g.j] AS lft, syms[g.j+1] AS rgt,
                CAST(SUM(tok_count) AS BIGINT) AS cnt
         FROM v{i-1}, UNNEST(generate_series(1, len(syms)-1)) AS g(j)
         GROUP BY 1, 2),
m{i} AS MATERIALIZED (SELECT lft, rgt, cnt FROM p{i}
         ORDER BY cnt DESC, lft, rgt LIMIT 1),
x{i} AS MATERIALIZED (SELECT token, tok_count, syms, g.j AS j,
                CASE WHEN syms[g.j] = m.lft
                      AND syms[g.j+1] = m.rgt THEN 1 ELSE 0 END AS hit
         FROM v{i-1} LEFT JOIN m{i} m ON TRUE,
              UNNEST(generate_series(1, len(syms))) AS g(j)),
h{i} AS MATERIALIZED (SELECT token, j,
                ROW_NUMBER() OVER (PARTITION BY token ORDER BY j) AS rn
         FROM x{i} WHERE hit = 1),
k{i} AS MATERIALIZED (SELECT token, j FROM
           (SELECT token, j, rn,
                   MIN(rn) OVER (PARTITION BY token, j - rn) AS rn0
            FROM h{i})
         WHERE (rn - rn0) % 2 = 0),
v{i} AS MATERIALIZED (SELECT x.token, x.tok_count,
                list(CASE WHEN p.j IS NOT NULL
                          THEN x.syms[x.j] || x.syms[x.j+1]
                          ELSE x.syms[x.j] END ORDER BY x.j) AS syms
         FROM x{i} x
         LEFT JOIN k{i} p ON x.token = p.token AND x.j = p.j
         LEFT JOIN k{i} q ON x.token = q.token AND x.j = q.j + 1
         WHERE q.j IS NULL
         GROUP BY 1, 2)""")
    return "WITH " + ",\n".join(parts)


def _bpe_merge_table_sql(n: int = 8) -> str:
    u = "\nUNION ALL\n".join(
        f'SELECT CAST({i} AS INT) AS merge_rank, lft AS "left", '
        f'rgt AS "right", cnt AS n_occurrences FROM m{i}'
        for i in range(1, n + 1)
    )
    return _bpe_rounds_sql(n) + "\n" + u


def _bpe_token_count_sql(n: int = 8) -> str:
    # the final round's vocabulary state IS every distinct token's
    # segmentation, so applying the merges to the corpus is one join
    return _bpe_rounds_sql(n) + f""",
docc AS MATERIALIZED (SELECT doc_id, t.term AS token
         FROM (SELECT doc_id, {_TOKS} AS tk FROM documents),
              UNNEST(tk) AS t(term)
         WHERE t.term <> ''),
pd AS MATERIALIZED (SELECT d.doc_id, COUNT(*) AS ws, SUM(len(v.syms)) AS bpe
       FROM docc d JOIN v{n} v USING (token) GROUP BY 1)
SELECT documents.doc_id,
       CAST(COALESCE(ws, 0) AS BIGINT) AS n_tokens_ws,
       CAST(COALESCE(bpe, 0) AS BIGINT) AS n_tokens_bpe
FROM documents LEFT JOIN pd USING (doc_id)"""


def oracle_sql() -> dict[str, str]:
    out = {
        # END-TO-END flow parity: regenerate woo_flow_digest's
        # deterministic 120-order batch (same integer arithmetic as
        # _woo_digest_batch) from generate_series and replay the
        # pipeline's net-total / refund / category semantics in SQL —
        # the hash proves the COMPOSED stage→parse→enrich→refunds→
        # upsert flow, not just its pieces.
        "woo_flow_digest": """
WITH lines AS (
  SELECT i, j,
         10 + ((i + j) % 7) AS product_id,
         1 + ((i * j) % 5) AS quantity,
         (100 + ((i * 7 + j * 13) % 900)) / 10.0 AS price
  FROM generate_series(1, 120) t(i), generate_series(1, 3) u(j)
  WHERE j <= 1 + (i % 3)
),
ord AS (
  SELECT i,
         '2024-0' || CAST(1 + (i % 2) AS VARCHAR) AS order_month,
         CASE WHEN i % 10 = 0 THEN 'processing'
              ELSE 'completed' END AS status,
         SUM(quantity * price) AS net_total
  FROM lines GROUP BY 1, 2, 3
),
ref AS (
  SELECT i, (100 + ((i * 7 + 13) % 900)) / 10.0 AS refund_total
  FROM generate_series(1, 120) t(i) WHERE i % 9 = 0
),
o2 AS (
  SELECT o.order_month, o.status, o.net_total,
         COALESCE(r.refund_total, 0.0) AS refund_total
  FROM ord o LEFT JOIN ref r USING (i)
),
orders_agg AS (
  SELECT order_month, status,
         COUNT(*) AS n_orders,
         ROUND(SUM(net_total), 2) AS net_sum,
         ROUND(SUM(refund_total), 2) AS refund_sum,
         ROUND(SUM(net_total - refund_total), 2) AS net_after_sum
  FROM o2 GROUP BY 1, 2
),
items AS (
  SELECT l.i, l.quantity, l.quantity * l.price AS total,
         o.order_month, o.status,
         CASE WHEN r.i IS NOT NULL AND l.j = 1
              THEN 1 ELSE 0 END AS refunded_quantity,
         CASE WHEN r.i IS NOT NULL AND l.j = 1
              THEN -r.refund_total ELSE 0.0 END AS refunded_total,
         'Cat' || CAST(l.product_id % 3 AS VARCHAR) ||
           CASE WHEN l.product_id % 2 = 0
                THEN ' | Extra' ELSE '' END AS category_snapshot
  FROM lines l JOIN ord o USING (i) LEFT JOIN ref r USING (i)
),
items_agg AS (
  SELECT order_month, status,
         COUNT(*) AS n_items,
         CAST(SUM(quantity) AS BIGINT) AS qty_sum,
         ROUND(SUM(total), 2) AS item_total_sum,
         CAST(SUM(refunded_quantity) AS BIGINT) AS refunded_qty_sum,
         ROUND(SUM(refunded_total), 2) AS refunded_total_sum,
         COUNT(DISTINCT category_snapshot) AS n_cats
  FROM items GROUP BY 1, 2
)
SELECT o.order_month, o.status, n_orders, net_sum, refund_sum,
       net_after_sum, n_items, qty_sum, item_total_sum,
       refunded_qty_sum, refunded_total_sum, n_cats
FROM orders_agg o JOIN items_agg USING (order_month, status)
ORDER BY 1, 2
""",
        "kpis_bounded": f"""
WITH k AS (SELECT o_orderkey FROM orders WHERE {_BOUNDS}),
o AS (SELECT COUNT(*) AS orders_cnt FROM k),
l AS (SELECT l_orderkey, {_DISC} AS net, l_returnflag
      FROM lineitem JOIN k ON l_orderkey = o_orderkey),
s AS (SELECT COALESCE(SUM(net), 0) AS net,
             COALESCE(SUM(CASE WHEN l_returnflag = 'R' THEN net ELSE {_DEC0} END), 0) AS ref
      FROM l)
SELECT o.orders_cnt,
       CAST(ROUND(s.net, 2) AS DOUBLE) AS net_before_refunds,
       CAST(ROUND(s.ref, 2) AS DOUBLE) AS refunds,
       CAST(ROUND(s.net - s.ref, 2) AS DOUBLE) AS net_after_refunds,
       CASE WHEN o.orders_cnt > 0
            THEN CAST(ROUND(s.net, 2) AS DOUBLE) / o.orders_cnt
            ELSE 0.0 END AS aov
FROM s, o
""",
        "revenue_timeseries_bounded": f"""
SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d,
       CAST(ROUND(SUM({_NETLINE}), 2) AS DOUBLE) AS net
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE {_BOUNDS}
GROUP BY 1
""",
        "top_products_bounded": f"""
WITH k AS (SELECT o_orderkey FROM orders WHERE {_BOUNDS}),
agg AS (
  SELECT p_name AS name, SUM({_NETLINE}) AS _rev,
         CAST(floor(SUM(CASE WHEN l_returnflag IS DISTINCT FROM 'R'
                         THEN CAST(l_quantity AS DECIMAL(18,2))
                         ELSE CAST(0 AS DECIMAL(18,2)) END)) AS BIGINT)
           AS qty_sold
  FROM lineitem
  JOIN k ON l_orderkey = o_orderkey
  LEFT JOIN part ON l_partkey = p_partkey GROUP BY 1)
SELECT name, CAST(_rev AS DOUBLE) AS revenue, qty_sold
FROM agg ORDER BY _rev DESC, name NULLS FIRST LIMIT 15
""",
        "category_mix_bounded": f"""
WITH k AS (SELECT o_orderkey FROM orders WHERE {_BOUNDS}),
agg AS (
  SELECT COALESCE(NULLIF(TRIM(p_type), ''), 'Uncategorized') AS category,
         SUM({_NETLINE}) AS _rev
  FROM lineitem
  JOIN k ON l_orderkey = o_orderkey
  LEFT JOIN part ON l_partkey = p_partkey GROUP BY 1)
SELECT category, CAST(_rev AS DOUBLE) AS revenue
FROM agg ORDER BY _rev DESC, category LIMIT 15
""",
        "geo_rollup_bounded": f"""
WITH per_order AS (
  SELECT l_orderkey AS o_orderkey, SUM({_NETLINE}) AS _order_net
  FROM lineitem GROUP BY 1),
g AS (SELECT r_name AS region, n_name AS country,
             COALESCE(_order_net, {_DEC0}) AS _order_net
      FROM (SELECT * FROM orders WHERE {_BOUNDS}) LEFT JOIN per_order USING (o_orderkey)
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey),
agg AS (SELECT region, country, COUNT(*) AS orders, SUM(_order_net) AS _net
        FROM g GROUP BY 1, 2)
SELECT region, country, orders, CAST(_net AS DOUBLE) AS net
FROM agg ORDER BY _net DESC, region, country LIMIT 20
""",
        "repetition_stats": _REPETITION_SQL,
        "filter_pipeline": _FILTER_SQL,
        "doc_rarity": f"""
WITH occ AS (SELECT doc_id, g AS term
             FROM (SELECT doc_id, unnest({_TOKS}) AS g FROM documents)
             WHERE g <> ''),
dfreq AS (SELECT term, COUNT(*) AS df
          FROM (SELECT DISTINCT doc_id, term FROM occ) GROUP BY 1),
per_doc AS (SELECT doc_id, COUNT(*) AS n_occ, CAST(SUM(df) AS BIGINT) AS df_sum
            FROM occ JOIN dfreq USING (term) GROUP BY 1),
tot AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT d.doc_id,
       COALESCE(n_occ, 0) AS n_occ,
       COALESCE(df_sum, 0) AS df_sum,
       CAST(df_sum AS DOUBLE) / (CAST(n_occ AS DOUBLE) * n_docs)
         AS commonness,
       1.0::DOUBLE - CAST(df_sum AS DOUBLE)
         / (CAST(n_occ AS DOUBLE) * n_docs) AS rarity
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id CROSS JOIN tot
""",
        "dedup_incremental_near": f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {_SHINGLES} AS sh FROM t),
sf AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
ab AS (SELECT doc_id,
         list_transform(sh, x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) % 1000000007) AS ha,
         list_transform(sh, x -> CAST('0x' || substr(md5(x), 17, 15) AS BIGINT) % 1000000007 + 1) AS hb
       FROM sf),
sig AS (SELECT doc_id,
          list_transform(range(0, 16), i ->
            list_aggregate(list_transform(range(1, len(ha) + 1),
              j -> (ha[j] + i * hb[j]) % 1000000007), 'min')) AS sg
        FROM ab),
bands AS (SELECT doc_id, b.range AS band,
                 array_to_string(list_slice(sg, b.range*4 + 1, b.range*4 + 4), '|') AS band_hash
          FROM sig CROSS JOIN range(0, 4) b),
cand AS (SELECT DISTINCT b.doc_id AS doc_id, c.doc_id AS dup_of
         FROM bands b JOIN bands c
           ON b.band = c.band AND b.band_hash = c.band_hash
         WHERE b.doc_id % 10 = 0 AND c.doc_id % 10 <> 0),
scored AS (SELECT cand.doc_id, cand.dup_of,
                  len(list_intersect(sb.sh, sc.sh))
                    / len(list_distinct(sb.sh || sc.sh)) AS jaccard
           FROM cand
           JOIN sf sb ON sb.doc_id = cand.doc_id
           JOIN sf sc ON sc.doc_id = cand.dup_of
           WHERE len(list_intersect(sb.sh, sc.sh))
                   / len(list_distinct(sb.sh || sc.sh)) >= 0.5),
best AS (SELECT doc_id, dup_of, jaccard,
                ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY jaccard DESC, dup_of) AS rn
         FROM scored)
SELECT d.doc_id, b.dup_of, b.jaccard, b.dup_of IS NOT NULL AS is_near_dup
FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
""",
        "scd2_apply": """
WITH cur AS (SELECT p_partkey, p_type, p_retailprice FROM part),
upd AS (SELECT p_partkey,
               CASE WHEN p_partkey % 2 = 1 THEN 'NEW_' || p_type
                    ELSE p_type END AS p_type,
               p_retailprice
        FROM part WHERE p_partkey % 3 <> 2),
j AS (SELECT c.p_partkey AS ck, u.p_partkey AS uk,
             c.p_type AS ct, c.p_retailprice AS cp,
             u.p_type AS ut, u.p_retailprice AS up
      FROM cur c FULL OUTER JOIN upd u ON c.p_partkey = u.p_partkey),
t AS (SELECT *,
             uk IS NOT NULL AND (ck IS NULL
                                 OR ct IS DISTINCT FROM ut
                                 OR cp IS DISTINCT FROM up) AS changed
      FROM j)
SELECT ck AS p_partkey, ct AS p_type, cp AS p_retailprice,
       CAST(0 AS INT) AS valid_from, CAST(NULL AS INT) AS valid_to,
       TRUE AS is_current
FROM t WHERE ck IS NOT NULL AND NOT changed
UNION ALL
SELECT ck, ct, cp, CAST(0 AS INT), CAST(1 AS INT), FALSE
FROM t WHERE ck IS NOT NULL AND changed
UNION ALL
SELECT uk, ut, up, CAST(1 AS INT), CAST(NULL AS INT), TRUE
FROM t WHERE changed
""",
        "snapshot_diff": """
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total_c
  FROM orders),
aft AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0
              THEN CAST(CAST(total_c AS DECIMAL(18,2)) + 1 AS VARCHAR)
              ELSE total_c END AS total_c
  FROM base WHERE o_orderkey % 11 <> 0
  UNION ALL
  SELECT -o_orderkey, o_orderstatus, total_c
  FROM base WHERE o_orderkey % 13 = 0),
b AS (SELECT o_orderkey,
             md5(COALESCE(md5(o_orderstatus), '-')
                 || COALESCE(md5(total_c), '-')) AS fp_before
      FROM base),
a AS (SELECT o_orderkey,
             md5(COALESCE(md5(o_orderstatus), '-')
                 || COALESCE(md5(total_c), '-')) AS fp_after
      FROM aft),
jj AS (SELECT COALESCE(b.o_orderkey, a.o_orderkey) AS o_orderkey,
              fp_before, fp_after
       FROM b FULL OUTER JOIN a ON b.o_orderkey = a.o_orderkey)
SELECT o_orderkey,
       CASE WHEN fp_before IS NULL THEN 'added'
            WHEN fp_after IS NULL THEN 'removed'
            ELSE 'changed' END AS change,
       fp_before, fp_after
FROM jj
WHERE fp_before IS NULL OR fp_after IS NULL OR fp_before <> fp_after
""",
        "dq_summary": """
WITH dirty0 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_custkey END AS o_custkey,
         CASE WHEN o_orderkey % 17 = 0 THEN -o_totalprice
              ELSE o_totalprice END AS o_totalprice
  FROM orders),
dirty AS (SELECT * FROM dirty0
          UNION ALL SELECT * FROM dirty0 WHERE o_orderkey % 19 = 0),
dup AS (SELECT CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) AS dup_key_rows
        FROM (SELECT o_orderkey, COUNT(*) AS n FROM dirty GROUP BY 1)
        WHERE n > 1)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS nulls_o_custkey,
       CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS negative_o_totalprice,
       dup_key_rows
FROM dirty CROSS JOIN dup
GROUP BY dup_key_rows
""",
        "corpus_prep": f"""
WITH fp AS ({_FILTER_SQL}),
gate AS (SELECT doc_id FROM fp WHERE keep),
keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5({_NORM})),
surv AS (
  SELECT d.doc_id,
         CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) % 8 AS bucket,
         CAST(CASE WHEN length({_NORM}) = 0 THEN 0
                   ELSE len({_TOKS}) END AS BIGINT) AS n_tokens
  FROM documents d
  JOIN gate USING (doc_id) JOIN keep USING (doc_id)
  WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)
             AS BIGINT) % 100 < 80),
c AS (SELECT *, CAST(SUM(n_tokens)
                     OVER (PARTITION BY bucket ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end
      FROM surv WHERE n_tokens > 0)
SELECT doc_id, bucket, n_tokens,
       cum_end - n_tokens AS stream_start,
       CAST(floor((cum_end - n_tokens) / 512) AS BIGINT) AS start_pack,
       CAST(floor((cum_end - 1) / 512) AS BIGINT) AS end_pack,
       (cum_end - n_tokens) % 512 AS pack_offset,
       CAST(floor((cum_end - 1) / 512) AS BIGINT)
         - CAST(floor((cum_end - n_tokens) / 512) AS BIGINT) + 1
         AS n_packs_spanned
FROM c
""",
        "vocab_drift": f"""
WITH toks AS (
  SELECT source, t.term
  FROM (SELECT source, {_TOKS} AS tk FROM documents
        WHERE source IN ('src0', 'src1')),
       UNNEST(tk) AS t(term)
  WHERE t.term <> ''),
counts AS (SELECT source, term, COUNT(*) AS c FROM toks GROUP BY 1, 2),
totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS total
           FROM counts GROUP BY 1),
shares AS (SELECT term, source, CAST(c AS DOUBLE) / total AS share, c
           FROM counts JOIN totals USING (source)),
a AS (SELECT term, share AS share_a, c AS count_a FROM shares
      WHERE source = 'src0'),
b AS (SELECT term, share AS share_b, c AS count_b FROM shares
      WHERE source = 'src1'),
j AS (SELECT COALESCE(a.term, b.term) AS term,
             COALESCE(count_a, 0) AS count_a,
             COALESCE(count_b, 0) AS count_b,
             COALESCE(share_a, 0.0::DOUBLE) AS share_a,
             COALESCE(share_b, 0.0::DOUBLE) AS share_b
      FROM a FULL OUTER JOIN b ON a.term = b.term)
SELECT *, abs(share_a - share_b) AS drift,
       CAST(ROW_NUMBER() OVER (ORDER BY abs(share_a - share_b) DESC, term)
            AS INT) AS drift_rank
FROM j
QUALIFY drift_rank <= 25
""",
        "dq_rules": """
WITH dirty AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_custkey END AS o_custkey,
         CASE WHEN o_orderkey % 17 = 0 THEN -o_totalprice
              ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM orders),
w AS (SELECT COUNT(*) AS n_rows,
             CAST(SUM(CASE WHEN NOT COALESCE(o_custkey IS NOT NULL, FALSE)
                           THEN 1 ELSE 0 END) AS BIGINT) AS v0,
             CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice >= 0, FALSE)
                           THEN 1 ELSE 0 END) AS BIGINT) AS v1,
             CAST(SUM(CASE WHEN NOT COALESCE(o_orderstatus IN ('O','F','P'),
                                             FALSE)
                           THEN 1 ELSE 0 END) AS BIGINT) AS v2
      FROM dirty)
SELECT 'custkey_not_null' AS rule, v0 AS violations, n_rows, v0 = 0 AS ok FROM w
UNION ALL
SELECT 'totalprice_non_negative', v1, n_rows, v1 = 0 FROM w
UNION ALL
SELECT 'status_valid', v2, n_rows, v2 = 0 FROM w
""",
        "token_budget_sample": f"""
WITH q AS ({_QUALITY_SQL}),
d AS (SELECT dd.doc_id, dd.lang, q.n_tokens, q.quality
      FROM documents dd JOIN q USING (doc_id)),
r AS (SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY lang
                                         ORDER BY quality DESC, doc_id
                                         ROWS UNBOUNDED PRECEDING)
                     AS BIGINT) AS cum_tokens
      FROM d)
SELECT doc_id, lang, n_tokens, quality, cum_tokens,
       cum_tokens - n_tokens < 20000 AS is_selected
FROM r
""",
        "session_window_agg": """
WITH e AS (SELECT user_id, epoch_us(ts) AS t_us, value FROM events),
-- session boundaries over DISTINCT (user, instant): the ROWS-frame
-- cumsum is ill-defined when duplicate timestamps straddle a session
-- start (tie order decides which duplicates land in which session —
-- exposed by the r11 sf1 replica), while Spark's session_window is
-- set-based; assigning the seq per distinct instant and joining back
-- is deterministic and value-identical on tie-free data
d AS (SELECT DISTINCT user_id, t_us FROM e),
tagged AS (
  SELECT *, CASE WHEN lag(t_us) OVER w IS NULL
                   OR t_us - lag(t_us) OVER w > 1800000000
                 THEN 1 ELSE 0 END AS new_sess
  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY t_us)),
sess AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t_us
                                ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM tagged)
SELECT e.user_id, MIN(e.t_us) AS start_us,
       MAX(e.t_us) + 1800000000 AS end_us,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(CASE WHEN isnan(e.value) THEN NULL ELSE e.value END AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM e JOIN sess ON e.user_id = sess.user_id AND e.t_us = sess.t_us
GROUP BY e.user_id, session_seq
""",
        "semdedup_apply": f"""
WITH RECURSIVE
cpairs AS (
  SELECT vec_a, vec_b
  FROM (SELECT vec_id AS vec_a, embedding AS qe FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0 AND len(list_filter(embedding, x -> x <> 0)) > 0) a
  JOIN (SELECT vec_id AS vec_b, embedding AS ce FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0 AND len(list_filter(embedding, x -> x <> 0)) > 0) b
    ON vec_a < vec_b
  WHERE {_COS} >= 0.3),
edges AS (SELECT vec_a AS u, vec_b AS v FROM cpairs
          UNION ALL SELECT vec_b, vec_a FROM cpairs),
reach(src, dst) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
lab AS (SELECT src AS vec_id, MIN(dst) AS cluster_id FROM reach GROUP BY 1)
SELECT vec_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       vec_id = cluster_id AS is_kept
FROM lab
""",
        "dedup_containment": _doc_sample_cte(f"""
WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, lang, {_SHINGLES} AS sh FROM t),
sf AS (SELECT doc_id, lang, sh FROM s WHERE len(sh) > 0)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       len(list_intersect(a.sh, b.sh)) / len(a.sh) AS containment
FROM sf a JOIN sf b ON a.lang = b.lang AND a.doc_id <> b.doc_id
WHERE len(list_intersect(a.sh, b.sh)) / len(a.sh) >= 0.8
"""),
        "unigram_logprob": f"""
WITH occ AS (SELECT doc_id, t.term
             FROM (SELECT doc_id, {_TOKS} AS tk FROM documents),
                  UNNEST(tk) AS t(term)
             WHERE t.term <> ''),
dt AS (SELECT doc_id, term, COUNT(*) AS tf_doc FROM occ GROUP BY 1, 2),
ct AS (SELECT term, CAST(SUM(tf_doc) AS BIGINT) AS tf FROM dt GROUP BY 1),
tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS total FROM ct),
pd AS (SELECT doc_id, CAST(SUM(tf_doc) AS BIGINT) AS n_occ,
              SUM(tf_doc * -log2(CAST(tf AS DOUBLE) / total)) AS bits
       FROM dt JOIN ct USING (term) CROSS JOIN tot
       GROUP BY doc_id)
SELECT d.doc_id, COALESCE(n_occ, 0) AS n_occ,
       COALESCE(round(bits / n_occ, 6), 0.0::DOUBLE) AS bits_per_token
FROM documents d LEFT JOIN pd USING (doc_id)
""",
        "tokenizer_stats": f"""
WITH pd AS (SELECT lang,
                   CASE WHEN length({_NORM}) = 0 THEN 0
                        ELSE len({_TOKS}) END AS n_tok,
                   CAST(length({_NORM}) AS BIGINT) AS n_chars
            FROM documents)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CASE WHEN SUM(n_chars) > 0
            THEN round(SUM(n_tok) * 100.0 / SUM(n_chars), 6)
            ELSE 0.0::DOUBLE END AS tokens_per_100_chars,
       CASE WHEN SUM(n_tok) > 0
            THEN round((SUM(n_chars)
                        - SUM(CASE WHEN n_tok > 0 THEN n_tok - 1 ELSE 0 END))
                       / SUM(n_tok), 6)
            ELSE 0.0::DOUBLE END AS mean_token_len
FROM pd GROUP BY lang
""",
        "ann_lsh_topk": _lsh_topk_sql(),
        "ann_quantized_topk": """
WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0),
d AS (SELECT vec_id, CAST(i.range AS INT) AS dim,
             CAST(embedding[CAST(i.range AS INT) + 1] AS DOUBLE) AS v
      FROM e CROSS JOIN range(0, 64) i),
st AS (SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM d GROUP BY 1),
sc AS (SELECT dim, mn,
              CASE WHEN mx > mn THEN (mx - mn) / 255.0::DOUBLE
                   ELSE 1.0::DOUBLE END AS scale
       FROM st),
codes AS (SELECT vec_id, d.dim,
                 CAST(floor((v - mn) / scale + 0.5::DOUBLE) AS BIGINT) AS code
          FROM d JOIN sc USING (dim)),
pair AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                CAST(SUM((q.code - c.code) * (q.code - c.code)) AS BIGINT)
                  AS qdist
         FROM codes q JOIN codes c ON q.dim = c.dim
         WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id
         GROUP BY 1, 2)
SELECT query_id, neighbor_id, qdist,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY qdist, neighbor_id) AS INT) AS knn_rank
FROM pair
QUALIFY knn_rank <= 5
""",
        "chunk_documents": f"""
WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, lang, toks,
             CASE WHEN toks = [''] THEN 0 ELSE len(toks) END AS n
      FROM t),
g AS (SELECT doc_id, lang, toks,
             unnest(range(0, CASE WHEN n <= 64 THEN 1
                                  ELSE CAST(ceil((n - 64) / 48.0) AS BIGINT) + 1
                             END)) AS chunk_id
      FROM s WHERE n > 0)
SELECT doc_id, lang, CAST(chunk_id AS INT) AS chunk_id,
       chunk_id * 48 AS token_start,
       CAST(len(list_slice(toks, chunk_id * 48 + 1, chunk_id * 48 + 64))
            AS BIGINT) AS n_tokens,
       array_to_string(list_slice(toks, chunk_id * 48 + 1, chunk_id * 48 + 64),
                       ' ') AS chunk_text
FROM g
""",
        "embedding_scores": """
WITH s AS (
  SELECT vec_id, label,
         list_sum(list_transform(range(1, 65),
           i -> CAST(embedding[i] AS DOUBLE)
                * (CAST((i - 1) % 7 - 3 AS DOUBLE) / 7.0::DOUBLE))) AS margin
  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0)
SELECT vec_id, label, margin,
       CAST(ROW_NUMBER() OVER (ORDER BY margin DESC, vec_id) AS INT) AS score_rank
FROM s ORDER BY margin DESC, vec_id LIMIT 20
""",
        "media_metadata": f"""
SELECT media_id, modality, mime_type, n_bytes, width, height, duration_ms
FROM ({_MEDIA_SQL})
""",
        "resize_images": f"""
SELECT media_id, modality, mime_type,
       CASE WHEN modality = 'image' THEN 64 ELSE n_bytes END AS n_bytes,
       CASE WHEN modality = 'image' THEN 64 ELSE width END AS width,
       CASE WHEN modality = 'image' THEN 64 ELSE height END AS height,
       duration_ms
FROM ({_MEDIA_SQL})
""",
        "frame_sample": f"""
SELECT media_id, unnest(range(0, duration_ms, 1000)) AS frame_ts_ms
FROM ({_MEDIA_SQL}) WHERE modality = 'video'
""",
        "supplier_percentiles": f"""
WITH rev AS (SELECT l_suppkey, SUM({_DISC}) AS rev FROM lineitem GROUP BY 1)
SELECT n_name AS nation, s_suppkey AS supplier_id, s_name AS supplier_name,
       CAST(rev AS DOUBLE) AS revenue,
       percent_rank() OVER (PARTITION BY n_name ORDER BY rev) AS pct_rank,
       cume_dist() OVER (PARTITION BY n_name ORDER BY rev) AS cume
FROM rev
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
""",
        "customer_order_gaps": """
WITH g AS (
  SELECT o_custkey AS customer_id,
         date_diff('day',
                   CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey) AS DATE),
                   CAST(o_orderdate AS DATE)) AS gap_days
  FROM orders),
a AS (SELECT customer_id,
             COUNT(*) + 1 AS n_orders,
             CAST(SUM(gap_days) AS BIGINT) AS total_gap_days,
             CAST(MIN(gap_days) AS INT) AS min_gap_days,
             CAST(MAX(gap_days) AS INT) AS max_gap_days
      FROM g WHERE gap_days IS NOT NULL GROUP BY 1)
SELECT *, CAST(total_gap_days AS DOUBLE) / (n_orders - 1) AS avg_gap_days
FROM a
""",
        "ohlc_bars": """
WITH e AS (SELECT event_type,
                  epoch_us(ts) - epoch_us(ts) % 86400000000 AS bar_start_us,
                  epoch_us(ts) AS t_us, event_id, value
           FROM events),
r AS (SELECT *,
             ROW_NUMBER() OVER (PARTITION BY event_type, bar_start_us
                                ORDER BY t_us, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY event_type, bar_start_us
                                ORDER BY t_us DESC, event_id DESC) AS rn_d
      FROM e)
SELECT event_type, bar_start_us,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open_value,
       MAX(value) AS high_value,
       MIN(value) AS low_value,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close_value,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM r GROUP BY 1, 2
""",
        "value_histogram": """
WITH e AS (SELECT event_type, value,
         CASE WHEN NOT isnan(value)
              THEN CAST(floor(value / 5.0::DOUBLE) AS BIGINT) END AS bin
       FROM events)
SELECT event_type, bin,
       COUNT(*) AS n_events,
       MIN(value) AS min_value,
       MAX(value) AS max_value,
       bin * 5.0::DOUBLE AS bin_low
FROM e GROUP BY 1, 2
""",
        "mix_weights": f"""
WITH nt AS (SELECT lang, CASE WHEN length({_NORM}) = 0 THEN 0
                              ELSE len({_TOKS}) END AS n
            FROM documents),
pl AS (SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS lang_tokens
       FROM nt GROUP BY 1),
tot AS (SELECT CAST(SUM(lang_tokens) AS BIGINT) AS total_tokens,
               COUNT(*) AS n_langs
        FROM pl)
SELECT lang, n_docs, lang_tokens,
       CASE WHEN total_tokens > 0
            THEN CAST(lang_tokens AS DOUBLE) / total_tokens END
         AS actual_share,
       1.0::DOUBLE / n_langs AS target_share,
       CASE WHEN lang_tokens > 0 AND total_tokens > 0
            THEN (1.0::DOUBLE / n_langs)
                 / (CAST(lang_tokens AS DOUBLE) / total_tokens) END
         AS mix_weight
FROM pl CROSS JOIN tot
""",
        "pack_sequences": f"""
WITH n AS (SELECT doc_id,
                  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                       AS BIGINT) % 8 AS bucket,
                  CAST(CASE WHEN length({_NORM}) = 0 THEN 0
                            ELSE len({_TOKS}) END AS BIGINT) AS n_tokens
           FROM documents),
c AS (SELECT *, CAST(SUM(n_tokens)
                     OVER (PARTITION BY bucket ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end
      FROM n WHERE n_tokens > 0)
SELECT doc_id, bucket, n_tokens,
       cum_end - n_tokens AS stream_start,
       CAST(floor((cum_end - n_tokens) / 512) AS BIGINT) AS start_pack,
       CAST(floor((cum_end - 1) / 512) AS BIGINT) AS end_pack,
       (cum_end - n_tokens) % 512 AS pack_offset,
       CAST(floor((cum_end - 1) / 512) AS BIGINT)
         - CAST(floor((cum_end - n_tokens) / 512) AS BIGINT) + 1 AS n_packs_spanned
FROM c
""",
        "quantize_embeddings": """
WITH d AS (SELECT vec_id, CAST(i.range AS INT) AS dim,
                  CAST(embedding[CAST(i.range AS INT) + 1] AS DOUBLE) AS v
           FROM embeddings CROSS JOIN range(0, 64) i
           WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0),
st AS (SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM d GROUP BY 1),
sc AS (SELECT dim, mn,
              CASE WHEN mx > mn THEN (mx - mn) / 255.0::DOUBLE
                   ELSE 1.0::DOUBLE END AS scale
       FROM st),
q AS (SELECT vec_id, v, mn, scale,
             floor((v - mn) / scale + 0.5::DOUBLE) AS code
      FROM d JOIN sc USING (dim))
SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_dims,
       CAST(MIN(code) AS BIGINT) AS min_code,
       CAST(MAX(code) AS BIGINT) AS max_code,
       MAX(abs(v - (mn + code * scale))) AS max_abs_err
FROM q GROUP BY 1
""",
        "normalize_orders": _NORM_ORDERS_SQL,
        "normalize_items": _ITEMS_BASE,
        "parse_event_props": """
SELECT event_id, user_id, event_type,
       epoch_us(ts) AS ts_us, value,
       TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT) AS prop_k
FROM events
""",
        "enrich_categories": f"""
SELECT l_orderkey AS order_id, l_partkey AS product_id, l_suppkey AS supplier_id,
       CAST(l_linenumber AS INT) AS line_number, CAST(floor(l_quantity) AS BIGINT) AS quantity,
       l_extendedprice AS price, l_discount AS discount, l_tax AS tax,
       CAST({_DISC} AS DOUBLE) AS total, l_returnflag AS return_flag,
       p_type AS category_snapshot, p_brand AS brand
FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
""",
        "re_enrich_categories": f"""
SELECT l_orderkey AS order_id, l_partkey AS product_id, l_suppkey AS supplier_id,
       CAST(l_linenumber AS INT) AS line_number, CAST(floor(l_quantity) AS BIGINT) AS quantity,
       l_extendedprice AS price, l_discount AS discount, l_tax AS tax,
       CAST({_DISC} AS DOUBLE) AS total, l_returnflag AS return_flag,
       CASE WHEN l_partkey % 2 = 1 THEN 'NEW_' || p_type ELSE p_type END
         AS category_snapshot,
       p_brand AS brand
FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
""",
        "apply_refunds_orders": _FCT_ORDERS_SQL,
        "apply_refunds_items": f"""
SELECT l_orderkey AS order_id, l_partkey AS product_id, l_suppkey AS supplier_id,
       CAST(l_linenumber AS INT) AS line_number, CAST(floor(l_quantity) AS BIGINT) AS quantity,
       l_extendedprice AS price, l_discount AS discount, l_tax AS tax,
       CAST({_DISC} AS DOUBLE) AS total, l_returnflag AS return_flag,
       p_type AS category_snapshot, p_brand AS brand,
       CAST(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END AS BIGINT) AS refunded_quantity,
       CASE WHEN l_returnflag = 'R' THEN CAST({_DISC} AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS refunded_total
FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
""",
        "upsert": """
WITH existing AS (
  SELECT o_orderkey AS order_id, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
         o_orderstatus AS status, o_totalprice AS total FROM orders),
batch AS (
  SELECT o_orderkey AS order_id, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
         'refreshed' AS status, o_totalprice AS total
  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00')
SELECT * FROM existing e WHERE NOT EXISTS
  (SELECT 1 FROM batch b WHERE b.order_id = e.order_id)
UNION ALL
SELECT * FROM batch
""",
        "incremental_watermark": """
SELECT o_orderkey AS order_id, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
       o_orderstatus AS status, o_custkey AS customer_id,
       o_orderpriority AS order_priority,
       o_totalprice AS gross_total, o_totalprice AS net_total,
       CAST(0 AS DOUBLE) AS refund_total
FROM orders WHERE o_orderdate > TIMESTAMP '1996-01-01 00:00:00'
""",
        "backfill_windows": """
SELECT CAST(floor((epoch(o_orderdate) - epoch(TIMESTAMP '1992-01-01 00:00:00')) / 2592000) AS BIGINT)
         AS backfill_window,
       COUNT(*) AS n_orders,
       MIN(CAST(CAST(o_orderdate AS DATE) AS VARCHAR)) AS first_date,
       MAX(CAST(CAST(o_orderdate AS DATE) AS VARCHAR)) AS last_date
FROM orders GROUP BY 1
""",
        "date_bounds": """
SELECT MIN(CAST(CAST(o_orderdate AS DATE) AS VARCHAR)) AS min_d, MAX(CAST(CAST(o_orderdate AS DATE) AS VARCHAR)) AS max_d
FROM orders
""",
        "kpis": f"""
WITH o AS (SELECT COUNT(*) AS orders_cnt FROM orders),
l AS (SELECT l_orderkey, {_DISC} AS net, l_returnflag FROM lineitem),
s AS (SELECT COALESCE(SUM(net), 0) AS net,
             COALESCE(SUM(CASE WHEN l_returnflag = 'R' THEN net ELSE {_DEC0} END), 0) AS ref
      FROM l)
SELECT o.orders_cnt,
       CAST(ROUND(s.net, 2) AS DOUBLE) AS net_before_refunds,
       CAST(ROUND(s.ref, 2) AS DOUBLE) AS refunds,
       CAST(ROUND(s.net - s.ref, 2) AS DOUBLE) AS net_after_refunds,
       CASE WHEN o.orders_cnt > 0
            THEN CAST(ROUND(s.net, 2) AS DOUBLE) / o.orders_cnt
            ELSE 0.0 END AS aov
FROM s, o
""",
        "revenue_timeseries": f"""
SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d,
       CAST(ROUND(SUM({_NETLINE}), 2) AS DOUBLE) AS net
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
""",
        "top_products": f"""
WITH agg AS (
  SELECT p_name AS name, SUM({_NETLINE}) AS _rev,
         CAST(SUM(CASE WHEN l_returnflag IS DISTINCT FROM 'R' THEN l_quantity ELSE 0 END) AS BIGINT) AS qty_sold
  FROM lineitem LEFT JOIN part ON l_partkey = p_partkey GROUP BY 1)
SELECT name, CAST(_rev AS DOUBLE) AS revenue, qty_sold
FROM agg ORDER BY _rev DESC, name NULLS FIRST LIMIT 15
""",
        "category_mix": f"""
WITH agg AS (
  SELECT COALESCE(NULLIF(TRIM(p_type), ''), 'Uncategorized') AS category,
         SUM({_NETLINE}) AS _rev
  FROM lineitem LEFT JOIN part ON l_partkey = p_partkey GROUP BY 1)
SELECT category, CAST(_rev AS DOUBLE) AS revenue
FROM agg ORDER BY _rev DESC, category LIMIT 15
""",
        "geo_rollup": f"""
WITH per_order AS (
  SELECT l_orderkey AS o_orderkey, SUM({_NETLINE}) AS _order_net
  FROM lineitem GROUP BY 1),
g AS (SELECT COALESCE(r_name, '—') AS region,
             COALESCE(n_name, '—') AS country,
             COALESCE(_order_net, {_DEC0}) AS _order_net
      FROM orders LEFT JOIN per_order USING (o_orderkey)
      LEFT JOIN customer ON o_custkey = c_custkey
      LEFT JOIN nation ON c_nationkey = n_nationkey
      LEFT JOIN region ON n_regionkey = r_regionkey),
agg AS (SELECT region, country, COUNT(*) AS orders, SUM(_order_net) AS _net
        FROM g GROUP BY 1, 2)
SELECT region, country, orders, CAST(_net AS DOUBLE) AS net
FROM agg ORDER BY _net DESC, region, country LIMIT 20
""",
        "cohort_retention": """
WITH f AS (SELECT o_custkey, MIN(o_orderdate) AS fd FROM orders GROUP BY 1)
SELECT strftime(fd, '%Y-%m') AS cohort_month,
       CAST((year(o_orderdate) * 12 + month(o_orderdate))
            - (year(fd) * 12 + month(fd)) AS INT) AS month_idx,
       COUNT(DISTINCT o.o_custkey) AS n_customers,
       COUNT(*) AS n_orders
FROM orders o JOIN f USING (o_custkey)
GROUP BY 1, 2
""",
        "funnel_steps": """
WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
v AS (SELECT user_id, MIN(t) AS t_view FROM e WHERE event_type = 'view' GROUP BY 1),
c AS (SELECT e.user_id, MIN(t) AS t_click
      FROM e JOIN v USING (user_id)
      WHERE event_type = 'click' AND t >= t_view GROUP BY 1),
p AS (SELECT e.user_id, MIN(t) AS t_purchase
      FROM e JOIN c USING (user_id)
      WHERE event_type = 'purchase' AND t >= t_click GROUP BY 1)
SELECT 1 AS stage_order, 'view' AS stage, COUNT(*) AS n_users FROM v
UNION ALL
SELECT 2, 'click', COUNT(*) FROM c
UNION ALL
SELECT 3, 'purchase', COUNT(*) FROM p
""",
        "pricing_summary": f"""
WITH agg AS (
  SELECT l_returnflag, l_linestatus,
         CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS _sum_base,
         SUM({_DISC}) AS _sum_disc,
         SUM({_GROSS}) AS _sum_charge,
         COUNT(*) AS count_order
  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
  GROUP BY 1, 2)
SELECT l_returnflag, l_linestatus, sum_qty,
       CAST(ROUND(_sum_base, 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(_sum_disc, 2) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(_sum_charge, 2) AS DOUBLE) AS sum_charge,
       CAST(sum_qty AS DOUBLE) / count_order AS avg_qty,
       CAST(_sum_base AS DOUBLE) / count_order AS avg_price,
       count_order
FROM agg
""",
        "regional_revenue": f"""
SELECT r_name AS region, n_name AS nation,
       CAST(ROUND(SUM({_DISC}), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
GROUP BY 1, 2
""",
        "top_orders_per_customer": """
SELECT o_custkey AS customer_id, o_orderkey AS order_id,
       o_totalprice AS total_price, order_rank
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS order_rank
      FROM orders)
WHERE order_rank <= 3
""",
        "sales_rollup": f"""
WITH g AS (
  SELECT r_name, n_name, {_DISC} AS net_line
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey)
SELECT CASE WHEN GROUPING(r_name) = 1 THEN 'ALL' ELSE r_name END AS region,
       CASE WHEN GROUPING(n_name) = 1 THEN 'ALL' ELSE n_name END AS nation,
       CAST(ROUND(SUM(net_line), 2) AS DOUBLE) AS net
FROM g GROUP BY ROLLUP (r_name, n_name)
""",
        "order_priority_count": """
SELECT o_orderpriority AS priority, COUNT(*) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY 1
""",
        "shipping_priority": f"""
SELECT l_orderkey AS order_id,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
       CAST(SUM({_DISC}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY 1, 2
ORDER BY revenue DESC, order_id
LIMIT 10
""",
        "discount_revenue": """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      CAST(l_discount AS DECIMAL(4,2))), 2)
            AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate < TIMESTAMP '1996-01-01'
  AND CAST(l_discount AS DECIMAL(4,2)) BETWEEN CAST('0.05' AS DECIMAL(4,2))
                                           AND CAST('0.07' AS DECIMAL(4,2))
  AND l_quantity < 24
""",
        "customer_order_distribution": """
WITH per_customer AS (
  SELECT c_custkey, COUNT(o_orderkey) AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY 1)
SELECT n_orders, COUNT(*) AS n_customers
FROM per_customer GROUP BY 1
""",
        "top_supplier": f"""
WITH rev AS (
  SELECT l_suppkey, SUM({_DISC}) AS rev_dec
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate < TIMESTAMP '1995-04-01'
  GROUP BY 1)
SELECT l_suppkey AS supplier_id, s_name,
       CAST(rev_dec AS DOUBLE) AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_dec = (SELECT MAX(rev_dec) FROM rev)
""",
        "returnflag_totals": f"""
SELECT l_returnflag AS return_flag,
       CAST(ROUND(SUM({_DISC}), 2) AS DOUBLE) AS net
FROM lineitem GROUP BY 1
""",
        "volume_shipping": f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS ship_year,
       CAST(SUM({_DISC}) AS DOUBLE) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
GROUP BY 1, 2, 3
""",
        "market_share": f"""
WITH j AS (
  SELECT CAST(year(o_orderdate) AS INT) AS order_year,
         sn.n_name AS supp_nation, {_DISC} AS d
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE r_name = 'ASIA'),
agg AS (
  SELECT order_year,
         CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN d ELSE {_DEC0} END)
              AS DOUBLE) AS nation_revenue,
         CAST(SUM(d) AS DOUBLE) AS total_revenue
  FROM j GROUP BY 1)
SELECT order_year, nation_revenue, total_revenue,
       nation_revenue / total_revenue AS share
FROM agg
""",
        "promo_revenue": f"""
WITH l AS (
  SELECT l_partkey, {_DISC} AS d FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate < TIMESTAMP '1995-04-01'),
agg AS (
  SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN d ELSE {_DEC0} END)
              AS DOUBLE) AS promo_rev,
         CAST(SUM(d) AS DOUBLE) AS total_rev
  FROM l JOIN part ON l_partkey = p_partkey)
SELECT promo_rev, total_rev,
       100.0 * promo_rev / total_rev AS promo_pct
FROM agg
""",
        "large_volume_orders": """
WITH big AS (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
  FROM lineitem GROUP BY 1
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300)
SELECT c_name AS customer_name, o_custkey AS customer_id,
       o_orderkey AS order_id,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
       o_totalprice AS total_price, CAST(qty AS BIGINT) AS total_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
""",
        "supplier_part_breadth": """
SELECT p_brand AS brand, p_type AS part_type,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#9'
GROUP BY 1, 2
""",
        "important_parts": f"""
WITH per_part AS (
  SELECT l_partkey, SUM({_DISC}) AS rev FROM lineitem GROUP BY 1),
tot AS (SELECT SUM(rev) AS total FROM per_part)
SELECT l_partkey AS part_id, CAST(rev AS DOUBLE) AS part_revenue
FROM per_part, tot WHERE rev * 2000 > total
""",
        "idle_customers": """
WITH pos AS (
  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS s, COUNT(*) AS n
  FROM customer WHERE CAST(c_acctbal AS DECIMAL(18,2)) > 0),
rich AS (
  SELECT c_custkey, c_nationkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
  FROM customer, pos WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > s),
idle AS (
  SELECT * FROM rich
  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                          WHERE o_orderdate >= TIMESTAMP '1998-01-01'))
SELECT CAST(c_nationkey AS INT) AS nation_id, COUNT(*) AS n_customers,
       CAST(SUM(bal) AS DOUBLE) AS total_acctbal
FROM idle GROUP BY 1
""",
        "min_cost_supplier": """
WITH small AS (
  SELECT l_partkey, l_suppkey, p_name,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS price
  FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_size <= 10),
best AS (
  SELECT *, MIN(price) OVER (PARTITION BY l_partkey) AS mn FROM small)
SELECT DISTINCT l_partkey AS part_id, p_name AS part_name,
       l_suppkey AS supplier_id, s_name AS supplier_name,
       CAST(price AS DOUBLE) AS best_price
FROM best JOIN supplier ON l_suppkey = s_suppkey
WHERE price = mn
""",
        "supplier_quartiles": """
WITH tiled AS (
  SELECT s_nationkey, CAST(s_acctbal AS DECIMAL(18,2)) AS bal,
         NTILE(4) OVER (PARTITION BY s_nationkey
                        ORDER BY CAST(s_acctbal AS DECIMAL(18,2)), s_suppkey)
           AS quartile
  FROM supplier)
SELECT CAST(s_nationkey AS INT) AS nation_id, quartile,
       COUNT(*) AS n_suppliers,
       CAST(MIN(bal) AS DOUBLE) AS min_bal,
       CAST(MAX(bal) AS DOUBLE) AS max_bal,
       CAST(SUM(bal) AS DOUBLE) AS total_bal
FROM tiled GROUP BY 1, 2
""",
        "segment_share": f"""
WITH agg AS (
  SELECT c_mktsegment AS segment, SUM({_DISC}) AS _rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  GROUP BY 1)
SELECT segment, CAST(_rev AS DOUBLE) AS revenue,
       CAST(_rev AS DOUBLE)
         / CAST(SUM(_rev) OVER () AS DOUBLE) AS share
FROM agg
""",
        "product_profit": f"""
SELECT n_name AS supp_nation, CAST(year(o_orderdate) AS INT) AS order_year,
       CAST(SUM({_DISC} - CAST(p_retailprice AS DECIMAL(12,2))
                          * CAST(l_quantity AS DECIMAL(9,0))
                          * CAST(0.6 AS DECIMAL(2,1))) AS DOUBLE) AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2
""",
        "returned_item_report": f"""
WITH agg AS (
  SELECT c_custkey AS customer_id, c_name AS customer_name,
         n_name AS nation, c_acctbal AS acctbal, SUM({_DISC}) AS _rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate < TIMESTAMP '1995-04-01'
  GROUP BY 1, 2, 3, 4)
SELECT customer_id, customer_name, nation, acctbal,
       CAST(_rev AS DOUBLE) AS revenue
FROM agg ORDER BY _rev DESC, customer_id LIMIT 20
""",
        "linestatus_priority": """
SELECT l_linestatus AS line_status,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_lines,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_priority_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
""",
        "small_qty_revenue": """
WITH l AS (
  SELECT l_partkey, CAST(floor(l_quantity) AS BIGINT) AS qty,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS price
  FROM lineitem
  JOIN part ON l_partkey = p_partkey WHERE p_brand = 'Brand#1'),
w AS (
  SELECT qty, price,
         SUM(qty) OVER (PARTITION BY l_partkey) AS sum_q,
         COUNT(*) OVER (PARTITION BY l_partkey) AS n
  FROM l)
SELECT CAST(SUM(price) AS DOUBLE) / 7.0 AS avg_yearly
FROM w WHERE qty * 5 * n < sum_q
""",
        "disjunctive_revenue": f"""
SELECT CAST(SUM({_DISC}) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
""",
        "dominant_suppliers": """
WITH pair AS (
  SELECT l_partkey, l_suppkey, SUM(CAST(floor(l_quantity) AS BIGINT)) AS supp_qty
  FROM lineitem GROUP BY 1, 2),
w AS (
  SELECT *, SUM(supp_qty) OVER (PARTITION BY l_partkey) AS part_qty,
         COUNT(*) OVER (PARTITION BY l_partkey) AS n_supp
  FROM pair)
SELECT l_partkey AS part_id, l_suppkey AS supplier_id,
       s_name AS supplier_name,
       CAST(supp_qty AS BIGINT) AS supp_qty,
       CAST(part_qty AS BIGINT) AS part_qty
FROM w JOIN supplier ON l_suppkey = s_suppkey
WHERE supp_qty * n_supp > part_qty * 2
""",
        "dedup_exact": f"""
SELECT md5({_NORM}) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
""",
        "decontaminate": f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {_SHINGLES} AS sh FROM t),
bench AS (SELECT DISTINCT u.shingle FROM s, UNNEST(sh) AS u(shingle)
          WHERE doc_id % 20 = 0 AND u.shingle <> ''),
ds AS (SELECT DISTINCT doc_id, u.shingle FROM s, UNNEST(sh) AS u(shingle)
       WHERE doc_id % 20 <> 0 AND u.shingle <> ''),
hits AS (SELECT doc_id, COUNT(*) AS n_hits
         FROM ds JOIN bench USING (shingle) GROUP BY 1)
SELECT d.doc_id, COALESCE(n_hits, 0) AS n_hits,
       COALESCE(n_hits, 0) >= 1 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
LEFT JOIN hits USING (doc_id)
""",
        "dedup_apply": f"""
WITH RECURSIVE
pairs AS (SELECT doc_a, doc_b FROM ({_MINHASH_SQL})),
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
lab AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY 1),
sized AS (SELECT doc_id, cluster_id,
                 COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
          FROM lab)
SELECT s.doc_id, d.lang, d.source, s.cluster_size AS n_merged
FROM sized s JOIN documents d ON s.doc_id = d.doc_id
WHERE s.doc_id = s.cluster_id
""",
        "customer_ltv": """
SELECT o_custkey AS customer_id, o_orderkey AS order_id,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS ltv
FROM orders
""",
        "dedup_incremental": f"""
WITH known AS (
  SELECT DISTINCT md5({_NORM}) AS content_hash, TRUE AS _known
  FROM documents WHERE doc_id % 2 = 0),
batch AS (
  SELECT doc_id, md5({_NORM}) AS content_hash
  FROM documents WHERE doc_id % 2 = 1)
SELECT b.doc_id, b.content_hash,
       COALESCE(k._known, FALSE) AS is_known_dup
FROM batch b LEFT JOIN known k
  ON b.content_hash IS NOT DISTINCT FROM k.content_hash
""",
        "late_suppliers": """
WITH per_order AS (
  SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS n_fail
  FROM lineitem GROUP BY 1),
blamed AS (
  SELECT l1.l_suppkey
  FROM lineitem l1
  JOIN per_order p ON l1.l_orderkey = p.l_orderkey
  JOIN orders o ON l1.l_orderkey = o.o_orderkey
  WHERE l1.l_returnflag = 'R' AND p.n_supp > 1 AND p.n_fail = 1
    AND o.o_orderstatus = 'F'),
agg AS (SELECT l_suppkey, COUNT(*) AS numwait FROM blamed GROUP BY 1)
-- group at SUPPKEY grain like the Spark plan, then look the name up:
-- grouping by s_name silently merges distinct suppliers that share a
-- name (exposed by the r11 sf1 replica's duplicated dimension names)
SELECT s_name AS supplier_name, numwait
FROM agg JOIN supplier ON l_suppkey = s_suppkey
ORDER BY numwait DESC, supplier_name LIMIT 20
""",
        "knn_classify": f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
           WHERE vec_id < 8 AND embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
scored AS (
  SELECT query_id, neighbor_id, {_COS} AS cos
  FROM q CROSS JOIN c WHERE neighbor_id <> query_id),
nn AS (SELECT query_id, neighbor_id
       FROM (SELECT query_id, neighbor_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS knn_rank
             FROM scored)
       WHERE knn_rank <= 5),
votes AS (SELECT query_id, e.label, COUNT(*) AS n_votes
          FROM nn JOIN embeddings e ON neighbor_id = e.vec_id
          WHERE e.label IS NOT NULL GROUP BY 1, 2),
best AS (SELECT query_id, label AS label_pred, n_votes,
                ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY n_votes DESC, label) AS rn
         FROM votes)
SELECT b.query_id, t.label AS label_true, b.label_pred, b.n_votes
FROM best b JOIN embeddings t ON b.query_id = t.vec_id
WHERE rn = 1
""",
        "dedup_ngram_jaccard": _doc_sample_cte(_JACCARD_SQL),
        "dedup_minhash": _doc_sample_cte(_MINHASH_SQL),
        "dedup_simhash": _doc_sample_cte(_SIMHASH_SQL),
        "dedup_clusters": _doc_sample_cte(_CLUSTERS_SQL),
        "hopping_window_agg": """
WITH e AS (SELECT event_type, value, epoch_us(ts) AS ts_us FROM events),
x AS (SELECT event_type, value, ts_us,
             (ts_us - ((ts_us % 1800000000 + 1800000000) % 1800000000))
               - k.range * 1800000000 AS window_start_us
      FROM e CROSS JOIN range(0, 2) k)
SELECT window_start_us, event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM x WHERE ts_us < window_start_us + 3600000000
GROUP BY 1, 2
""",
        "embedding_cosine_dup": f"""
WITH a AS (SELECT vec_id AS vec_a, embedding AS qe FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
b AS (SELECT vec_id AS vec_b, embedding AS ce FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0 AND len(list_filter(embedding, x -> x <> 0)) > 0)
SELECT vec_a, vec_b
FROM a JOIN b ON vec_a < vec_b
WHERE {_COS} >= 0.3
""",
        "ann_topk": f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
           WHERE vec_id < 8 AND embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
scored AS (
  SELECT query_id, neighbor_id, {_COS} AS cos
  FROM q CROSS JOIN c WHERE neighbor_id <> query_id)
SELECT query_id, neighbor_id, knn_rank
FROM (SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS knn_rank
      FROM scored)
WHERE knn_rank <= 5
""",
        # ann_lsh_topk's oracle lives above (driver hash-green since
        # r3). Residual risk, accepted: bucket membership depends on
        # sign(dot); an embedding whose hyperplane dot product sat
        # EXACTLY at a float boundary could flip between Spark's and
        # DuckDB's fold — never observed on this data (both sides
        # fold in double over the same values in the same order).
        "lang_id": _LANG_SQL,
        "quality_score": _QUALITY_SQL,
        "token_count": f"""
WITH n AS (SELECT doc_id, text, {_NORM} AS norm FROM documents)
SELECT doc_id,
       CAST(CASE WHEN norm IS NULL OR length(norm) = 0 THEN 0
                 ELSE len(string_split(norm, ' ')) END AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars
FROM n
""",
        "doc_fingerprint": f"""
SELECT doc_id, md5({_NORM}) AS fingerprint,
       CAST(floor(length(text) / 100) AS BIGINT) AS len_bucket
FROM documents
""",
        "pii_scrub": r"""
WITH s0 AS (SELECT doc_id, text AS t0 FROM documents),
s1 AS (SELECT doc_id, t0,
         regexp_replace(t0, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
                        '<EMAIL>', 'g') AS t1 FROM s0),
s2 AS (SELECT *, regexp_replace(t1,
         '\b[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}\b',
         '<CARD>', 'g') AS t2 FROM s1),
s3 AS (SELECT *, regexp_replace(t2,
         '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
         '<IP>', 'g') AS t3 FROM s2)
SELECT doc_id,
       regexp_replace(t3, '\+?[0-9][0-9()\- \t]{7,}[0-9]', '<PHONE>', 'g')
         AS text_scrubbed,
       len(regexp_extract_all(t0,
         '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_email,
       len(regexp_extract_all(t1,
         '\b[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}\b')) AS n_card,
       len(regexp_extract_all(t2,
         '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ip,
       len(regexp_extract_all(t3,
         '\+?[0-9][0-9()\- \t]{7,}[0-9]')) AS n_phone
FROM s3
""",
        "tfidf_top_terms": f"""
WITH toks AS (
  SELECT doc_id, t.term FROM (SELECT doc_id, {_TOKS} AS tk FROM documents),
       UNNEST(tk) AS t(term)
  WHERE t.term <> ''),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf, df,
         CAST(tf AS DOUBLE) * n_docs / df AS score
  FROM tf JOIN df USING (term) CROSS JOIN n)
SELECT doc_id, term, tf, df, score, term_rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS term_rank
      FROM scored)
WHERE term_rank <= 5
""",
        "ngram_freq": f"""
WITH t AS (SELECT lang, {_TOKS} AS toks FROM documents),
s AS (SELECT lang,
             list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                            i -> array_to_string(list_slice(toks, i, i + 1), ' ')) AS grams
      FROM t),
g AS (SELECT lang, u.ngram FROM s, UNNEST(grams) AS u(ngram)
     WHERE u.ngram <> ''),
c AS (SELECT lang, ngram, COUNT(*) AS freq FROM g GROUP BY 1, 2)
SELECT lang, ngram, freq, freq_rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                   ORDER BY freq DESC, ngram) AS freq_rank
      FROM c)
WHERE freq_rank <= 20
""",
        "stratified_sample": """
WITH b AS (
  SELECT doc_id, lang, source,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
           % 100 AS bucket
  FROM documents)
SELECT doc_id, lang, source, bucket
FROM b WHERE bucket < CASE WHEN lang = 'en' THEN 50 ELSE 20 END
""",
        "sample_exact_k": """
WITH h AS (
  SELECT doc_id, lang, source,
         md5(CAST(doc_id AS VARCHAR) || ':42') AS _h
  FROM documents),
r AS (
  SELECT doc_id, lang, source,
         row_number() OVER (PARTITION BY lang ORDER BY _h, doc_id)
           AS sample_rank
  FROM h)
SELECT doc_id, lang, source, sample_rank FROM r WHERE sample_rank <= 100
""",
        "weighted_sample_k": """
WITH d AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight,
         round(pow((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                        || ':42'), 1, 8) AS BIGINT) + 1.0)
                     / 4294967297.0,
                   1.0 / CAST(n_chars AS DOUBLE)), 12) AS key
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
r AS (
  SELECT doc_id, source, weight,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY key DESC, doc_id) AS BIGINT)
           AS sample_rank
  FROM d)
SELECT doc_id, source, weight, sample_rank FROM r WHERE sample_rank <= 40
""",
        "corpus_stats": f"""
WITH t AS (
  SELECT lang, source, text, {_NORM} AS norm FROM documents)
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(CAST(CASE WHEN norm IS NULL OR length(norm) = 0 THEN 0
                     ELSE len(string_split(norm, ' ')) END AS BIGINT)) AS BIGINT)
         AS total_tokens,
       CAST(SUM(CAST(length(text) AS BIGINT)) AS BIGINT) AS total_chars,
       MAX(CAST(length(text) AS BIGINT)) AS max_chars,
       CAST(SUM(CAST(length(text) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_chars
FROM t GROUP BY 1, 2
""",
        "corpus_pipeline": f"""
WITH keep AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5({_NORM})),
q AS ({_QUALITY_SQL}),
d AS (SELECT doc_id, lang, source FROM documents)
SELECT d.doc_id, lang, source, q.n_tokens, q.quality,
       CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
         % 100 AS bucket
FROM d JOIN keep USING (doc_id) JOIN q USING (doc_id)
WHERE q.quality >= 0.5
  AND CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        % 100 < 50
""",
        "label_centroids": """
WITH e AS (
  SELECT label, CAST(i.range AS INT) AS dim,
         CAST(floor(CAST(embedding[CAST(i.range AS INT) + 1] AS DOUBLE)
                    * 1000000000.0) AS BIGINT) AS v
  FROM embeddings CROSS JOIN range(0, 64) i
  WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0)
SELECT label, dim,
       CAST(SUM(v) AS DOUBLE)
         / (CAST(COUNT(*) AS DOUBLE) * 1000000000.0) AS centroid,
       COUNT(*) AS n_vecs
FROM e GROUP BY 1, 2
""",
        "event_window_agg": """
SELECT epoch_us(ts)
         - ((epoch_us(ts) % 3600000000 + 3600000000) % 3600000000)
         AS window_start_us,
       event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
""",
        "sessionize": """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events),
tagged AS (
  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
                   OR ts_us - lag(ts_us) OVER w > 1800000000
                 THEN 1 ELSE 0 END AS new_sess
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
sess AS (
  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM tagged)
SELECT user_id, session_seq, COUNT(*) AS n_events,
       MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
       CAST(SUM(CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM sess GROUP BY 1, 2
""",
        "asof_join": """
WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us
           FROM events WHERE event_type IN ('purchase', 'click')
             AND ts IS NOT NULL),
tagged AS (
  SELECT user_id, t_us,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS kind,
         event_id
  FROM e),
carried AS (
  SELECT *,
         last_value(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS)
           OVER w AS asof_event_id,
         last_value(CASE WHEN kind = 0 THEN t_us END IGNORE NULLS)
           OVER w AS asof_t_us
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY t_us, kind, event_id
               ROWS UNBOUNDED PRECEDING))
SELECT event_id, user_id, t_us, asof_event_id, asof_t_us,
       t_us - asof_t_us AS gap_us
FROM carried WHERE kind = 1
""",
        "asof_join_nearest": """
WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us
           FROM events WHERE event_type IN ('purchase', 'click')
             AND ts IS NOT NULL),
tagged AS (
  SELECT user_id, t_us,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS kind,
         event_id
  FROM e),
carried AS (
  SELECT *,
         last_value(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS)
           OVER wb AS _b_id,
         last_value(CASE WHEN kind = 0 THEN t_us END IGNORE NULLS)
           OVER wb AS _b_t,
         first_value(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS)
           OVER wf AS _f_id,
         first_value(CASE WHEN kind = 0 THEN t_us END IGNORE NULLS)
           OVER wf AS _f_t
  FROM tagged
  WINDOW wb AS (PARTITION BY user_id ORDER BY t_us, kind, event_id
                ROWS UNBOUNDED PRECEDING),
         wf AS (PARTITION BY user_id ORDER BY t_us, kind, event_id
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT event_id, user_id, t_us,
       CASE WHEN _b_t IS NOT NULL
                  AND (_f_t IS NULL OR t_us - _b_t <= _f_t - t_us)
            THEN _b_id ELSE _f_id END AS asof_event_id,
       CASE WHEN _b_t IS NOT NULL
                  AND (_f_t IS NULL OR t_us - _b_t <= _f_t - t_us)
            THEN _b_t ELSE _f_t END AS asof_t_us,
       CASE WHEN _b_t IS NOT NULL
                  AND (_f_t IS NULL OR t_us - _b_t <= _f_t - t_us)
            THEN t_us - _b_t ELSE _f_t - t_us END AS gap_us
FROM carried WHERE kind = 1
""",
        "asof_join_tolerance": """
WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us
           FROM events WHERE event_type IN ('purchase', 'click')
             AND ts IS NOT NULL),
tagged AS (
  SELECT user_id, t_us,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS kind,
         event_id
  FROM e),
carried AS (
  SELECT *,
         last_value(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS)
           OVER w AS asof_event_id,
         last_value(CASE WHEN kind = 0 THEN t_us END IGNORE NULLS)
           OVER w AS asof_t_us
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY t_us, kind, event_id
               ROWS UNBOUNDED PRECEDING)),
g AS (SELECT event_id, user_id, t_us, asof_event_id, asof_t_us,
             t_us - asof_t_us AS gap_us
      FROM carried WHERE kind = 1)
SELECT event_id, user_id, t_us,
       CASE WHEN gap_us <= 3600000000 THEN asof_event_id END
         AS asof_event_id,
       CASE WHEN gap_us <= 3600000000 THEN asof_t_us END AS asof_t_us,
       CASE WHEN gap_us <= 3600000000 THEN gap_us END AS gap_us
FROM g
""",
        "range_join_window": """
WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us, value
           FROM events)
SELECT p.event_id, p.user_id, p.t_us,
       COUNT(v.event_id) AS n_in_window,
       CAST(COALESCE(SUM(CAST(v.value AS DECIMAL(18,2))), 0) AS DOUBLE)
         AS value_in_window
FROM e p
LEFT JOIN e v
  ON v.user_id = p.user_id AND v.event_type = 'view'
 AND v.t_us >= p.t_us - 3600000000 AND v.t_us <= p.t_us
WHERE p.event_type = 'purchase'
GROUP BY 1, 2, 3
""",
        "multires_rollup": """
WITH e AS (SELECT event_type,
                  (epoch_us(ts) // 86400000000) * 86400000000 AS day_us,
                  (epoch_us(ts) // 3600000000) * 3600000000 AS hour_us,
                  value
           FROM events)
SELECT CASE WHEN GROUPING(hour_us) = 1 THEN 'day' ELSE 'hour' END AS grain,
       event_type, day_us,
       COALESCE(hour_us, day_us) AS bucket_us,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM e
GROUP BY ROLLUP (event_type, day_us, hour_us)
HAVING GROUPING(day_us) = 0
""",
        "value_percentiles": """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.9), 6) AS p90,
       ROUND(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY 1
""",
        "sales_cube": """
SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL'
            ELSE o_orderstatus END AS status,
       CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL'
            ELSE o_orderpriority END AS priority,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS total_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
        "fuzzy_part_names": """
WITH names AS (
  SELECT DISTINCT p_name AS name,
         string_split(p_name, ' ')[-1] AS block
  FROM part)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS INT) AS edit_dist
FROM names a JOIN names b ON a.block = b.block AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= 3
""",
        "event_props_typed": """
SELECT event_id, event_type,
       CASE WHEN regexp_matches(json_extract_string(props, '$.k'),
                                '^-?[0-9]+$')
            THEN TRY_CAST(json_extract_string(props, '$.k') AS INT)
       END AS prop_k
FROM events
""",
        "revenue_pivot": f"""
SELECT l_linestatus AS line_status,
       CAST(SUM(CASE WHEN l_returnflag = 'A' THEN {_DISC} END) AS DOUBLE) AS net_A,
       CAST(SUM(CASE WHEN l_returnflag = 'N' THEN {_DISC} END) AS DOUBLE) AS net_N,
       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN {_DISC} END) AS DOUBLE) AS net_R
FROM lineitem GROUP BY 1
""",
        "customer_year_cohorts": """
WITH y95 AS (SELECT DISTINCT o_custkey AS customer_id FROM orders
             WHERE o_orderdate >= TIMESTAMP '1995-01-01'
               AND o_orderdate < TIMESTAMP '1996-01-01'),
y96 AS (SELECT DISTINCT o_custkey AS customer_id FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01')
SELECT 'both_years' AS cohort, customer_id
FROM (SELECT customer_id FROM y95 INTERSECT SELECT customer_id FROM y96)
UNION ALL
SELECT 'only_1995', customer_id
FROM (SELECT customer_id FROM y95 EXCEPT SELECT customer_id FROM y96)
""",
        "fill_missing_days": """
WITH daily AS (
  SELECT epoch_us(ts) // 86400000000 AS day_idx, event_type,
         COUNT(*) AS n_events,
         COALESCE(SUM(CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2))),
                  CAST(0 AS DECIMAL(18,2))) AS val
  FROM events GROUP BY 1, 2),
bounds AS (SELECT MIN(day_idx) AS lo, MAX(day_idx) AS hi FROM daily),
spine AS (SELECT unnest(generate_series(lo, hi)) AS day_idx FROM bounds),
types AS (SELECT DISTINCT event_type FROM daily)
SELECT spine.day_idx * 86400000000 AS day_us, types.event_type,
       COALESCE(n_events, 0) AS n_events,
       COALESCE(CAST(val AS DOUBLE), 0.0) AS total_value
FROM spine CROSS JOIN types
LEFT JOIN daily ON daily.day_idx = spine.day_idx
                AND daily.event_type = types.event_type
""",
        "rolling_active_users": """
WITH du AS (
  SELECT DISTINCT epoch_us(ts) // 86400000000 AS day_idx, user_id
  FROM events),
contrib AS (
  SELECT day_idx + k.range AS target_day, user_id
  FROM du CROSS JOIN range(0, 7) k),
observed AS (SELECT DISTINCT day_idx AS target_day FROM du)
SELECT target_day * 86400000000 AS day_us,
       COUNT(DISTINCT user_id) AS active_users
FROM contrib
WHERE target_day IN (SELECT target_day FROM observed)
GROUP BY 1
""",
        "daily_active_users": """
SELECT (epoch_us(ts) // 86400000000) * 86400000000 AS day_us,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1
""",
    }
    out["repeated_spans"] = f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (SELECT doc_id, CAST(r.i AS BIGINT) - 1 AS pos,
             md5(array_to_string(toks[r.i:r.i + 4], ' ')) AS gh
      FROM tk, UNNEST(generate_series(1, len(toks) - 4)) AS r(i)),
dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
p AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)),
runs AS (SELECT doc_id, pos,
                CASE WHEN lag(pos) OVER w IS NULL
                       OR pos - lag(pos) OVER w > 1
                     THEN 1 ELSE 0 END AS brk
         FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
rid AS (SELECT *, CAST(SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                      ROWS UNBOUNDED PRECEDING)
                       AS BIGINT) AS run_id
        FROM runs)
SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS start_tok,
       CAST(MAX(pos) + 4 AS BIGINT) AS end_tok,
       CAST(MAX(pos) - MIN(pos) + 5 AS BIGINT) AS span_tokens
FROM rid GROUP BY doc_id, run_id
"""
    _FILL_GRID = """
daily AS (
  SELECT epoch_us(ts) // 86400000000 AS day_idx, event_type,
         COUNT(*) AS n_events,
         COALESCE(SUM(CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2))),
                  CAST(0 AS DECIMAL(18,2))) AS val
  FROM events GROUP BY 1, 2),
bounds AS (SELECT MIN(day_idx) AS lo, MAX(day_idx) AS hi FROM daily),
spine AS (SELECT unnest(generate_series(lo, hi)) AS day_idx FROM bounds),
types AS (SELECT DISTINCT event_type FROM daily),
g AS (SELECT spine.day_idx, types.event_type, n_events, val
      FROM spine CROSS JOIN types
      LEFT JOIN daily ON daily.day_idx = spine.day_idx
                      AND daily.event_type = types.event_type)"""
    out["fill_missing_days_locf"] = f"""
WITH {_FILL_GRID}
SELECT day_idx * 86400000000 AS day_us, event_type,
       COALESCE(n_events, 0) AS n_events,
       CAST(last_value(val IGNORE NULLS)
              OVER (PARTITION BY event_type ORDER BY day_idx
                    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS total_value
FROM g
"""
    out["fill_missing_days_interp"] = f"""
WITH {_FILL_GRID},
c AS (SELECT *,
             last_value(val IGNORE NULLS) OVER wb AS pv,
             last_value(CASE WHEN val IS NOT NULL THEN day_idx END
                        IGNORE NULLS) OVER wb AS pd,
             first_value(val IGNORE NULLS) OVER wf AS nv,
             first_value(CASE WHEN val IS NOT NULL THEN day_idx END
                         IGNORE NULLS) OVER wf AS nd
      FROM g
      WINDOW wb AS (PARTITION BY event_type ORDER BY day_idx
                    ROWS UNBOUNDED PRECEDING),
             wf AS (PARTITION BY event_type ORDER BY day_idx
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT day_idx * 86400000000 AS day_us, event_type,
       COALESCE(n_events, 0) AS n_events,
       CASE WHEN val IS NOT NULL THEN CAST(val AS DOUBLE)
            WHEN pd IS NOT NULL AND nd IS NOT NULL
            THEN round(CAST(pv AS DOUBLE)
                       + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))
                         * ((day_idx - pd) / (nd - pd)), 6)
            END AS total_value
FROM c
"""
    out["strip_repeated_spans"] = f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (SELECT doc_id, CAST(r.i AS BIGINT) - 1 AS pos,
             md5(array_to_string(toks[r.i:r.i + 4], ' ')) AS gh
      FROM tk, UNNEST(generate_series(1, len(toks) - 4)) AS r(i)),
dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
p AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)),
runs AS (SELECT doc_id, pos,
                CASE WHEN lag(pos) OVER w IS NULL
                       OR pos - lag(pos) OVER w > 1
                     THEN 1 ELSE 0 END AS brk
         FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
rid AS (SELECT *, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS run_id
        FROM runs),
spans AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + 4 AS e
          FROM rid GROUP BY doc_id, run_id),
cov AS (SELECT DISTINCT doc_id, CAST(u.x AS BIGINT) AS pos
        FROM spans, UNNEST(generate_series(s, e)) AS u(x)),
tok AS (SELECT doc_id, CAST(r.i AS BIGINT) - 1 AS pos, toks[r.i] AS term
        FROM tk, UNNEST(generate_series(1, len(toks))) AS r(i)
        WHERE toks[r.i] <> ''),
kept AS (SELECT t.doc_id, t.pos, t.term FROM tok t
         ANTI JOIN cov ON t.doc_id = cov.doc_id AND t.pos = cov.pos),
reb AS (SELECT doc_id, string_agg(term, ' ' ORDER BY pos) AS clean_text,
               CAST(COUNT(*) AS BIGINT) AS n_kept
        FROM kept GROUP BY doc_id),
n AS (SELECT doc_id,
             CAST(len(list_filter({_TOKS}, t -> t <> '')) AS BIGINT) AS _n
      FROM documents)
SELECT n.doc_id, COALESCE(clean_text, '') AS clean_text,
       COALESCE(n_kept, 0) AS n_kept,
       _n - COALESCE(n_kept, 0) AS n_removed
FROM n LEFT JOIN reb USING (doc_id)
"""
    # docs_as_lines bridge: nonempty normalized tokens rewrapped into
    # 8-token newline-joined lines (docs with zero tokens dropped) —
    # the SQL twin of dedup.docs_as_lines(width=8)
    _LINES = f"""
tk AS (SELECT doc_id, list_filter({_TOKS}, t -> t <> '') AS toks
       FROM documents),
ln AS (SELECT doc_id, CAST(g.i AS BIGINT) AS pos,
              array_to_string(toks[(g.i*8+1):(g.i*8+8)], ' ') AS line
       FROM tk,
            UNNEST(generate_series(
              0, CAST(ceil(len(toks)/8.0) AS BIGINT) - 1)) AS g(i)
       WHERE len(toks) > 0)"""
    out["common_lines"] = f"""
WITH {_LINES}
SELECT line,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM ln WHERE line <> ''
GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 2
"""
    out["strip_common_lines"] = f"""
WITH {_LINES},
common AS (SELECT line FROM ln WHERE line <> ''
           GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 2),
kept AS (SELECT ln.doc_id, ln.pos, ln.line FROM ln
         ANTI JOIN common USING (line)
         WHERE ln.line <> ''),
reb AS (SELECT doc_id,
               string_agg(line, chr(10) ORDER BY pos) AS clean_text,
               CAST(COUNT(*) AS BIGINT) AS n_lines_kept
        FROM kept GROUP BY doc_id),
n AS (SELECT doc_id,
             CAST(ceil(len(toks)/8.0) AS BIGINT) AS _n
      FROM tk WHERE len(toks) > 0)
SELECT n.doc_id, COALESCE(clean_text, '') AS clean_text,
       COALESCE(n_lines_kept, 0) AS n_lines_kept,
       _n - COALESCE(n_lines_kept, 0) AS n_lines_removed
FROM n LEFT JOIN reb USING (doc_id)
"""
    # the Spark entry feeds normalize_text the same deterministic mess:
    # two-space prefix, decomposed e+accent, tab run, control char,
    # newline stack, trailing spaces
    out["normalize_text"] = """
WITH messy AS (
  SELECT doc_id,
         '  ' || text || ' caf' || 'e' || chr(769)
           || chr(9) || 'x' || chr(1)
           || chr(13) || 'cr' || chr(13) || chr(10) || 'crlf'
           || chr(10) || chr(10) || chr(10) || 'end  ' AS text
  FROM documents),
norm AS (
  SELECT doc_id, text,
         CASE WHEN text IS NULL THEN NULL ELSE
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(
               nfc_normalize(text),
               '\\r\\n?', chr(10), 'g'),
               '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
             '[ \\t]+', ' ', 'g'),
             ' ?\\n ?', chr(10), 'g'),
             '\\n{3,}', chr(10) || chr(10), 'g'),
             '^[\\n ]+|[\\n ]+$', '', 'g')
         END AS text_norm
  FROM messy)
SELECT doc_id, text_norm,
       (text_norm IS DISTINCT FROM text) AS changed,
       CAST(length(text_norm) AS BIGINT) AS n_chars_norm
FROM norm
"""
    out["extract_links"] = (
        r'''
WITH messy AS (
  SELECT doc_id,
         '<a href="https://Example.com/doc/' || CAST(doc_id AS VARCHAR)
         || '?q=1">' || text
         || '</a><img src=__SQ__//cdn.example.org/img/'
         || CAST(doc_id AS VARCHAR)
         || '.png__SQ__/><a href=https://plain.example.net/u?a=1&amp;b=2>u</a>'
         || '<a href="/rel/path">rel</a>' AS text
  FROM documents),
u AS ({URL_GRAMMAR})
SELECT doc_id,
       CAST(g.i AS BIGINT) - 1 AS link_pos,
       urls[g.i] AS url,
       lower(regexp_extract(urls[g.i], {DOMAIN_RE}, 1)) AS domain
FROM u, UNNEST(generate_series(1, len(urls))) AS g(i)
'''.replace("__SQ__", chr(39) * 2)
        .replace("{URL_GRAMMAR}", _URL_GRAMMAR_SQL)
        .replace("{DOMAIN_RE}", _DOMAIN_RE_SQL)
    )
    out["strip_markup"] = r"""
WITH messy AS (
  SELECT doc_id,
         '<html><body><script type="text/javascript">var x = 1 &amp;&amp; 2;</script><style>.c { color: red }</style><!-- hidden comment --><p class="lead">'
         || 'source' || chr(13) || chr(10) || 'wrapped ' || text ||
         '</p><br><div id="t">tail &lt;b&gt;not a tag&lt;/b&gt; &amp; &quot;quoted&quot; &#39;s&nbsp;end</div></body></html>'
           AS text
  FROM documents),
c AS (
  SELECT doc_id,
    CASE WHEN text IS NULL THEN NULL ELSE
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      replace(replace(replace(replace(replace(replace(
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          regexp_replace(regexp_replace(regexp_replace(
          text,
          '(?is)<script\b.*?</script[ \t\n\f\r]*>', '', 'g'),
          '(?is)<style\b.*?</style[ \t\n\f\r]*>', '', 'g'),
          '(?is)<(?:script|style)\b[^>]*>.*$', '', 'g'),
          '(?s)<!--.*?-->', '', 'g'),
          '[ \t\r\n]+', ' ', 'g'),
          '(?i)<(br|/?p|/?div|/?li|/?tr|/?table|/?ul|/?ol|/?h[1-6])\b[^>]*>',
          chr(10), 'g'),
          '<[^>]*>', '', 'g'),
        '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        '&#39;', chr(39)), '&amp;', '&'),
      '[ \t]+', ' ', 'g'),
      ' ?\n ?', chr(10), 'g'),
      '\n{3,}', chr(10) || chr(10), 'g'),
      '^[\n ]+|[\n ]+$', '', 'g')
    END AS text_clean,
    CASE WHEN text IS NULL THEN NULL
         ELSE CAST(len(regexp_extract_all(text, '<[^>]*>')) AS BIGINT)
    END AS n_tags
  FROM messy)
SELECT doc_id, text_clean, n_tags FROM c
"""
    out["dsir_weights"] = f"""
WITH occ AS (
  SELECT doc_id, source,
         CAST('0x' || substr(md5(t.term), 1, 8) AS BIGINT) % 1024 AS bucket
  FROM (SELECT doc_id, source, {_TOKS} AS tk FROM documents),
       UNNEST(tk) AS t(term)
  WHERE t.term <> ''),
db AS (SELECT doc_id, bucket, COUNT(*) AS tf FROM occ GROUP BY 1, 2),
bs AS (SELECT bucket, COUNT(*) AS raw_n,
              COUNT(CASE WHEN source = 'src0' THEN 1 END) AS tgt_n
       FROM occ GROUP BY 1),
tot AS (SELECT CAST(SUM(raw_n) AS BIGINT) AS raw_tot,
               CAST(SUM(tgt_n) AS BIGINT) AS tgt_tot FROM bs),
ratio AS (SELECT bucket,
                 ln((tgt_n + 1.0) / (tgt_tot + 1024.0))
                 - ln((raw_n + 1.0) / (raw_tot + 1024.0)) AS log_ratio
          FROM bs CROSS JOIN tot),
pd AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_occ,
              SUM(tf * log_ratio) AS lw
       FROM db JOIN ratio USING (bucket) GROUP BY 1),
sc AS (SELECT d.doc_id, d.lang, COALESCE(n_occ, 0) AS n_occ,
              COALESCE(round(lw, 6), 0.0::DOUBLE) AS log_weight
       FROM documents d LEFT JOIN pd USING (doc_id)),
rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY log_weight DESC, doc_id) AS _rk,
              COUNT(*) OVER (PARTITION BY lang) AS _n
       FROM sc)
SELECT doc_id, lang, n_occ, log_weight,
       _rk <= CEIL(0.25 * _n) AS is_selected
FROM rk
"""
    out["source_quota_sample"] = f"""
WITH q AS ({_QUALITY_SQL}),
j AS (SELECT d.doc_id, d.source, q.quality
      FROM documents d JOIN q USING (doc_id)),
r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
                                        ORDER BY quality DESC, doc_id)
                     AS BIGINT) AS source_rank
      FROM j)
SELECT doc_id, source, source_rank, source_rank <= 40 AS is_kept
FROM r
"""
    out["length_buckets"] = f"""
WITH pd AS (SELECT CAST(CASE WHEN length({_NORM}) = 0 THEN 0
                             ELSE len({_TOKS}) END AS BIGINT) AS n_tokens
            FROM documents),
b AS (SELECT n_tokens,
             CASE WHEN n_tokens <= 1 THEN 0
                  ELSE CAST(length(bin(n_tokens - 1)) AS BIGINT)
             END AS bucket
      FROM pd),
c AS (SELECT *, least(CAST(1 AS BIGINT) << bucket, 512) AS bucket_cap
      FROM b)
SELECT bucket, bucket_cap, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(greatest(bucket_cap - least(n_tokens, bucket_cap), 0))
            AS BIGINT) AS padding_tokens
FROM c GROUP BY 1, 2
"""
    # ann_rerank_topk: the coarse stage IS the (verified) quantized
    # oracle with its top-k widened to the candidate count; the rerank
    # replays ann_topk's exact fold-ordered cosine over candidates.
    _coarse32 = out["ann_quantized_topk"].replace(
        "QUALIFY knn_rank <= 5", "QUALIFY knn_rank <= 32"
    )
    out["ann_rerank_topk"] = f"""
WITH coarse AS ({_coarse32}),
qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
cv AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings
       WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
r AS (SELECT coarse.query_id, coarse.neighbor_id, {_COS} AS cos
      FROM coarse JOIN qv USING (query_id) JOIN cv USING (neighbor_id))
SELECT query_id, neighbor_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS INT)
         AS knn_rank
FROM r
QUALIFY knn_rank <= 5
"""
    out["value_outliers"] = """
WITH p AS (SELECT event_type,
                  ROUND(quantile_cont(value, 0.99), 6) AS p99
           FROM events GROUP BY 1)
SELECT event_id, e.event_type, epoch_us(ts) AS t_us, value, p99,
       ROUND(value / NULLIF(p99, 0), 6) AS exceed_ratio
FROM events e JOIN p USING (event_type)
WHERE value > p99
"""
    out["asof_join_forward"] = """
WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us
           FROM events WHERE event_type IN ('purchase', 'click')
             AND ts IS NOT NULL),
tagged AS (
  SELECT user_id, t_us,
         CASE WHEN event_type = 'click' THEN 2 ELSE 1 END AS kind,
         event_id
  FROM e),
carried AS (
  SELECT *,
         first_value(CASE WHEN kind = 2 THEN event_id END IGNORE NULLS)
           OVER w AS asof_event_id,
         first_value(CASE WHEN kind = 2 THEN t_us END IGNORE NULLS)
           OVER w AS asof_t_us
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY t_us, kind, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT event_id, user_id, t_us, asof_event_id, asof_t_us,
       asof_t_us - t_us AS gap_us
FROM carried WHERE kind = 1
"""
    out["funnel_steps_windowed"] = """
WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
v AS (SELECT user_id, MIN(t) AS t_view FROM e WHERE event_type = 'view' GROUP BY 1),
c AS (SELECT e.user_id, MIN(t) AS t_click
      FROM e JOIN v USING (user_id)
      WHERE event_type = 'click' AND t >= t_view
        AND t <= t_view + 86400000000 GROUP BY 1),
p AS (SELECT e.user_id, MIN(t) AS t_purchase
      FROM e JOIN c USING (user_id)
      WHERE event_type = 'purchase' AND t >= t_click
        AND t <= t_click + 86400000000 GROUP BY 1)
SELECT 1 AS stage_order, 'view' AS stage, COUNT(*) AS n_users FROM v
UNION ALL
SELECT 2, 'click', COUNT(*) FROM c
UNION ALL
SELECT 3, 'purchase', COUNT(*) FROM p
"""
    # corpus_prep_v2: composition of already-verified fragments — the
    # strip oracle becomes a CTE producing the cleaned corpus `docs2`,
    # the filter/dsir oracles are retargeted at it by word-boundary
    # table substitution (they are verified verbatim against
    # `documents` by their own entries), and the pack tail replays
    # corpus_prep's. DSIR keep_frac is 0.5 here (vs the entry's 0.25).
    import re as _re

    _strip2 = _re.sub(r"\bdocuments\b", "d1", out["strip_repeated_spans"])
    _filter2 = _re.sub(r"\bdocuments\b", "docs2", _FILTER_SQL)
    _dsir2 = _re.sub(
        r"0\.25", "0.5", _re.sub(r"\bdocuments\b", "surv0", out["dsir_weights"])
    )
    out["corpus_prep_v2"] = f"""
WITH kp AS (SELECT MIN(doc_id) AS doc_id FROM documents
            GROUP BY md5({_NORM})),
d1 AS (SELECT documents.* FROM documents JOIN kp USING (doc_id)),
stripq AS ({_strip2}),
docs2 AS (SELECT d.doc_id, s.clean_text AS text, d.lang, d.source,
                 length(s.clean_text) AS n_chars
          FROM d1 d JOIN stripq s USING (doc_id)),
fp AS ({_filter2}),
gate AS (SELECT doc_id FROM fp WHERE keep),
surv0 AS (SELECT docs2.* FROM docs2 JOIN gate USING (doc_id)),
dsir AS ({_dsir2}),
sel AS (SELECT doc_id FROM dsir WHERE is_selected),
fin AS (SELECT docs2.* FROM docs2 JOIN sel USING (doc_id)),
pk AS (SELECT doc_id,
              CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                   AS BIGINT) % 8 AS bucket,
              CAST(CASE WHEN length({_NORM}) = 0 THEN 0
                        ELSE len({_TOKS}) END AS BIGINT) AS n_tokens
       FROM fin),
c AS (SELECT *, CAST(SUM(n_tokens)
                     OVER (PARTITION BY bucket ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end
      FROM pk WHERE n_tokens > 0)
SELECT doc_id, bucket, n_tokens,
       cum_end - n_tokens AS stream_start,
       CAST(floor((cum_end - n_tokens) / 512) AS BIGINT) AS start_pack,
       CAST(floor((cum_end - 1) / 512) AS BIGINT) AS end_pack,
       (cum_end - n_tokens) % 512 AS pack_offset,
       CAST(floor((cum_end - 1) / 512) AS BIGINT)
         - CAST(floor((cum_end - n_tokens) / 512) AS BIGINT) + 1
         AS n_packs_spanned
FROM c
"""
    # Derived round-4 facade oracles: the exact path of the percentile
    # facade IS value_percentiles; the dashboard digest wraps each
    # frame oracle (default bounds = data min/max, so the unbounded
    # frame oracles are the exact twins).
    out["event_value_summary"] = out["value_percentiles"]
    out["dashboard_payload"] = _dashboard_digest_oracle(out)
    out["gopher_rules"] = r"""
WITH n AS (
  SELECT doc_id, regexp_replace(text, '\r\n?', chr(10), 'g') AS text
  FROM documents),
a AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'), w -> w <> '')
           AS words,
         list_filter(list_transform(string_split(text, chr(10)),
                                    l -> trim(l)), l -> l <> '') AS lines
  FROM n),
m AS (
  SELECT doc_id,
         CAST(len(words) AS BIGINT) AS n_words,
         CAST(COALESCE(list_sum(list_transform(words, w -> length(w))), 0)
              AS BIGINT) AS word_chars,
         CAST(length(text) - length(replace(text, '#', ''))
              + len(regexp_extract_all(text, '\.\.\.|…')) AS BIGINT)
           AS symbols,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(list_filter(lines, l -> regexp_matches(l, '^[-*•]')))
              AS BIGINT) AS bullet_lines,
         CAST(len(list_filter(lines,
                              l -> regexp_matches(l, '(\.\.\.|…)$')))
              AS BIGINT) AS ellipsis_lines,
         CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
              AS BIGINT) AS alpha_words,
         CAST(len(list_distinct(list_filter(
                list_transform(words, w -> lower(w)),
                w -> list_contains(['the','be','to','of','and','that',
                                    'have','with'], w)))) AS BIGINT)
           AS stop_hits
  FROM a),
r AS (
  SELECT doc_id, n_words,
         CASE WHEN n_words > 0
              THEN CAST(word_chars AS DOUBLE) / n_words
              ELSE 0.0 END AS mean_word_len,
         CASE WHEN n_words > 0
              THEN CAST(symbols AS DOUBLE) / n_words
              ELSE 0.0 END AS symbol_ratio,
         CASE WHEN n_lines > 0
              THEN CAST(bullet_lines AS DOUBLE) / n_lines
              ELSE 0.0 END AS bullet_ratio,
         CASE WHEN n_lines > 0
              THEN CAST(ellipsis_lines AS DOUBLE) / n_lines
              ELSE 0.0 END AS ellipsis_ratio,
         CASE WHEN n_words > 0
              THEN CAST(alpha_words AS DOUBLE) / n_words
              ELSE 0.0 END AS alpha_word_ratio,
         stop_hits
  FROM m)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
       ellipsis_ratio, alpha_word_ratio, stop_hits,
       n_words >= 50 AND n_words <= 100000 AS word_count_ok,
       mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS word_len_ok,
       symbol_ratio <= 0.1 AS symbol_ok,
       bullet_ratio <= 0.9 AS bullet_ok,
       ellipsis_ratio <= 0.3 AS ellipsis_ok,
       alpha_word_ratio >= 0.8 AS alpha_ok,
       stop_hits >= 2 AS stopword_ok,
       (n_words >= 50 AND n_words <= 100000)
         AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
         AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
         AND ellipsis_ratio <= 0.3 AND alpha_word_ratio >= 0.8
         AND stop_hits >= 2 AS gopher_pass
FROM r
"""
    out["bigram_logprob"] = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id,
             list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                            i -> array_to_string(list_slice(toks, i, i + 1),
                                                 ' ')) AS grams
      FROM t),
occ AS (SELECT doc_id, u.gram, string_split(u.gram, ' ')[1] AS w1
        FROM s, UNNEST(grams) AS u(gram)
        WHERE u.gram <> ''),
dt AS (SELECT doc_id, gram, w1, COUNT(*) AS tf_doc FROM occ GROUP BY 1, 2, 3),
c2 AS (SELECT gram, CAST(SUM(tf_doc) AS BIGINT) AS c2 FROM dt GROUP BY 1),
c1 AS (SELECT w1, CAST(SUM(tf_doc) AS BIGINT) AS c1 FROM dt GROUP BY 1),
pd AS (SELECT doc_id, CAST(SUM(tf_doc) AS BIGINT) AS n_bigrams,
              SUM(tf_doc * -log2(CAST(c2 AS DOUBLE) / c1)) AS bits
       FROM dt JOIN c2 USING (gram) JOIN c1 USING (w1)
       GROUP BY doc_id)
SELECT d.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams,
       COALESCE(round(bits / n_bigrams, 6), 0.0::DOUBLE) AS bits_per_bigram
FROM documents d LEFT JOIN pd USING (doc_id)
"""
    out["source_divergence"] = f"""
WITH occ AS (SELECT source, t.term
             FROM (SELECT source, {_TOKS} AS tk FROM documents),
                  UNNEST(tk) AS t(term)
             WHERE t.term <> ''),
c AS (SELECT source, term, COUNT(*) AS c FROM occ GROUP BY 1, 2),
k AS (SELECT source, term, c
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                         ORDER BY c DESC, term) AS rnk
            FROM c)
      WHERE rnk <= 2000),
tt AS (SELECT source, CAST(SUM(c) AS BIGINT) AS tot FROM k GROUP BY 1),
p AS (SELECT k.source, term, CAST(c AS DOUBLE) / tot AS p
      FROM k JOIN tt USING (source)),
pairs AS (SELECT a.source AS source_a, b.source AS source_b,
                 a.p AS pa, b.p AS pb
          FROM p a JOIN p b ON a.term = b.term AND a.source < b.source),
agg AS (SELECT source_a, source_b, COUNT(*) AS n_shared_terms,
               SUM(pa / 2 * log2(2 * pa / (pa + pb))
                   + pb / 2 * log2(2 * pb / (pa + pb))) AS sb,
               SUM(pa) AS ma, SUM(pb) AS mb
        FROM pairs GROUP BY 1, 2),
srcs AS (SELECT DISTINCT source FROM p),
grid AS (SELECT a.source AS source_a, b.source AS source_b
         FROM srcs a JOIN srcs b ON a.source < b.source)
SELECT source_a, source_b,
       COALESCE(n_shared_terms, 0) AS n_shared_terms,
       round(COALESCE(sb, 0) + (1 - COALESCE(ma, 0)) / 2
             + (1 - COALESCE(mb, 0)) / 2, 6) AS jsd
FROM grid LEFT JOIN agg USING (source_a, source_b)
"""
    out["lang_confusion"] = f"""
WITH li AS ({{LANG_ID}}),
cells AS (SELECT lang_declared, lang_pred, COUNT(*) AS n_docs
          FROM li GROUP BY 1, 2)
SELECT lang_declared, lang_pred, n_docs,
       CAST(SUM(n_docs) OVER (PARTITION BY lang_declared) AS BIGINT)
         AS declared_total,
       round(CAST(n_docs AS DOUBLE)
             / CAST(SUM(n_docs) OVER (PARTITION BY lang_declared)
                    AS BIGINT), 6) AS share
FROM cells
""".replace("{LANG_ID}", out["lang_id"])
    out["value_outliers_mad"] = """
WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS t_us, value
           FROM events),
med AS (SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
        FROM e GROUP BY 1),
mad AS (SELECT e.event_type,
               round(quantile_cont(abs(value - med), 0.5), 6) AS mad
        FROM e JOIN med USING (event_type) GROUP BY 1),
j AS (SELECT e.event_id, e.event_type, e.t_us, e.value, med, mad,
             round(0.6745 * (value - med) / mad, 6) AS mod_z
      FROM e JOIN med USING (event_type) JOIN mad USING (event_type)
      WHERE mad > 0)
SELECT event_id, event_type, t_us, value, med, mad, mod_z
FROM j WHERE abs(mod_z) > 3.5
"""
    out["perplexity_bucket_mix"] = f"""
WITH ul AS ({{UNIGRAM}}),
tc AS (SELECT doc_id,
              CAST(CASE WHEN length({_NORM}) = 0 THEN 0
                        ELSE len({_TOKS}) END AS BIGINT) AS n_tokens
       FROM documents),
j AS (SELECT ul.doc_id, bits_per_token, n_tokens
      FROM ul JOIN tc USING (doc_id)),
d AS (SELECT *, CAST(ntile(10) OVER (ORDER BY bits_per_token, doc_id)
                     AS INT) AS decile
      FROM j),
g AS (SELECT decile, COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             MIN(bits_per_token) AS min_bits,
             MAX(bits_per_token) AS max_bits
      FROM d GROUP BY 1),
ct AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS corpus_tokens FROM tc)
SELECT decile, n_docs, total_tokens,
       round(CAST(total_tokens AS DOUBLE) / corpus_tokens, 6)
         AS token_share,
       min_bits, max_bits
FROM g CROSS JOIN ct
""".replace("{UNIGRAM}", out["unigram_logprob"])
    out["pmi_terms"] = f"""
WITH pres AS (SELECT DISTINCT doc_id, t.term
              FROM (SELECT doc_id, {_TOKS} AS tk FROM documents),
                   UNNEST(tk) AS t(term)
              WHERE t.term <> ''),
dfq AS (SELECT term, COUNT(*) AS df FROM pres GROUP BY 1),
vocab AS (SELECT term, df
          FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY df DESC, term) AS r
                FROM dfq)
          WHERE r <= 100),
pv AS (SELECT doc_id, term, df FROM pres JOIN vocab USING (term)),
n AS (SELECT COUNT(*) AS n_corpus FROM documents),
pairs AS (SELECT a.term AS term_a, b.term AS term_b,
                 a.df AS df_a, b.df AS df_b
          FROM pv a JOIN pv b
            ON a.doc_id = b.doc_id AND a.term < b.term),
agg AS (SELECT term_a, term_b, COUNT(*) AS df_ab,
               ANY_VALUE(df_a) AS df_a, ANY_VALUE(df_b) AS df_b
        FROM pairs GROUP BY 1, 2 HAVING COUNT(*) >= 5)
SELECT term_a, term_b, df_ab, df_a, df_b,
       round(log2(CAST(df_ab AS DOUBLE) * n_corpus
                  / (CAST(df_a AS DOUBLE) * df_b)), 6) AS pmi
FROM agg CROSS JOIN n
ORDER BY pmi DESC, term_a, term_b
LIMIT 50
"""
    # corpus_report: composition of the individually-verified
    # quality/gopher/lang_id fragments + the fingerprint expression.
    out["corpus_report"] = f"""
WITH q AS ({_QUALITY_SQL}),
g AS ({{GOPHER}}),
li AS ({{LANG_ID}}),
fp AS (SELECT doc_id, source, md5({_NORM}) AS fingerprint
       FROM documents),
j AS (SELECT fp.doc_id, fp.source, fp.fingerprint, q.n_tokens,
             q.quality, g.gopher_pass,
             li.lang_declared IS DISTINCT FROM li.lang_pred AS mismatch
      FROM fp JOIN q USING (doc_id) JOIN g USING (doc_id)
              JOIN li USING (doc_id))
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       round(1 - CAST(COUNT(DISTINCT fingerprint) AS DOUBLE) / COUNT(*),
             6) AS dup_ratio,
       round(CAST(SUM(CASE WHEN gopher_pass THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS gopher_pass_rate,
       round(CAST(SUM(CASE WHEN mismatch THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS lang_mismatch_rate,
       round(SUM(quality) / COUNT(*), 6) AS mean_quality
FROM j GROUP BY source
""".replace("{GOPHER}", out["gopher_rules"]).replace(
        "{LANG_ID}", out["lang_id"]
    )
    out["lang_id_nb"] = f"""
WITH st AS (SELECT doc_id, lang, {_NORM} AS n FROM documents),
occ AS (SELECT doc_id, lang, g.gram
        FROM (SELECT doc_id, lang,
                     CASE WHEN length(n) >= 3
                          THEN list_transform(range(1, length(n) - 1),
                                              i -> substr(n, i, 3))
                          ELSE CAST([] AS VARCHAR[]) END AS grams
              FROM st), UNNEST(grams) AS g(gram)),
lg AS (SELECT lang, gram, COUNT(*) AS c FROM occ
       WHERE lang IS NOT NULL GROUP BY 1, 2),
vocab AS (SELECT gram FROM (
            SELECT gram,
                   ROW_NUMBER() OVER (ORDER BY SUM(c) DESC, gram) AS r
            FROM lg GROUP BY gram) WHERE r <= 4096),
vs AS (SELECT COUNT(*) AS v_size FROM vocab),
tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS t_l, v_size,
               ln(1.0 / (CAST(SUM(c) AS BIGINT) + v_size)) AS floor_logp
        FROM lg JOIN vocab USING (gram) CROSS JOIN vs
        GROUP BY lang, v_size),
mat AS (SELECT lg.lang, gram, ln((c + 1.0) / (t_l + v_size)) AS logp
        FROM lg JOIN vocab USING (gram) JOIN tot USING (lang)),
tf AS (SELECT doc_id, gram, COUNT(*) AS tf FROM occ GROUP BY 1, 2),
dn AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_grams FROM tf GROUP BY 1),
iv AS (SELECT doc_id, lang, SUM(tf * logp) AS in_bits,
              CAST(SUM(tf) AS BIGINT) AS in_occ
       FROM tf JOIN mat USING (gram) GROUP BY 1, 2),
grid AS (SELECT dn.doc_id, t.lang, dn.n_grams, t.floor_logp
         FROM dn CROSS JOIN tot t),
sc AS (SELECT g.doc_id, g.lang,
              round(COALESCE(in_bits, 0.0)
                    + (g.n_grams - COALESCE(in_occ, 0)) * g.floor_logp,
                    6) AS score
       FROM grid g LEFT JOIN iv
         ON g.doc_id = iv.doc_id AND g.lang = iv.lang),
best AS (SELECT doc_id, lang AS lang_pred, score,
                ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, lang) AS r
         FROM sc)
SELECT d.doc_id, d.lang AS lang_declared,
       COALESCE(b.lang_pred, 'unknown') AS lang_pred,
       COALESCE(b.score, 0.0::DOUBLE) AS score
FROM documents d
LEFT JOIN (SELECT doc_id, lang_pred, score FROM best WHERE r = 1) b
  USING (doc_id)
"""
    # profile_orders: generated per-column (name, spark dtype,
    # min/max-to-string rule) — doubles go through DECIMAL(28,6) and
    # timestamps through a fixed strftime so both engines print the
    # identical string.
    _prof_cols = [
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", "timestamp_ntz"),
        ("o_orderpriority", "string"),
    ]

    def _prof_str(expr: str, t: str) -> str:
        if t == "double":
            # TRY_CAST in lockstep with the operator: one
            # NaN/Infinity/|v|>=1e22 row renders NULL instead of
            # aborting the profile on either engine
            return f"CAST(TRY_CAST({expr} AS DECIMAL(28,6)) AS VARCHAR)"
        if t.startswith("timestamp"):
            return f"strftime({expr}, '%Y-%m-%d %H:%M:%S')"
        return f"CAST({expr} AS VARCHAR)"

    def _profile_sql(from_clause: str) -> str:
        aggs = ["COUNT(*) AS n"]
        for i, (c, t) in enumerate(_prof_cols):
            aggs += [
                f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)"
                f" AS BIGINT) AS nn{i}",
                f"COUNT(DISTINCT {c}) AS nd{i}",
                f"MIN({c}) AS mn{i}",
                f"MAX({c}) AS mx{i}",
            ]
        rows = [
            f"""SELECT '{c}' AS "column", '{t}' AS dtype, n AS n_rows,
       nn{i} AS n_nulls, round(CAST(nn{i} AS DOUBLE) / n, 6) AS null_rate,
       nd{i} AS n_distinct,
       {_prof_str(f"mn{i}", t)} AS min_value,
       {_prof_str(f"mx{i}", t)} AS max_value
FROM a"""
            for i, (c, t) in enumerate(_prof_cols)
        ]
        return (
            "WITH a AS (SELECT "
            + ", ".join(aggs)
            + f" FROM {from_clause})\n"
            + "\nUNION ALL\n".join(rows)
        )

    out["profile_orders"] = _profile_sql("orders")
    _prof_before = _profile_sql(
        "(SELECT * FROM orders"
        " WHERE o_orderdate < TIMESTAMP '1995-07-01')"
    )
    _prof_after = _profile_sql(
        "(SELECT * FROM orders"
        " WHERE o_orderdate >= TIMESTAMP '1995-07-01')"
    )
    out["profile_drift_orders"] = f"""
WITH pb AS ({_prof_before}),
pa AS ({_prof_after})
SELECT COALESCE(pb."column", pa."column") AS "column",
       COALESCE(pa.dtype, pb.dtype) AS dtype,
       pb.n_rows AS n_rows_before, pa.n_rows AS n_rows_after,
       round(pa.null_rate - pb.null_rate, 6) AS null_rate_delta,
       pa.n_distinct - pb.n_distinct AS n_distinct_delta,
       NOT (pa.min_value IS NOT DISTINCT FROM pb.min_value
            AND pa.max_value IS NOT DISTINCT FROM pb.max_value)
         AS bounds_changed
FROM pb FULL OUTER JOIN pa ON pb."column" = pa."column"
"""
    out["doc_similarity_topk"] = f"""
WITH occ AS (SELECT doc_id, t.term
             FROM (SELECT doc_id, {_TOKS} AS tk FROM documents),
                  UNNEST(tk) AS t(term)
             WHERE t.term <> ''),
tb AS (SELECT doc_id, dim_idx, COUNT(*) AS tf
       FROM (SELECT doc_id,
                    CAST('0x' || substr(md5(term), 1, 15) AS BIGINT) % 64
                      AS dim_idx
             FROM occ)
       GROUP BY 1, 2),
nm AS (SELECT doc_id, sqrt(CAST(SUM(tf * tf) AS BIGINT)) AS nrm
       FROM tb GROUP BY 1),
ev AS (SELECT doc_id, dim_idx, round(tf / nrm, 6) AS weight
       FROM tb JOIN nm USING (doc_id)),
qv AS (SELECT doc_id AS query_id, dim_idx, weight AS q_w
       FROM ev WHERE doc_id < 8),
sc AS (SELECT query_id, ev.doc_id, round(SUM(q_w * weight), 6) AS cos
       FROM ev JOIN qv USING (dim_idx)
       WHERE ev.doc_id <> query_id
       GROUP BY 1, 2)
SELECT query_id, doc_id, cos,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, doc_id) AS INT)
         AS sim_rank
FROM sc QUALIFY sim_rank <= 5
"""
    out["event_mix_drift"] = """
WITH e AS (SELECT event_type, epoch_us(ts) AS t_us FROM events),
pt AS (SELECT event_type,
              CAST(SUM(CASE WHEN t_us < 1705363200000000 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_before,
              CAST(SUM(CASE WHEN t_us < 1705363200000000 THEN 0 ELSE 1 END)
                   AS BIGINT) AS n_after
       FROM e GROUP BY 1),
tot AS (SELECT CAST(SUM(n_before) AS BIGINT) AS tb,
               CAST(SUM(n_after) AS BIGINT) AS ta FROM pt),
s AS (SELECT event_type, n_before, n_after,
             CASE WHEN tb > 0
                  THEN round(CAST(n_before AS DOUBLE) / tb, 6)
                  ELSE 0.0::DOUBLE END AS share_before,
             CASE WHEN ta > 0
                  THEN round(CAST(n_after AS DOUBLE) / ta, 6)
                  ELSE 0.0::DOUBLE END AS share_after
      FROM pt CROSS JOIN tot)
SELECT event_type, n_before, n_after, share_before, share_after,
       round(share_after - share_before, 6) AS share_delta
FROM s
"""
    _corr_cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

    def _corr_sql() -> str:
        """Mirror numeric_corr's naming and EXACT operation order —
        PAIRWISE-COMPLETE moments conditioned on both columns
        non-NULL, variances clamped at 0 before the sqrt (lockstep
        with the r9 operator)."""
        # 19,6 not 18,6: DuckDB widens 19-wide products to DECIMAL(38,12)
        # but overflows 18-wide ones in place; both widths are exact for
        # these ≤2-dp inputs, so the DOUBLE boundary values are identical.
        sums = []
        for i, x in enumerate(_corr_cols):
            for y in _corr_cols[i + 1 :]:
                both = f"{x} IS NOT NULL AND {y} IS NOT NULL"
                dx = f"CASE WHEN {both} THEN CAST({x} AS DECIMAL(19,6)) END"
                dy = f"CASE WHEN {both} THEN CAST({y} AS DECIMAL(19,6)) END"
                sums.extend(
                    [
                        f"CAST(SUM(CASE WHEN {both} THEN 1 ELSE 0 END)"
                        f" AS BIGINT) AS n_{x}_{y}",
                        f"CAST(SUM({dx}) AS DOUBLE) AS a_{x}_{y}",
                        f"CAST(SUM({dy}) AS DOUBLE) AS b_{x}_{y}",
                        f"CAST(SUM(({dx}) * ({dx})) AS DOUBLE) AS xx_{x}_{y}",
                        f"CAST(SUM(({dy}) * ({dy})) AS DOUBLE) AS yy_{x}_{y}",
                        f"CAST(SUM(({dx}) * ({dy})) AS DOUBLE) AS xy_{x}_{y}",
                    ]
                )
        rows = []
        for i, x in enumerate(_corr_cols):
            for y in _corr_cols[i + 1 :]:
                num = f"(n_{x}_{y} * xy_{x}_{y} - a_{x}_{y} * b_{x}_{y})"
                vx = f"greatest(n_{x}_{y} * xx_{x}_{y} - a_{x}_{y} * a_{x}_{y}, 0)"
                vy = f"greatest(n_{x}_{y} * yy_{x}_{y} - b_{x}_{y} * b_{x}_{y}, 0)"
                rows.append(
                    f"SELECT '{x}' AS col_x, '{y}' AS col_y, n_{x}_{y} AS n,\n"
                    f"       round({num} / NULLIF(sqrt({vx} * {vy}), 0), 6)"
                    " AS corr\n"
                    "FROM a"
                )
        body = ",\n  ".join(sums)
        return (
            f"WITH a AS (SELECT {body} FROM lineitem)\n"
            + "\nUNION ALL\n".join(rows)
        )

    out["numeric_corr"] = _corr_sql()
    out["soft_dedup_weights"] = f"""
WITH c AS ({_CLUSTERS_SQL})
SELECT doc_id, cluster_id, cluster_size,
       round(1.0 / cluster_size, 6) AS weight
FROM c
"""
    out["dayn_retention"] = """
WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day_idx
           FROM events GROUP BY 1, 2),
f AS (SELECT user_id, MIN(day_idx) AS first_day FROM e GROUP BY 1),
m AS (SELECT MAX(day_idx) AS max_day FROM e),
o AS (SELECT UNNEST([1, 3, 7, 14]) AS offset_days),
p AS (SELECT user_id, first_day + offset_days AS day_idx, offset_days
      FROM f CROSS JOIN m CROSS JOIN o
      WHERE first_day + offset_days <= max_day),
j AS (SELECT p.offset_days,
             CASE WHEN e.day_idx IS NULL THEN 0 ELSE 1 END AS active
      FROM p LEFT JOIN e ON p.user_id = e.user_id
                        AND p.day_idx = e.day_idx),
agg AS (SELECT offset_days, COUNT(*) AS n_eligible,
               CAST(SUM(active) AS BIGINT) AS n_retained
        FROM j GROUP BY 1)
SELECT o.offset_days,
       COALESCE(n_eligible, 0) AS n_eligible,
       COALESCE(n_retained, 0) AS n_retained,
       round(COALESCE(n_retained, 0)
             / NULLIF(COALESCE(n_eligible, 0), 0), 6) AS retention
FROM o LEFT JOIN agg USING (offset_days)
"""
    out["corpus_split"] = """
WITH b AS (SELECT doc_id, lang, source,
             CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
                                 1, 15) AS BIGINT) % 100 AS bucket
           FROM documents)
SELECT doc_id, lang, source, bucket,
       CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""
    out["split_leakage"] = f"""
WITH b AS (SELECT doc_id,
             CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
                                 1, 15) AS BIGINT) % 100 AS bucket,
             md5({_NORM}) AS fp
           FROM documents),
t AS (SELECT doc_id, fp,
             CASE WHEN bucket < 90 THEN 'train'
                  WHEN bucket < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM b),
tr AS (SELECT DISTINCT fp, 1 AS _hit FROM t WHERE split = 'train'),
ev AS (SELECT t.split, COALESCE(tr._hit, 0) AS hit
       FROM t LEFT JOIN tr ON t.fp IS NOT DISTINCT FROM tr.fp
       WHERE t.split <> 'train')
SELECT split, COUNT(*) AS n_docs,
       CAST(SUM(hit) AS BIGINT) AS n_leaked,
       round(CAST(SUM(hit) AS BIGINT) / COUNT(*), 6) AS leak_rate
FROM ev GROUP BY 1
"""
    out["cusum_changepoint"] = """
WITH e AS (SELECT event_type, epoch_us(ts) AS t_us, value FROM events),
d AS (SELECT event_type, t_us // 86400000000 AS day_idx,
             CAST(SUM(CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS x
      FROM e GROUP BY 1, 2),
tot AS (SELECT event_type, CAST(COUNT(*) AS DECIMAL(10,0)) AS n,
               CAST(SUM(x) AS DECIMAL(28,2)) AS s
        FROM d GROUP BY 1),
c AS (SELECT event_type, day_idx,
             CAST(row_number() OVER w AS DECIMAL(10,0)) AS t,
             CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY day_idx
                               ROWS UNBOUNDED PRECEDING)
                  AS DECIMAL(28,2)) AS prefix
      FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day_idx)),
st AS (SELECT c.event_type, c.day_idx, tot.n,
              abs(tot.n * c.prefix - c.t * tot.s) AS abs_stat
       FROM c JOIN tot USING (event_type)),
r AS (SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY abs_stat DESC, day_idx) AS rn
      FROM st)
SELECT event_type, day_idx * 86400000000 AS cp_day_us,
       CAST(n AS BIGINT) AS n_days,
       round(CAST(abs_stat AS DOUBLE) / CAST(n AS DOUBLE), 6) AS cusum_peak
FROM r WHERE rn = 1
"""
    out["trend_fit"] = """
WITH e AS (SELECT event_type, epoch_us(ts) AS t_us, value FROM events),
d AS (SELECT event_type, t_us // 86400000000 AS x,
             CAST(SUM(CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS y
      FROM e GROUP BY 1, 2),
m AS (SELECT event_type, COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(10,0)) * y) AS DOUBLE) AS sxy,
             CAST(SUM(y * y) AS DOUBLE) AS syy
      FROM d GROUP BY 1)
SELECT event_type, n AS n_days,
       round((n * sxy - sx * sy)
             / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0), 6)
         AS slope,
       round((sy - ((n * sxy - sx * sy) /
                    NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0)) * sx) / n, 6)
         AS intercept,
       round(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
             NULLIF(CAST(n * sxx - sx * sx AS DOUBLE)
                    * (n * syy - sy * sy), 0), 6)
         AS r2
FROM m
"""
    out["linear_attribution"] = """
WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us,
                  value FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
conv AS (SELECT event_id AS conv_id, user_id, t_us AS conv_us,
                CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2)) AS conv_value
         FROM e WHERE event_type = 'purchase'),
probes AS (SELECT user_id AS p_user, event_type AS channel,
                  t_us AS p_t_us
           FROM e WHERE event_type IN ('view', 'click')),
pairs AS (SELECT conv_id, channel, conv_value
          FROM conv JOIN probes ON user_id = p_user
            AND p_t_us >= conv_us - 604800000000
            AND p_t_us < conv_us),
shares AS (SELECT conv_id, channel,
                  CAST(round(CAST(conv_value AS DOUBLE) /
                             COUNT(*) OVER (PARTITION BY conv_id), 6)
                       AS DECIMAL(28,6)) AS share
           FROM pairs),
direct AS (SELECT conv_id, 'direct' AS channel,
                  CAST(conv_value AS DECIMAL(28,6)) AS share
           FROM conv
           WHERE conv_id NOT IN (SELECT conv_id FROM shares)),
u AS (SELECT * FROM shares UNION ALL SELECT * FROM direct)
SELECT channel, COUNT(DISTINCT conv_id) AS n_conversions,
       COUNT(*) AS n_touches,
       CAST(SUM(share) AS DOUBLE) AS attributed_value
FROM u GROUP BY 1
"""
    out["fulfillment_latency"] = """
WITH j AS (SELECT o_orderpriority,
                  (epoch_us(l_shipdate) // 86400000000)
                  - (epoch_us(o_orderdate) // 86400000000) AS lag_days
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
SELECT o_orderpriority, COUNT(*) AS n_lines,
       MIN(lag_days) AS min_days, MAX(lag_days) AS max_days,
       round(quantile_cont(lag_days, 0.5), 6) AS p50_days,
       round(quantile_cont(lag_days, 0.9), 6) AS p90_days,
       round(AVG(lag_days), 6) AS mean_days
FROM j GROUP BY 1
"""
    out["wow_growth"] = """
WITH o AS (SELECT epoch_us(o_orderdate) // 604800000000 AS week_idx,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                    AS revenue
           FROM orders GROUP BY 1),
s AS (SELECT unnest(range((SELECT MIN(week_idx) FROM o),
                          (SELECT MAX(week_idx) FROM o) + 1)) AS week_idx),
w AS (SELECT s.week_idx, COALESCE(o.revenue, 0.0) AS revenue
      FROM s LEFT JOIN o USING (week_idx))
SELECT week_idx, week_idx * 604800000000 AS week_start_us, revenue,
       lag(revenue) OVER (ORDER BY week_idx) AS prev_revenue,
       round((revenue - lag(revenue) OVER (ORDER BY week_idx))
             / NULLIF(lag(revenue) OVER (ORDER BY week_idx), 0), 6)
         AS growth
FROM w
"""
    out["session_stats"] = """
WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
           FROM events),
tagged AS (
  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
                   OR ts_us - lag(ts_us) OVER w > 1800000000
                 THEN 1 ELSE 0 END AS new_sess
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
sess AS (
  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id
                                     ORDER BY ts_us, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
              AS session_seq
  FROM tagged),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, session_seq
                               ORDER BY ts_us, event_id) AS rn
  FROM sess),
per_sess AS (
  SELECT user_id, session_seq, COUNT(*) AS n_events,
         MAX(CASE WHEN rn = 1 THEN event_type END) AS entry_type,
         MAX(ts_us) - MIN(ts_us) AS duration_us
  FROM ranked GROUP BY 1, 2)
SELECT entry_type, COUNT(*) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       round(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             / COUNT(*), 6) AS bounce_rate,
       round(CAST(SUM(n_events) AS BIGINT) / COUNT(*), 6) AS mean_events,
       round(CAST(SUM(duration_us) AS BIGINT) / COUNT(*), 6)
         AS mean_duration_us
FROM per_sess GROUP BY 1
"""
    out["repeat_rate"] = """
WITH o AS (SELECT o_custkey, o_orderkey,
                  epoch_us(o_orderdate) // 86400000000 AS day
           FROM orders),
r AS (SELECT *, row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY day, o_orderkey) AS rn
      FROM o),
pc AS (SELECT o_custkey,
              MIN(CASE WHEN rn = 1 THEN day END) AS first_day,
              MIN(CASE WHEN rn = 2 THEN day END) AS second_day
       FROM r WHERE rn <= 2 GROUP BY 1)
SELECT COUNT(*) AS n_customers,
       CAST(SUM(CASE WHEN second_day IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_repeat,
       round(CAST(SUM(CASE WHEN second_day IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) / COUNT(*), 6) AS repeat_rate,
       round(quantile_cont(second_day - first_day, 0.5), 6)
         AS p50_gap_days,
       round(quantile_cont(second_day - first_day, 0.9), 6)
         AS p90_gap_days
FROM pc
"""
    out["user_streaks"] = """
WITH d AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day_idx
           FROM events GROUP BY 1, 2),
r AS (SELECT user_id, day_idx,
             day_idx - row_number() OVER (PARTITION BY user_id
                                          ORDER BY day_idx) AS island
      FROM d),
s AS (SELECT user_id, island, COUNT(*) AS len FROM r GROUP BY 1, 2)
SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
       COUNT(*) AS n_streaks, CAST(MAX(len) AS BIGINT) AS max_streak
FROM s GROUP BY 1
"""
    out["dau_new_vs_returning"] = """
WITH d AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day_idx
           FROM events GROUP BY 1, 2),
t AS (SELECT *, CASE WHEN day_idx = MIN(day_idx) OVER (PARTITION BY user_id)
                     THEN 1 ELSE 0 END AS is_new
      FROM d),
a AS (SELECT day_idx, COUNT(*) AS n_active,
             CAST(SUM(is_new) AS BIGINT) AS n_new
      FROM t GROUP BY 1)
SELECT day_idx * 86400000000 AS day_us, n_active, n_new,
       n_active - n_new AS n_returning,
       round(n_new / n_active, 6) AS new_share
FROM a
"""
    out["split_leakage_near"] = f"""
WITH mh AS ({_MINHASH_SQL}),
sp AS (SELECT doc_id,
         CASE WHEN CAST('0x' || substr(md5('split:' ||
                        CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                   % 100 < 90 THEN 'train'
              WHEN CAST('0x' || substr(md5('split:' ||
                        CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                   % 100 < 95 THEN 'val'
              ELSE 'test' END AS split
       FROM documents),
cross_p AS (
  SELECT CASE WHEN a.split = 'train' THEN m.doc_b ELSE m.doc_a END
           AS eval_doc,
         CASE WHEN a.split = 'train' THEN b.split ELSE a.split END
           AS split
  FROM mh m JOIN sp a ON m.doc_a = a.doc_id
            JOIN sp b ON m.doc_b = b.doc_id
  WHERE (a.split = 'train') <> (b.split = 'train')),
lk AS (SELECT split, COUNT(DISTINCT eval_doc) AS n_leaked_docs,
              COUNT(*) AS n_leak_pairs
       FROM cross_p GROUP BY 1),
tot AS (SELECT split, COUNT(*) AS n_docs FROM sp
        WHERE split <> 'train' GROUP BY 1)
SELECT t.split, t.n_docs,
       COALESCE(n_leaked_docs, 0) AS n_leaked_docs,
       COALESCE(n_leak_pairs, 0) AS n_leak_pairs,
       round(COALESCE(n_leaked_docs, 0) / t.n_docs, 6) AS leak_rate
FROM tot t LEFT JOIN lk ON t.split = lk.split
"""
    out["interarrival_stats"] = """
WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS t_us FROM events),
d AS (SELECT event_type,
             t_us - lag(t_us) OVER (PARTITION BY event_type
                                    ORDER BY t_us, event_id) AS delta_us
      FROM e)
SELECT event_type, COUNT(*) AS n_gaps,
       round(quantile_cont(delta_us, 0.5), 6) AS p50_us,
       round(quantile_cont(delta_us, 0.9), 6) AS p90_us,
       round(quantile_cont(delta_us, 0.99), 6) AS p99_us,
       CAST(SUM(delta_us) // COUNT(*) AS BIGINT) AS mean_us
FROM d WHERE delta_us IS NOT NULL GROUP BY 1
"""
    out["cdc_apply"] = """
WITH cur AS (SELECT o_orderkey AS order_id, o_orderstatus AS status,
                    o_totalprice AS total FROM orders),
chg AS (
  SELECT o_orderkey AS order_id, 'updated' AS status,
         o_totalprice AS total, 2 AS seq, 'U' AS op
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, 'gone', 0.0, 3, 'D'
  FROM orders WHERE o_orderkey % 13 = 0
  UNION ALL
  SELECT o_orderkey + 100000000, 'new', o_totalprice, 1, 'I'
  FROM orders WHERE o_orderkey % 11 = 0),
net AS (SELECT * FROM (
  SELECT *, row_number() OVER (PARTITION BY order_id
                               ORDER BY seq DESC, op DESC) AS rn
  FROM chg) WHERE rn = 1),
kept AS (SELECT * FROM cur
         WHERE order_id NOT IN (SELECT order_id FROM net))
SELECT order_id, status, total FROM kept
UNION ALL
SELECT order_id, status, total FROM net WHERE op <> 'D'
"""
    out["dq_referential"] = """
WITH fk1 AS (SELECT l_orderkey AS k, COUNT(*) AS n FROM lineitem
             WHERE l_orderkey IS NOT NULL GROUP BY 1),
orph1 AS (SELECT COALESCE(CAST(SUM(n) AS BIGINT), 0) AS n_orphan_rows,
                 COUNT(*) AS n_orphan_keys
          FROM fk1 WHERE k NOT IN (SELECT o_orderkey FROM orders)),
tot1 AS (SELECT COUNT(*) AS n_child_rows,
                CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_null_fk,
                COUNT(DISTINCT l_orderkey) AS n_distinct_fk
         FROM lineitem),
child2 AS (SELECT CASE WHEN l_orderkey % 97 = 0 THEN NULL
                       ELSE l_partkey END AS fk
           FROM lineitem),
par2 AS (SELECT p_partkey FROM part WHERE p_partkey % 10 <> 0),
fk2 AS (SELECT fk AS k, COUNT(*) AS n FROM child2
        WHERE fk IS NOT NULL GROUP BY 1),
orph2 AS (SELECT COALESCE(CAST(SUM(n) AS BIGINT), 0) AS n_orphan_rows,
                 COUNT(*) AS n_orphan_keys
          FROM fk2 WHERE k NOT IN (SELECT p_partkey FROM par2)),
tot2 AS (SELECT COUNT(*) AS n_child_rows,
                CAST(SUM(CASE WHEN fk IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_null_fk,
                COUNT(DISTINCT fk) AS n_distinct_fk
         FROM child2)
SELECT 'lineitem->orders' AS relation, n_child_rows, n_null_fk,
       n_distinct_fk, n_orphan_rows, n_orphan_keys
FROM tot1 CROSS JOIN orph1
UNION ALL
SELECT 'lineitem->part', n_child_rows, n_null_fk,
       n_distinct_fk, n_orphan_rows, n_orphan_keys
FROM tot2 CROSS JOIN orph2
"""
    out["time_gaps"] = """
WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS t_us FROM events),
g AS (SELECT event_type,
             lag(t_us) OVER (PARTITION BY event_type
                             ORDER BY t_us, event_id) AS gap_start_us,
             t_us AS gap_end_us
      FROM e)
SELECT event_type, gap_start_us, gap_end_us,
       gap_end_us - gap_start_us AS gap_us
FROM g WHERE gap_end_us - gap_start_us > 3600000000
"""
    out["merge_intervals"] = """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS start_us,
                  epoch_us(ts) + 1800000000 AS end_us FROM events
           WHERE ts IS NOT NULL),
t AS (SELECT *,
        CASE WHEN max(end_us) OVER pre IS NULL
               OR start_us > max(end_us) OVER pre
             THEN 1 ELSE 0 END AS new_island
      FROM e
      WINDOW pre AS (PARTITION BY user_id ORDER BY start_us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
s AS (SELECT *,
        CAST(SUM(new_island) OVER (PARTITION BY user_id
                                   ORDER BY start_us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
          AS island
      FROM t)
SELECT user_id, island, MIN(start_us) AS start_us, MAX(end_us) AS end_us,
       COUNT(*) AS n_events, MAX(end_us) - MIN(start_us) AS covered_us
FROM s GROUP BY 1, 2
"""
    out["m4_downsample"] = """
WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS t_us, value
           FROM events),
sp AS (SELECT event_type, MIN(t_us) AS t0, MAX(t_us) AS t1
       FROM e GROUP BY 1),
b AS (SELECT e.event_type,
             CAST(least(99, ((t_us - t0) * 100) //
                  (CASE WHEN t1 > t0 THEN t1 - t0 ELSE 1 END)) AS INT)
               AS bucket,
             t_us, event_id, value
      FROM e JOIN sp USING (event_type)),
r AS (SELECT *,
        row_number() OVER (PARTITION BY event_type, bucket
                           ORDER BY t_us, event_id) AS rf,
        row_number() OVER (PARTITION BY event_type, bucket
                           ORDER BY t_us DESC, event_id DESC) AS rl
      FROM b)
SELECT event_type, bucket, COUNT(*) AS n_events,
       MAX(CASE WHEN rf = 1 THEN t_us END) AS t_first_us,
       MAX(CASE WHEN rf = 1 THEN value END) AS v_first,
       MAX(CASE WHEN rl = 1 THEN t_us END) AS t_last_us,
       MAX(CASE WHEN rl = 1 THEN value END) AS v_last,
       MIN(value) AS v_min,
       MAX(value) AS v_max
FROM r GROUP BY 1, 2
"""
    out["ks_drift"] = """
WITH e AS (SELECT event_type, epoch_us(ts) AS t_us, value FROM events
           WHERE value IS NOT NULL),
pv AS (SELECT event_type, value,
         CAST(SUM(CASE WHEN t_us < 1705363200000000 THEN 1 ELSE 0 END)
              AS BIGINT) AS d_b,
         CAST(SUM(CASE WHEN t_us < 1705363200000000 THEN 0 ELSE 1 END)
              AS BIGINT) AS d_a
       FROM e GROUP BY 1, 2),
tot AS (SELECT event_type, CAST(SUM(d_b) AS BIGINT) AS n_before,
               CAST(SUM(d_a) AS BIGINT) AS n_after
        FROM pv GROUP BY 1),
c AS (SELECT event_type,
        CAST(SUM(d_b) OVER w AS BIGINT) AS c_b,
        CAST(SUM(d_a) OVER w AS BIGINT) AS c_a
      FROM pv
      WINDOW w AS (PARTITION BY event_type ORDER BY value
                   ROWS UNBOUNDED PRECEDING)),
m AS (SELECT c.event_type, n_before, n_after,
             MAX(abs(c_b * n_after - c_a * n_before)) AS num
      FROM c JOIN tot USING (event_type) GROUP BY 1, 2, 3)
SELECT event_type, n_before, n_after,
       round(num / NULLIF(CAST(n_before AS DOUBLE) * n_after, 0), 6)
         AS ks_d,
       round(num / NULLIF(CAST(n_before AS DOUBLE) * n_after, 0), 6) > 0.1
         AS drifted
FROM m
"""
    out["dup_cluster_histogram"] = f"""
WITH c AS ({_CLUSTERS_SQL})
SELECT cluster_size, COUNT(DISTINCT cluster_id) AS n_clusters,
       COUNT(*) AS n_docs,
       COUNT(*) - COUNT(DISTINCT cluster_id) AS n_removable
FROM c GROUP BY 1
"""
    out["session_paths"] = """
WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
           FROM events),
tagged AS (
  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
                   OR ts_us - lag(ts_us) OVER w > 1800000000
                 THEN 1 ELSE 0 END AS new_sess
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
sess AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
                                ORDER BY ts_us, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM tagged),
paths AS (
  SELECT user_id, session_seq,
         string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path
  FROM sess GROUP BY 1, 2),
c AS (SELECT path, COUNT(*) AS n_sessions FROM paths GROUP BY 1)
SELECT path, n_sessions,
       CAST(ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path) AS INT)
         AS path_rank
FROM c QUALIFY path_rank <= 20
"""
    out["conversion_latency"] = """
WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us
           FROM events WHERE event_type IN ('view', 'purchase')),
tagged AS (SELECT user_id, t_us,
                  CASE WHEN event_type = 'purchase' THEN 2 ELSE 1 END
                    AS kind,
                  event_id
           FROM e),
carried AS (SELECT *,
                   first_value(CASE WHEN kind = 2 THEN t_us END
                               IGNORE NULLS)
                     OVER w AS asof_t_us
            FROM tagged
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY t_us, kind, event_id
                         ROWS BETWEEN CURRENT ROW
                              AND UNBOUNDED FOLLOWING)),
g AS (SELECT asof_t_us - t_us AS gap_us FROM carried WHERE kind = 1)
SELECT COUNT(*) AS n_from_events,
       COUNT(gap_us) AS n_converted,
       round(CAST(COUNT(gap_us) AS DOUBLE) / COUNT(*), 6)
         AS conversion_rate,
       round(quantile_cont(gap_us, 0.5), 6) AS p50_gap_us,
       round(quantile_cont(gap_us, 0.9), 6) AS p90_gap_us
FROM g
"""
    out["quality_percentile_by_source"] = f"""
WITH q AS ({_QUALITY_SQL}),
j AS (SELECT q.doc_id, d.source, q.quality
      FROM q JOIN documents d USING (doc_id)),
r AS (SELECT *,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY quality, doc_id) AS rnk,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM j)
SELECT doc_id, source, quality,
       CASE WHEN n > 1
            THEN round(CAST(rnk - 1 AS DOUBLE) / (n - 1), 6)
            ELSE 0.0::DOUBLE END AS quality_pctile
FROM r
"""
    out["dedup_audit"] = _doc_sample_cte(f"""
WITH t AS ({_JACCARD_SQL}),
l0 AS ({_MINHASH_SQL}),
l AS (SELECT l0.doc_a, l0.doc_b
      FROM l0
      JOIN documents da ON l0.doc_a = da.doc_id
      JOIN documents db ON l0.doc_b = db.doc_id
      WHERE da.lang = db.lang),
tr AS (SELECT COUNT(*) AS n_exact_pairs FROM t),
m AS (SELECT COUNT(*) AS n_lsh_pairs FROM l),
x AS (SELECT COUNT(*) AS n_hits
      FROM l JOIN t ON l.doc_a = t.doc_a AND l.doc_b = t.doc_b)
SELECT n_exact_pairs, n_lsh_pairs, n_hits,
       n_exact_pairs - n_hits AS n_missed,
       CASE WHEN n_exact_pairs > 0
            THEN round(CAST(n_hits AS DOUBLE) / n_exact_pairs, 6)
            ELSE 1.0::DOUBLE END AS recall
FROM tr CROSS JOIN m CROSS JOIN x
""")
    out["hash_embed"] = f"""
WITH occ AS (SELECT doc_id, t.term
             FROM (SELECT doc_id, {_TOKS} AS tk FROM documents),
                  UNNEST(tk) AS t(term)
             WHERE t.term <> ''),
tb AS (SELECT doc_id, dim_idx, COUNT(*) AS tf
       FROM (SELECT doc_id,
                    CAST('0x' || substr(md5(term), 1, 15) AS BIGINT) % 16
                      AS dim_idx
             FROM occ)
       GROUP BY 1, 2),
n AS (SELECT doc_id, sqrt(CAST(SUM(tf * tf) AS BIGINT)) AS nrm
      FROM tb GROUP BY 1)
SELECT doc_id, dim_idx, CAST(tf AS BIGINT) AS tf,
       round(tf / nrm, 6) AS weight
FROM tb JOIN n USING (doc_id)
"""
    out["ewma_daily"] = """
WITH e AS (SELECT event_type, epoch_us(ts) AS t_us, value FROM events
           WHERE value IS NOT NULL AND NOT isnan(value)),
d AS (SELECT event_type,
             (t_us // 86400000000) * 86400000000 AS day_us,
             CAST(SUM(CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2))) AS DOUBLE)
               AS total_value
      FROM e GROUP BY 1, 2),
s AS (SELECT *, list(total_value)
                  OVER (PARTITION BY event_type ORDER BY day_us
                        ROWS UNBOUNDED PRECEDING) AS series
      FROM d)
SELECT event_type, day_us, total_value,
       round(list_reduce(series, (acc, x) -> 0.2 * x + 0.8 * acc), 6)
         AS ewma
FROM s
"""
    out["seasonal_profile"] = """
WITH e AS (SELECT event_type, epoch_us(ts) AS t_us, value FROM events),
g AS (SELECT event_type,
             (t_us % 86400000000) // 3600000000 AS hour,
             ((t_us // 86400000000) + 3) % 7 AS weekday,
             value
      FROM e),
a AS (SELECT event_type, weekday, hour, COUNT(*) AS n_events,
             SUM(CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2))) AS tot
      FROM g GROUP BY 1, 2, 3)
SELECT event_type, weekday, hour, n_events,
       CAST(tot AS DOUBLE) AS total_value,
       round(CAST(tot AS DOUBLE) / n_events, 6) AS mean_value
FROM a
"""
    out["daily_value_percentiles"] = """
WITH e AS (SELECT event_type, epoch_us(ts) AS t_us, value FROM events),
a AS (SELECT event_type,
             (t_us // 86400000000) * 86400000000 AS day_us,
             COUNT(*) AS n_events,
             quantile_cont(value, 0.5) AS q50,
             quantile_cont(value, 0.95) AS q95
      FROM e GROUP BY 1, 2)
SELECT event_type, day_us, n_events,
       round(q50, 6) AS p50, round(q95, 6) AS p95
FROM a
"""
    out["equidepth_histogram"] = """
WITH b AS (SELECT event_type, value,
                  CAST(ntile(10) OVER (PARTITION BY event_type
                                       ORDER BY value, event_id) AS INT)
                    AS bin
           FROM events WHERE value IS NOT NULL)
SELECT event_type, bin, COUNT(*) AS n_events,
       round(MIN(value), 6) AS lo, round(MAX(value), 6) AS hi
FROM b GROUP BY 1, 2
"""
    out["seasonal_anomaly"] = """
WITH e AS (SELECT event_type, epoch_us(ts) AS t_us FROM events),
d AS (SELECT event_type, t_us // 86400000000 AS day_idx,
             COUNT(*) AS n_events
      FROM e GROUP BY 1, 2),
w AS (SELECT *, (day_idx + 3) % 7 AS weekday FROM d),
b AS (SELECT event_type, weekday, CAST(SUM(n_events) AS BIGINT) AS tot,
             COUNT(*) AS n_days
      FROM w GROUP BY 1, 2),
j AS (SELECT w.event_type, w.day_idx, w.weekday, w.n_events,
             round(CAST(tot AS DOUBLE) / n_days, 6) AS baseline_mean
      FROM w JOIN b USING (event_type, weekday)),
r AS (SELECT *, round(n_events / baseline_mean, 6) AS ratio FROM j)
SELECT event_type, day_idx * 86400000000 AS day_us, weekday, n_events,
       baseline_mean, ratio,
       (ratio < 0.5 OR ratio > 2.0) AS is_anomaly
FROM r
"""
    out["event_transitions"] = """
WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us
           FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL
             AND event_id IS NOT NULL),
p AS (SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY t_us, event_id) AS to_type
      FROM e),
c AS (SELECT from_type, to_type, COUNT(*) AS n_transitions
      FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
t AS (SELECT from_type, CAST(SUM(n_transitions) AS BIGINT) AS ft
      FROM c GROUP BY 1)
SELECT from_type, to_type, n_transitions,
       round(CAST(n_transitions AS DOUBLE) / ft, 6) AS p_transition
FROM c JOIN t USING (from_type)
"""
    out["user_overlap"] = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events
            WHERE user_id IS NOT NULL),
s AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY 1),
b AS (SELECT a.event_type AS type_a, c.event_type AS type_b,
             COUNT(*) AS n_both
      FROM ut a JOIN ut c ON a.user_id = c.user_id
      WHERE a.event_type < c.event_type
      GROUP BY 1, 2)
SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
       round(CAST(n_both AS DOUBLE) / (sa.n + sb.n - n_both), 6)
         AS jaccard
FROM b JOIN s sa ON sa.event_type = type_a
       JOIN s sb ON sb.event_type = type_b
"""
    out["bm25_search"] = _BM25_SQL
    out["basket_pairs"] = """
WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
no AS (SELECT COUNT(DISTINCT o) AS n_orders FROM li),
pp AS (SELECT p, COUNT(*) AS n_part FROM li GROUP BY 1),
pr AS (SELECT a.p AS part_a, b.p AS part_b, COUNT(*) AS n_both
       FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
       GROUP BY 1, 2 HAVING COUNT(*) >= 3),
s AS (SELECT part_a, part_b, n_both,
             round(CAST(n_both AS DOUBLE) / n_orders, 6) AS support,
             round(CAST(n_both AS DOUBLE) / na.n_part, 6) AS conf_a_to_b,
             round((n_both * n_orders) / (na.n_part * nb.n_part), 6) AS lift
      FROM pr JOIN pp na ON na.p = part_a
              JOIN pp nb ON nb.p = part_b
              CROSS JOIN no)
SELECT part_a, part_b, n_both, support, conf_a_to_b, lift,
       CAST(ROW_NUMBER() OVER (ORDER BY lift DESC, part_a, part_b) AS INT)
         AS pair_rank
FROM s QUALIFY pair_rank <= 50
"""
    out["hybrid_search"] = f"""
WITH lex AS (SELECT * FROM ({_BM25_SQL})),
sem AS (SELECT * FROM ({_SEM97_SQL})),
f AS (SELECT COALESCE(lex.query_id, sem.query_id) AS query_id,
             COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
             round(COALESCE(1.0 / (60 + bm25_rank), 0.0)
                   + COALESCE(1.0 / (60 + sim_rank), 0.0), 6) AS rrf_score
      FROM lex FULL OUTER JOIN sem
        ON lex.query_id = sem.query_id AND lex.doc_id = sem.doc_id)
SELECT query_id, doc_id, rrf_score,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY rrf_score DESC, doc_id) AS INT)
         AS fused_rank
FROM f QUALIFY fused_rank <= 10
"""
    out["rfm_segments"] = """
WITH pc AS (SELECT o_custkey AS cust_id,
                   MAX(date_diff('day', TIMESTAMP '1970-01-01 00:00:00',
                                 o_orderdate)) AS last_day,
                   COUNT(*) AS frequency,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
            FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
mx AS (SELECT MAX(last_day) AS corpus_last FROM pc),
f AS (SELECT cust_id,
             CAST(corpus_last - last_day AS BIGINT) AS recency_days,
             frequency, CAST(spend AS DOUBLE) AS monetary, spend
      FROM pc CROSS JOIN mx),
s AS (SELECT cust_id, recency_days, frequency, monetary,
             CAST(5 - ntile(4) OVER (ORDER BY recency_days, cust_id)
                  AS INT) AS r_score,
             CAST(ntile(4) OVER (ORDER BY frequency, cust_id)
                  AS INT) AS f_score,
             CAST(ntile(4) OVER (ORDER BY spend, cust_id)
                  AS INT) AS m_score
      FROM f)
SELECT cust_id, recency_days, frequency, monetary,
       r_score, f_score, m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
         || CAST(m_score AS VARCHAR) AS rfm
FROM s
"""
    # rollup_merge's oracle is a FULL recompute over every event —
    # hash equality proves the incremental partial-merge is lossless.
    out["rollup_merge"] = """
WITH e AS (SELECT event_type, epoch_us(ts) AS t_us, value FROM events)
SELECT (t_us - (t_us % 86400000000)) AS day_us, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM e GROUP BY 1, 2
"""
    out["hot_keys"] = """
WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key_value,
                  COUNT(*) AS n_rows
           FROM events GROUP BY 1),
t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total, COUNT(*) AS n_keys
      FROM c),
top AS (SELECT * FROM c ORDER BY n_rows DESC, key_value NULLS FIRST
        LIMIT 20)
SELECT key_value, n_rows,
       round(n_rows / total, 6) AS share,
       round((n_rows * n_keys) / total, 6) AS x_uniform,
       CAST(ROW_NUMBER() OVER (ORDER BY n_rows DESC,
                               key_value NULLS FIRST) AS INT)
         AS key_rank
FROM top CROSS JOIN t
"""
    # ---- round-9b corpus-curation breadth ----
    out["readability"] = f"""
WITH n AS (SELECT doc_id, text, {_NORM} AS norm FROM documents),
c AS (SELECT doc_id,
        CAST(CASE WHEN norm IS NULL OR length(norm) = 0 THEN 0
                  ELSE len(string_split(norm, ' ')) END AS BIGINT) AS n_words,
        CAST(COALESCE(len(regexp_extract_all(text, '[.!?]+')), 0)
             AS BIGINT) AS sent_runs,
        CAST(COALESCE(len(regexp_extract_all(lower(text), '[aeiouy]+')), 0)
             AS BIGINT) AS n_syllables
      FROM n),
s AS (SELECT doc_id, n_words,
        CASE WHEN n_words > 0 THEN greatest(sent_runs, 1)
             ELSE sent_runs END AS n_sentences,
        n_syllables FROM c)
SELECT doc_id, n_words, n_sentences, n_syllables,
  CASE WHEN n_words > 0
       THEN round(CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE), 6)
  END AS words_per_sentence,
  CASE WHEN n_words > 0
       THEN round(CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
  END AS syllables_per_word,
  CASE WHEN n_words > 0
       THEN round(206.835
                  - 1.015 * (CAST(n_words AS DOUBLE)
                             / CAST(n_sentences AS DOUBLE))
                  - 84.6 * (CAST(n_syllables AS DOUBLE)
                            / CAST(n_words AS DOUBLE)), 6)
  END AS flesch
FROM s
"""
    # entropy fold mirrors the pandas kernel: counts in sorted-char
    # order (binary collation == python codepoint sort on UTF-8),
    # shared in-container libm log2, HALF-UP round at the end
    out["char_entropy"] = """
WITH ch AS (
  SELECT doc_id, t.c
  FROM (SELECT doc_id,
               list_transform(range(1, length(text) + 1),
                              i -> substring(text, CAST(i AS INT), 1)) AS cs
        FROM documents WHERE text IS NOT NULL AND length(text) > 0),
       UNNEST(cs) AS t(c)),
cnt AS (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS k
        FROM ch GROUP BY 1, 2),
ent AS (SELECT doc_id,
               round(log2(CAST(SUM(k) AS DOUBLE))
                     - SUM(k * log2(CAST(k AS DOUBLE)) ORDER BY c)
                       / CAST(SUM(k) AS DOUBLE), 6) AS entropy,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_chars
        FROM cnt GROUP BY doc_id)
SELECT d.doc_id, e.entropy,
       COALESCE(e.n_distinct_chars, CAST(0 AS BIGINT)) AS n_distinct_chars
FROM documents d LEFT JOIN ent e ON d.doc_id = e.doc_id
"""
    _LINKY_MESSY = (
        r'''
messy AS (
  SELECT doc_id,
         '<a href="https://www.site' || CAST(doc_id % 5 AS VARCHAR)
         || '.com/p/' || CAST(doc_id AS VARCHAR) || '">'
         || COALESCE(text, '')
         || '</a><img src=__SQ__//cdn.shared.org/i.png__SQ__/><a href="/rel">r</a>'
           AS text
  FROM documents),
u AS ({URL_GRAMMAR}),
l AS (
  SELECT doc_id,
         lower(regexp_extract(t.x, {DOMAIN_RE}, 1)) AS domain
  FROM u, UNNEST(urls) AS t(x)),
f AS (SELECT doc_id, regexp_replace(domain, '^www\.', '') AS domain
      FROM l WHERE domain IS NOT NULL AND domain <> '')
'''.replace("__SQ__", chr(39) * 2)
        .replace("{URL_GRAMMAR}", _URL_GRAMMAR_SQL)
        .replace("{DOMAIN_RE}", _DOMAIN_RE_SQL)
    )
    out["link_domains"] = f"""
WITH {_LINKY_MESSY},
per AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_links,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM f GROUP BY 1),
tot AS (SELECT CAST(SUM(n_links) AS DOUBLE) AS t FROM per)
SELECT domain, n_links, n_docs,
       CAST(n_links AS DOUBLE) / t AS link_share
FROM per CROSS JOIN tot
"""
    out["filter_blocked_domains"] = f"""
WITH {_LINKY_MESSY},
bad AS (SELECT DISTINCT doc_id FROM f
        WHERE domain = 'site1.com' OR domain LIKE '%.site1.com'
           OR domain = 'site3.com' OR domain LIKE '%.site3.com')
SELECT m.doc_id, m.text, d.lang, d.source, d.n_chars
FROM messy m
JOIN documents d ON m.doc_id = d.doc_id
LEFT JOIN bad b ON m.doc_id = b.doc_id
WHERE b.doc_id IS NULL
"""
    out["zipf_fit"] = f"""
WITH occ AS (SELECT source, t.term
             FROM (SELECT source, {_TOKS} AS tk FROM documents),
                  UNNEST(tk) AS t(term)
             WHERE t.term <> ''),
c AS (SELECT source, term, COUNT(*) AS c FROM occ GROUP BY 1, 2),
v AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab_size
      FROM c GROUP BY 1),
k AS (SELECT source,
             log2(CAST(rnk AS DOUBLE)) AS x, log2(CAST(c AS DOUBLE)) AS y
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                         ORDER BY c DESC, term) AS rnk
            FROM c)
      WHERE rnk <= 500),
s AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM k GROUP BY 1)
SELECT s.source, CAST(n AS BIGINT) AS n_terms, vocab_size,
  CASE WHEN n * sxx - sx * sx > 0
       THEN round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
  END AS zipf_slope,
  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
       THEN round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                  / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
  END AS zipf_r2
FROM s JOIN v ON s.source = v.source
"""
    out["ngram_novelty"] = f"""
WITH t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, source, {_SHINGLES} AS sh FROM t),
ref AS (SELECT DISTINCT u.gram FROM s, UNNEST(sh) AS u(gram)
        WHERE source = 'src0'),
ds AS (SELECT doc_id, u.gram FROM s, UNNEST(sh) AS u(gram)
       WHERE source <> 'src0'),
per AS (SELECT ds.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN r.gram IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel
        FROM ds LEFT JOIN ref r ON ds.gram = r.gram
        GROUP BY 1)
SELECT d.doc_id,
       COALESCE(p.n_grams, CAST(0 AS BIGINT)) AS n_grams,
       COALESCE(p.n_novel, CAST(0 AS BIGINT)) AS n_novel,
       CASE WHEN COALESCE(p.n_grams, 0) > 0
            THEN CAST(p.n_novel AS DOUBLE) / CAST(p.n_grams AS DOUBLE)
       END AS novelty
FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
LEFT JOIN per p ON d.doc_id = p.doc_id
"""
    # the oracle derives curriculum_pos from the global SORT
    # definition — independently verifying the engine's arithmetic
    # (counts-fold) construction against the spec it implements
    out["curriculum_order"] = f"""
WITH q AS ({_QUALITY_SQL}),
j AS (SELECT d.doc_id, COALESCE(d.source, '') AS source, q.quality
      FROM documents d JOIN q ON d.doc_id = q.doc_id),
r AS (SELECT doc_id, source, quality,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY quality DESC, doc_id)
                  AS BIGINT) AS source_rank
      FROM j)
SELECT doc_id, source, quality, source_rank,
       CAST(ROW_NUMBER() OVER (ORDER BY source_rank, source, doc_id)
            AS BIGINT) AS curriculum_pos
FROM r
"""
    out["embedding_outliers"] = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE {_EMB_VALID}),
c AS (SELECT CAST(i.range AS INT) AS dim,
             CAST(SUM(CAST(floor(
               CAST(embedding[CAST(i.range AS INT) + 1] AS DOUBLE)
               * 1000000000.0) AS BIGINT)) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * 1000000000.0) AS mu
      FROM e CROSS JOIN range(0, 64) i GROUP BY 1),
m AS (SELECT list(mu ORDER BY dim) AS mu FROM c),
d AS (SELECT vec_id,
             sqrt(list_sum(list_transform(range(1, 65),
               i -> (CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                     - mu[CAST(i AS INT)])
                  * (CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                     - mu[CAST(i AS INT)])))) AS dist
      FROM e CROSS JOIN m)
SELECT vec_id, round(dist, 6) AS dist,
       round(percent_rank() OVER (ORDER BY dist, vec_id), 6)
         AS dist_pct_rank,
       (percent_rank() OVER (ORDER BY dist, vec_id)) >= 0.99 AS is_outlier
FROM d
"""
    # ---- round-9b wave 2: encoding damage, sentences, BPE ----
    # regex classes come from the textstats module constants — ONE
    # source for both engines (the linky-grammar lesson)
    from py_etl_pipeline_woocommerce_spark.operators.textstats import (
        _C1_RE,
        _MOJI2_RE,
        _MOJI3_RE,
    )

    out["mojibake_score"] = f"""
WITH messy AS (SELECT doc_id, '{_MOJI_SCORE_PREFIX}' || text AS text
               FROM documents),
c AS (SELECT doc_id,
        CAST(COALESCE(len(regexp_extract_all(text, '{_MOJI2_RE}')), 0)
             AS BIGINT) AS n_mojibake2,
        CAST(COALESCE(len(regexp_extract_all(text, '{_MOJI3_RE}')), 0)
             AS BIGINT) AS n_mojibake3,
        CAST(COALESCE(len(regexp_extract_all(text, '\ufffd')), 0)
             AS BIGINT) AS n_replacement,
        CAST(COALESCE(len(regexp_extract_all(text, '{_C1_RE}')), 0)
             AS BIGINT) AS n_c1_controls,
        CAST(length(text) AS BIGINT) AS n_chars
      FROM messy)
SELECT doc_id, n_mojibake2, n_mojibake3, n_replacement, n_c1_controls,
       CASE WHEN n_chars > 0
            THEN round(CAST(n_mojibake2 + n_mojibake3 + n_replacement
                            + n_c1_controls AS DOUBLE)
                       / CAST(n_chars AS DOUBLE) * 1000, 6)
       END AS mojibake_per_kchar
FROM c
"""
    # the corpus is pure ASCII (verified), so the repaired text is
    # exactly the FIXED prefix + body; the NULL branches mirror the
    # kernel's NULL contract
    out["fix_mojibake"] = f"""
SELECT doc_id,
       CASE WHEN text IS NULL THEN NULL
            ELSE '{_MOJI_FIXED_PREFIX}' || text END AS text_fixed,
       text IS NOT NULL AS changed,
       CASE WHEN text IS NULL THEN NULL
            ELSE CAST(length('{_MOJI_FIXED_PREFIX}' || text) AS BIGINT)
       END AS n_chars_fixed
FROM documents
"""
    out["split_sentences"] = f"""
WITH messy AS (SELECT doc_id,
                      '{_SENT_PREFIX}' || text || '{_SENT_SUFFIX}' AS text
               FROM documents),
s AS (SELECT doc_id, string_split_regex(text, '[.!?]+') AS segs
      FROM messy WHERE text IS NOT NULL),
e AS (SELECT doc_id, g.i AS raw_pos,
             regexp_replace(segs[g.i],
                            '^[ \\t\\n\\f\\r]+|[ \\t\\n\\f\\r]+$',
                            '', 'g') AS sentence
      FROM s, UNNEST(generate_series(1, len(segs))) AS g(i))
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY raw_pos) - 1
            AS BIGINT) AS sent_pos,
       sentence,
       CAST(length(sentence) AS BIGINT) AS n_chars_sent
FROM e WHERE length(sentence) > 0
"""
    out["bpe_merge_candidates"] = f"""
WITH occ AS (SELECT t.term AS token
             FROM (SELECT {_TOKS} AS tk FROM documents),
                  UNNEST(tk) AS t(term)
             WHERE t.term <> ''),
v AS (SELECT token, COUNT(*) AS tok_count FROM occ GROUP BY 1),
p AS (SELECT tok_count, u.pair
      FROM (SELECT tok_count,
                   list_transform(range(1, length(token)),
                                  i -> substring(token, CAST(i AS INT), 2))
                     AS prs
            FROM v),
           UNNEST(prs) AS u(pair)),
a AS (SELECT pair, CAST(SUM(tok_count) AS BIGINT) AS n_occurrences
      FROM p GROUP BY 1),
top AS (SELECT * FROM a ORDER BY n_occurrences DESC, pair LIMIT 50)
SELECT substring(pair, 1, 1) AS "left", substring(pair, 2, 1) AS "right",
       n_occurrences,
       CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, pair) AS INT)
         AS pair_rank
FROM top
"""
    # anchor grammar shared from the textstats constant (ONE source);
    # single quotes in the SQL literal doubled
    from py_etl_pipeline_woocommerce_spark.operators.textstats import (
        _ANCHOR_RE,
    )

    _anchor_re_sql = _ANCHOR_RE.replace(chr(39), chr(39) * 2)
    _decode_sql = (
        "replace(replace(replace(replace(replace(replace({X}, "
        "'&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), "
        "'&quot;', '\"'), '&#39;', chr(39)), '&amp;', '&')"
    )
    _url_clean = _decode_sql.replace(
        "{X}",
        "CASE WHEN x[1:1] IN ('\"', chr(39)) THEN x[2:len(x)-1] ELSE x END",
    )
    _lbl_clean = (
        "regexp_replace(regexp_replace("
        + _decode_sql.replace("{X}", "x")
        + ", '[ \\t\\n\\f\\r]+', ' ', 'g'), '^ +| +$', '', 'g')"
    )
    out["anchor_texts"] = f"""
WITH messy AS (
  SELECT doc_id,
         '<a href="https://www.site' || CAST(doc_id % 5 AS VARCHAR)
         || '.com/p/' || CAST(doc_id AS VARCHAR) || '">t &amp; '
         || COALESCE(text, '')
         || '</a> <a href=' || chr(39) || '//cdn.x.org/i' || chr(39)
         || ' rel=nofollow>' || chr(9) || 'pad  label' || chr(10)
         || '</a><a href=/un?a=1&amp;b=2>u</a>'
         || '<a href="/rel">nested <b>x</b></a>' AS text
  FROM documents),
u AS (SELECT doc_id,
             list_transform(
               regexp_extract_all(text, '{_anchor_re_sql}', 1),
               x -> {_url_clean}) AS urls,
             list_transform(
               regexp_extract_all(text, '{_anchor_re_sql}', 2),
               x -> {_lbl_clean}) AS labels
      FROM messy WHERE text IS NOT NULL)
SELECT doc_id, CAST(g.i AS BIGINT) - 1 AS link_pos,
       urls[g.i] AS url, labels[g.i] AS anchor_text
FROM u, UNNEST(generate_series(1, len(urls))) AS g(i)
"""
    out["skipgram_pairs"] = f"""
WITH t AS (SELECT {_TOKS} AS toks FROM documents),
p AS (SELECT u.pair
      FROM (SELECT flatten(list_transform(
                     range(1, greatest(len(toks) - 1, 0) + 1),
                     i -> list_transform(
                       range(1, least(2, len(toks) - i) + 1),
                       j -> toks[CAST(i AS INT)] || ' '
                            || toks[CAST(i + j AS INT)]))) AS prs
            FROM t),
           UNNEST(prs) AS u(pair)
      WHERE NOT regexp_matches(u.pair, '^ | $|^$')),
a AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM p GROUP BY 1),
top AS (SELECT * FROM a ORDER BY n_pairs DESC, pair LIMIT 50)
SELECT split_part(pair, ' ', 1) AS center,
       split_part(pair, ' ', 2) AS context,
       n_pairs,
       CAST(ROW_NUMBER() OVER (ORDER BY n_pairs DESC, pair) AS INT)
         AS pair_rank
FROM top
"""
    out["purge_digest"] = """
WITH kept AS (SELECT * FROM orders WHERE o_orderkey % 97 <> 0),
aud AS (SELECT CAST(COUNT(*) AS BIGINT) AS rows_purged,
               CAST(COUNT(DISTINCT strftime(CAST(o_orderdate AS DATE),
                                            '%Y-%m')) AS BIGINT)
                 AS partitions_rewritten
        FROM orders WHERE o_orderkey % 97 = 0)
SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS order_month,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(SUM(o_totalprice), 2) AS total_sum,
       aud.rows_purged, aud.partitions_rewritten
FROM kept, aud
GROUP BY 1, aud.rows_purged, aud.partitions_rewritten
"""
    out["export_shards_digest"] = """
SELECT 'lang=' || COALESCE(lang, '__HIVE_DEFAULT_PARTITION__')
         AS partition_dir,
       CAST(CEIL(COUNT(*) / 40.0) AS BIGINT) AS n_shards,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM documents GROUP BY 1
"""
    out["zorder_digest"] = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
            AS DOUBLE) AS price_sum,
       CAST(SUM(o_custkey) AS BIGINT) AS cust_sum,
       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
FROM orders GROUP BY 1
"""
    out["cdc_store_digest"] = """
WITH chg AS (
  SELECT o_orderkey AS order_id, o_orderstatus AS status,
         CAST(o_totalprice AS DECIMAL(18,2)) AS total, 0 AS seq, 'I' AS op
  FROM orders
  UNION ALL
  SELECT o_orderkey, 'updated', CAST(o_totalprice AS DECIMAL(18,2)), 2, 'U'
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, 'gone', CAST(0 AS DECIMAL(18,2)), 3, 'D'
  FROM orders WHERE o_orderkey % 13 = 0
  UNION ALL
  SELECT o_orderkey + 100000000, 'new',
         CAST(o_totalprice AS DECIMAL(18,2)), 1, 'I'
  FROM orders WHERE o_orderkey % 11 = 0),
net AS (SELECT * FROM (
  SELECT *, row_number() OVER (PARTITION BY order_id
                               ORDER BY seq DESC, op DESC) AS rn
  FROM chg) WHERE rn = 1)
SELECT status, (op = 'D') AS deleted,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(order_id) AS BIGINT) AS key_sum,
       CAST(CAST(SUM(total) AS DECIMAL(18,2)) AS DOUBLE) AS total_sum,
       CAST(MAX(seq) AS BIGINT) AS max_seq
FROM net GROUP BY 1, 2
"""
    out["first_seen_digest"] = """
WITH f AS (SELECT user_id, MIN(epoch_us(ts) // 86400000000) AS day_idx
           FROM events WHERE user_id IS NOT NULL GROUP BY 1)
SELECT day_idx * 86400000000 AS first_day_us,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(user_id) AS BIGINT) AS user_sum,
       CAST(MIN(user_id) AS BIGINT) AS min_user,
       CAST(MAX(user_id) AS BIGINT) AS max_user
FROM f GROUP BY 1
"""
    out["line_index_digest"] = f"""
WITH tkA AS (SELECT doc_id, list_filter({_TOKS}, t -> t <> '') AS toks
             FROM documents WHERE doc_id % 2 = 0),
lnA AS (SELECT doc_id, CAST(g.i AS BIGINT) AS pos,
               array_to_string(toks[(g.i*8+1):(g.i*8+8)], ' ') AS line
        FROM tkA,
             UNNEST(generate_series(
               0, CAST(ceil(len(toks)/8.0) AS BIGINT) - 1)) AS g(i)
        WHERE len(toks) > 0),
dfA AS (SELECT line, COUNT(DISTINCT doc_id) AS sdf
        FROM lnA WHERE line <> '' GROUP BY 1),
tk AS (SELECT doc_id, list_filter({_TOKS}, t -> t <> '') AS toks
       FROM documents WHERE doc_id % 2 = 1),
ln AS (SELECT doc_id, CAST(g.i AS BIGINT) AS pos,
              array_to_string(toks[(g.i*8+1):(g.i*8+8)], ' ') AS line
       FROM tk,
            UNNEST(generate_series(
              0, CAST(ceil(len(toks)/8.0) AS BIGINT) - 1)) AS g(i)
       WHERE len(toks) > 0),
dfB AS (SELECT line, COUNT(DISTINCT doc_id) AS bdf
        FROM ln WHERE line <> '' GROUP BY 1),
common AS (SELECT dfB.line FROM dfB LEFT JOIN dfA USING (line)
           WHERE COALESCE(sdf, 0) + bdf >= 2),
kept AS (SELECT ln.doc_id, ln.pos, ln.line FROM ln
         ANTI JOIN common USING (line)
         WHERE ln.line <> ''),
reb AS (SELECT doc_id,
               string_agg(line, chr(10) ORDER BY pos) AS clean_text,
               CAST(COUNT(*) AS BIGINT) AS n_lines_kept
        FROM kept GROUP BY doc_id),
n AS (SELECT doc_id,
             CAST(ceil(len(toks)/8.0) AS BIGINT) AS _n
      FROM tk WHERE len(toks) > 0)
SELECT n.doc_id, COALESCE(clean_text, '') AS clean_text,
       COALESCE(n_lines_kept, 0) AS n_lines_kept,
       _n - COALESCE(n_lines_kept, 0) AS n_lines_removed
FROM n LEFT JOIN reb USING (doc_id)
"""
    # the stored-index near-dup path must equal the direct operator on
    # the same split — the oracle is dedup_incremental_near's verbatim
    # pairwise-verify oracles not wrapped at their dict literal: the
    # sample-knob rewrite applies here, before the lsh digest copies
    # dedup_incremental_near's text
    out["dedup_incremental_near"] = _doc_sample_cte(
        out["dedup_incremental_near"]
    )
    out["doc_similarity_topk"] = _doc_sample_cte(out["doc_similarity_topk"])
    out["semdedup_apply"] = _doc_sample_cte(
        out["semdedup_apply"], table="embeddings", key="vec_id"
    )
    out["embedding_cosine_dup"] = _doc_sample_cte(
        out["embedding_cosine_dup"], table="embeddings", key="vec_id"
    )
    out["lsh_index_digest"] = out["dedup_incremental_near"]
    # streaming digest twins (r12): the batch gap rule / LAG pairing
    # over (event-time, event_id) — the exact fold a fully-consumed,
    # time-ordered stream performs (see the _q_* docstrings)
    out["sessionize_stream_digest"] = """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
           FROM events
           WHERE ts IS NOT NULL AND user_id IS NOT NULL
             AND event_id IS NOT NULL),
tagged AS (
  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
                   OR ts_us - lag(ts_us) OVER w > 1800000000
                 THEN 1 ELSE 0 END AS new_sess
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
sess AS (
  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id
                                     ORDER BY ts_us, event_id
                                     ROWS UNBOUNDED PRECEDING) - 1
            AS BIGINT) AS session_seq
  FROM tagged),
s AS (SELECT user_id, session_seq, COUNT(*) AS n_events,
             MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
             SUM(CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2))) AS total_value
      FROM sess GROUP BY 1, 2),
f AS (SELECT *, session_seq < MAX(session_seq)
                  OVER (PARTITION BY user_id) AS closed
      FROM s)
SELECT session_seq, closed,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS events_sum,
       CAST(SUM(user_id) AS BIGINT) AS user_sum,
       CAST(MIN(start_us) AS BIGINT) AS min_start_us,
       CAST(MAX(end_us) AS BIGINT) AS max_end_us,
       CAST(SUM(total_value) AS DOUBLE) AS value_sum
FROM f GROUP BY 1, 2
"""
    out["transitions_stream_digest"] = """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t_us, event_type
           FROM events
           WHERE ts IS NOT NULL AND user_id IS NOT NULL
             AND event_id IS NOT NULL),
p AS (SELECT user_id, lag(event_type) OVER w AS from_type,
             event_type AS to_type,
             t_us - lag(t_us) OVER w AS gap_us
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id))
SELECT from_type, to_type,
       CAST(COUNT(*) AS BIGINT) AS n_transitions,
       CAST(SUM(gap_us) AS BIGINT) AS gap_us_sum,
       CAST(SUM(user_id) AS BIGINT) AS user_sum
FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2
"""
    out["ann_recall_audit"] = f"""
WITH exact AS ({out["ann_topk"]}),
approx AS ({out["ann_lsh_topk"]}),
pq AS (SELECT query_id, COUNT(*) AS n_exact FROM exact GROUP BY 1),
hq AS (SELECT e.query_id, COUNT(*) AS n_hits
       FROM exact e JOIN approx a USING (query_id, neighbor_id)
       GROUP BY 1),
per AS (SELECT pq.query_id, n_exact, COALESCE(hq.n_hits, 0) AS n_hits
        FROM pq LEFT JOIN hq USING (query_id))
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(n_exact) AS BIGINT) AS n_exact_pairs,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM approx) AS n_lsh_pairs,
       CAST(SUM(n_hits) AS BIGINT) AS n_hits,
       ROUND(CAST(SUM(n_hits) AS DOUBLE) / SUM(n_exact), 6)
         AS overall_recall,
       ROUND(MIN(CAST(n_hits AS DOUBLE) / n_exact), 6)
         AS min_query_recall
FROM per
"""
    def _tune_candidate_sql(idx, n_planes, n_probe):
        n_buckets = 1 + n_planes + n_planes * (n_planes - 1) // 2
        frac = round(min(n_probe, n_buckets) / float(2 ** n_planes), 6)
        return f"""
a{idx} AS ({_lsh_topk_sql(n_planes, n_probe)}),
m{idx} AS (
  SELECT CAST({n_planes} AS INT) AS n_planes,
         CAST({n_probe} AS INT) AS n_probe,
         CAST({frac} AS DOUBLE) AS expected_scan_frac,
         CAST(SUM(n_exact) AS BIGINT) AS n_exact_pairs,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM a{idx}) AS n_lsh_pairs,
         CAST(SUM(n_hits) AS BIGINT) AS n_hits,
         ROUND(CAST(SUM(n_hits) AS DOUBLE) / SUM(n_exact), 6)
           AS overall_recall,
         ROUND(MIN(CAST(n_hits AS DOUBLE) / n_exact), 6)
           AS min_query_recall
  FROM (SELECT pq.query_id, n_exact, COALESCE(h.n_hits, 0) AS n_hits
        FROM pq LEFT JOIN
             (SELECT query_id, COUNT(*) AS n_hits
              FROM ex JOIN a{idx} USING (query_id, neighbor_id)
              GROUP BY 1) h USING (query_id)))"""

    from py_etl_pipeline_woocommerce_spark.operators.similarity import (
        DEFAULT_TUNE_CANDIDATES,
    )

    _tune_parts = [
        _tune_candidate_sql(i, p, pr)
        for i, (p, pr) in enumerate(DEFAULT_TUNE_CANDIDATES)
    ]
    _tune_union = "\n  UNION ALL\n  ".join(
        f"SELECT * FROM m{i}" for i in range(len(DEFAULT_TUNE_CANDIDATES))
    )
    out["ann_tune_geometry"] = f"""
WITH ex AS ({out["ann_topk"]}),
pq AS (SELECT query_id, COUNT(*) AS n_exact FROM ex GROUP BY 1),
{",".join(_tune_parts)},
allm AS (
  {_tune_union})
SELECT n_planes, n_probe, expected_scan_frac, n_exact_pairs,
       n_lsh_pairs, n_hits, overall_recall, min_query_recall,
       (ROW_NUMBER() OVER (ORDER BY
          (overall_recall >= 0.6) DESC,
          CASE WHEN overall_recall >= 0.6 THEN expected_scan_frac
               ELSE -overall_recall END ASC,
          CASE WHEN overall_recall >= 0.6 THEN -overall_recall
               ELSE expected_scan_frac END ASC,
          n_planes, n_probe) = 1) AS chosen
FROM allm
"""
    # fit-then-serve: every candidate's serve output (a{{i}} IS the
    # lsh top-k at that geometry) tagged with its geometry, joined to
    # the tune sweep's chosen row — the SQL twin of collect-the-chosen
    # then serve. Same candidate list, same selection ordering.
    _serve_union = "\n  UNION ALL\n  ".join(
        f"SELECT CAST({p} AS INT) AS n_planes, CAST({pr} AS INT) AS "
        f"n_probe, query_id, neighbor_id, knn_rank FROM a{i}"
        for i, (p, pr) in enumerate(DEFAULT_TUNE_CANDIDATES)
    )
    out["ann_serve_tuned"] = f"""
WITH ex AS ({out["ann_topk"]}),
pq AS (SELECT query_id, COUNT(*) AS n_exact FROM ex GROUP BY 1),
{",".join(_tune_parts)},
allm AS (
  {_tune_union}),
ch AS (SELECT n_planes, n_probe FROM allm
       QUALIFY ROW_NUMBER() OVER (ORDER BY
          (overall_recall >= 0.6) DESC,
          CASE WHEN overall_recall >= 0.6 THEN expected_scan_frac
               ELSE -overall_recall END ASC,
          CASE WHEN overall_recall >= 0.6 THEN -overall_recall
               ELSE expected_scan_frac END ASC,
          n_planes, n_probe) = 1),
serves AS (
  {_serve_union})
SELECT query_id, neighbor_id, knn_rank
FROM serves JOIN ch USING (n_planes, n_probe)
"""
    out["bpe_merge_table"] = _bpe_merge_table_sql(8)
    out["bpe_segment_vocab"] = _bpe_rounds_sql(8) + """
SELECT token, list_aggr(syms, 'string_agg', chr(31)) AS segmentation,
       CAST(len(syms) AS BIGINT) AS n_symbols
FROM v8
"""
    out["bpe_token_count"] = _bpe_token_count_sql(8)
    return out
