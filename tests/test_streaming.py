"""Structured Streaming pipeline: watermarked windowed agg over a
file-source event stream, foreachBatch delete+insert upsert — the
streaming twin of the reference's incremental poll loop (run.py:140).
Memory-bounded via watermark; verified against the batch operator on
the same data.
"""

from __future__ import annotations

import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from py_etl_pipeline_woocommerce_spark.operators.events import event_window_agg
from py_etl_pipeline_woocommerce_spark.streaming.pipeline import (
    run_stream_to_upsert,
    windowed_event_agg,
)

HOUR_NS = 3_600_000_000_000


def _write_events(path, rows):
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.int64()),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(['{"k": 1}'] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, path)


@pytest.fixture()
def stream_dirs(tmp_path):
    src = tmp_path / "events_src"
    src.mkdir()
    ckpt = tmp_path / "ckpt"
    yield str(src), str(ckpt)
    shutil.rmtree(tmp_path, ignore_errors=True)


def test_stream_matches_batch_agg(spark, stream_dirs):
    src, ckpt = stream_dirs
    base = 1_600_000_000_000_000_000  # epoch-ns, hour-aligned? not necessarily
    rows = [
        (1, base, 10, "click", 1.5),
        (2, base + 60 * 1_000_000_000, 11, "click", 2.5),
        (3, base + HOUR_NS, 12, "view", 4.0),
        (4, base + HOUR_NS + 10, 13, "click", 8.0),
    ]
    _write_events(f"{src}/part-0.parquet", rows)

    query, upserter = run_stream_to_upsert(spark, src, ckpt)
    try:
        query.processAllAvailable()
    finally:
        query.stop()

    # batch twin over the same file
    batch = event_window_agg(spark.read.parquet(src))
    expected = {
        (r["window_start_us"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in batch.collect()
    }
    got = {
        (int(k[0].timestamp() * 1_000_000), k[1]): (
            v["n_events"],
            v["total_value"],
        )
        for k, v in upserter.rows.items()
    }
    assert got == expected
    assert upserter.batches_seen >= 1


def test_stream_upsert_overwrites_on_new_data(spark, stream_dirs):
    """A second file landing in the same window must replace the
    window's row (delete+insert), not duplicate it."""
    src, ckpt = stream_dirs
    base = 1_600_000_000_000_000_000
    _write_events(f"{src}/part-0.parquet", [(1, base, 10, "click", 1.0)])

    query, upserter = run_stream_to_upsert(spark, src, ckpt)
    try:
        query.processAllAvailable()
        assert len(upserter.rows) == 1
        first = next(iter(upserter.rows.values()))
        assert first["n_events"] == 1

        _write_events(
            f"{src}/part-1.parquet", [(2, base + 1000, 11, "click", 2.0)]
        )
        query.processAllAvailable()
    finally:
        query.stop()

    assert len(upserter.rows) == 1  # same (window, type) key
    updated = next(iter(upserter.rows.values()))
    assert updated["n_events"] == 2
    assert updated["total_value"] == pytest.approx(3.0)


def test_watermark_drops_too_late_rows(spark, stream_dirs):
    """Rows older than watermark behind the max seen event time are
    dropped — bounded state, the scale guarantee."""
    src, ckpt = stream_dirs
    base = 1_600_000_000_000_000_000
    # first batch advances event-time clock far ahead
    _write_events(f"{src}/part-0.parquet", [(1, base + 10 * HOUR_NS, 1, "click", 1.0)])

    agg = windowed_event_agg(
        spark.readStream.schema(
            spark.read.parquet(src).schema
        ).option("maxFilesPerTrigger", "1").parquet(src),
        watermark="2 hours",
    )
    query = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("wm_test")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        query.processAllAvailable()
        # late row: 10h behind max event time, > 2h watermark
        _write_events(f"{src}/part-1.parquet", [(2, base, 1, "late", 1.0)])
        query.processAllAvailable()
        types = {
            r["event_type"]
            for r in spark.sql("select event_type from wm_test").collect()
        }
    finally:
        query.stop()
    assert "click" in types
    assert "late" not in types


def test_stateful_sessionize_stream_across_batches(spark, stream_dirs):
    """Session state must survive micro-batch boundaries: a continuation
    within the gap extends the session; a later event past the gap
    closes it and starts session_seq+1."""
    from py_etl_pipeline_woocommerce_spark.streaming.sessions import (
        sessionize_stream,
    )

    src, ckpt = stream_dirs
    base = 1_700_000_000_000_000_000  # epoch ns
    MIN_NS = 60 * 1_000_000_000
    # batch 1: two events 5 min apart (one session)
    _write_events(
        f"{src}/b0.parquet",
        [(1, base, 7, "click", 1.0), (2, base + 5 * MIN_NS, 7, "view", 2.0)],
    )
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).option("maxFilesPerTrigger", "1").parquet(src)
    query = (
        sessionize_stream(stream, gap_minutes=30)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("sess_test")
        .option("checkpointLocation", ckpt)
        .start()
    )
    # NOTE: processAllAvailable() never returns under
    # ProcessingTimeTimeout (the timeout timer keeps the engine busy),
    # so poll the memory sink with a deadline instead.
    def wait_rows(pred):
        from tests.conftest import memory_sink_poll

        return memory_sink_poll(spark, query, "sess_test", pred)

    try:
        wait_rows(lambda rows: len(rows) >= 1)
        # batch 2: continuation (10 min later) then a >30min gap event
        _write_events(
            f"{src}/b1.parquet",
            [
                (3, base + 15 * MIN_NS, 7, "click", 4.0),
                (4, base + 80 * MIN_NS, 7, "purchase", 8.0),
            ],
        )
        rows = wait_rows(lambda rows: any(r["closed"] for r in rows))
    finally:
        query.stop()

    closed = [r for r in rows if r["closed"]]
    assert len(closed) == 1
    c = closed[0]
    # first session: events 1,2 from batch1 + 3 from batch2 (state carried)
    assert c["session_seq"] == 0 and c["n_events"] == 3
    assert c["start_us"] == base // 1000
    assert c["end_us"] == (base + 15 * MIN_NS) // 1000
    assert c["total_value"] == pytest.approx(7.0)
    # open second session emitted as update
    open_last = [
        r for r in rows if not r["closed"] and r["session_seq"] == 1
    ]
    assert open_last and open_last[-1]["n_events"] == 1


def test_streaming_dedup_across_batches(spark, stream_dirs):
    """Duplicate event_ids re-sent in a later micro-batch are dropped
    while the key is inside the watermark horizon."""
    from py_etl_pipeline_woocommerce_spark.streaming.pipeline import (
        read_event_stream,
        streaming_dedup,
    )

    src, ckpt = stream_dirs
    _write_events(f"{src}/b1.parquet", [
        (1, 1 * HOUR_NS, 10, "click", 1.0),
        (2, 1 * HOUR_NS + 10, 11, "view", 2.0),
    ])
    _write_events(f"{src}/b2.parquet", [
        (2, 1 * HOUR_NS + 10, 11, "view", 2.0),   # duplicate
        (3, 2 * HOUR_NS, 12, "purchase", 3.0),
    ])
    deduped = streaming_dedup(read_event_stream(spark, src, max_files_per_trigger=1))
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        ids = sorted(
            r.event_id for r in spark.sql("SELECT event_id FROM dedup_sink").collect()
        )
        assert ids == [1, 2, 3]
    finally:
        q.stop()


def test_streaming_session_window_matches_batch(spark, stream_dirs):
    from py_etl_pipeline_woocommerce_spark.operators.events import (
        session_window_agg,
    )
    from py_etl_pipeline_woocommerce_spark.sources.schemas import EVENTS_SCHEMA
    from py_etl_pipeline_woocommerce_spark.streaming.pipeline import (
        streaming_session_agg,
    )

    src, ckpt = stream_dirs
    base = 1_600_000_000_000_000_000  # epoch ns
    MIN_NS = 60 * 1_000_000_000
    rows = [
        # user 10: two sessions (40-minute gap splits at 30m)
        (1, base, 10, "click", 1.0),
        (2, base + 10 * MIN_NS, 10, "view", 2.0),
        (3, base + 50 * MIN_NS, 10, "click", 4.0),
        # user 11: one session
        (4, base + 5 * MIN_NS, 11, "view", 8.0),
    ]
    _write_events(f"{src}/part-0.parquet", rows)

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sessions = streaming_session_agg(stream)
    query = (
        sessions.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_sessions")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()

    got = {
        (r["user_id"], r["start_us"]): (r["end_us"], r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM stream_sessions").collect()
    }
    batch = {
        (r["user_id"], r["start_us"]): (r["end_us"], r["n_events"], r["total_value"])
        for r in session_window_agg(spark.read.parquet(src)).collect()
    }
    assert got == batch
    assert len(got) == 3  # user 10 split into two sessions + user 11


def test_streaming_quality_gate_matches_batch(spark, stream_dirs, tmp_path):
    """The stateless doc-quality expressions (gopher_rules) run
    UNCHANGED on a Structured Streaming frame — the "score documents
    as they land" ingest gate: pure projections need no watermark, no
    state store, and produce bit-identical rows to the batch run."""
    from py_etl_pipeline_woocommerce_spark.operators.textstats import (
        gopher_rules,
    )

    src = tmp_path / "docs_src"
    src.mkdir()
    rows = {
        "doc_id": [1, 2, 3],
        "text": [
            "the quick brown fox and that dog have fun with everyone " * 6,
            "tiny doc only",
            "- bullet one\n- bullet two\nthe rest of that line with have",
        ],
        "lang": ["en"] * 3,
        "source": ["s"] * 3,
        "n_chars": [10, 10, 10],
    }
    tbl = pa.table(
        {
            "doc_id": pa.array(rows["doc_id"], pa.int64()),
            "text": pa.array(rows["text"], pa.string()),
            "lang": pa.array(rows["lang"], pa.string()),
            "source": pa.array(rows["source"], pa.string()),
            "n_chars": pa.array(rows["n_chars"], pa.int64()),
        }
    )
    pq.write_table(tbl, f"{src}/part-0.parquet")

    batch_df = spark.read.parquet(str(src))
    expected = {
        r.doc_id: r for r in gopher_rules(batch_df).collect()
    }

    stream = spark.readStream.schema(batch_df.schema).parquet(str(src))
    gated = gopher_rules(stream)
    assert gated.isStreaming
    q = (
        gated.writeStream.format("memory")
        .queryName("gate_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.doc_id: r for r in spark.sql("SELECT * FROM gate_sink").collect()
        }
    finally:
        q.stop()
    assert set(got) == set(expected)
    for d, exp in expected.items():
        assert got[d].asDict() == exp.asDict()


def test_streaming_dau_sketch_matches_batch(spark, stream_dirs):
    """Streaming HLL DAU: identical estimator + rsd as the batch op ->
    identical per-day estimates on the same rows."""
    from py_etl_pipeline_woocommerce_spark.streaming.pipeline import (
        streaming_daily_active_sketch,
        with_event_time,
    )

    src, _ = stream_dirs
    day_ns = 86_400_000_000_000
    rows = [
        (i, (i % 2) * day_ns + i * 1_000_000_000, 100 + (i % 7), "click", 1.0)
        for i in range(40)
    ]
    _write_events(f"{src}/part-0.parquet", rows)

    batch_df = spark.read.parquet(src)
    expected = {
        r.day_start: (r.approx_users, r.n_events)
        for r in streaming_daily_active_sketch(batch_df).collect()
    }
    assert len(expected) == 2
    # ...and against the ACTUAL batch op, not just the streaming
    # function on a batch frame: same estimator + same DEFAULT rsd
    # (they diverged at 0.02 vs 0.05 once) => identical estimates
    from py_etl_pipeline_woocommerce_spark.operators.temporal import (
        daily_active_users_approx,
    )

    batch_op = {
        r.day_us: (r.approx_users, r.n_events)
        for r in daily_active_users_approx(batch_df).collect()
    }
    import calendar

    streaming_as_us = {
        calendar.timegm(d.timetuple()) * 1_000_000: v
        for d, v in expected.items()
    }
    assert streaming_as_us == batch_op

    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    q = (
        streaming_daily_active_sketch(stream)
        .writeStream.format("memory")
        .queryName("dau_sink")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.day_start: (r.approx_users, r.n_events)
            for r in spark.sql("SELECT * FROM dau_sink").collect()
        }
    finally:
        q.stop()
    assert got == expected


def test_streaming_outlier_scoring_with_offline_baseline(spark, stream_dirs):
    """The stateless score-online outlier expression runs unchanged on
    a stream against an offline med/MAD baseline (no watermark, no
    state) and flags exactly what the batch op flags."""
    from py_etl_pipeline_woocommerce_spark.operators.temporal import (
        score_outliers_with_baseline,
        value_outlier_baseline,
        value_outliers_mad,
    )

    src, _ = stream_dirs
    rows = [
        (i, i * 1_000_000_000, 1, "buy", v)
        for i, v in enumerate([1.0, 2.0, 3.0, 4.0, 100.0, -50.0])
    ]
    _write_events(f"{src}/part-0.parquet", rows)
    batch_df = spark.read.parquet(src)
    baseline = value_outlier_baseline(batch_df)
    expected = sorted(
        r.event_id for r in value_outliers_mad(batch_df).collect()
    )

    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    scored = score_outliers_with_baseline(stream, baseline)
    assert scored.isStreaming
    q = (
        scored.writeStream.format("memory")
        .queryName("outlier_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            r.event_id
            for r in spark.sql("SELECT event_id FROM outlier_sink").collect()
        )
    finally:
        q.stop()
    assert got == expected


def test_streaming_rollup_merge_matches_batch_store(spark, stream_dirs, tmp_path):
    from py_etl_pipeline_woocommerce_spark.streaming.pipeline import (
        run_stream_rollup_merge,
    )
    from py_etl_pipeline_woocommerce_spark.operators.warehouse import (
        merge_rollup_store,
    )

    src, ckpt = stream_dirs
    day_ns = 86_400_000_000_000
    base = 1_700_006_400_000_000_000  # 2023-11-15 UTC, mid-month
    rows_a = [
        (1, base, 10, "click", 1.5),
        (2, base + 60 * 1_000_000_000, 11, "click", 2.5),
        (3, base + day_ns, 12, "view", 4.0),
    ]
    rows_b = [
        (4, base + 10, 13, "click", 8.0),  # late row, same day as batch A
        (5, base + 40 * day_ns, 14, "view", 3.0),  # next month
    ]
    _write_events(f"{src}/part-0.parquet", rows_a)
    _write_events(f"{src}/part-1.parquet", rows_b)

    store_stream = str(tmp_path / "rollup_stream")
    query, sink = run_stream_rollup_merge(spark, src, ckpt, store_stream)
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    assert sink.batches_seen >= 1

    # batch twin: two sequential drops through the SAME merge code
    store_batch = str(tmp_path / "rollup_batch")
    all_events = spark.read.parquet(src)
    # the direct path releases what it pins, into an empty store and
    # into an existing one (no new persistent RDD id; ids, not counts,
    # so a freed leftover of an earlier test hides nothing)
    jsc = spark.sparkContext._jsc
    pins = set(jsc.getPersistentRDDs().keySet())
    merge_rollup_store(spark, store_batch, all_events.filter("event_id <= 3"))
    assert set(jsc.getPersistentRDDs().keySet()) <= pins
    merge_rollup_store(spark, store_batch, all_events.filter("event_id > 3"))
    assert set(jsc.getPersistentRDDs().keySet()) <= pins

    key = lambda r: (r["day_us"], r["event_type"])
    got = {key(r): r for r in spark.read.parquet(store_stream).collect()}
    want = {key(r): r for r in spark.read.parquet(store_batch).collect()}
    assert got.keys() == want.keys()
    for k in want:
        assert got[k]["n_events"] == want[k]["n_events"]
        assert got[k]["total_value_dec"] == want[k]["total_value_dec"]
    # the late row folded into the stored day: 3 click events on day 0
    d0 = (base // 1_000 - (base // 1_000) % 86_400_000_000, "click")
    assert want[d0]["n_events"] == 3

    # incremental merge touches ONLY the batch's months
    import glob as _glob
    import os as _os

    nov = _glob.glob(f"{store_batch}/month=2023-11/*.parquet")
    assert nov
    before = {f: _os.path.getmtime(f) for f in nov}
    extra = spark.createDataFrame(
        [(9, base + 41 * day_ns, 15, "click", 1.0, "{}")],
        "event_id long, ts long, user_id long, event_type string, value double, props string",
    )
    merge_rollup_store(spark, store_batch, extra)
    after = {f: _os.path.getmtime(f) for f in _glob.glob(f"{store_batch}/month=2023-11/*.parquet")}
    assert after == before


def test_stateful_transitions_stream_across_batches(spark, stream_dirs):
    """The 'previous event' must survive micro-batch boundaries: the
    first event of batch 2 forms a transition with the LAST event of
    batch 1 — the pair a per-batch window would silently drop. The
    emitted multiset must equal the batch operator's pair multiset."""
    from py_etl_pipeline_woocommerce_spark.operators.events import (
        event_transitions,
    )
    from py_etl_pipeline_woocommerce_spark.streaming.transitions import (
        transitions_stream,
    )

    src, ckpt = stream_dirs
    base = 1_700_000_000_000_000_000
    MIN_NS = 60 * 1_000_000_000
    _write_events(
        f"{src}/b0.parquet",
        [(1, base, 7, "view", 1.0), (2, base + MIN_NS, 7, "click", 2.0)],
    )
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).option("maxFilesPerTrigger", "1").parquet(src)
    query = (
        transitions_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("trans_test")
        .option("checkpointLocation", ckpt)
        .start()
    )

    def wait_rows(pred):
        from tests.conftest import memory_sink_poll

        return memory_sink_poll(spark, query, "trans_test", pred)

    try:
        wait_rows(lambda rows: len(rows) >= 1)
        _write_events(
            f"{src}/b1.parquet",
            [
                (3, base + 2 * MIN_NS, 7, "purchase", 4.0),  # cross-batch pair
                (4, base + 3 * MIN_NS, 8, "view", 1.0),  # lone event, no pair
            ],
        )
        rows = wait_rows(lambda rows: len(rows) >= 2)
    finally:
        query.stop()

    got = sorted((r["from_type"], r["to_type"], r["gap_us"]) for r in rows)
    assert ("click", "purchase", 60_000_000) in got  # crossed the batch line
    # parity with the batch operator over the union of both files
    batch_pairs = sorted(
        (r["from_type"], r["to_type"])
        for r in event_transitions(spark.read.parquet(src)).collect()
        for _ in range(r["n_transitions"])
    )
    assert sorted((a, b) for a, b, _ in got) == batch_pairs


def test_liveness_gaps_stream_detects_cross_batch_outage(spark, stream_dirs):
    """An outage usually IS a micro-batch boundary: the last event of
    batch 1 and the first event of batch 2 bound the silence. The
    emitted gap set must equal the batch time_gaps over the union."""
    from py_etl_pipeline_woocommerce_spark.operators.temporal import time_gaps
    from py_etl_pipeline_woocommerce_spark.streaming.liveness import gaps_stream

    src, ckpt = stream_dirs
    base = 1_700_000_000_000_000_000
    MIN_NS = 60 * 1_000_000_000
    GAP_US = 5 * 60 * 1_000_000  # flag silences > 5 minutes
    _write_events(
        f"{src}/b0.parquet",
        [
            (1, base, 7, "hb", 1.0),
            (2, base + MIN_NS, 7, "hb", 1.0),  # 1 min: quiet, no gap
        ],
    )
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).option("maxFilesPerTrigger", "1").parquet(src)
    query = (
        gaps_stream(stream, min_gap_us=GAP_US)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("gaps_test")
        .option("checkpointLocation", ckpt)
        .start()
    )

    def wait(pred):
        from tests.conftest import memory_sink_poll

        return memory_sink_poll(spark, query, "gaps_test", pred)

    try:
        query.processAllAvailable()  # batch 1: no gaps expected
        _write_events(
            f"{src}/b1.parquet",
            [
                (3, base + 10 * MIN_NS, 7, "hb", 1.0),  # 9-min cross-batch gap
                (4, base + 11 * MIN_NS, 7, "hb", 1.0),  # 1 min: quiet again
            ],
        )
        rows = wait(lambda rows: len(rows) >= 1)
    finally:
        query.stop()

    got = sorted(
        (r["event_type"], r["gap_start_us"], r["gap_end_us"], r["gap_us"])
        for r in rows
    )
    batch = sorted(
        (r["event_type"], r["gap_start_us"], r["gap_end_us"], r["gap_us"])
        for r in time_gaps(
            spark.read.parquet(src), min_gap_us=GAP_US
        ).collect()
    )
    assert got == batch
    assert got == [("hb", (base + MIN_NS) // 1000, (base + 10 * MIN_NS) // 1000, 9 * 60 * 1_000_000)]


def test_cdc_store_split_invariant_and_stream_parity(spark, tmp_path):
    """The on-disk CDC fold must not depend on how the feed is split
    into batches — including a LATE batch carrying older sequence
    numbers than what's already applied (plain delete+insert would
    regress the row), and including a late stale update for a key
    that is already DELETED (without a tombstone the delete's seq is
    forgotten and the row resurrects). Stream-maintained and one-shot
    stores agree."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from py_etl_pipeline_woocommerce_spark.operators.warehouse import (
        cdc_apply_store,
        read_cdc_store,
    )
    from py_etl_pipeline_woocommerce_spark.streaming.pipeline import (
        run_stream_cdc_apply,
    )

    feed = [
        # (order_id, status, total, seq, op)
        (1, "a", 10.0, 1, "I"),
        (1, "a2", 11.0, 3, "U"),   # newest for key 1
        (1, "late", 0.0, 2, "U"),  # arrives in a LATER batch, must lose
        (2, "b", 20.0, 1, "I"),
        (2, "x", 0.0, 2, "D"),     # key 2 ends deleted
        (2, "zomb", 25.0, 1, "U"),  # stale U AFTER the delete: must stay dead
        (3, "c", 30.0, 5, "U"),
    ]
    sch = "order_id long, status string, total double, seq int, op string"

    def write_feed(path, rows):
        tbl = pa.table(
            {
                "order_id": pa.array([r[0] for r in rows], pa.int64()),
                "status": pa.array([r[1] for r in rows], pa.string()),
                "total": pa.array([r[2] for r in rows], pa.float64()),
                "seq": pa.array([r[3] for r in rows], pa.int32()),
                "op": pa.array([r[4] for r in rows], pa.string()),
            }
        )
        pq.write_table(tbl, path)

    # one-shot fold of the whole feed
    once = str(tmp_path / "once")
    cdc_apply_store(
        spark, once, spark.createDataFrame(feed, sch), "order_id"
    )
    expect = {
        (r.order_id): (r.status, r.total, r._seq)
        for r in read_cdc_store(spark, once).collect()
    }
    assert expect == {1: ("a2", 11.0, 3), 3: ("c", 30.0, 5)}
    # the delete survives as a tombstone carrying its applied seq
    tomb = {
        r.order_id: r._seq
        for r in spark.read.parquet(once).filter("_deleted").collect()
    }
    assert tomb == {2: 2}

    # streamed in three batches with the stale updates LAST
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")
    write_feed(f"{src}/b0.parquet", [feed[0], feed[3], feed[6]])
    write_feed(f"{src}/b1.parquet", [feed[1], feed[4]])
    # the late stale updates: one for a live key, one for a deleted key
    write_feed(f"{src}/b2.parquet", [feed[2], feed[5]])
    schema = spark.read.parquet(f"{src}/b0.parquet").schema
    query, sink = run_stream_cdc_apply(
        spark, str(src), schema, ckpt, store, "order_id"
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    assert sink.batches_seen == 3
    got = {
        (r.order_id): (r.status, r.total, r._seq)
        for r in read_cdc_store(spark, store).collect()
    }
    assert got == expect

    # migration: a store written BEFORE the tombstone change (no
    # _deleted column) reads as all-live and folds without error
    legacy = str(tmp_path / "legacy")
    spark.createDataFrame(
        [(5, "old", 50.0, 1)],
        "order_id long, status string, total double, _seq int",
    ).write.parquet(legacy)
    assert {
        r.order_id for r in read_cdc_store(spark, legacy).collect()
    } == {5}
    cdc_apply_store(
        spark,
        legacy,
        spark.createDataFrame([(5, "new", 55.0, 2, "U")], sch),
        "order_id",
    )
    (row,) = read_cdc_store(spark, legacy).collect()
    assert (row.status, row._seq) == ("new", 2)


def test_first_seen_store_split_invariant_and_stream_parity(spark, tmp_path):
    """MIN is associative: the stream-maintained first-seen table
    equals the one-shot fold even when a user's EARLIER event arrives
    in a LATER micro-batch (out-of-order delivery)."""
    from py_etl_pipeline_woocommerce_spark.operators.warehouse import (
        merge_first_seen_store,
    )
    from py_etl_pipeline_woocommerce_spark.streaming.pipeline import (
        run_stream_first_seen,
    )

    base = 1_700_000_000_000_000_000
    D_NS = 86_400 * 1_000_000_000
    rows = [
        (1, base + 3 * D_NS, 7, "view", 0.0),   # user 7 day 3 (first batch)
        (2, base + 1 * D_NS, 7, "view", 0.0),   # user 7 day 1 arrives LATER
        (3, base + 2 * D_NS, 8, "view", 0.0),   # user 8 day 2
    ]
    once = str(tmp_path / "once")
    merge_first_seen_store(
        spark,
        once,
        spark.createDataFrame(
            rows, "event_id long, ts long, user_id long, event_type string, value double"
        ),
    )
    expect = {
        r.user_id: r.first_day_us for r in spark.read.parquet(once).collect()
    }
    D_US = 86_400 * 1_000_000
    assert expect == {
        7: (base // 1000 // D_US + 1) * D_US,
        8: (base // 1000 // D_US + 2) * D_US,
    }

    src = tmp_path / "src"
    src.mkdir()
    _write_events(f"{src}/b0.parquet", [rows[0], rows[2]])
    _write_events(f"{src}/b1.parquet", [rows[1]])  # the out-of-order event
    store = str(tmp_path / "store")
    query, sink = run_stream_first_seen(
        spark, str(src), str(tmp_path / "ckpt"), store
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    assert sink.batches_seen == 2
    got = {
        r.user_id: r.first_day_us for r in spark.read.parquet(store).collect()
    }
    assert got == expect


def _poll_parquet(spark, path, pred, query=None, deadline_s=300):
    """Poll a parquet output dir (memory sinks cannot recover from a
    checkpoint, so restart tests write through foreachBatch). With a
    ``query`` handle the deadline is PROGRESS-BASED (conftest
    stream_poll — the r11 flake fix); without one it stays a plain
    wall-clock deadline."""

    def fetch():
        try:
            return spark.read.parquet(path).collect()
        except Exception:
            return []

    if query is not None:
        from tests.conftest import stream_poll

        return stream_poll(query, fetch, pred)
    import time as _time

    t0 = _time.time()
    rows = []
    while _time.time() - t0 < deadline_s:
        rows = fetch()
        if pred(rows):
            return rows
        _time.sleep(1)
    raise AssertionError(f"{path} never satisfied predicate; last: {rows}")


def _foreach_parquet_append(outdir):
    def write(df, _bid):
        df.write.mode("append").parquet(outdir)

    return write


def test_sessionize_stream_recovers_from_checkpoint_restart(
    spark, stream_dirs, tmp_path
):
    """Kill the stateful sessionizer mid-stream and restart it from
    the same checkpoint: per-user session state (seq, bounds, counts)
    must be restored, so a post-restart continuation extends the
    PRE-restart session instead of starting a fresh one, and the
    eventual close is emitted exactly once — no lost or duplicated
    sessions. (memory sinks refuse checkpoint recovery, so output
    goes through foreachBatch -> parquet, the recoverable path.)"""
    from py_etl_pipeline_woocommerce_spark.streaming.sessions import (
        sessionize_stream,
    )

    src, ckpt = stream_dirs
    out = str(tmp_path / "sess_restart_out")
    base = 1_700_000_000_000_000_000
    MIN_NS = 60 * 1_000_000_000
    _write_events(
        f"{src}/b0.parquet",
        [(1, base, 7, "click", 1.0), (2, base + 5 * MIN_NS, 7, "view", 2.0)],
    )

    def start():
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        return (
            sessionize_stream(stream, gap_minutes=30)
            .writeStream.outputMode("update")
            .foreachBatch(_foreach_parquet_append(out))
            .option("checkpointLocation", ckpt)
            .start()
        )

    q1 = start()
    try:
        _poll_parquet(
            spark, out, lambda rows: len(rows) >= 1, query=q1
        )
    finally:
        q1.stop()  # simulated crash/redeploy between micro-batches

    # post-restart: a continuation inside the gap, then a gap-breaker
    _write_events(
        f"{src}/b1.parquet",
        [
            (3, base + 15 * MIN_NS, 7, "click", 4.0),
            (4, base + 80 * MIN_NS, 7, "purchase", 8.0),
        ],
    )
    q2 = start()
    try:
        rows = _poll_parquet(
            spark,
            out,
            lambda rows: any(r["closed"] for r in rows),
            query=q2,
        )
    finally:
        q2.stop()

    closed = [r for r in rows if r["closed"]]
    # exactly one closed session — nothing lost, nothing re-emitted
    assert len(closed) == 1
    c = closed[0]
    # the closed session spans the restart: events 1,2 (before) + 3
    # (after) prove the state store carried (seq, start, last, n, tot)
    assert c["session_seq"] == 0 and c["n_events"] == 3
    assert c["start_us"] == base // 1000
    assert c["end_us"] == (base + 15 * MIN_NS) // 1000
    assert c["total_value"] == pytest.approx(7.0)
    # the post-gap event opened session 1 with the restored counter
    open_rows = [
        r for r in rows if not r["closed"] and r["session_seq"] == 1
    ]
    assert open_rows and any(r["n_events"] == 1 for r in open_rows)


def test_transitions_stream_recovers_from_checkpoint_restart(
    spark, stream_dirs, tmp_path
):
    """Restart the stateful transition tracker from its checkpoint:
    the stored 'previous event' must survive, so the first
    post-restart event pairs with the last pre-restart one, and the
    cross-restart transition is emitted exactly once."""
    from collections import Counter

    from py_etl_pipeline_woocommerce_spark.streaming.transitions import (
        transitions_stream,
    )

    src, ckpt = stream_dirs
    out = str(tmp_path / "trans_restart_out")
    base = 1_700_000_000_000_000_000
    MIN_NS = 60 * 1_000_000_000
    _write_events(
        f"{src}/b0.parquet",
        [(1, base, 7, "view", 1.0), (2, base + MIN_NS, 7, "click", 2.0)],
    )

    def start():
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        return (
            transitions_stream(stream)
            .writeStream.outputMode("append")
            .foreachBatch(_foreach_parquet_append(out))
            .option("checkpointLocation", ckpt)
            .start()
        )

    q1 = start()
    try:
        _poll_parquet(
            spark, out, lambda rows: len(rows) >= 1, query=q1
        )
    finally:
        q1.stop()

    _write_events(
        f"{src}/b1.parquet",
        [(3, base + 2 * MIN_NS, 7, "purchase", 4.0)],
    )
    q2 = start()
    try:
        rows = _poll_parquet(
            spark,
            out,
            lambda rows: any(r["to_type"] == "purchase" for r in rows),
            query=q2,
        )
    finally:
        q2.stop()

    key = lambda r: (r["from_type"], r["to_type"], r["gap_us"])  # noqa: E731
    counts = Counter(key(r) for r in rows)
    # the cross-restart pair exists and is emitted exactly once: the
    # restored state held (click, base+1min) as user 7 previous event
    assert counts[("click", "purchase", 60_000_000)] == 1
    # nothing lost; the pre-restart pair may legally appear twice if
    # its batch had not committed before the stop (at-least-once
    # replay into the same sink), but never more
    assert 1 <= counts[("view", "click", 60_000_000)] <= 2
    assert set(counts) == {
        ("click", "purchase", 60_000_000),
        ("view", "click", 60_000_000),
    }


def test_sessionize_stream_drops_events_beyond_lateness_horizon(
    spark, stream_dirs
):
    """An event more than one gap OLDER than the open session's start
    belongs to an already-emitted session — it must be dropped, not
    absorbed (absorbing would stretch the open session across a gap
    the batch twin splits on)."""
    from py_etl_pipeline_woocommerce_spark.streaming.sessions import (
        sessionize_stream,
    )

    src, ckpt = stream_dirs
    base = 1_700_000_000_000_000_000
    MIN_NS = 60 * 1_000_000_000
    # batch 1: session starts at base+120min
    _write_events(
        f"{src}/b0.parquet", [(1, base + 120 * MIN_NS, 7, "click", 1.0)]
    )
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    query = (
        sessionize_stream(stream, gap_minutes=30)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("sess_late_horizon")
        .option("checkpointLocation", ckpt)
        .start()
    )

    def wait(pred):
        from tests.conftest import memory_sink_poll

        return memory_sink_poll(spark, query, "sess_late_horizon", pred)

    try:
        wait(lambda rows: len(rows) >= 1)
        # batch 2: a 2h-stale stray (beyond the 30min horizon) plus a
        # legitimate continuation 5min after the start
        _write_events(
            f"{src}/b1.parquet",
            [
                (2, base, 7, "view", 100.0),  # must be dropped
                (3, base + 125 * MIN_NS, 7, "click", 2.0),
            ],
        )
        rows = wait(
            lambda rows: any(
                not r["closed"] and r["n_events"] == 2 for r in rows
            )
        )
    finally:
        query.stop()

    open_rows = [r for r in rows if not r["closed"] and r["n_events"] == 2]
    assert open_rows
    o = open_rows[-1]
    # the stray did NOT rewrite the session bounds or totals
    assert o["start_us"] == (base + 120 * MIN_NS) // 1000
    assert o["end_us"] == (base + 125 * MIN_NS) // 1000
    assert o["total_value"] == pytest.approx(3.0)
    # and nothing ever reported 3 events or the stray's start
    assert not [r for r in rows if r["n_events"] and r["n_events"] >= 3]
    assert not [r for r in rows if r["start_us"] == base // 1000]


def test_transitions_stream_cross_batch_tie_matches_batch_order(
    spark, stream_dirs
):
    """A cross-batch event with the SAME t_us but a smaller event_id
    than the stored state is older in the batch twin's
    (t_us, event_id) order — it must be dropped, not emitted as a
    successor (which would flip the transition direction)."""
    from py_etl_pipeline_woocommerce_spark.streaming.transitions import (
        transitions_stream,
    )

    src, ckpt = stream_dirs
    base = 1_700_000_000_000_000_000
    MIN_NS = 60 * 1_000_000_000
    _write_events(f"{src}/b0.parquet", [(5, base, 7, "view", 1.0)])
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    query = (
        transitions_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("trans_tie")
        .option("checkpointLocation", ckpt)
        .start()
    )

    def wait(pred):
        from tests.conftest import memory_sink_poll

        return memory_sink_poll(spark, query, "trans_tie", pred)

    try:
        wait(lambda rows: True)  # let batch 1 commit state
        import time as _t

        _t.sleep(2)
        # tie on t_us with a SMALLER event_id (older in batch order),
        # then a real successor
        _write_events(
            f"{src}/b1.parquet",
            [(3, base, 7, "click", 1.0), (7, base + MIN_NS, 7, "purchase", 1.0)],
        )
        rows = wait(
            lambda rows: any(r["to_type"] == "purchase" for r in rows)
        )
    finally:
        query.stop()

    got = [(r["from_type"], r["to_type"], r["gap_us"]) for r in rows]
    # the tied-but-older click never became a successor of view...
    assert ("view", "click", 0) not in got
    # ...and the kept path is view -> purchase off the restored state
    assert ("view", "purchase", 60_000_000) in got


def test_sessionize_stream_event_time_timeout_follows_watermark(
    spark, stream_dirs, tmp_path
):
    """timeout='event': an idle user's session closes when the
    WATERMARK passes last_event + gap (the batch twin's gap rule),
    driven by OTHER users' events — not by wall-clock silence."""
    from py_etl_pipeline_woocommerce_spark.streaming.sessions import (
        sessionize_stream,
    )

    src, ckpt = stream_dirs
    base = 1_700_000_000_000_000_000
    MIN_NS = 60 * 1_000_000_000
    _write_events(f"{src}/b0.parquet", [(1, base, 7, "click", 2.5)])
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    query = (
        sessionize_stream(stream, gap_minutes=30, timeout="event")
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("sess_evt_timeout")
        .option("checkpointLocation", ckpt)
        .start()
    )

    def wait(pred):
        from tests.conftest import memory_sink_poll

        return memory_sink_poll(spark, query, "sess_evt_timeout", pred)

    try:
        wait(lambda rows: len(rows) >= 1)
        # another user far in the future advances the watermark
        # (90min - 30min delay = +60min > user 7's last + 30min gap)
        _write_events(
            f"{src}/b1.parquet", [(2, base + 90 * MIN_NS, 8, "view", 1.0)]
        )
        # one more batch so the advanced watermark's no-data batch
        # processes the timed-out state
        _write_events(
            f"{src}/b2.parquet", [(3, base + 91 * MIN_NS, 8, "view", 1.0)]
        )
        rows = wait(
            lambda rows: any(
                r["closed"] and r["user_id"] == 7 for r in rows
            )
        )
    finally:
        query.stop()

    closed7 = [r for r in rows if r["closed"] and r["user_id"] == 7]
    assert len(closed7) == 1
    c = closed7[0]
    assert c["session_seq"] == 0 and c["n_events"] == 1
    assert c["start_us"] == c["end_us"] == base // 1000
    assert c["total_value"] == pytest.approx(2.5)


def test_transitions_stream_event_time_timeout_evicts_via_watermark(
    spark, stream_dirs
):
    """timeout='event': an idle user's stored previous-event is
    evicted when the WATERMARK passes last_event + idle, driven by
    OTHER users' events — not wall-clock silence (seconds elapse here,
    the idle horizon is 30 minutes). After eviction the user's next
    event starts a FRESH chain: no transition across the eviction."""
    from py_etl_pipeline_woocommerce_spark.streaming.transitions import (
        transitions_stream,
    )

    src, ckpt = stream_dirs
    base = 1_700_000_000_000_000_000
    MIN_NS = 60 * 1_000_000_000
    _write_events(f"{src}/b0.parquet", [(1, base, 7, "view", 1.0)])
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    query = (
        transitions_stream(stream, idle_minutes=30, timeout="event")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("trans_evt_timeout")
        .option("checkpointLocation", ckpt)
        .start()
    )

    def wait(pred):
        from tests.conftest import memory_sink_poll

        return memory_sink_poll(spark, query, "trans_evt_timeout", pred)

    try:
        query.processAllAvailable()  # b0 ingested, user 7 state armed
        # user 8 advances the watermark past base + 30min idle
        # (90min - 30min delay = +60min), then one more batch so the
        # no-data pass processes user 7's timed-out state
        _write_events(
            f"{src}/b1.parquet", [(2, base + 90 * MIN_NS, 8, "x", 1.0)]
        )
        _write_events(
            f"{src}/b2.parquet", [(3, base + 91 * MIN_NS, 8, "x", 1.0)]
        )
        wait(lambda rows: any(r["user_id"] == 8 for r in rows))
        # user 7 returns AFTER eviction: must start a fresh chain...
        _write_events(
            f"{src}/b3.parquet", [(4, base + 92 * MIN_NS, 7, "click", 1.0)]
        )
        # ...so only their NEXT pair emits a user-7 transition
        _write_events(
            f"{src}/b4.parquet",
            [(5, base + 93 * MIN_NS, 7, "purchase", 1.0)],
        )
        rows = wait(
            lambda rows: any(r["to_type"] == "purchase" for r in rows)
        )
    finally:
        query.stop()

    got7 = sorted(
        (r["from_type"], r["to_type"], r["gap_us"])
        for r in rows
        if r["user_id"] == 7
    )
    # no chain across the eviction (view -> click would be a 92-minute
    # ghost transition), only the fresh post-eviction pair
    assert got7 == [("click", "purchase", 60_000_000)]


def test_liveness_gaps_stream_recovers_from_checkpoint_restart(
    spark, stream_dirs, tmp_path
):
    """Kill the liveness monitor mid-stream and restart from the same
    checkpoint: the per-type last-seen clock must be restored, so an
    outage SPANNING the restart (last pre-restart heartbeat → first
    post-restart one) is still detected and bounded correctly, exactly
    once. (memory sinks refuse checkpoint recovery, so output goes
    through foreachBatch -> parquet, the recoverable path.)"""
    from py_etl_pipeline_woocommerce_spark.streaming.liveness import (
        gaps_stream,
    )

    src, ckpt = stream_dirs
    out = str(tmp_path / "gaps_restart_out")
    base = 1_700_000_000_000_000_000
    MIN_NS = 60 * 1_000_000_000
    GAP_US = 5 * 60 * 1_000_000
    _write_events(
        f"{src}/b0.parquet",
        [(1, base, 7, "hb", 1.0), (2, base + MIN_NS, 7, "hb", 1.0)],
    )

    def start():
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        return (
            gaps_stream(stream, min_gap_us=GAP_US)
            .writeStream.outputMode("append")
            .foreachBatch(_foreach_parquet_append(out))
            .option("checkpointLocation", ckpt)
            .start()
        )

    q1 = start()
    try:
        q1.processAllAvailable()  # quiet minute ingested, no gap yet
    finally:
        q1.stop()  # simulated crash/redeploy between micro-batches

    # the stream resumes after a 9-minute silence that SPANS the
    # restart — only the restored last-seen clock can bound it
    _write_events(
        f"{src}/b1.parquet", [(3, base + 10 * MIN_NS, 7, "hb", 1.0)]
    )
    q2 = start()
    try:
        rows = _poll_parquet(
            spark, out, lambda rows: len(rows) >= 1, query=q2
        )
    finally:
        q2.stop()

    got = [
        (r["event_type"], r["gap_start_us"], r["gap_end_us"], r["gap_us"])
        for r in rows
    ]
    # exactly one gap row: nothing lost across the restart, nothing
    # re-emitted by the replayed batch
    assert got == [
        (
            "hb",
            (base + MIN_NS) // 1000,
            (base + 10 * MIN_NS) // 1000,
            9 * 60 * 1_000_000,
        )
    ]


def test_lateness_horizon_is_explicit_and_decoupled(spark):
    """Event mode's watermark doubles as Spark's late-row filter; the
    horizon must be a visible, independently tunable parameter — the
    default mirrors the eviction horizon, and ``lateness_minutes``
    overrides ONLY the watermark (eviction math is untouched)."""
    from py_etl_pipeline_woocommerce_spark.streaming.sessions import (
        sessionize_stream,
    )
    from py_etl_pipeline_woocommerce_spark.streaming.transitions import (
        transitions_stream,
    )

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr(
            "value AS user_id",
            "value AS event_id",
            "value * 1000000000 AS ts",
            "'click' AS event_type",
            "CAST(value AS DOUBLE) AS value",
        )
    )

    def watermark_of(df):
        """Watermark delay in minutes (Spark renders the interval in
        normalized units — '120 minutes' prints as '2 hours')."""
        plan = df._jdf.queryExecution().logical().toString()
        import re

        line = next(
            (l for l in plan.splitlines() if "EventTimeWatermark" in l),
            None,
        )
        if line is None:
            return None
        h = re.search(r"(\d+) hours?", line)
        mn = re.search(r"(\d+) minutes?", line)
        return int(h.group(1) if h else 0) * 60 + int(
            mn.group(1) if mn else 0
        )

    assert watermark_of(
        sessionize_stream(stream, gap_minutes=30, timeout="event")
    ) == 30
    assert watermark_of(
        sessionize_stream(
            stream, gap_minutes=30, timeout="event", lateness_minutes=120
        )
    ) == 120
    assert watermark_of(
        transitions_stream(stream, idle_minutes=45, timeout="event")
    ) == 45
    assert watermark_of(
        transitions_stream(
            stream, idle_minutes=45, timeout="event", lateness_minutes=240
        )
    ) == 240
    # processing mode never attaches a watermark
    assert watermark_of(
        sessionize_stream(stream, gap_minutes=30)
    ) is None

    import pytest as _pytest

    with _pytest.raises(ValueError, match="sessionize_stream: timeout"):
        sessionize_stream(stream, timeout="wall")
    with _pytest.raises(ValueError, match="transitions_stream: timeout"):
        transitions_stream(stream, timeout="wall")


def test_transitions_state_rebuild_preserves_open_transitions(
    spark, stream_dirs, tmp_path
):
    """State-schema upgrade procedure: a STATE_SCHEMA change forces a
    FRESH checkpoint (Spark rejects the old layout), and
    rebuild_state_from_batch seeds it from bronze — each user's last
    historic event replays as micro-batch 0, emitting NOTHING (a first
    event has no predecessor) but restoring the per-user state, so the
    first post-upgrade event still chains across the boundary."""
    import time as _time

    from py_etl_pipeline_woocommerce_spark.streaming.transitions import (
        rebuild_state_from_batch,
        transitions_stream,
    )

    src, ckpt = stream_dirs
    out1 = str(tmp_path / "trans_v1_out")
    base = 1_700_000_000_000_000_000
    MIN_NS = 60 * 1_000_000_000
    _write_events(
        f"{src}/b0.parquet",
        [
            (1, base, 7, "view", 1.0),
            (2, base + MIN_NS, 7, "click", 2.0),
            (3, base + MIN_NS // 2, 8, "add", 1.0),  # single event: no pair
        ],
    )
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q1 = (
        transitions_stream(stream)
        .writeStream.outputMode("append")
        .foreachBatch(_foreach_parquet_append(out1))
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        _poll_parquet(
            spark, out1, lambda rows: len(rows) >= 1, query=q1
        )
    finally:
        q1.stop()

    # --- "upgrade": the old checkpoint is unusable after a schema
    # change; seed a fresh source + checkpoint from bronze ---
    src2 = str(tmp_path / "upgraded_src")
    ckpt2 = str(tmp_path / "upgraded_ckpt")
    out2 = str(tmp_path / "trans_v2_out")
    seed_rows = rebuild_state_from_batch(spark.read.parquet(src)).collect()
    assert len(seed_rows) == 2  # one row per user
    import os as _os

    _os.makedirs(src2, exist_ok=True)
    _write_events(
        f"{src2}/00-upgrade-seed.parquet",
        [
            (r["event_id"], r["ts"], r["user_id"], r["event_type"], r["value"])
            for r in seed_rows
        ],
    )
    _time.sleep(1.1)  # later mtime: the seed file must be batch 0
    _write_events(
        f"{src2}/b1.parquet",
        [
            (4, base + 2 * MIN_NS, 7, "purchase", 4.0),
            (5, base + 3 * MIN_NS, 8, "click", 1.0),
        ],
    )
    stream2 = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src2)
    )
    q2 = (
        transitions_stream(stream2)
        .writeStream.outputMode("append")
        .foreachBatch(_foreach_parquet_append(out2))
        .option("checkpointLocation", ckpt2)
        .start()
    )
    try:
        rows = _poll_parquet(
            spark, out2, lambda rows: len(rows) >= 2, query=q2
        )
    finally:
        q2.stop()

    got = sorted(
        (r["user_id"], r["from_type"], r["to_type"], r["gap_us"])
        for r in rows
    )
    # ONLY the cross-upgrade pairs — open transitions survived, no
    # historic transition was re-emitted
    assert got == [
        (7, "click", "purchase", 60_000_000),
        (8, "add", "click", 150_000_000),
    ]

    # idle_minutes mirrors eviction: user 8's last event is 30s behind
    # the log max; a 0-minute horizon keeps only the frontier user
    frontier = rebuild_state_from_batch(
        spark.read.parquet(src), idle_minutes=0
    )
    assert [r["user_id"] for r in frontier.collect()] == [7]


def test_stateful_streams_survive_null_rows(spark, stream_dirs):
    """One NULL-ts (or NULL-id) row must NOT poison-pill a stateful
    stream: int(NaN) in the pandas state fn would fail the
    micro-batch and checkpoint replay would retry it forever. NULL
    rows are dropped up front; the valid rows still process."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from py_etl_pipeline_woocommerce_spark.streaming.sessions import (
        sessionize_stream,
    )

    src, ckpt = stream_dirs
    base = 1_700_000_000_000_000_000
    MIN_NS = 60 * 1_000_000_000
    tbl = pa.table(
        {
            "event_id": pa.array([1, None, 3, 4], pa.int64()),
            "ts": pa.array([base, None, None, base + MIN_NS], pa.int64()),
            "user_id": pa.array([7, 7, None, 7], pa.int64()),
            "event_type": pa.array(["a", "b", "c", "d"], pa.string()),
            "value": pa.array([1.0, 2.0, 3.0, 4.0], pa.float64()),
            "props": pa.array(["{}"] * 4, pa.string()),
        }
    )
    pq.write_table(tbl, f"{src}/b0.parquet")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        sessionize_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("null_safe_sink")
        .option("checkpointLocation", ckpt)
        .start()
    )

    def wait(pred, deadline_s=300):
        import time as _t

        t0 = _t.time()
        rows = []
        while _t.time() - t0 < deadline_s:
            rows = spark.sql("select * from null_safe_sink").collect()
            if pred(rows):
                return rows
            _t.sleep(1)
        raise AssertionError(f"sink never satisfied predicate; got {rows}")

    try:
        rows = wait(lambda rows: len(rows) >= 1)
    finally:
        q.stop()
    (open_row,) = [r for r in rows if not r["closed"]]
    # only events 1 and 4 (valid ts+user) count
    assert open_row["n_events"] == 2
    assert open_row["total_value"] == 5.0


def test_sessionize_stream_money_decimal_exact(spark, stream_dirs):
    """Session money accumulates as integer cents, so 0.1 + 0.2 is
    exactly 0.3 — matching the batch twin's DECIMAL sum instead of
    float64's 0.30000000000000004."""
    from py_etl_pipeline_woocommerce_spark.streaming.sessions import (
        sessionize_stream,
    )

    src, ckpt = stream_dirs
    base = 1_700_000_000_000_000_000
    _write_events(
        f"{src}/b0.parquet",
        [(1, base, 7, "a", 0.1), (2, base + 1_000_000_000, 7, "b", 0.2)],
    )
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        sessionize_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("cents_sink")
        .option("checkpointLocation", ckpt)
        .start()
    )

    def wait(pred, deadline_s=300):
        import time as _t

        t0 = _t.time()
        rows = []
        while _t.time() - t0 < deadline_s:
            rows = spark.sql("select * from cents_sink").collect()
            if pred(rows):
                return rows
            _t.sleep(1)
        raise AssertionError(f"sink never satisfied predicate; got {rows}")

    try:
        rows = wait(lambda rows: any(r["n_events"] == 2 for r in rows))
    finally:
        q.stop()
    (row,) = [r for r in rows if r["n_events"] == 2]
    assert row["total_value"] == 0.3  # exact, no float drift


class _FakeGroupState:
    """Minimal GroupState stand-in for white-box state-fn tests (the
    wall-clock ProcessingTimeTimeout cannot be forced in a unit
    test)."""

    def __init__(self, value=None, timed_out=False):
        self._v = value
        self.hasTimedOut = timed_out

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms

    def setTimeoutTimestamp(self, ts):
        self.timeout_ms = ts


def test_session_tombstone_keeps_lateness_horizon():
    """After an idle timeout closes a session, the counter tombstone
    keeps the closed session's end time: a LATE event at or before it
    is dropped (it belongs to the already-emitted session), while a
    genuinely newer event starts seq+1 — session seq order stays
    time order across the timeout boundary."""
    import pandas as pd

    from py_etl_pipeline_woocommerce_spark.streaming.sessions import (
        _sessionize_user,
    )

    from py_etl_pipeline_woocommerce_spark.streaming.sessions import (
        STATE_VERSION,
    )
    from py_etl_pipeline_woocommerce_spark.streaming.state_util import (
        encode_state,
    )

    H = 3_600_000_000  # one hour in us
    gap_us = 30 * 60_000_000

    def session_state(seq, start, last, n, cents):
        return encode_state(
            STATE_VERSION,
            {
                "session_seq": seq,
                "start_us": start,
                "last_us": last,
                "n_events": n,
                "total_cents": cents,
            },
        )

    # open session [10h, 10.5h] times out
    st = _FakeGroupState(
        value=session_state(0, 10 * H, 10 * H + H // 2, 3, 450),
        timed_out=True,
    )
    (closed,) = list(_sessionize_user((7,), iter([]), st, gap_us))
    assert closed["closed"].tolist() == [True]
    assert closed["total_value"].tolist() == [4.5]
    assert st.get == session_state(1, None, 10 * H + H // 2, 0, 0)
    st.hasTimedOut = False  # subsequent calls deliver data, not timeouts

    # a late event from BEFORE the closed session: dropped, tombstone intact
    late = pd.DataFrame({"t_us": [8 * H], "value": [1.0]})
    (out,) = list(_sessionize_user((7,), iter([late]), st, gap_us))
    assert len(out) == 0
    assert st.get == session_state(1, None, 10 * H + H // 2, 0, 0)

    # a genuinely newer event starts session seq=1 AFTER seq=0 in time
    fresh = pd.DataFrame({"t_us": [11 * H], "value": [2.0]})
    (out,) = list(_sessionize_user((7,), iter([fresh]), st, gap_us))
    assert out["session_seq"].tolist() == [1]
    assert out["start_us"].tolist() == [11 * H]
    assert out["closed"].tolist() == [False]


def test_versioned_state_shim_unit():
    """decode_state fills keys a PRIOR version's payload lacks with
    their registered defaults (the widening shim), drops keys the
    current layout no longer declares, and refuses a payload written
    by a NEWER version instead of silently misreading it."""
    from py_etl_pipeline_woocommerce_spark.streaming.state_util import (
        decode_state,
        encode_state,
    )

    v1_row = encode_state(1, {"last_us": 42, "last_type": "click"})
    st = _FakeGroupState(value=v1_row)
    # v2 reader: widened with a default-bearing key
    got = decode_state(
        st, 2, {"last_us": None, "last_type": None, "bonus": 0}
    )
    assert got == {"last_us": 42, "last_type": "click", "bonus": 0}
    # narrowed layout: undeclared stored keys are dropped
    assert decode_state(st, 2, {"last_us": None}) == {"last_us": 42}
    # a FUTURE version's row is refused loudly
    st2 = _FakeGroupState(value=encode_state(3, {"last_us": 1}))
    with pytest.raises(ValueError, match="newer"):
        decode_state(st2, 2, {"last_us": None})
    # absent state returns a COPY of the defaults
    empty = _FakeGroupState()
    d = {"last_us": None}
    out = decode_state(empty, 1, d)
    out["last_us"] = 9
    assert d == {"last_us": None}


def test_sessionize_widened_state_restarts_on_same_checkpoint(
    spark, stream_dirs, tmp_path
):
    """The versioned-state upgrade path: batch 1 runs under the v1
    layout, then the stream restarts ON THE SAME CHECKPOINT with a
    WIDENED v2 layout (an extra default-bearing key). The physical
    (version, payload) schema is unchanged, so Spark accepts the
    restart; the v1 state row reads through the decode shim — the
    post-restart event extends the PRE-restart session (no checkpoint
    reset, no state loss, no double-emit)."""
    from py_etl_pipeline_woocommerce_spark.streaming.sessions import (
        STATE_DEFAULTS,
        sessionize_stream,
    )

    src, ckpt = stream_dirs
    out = str(tmp_path / "sess_widen_out")
    base = 1_700_000_000_000_000_000
    MIN_NS = 60 * 1_000_000_000
    _write_events(
        f"{src}/b0.parquet",
        [(1, base, 7, "click", 1.0), (2, base + 5 * MIN_NS, 7, "view", 2.0)],
    )

    def start(state_version=None, state_defaults=None):
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        return (
            sessionize_stream(
                stream,
                gap_minutes=30,
                state_version=state_version,
                state_defaults=state_defaults,
            )
            .writeStream.outputMode("update")
            .foreachBatch(_foreach_parquet_append(out))
            .option("checkpointLocation", ckpt)
            .start()
        )

    q1 = start()  # v1
    try:
        _poll_parquet(
            spark, out, lambda rows: len(rows) >= 1, query=q1
        )
    finally:
        q1.stop()  # redeploy boundary: the widened build takes over

    _write_events(
        f"{src}/b1.parquet",
        [
            (3, base + 15 * MIN_NS, 7, "click", 4.0),
            (4, base + 80 * MIN_NS, 7, "purchase", 8.0),
        ],
    )
    widened = {**STATE_DEFAULTS, "quality_flags": 0}  # the NEXT widening
    q2 = start(state_version=2, state_defaults=widened)
    try:
        rows = _poll_parquet(
            spark,
            out,
            lambda rows: any(r["closed"] for r in rows),
            query=q2,
        )
    finally:
        q2.stop()

    closed = [r for r in rows if r["closed"]]
    assert len(closed) == 1
    c = closed[0]
    # events 1,2 (v1 state) + 3 (read through the v2 shim) — one
    # session spanning the layout change
    assert c["session_seq"] == 0 and c["n_events"] == 3
    assert c["start_us"] == base // 1000
    assert c["total_value"] == pytest.approx(7.0)


def test_liveness_gaps_stream_surfaces_late_batch_internal_gaps(
    spark, stream_dirs
):
    """A delayed file landing ENTIRELY below the state clock must
    still alert the gaps visible inside it — the old clock-only walk
    swallowed them (an under-alert the docstring forbids). The merged
    walk emits the late batch's internal gap plus the boundary gap up
    to the clock (a refining sub-gap of nothing here: no prior gap was
    emitted because batch 1 had one event)."""
    from py_etl_pipeline_woocommerce_spark.streaming.liveness import (
        gaps_stream,
    )

    src, ckpt = stream_dirs
    base = 1_700_000_000_000_000_000
    GAP_US = 1_000  # 1 ms in us
    # batch 1: single event at base+10ms -> clock set, nothing emitted
    _write_events(f"{src}/b0.parquet", [(1, base + 10_000_000, 7, "hb", 1.0)])
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    query = (
        gaps_stream(stream, min_gap_us=GAP_US)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("gaps_late_test")
        .option("checkpointLocation", ckpt)
        .start()
    )

    def wait(pred, deadline_s=300):
        import time as _t

        t0 = _t.time()
        rows = []
        while _t.time() - t0 < deadline_s:
            rows = spark.sql("select * from gaps_late_test").collect()
            if pred(rows):
                return rows
            _t.sleep(1)
        raise AssertionError(f"sink never satisfied predicate; last: {rows}")

    try:
        query.processAllAvailable()
        assert spark.sql("select * from gaps_late_test").count() == 0
        # late batch, entirely below the clock: events at +0.1ms, +5ms
        _write_events(
            f"{src}/b1.parquet",
            [(2, base + 100_000, 7, "hb", 1.0), (3, base + 5_000_000, 7, "hb", 1.0)],
        )
        rows = wait(lambda rs: len(rs) >= 2)
        got = sorted((r.gap_start_us, r.gap_end_us) for r in rows)
        b_us = base // 1000
        assert got == [
            (b_us + 100, b_us + 5_000),     # the late file's internal gap
            (b_us + 5_000, b_us + 10_000),  # boundary up to the clock
        ]
    finally:
        query.stop()


def test_with_event_time_drops_null_ts(spark, stream_dirs):
    """NULL-ts rows never satisfy a watermark eviction predicate, so
    they would pin stream-stream join state forever — with_event_time
    drops them for every consumer at once."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from py_etl_pipeline_woocommerce_spark.streaming.pipeline import (
        with_event_time,
    )

    src, _ = stream_dirs
    tbl = _pa.table(
        {
            "event_id": _pa.array([1, 2], _pa.int64()),
            "ts": _pa.array([1_700_000_000_000_000_000, None], _pa.int64()),
            "user_id": _pa.array([7, 7], _pa.int64()),
            "event_type": _pa.array(["view", "view"], _pa.string()),
            "value": _pa.array([1.0, 1.0], _pa.float64()),
            "props": _pa.array(["{}", "{}"], _pa.string()),
        }
    )
    _pq.write_table(tbl, f"{src}/nulls.parquet")
    out = with_event_time(spark.read.parquet(src)).collect()
    assert [r.event_id for r in out] == [1]
    assert out[0].event_time is not None
