"""The perfbench workloads.

Each workload is a function ``(ctx) -> Result``. It builds its inputs
from ``ctx.seed``, sets up (timed as ``setup_s``), runs a fixed list of
operations back to back with one client thread, then checks the
outputs outside the timed region. The operation count never depends
on speed, so a faster program times the same inputs. A traced run
adds a traced operation of the same kind for every untraced one,
paired in the order untraced-traced, traced-untraced, ... (so a
warm-up trend cancels); the pairs give the tracing overhead.
"""

from __future__ import annotations

import os
import random
import sys
import time
import traceback
from dataclasses import dataclass, field
from datetime import date, timedelta

from harness import Tracer, jvm_clock, mean, median, pinned_rdds

# ---------------------------------------------------------------------
# shared run state
# ---------------------------------------------------------------------


@dataclass
class Ctx:
    env: object  # harness.RunEnv
    seed: int
    trace: bool


@dataclass
class Result:
    op_s: list = field(default_factory=list)  # untraced op walls
    op_cpu_s: list = field(default_factory=list)  # untraced op CPU seconds
    traced_op_s: list = field(default_factory=list)
    traced_op_cpu_s: list = field(default_factory=list)
    clocks: list = field(default_factory=list)  # per op: (traced, jvm_clock deltas)
    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0
    timed_s: float = 0.0
    work_done: float = 0.0  # orders or pages in the timed loop
    peak_rss_mb: float = 0.0
    layers: dict = field(default_factory=dict)  # per_layer metrics
    detail: dict = field(default_factory=dict)  # extra fields for the detail line
    tracer: Tracer | None = None


def _run_ops(env, res: Result, op, ops: list) -> None:
    """Run ``op(arg, traced)`` for each ``(arg, traced)`` of ``ops``,
    back to back. A traced op's root span records the op's wall time,
    timed here around the span and its bookkeeping."""
    tr = res.tracer
    t0 = time.perf_counter()
    for i, (arg, traced) in enumerate(ops):
        tr.enabled = traced
        tr.op = i
        res.attempted += 1
        rec = None
        clock0, cpu0 = jvm_clock(tr.sc), env.cpu_s()
        t = time.perf_counter()
        try:
            with tr.span("op", jobs=True) as rec:
                op(arg, traced)
                if rec is not None:
                    rec["pinned_rdds"] = pinned_rdds(tr.sc)
        except Exception:
            res.failed += 1
            traceback.print_exc(file=sys.stderr)
        dt = time.perf_counter() - t
        cpu, clock1 = env.cpu_s() - cpu0, jvm_clock(tr.sc)
        res.clocks.append((traced, {k: clock1[k] - clock0[k] for k in clock0}))
        if rec is not None:
            rec["wall"] = dt
        if traced:
            res.traced_op_s.append(dt)
            res.traced_op_cpu_s.append(cpu)
        else:
            res.op_s.append(dt)
            res.op_cpu_s.append(cpu)
    tr.enabled = False
    res.timed_s = time.perf_counter() - t0


def _paired(untraced: list, traced: list | None) -> list:
    """The op list: ``untraced`` alone, or each untraced op paired with
    the traced op of the same kind, pairs alternating in order."""
    if traced is None:
        return [(a, False) for a in untraced]
    ops = []
    for k, (a, b) in enumerate(zip(untraced, traced)):
        pair = [(a, False), (b, True)]
        ops += pair if k % 2 == 0 else pair[::-1]
    return ops


def _per_op(tr: Tracer, name: str, value) -> float:
    """Median over traced operations of ``value(span index)`` summed
    over the spans called ``name`` inside each operation."""
    per: dict = {}
    for i, s in enumerate(tr.spans):
        if s["name"] == name:
            per[s["op"]] = per.get(s["op"], 0.0) + value(i)
    ops = {s["op"] for s in tr.spans if s["parent"] is None}
    return median([per.get(op, 0.0) for op in ops])


def _generic_layers(res: Result) -> dict:
    """The per_layer metrics every workload reports."""
    tr = res.tracer
    roots = tr.roots()
    tot = {k: [] for k in ("jobs", "stages", "tasks")}
    for r in roots:
        for k in tot:
            tot[k].append(
                tr.spans[r][k] + sum(tr.spans[d].get(k, 0) for d in tr.descendants(r))
            )
    return {
        "spark.jobs": median(tot["jobs"]),
        "spark.stages": median(tot["stages"]),
        "spark.tasks": median(tot["tasks"]),
        "cache.pinned_rdds": max(tr.spans[r].get("pinned_rdds", 0) for r in roots),
        "catalog.load_table.calls": _per_op(tr, "catalog.load_table", lambda i: 1),
        "catalog.load_table.s": _per_op(tr, "catalog.load_table", tr.dur),
        "jvm.jit_s": mean([c["jit_s"] for t, c in res.clocks if t]),
        "jvm.gc_s": mean([c["gc_s"] for t, c in res.clocks if t]),
        "trace.op_cpu_s.mean": mean(res.traced_op_cpu_s),
        "trace.overhead": sum(res.traced_op_cpu_s) / sum(res.op_cpu_s) - 1.0,
        "trace.root_residual_s": tr.root_residual(),
    }


def _wrap_load_table(tr: Tracer) -> None:
    """Span every ``load_table`` call, patched where each caller looks
    the name up (module-level imports) and on ``catalog`` itself (for
    function-local imports)."""
    from py_etl_pipeline_woocommerce_spark import catalog

    orig = catalog.load_table
    mods = [
        m
        for n, m in list(sys.modules.items())
        if m is not None
        and (n.startswith("py_etl_pipeline_woocommerce_spark") or n == "__spark_entry__")
        and getattr(m, "load_table", None) is orig
    ]
    for m in mods:
        tr.wrap(m, "load_table", "catalog.load_table")


# ---------------------------------------------------------------------
# woo_ingest: the write path
# ---------------------------------------------------------------------

def _fct_listing(wh: str) -> dict:
    out = {}
    for t in ("fct_orders", "fct_order_items"):
        for d, _, files in os.walk(os.path.join(wh, t)):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(d, f)
                    st = os.stat(p)
                    out[p] = (st.st_size, st.st_mtime_ns)
    return out


def woo_ingest(ctx: Ctx) -> Result:
    from pyspark.sql import functions as F

    from py_etl_pipeline_woocommerce_spark.plans import woo_flow
    from py_etl_pipeline_woocommerce_spark.sources.state import WatermarkStore
    from woo_store import EPOCH, HISTORY_DAYS, NOW0, WooStore, iso

    env = ctx.env
    t_setup = time.perf_counter()
    spark = env.start_spark()
    sc = spark.sparkContext
    res = Result(tracer=Tracer(sc))
    tr = res.tracer
    wh = env.path("wh")
    state = WatermarkStore(env.path("state.json"))
    state.set_since(iso(EPOCH - 86_400))
    counters = None
    if ctx.trace:
        counters = {k: sc.accumulator(0) for k in ("orders", "products", "refunds")}
    store = WooStore(ctx.seed, 0, counters)
    progress = {"visible": store.first_after(NOW0 - 1), "now": NOW0}
    history = store.at(progress["visible"])
    for _, end in woo_flow.backfill_windows(iso(EPOCH), iso(NOW0), HISTORY_DAYS):
        woo_flow.incremental_run(
            spark, history, state, wh, before_iso=end, overlap_minutes=1
        )

    def drop() -> int:
        """Open one more day of orders and ingest it; returns its size."""
        progress["now"] += 86_400
        nxt = store.first_after(progress["now"] - 1)
        woo_flow.incremental_run(spark, store.at(nxt), state, wh, overlap_minutes=1)
        n, progress["visible"] = nxt - progress["visible"], nxt
        return n

    if ctx.trace:
        # the first upsert into a month that holds rows runs cold; a
        # traced run spends it here, so that both of its pairs are warm
        drop()
    res.setup_s = time.perf_counter() - t_setup
    visible = progress["visible"]

    if ctx.trace:
        tr.wrap(woo_flow, "stage_raw_orders", "woo_flow.stage_raw_orders")
        tr.wrap(woo_flow, "build_facts", "woo_flow.build_facts")
        tr.wrap(woo_flow, "_upsert_table", "woo_flow._upsert_table")
        tr.wrap(woo_flow, "upsert_partitioned_parquet", "upsert.upsert_partitioned_parquet")
        tr.wrap(WatermarkStore, "set_since", "state.set_since")
    loads: list[dict] = []

    def cycle(_, traced: bool) -> None:
        calls0 = {k: a.value for k, a in (counters or {}).items()}
        before = _fct_listing(wh) if traced else None
        with tr.span("woo_flow.incremental_run"):
            n = drop()
        if traced:
            after = _fct_listing(wh)
            new = {p: v for p, v in after.items() if before.get(p) != v}
            written = sum(v[0] for v in new.values())
            months = {os.path.dirname(p) for p in new if "fct_orders" in p}
            total = sum(v[0] for v in after.values())
            # bytes the drop's rows take at the table's mean row size
            drop_bytes = total * n / progress["visible"]
            loads.append({
                "months": len(months),
                "bytes": written,
                "amp": written / drop_bytes if drop_bytes else 0.0,
                "calls": {k: a.value - calls0[k] for k, a in counters.items()},
            })

    # one drop: the first upsert into a month that holds rows. A traced
    # run times two pairs, untraced-traced-traced-untraced, so the
    # partition's growth cancels out of the tracing overhead
    n = 2 if ctx.trace else 1
    _run_ops(env, res, cycle, _paired([None] * n, [None] * n if ctx.trace else None))
    tr.restore()
    res.peak_rss_mb = env.peak_rss_mb()
    res.work_done = progress["visible"] - visible

    # --- correctness: warehouse digest, watermark, unique keys --------
    loaded = progress["visible"]
    want = store.expected_digest(loaded)
    fo = spark.read.parquet(os.path.join(wh, "fct_orders"))
    fi = spark.read.parquet(os.path.join(wh, "fct_order_items"))
    cents = lambda c: F.sum(F.round(F.col(c) * 100).cast("long"))  # noqa: E731
    o = fo.groupBy("order_month").agg(
        F.count(F.lit(1)).alias("n"),
        cents("net_total").alias("net"),
        cents("refund_total").alias("ref"),
        F.countDistinct("order_id").alias("ids"),
    ).collect()
    it = fi.groupBy("order_month").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("quantity").alias("q"),
        F.sum("refunded_quantity").alias("rq"),
    ).collect()
    items = {r["order_month"]: r for r in it}
    got = {
        r["order_month"]: (
            r["n"], r["net"], r["ref"], items[r["order_month"]]["n"],
            items[r["order_month"]]["q"], items[r["order_month"]]["rq"],
        )
        for r in o
    }
    dup_free = all(r["n"] == r["ids"] for r in o)
    mark = iso(store.created_s(loaded - 1) - 60)
    ok = got == want and dup_free and state.get_since() == mark
    if not ok:
        print(
            f"woo_ingest: MISMATCH digest_ok={got == want} dup_free={dup_free} "
            f"watermark={state.get_since()} want={mark}\n got={got}\nwant={want}",
            file=sys.stderr,
        )
        res.failed = res.attempted
    res.detail.update(orders_loaded=loaded, watermark=state.get_since())

    if ctx.trace:
        res.layers = _generic_layers(res)
        self_of = lambda n: _per_op(tr, n, tr.self_time)  # noqa: E731
        res.layers.update({
            "woo_flow.incremental_run.self_s": self_of("woo_flow.incremental_run"),
            "woo_flow.stage_raw_orders.self_s": self_of("woo_flow.stage_raw_orders"),
            "woo_flow.build_facts.self_s": self_of("woo_flow.build_facts"),
            "woo_flow._upsert_table.self_s": self_of("woo_flow._upsert_table"),
            "upsert.upsert_partitioned_parquet.s": _per_op(
                tr, "upsert.upsert_partitioned_parquet", tr.dur
            ),
            "state.set_since.s": _per_op(tr, "state.set_since", tr.dur),
            "load.months_rewritten": median([x["months"] for x in loads]),
            "load.bytes_written": median([x["bytes"] for x in loads]),
            "load.write_amp": median([x["amp"] for x in loads]),
        })
        for k in ("orders", "products", "refunds"):
            res.layers[f"rest.calls.{k}"] = median([x["calls"][k] for x in loads])
    return res


# ---------------------------------------------------------------------
# dashboard_page: the read path
# ---------------------------------------------------------------------

FRAMES = (
    "date_bounds", "kpis", "revenue_timeseries", "top_products",
    "category_mix", "geo_rollup", "cohort_retention",
)
#: frame -> the bounded oracle whose window literal is swapped
BOUNDED = {
    "kpis": "kpis_bounded",
    "revenue_timeseries": "revenue_timeseries_bounded",
    "top_products": "top_products_bounded",
    "category_mix": "category_mix_bounded",
    "geo_rollup": "geo_rollup_bounded",
}


#: the pages of one block, in order: a new 30-day window, the default
#: window (``None, None``, the ``date_bounds`` path; set-up has served
#: it already, so this page is a revisit), a new 365-day window and the
#: block's 30-day window again. Half the pages revisit. Every seed gets
#: the same kinds in the same positions, so page costs line up across
#: seeds.
KINDS = ("30d", "default", "365d", "30d_revisit")


def blocks(seed: int, n: int) -> list[list[tuple]]:
    """``n`` seeded blocks of page windows, following ``KINDS``; each
    block draws its own new windows."""
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        w30 = _window(rng, 30)
        out.append([w30, (None, None), _window(rng, 365), w30])
    return out


def _window(rng: random.Random, days: int) -> tuple[str, str]:
    from tables import DAY0, N_DAYS

    d1 = date.fromisoformat(str(DAY0)) + timedelta(days=rng.randrange(0, N_DAYS - days))
    return d1.isoformat(), (d1 + timedelta(days=days - 1)).isoformat()


def dashboard_page(ctx: Ctx) -> Result:
    from py_etl_pipeline_woocommerce_spark.plans import dashboard
    from tables import write_tables

    env = ctx.env
    sf_dir = env.path("sf")
    write_tables(sf_dir, ctx.seed)
    t_setup = time.perf_counter()
    spark = env.start_spark()
    res = Result(tracer=Tracer(spark.sparkContext))
    tr = res.tracer
    served: dict[tuple, dict] = {}
    mismatched_revisit: set = set()

    def serve(w: tuple) -> None:
        payload = dashboard.dashboard_payload(spark, sf_dir, *w)
        rows = {}
        for name in FRAMES:
            with tr.span(f"dashboard.frame.{name}", jobs=True):
                rows[name] = (payload[name].columns, payload[name].collect())
        if w not in served:
            served[w] = rows
        elif _canon(served[w]) != _canon(rows):
            mismatched_revisit.add(w)

    serve((None, None))  # one cold page
    res.setup_s = time.perf_counter() - t_setup

    if ctx.trace:
        _wrap_load_table(tr)
        tr.wrap(dashboard, "dashboard_payload", "dashboard.dashboard_payload")
    untraced, traced = blocks(ctx.seed, 2)
    ops = _paired(untraced, traced if ctx.trace else None)
    _run_ops(env, res, lambda w, _: serve(w), ops)
    tr.restore()
    res.peak_rss_mb = env.peak_rss_mb()
    res.work_done = len(ops)

    # --- correctness: every distinct window against DuckDB ------------
    bad = set(mismatched_revisit)
    for w, rows in served.items():
        verdicts = _dashboard_oracle(sf_dir, w, rows)
        if any(v != "OK" for v in verdicts.values()):
            print(f"dashboard_page: window {w} MISMATCH {verdicts}", file=sys.stderr)
            bad.add(w)
    res.failed += sum(1 for w, _ in ops if w in bad)
    res.detail["distinct_windows"] = len(served)
    res.detail["page_s_by_kind"] = dict(zip(KINDS, res.op_s))
    res.detail["page_cpu_s_by_kind"] = dict(zip(KINDS, res.op_cpu_s))

    if ctx.trace:
        res.layers = _generic_layers(res)
        res.layers["dashboard.dashboard_payload.self_s"] = _per_op(
            tr, "dashboard.dashboard_payload", tr.self_time
        )
        for name in FRAMES:
            span = f"dashboard.frame.{name}"
            res.layers[f"{span}.s"] = _per_op(tr, span, tr.dur)
            res.layers[f"{span}.jobs"] = _per_op(
                tr, span, lambda i: tr.spans[i]["jobs"]
            )
    return res


def _canon(rows: dict) -> dict:
    return {k: sorted(map(tuple, v[1]), key=repr) for k, v in rows.items()}


def _dashboard_oracle(sf_dir: str, w: tuple, rows: dict) -> dict:
    import pandas as pd

    import __spark_entry__ as entry
    from tools.selfcheck import compare

    oracles = entry.oracle_sql()
    if w == (None, None):
        bounds = entry._DEF_BOUNDS
    else:
        nxt = date.fromisoformat(w[1]) + timedelta(days=1)
        bounds = (
            f"o_orderdate >= TIMESTAMP '{w[0]} 00:00:00' "
            f"AND o_orderdate < TIMESTAMP '{nxt.isoformat()} 00:00:00'"
        )
    con = _duck_con(sf_dir)
    try:
        out = {}
        for name in FRAMES:
            sql = oracles[BOUNDED.get(name, name)]
            if name in BOUNDED:
                sql = sql.replace(entry._BOUNDS, bounds)
            cols, got = rows[name]
            spark_df = pd.DataFrame([tuple(r) for r in got], columns=cols)
            out[name] = compare(name, spark_df, con.execute(sql).df())
        return out
    finally:
        con.close()


def _duck_con(sf_dir: str):
    """``tools.selfcheck.duck_con`` over the tables ``tables.py`` writes."""
    import duckdb

    from py_etl_pipeline_woocommerce_spark.catalog import table_path
    from tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


WORKLOADS = {
    "woo_ingest": woo_ingest,
    "dashboard_page": dashboard_page,
}
