"""perfbench runner: one workload, one seed, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload woo_ingest --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` adds a
traced operation of the same kind for each untraced one, prints the
per-layer metrics and writes the spans to ``.perfbench/spans/``. Each
workload runs a fixed number of operations, sized so the timed region
lasts longer than ``--seconds`` (10) at today's speed; the count does
not follow ``--seconds``, so a faster program times the same inputs.
The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``; the line before it is a detail record under the
workload's own metric names. Exits 1 when an output is wrong, 2 when
the run could not complete.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

from harness import RunEnv, mean  # noqa: E402

#: the workload's own name for one operation's wall time
OP_NAME = {
    "woo_ingest": "cycle_s",
    "dashboard_page": "page_s",
}
#: the detail line's name for work done per second
WORK_UNIT = {
    "woo_ingest": "orders_per_s",
    "dashboard_page": "pages_per_s",
}


def end_to_end(res) -> dict:
    return {
        "op_cpu_s.mean": (mean(res.op_cpu_s), "s"),
        "setup_s": (res.setup_s, "s"),
        "peak_rss_mb": (res.peak_rss_mb, "MB"),
    }


def per_layer(layers: dict) -> dict:
    """Every per_layer metric BENCHMARK.json declares; a layer the
    workload never enters reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer"]
    return {m["name"]: (layers.get(m["name"], 0.0), m["unit"]) for m in spec}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(OP_NAME))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        # fail fast, before any scratch state, outside a full checkout
        import __spark_entry__  # noqa: F401
        import workloads
    except ImportError:
        traceback.print_exc()
        return 2

    env = RunEnv(ROOT, BENCH_DIR)
    try:
        ctx = workloads.Ctx(env=env, seed=args.seed, trace=bool(args.trace))
        res = workloads.WORKLOADS[args.workload](ctx)
        if ctx.trace:
            out = os.path.join(ROOT, ".perfbench", "spans", f"{args.workload}-{args.seed}.jsonl")
            res.tracer.dump(out)
            metrics = per_layer(res.layers)
        else:
            metrics = end_to_end(res)
    except Exception:
        traceback.print_exc()
        return 2
    finally:
        env.close()

    op = OP_NAME[args.workload]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        f"{op}.mean": mean(res.op_s),
        # fewer than eleven samples: the tail is the maximum
        f"{op}.tail": max(res.op_s, default=0.0),
        "tail_percentile": 100.0,
        "samples": len(res.op_s),
        "traced_samples": len(res.traced_op_s),
        "timed_s": res.timed_s,
        WORK_UNIT[args.workload]: res.work_done / res.timed_s,
        "error_rate": res.failed / max(1, res.attempted),
        f"{op}.cpu_s.mean": mean(res.op_cpu_s),
        "steal_s": sum(c["steal_s"] for _, c in res.clocks),
        "op_s": res.op_s,
        "traced_op_s": res.traced_op_s,
        **res.detail,
    }
    if args.trace:
        detail["layers"] = res.layers
    print(json.dumps(detail))
    correct = res.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
