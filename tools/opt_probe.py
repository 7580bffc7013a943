"""Optimization-round measurement harness (guide §1).

Times individual declared queries in ISOLATION with the noop sink
(one warmup pass + N timed passes, median reported) and dumps each
query's ``explain("formatted")`` plan to ``plans/<tag>/<name>_<suffix>.txt``
so plan-shape claims are auditable without running Spark.

Usage:
    python tools/opt_probe.py --tag r12 --suffix before q1 q2 ...
    python tools/opt_probe.py --tag r12 --suffix after --passes 5 q1
    python tools/opt_probe.py --tag r12 --suffix before --all   # every HEADLINE query

Same methodology as bench.py (warm pass, clearCache between passes,
median), same data dir / core count env contract. Each pass runs in
its own ``frames.scope()``, released after the timer stops, so no
pass inherits the pinned frames of the one before.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from py_etl_pipeline_woocommerce_spark.functions import frames  # noqa: E402
from py_etl_pipeline_woocommerce_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--tag", default="r12")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--all", action="store_true", help="probe every bench.py HEADLINE query")
    ap.add_argument("--no-plan", action="store_true", help="skip the explain dump (timing only)")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("opt_probe")
    qs = entrymod.queries()
    names = list(args.names)
    if args.all:
        import bench

        names = [n for n in bench.HEADLINE if n not in names] + names
    plan_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.tag,
    )
    os.makedirs(plan_dir, exist_ok=True)

    # warm the JVM + parquet footers
    qs["date_bounds"](spark, sf_dir).count()

    out: dict[str, float] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"opt_probe: {name}")
        with frames.scope():
            df = qs[name](spark, sf_dir)
            if not args.no_plan:
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                with open(os.path.join(plan_dir, f"{name}_{args.suffix}.txt"), "w") as f:
                    f.write(plan)
            df.write.mode("overwrite").format("noop").save()
        spark.catalog.clearCache()
        samples = []
        for _ in range(args.passes):
            with frames.scope():
                # monotonic: an NTP step mid-pass would corrupt a
                # time.time() sample (r12 advice)
                t0 = time.monotonic()
                qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
                samples.append(time.monotonic() - t0)
            spark.catalog.clearCache()
        samples.sort()
        out[name] = round(samples[len(samples) // 2], 3)
        print(f"[probe] {name}: {out[name]}s  (samples {[round(s,3) for s in samples]})", flush=True)
        spark.sparkContext.setJobDescription(None)

    print(json.dumps({"suffix": args.suffix, "times": out}))


if __name__ == "__main__":
    main()
