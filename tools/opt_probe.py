#!/usr/bin/env python
"""Optimization-round probe: time + plan-capture for named queries.

Runs each named query in ONE session: writes .explain('formatted') to
plans/r18/<name>_<tag>.txt and times the noop-sink write N times
(cache-cleared before each), reporting every sample and the min.  Use
the same session/invocation to A/B two trees' numbers — this box's
cross-run windows are not comparable (BASELINE_LOCAL.md).

Usage: python tools/opt_probe.py --queries a,b,c [--tag before]
       [--runs 3] [--sf-dir /root/testdata/sf0.1] [--no-plan]
"""
from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True)
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    ap.add_argument("--no-plan", action="store_true")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from zdb_spark.session import get_spark

    spark = get_spark("opt-probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    # Warmup: JVM + page cache (mirrors bench.py).
    try:
        qs["pricing_summary"](spark, args.sf_dir).count()
        for t in ("events", "orders", "customer", "nation", "region",
                  "documents", "embeddings"):
            spark.read.parquet(f"{args.sf_dir}/{t}.parquet").count()
    except Exception as exc:
        print(f"warmup failed: {exc!r}", file=sys.stderr)

    plans_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", "r19")
    os.makedirs(plans_dir, exist_ok=True)

    for name in args.queries.split(","):
        name = name.strip()
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"probe:{name}")
        if not args.no_plan:
            df = fn(spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(plans_dir,
                                   f"{name}_{args.tag}.txt"), "w") as fh:
                fh.write(plan)
            spark.catalog.clearCache()
        samples = []
        for _ in range(args.runs):
            spark.catalog.clearCache()
            t0 = time.time()
            (fn(spark, args.sf_dir).write.format("noop")
             .mode("overwrite").save())
            samples.append(round(time.time() - t0, 3))
        print(f"[probe] {name}: min={min(samples)} samples={samples}",
              flush=True)
        spark.sparkContext.setJobDescription(None)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
