#!/usr/bin/env python
"""Per-query Spark job/stage/task profile for the optimization round.

Runs each named query once (noop sink) in one session and records, via
a SparkListener, how many jobs/stages/tasks the query issued and the
summed task time — the cheap proxy for "extra actions" (driver-side
checks, multi-materialization) and "extra shuffles" that per-query wall
time alone hides.  Queries whose job count exceeds ~2 (cache fill +
final action) or whose stage count is far above the plan's Exchange
count are the structural-optimization candidates (guide §1/§2.4).

Usage: python tools/opt_jobstats.py --queries a,b,c [--sf-dir ...]
       python tools/opt_jobstats.py --all        # every bench query
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    args = ap.parse_args()

    import __spark_entry__ as entry
    from zdb_spark.session import get_spark

    spark = get_spark("opt-jobstats")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    names = (sorted(qs) if args.all
             else [q.strip() for q in args.queries.split(",")])

    # Warmup (mirrors bench.py).
    try:
        qs["pricing_summary"](spark, args.sf_dir).count()
        for t in ("events", "documents", "embeddings"):
            spark.read.parquet(f"{args.sf_dir}/{t}.parquet").count()
    except Exception as exc:
        print(f"warmup failed: {exc!r}", file=sys.stderr)

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    rows = []
    for name in names:
        fn = qs[name]
        spark.catalog.clearCache()
        sc.setJobGroup(f"js:{name}", name)
        t0 = time.time()
        try:
            fn(spark, args.sf_dir).write.format("noop") \
                .mode("overwrite").save()
            err = None
        except Exception as exc:
            err = repr(exc)[:200]
        wall = time.time() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        jids = tracker.getJobIdsForGroup(f"js:{name}") or []
        n_stages = 0
        n_tasks = 0
        for jid in jids:
            ji = tracker.getJobInfo(jid)
            if ji is None:
                continue
            for sid in ji.stageIds:
                si = tracker.getStageInfo(sid)
                if si is not None and si.numTasks:
                    n_stages += 1
                    n_tasks += si.numTasks
        rows.append({"query": name, "wall": round(wall, 3),
                     "jobs": len(jids), "stages": n_stages,
                     "tasks": n_tasks, "err": err})
        print(f"  {name}: wall={wall:.2f}s jobs={len(jids)} "
              f"stages={n_stages} tasks={n_tasks}"
              + (f" ERR {err}" if err else ""),
              file=sys.stderr, flush=True)
    spark.stop()
    print(json.dumps(rows, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
