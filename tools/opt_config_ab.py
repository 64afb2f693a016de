#!/usr/bin/env python
"""Same-window interleaved config A/B over a query subset.

Starts fresh SparkSessions alternating base config (A) and candidate
config (B) — A,B,A,B — times each query (noop sink, min-of-2 within a
session, cache-cleared), and reports per-query min across same-config
sessions.  Interleaving bounds host drift (BASELINE_LOCAL.md protocol).

Usage: python tools/opt_config_ab.py --queries a,b --conf k=v[,k=v...]
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_pass(conf: dict, queries: list, sf_dir: str, runs: int) -> dict:
    import __spark_entry__ as entry
    from zdb_spark.session import get_spark, stop

    stop()
    # getOrCreate reuses a live JVM gateway but applies SQL confs fresh;
    # to be safe each pass sets confs explicitly on the new session too.
    spark = get_spark("opt-ab", extra_conf=conf)
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    try:
        qs["pricing_summary"](spark, sf_dir).count()
        for t in ("events", "documents", "embeddings"):
            spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    except Exception as exc:
        print(f"warmup failed: {exc!r}", file=sys.stderr)
    out = {}
    for name in queries:
        fn = qs[name]
        best = None
        for _ in range(runs):
            spark.catalog.clearCache()
            t0 = time.time()
            (fn(spark, sf_dir).write.format("noop")
             .mode("overwrite").save())
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
        print(f"  {name}: {out[name]}", file=sys.stderr, flush=True)
    spark.stop()
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True)
    ap.add_argument("--conf", required=True,
                    help="comma-separated k=v pairs for the B side")
    ap.add_argument("--sessions", type=int, default=2,
                    help="sessions PER SIDE (interleaved A,B,A,B,...)")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    args = ap.parse_args()
    queries = [q.strip() for q in args.queries.split(",")]
    bconf = dict(kv.split("=", 1) for kv in args.conf.split(","))

    acc: dict[str, dict[str, float]] = {"A": {}, "B": {}}
    for i in range(args.sessions):
        for side, conf in (("A", {}), ("B", bconf)):
            print(f"[ab] pass {i + 1} side {side}", file=sys.stderr,
                  flush=True)
            res = run_pass(conf, queries, args.sf_dir, args.runs)
            for kq, v in res.items():
                prev = acc[side].get(kq)
                acc[side][kq] = v if prev is None else min(prev, v)
    rows = []
    ta = tb = 0.0
    for q in queries:
        a, b = acc["A"].get(q), acc["B"].get(q)
        if a is None or b is None:
            continue
        ta += a
        tb += b
        rows.append({"query": q, "A": a, "B": b,
                     "ratio": round(b / a, 3)})
    print(json.dumps({"conf": bconf, "rows": rows,
                      "total_A": round(ta, 3), "total_B": round(tb, 3),
                      "ratio": round(tb / ta, 3) if ta else None},
                     indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
