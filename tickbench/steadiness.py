"""Run the benchmark on several seeds and report each metric's spread.

    python3 tickbench/steadiness.py --workloads chart_read,tick_ingest \
        --seeds 1-10 --out tickbench/results/steady.jsonl

Each run's three stdout lines are appended to ``--out`` as one JSON
record.  The summary gives, per workload and metric, the median and the
spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median.
``--seconds`` defaults to ``run_seconds`` in ``BENCHMARK.json``.
``--summary FILE`` only re-reads a results file.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_seconds() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["run_seconds"]


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = [json.loads(x) for x in proc.stdout.splitlines()
             if x.startswith("{")]
    rec = {"workload": workload, "seed": seed, "trace": trace,
           "exit": proc.returncode, "elapsed_s": time.time() - t0}
    for line in lines:
        if "stamp" in line:
            rec["stamp"] = line["stamp"]
        else:
            rec["report" if "report" in line else "result"] = line
    if proc.returncode:
        rec["stderr_tail"] = proc.stderr[-2000:]
    return rec


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def summary(records: list[dict]) -> dict:
    by: dict = {}
    for r in records:
        res = r.get("result")
        if not res or r["trace"]:
            continue
        w = by.setdefault(r["workload"], {"runs": 0, "failed": 0,
                                          "metrics": {}})
        w["runs"] += 1
        w["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            w["metrics"].setdefault(k, []).append(v["value"])
    for w in by.values():
        w["metrics"] = {k: dict(zip(("median", "spread"), spread(v)))
                        for k, v in w["metrics"].items() if len(v) >= 2}
    return by


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="chart_read,tick_ingest,"
                    "curate_batch")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=run_seconds())
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--summary")
    args = ap.parse_args()
    if args.summary:
        with open(args.summary) as f:
            records = [json.loads(x) for x in f if x.strip()]
    else:
        records = []
        for w in args.workloads.split(","):
            for s in seeds(args.seeds):
                rec = run_one(w, s, args.seconds, args.trace)
                records.append(rec)
                if args.out:
                    with open(args.out, "a") as f:
                        f.write(json.dumps(rec) + "\n")
                print(f"{w} seed={s} exit={rec['exit']} "
                      f"{rec['elapsed_s']:.1f}s", file=sys.stderr, flush=True)
    print(json.dumps(summary(records), indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
