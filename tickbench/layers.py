"""Fold a traced run into the per-layer metrics.

Each metric is one number per run.  Times are medians over the spans or
ops that exercise the layer; ``spark.*`` are means per measured op (a
total divided by the op count).  A layer the workload never calls
reports 0, which is the prediction for it: every per-layer metric names
the workload and end-to-end metric it should move (WORKLOADS.md), and
should read the same on the others.
"""

from __future__ import annotations

import statistics

from tracing import covered_ms, fold_event_log, parquet_files, read_event_log

UNITS = {
    "session.start_s": "s",
    "server.http_ms": "ms", "server.resp_bytes": "bytes",
    "table.open_ms": "ms", "table.scan_ms": "ms",
    "table.files_per_scan": "count", "table.files_total": "count",
    "table.write_ms": "ms", "table.write_jobs": "count",
    "table.files_per_append": "count",
    "ohlcv.self_ms": "ms", "ohlcv.rows_per_bar": "ratio",
    "query.self_ms": "ms", "query.python_ms": "ms",
    "query.partials": "count",
    "streaming.cycle_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms", "streaming.overhead_ms": "ms",
    "dedup.exact_ms": "ms", "dedup.clusters_ms": "ms",
    "dedup.clusters_jobs": "count", "text.quality_ms": "ms",
    "curation.contamination_ms": "ms",
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count",
    "spark.exec_run_ms": "ms", "spark.exec_cpu_ms": "ms",
    "spark.gc_ms": "ms", "spark.python_ms": "ms",
    "spark.shuffle_bytes": "bytes", "spark.driver_ms": "ms",
    "trace.p50_ms": "ms",
    "append_p50_ms": "ms", "append_tail_ms": "ms",
}


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def per_layer(out, tracer, start_s: float, log_dir: str,
              values: dict) -> dict:
    spans = tracer.spans
    measured = [o for o in out.ops if o.cls != "verify"]
    ids = {o.id for o in measured}
    setup_ids = {s.op for s in spans if s.op and s.op.startswith("setup-")}
    groups = {g: g for g in ids | setup_ids}
    groups.update({r: op for r, op in tracer.run_ids.items() if op in ids})
    prof = fold_event_log(read_event_log(log_dir), groups)

    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def self_ms(i: int) -> float:
        return spans[i].ms - sum(c.ms for c in children.get(i, []))

    def named(name: str, ops=ids):
        return [(i, s) for i, s in enumerate(spans)
                if s.name == name and s.op in ops]

    def jobs_in(s) -> int:
        p = prof.get(s.op)
        lo, hi = s.start * 1000.0, s.end * 1000.0
        return sum(lo <= start <= hi for _, start, _ in p.jobs) if p else 0

    m: dict[str, float] = {"session.start_s": start_s,
                           "trace.p50_ms": values["p50_ms"],
                           "append_p50_ms": values["append_p50_ms"],
                           "append_tail_ms": values["append_tail_ms"]}

    # server: client latency minus the data-layer calls the handler made
    handler = {s.op: i for i, s in enumerate(spans)
               if s.name == "server.handler" and s.op in ids}
    m["server.http_ms"] = _med(
        o.ms - sum(c.ms for c in children.get(handler[o.id], []))
        for o in measured if o.id in handler)
    m["server.resp_bytes"] = _med(o.args["resp_bytes"] for o in measured
                                  if "resp_bytes" in o.args)

    # table: reads under measured ops; writes there too, else in set-up
    m["table.open_ms"] = _med(s.ms for _, s in named("table.open"))
    m["table.scan_ms"] = _med(s.ms for _, s in named("table.scan"))
    scan_ops = {s.op for _, s in named("table.scan")}
    m["table.files_per_scan"] = _med(
        f for op in scan_ops if op in prof for f in prof[op].scan_files)
    m["table.files_total"] = max(
        [parquet_files(p) for p in out.layer.get("tables", [])], default=0)
    writes = named("table.write") or named("table.write", setup_ids)
    m["table.write_ms"] = _med(s.ms for _, s in writes)
    m["table.write_jobs"] = _med(jobs_in(s) for _, s in writes)
    m["table.files_per_append"] = _med(s.info.get("new_files", 0)
                                       for _, s in writes)

    ohlcv = named("ohlcv")
    m["ohlcv.self_ms"] = _med(self_ms(i) for i, _ in ohlcv)
    bars = sum(s.info.get("bars", 0) for _, s in ohlcv)
    scanned = sum(prof[op].scan_rows for op in {s.op for _, s in ohlcv}
                  if op in prof)
    m["ohlcv.rows_per_bar"] = scanned / bars if bars else 0.0

    query = named("query")
    m["query.self_ms"] = _med(self_ms(i) for i, _ in query)
    q_ops = [s.op for _, s in query if s.op in prof]
    m["query.python_ms"] = _med(prof[op].python_ms for op in q_ops)
    m["query.partials"] = _med(prof[op].pandas_rows for op in q_ops)

    # streaming: Spark's own per-trigger phases, plus the cycle around them
    cycles = [o for o in measured if o.cls == "append"]
    phases = [p.get("durationMs", {}) for p in out.layer.get("progress", [])
              if p["op"] in ids]
    m["streaming.cycle_ms"] = _med(o.ms for o in cycles)
    for key, name in (("addBatch", "add_batch_ms"),
                      ("walCommit", "wal_commit_ms"),
                      ("commitOffsets", "commit_offsets_ms"),
                      ("latestOffset", "latest_offset_ms")):
        m[f"streaming.{name}"] = _med(d.get(key, 0) for d in phases)
    write_ms = {}
    for _, s in named("table.write"):
        write_ms[s.op] = write_ms.get(s.op, 0.0) + s.ms
    m["streaming.overhead_ms"] = _med(o.ms - write_ms.get(o.id, 0.0)
                                      for o in cycles)

    # curation steps: the benchmark's own spans around each step
    for step, name in (("dedup.exact", "dedup.exact_ms"),
                       ("dedup.clusters", "dedup.clusters_ms"),
                       ("text.quality", "text.quality_ms"),
                       ("curation.contamination",
                        "curation.contamination_ms")):
        m[name] = _med(s.ms for _, s in named(step))
    m["dedup.clusters_jobs"] = _med(jobs_in(s)
                                    for _, s in named("dedup.clusters"))

    # Spark: who owns an op's time, per measured op
    n = len(measured)
    per = [prof.get(o.id) for o in measured]
    present = [p for p in per if p is not None]

    def mean(attr: str) -> float:
        return sum(getattr(p, attr) for p in present) / n

    m["spark.jobs_per_op"] = sum(len(p.jobs) for p in present) / n
    m["spark.tasks_per_op"] = mean("tasks")
    m["spark.exec_run_ms"] = mean("run_ms")
    m["spark.exec_cpu_ms"] = mean("cpu_ms")
    m["spark.gc_ms"] = mean("gc_ms")
    m["spark.python_ms"] = mean("python_ms")
    m["spark.shuffle_bytes"] = mean("shuffle_bytes")
    m["spark.driver_ms"] = sum(
        o.ms - (covered_ms([(a, b) for _, a, b in p.jobs],
                           o.start * 1000.0, o.end * 1000.0) if p else 0.0)
        for o, p in zip(measured, per)) / n
    return {k: {"value": float(m[k]), "unit": UNITS[k]} for k in UNITS}
