"""Tracing for the benchmark's per-layer run, from outside the package.

Two sources, both switched on only by ``--trace 1``:

- Spans.  ``Tracer.install`` wraps the public entry points of each
  layer in memory (``Table.open/scan/write/symbols``, ``ohlcv.ohlcv``,
  ``query.q``; ``zdb_spark.server`` imported ``ohlcv`` and ``q`` by name,
  so those names are patched there too).  The benchmark opens its own
  spans around the curation steps.  A span records name, start, end,
  parent and op id, in memory, and is folded when the run ends.
- Spark's event log.  Every op runs under its own job group, so each
  job, task, SQL metric and driver accumulator folds back to the op that
  caused it.  Streaming queries tag their jobs with their run id, which
  the benchmark maps to the op.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SCAN_NODE_PREFIX = "Scan "
PY_TIME = "time to run Python workers"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    info: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Per-op context plus an in-memory span list.

    With ``enabled=False``, ``op`` only notes the calling thread's op and
    ``span`` records nothing, so the timed runs carry no tracing work."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.stream_op: str | None = None  # op of the running stream cycle
        self.run_ids: dict[str, str] = {}  # streaming run id -> op id
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []

    # -- context ------------------------------------------------------- #
    def current_op(self) -> str | None:
        return getattr(self._local, "op", None) or self.stream_op

    @contextmanager
    def op(self, op_id: str):
        """Run the calling thread's Spark jobs under job group ``op_id``."""
        self._local.op = op_id
        self._local.stack = []
        if self.enabled:
            self.spark.sparkContext.setJobGroup(op_id, op_id)
        try:
            yield
        finally:
            self._local.op = None
            if self.enabled:
                self.spark.sparkContext.setLocalProperty(
                    "spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str):
        """Record one span; the body may add to the yielded info dict."""
        info: dict = {}
        if not self.enabled:
            yield info
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        s = Span(name, time.time(), 0.0, parent, self.current_op(), info)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(s)
        stack.append(idx)
        try:
            yield info
        finally:
            s.end = time.time()
            stack.pop()

    # -- patching ------------------------------------------------------ #
    def _wrap(self, fn, name: str, before=None, after=None):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with self.span(name) as info:
                state = before(a) if before else None
                out = fn(*a, **kw)
                if after:
                    after(a, out, state, info)
                return out
        return wrapper

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def install(self) -> None:
        if not self.enabled:
            return
        from zdb_spark import ohlcv as ohlcv_mod
        from zdb_spark import query as query_mod
        from zdb_spark import server as server_mod
        from zdb_spark.table import Table

        def files_before(a):
            return parquet_files(a[0].path)

        def files_after(a, _out, before, info):
            info["new_files"] = parquet_files(a[0].path) - before

        def bars(_a, out, _s, info):
            info["bars"] = sum(len(r["t"]) for r in out["results"].values())

        self._set(Table, "open", classmethod(self._wrap(
            Table.__dict__["open"].__func__, "table.open")))
        self._set(Table, "scan", self._wrap(Table.scan, "table.scan"))
        self._set(Table, "write", self._wrap(Table.write, "table.write",
                                             files_before, files_after))
        self._set(Table, "symbols", self._wrap(Table.symbols,
                                               "table.symbols"))
        traced_ohlcv = self._wrap(ohlcv_mod.ohlcv, "ohlcv", after=bars)
        traced_q = self._wrap(query_mod.q, "query")
        for mod in (ohlcv_mod, server_mod):
            self._set(mod, "ohlcv", traced_ohlcv)
        for mod in (query_mod, server_mod):
            self._set(mod, "q", traced_q)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)


def parquet_files(root: str) -> int:
    n = 0
    for _, _, files in os.walk(root):
        n += sum(f.endswith(".parquet") for f in files)
    return n


# --------------------------------------------------------------------- #
# event log                                                             #
# --------------------------------------------------------------------- #
def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single) application logged under ``log_dir``;
    rolling v2 layout, zstd-compressed, read after the session stopped."""
    import pyarrow as pa

    def index(path: str) -> int:
        return int(os.path.basename(path).split("_")[1])

    events: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*")),
                       key=index):
        if path.endswith(".zstd"):
            with pa.CompressedInputStream(pa.OSFile(path), "zstd") as s:
                text = s.read().decode()
        else:
            with open(path) as f:
                text = f.read()
        events.extend(json.loads(line) for line in text.splitlines()
                      if line.strip())
    return events


@dataclass
class OpProfile:
    jobs: list[tuple[int, float, float]] = field(default_factory=list)
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    python_ms: float = 0.0
    shuffle_bytes: int = 0
    scan_rows: int = 0
    scan_files: list[int] = field(default_factory=list)
    pandas_rows: int = 0


def fold_event_log(events: list[dict],
                   group_to_op: dict[str, str]) -> dict[str, OpProfile]:
    """Per-op profile: job spans, task counts, executor run/CPU/GC time,
    Python-worker time, shuffle bytes, rows and files read by scans.
    ``group_to_op`` maps a job group to its op id (identity for the
    benchmark's own groups, run id -> op for streaming)."""
    acc_kind: dict[int, str] = {}   # accumulator id -> metric we keep

    def walk(node: dict) -> None:
        name = node.get("nodeName", "")
        for m in node.get("metrics", []):
            if name.startswith(SCAN_NODE_PREFIX):
                if m["name"] == "number of output rows":
                    acc_kind[m["accumulatorId"]] = "scan_rows"
                elif m["name"] == "number of files read":
                    acc_kind[m["accumulatorId"]] = "scan_files"
            elif name == "MapInPandas" and m["name"] == "number of output rows":
                acc_kind[m["accumulatorId"]] = "pandas_rows"
        for c in node.get("children", []):
            walk(c)

    exec_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    job_start: dict[int, float] = {}
    prof: dict[str, OpProfile] = {}

    def profile(group: str | None) -> OpProfile | None:
        op = group_to_op.get(group or "")
        if op is None:
            return None
        return prof.setdefault(op, OpProfile())

    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart"):
            walk(e["sparkPlanInfo"])
            if e.get("jobGroupId"):
                exec_group[e["executionId"]] = e["jobGroupId"]
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            walk(e["sparkPlanInfo"])
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            job_group[e["Job ID"]] = g
            job_start[e["Job ID"]] = e["Submission Time"]
            for s in e["Stage IDs"]:
                stage_job[s] = e["Job ID"]
            if "spark.sql.execution.id" in props and g:
                exec_group.setdefault(int(props["spark.sql.execution.id"]), g)
        elif kind == "SparkListenerJobEnd":
            p = profile(job_group.get(e["Job ID"]))
            if p is not None:
                p.jobs.append((e["Job ID"], job_start[e["Job ID"]],
                               e["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            p = profile(job_group.get(stage_job.get(e["Stage ID"])))
            if p is None:
                continue
            m = e.get("Task Metrics") or {}
            p.tasks += 1
            p.run_ms += m.get("Executor Run Time", 0)
            p.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
            p.gc_ms += m.get("JVM GC Time", 0)
            p.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            for a in e["Task Info"].get("Accumulables", []):
                k = acc_kind.get(a["ID"])
                if k in ("scan_rows", "pandas_rows"):
                    setattr(p, k, getattr(p, k) + int(a.get("Update", 0)))
                elif a.get("Name") == PY_TIME:
                    p.python_ms += float(a.get("Update", 0))
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            p = profile(exec_group.get(e["executionId"]))
            if p is None:
                continue
            for acc_id, value in e["accumUpdates"]:
                if acc_kind.get(acc_id) == "scan_files":
                    p.scan_files.append(int(value))
    return prof


def covered_ms(intervals: list[tuple[float, float]], lo: float,
               hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total
