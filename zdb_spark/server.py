"""Thin HTTP layer reproducing the reference's API surface (SURVEY.md §2.8)
in front of one long-lived SparkSession.

Contracts (same URL shapes, JSON bodies, error style as
/root/reference/src/server/mod.rs:71-153):
- ``GET  /``                                → hello page
- ``GET  /symbols/{table}/{column}``        → JSON array of symbol strings
- ``GET  /ohlcv/{table}/{from}/{to}?symbols=A,B`` →
  ``{results: {SYM: {t,o,h,l,c,v}}, min_date, max_date}``
- ``POST /q`` ``{table, query, from, to}``  → query result as JSON

Differences, by design:
- ``/q`` bodies contain PYTHON defining ``def scan(colA, colB...)``
  (pandas Series args) instead of Julia — the same
  "scripting-language-as-query-language" thesis with Spark owning the
  parallelism (SURVEY.md §2.5 mapping).  Executing request bodies is
  exactly as trusting as the reference's embedded-Julia endpoint; bind to
  localhost and front with auth in any real deployment.
- Results serialize as JSON by default.  The reference returns Julia
  ``Serialization`` binary (/root/reference/src/server/query.rs:234-246);
  the language-native-binary parity mode here is ``"format": "pickle"``
  in the request body → ``application/octet-stream`` pickle of the raw
  result object (exact dtypes, no JSON coercion).  Same trust model as
  the endpoint itself: /q already executes request bodies, so a
  pickle-consuming CLIENT of this loopback server adds no new exposure.
- Errors are 400s with text messages mirroring the reference's
  (table missing / column missing / must-define-scan).

The handler is intentionally framework-free (http.server) — the container
has no Flask; ThreadingHTTPServer threads replace the reference's
fork-per-connection workers (/root/reference/src/main.rs:16-49) and submit
to one session whose scheduler runs FIFO (no ``spark.scheduler.mode``).
"""

from __future__ import annotations

import json
import traceback
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import SparkSession

from .functions.scalar import string_to_nanoseconds
from .ohlcv import ohlcv
from .query import QueryError, q
from .table import Table, TableNotFoundError

__all__ = ["make_server", "serve"]

_HELLO = b"<html><body><h1>zdb-spark</h1><p>PySpark-native analytics engine" \
         b"</p></body></html>"


def _persisted_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of currently-persisted RDDs (cached DataFrames appear here
    once materialized)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def _sweep_new_caches(spark: SparkSession, before: set[int]) -> None:
    """Unpersist every RDD cached since ``before`` was snapshotted —
    the backstop for request bodies that cache and never release."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for entry in jmap.entrySet().toArray():
        if int(entry.getKey()) not in before:
            entry.getValue().unpersist()


def _json_default(v):
    import datetime as dt

    if isinstance(v, (dt.date, dt.datetime)):
        return str(v)
    # array-shaped FIRST: ndarrays/Series also expose .item(), which
    # raises for size != 1 — checking .item() first made the tolist
    # branch unreachable and 400'd every array-shaped /q result
    if hasattr(v, "columns") and hasattr(v, "to_dict"):  # pandas DataFrame
        return v.to_dict(orient="list")
    if hasattr(v, "tolist"):  # numpy array / pandas Series
        return v.tolist()
    if hasattr(v, "item"):  # numpy scalar
        return v.item()
    return str(v)


def make_server(spark: SparkSession, home: str | None = None,
                host: str = "127.0.0.1", port: int = 7878,
                allow_remote: bool = False) -> ThreadingHTTPServer:
    """Build (don't start) the HTTP server bound to the given session.

    SECURITY: ``POST /q`` executes Python from the request body (reference
    parity with zdb's embedded Julia — /root/reference/src/server/query.rs).
    Binding to a non-loopback host therefore exposes unauthenticated remote
    code execution; it is refused unless ``allow_remote=True`` is passed
    explicitly.
    """
    if not allow_remote and host not in ("127.0.0.1", "localhost", "::1"):
        raise ValueError(
            f"refusing to bind {host!r}: /q executes request bodies; "
            "pass allow_remote=True only behind auth you trust")

    import threading

    # /q cache-sweep coordination: RDD ids are session-global, so a
    # per-request before/after sweep can unpersist a CONCURRENT request's
    # fresh intermediates (recompute-only, but a real slowdown under
    # load).  Reference-count in-flight /q requests instead: the FIRST
    # request of an overlapping group snapshots the baseline, and only
    # the LAST one out sweeps everything newer — no in-flight request
    # ever loses a cache.  Under continuous overlap the sweep defers to
    # the next idle gap; leaked blocks are bounded by the overlap window,
    # not the server lifetime.
    sweep_lock = threading.Lock()
    sweep_state = {"inflight": 0, "baseline": set()}

    def _enter_q() -> None:
        with sweep_lock:
            if sweep_state["inflight"] == 0:
                sweep_state["baseline"] = _persisted_rdd_ids(spark)
            sweep_state["inflight"] += 1

    def _exit_q() -> None:
        with sweep_lock:
            sweep_state["inflight"] -= 1
            if sweep_state["inflight"] == 0:
                _sweep_new_caches(spark, sweep_state["baseline"])

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        # -- plumbing ---------------------------------------------------- #
        def _send(self, code: int, body: bytes,
                  ctype: str = "application/json") -> None:
            self.send_response(code)
            self.send_header("content-type", ctype)
            self.send_header("content-length", str(len(body)))
            # same CORS header the reference adds
            # (/root/reference/src/server/mod.rs:25)
            self.send_header("access-control-allow-origin", "*")
            self.end_headers()
            self.wfile.write(body)

        def _err(self, msg: str) -> None:
            self._send(400, msg.encode(), "text/plain")

        # -- routes ------------------------------------------------------ #
        def do_GET(self) -> None:  # noqa: N802 (http.server API)
            try:
                url = urlparse(self.path)
                parts = [p for p in url.path.split("/") if p]
                if not parts:
                    self._send(200, _HELLO, "text/html")
                elif parts[0] == "ui":
                    # candlestick UI — the reference ships a React+uPlot
                    # frontend (frontend/src/entry.jsx); same form →
                    # /ohlcv fetch → per-symbol candlestick+volume
                    # render, as one dependency-free page
                    from .frontend import UI_HTML
                    self._send(200, UI_HTML, "text/html")
                elif parts[0] == "favicon.ico":
                    # parity with the reference's cached static icon
                    # (/root/reference/src/server/mod.rs:71-81)
                    self.send_response(200)
                    self.send_header("content-type", "image/x-icon")
                    self.send_header("cache-control",
                                     "public, max-age=31536000")
                    self.send_header("content-length", "0")
                    self.end_headers()
                elif parts[0] == "symbols" and len(parts) == 3:
                    self._symbols(parts[1], parts[2])
                elif parts[0] == "ohlcv" and len(parts) == 4:
                    qs = parse_qs(url.query)
                    syms = [s for s in
                            qs.get("symbols", [""])[0].split(",") if s]
                    self._ohlcv(parts[1], parts[2], parts[3], syms,
                                qs.get("every", [None])[0])
                else:
                    self._err(f"unknown path {url.path}")
            except TableNotFoundError as e:
                self._err(str(e))
            except Exception as e:
                self._err(f"{type(e).__name__}: {e}")

        def do_POST(self) -> None:  # noqa: N802
            try:
                if urlparse(self.path).path != "/q":
                    self._err("unknown path")
                    return
                n = int(self.headers.get("content-length", 0))
                body = json.loads(self.rfile.read(n))
                self._q(body)
            except (TableNotFoundError, QueryError) as e:
                # reference-shaped validation texts go out verbatim
                self._err(str(e))
            except Exception as e:
                traceback.print_exc()
                self._err(f"{type(e).__name__}: {e}")

        # -- endpoint impls ---------------------------------------------- #
        def _symbols(self, table: str, column: str) -> None:
            t = Table.open(spark, table, home)
            self._send(200, json.dumps(t.symbols(column)).encode())

        def _ohlcv(self, table: str, from_s: str, to_s: str,
                   symbols: list[str], every: str | None = None) -> None:
            # ?every=5m resamples stored bars — the reference's
            # "TODO: duration like 5Minutes" (ohlcv.rs:56), implemented
            t = Table.open(spark, table, home)
            out = ohlcv(t, string_to_nanoseconds(from_s),
                        string_to_nanoseconds(to_s), symbols or None,
                        every=every)
            self._send(200, json.dumps(out, default=_json_default).encode())

        def _q(self, body: dict) -> None:
            for k in ("table", "query"):
                if k not in body:
                    self._err(f"missing field {k!r}")
                    return
            t = Table.open(spark, body["table"], home)
            # lazy defaults: dict.get evaluates its default eagerly, so
            # the manifest-stat reads would run even with bounds supplied
            from_ts = (body["from"] if "from" in body
                       else t.get_first_ts() or 0)
            to_ts = (body["to"] if "to" in body
                     else t.get_last_ts() or 0)
            if isinstance(from_ts, str):
                from_ts = string_to_nanoseconds(from_ts)
            if isinstance(to_ts, str):
                to_ts = string_to_nanoseconds(to_ts)
            # Cache-release discipline: request bodies are arbitrary code
            # and may run operators that cache intermediates (the pair
            # operators' signature frames) without calling
            # dedup.release() — in a long-lived server session those
            # retained blocks accumulate forever.  Group-refcounted
            # sweep: last in-flight /q out unpersists everything cached
            # since the group began (see _enter_q/_exit_q above).
            _enter_q()
            try:
                # reference contract: the query text must define `scan`
                # (/root/reference/src/server/query.rs:156-165); evaluated
                # in a throwaway namespace so repeated queries reset state.
                ns: dict = {}
                exec(compile(body["query"], "<query>", "exec"), ns)  # noqa: S102
                if "scan" not in ns:
                    self._err("query must define a function named scan")
                    return
                fmt = body.get("format", "json")
                if fmt not in ("json", "pickle"):
                    # reject BEFORE executing the (arbitrarily expensive)
                    # query, not after
                    self._err(f"unknown format {fmt!r} (json|pickle)")
                    return
                res = q(t, ns["scan"], from_ts, to_ts,
                        ordered=bool(body.get("ordered", False)))
                if fmt == "pickle":
                    # Julia-Serialization parity: language-native binary
                    # of the RAW result (query.rs:234-246) — dtypes
                    # survive exactly (ndarray stays ndarray), unlike the
                    # JSON coercion below.
                    import pickle as _pickle

                    self._send(200, _pickle.dumps(res),
                               ctype="application/octet-stream")
                else:
                    self._send(200, json.dumps({"result": res},
                                               default=_json_default).encode())
            finally:
                _exit_q()

    return ThreadingHTTPServer((host, port), Handler)


def serve(spark: SparkSession, home: str | None = None,
          host: str = "127.0.0.1", port: int = 7878,
          allow_remote: bool = False) -> None:
    """Blocking serve loop.

    ``/q`` executes request bodies — keep ``host`` loopback (the default)
    unless fronted by auth; see ``make_server`` for the guard.
    """
    srv = make_server(spark, home, host, port, allow_remote)
    try:
        srv.serve_forever()
    finally:
        srv.server_close()
