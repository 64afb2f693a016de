"""OHLCV: the reference's one fixed aggregation endpoint, plus the
resampling operator it left as a TODO.

Reference semantics (SURVEY.md §2.3, /root/reference/src/server/ohlcv.rs:47-137):
``GET /ohlcv/{table}/{from}/{to}?symbols=A,B`` scans the fixed projection
``ts,sym,open,high,low,close,volume`` over the time range, filters to the
requested symbol set (empty set = all), groups rows per symbol into parallel
t/o/h/l/c/v arrays, tracks global min/max ts, and returns
``{results: {SYM: {t,o,h,l,c,v}}, min_date, max_date}``.

Notably the reference does NOT resample — it returns stored bars as-is; the
intended-but-unimplemented ``TODO: duration like 5Minutes``
(/root/reference/src/server/ohlcv.rs:56) is implemented here as
``resample``: tumbling time-bucket OHLCV via ``min_by``/``max_by`` (JVM-side,
one shuffle on (bucket, symbol), map-side partial aggregation for free).

Scale notes:
- The long-form DataFrame (one row per (sym, bar)) is the distributed
  product; the nested-arrays JSON shape is assembled only at the API
  boundary (driver-side) because it is per-symbol collect — fine for an
  HTTP chart endpoint, wrong as a distributed operator.
- ``ohlcv()`` runs at most one aggregation: ``every`` buckets on the
  epoch-nanos themselves (``ts - pmod(ts, every_ns)``), and the
  per-symbol arrays are built on the driver from the collected long-form
  rows — the same bars a grouping shuffle would have shipped there.
  Under ``Table._ONE_TASK_BYTES`` of input it is one task, no exchange.
  Bounds, bucket and aggregates are SQL text over validated numbers and
  quoted names only; the requested symbols stay a Column ``isin``.
- ``first/last within bucket`` use ``min_by(open, ts)`` / ``max_by(close,
  ts)`` rather than window functions: single-pass aggregation instead of a
  sort per partition, and deterministic because (ts) is unique per (sym,
  bucket) in tick data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .functions.scalar import nanos_to_ts, to_nanos
from .table import Table, _sql_name

__all__ = ["ohlcv_frame", "ohlcv", "resample", "parse_every",
           "duration_of_nanos", "threshold_bars"]

# URL-friendly duration aliases for the /ohlcv `every` parameter —
# accepts the reference TODO's "5Minutes" shape, compact "5m"/"1h", and
# full Spark duration words.
_EVERY_UNITS = {
    "ms": "milliseconds", "millisecond": "milliseconds",
    "milliseconds": "milliseconds",
    "s": "seconds", "sec": "seconds", "second": "seconds",
    "seconds": "seconds",
    "m": "minutes", "min": "minutes", "minute": "minutes",
    "minutes": "minutes",
    "h": "hours", "hour": "hours", "hours": "hours",
    "d": "days", "day": "days", "days": "days",
}


# nanoseconds per duration unit, largest first; each is a whole number
# of microseconds, so nanosecond buckets match Spark's µs windows exactly
_UNIT_NS = {"days": 86_400 * 10**9, "hours": 3_600 * 10**9,
            "minutes": 60 * 10**9, "seconds": 10**9,
            "milliseconds": 10**6, "microseconds": 10**3}


def parse_every(every: str) -> str:
    """Normalize a user/URL duration ("5m", "1h", "5Minutes",
    "30 seconds") to a Spark window duration string."""
    import re

    m = re.fullmatch(r"\s*(\d+)\s*([a-zA-Z]+)\s*", every or "")
    if not m or m.group(2).lower() not in _EVERY_UNITS \
            or int(m.group(1)) == 0:
        raise ValueError(
            f"cannot parse duration {every!r} "
            "(want e.g. '5m', '1h', '30s', '5 minutes')")
    return f"{int(m.group(1))} {_EVERY_UNITS[m.group(2).lower()]}"

OHLCV_COLS = ("open", "high", "low", "close", "volume")


def ohlcv_frame(table: Table, from_ts, to_ts, symbols: list[str] | None = None,
                symbol_col: str = "sym") -> DataFrame:
    """Distributed long-form OHLCV: stored bars in [from_ts, to_ts] for the
    requested symbols (None/empty = all), one row per bar.

    Mirrors A3-A7 of the endpoint (scan → isin filter → upcast volume),
    leaving grouping to the caller/serializer.
    """
    # the reference swaps reversed ranges (ohlcv.rs:64-66)
    lo, hi = sorted((to_nanos(from_ts), to_nanos(to_ts)))
    ts = table.schema.ts_col
    df = table.scan(lo, hi, [ts, symbol_col, *OHLCV_COLS])
    if symbols:
        # a Column isin: request text never reaches SQL text
        df = df.where(df[symbol_col].isin(list(symbols)))
    return df.selectExpr(*map(_sql_name, (ts, symbol_col, *OHLCV_COLS[:-1])),
                         "CAST(`volume` AS BIGINT) AS `volume`")


def _asc(v):
    """Sort key of one value in Spark's ascending order: nulls first,
    NaN after every number (and -0.0 equal to 0.0, as in Python)."""
    return (0, 0) if v is None else (1, 1) if v != v else (1, 0, v)


def ohlcv(table: Table, from_ts, to_ts, symbols: list[str] | None = None,
          symbol_col: str = "sym", every: str | None = None) -> dict:
    """API-shape result: ``{results: {SYM: {t,o,h,l,c,v}}, min_date,
    max_date}`` (/root/reference/src/server/ohlcv.rs:30-45).

    ``every`` resamples the stored bars to coarser buckets first — the
    reference's unimplemented ``TODO: duration like 5Minutes``
    (/root/reference/src/server/ohlcv.rs:56), accepted in that spelling
    plus "5m"/"1h"/Spark duration words; ``t`` then holds bucket-start
    nanos.  That bucketing is the only aggregation: the long-form bars
    are collected as they are and split into per-symbol parallel
    arrays on the driver, each symbol's bars in ``sort_array`` order
    over the ``(t, o, h, l, c, v)`` struct, symbols sorted with a null
    symbol first.

    BOUNDED DRIVER MATERIALIZATION: every requested bar crosses the
    driver (``collect``), bars-in-range × symbols-requested, a bound the
    CALLER sets with the range, ``symbols`` and ``every`` (a chart is a
    few thousand bars).  Unbounded reads use the lazy ``ohlcv_frame``.
    """
    lo, hi = sorted((to_nanos(from_ts), to_nanos(to_ts)))
    df = ohlcv_frame(table, lo, hi, symbols, symbol_col)
    if every is not None:
        n, unit = parse_every(every).split()
        ts = _sql_name(table.schema.ts_col)
        bucket = f"{ts} - pmod({ts}, {int(n) * _UNIT_NS[unit]}) AS {ts}"
        df = (table._one_task(df, lo, hi)
              .groupBy(F.expr(bucket), F.expr(_sql_name(symbol_col)))
              .agg(*_ohlcv_aggs(table.schema.ts_col)))
    bars: dict = {}
    for r in df.collect():
        bars.setdefault(r[1], []).append((r[0], *r[2:]))
    results: dict[str, dict[str, list]] = {}
    for sym in sorted(bars, key=_asc):
        cols = zip(*sorted(bars[sym], key=lambda b: tuple(map(_asc, b))))
        results[sym] = dict(zip("tohlcv", map(list, cols)))
    # i64 epoch nanos, as the reference's OHLCVsResponse (ohlcv.rs:40-45)
    # and the bundled UI (frontend.py drawChart) read them
    return {
        "results": results,
        "min_date": min((b["t"][0] for b in results.values()), default=None),
        "max_date": max((b["t"][-1] for b in results.values()),
                        default=None),
    }


def duration_of_nanos(ns: int) -> str:
    """Render a nanosecond resolution as a Spark window duration string,
    in the largest unit that divides it evenly ("60000000000 → 1 minutes").
    Sub-microsecond resolutions cannot form a Spark window and raise."""
    if ns <= 0:
        raise ValueError(f"resolution must be positive, got {ns}")
    for unit, width in _UNIT_NS.items():
        if ns % width == 0:
            return f"{ns // width} {unit}"
    raise ValueError(
        f"resolution {ns}ns is sub-microsecond; Spark window durations "
        "bottom out at 1 microsecond — pass an explicit `every`")


def resample(df: DataFrame, every: str | None = None, ts_col: str = "ts",
             symbol_col: str | None = "sym",
             price_col: str | None = None,
             volume_col: str | None = "volume",
             ts_is_nanos: bool = True,
             resolution_ns: int | None = None) -> DataFrame:
    """Tumbling time-bucket OHLCV — the reference's unimplemented
    ``TODO: duration like 5Minutes`` (/root/reference/src/server/ohlcv.rs:56).

    Two modes:
    - ``price_col`` given: raw ticks → bars. open/close = price at min/max
      ts in bucket; high/low = max/min price; volume = sum.
    - ``price_col`` None: re-aggregate stored bars (expects open/high/low/
      close columns). open/close = open/close at min/max ts; high = max
      high; low = min low; volume = sum.

    ``every`` is any Spark window duration ("5 minutes", "1 hour", "1 day").
    When omitted, the bucket defaults to ``resolution_ns`` — the table's
    declared ts resolution (SURVEY §1.3: resolution survives as a semantic
    fact; ``Table.resample`` passes it automatically).  A 1 ns resolution
    (raw ticks, no declared bar width) has no meaningful default and
    raises.  Output columns: bucket_start (TimestampType), symbol (if
    given), open/high/low/close/volume.
    """
    if every is None:
        if resolution_ns is None:
            raise ValueError("pass `every`, or `resolution_ns` for the "
                             "declared-resolution default")
        if resolution_ns == 1:
            raise ValueError(
                "table resolution is 1 ns (raw ticks) — there is no "
                "declared bar width to default to; pass `every`")
        every = duration_of_nanos(resolution_ns)
    ts_utc = nanos_to_ts(ts_col) if ts_is_nanos else F.col(ts_col)
    w = F.window(ts_utc, every)
    keys = [w.alias("w")] + ([F.col(symbol_col)] if symbol_col else [])
    out = df.groupBy(*keys).agg(*_ohlcv_aggs(ts_col, price_col,
                                               volume_col))
    return out.select(F.col("w.start").alias("bucket_start"),
                      *([symbol_col] if symbol_col else []),
                      "open", "high", "low", "close",
                      *(["volume"] if volume_col else []))


def _ohlcv_aggs(ts_col: str, price_col: str | None = None,
                volume_col: str | None = "volume") -> list:
    """The one OHLCV aggregate list: open/close at the min/max ts of the
    bucket, high/low the max/min, volume summed.  Raw ticks read every
    field from ``price_col``; stored bars (``price_col`` None)
    re-aggregate their own open/high/low/close columns."""
    o, h, lo, c = map(_sql_name, (price_col,) * 4 if price_col is not None
                      else ("open", "high", "low", "close"))
    ts = _sql_name(ts_col)
    aggs = [f"min_by({o}, {ts}) AS open", f"max({h}) AS high",
            f"min({lo}) AS low", f"max_by({c}, {ts}) AS close"]
    if volume_col:
        aggs.append(f"sum({_sql_name(volume_col)}) AS volume")
    return [F.expr(a) for a in aggs]


# threshold_bars moved to operators/temporal.py in r18 (hoisted for
# composite coverage, the resample_ticks precedent); re-exported here
# so ohlcv-module users keep their import path.
from .operators.temporal import threshold_bars  # noqa: E402,F401

