"""OHLCV endpoint + resample tests: golden values on a tiny deterministic
tick set (the reference's own strategy — seeded synthetic → exact asserts,
/root/reference/tests/main.rs:122-151)."""

import pytest

from pyspark.sql import Row

from zdb_spark.ohlcv import ohlcv, ohlcv_frame, resample
from zdb_spark.schema import ColumnType, PartitionBy, Schema
from zdb_spark.table import Table

NS = 1_000_000_000
MIN = 60 * NS
T0 = 1704067200 * NS  # 2024-01-01T00:00:00Z


def bar_schema(name="bars"):
    return (Schema(name)
            .add_col("sym", ColumnType.SYMBOL16)
            .add_col("open", ColumnType.F64)
            .add_col("high", ColumnType.F64)
            .add_col("low", ColumnType.F64)
            .add_col("close", ColumnType.F64)
            .add_col("volume", ColumnType.U64)
            .with_partition_by(PartitionBy.DAY))


@pytest.fixture()
def bar_table(spark, tmp_home):
    t = Table.create(spark, bar_schema(), home=tmp_home)
    rows = []
    for i in range(4):  # 4 one-minute bars, 2 symbols interleaved
        for sym, base in (("AAPL", 100.0), ("MSFT", 200.0)):
            rows.append(Row(ts=T0 + i * MIN, sym=sym,
                            open=base + i, high=base + i + 1.0,
                            low=base + i - 1.0, close=base + i + 0.5,
                            volume=10 * (i + 1)))
    t.write(spark.createDataFrame(rows))
    return t


class TestOhlcvEndpoint:
    def test_frame_symbol_filter(self, bar_table):
        df = ohlcv_frame(bar_table, T0, T0 + 10 * MIN, symbols=["AAPL"])
        assert df.count() == 4
        assert {r["sym"] for r in df.select("sym").collect()} == {"AAPL"}

    def test_frame_all_symbols(self, bar_table):
        assert ohlcv_frame(bar_table, T0, T0 + 10 * MIN).count() == 8

    def test_frame_stays_lazy(self, bar_table, monkeypatch):
        """ohlcv_frame is the UNBOUNDED path: building it must never
        materialize rows on the driver — only ohlcv() (the JSON
        endpoint serializer, whose driver materialization is
        caller-bounded) collects.  Pins the docstring contract by
        poisoning the materialization entry points for the call."""
        import pytest

        # patch the CONCRETE class (pyspark 4's classic DataFrame
        # overrides the pyspark.sql.DataFrame base methods)
        DataFrame = type(bar_table.spark.range(1))

        def boom(self, *a, **k):
            raise AssertionError("driver materialization in frame path")

        for meth in ("collect", "toPandas", "toLocalIterator"):
            monkeypatch.setattr(DataFrame, meth, boom)
        df = ohlcv_frame(bar_table, T0, T0 + 10 * MIN,
                         symbols=["AAPL"])      # must not raise
        assert df.is_cached is False
        with pytest.raises(AssertionError, match="materialization"):
            ohlcv(bar_table, T0, T0 + 10 * MIN, symbols=["AAPL"])

    def test_reversed_range_swapped(self, bar_table):
        # reference swaps from>to (/root/reference/src/server/ohlcv.rs:64-66)
        assert ohlcv_frame(bar_table, T0 + 10 * MIN, T0).count() == 8

    def test_api_shape(self, bar_table):
        out = ohlcv(bar_table, T0, T0 + 10 * MIN, symbols=["AAPL", "MSFT"])
        assert set(out) == {"results", "min_date", "max_date"}
        # i64 epoch nanos, the reference's OHLCVsResponse field type
        assert out["min_date"] == T0
        a = out["results"]["AAPL"]
        assert a["t"] == [T0 + i * MIN for i in range(4)]
        assert a["o"] == [100.0, 101.0, 102.0, 103.0]
        assert a["h"] == [101.0, 102.0, 103.0, 104.0]
        assert a["v"] == [10, 20, 30, 40]


def sort_array_body(table, lo, hi, symbols=None, every=None):
    """The endpoint body as a Spark-side grouping builds it: window
    resample, then ``sort_array(collect_list(struct))`` per symbol —
    the oracle the driver-side assembly must reproduce."""
    from pyspark.sql import functions as F

    from zdb_spark.functions.scalar import ts_to_nanos
    from zdb_spark.ohlcv import OHLCV_COLS, parse_every

    df = ohlcv_frame(table, lo, hi, symbols)
    if every is not None:
        df = (resample(df, parse_every(every))
              .select(ts_to_nanos(F.col("bucket_start")).alias("ts"),
                      "sym", *OHLCV_COLS))
    rows = (df.groupBy("sym")
            .agg(F.sort_array(F.collect_list(F.struct("ts", *OHLCV_COLS)))
                 .alias("bars"))
            .collect())
    results = {r["sym"]: {k: [b[i] for b in r["bars"]]
                          for i, k in enumerate("tohlcv")} for r in rows}
    ts = [t for b in results.values() for t in b["t"]]
    return {"results": results, "min_date": min(ts, default=None),
            "max_date": max(ts, default=None)}


def comparable(body):
    """repr() per value, so NaN compares equal to NaN."""
    return ({k: {f: [repr(x) for x in v] for f, v in b.items()}
             for k, b in body["results"].items()},
            body["min_date"], body["max_date"])


class TestDriverAssembly:
    """ohlcv() splits the collected long-form bars into per-symbol arrays
    on the driver; every body must equal the Spark-side grouping's."""

    @pytest.fixture()
    def edge_table(self, spark, tmp_home):
        t = Table.create(spark, bar_schema("edges"), home=tmp_home)
        nan = float("nan")
        rows = [
            # one ts, several bars: ties ordered by the remaining fields,
            # nulls first and NaN last, as sort_array orders structs
            (T0, "TIE", 2.0, 3.0, 1.0, 2.5, 10),
            (T0, "TIE", 1.0, 3.0, 1.0, 2.5, 10),
            (T0, "TIE", None, 3.0, 1.0, 2.5, 10),
            (T0, "TIE", nan, 3.0, 1.0, 2.5, 10),
            (T0, "TIE", 1.0, 3.0, 1.0, 2.5, 5),
            (T0 + MIN, "TIE", 4.0, 5.0, 3.0, 4.5, None),
            (T0 + 2 * MIN, None, 7.0, 8.0, 6.0, 7.5, 3),
            (T0 + 3 * MIN, None, 8.0, 9.0, 7.0, 8.5, 4),
            (T0 + 3 * MIN, "B", 9.0, 9.0, 9.0, 9.0, 1),
        ]
        t.write(spark.createDataFrame(
            rows, "ts long, sym string, open double, high double, "
                  "low double, close double, volume long"))
        return t

    @pytest.fixture()
    def pre_epoch_table(self, spark, tmp_home):
        t = Table.create(spark, bar_schema("pre"), home=tmp_home)
        ts = [-2 * NS - 1, -NS - 1_500, -NS, -1_000_001, -1_500, -500,
              0, 999, NS + 1]
        t.write(spark.createDataFrame(
            [(v, "S" if i % 3 else "T", float(i), i + 1.0, i - 1.0,
              i + 0.5, i) for i, v in enumerate(ts)],
            "ts long, sym string, open double, high double, "
            "low double, close double, volume long"))
        return t

    def test_ties_null_symbol_and_nan(self, edge_table):
        got = ohlcv(edge_table, T0, T0 + 10 * MIN)
        assert comparable(got) == comparable(
            sort_array_body(edge_table, T0, T0 + 10 * MIN))
        tie = got["results"]["TIE"]
        assert [repr(x) for x in tie["o"][:4]] == \
            ["None", "1.0", "1.0", "2.0"]
        assert tie["v"][1:3] == [5, 10]
        assert repr(tie["o"][4]) == "nan"
        assert list(got["results"]) == [None, "B", "TIE"]
        assert (got["min_date"], got["max_date"]) == (T0, T0 + 3 * MIN)

    @pytest.mark.parametrize("every", ["2m", "1h"])
    def test_resampled_null_symbol(self, edge_table, every):
        assert comparable(ohlcv(edge_table, T0, T0 + 10 * MIN,
                                every=every)) == comparable(
            sort_array_body(edge_table, T0, T0 + 10 * MIN, every=every))

    @pytest.mark.parametrize("every", [None, "1ms", "1s", "1d"])
    def test_pre_epoch_buckets(self, pre_epoch_table, every):
        lo, hi = -3 * NS, 2 * NS
        got = ohlcv(pre_epoch_table, lo, hi, every=every)
        assert comparable(got) == comparable(
            sort_array_body(pre_epoch_table, lo, hi, every=every))
        if every == "1s":
            assert got["results"]["S"]["t"] == [-2 * NS, -NS, 0, NS]

    @pytest.mark.parametrize("every", [None, "5m"])
    def test_empty_range(self, edge_table, every):
        got = ohlcv(edge_table, T0 + 30 * MIN, T0 + 40 * MIN, every=every)
        assert got == {"results": {}, "min_date": None, "max_date": None}
        assert got == sort_array_body(edge_table, T0 + 30 * MIN,
                                      T0 + 40 * MIN, every=every)


class TestReadPlan:
    """A small read runs as ONE Spark job: under ``_ONE_TASK_BYTES`` the
    scan is coalesced to one partition, so the bucket aggregate needs no
    exchange (and AQE no separate shuffle-map job)."""

    @pytest.mark.parametrize("every", ["5m", None])
    def test_one_job_no_exchange(self, bar_table, run_counted, every):
        got, jobs, plans = run_counted(
            lambda: ohlcv(bar_table, T0, T0 + 10 * MIN, every=every))
        assert jobs == 1
        assert len(plans) == 1 and "Exchange" not in plans[0]
        assert set(got["results"]) == {"AAPL", "MSFT"}

    def test_exchange_above_cutoff_same_bars(self, bar_table, run_counted,
                                             monkeypatch):
        small, _, _ = run_counted(
            lambda: ohlcv(bar_table, T0, T0 + 10 * MIN, every="2m"))
        monkeypatch.setattr(Table, "_ONE_TASK_BYTES", 0)
        big, _, plans = run_counted(
            lambda: ohlcv(bar_table, T0, T0 + 10 * MIN, every="2m"))
        assert "Exchange" in plans[0]
        assert big == small
        assert small["results"]["AAPL"]["t"] == [T0, T0 + 2 * MIN]


# symbols that would break out of a quoted SQL string literal
HOSTILE = ["O'NEIL", "A\\B", "X') OR ('1'='1"]


@pytest.fixture()
def hostile_table(spark, tmp_home):
    t = Table.create(spark, bar_schema("hostile"), home=tmp_home)
    t.write(spark.createDataFrame(
        [Row(ts=T0 + i * MIN, sym=sym, open=1.0 + i, high=2.0 + i,
             low=0.5 + i, close=1.5 + i, volume=i + 1)
         for i in range(3) for sym in ["AAPL", "1", *HOSTILE]]))
    return t


class TestSymbolText:
    """Requested symbols reach the plan as Column values, never as SQL
    text: quotes, backslashes and an OR-injection select exactly their
    own rows."""

    @pytest.mark.parametrize("every", [None, "2m"])
    def test_hostile_symbols_select_exactly_themselves(self, hostile_table,
                                                       every):
        got = ohlcv(hostile_table, T0, T0 + 10 * MIN, HOSTILE, every=every)
        assert sorted(got["results"]) == sorted(HOSTILE)
        want = ohlcv(hostile_table, T0, T0 + 10 * MIN, every=every)
        assert got["results"] == {s: want["results"][s] for s in HOSTILE}

    @pytest.mark.parametrize("every", [None, "2m"])
    def test_absent_hostile_symbol_selects_nothing(self, hostile_table,
                                                   every):
        got = ohlcv(hostile_table, T0, T0 + 10 * MIN,
                    ["Z') OR ('1'='1", "O'NEIL' OR '1'='1"], every=every)
        assert got == {"results": {}, "min_date": None, "max_date": None}
        assert ohlcv_frame(hostile_table, T0, T0 + 10 * MIN,
                           ["' OR 1=1 --"]).count() == 0


class TestResample:
    def test_bars_to_coarser_bars(self, bar_table):
        out = (resample(bar_table.scan(), "2 minutes")
               .orderBy("sym", "bucket_start").collect())
        assert len(out) == 4  # 2 syms × 2 buckets
        first_aapl = [r for r in out if r["sym"] == "AAPL"][0]
        assert first_aapl["open"] == 100.0   # open at min ts
        assert first_aapl["close"] == 101.5  # close at max ts
        assert first_aapl["high"] == 102.0   # max high over bucket
        assert first_aapl["low"] == 99.0     # min low
        assert first_aapl["volume"] == 30    # 10 + 20

    def test_parse_every_aliases(self):
        from zdb_spark.ohlcv import parse_every
        import pytest as _pytest

        assert parse_every("5m") == "5 minutes"
        assert parse_every("5Minutes") == "5 minutes"   # the TODO spelling
        assert parse_every("1h") == "1 hours"
        assert parse_every("30 s") == "30 seconds"
        assert parse_every("2 days") == "2 days"
        for bad in ("", "fast", "5x", "m5", "0m", "0 seconds", None):
            with _pytest.raises(ValueError, match="cannot parse"):
                parse_every(bad)

    def test_api_every_resamples(self, bar_table):
        out = ohlcv(bar_table, T0, T0 + 10 * MIN, symbols=["AAPL"],
                    every="2m")
        a = out["results"]["AAPL"]
        assert a["t"] == [T0, T0 + 2 * MIN]      # bucket-start nanos
        assert a["o"] == [100.0, 102.0]          # open at bucket min ts
        assert a["h"] == [102.0, 104.0]          # max high over bucket
        assert a["c"] == [101.5, 103.5]          # close at bucket max ts
        assert a["v"] == [30, 70]                # summed volume

    def test_resolution_default_matches_explicit(self, bar_table):
        explicit = (resample(bar_table.scan(), "2 minutes")
                    .orderBy("sym", "bucket_start").collect())
        defaulted = (resample(bar_table.scan(), None,
                              resolution_ns=2 * MIN)
                     .orderBy("sym", "bucket_start").collect())
        assert explicit == defaulted

    def test_table_resample_uses_declared_resolution(self, spark, tmp_path):
        # a "1-minute bars" table: t.resample() re-emits 1-minute buckets
        # without the caller restating the width; explicit every overrides
        t = Table.create(spark,
                         bar_schema("bars_res").with_resolution(MIN),
                         home=str(tmp_path / "res"))
        rows = [Row(ts=T0 + i * MIN, sym="AAPL", open=100.0 + i,
                    high=101.0 + i, low=99.0 + i, close=100.5 + i,
                    volume=10) for i in range(4)]
        t.write(spark.createDataFrame(rows))
        out = t.resample().orderBy("bucket_start").collect()
        assert len(out) == 4                      # identity at declared res
        assert [r["open"] for r in out] == [100.0, 101.0, 102.0, 103.0]
        coarser = t.resample(every="2 minutes").orderBy("bucket_start") \
            .collect()
        assert len(coarser) == 2
        assert coarser[0]["open"] == 100.0 and coarser[0]["close"] == 101.5

    def test_no_resolution_no_every_raises(self, bar_table):
        import pytest as _pytest

        # default resolution is 1 ns (raw ticks): no meaningful default
        with _pytest.raises(ValueError, match="raw ticks"):
            bar_table.resample()
        with _pytest.raises(ValueError, match="every"):
            resample(bar_table.scan(), None)

    def test_duration_of_nanos_units(self):
        from zdb_spark.ohlcv import duration_of_nanos
        import pytest as _pytest

        assert duration_of_nanos(60 * NS) == "1 minutes"
        assert duration_of_nanos(90 * NS) == "90 seconds"
        assert duration_of_nanos(86_400 * NS) == "1 days"
        assert duration_of_nanos(5_000_000) == "5 milliseconds"
        assert duration_of_nanos(1_000) == "1 microseconds"
        with _pytest.raises(ValueError, match="sub-microsecond"):
            duration_of_nanos(500)
        with _pytest.raises(ValueError, match="positive"):
            duration_of_nanos(0)

    def test_ticks_to_bars(self, spark):
        ticks = spark.createDataFrame(
            [Row(ts=T0 + i * 10 * NS, sym="X", price=float(i), size=1)
             for i in range(12)])  # 2 minutes of 10s ticks
        out = (resample(ticks, "1 minute", price_col="price",
                        volume_col="size")
               .orderBy("bucket_start").collect())
        assert len(out) == 2
        assert out[0]["open"] == 0.0 and out[0]["close"] == 5.0
        assert out[1]["open"] == 6.0 and out[1]["close"] == 11.0
        assert out[0]["high"] == 5.0 and out[0]["low"] == 0.0
        assert out[0]["volume"] == 6


class TestThresholdBars:
    """Volume/dollar bars (ohlcv.py:threshold_bars): closed-form bar
    assignment by prefix sum, OHLC within each bar, loud refusals."""

    def test_volume_bars_small(self, spark):
        import pytest

        from zdb_spark.ohlcv import threshold_bars

        # one symbol, sizes 4,4,4,4: threshold 10 -> cum_before
        # 0,4,8,12 -> bars 0,0,0,1
        rows = [(i, 1000 + i, "A", float(10 + i), 4.0)
                for i in range(4)]
        df = spark.createDataFrame(
            rows, "event_id long, ts long, sym string, price double, "
                  "sz double")
        out = {(r.sym, r.bar): r for r in threshold_bars(
            df, "ts", "sym", "price", "sz", threshold=10.0,
            tie_col="event_id").collect()}
        b0, b1 = out[("A", 0)], out[("A", 1)]
        assert (b0.n_ticks, b1.n_ticks) == (3, 1)
        assert (b0.open, b0.high, b0.low, b0.close) == (10, 12, 10, 12)
        assert (b1.open, b1.close) == (13, 13)
        assert b0.bar_size == 12.0 and b1.bar_size == 4.0
        assert (b0.start_ts, b0.end_ts) == (1000, 1002)

        # duplicate timestamps: the tie column decides open/close
        dup = spark.createDataFrame(
            [(2, 1000, "A", 5.0, 1.0), (1, 1000, "A", 7.0, 1.0)],
            "event_id long, ts long, sym string, price double, "
            "sz double")
        r = threshold_bars(dup, "ts", "sym", "price", "sz",
                           threshold=100.0,
                           tie_col="event_id").collect()[0]
        assert (r.open, r.close) == (7.0, 5.0)

        with pytest.raises(ValueError, match="positive"):
            threshold_bars(df, "ts", "sym", "price", "sz",
                           threshold=0, tie_col="event_id")
        # negative sizes refuse loudly AT RUN TIME
        neg = spark.createDataFrame(
            [(1, 1000, "A", 5.0, -1.0)],
            "event_id long, ts long, sym string, price double, "
            "sz double")
        with pytest.raises(Exception, match="negative or NULL size"):
            threshold_bars(neg, "ts", "sym", "price", "sz",
                           threshold=10.0,
                           tie_col="event_id").collect()
        # NULL sizes refuse too — `size < 0` is NULL for NULL, which
        # would otherwise route ticks into a silent bar=NULL group
        # (r15 review finding)
        nul = spark.createDataFrame(
            [(1, 1000, "A", 5.0, None)],
            "event_id long, ts long, sym string, price double, "
            "sz double")
        with pytest.raises(Exception, match="negative or NULL size"):
            threshold_bars(nul, "ts", "sym", "price", "sz",
                           threshold=10.0,
                           tie_col="event_id").collect()

    def test_dollar_bars_form(self, spark):
        # dollar bars = threshold_bars with price*volume as the size
        # column (the docstring's second form): thresholds cross on
        # notional, not tick count
        from pyspark.sql import functions as F

        from zdb_spark.ohlcv import threshold_bars

        rows = [(i, 1000 + i, "A", 10.0 + i, 2.0) for i in range(6)]
        df = (spark.createDataFrame(
                  rows, "event_id long, ts long, sym string, "
                        "price double, vol double")
              .withColumn("dollar", F.col("price") * F.col("vol")))
        # notionals: 20,22,24,26,28,30; cum_before 0,20,42,68,94,122
        # threshold 60 -> bars 0,0,0,1,1,2
        out = {r.bar: r for r in threshold_bars(
            df, "ts", "sym", "price", "dollar", threshold=60.0,
            tie_col="event_id").collect()}
        assert sorted(out) == [0, 1, 2]
        assert (out[0].n_ticks, out[1].n_ticks, out[2].n_ticks) == \
            (3, 2, 1)
        assert out[0].bar_size == 66.0 and out[2].open == 15.0
