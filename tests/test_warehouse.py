"""Hoisted §2.7 warehouse operators (operators/warehouse.py) + the
round-16 temporal hoists (resample_ticks / sessionize_counts /
parse_times / ohlcv_bars).

Each operator's gate was inline through r15 and is now a public
function so the capacity composites can execute the exact code the
singleton gates verify; these tests pin the operator-level semantics
on tiny closed-form frames (the driver's oracle pins the full-corpus
values)."""

from pyspark.sql import functions as F


def _orders(spark):
    rows = [
        # custkey, orderkey, orderdate, totalprice
        (1, 10, "1995-01-01", 100.0),
        (1, 11, "1995-02-01", 50.0),
        (1, 12, "1995-03-01", 25.0),
        (1, 13, "1995-04-01", 10.0),   # 4th order: cut by first=3
        (2, 20, "1995-01-15", 7.0),
    ]
    return (spark.createDataFrame(
        rows, "o_custkey long, o_orderkey long, o_orderdate string, "
              "o_totalprice double")
        .withColumn("o_orderdate",
                    F.col("o_orderdate").cast("timestamp")))


class TestRunningOrders:
    def test_first_n_and_running_sum(self, spark):
        from zdb_spark.operators.warehouse import running_orders

        got = {(r.o_custkey, r.o_orderkey):
               (r.order_seq, r.running_spend)
               for r in running_orders(_orders(spark),
                                       first=3).collect()}
        assert got == {(1, 10): (1, 100.0), (1, 11): (2, 150.0),
                       (1, 12): (3, 175.0), (2, 20): (1, 7.0)}


class TestPandasFoldSum:
    def test_equals_plain_groupby(self, spark):
        from zdb_spark.operators.warehouse import pandas_fold_sum

        df = spark.range(0, 1000).select(
            F.concat(F.lit("g"), (F.col("id") % 3).cast("string"))
             .alias("flag"),
            (F.col("id") % 7).cast("double").alias("qty"))
        got = {r.flag: r.sum_qty
               for r in pandas_fold_sum(df, "flag", "qty",
                                        "sum_qty").collect()}
        want = {r.flag: float(r.s)
                for r in df.groupBy("flag")
                           .agg(F.round(F.sum("qty"), 4).alias("s"))
                           .collect()}
        assert got == want


class TestTpchFrames:
    def test_q3_top_k_and_filters(self, spark):
        from zdb_spark.operators.warehouse import tpch_q3_frame

        cust = spark.createDataFrame(
            [(1, "BUILDING"), (2, "MACHINERY")],
            "c_custkey long, c_mktsegment string")
        orders = (spark.createDataFrame(
            [(10, 1, "1995-01-01", "1-URGENT"),
             (11, 1, "1995-04-01", "2-HIGH"),      # after cutoff: out
             (12, 2, "1995-01-01", "1-URGENT")],   # wrong segment: out
            "o_orderkey long, o_custkey long, o_orderdate string, "
            "o_orderpriority string")
            .withColumn("o_orderdate",
                        F.col("o_orderdate").cast("timestamp")))
        li = (spark.createDataFrame(
            [(10, "1995-06-01", 100.0, 0.1),
             (10, "1995-06-02", 50.0, 0.0),
             (10, "1995-01-01", 999.0, 0.0),       # shipped early: out
             (11, "1995-06-01", 10.0, 0.0),
             (12, "1995-06-01", 10.0, 0.0)],
            "l_orderkey long, l_shipdate string, "
            "l_extendedprice double, l_discount double")
            .withColumn("l_shipdate",
                        F.col("l_shipdate").cast("timestamp")))
        rows = tpch_q3_frame(cust, orders, li).collect()
        assert len(rows) == 1
        assert rows[0].l_orderkey == 10
        assert rows[0].revenue == round(100.0 * 0.9 + 50.0, 4)

    def test_pricing_summary_cutoff_and_aggs(self, spark):
        from zdb_spark.operators.warehouse import pricing_summary_frame

        li = (spark.createDataFrame(
            [("A", "F", "1995-01-01", 2.0, 10.0, 0.5),
             ("A", "F", "1995-01-02", 4.0, 20.0, 0.0),
             ("A", "F", "1999-01-01", 8.0, 40.0, 0.0)],  # cut
            "l_returnflag string, l_linestatus string, "
            "l_shipdate string, l_quantity double, "
            "l_extendedprice double, l_discount double")
            .withColumn("l_shipdate",
                        F.col("l_shipdate").cast("timestamp")))
        r = pricing_summary_frame(li).collect()[0]
        assert (r.sum_qty, r.sum_base_price, r.count_order) == \
            (6.0, 30.0, 2)
        assert r.sum_disc_price == round(10.0 * 0.5 + 20.0, 4)
        assert (r.avg_qty, r.avg_disc) == (3.0, 0.25)


class TestTemporalHoists:
    def test_resample_ticks_buckets(self, spark):
        from zdb_spark.operators.temporal import resample_ticks

        ns = 3_600 * 10**9
        df = spark.createDataFrame(
            [(0, 1.0), (ns - 1, 3.0), (ns, 10.0)],
            "ts long, value double")
        got = {r.hour_bucket: (r.n_events, r.avg_value, r.min_value,
                               r.max_value)
               for r in resample_ticks(df, bucket_ns=ns).collect()}
        assert got == {0: (2, 2.0, 1.0, 3.0), 1: (1, 10.0, 10.0, 10.0)}

    def test_sessionize_counts_gap(self, spark):
        from zdb_spark.operators.temporal import sessionize_counts

        g = 100
        df = spark.createDataFrame(
            [(1, 0), (1, 50), (1, 200), (2, 0)], "user_id long, ts long")
        got = {r.user_id: (r.n_sessions, r.n_events)
               for r in sessionize_counts(df, gap_ns=g).collect()}
        assert got == {1: (2, 3), 2: (1, 1)}

    def test_parse_times_three_formats(self, spark):
        from zdb_spark.operators.temporal import parse_times

        df = spark.createDataFrame(
            [("1704067200000000000",),
             ("2024-01-01T00:00:00.000001",),
             ("2024-01-01",)], "raw string")
        got = [r.ts_ns for r in parse_times(df, "raw").collect()]
        base = 1704067200 * 10**9
        assert got == [base, base + 1000, base]

    def test_ohlcv_bars_open_close(self, spark):
        from zdb_spark.operators.temporal import ohlcv_bars

        base = 1704067200 * 10**9
        df = (spark.createDataFrame(
            [(base + 1, "A", 5.0), (base + 2, "A", 9.0),
             (base + 3, "A", 2.0), (base + 4, "A", 7.0)],
            "ts long, event_type string, value double")
            .withColumn("d", F.to_date(F.timestamp_micros(
                F.expr("ts div 1000")))))
        r = ohlcv_bars(df).collect()[0]
        assert (r.bar_date, r.sym) == ("2024-01-01", "A")
        assert (r.open, r.high, r.low, r.close) == (5.0, 9.0, 2.0, 7.0)
        assert (r.volume, r.n_ticks) == (23.0, 4)


class TestImageHashOnError:
    """ADVICE r15: undecodable crawl blobs must not abort the stage."""

    def _frame(self, spark):
        from zdb_spark.operators.webp import webp_encode_pixels

        good = webp_encode_pixels(
            16, 16, [0xFF000000 | ((x * 16 + y * 7) % 256 << 8)
                     for y in range(16) for x in range(16)])
        rows = [(1, bytearray(good)), (2, bytearray(b"not an image")),
                (3, None)]
        return spark.createDataFrame(rows, "id long, blob binary")

    def test_raise_default_fails_stage(self, spark):
        import pytest

        from zdb_spark.operators.imagehash import image_hashes

        with pytest.raises(Exception):
            image_hashes(self._frame(spark), "blob", "id").collect()

    def test_skip_drops_bad_rows(self, spark):
        from zdb_spark.operators.imagehash import image_hashes

        got = image_hashes(self._frame(spark), "blob", "id",
                           on_error="skip").collect()
        assert [r.id for r in got] == [1]
        assert got[0].hash is not None

    def test_error_column_keeps_rows(self, spark):
        from zdb_spark.operators.imagehash import image_hashes

        got = {r.id: r for r in image_hashes(
            self._frame(spark), "blob", "id",
            on_error="error").collect()}
        assert set(got) == {1, 2}            # NULL blob still vanishes
        assert got[1].hash is not None and got[1].error is None
        assert got[2].hash is None and got[2].error

    def test_near_dup_pairs_skip_policy(self, spark):
        import pytest

        from zdb_spark.operators.imagehash import image_near_dup_pairs

        pairs = image_near_dup_pairs(self._frame(spark), "blob", "id",
                                     on_error="skip")
        assert pairs.count() == 0            # one good image: no pairs
        with pytest.raises(ValueError):
            image_near_dup_pairs(self._frame(spark), "blob", "id",
                                 on_error="error")


class TestStagedTableDelete:
    """Readiness pin for the table_delete gate (staged r16, REGISTERED
    r17): the gate function runs end-to-end at sf0.001 and its output
    matches the staged oracle's predicate applied to the raw events
    frame."""

    def test_gate_matches_predicate(self, spark):
        import __spark_entry__ as entry

        sf = "/root/testdata/sf0.001"
        got = {r.event_type: (r.n_events, r.sum_value)
               for r in entry.q_table_delete(spark, sf).collect()}
        from pyspark.sql import functions as F

        ev = spark.read.parquet(f"{sf}/events.parquet")
        want = {r.event_type: (r.n, r.s) for r in
                (ev.where("NOT coalesce(event_type = 'error' "
                          "AND value < 100.0, false)")
                 .selectExpr(
                     "CASE WHEN event_type = 'error' THEN 'error_hi' "
                     "ELSE event_type END AS event_type",
                     "CASE WHEN event_type = 'error' THEN value / 2.0 "
                     "ELSE value END AS value")
                 .groupBy("event_type")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.round(F.sum("value"), 4).alias("s"))
                 .collect())}
        assert got == want
        assert "error" not in got and "error_hi" in got
        assert "table_delete" in entry._STAGED_R17_ORACLES
        # registered in r17: gate + oracle both live
        assert "table_delete" in entry.queries()
        assert "table_delete" in entry.oracle_sql()


class TestStagedTableMerge:
    """Readiness pin for the table_merge gate (STAGED r17 for r18
    registration, the table_delete precedent): the gate function runs
    end-to-end at sf0.001 and matches the staged oracle's pipeline
    applied to the raw events frame in Spark."""

    def test_gate_matches_oracle_pipeline(self, spark):
        import __spark_entry__ as entry

        sf = "/root/testdata/sf0.001"
        got = {r.event_type: (r.n_events, r.sum_value)
               for r in entry.q_table_merge(spark, sf).collect()}
        from pyspark.sql import functions as F

        ev = spark.read.parquet(f"{sf}/events.parquet")
        merged = ev.selectExpr(
            "event_id",
            "CASE WHEN event_type = 'purchase' THEN 'purchase_2x' "
            "ELSE event_type END AS event_type",
            "CASE WHEN event_type = 'purchase' THEN value * 2 "
            "ELSE value END AS value",
        ).unionByName(
            ev.where("event_type = 'purchase'").selectExpr(
                "event_id + 100000000 AS event_id",
                "'inserted' AS event_type",
                "value + 1.0 AS value"))
        doomed = (ev.where("event_type = 'error' AND value < 50.0")
                  .select("event_id"))
        want = {r.event_type: (r.n, r.s) for r in
                (merged.join(doomed, on="event_id", how="left_anti")
                 .groupBy("event_type")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.round(F.sum("value"), 4).alias("s"))
                 .collect())}
        assert got == want
        assert "purchase" not in got          # every purchase updated
        assert "purchase_2x" in got and "inserted" in got
        # staging-era oracle text stays byte-identical through the
        # r18 registration (the table_delete precedent)
        assert "table_merge" in entry._STAGED_R18_ORACLES
        # registered in r18: gate + oracle both live
        assert "table_merge" in entry.queries()
        assert "table_merge" in entry.oracle_sql()


class TestHammingCap:
    """r16: hamming_pairs' max_bucket_size hot-bucket cap (the
    SCALE.md §Round-16 skew guard)."""

    def test_cap_drops_hot_buckets_keeps_cold_chunks(self, spark):
        from pyspark.sql import functions as F

        from zdb_spark.operators.dedup import hamming_pairs

        # 40 rows sharing LOW chunks (a hot template bucket) with
        # distinct high bits, plus one isolated near-dup pair whose
        # buckets stay cold.
        hot = spark.range(0, 40).select(
            F.col("id"), (F.shiftleft(F.col("id"), 48)).alias("hash"))
        pair = spark.createDataFrame(
            [(100, 0x0123456789ABCDEF - 2**63),
             (101, 0x0123456789ABCDEE - 2**63)], "id long, hash long")
        df = hot.unionByName(pair)
        uncapped = hamming_pairs(df, "hash", "id", max_hamming=3)
        capped = hamming_pairs(df, "hash", "id", max_hamming=3,
                               max_bucket_size=8)
        # the isolated pair (hamming 1) survives the cap; the hot
        # bucket's pairs (all-zero low chunks, distance > 3 anyway)
        # never qualified
        got = [(r.id_a, r.id_b, r.hamming) for r in capped.collect()]
        assert got == [(100, 101, 1)]
        assert (100, 101, 1) in [(r.id_a, r.id_b, r.hamming)
                                 for r in uncapped.collect()]

    def test_cap_none_is_byte_identical(self, spark):
        from pyspark.sql import functions as F

        from zdb_spark.operators.dedup import hamming_pairs

        df = spark.range(0, 200).select(
            F.col("id"), F.xxhash64("id").alias("hash"))
        a = sorted((r.id_a, r.id_b, r.hamming) for r in
                   hamming_pairs(df, "hash", "id",
                                 max_hamming=6).collect())
        b = sorted((r.id_a, r.id_b, r.hamming) for r in
                   hamming_pairs(df, "hash", "id", max_hamming=6,
                                 max_bucket_size=None).collect())
        assert a == b


class TestStagedTableChanges:
    """Readiness pin for the table_changes gate (STAGED r18 for r19
    registration, the table_merge precedent; r17 verdict task 2): the
    gate function runs end-to-end at sf0.001 and matches the staged
    oracle's two-snapshot EXCEPT ALL pipeline applied to the raw
    events frame in Spark."""

    def test_gate_matches_oracle_pipeline(self, spark):
        import __spark_entry__ as entry

        sf = "/root/testdata/sf0.001"
        feed = entry.q_table_changes(spark, sf)
        got = sorted((r._change_type, r.event_id, r.ts, r.event_type,
                      r.value, r.dt) for r in feed.collect())
        from pyspark.sql import functions as F

        mid = 1705276800 * 10**9
        ev = (entry._load(spark, sf, "events")   # ts as epoch-nanos
              .select("event_id", "ts", "event_type", "value",
                      F.date_format(
                          F.timestamp_micros(F.expr("ts div 1000")),
                          "yyyy-MM-dd").alias("dt")))
        v0 = ev.where(F.col("ts") < mid)
        head = (ev.where("NOT (event_type = 'error' "
                         "AND value < 100.0)")
                .withColumn("value",
                            F.when(F.col("event_type") == "purchase",
                                   F.col("value") * 2.0)
                             .otherwise(F.col("value"))))
        cols = ["event_id", "ts", "event_type", "value", "dt"]
        ins = (head.select(*cols).exceptAll(v0.select(*cols))
               .withColumn("_change_type", F.lit("insert")))
        dels = (v0.select(*cols).exceptAll(head.select(*cols))
                .withColumn("_change_type", F.lit("delete")))
        want = sorted((r._change_type, r.event_id, r.ts, r.event_type,
                       round(r.value, 4), r.dt)
                      for r in ins.unionByName(dels).collect())
        assert got == want
        kinds = {k for k, *_ in got}
        assert kinds == {"insert", "delete"}
        # updates surface as delete+insert pairs: doubled purchases
        assert any(k == "delete" and t == "purchase"
                   for k, _, _, t, _, _ in got)
        assert any(k == "insert" and t == "purchase"
                   for k, _, _, t, _, _ in got)
        # staged, NOT yet registered: oracle text lives in the
        # staging dict only until the r19 registration merges it
        assert "table_changes" in entry._STAGED_R19_ORACLES
        assert "table_changes" not in entry.queries()
        assert "table_changes" not in entry.oracle_sql()


class TestStagedCdcRollup:
    """Readiness pin for the cdc_rollup gate (STAGED r18 for r19
    registration): feed-driven rollup catch-up must equal the direct
    head aggregation, bit-exact by integer construction."""

    def test_gate_matches_direct_aggregation(self, spark):
        import __spark_entry__ as entry

        sf = "/root/testdata/sf0.001"
        got = {r.event_type: (r.n_rows, r.sum_cents)
               for r in entry.q_cdc_rollup(spark, sf).collect()}
        from pyspark.sql import functions as F

        cents = F.round(F.col("value") * 100, 0).cast("long")
        ev = (entry._load(spark, sf, "events")
              .withColumn("cents", cents)
              .where("NOT (event_type = 'error' AND cents < 10000)")
              .withColumn("cents",
                          F.when(F.col("event_type") == "purchase",
                                 F.col("cents") * 2)
                           .otherwise(F.col("cents"))))
        want = {r.event_type: (r.n, r.s) for r in
                (ev.groupBy("event_type")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum("cents").alias("s")).collect())}
        assert got == want
        assert "purchase" in got and "error" in got
        # staged, NOT yet registered
        assert "cdc_rollup" in entry._STAGED_R19_ORACLES
        assert "cdc_rollup" not in entry.queries()
        assert "cdc_rollup" not in entry.oracle_sql()
