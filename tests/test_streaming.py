"""Structured Streaming tests: ordered-append sink, windowed resample with
watermark, and the stateful sessionizer — run with availableNow triggers
over file sources so they terminate deterministically."""

import os

import pytest

from pyspark.sql import Row, functions as F

NS = 1_000_000_000
MIN = 60 * NS
T0 = 1704067200 * NS


@pytest.fixture()
def tick_dir(spark, tmp_path):
    rows = [Row(ts=T0 + i * 10 * NS, sym="X", price=float(i), user_id=i % 3)
            for i in range(60)]  # 10 minutes of 10s ticks
    p = str(tmp_path / "src")
    spark.createDataFrame(rows).write.parquet(p)
    return p


def _stream(spark, path):
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(path)


def _tick_table(spark, tmp_path, name="ticks"):
    from zdb_spark.schema import ColumnType, PartitionBy, Schema
    from zdb_spark.table import Table

    schema = (Schema(name)
              .add_col("sym", ColumnType.SYMBOL16)
              .add_col("price", ColumnType.F64)
              .add_col("user_id", ColumnType.I64)
              .with_partition_by(PartitionBy.DAY))
    return Table.create(spark, schema, home=str(tmp_path / "home"))


class TestStreamWriterTable:
    def test_stream_into_manifest_table(self, spark, tick_dir, tmp_path):
        from zdb_spark.streaming.ingest import stream_writer_table

        t = _tick_table(spark, tmp_path)
        q = stream_writer_table(_stream(spark, tick_dir), t,
                                str(tmp_path / "ckpt"))
        q.awaitTermination(120)
        assert t.df().count() == 60
        # snapshot isolation covers the streamed data: time travel works
        assert t.snapshot(1).count() > 0
        assert t.scan(T0, T0 + 9 * MIN).count() == 55
        # txn high-water mark landed inside the manifest
        _, _, txns = t._latest_manifest_full()
        # default app id = checkpoint basename + path hash (two streams
        # with same-named checkpoint dirs must not share a txn app)
        assert len(txns) == 1
        (app, hwm), = txns.items()
        assert app.startswith("ckpt-") and hwm == 0

    def test_checkpoint_loss_replay_is_noop(self, spark, tick_dir,
                                            tmp_path):
        # foreachBatch is at-least-once: losing the checkpoint replays
        # batch 0.  The (app_id, batch_id) txn recorded in the manifest
        # must turn the replay into a no-op.
        from zdb_spark.streaming.ingest import stream_writer_table

        t = _tick_table(spark, tmp_path)
        q = stream_writer_table(_stream(spark, tick_dir), t,
                                str(tmp_path / "c1"), app_id="app")
        q.awaitTermination(120)
        assert t.df().count() == 60
        q2 = stream_writer_table(_stream(spark, tick_dir), t,
                                 str(tmp_path / "c2"), app_id="app")
        q2.awaitTermination(120)
        assert t.df().count() == 60
        assert t.row_count == 60

    def test_txn_write_idempotent_batch_api(self, spark, tmp_path):
        t = _tick_table(spark, tmp_path)
        df = spark.createDataFrame(
            [Row(ts=T0 + i * NS, sym="X", price=1.0, user_id=1)
             for i in range(5)])
        assert t.write(df, txn=("app", 0)) == 5
        assert t.write(df, txn=("app", 0)) == 0  # replay skipped
        assert t.row_count == 5
        assert t.write(df, enforce_order=False, txn=("app", 1)) == 5
        assert t.row_count == 10

    def test_reader_never_sees_partial_batch(self, spark, tmp_path):
        # split the source into 4 files, stream one file per micro-batch,
        # and poll the table mid-stream: every observed count must equal
        # a committed snapshot's count — whole batches or nothing.
        import threading

        from zdb_spark.streaming.ingest import stream_writer_table

        rows = [Row(ts=T0 + i * 10 * NS, sym="X", price=float(i),
                    user_id=i % 3) for i in range(200)]
        src = str(tmp_path / "multi_src")
        spark.createDataFrame(rows).repartition(4).write.parquet(src)
        t = _tick_table(spark, tmp_path)

        observed, stop = set(), threading.Event()

        def poll():
            while not stop.is_set():
                observed.add(t.df().count())

        th = threading.Thread(target=poll, daemon=True)
        th.start()
        schema = spark.read.parquet(src).schema
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = stream_writer_table(stream, t, str(tmp_path / "mckpt"))
        q.awaitTermination(240)
        observed.add(t.df().count())  # final state
        stop.set()
        th.join(10)

        v, _, _ = t._latest_manifest_full()
        valid = {0} | {t.snapshot(i).count() for i in range(1, v + 1)}
        assert t.df().count() == 200
        assert observed <= valid, f"partial batch seen: {observed - valid}"
        assert v >= 2  # genuinely multi-batch

    def test_restart_at_shipped_retention(self, spark, tmp_path):
        # Five runs on one checkpoint over a growing source, at the
        # session's shipped minBatchesToRetain=2.  Two restarts follow a
        # crash after the offset was logged but before its commit: Spark
        # re-runs that batch id and the manifest txn turns it into a
        # no-op, so every row lands exactly once.
        from zdb_spark.streaming.ingest import stream_writer_table

        assert spark.conf.get("spark.sql.streaming.minBatchesToRetain") == "2"
        src, ckpt = str(tmp_path / "grow"), str(tmp_path / "rckpt")
        t = _tick_table(spark, tmp_path)
        schema = "ts long, sym string, price double, user_id long"
        written, batch_ids = [], []
        write = t.write

        def counting_write(df, **kw):
            batch_ids.append(kw["txn"][1])
            return write(df, **kw)

        t.write = counting_write

        def add_file():
            k = len(written)
            rows = [(T0 + (k + i) * NS, "X", float(i), k)
                    for i in range(10)]
            spark.createDataFrame(rows, schema).coalesce(1) \
                .write.mode("append").parquet(src)
            written.extend(r[0] for r in rows)

        def newest_commit():
            return max(int(f) for f in os.listdir(os.path.join(ckpt, "commits"))
                       if f.isdigit())

        for run, (files, crash) in enumerate(
                [(2, False), (1, False), (1, True), (1, False), (1, True)]):
            for _ in range(files):
                add_file()
            if crash:
                n = newest_commit()
                for f in (str(n), f".{n}.crc"):
                    if os.path.exists(os.path.join(ckpt, "commits", f)):
                        os.unlink(os.path.join(ckpt, "commits", f))
            stream = (spark.readStream.schema(schema)
                      .option("maxFilesPerTrigger", 1).parquet(src))
            q = stream_writer_table(stream, t, ckpt, app_id="grow")
            q.awaitTermination(120)
            assert q.exception() is None
            got = [r.ts for r in t.df().select("ts").collect()]
            assert sorted(got) == sorted(written), f"run {run}"
            assert t.row_count == len(written)
            assert t._last_txn("grow") == newest_commit()
        # each crashed batch was delivered twice, committed once
        assert batch_ids == [0, 1, 2, 2, 3, 4, 4, 5]
        assert t._latest_head()[0] == 6
        # the retention really purged: early batches' logs are gone
        assert "0" not in os.listdir(os.path.join(ckpt, "offsets"))


class TestStreamResample:
    def test_windowed_bars(self, spark, tick_dir, tmp_path):
        from zdb_spark.streaming.ingest import stream_resample

        bars = stream_resample(_stream(spark, tick_dir), "1 minute",
                               ts_col="ts", symbol_col="sym",
                               price_col="price", watermark="1 minute")
        out = str(tmp_path / "bars")
        q = (bars.writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", str(tmp_path / "bc"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {r["bucket_start"].minute: r
               for r in spark.read.parquet(out).collect()}
        # append mode emits only windows sealed by the watermark — the
        # final (unclosed) window stays in state
        assert len(got) >= 8
        m0 = got[0]
        assert m0["open"] == 0.0 and m0["close"] == 5.0
        assert m0["high"] == 5.0 and m0["low"] == 0.0


class TestSessionize:
    def test_sessions_close_on_gap(self, spark, tmp_path):
        from zdb_spark.streaming.ingest import sessionize

        # user 1: two bursts separated by 2h; user 2: one burst
        rows = ([Row(user_id=1, ts=T0 + i * MIN) for i in range(3)]
                + [Row(user_id=1, ts=T0 + 2 * 3600 * NS + i * MIN)
                   for i in range(2)]
                + [Row(user_id=2, ts=T0 + i * MIN) for i in range(4)])
        src = str(tmp_path / "sess_src")
        spark.createDataFrame(rows).write.parquet(src)
        stream = _stream(spark, src)
        sessions = sessionize(stream, gap_nanos=3600 * NS)
        out = str(tmp_path / "sessions")
        q = (sessions.writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", str(tmp_path / "sc"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = spark.read.parquet(out).collect()
        # only user 1's FIRST burst closes (2h gap); open sessions stay
        # in state until a later batch exceeds the gap
        assert len(got) == 1
        s = got[0]
        assert s["user_id"] == 1
        assert s["n_events"] == 3
        assert s["session_start"] == T0
        assert s["session_end"] == T0 + 2 * MIN


    def test_cross_batch_late_event_never_splits_session(self, spark,
                                                         tmp_path):
        """A straggler older than the stored `last` but inside the gap
        must extend the session count WITHOUT regressing its frontier —
        the pre-fix behavior moved `last` backwards and split one real
        session in two."""
        from zdb_spark.streaming.ingest import sessionize

        src = str(tmp_path / "late_src")
        b1 = str(tmp_path / "late_src/batch1.parquet")
        # batch 1: t=0, t=40min; batch 2: late t=20min (in-gap), then
        # t=1h41min which exceeds the 1h gap from the TRUE frontier
        spark.createDataFrame(
            [Row(user_id=1, ts=T0), Row(user_id=1, ts=T0 + 40 * MIN)]
        ).coalesce(1).write.parquet(src)
        spark.createDataFrame(
            [Row(user_id=1, ts=T0 + 20 * MIN),
             Row(user_id=1, ts=T0 + 101 * MIN)]
        ).coalesce(1).write.mode("append").parquet(src)
        stream = (spark.readStream.schema("user_id long, ts long")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        sessions = sessionize(stream, gap_nanos=3600 * NS)
        out = str(tmp_path / "late_out")
        q = (sessions.writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", str(tmp_path / "late_ck"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = spark.read.parquet(out).collect()
        assert len(got) == 1
        s = got[0]
        # one session of 3 events ending at the true frontier (40min),
        # NOT split at the straggler's timestamp
        assert s["n_events"] == 3
        assert s["session_start"] == T0
        assert s["session_end"] == T0 + 40 * MIN


    def test_far_straggler_closes_as_own_session(self, spark, tmp_path):
        """An event arriving MORE than gap before the live session's
        start must NOT be folded in (pre-fix it silently pulled
        session_start back a day): stragglers sessionize among
        themselves and emit closed immediately."""
        from zdb_spark.streaming.ingest import sessionize

        DAY = 24 * 3600 * NS
        src = str(tmp_path / "far_src")
        # batch 1 opens the live session at T0+1day
        spark.createDataFrame(
            [Row(user_id=1, ts=T0 + DAY), Row(user_id=1, ts=T0 + DAY + MIN)]
        ).coalesce(1).write.parquet(src)
        # batch 2: two day-old stragglers 1min apart (one late run) plus
        # an in-gap extension of the live session
        spark.createDataFrame(
            [Row(user_id=1, ts=T0), Row(user_id=1, ts=T0 + MIN),
             Row(user_id=1, ts=T0 + DAY + 2 * MIN)]
        ).coalesce(1).write.mode("append").parquet(src)
        stream = (spark.readStream.schema("user_id long, ts long")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        sessions = sessionize(stream, gap_nanos=3600 * NS)
        out = str(tmp_path / "far_out")
        q = (sessions.writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", str(tmp_path / "far_ck"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = spark.read.parquet(out).collect()
        # the late run closes as ONE session; the live session stays open
        # in state with its start untouched
        assert len(got) == 1
        s = got[0]
        assert (s["session_start"], s["session_end"], s["n_events"]) == \
            (T0, T0 + MIN, 2)


    def test_straggler_chain_bridges_into_live_session(self, spark,
                                                       tmp_path):
        """Batch parity under out-of-order delivery: stragglers that
        chain back to the live session through intermediate events must
        MERGE (the pre-fix code classified them against the live start
        before later events pulled it back, splitting one session)."""
        from zdb_spark.streaming.ingest import sessionize

        src = str(tmp_path / "bridge_src")
        # batch 1 opens the live session at T0+2h
        spark.createDataFrame(
            [Row(user_id=1, ts=T0 + 120 * MIN)]
        ).coalesce(1).write.parquet(src)
        # batch 2: T0, T0+40m, T0+90m — every consecutive gap <= 1h, so
        # a batch engine sees ONE 4-event session T0..T0+2h
        spark.createDataFrame(
            [Row(user_id=1, ts=T0), Row(user_id=1, ts=T0 + 40 * MIN),
             Row(user_id=1, ts=T0 + 90 * MIN)]
        ).coalesce(1).write.mode("append").parquet(src)
        # batch 3: 2h past the frontier — closes the merged session
        spark.createDataFrame(
            [Row(user_id=1, ts=T0 + 240 * MIN)]
        ).coalesce(1).write.mode("append").parquet(src)
        stream = (spark.readStream.schema("user_id long, ts long")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        sessions = sessionize(stream, gap_nanos=3600 * NS)
        out = str(tmp_path / "bridge_out")
        q = (sessions.writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", str(tmp_path / "bridge_ck"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = spark.read.parquet(out).collect()
        assert len(got) == 1
        s = got[0]
        assert (s["session_start"], s["session_end"], s["n_events"]) == \
            (T0, T0 + 120 * MIN, 4)


class TestRollupSink:
    @staticmethod
    def _rollup_table(spark, tmp_path):
        from zdb_spark.schema import ColumnType, PartitionBy, Schema
        from zdb_spark.table import Table

        schema = (Schema("ticks_rollup")
                  .add_col("sym", ColumnType.SYMBOL16)
                  .add_col("n_rows", ColumnType.I64)
                  .add_col("sum_price", ColumnType.F64)
                  .with_partition_by(PartitionBy.DAY))
        return Table.create(spark, schema,
                            home=str(tmp_path / "rhome"), manifest=True)

    def test_partial_merge_equals_direct_aggregate(self, spark, tmp_path):
        from zdb_spark.streaming.ingest import read_rollup, rollup_sink

        # 4 source files -> 4 micro-batches -> 4 partials per key
        rows = [Row(ts=T0 + i * 10 * NS, sym=("X", "Y")[i % 2],
                    price=float(i)) for i in range(80)]
        src = str(tmp_path / "src")
        spark.createDataFrame(rows).repartition(4).write.parquet(src)
        t = self._rollup_table(spark, tmp_path)
        stream = (spark.readStream
                  .schema(spark.read.parquet(src).schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = rollup_sink(stream, t, str(tmp_path / "rckpt"),
                        ["sym"], ["price"], app_id="r")
        q.awaitTermination(120)
        assert t.scan().count() > 2          # multiple partials per key
        got = {r["sym"]: (r["n_rows"], r["sum_price"]) for r in
               read_rollup(t, ["sym"], ["price"]).collect()}
        assert got["X"] == (40, float(sum(i for i in range(80)
                                          if i % 2 == 0)))
        assert got["Y"] == (40, float(sum(i for i in range(80)
                                          if i % 2 == 1)))

    def test_replay_protection(self, spark, tmp_path):
        from zdb_spark.streaming.ingest import read_rollup, rollup_sink

        rows = [Row(ts=T0 + i * NS, sym="X", price=1.0) for i in range(10)]
        src = str(tmp_path / "src2")
        spark.createDataFrame(rows).coalesce(1).write.parquet(src)
        t = self._rollup_table(spark, tmp_path)
        for ck in ("c1", "c2"):   # lost-checkpoint replay must be a no-op
            q = rollup_sink(
                spark.readStream.schema(
                    spark.read.parquet(src).schema).parquet(src),
                t, str(tmp_path / ck), ["sym"], ["price"], app_id="same")
            q.awaitTermination(120)
        got = read_rollup(t, ["sym"], ["price"]).collect()[0]
        assert (got["n_rows"], got["sum_price"]) == (10, 10.0)


class TestHLLSketchSink:
    def test_streamed_registers_equal_batch_sketch(self, spark, tmp_path):
        """Streaming distinct-count maintenance: registers appended per
        micro-batch must max-merge to exactly the whole-corpus sketch,
        and a checkpoint-replayed epoch must change nothing (overwrite
        batch dirs + max-merge idempotence)."""
        from zdb_spark.operators.sketches import (build_hll_store,
                                                  hll_distinct,
                                                  hll_store_distinct)
        from zdb_spark.streaming.ingest import hll_sketch_sink

        src = str(tmp_path / "src")
        df = spark.range(2_000).select(
            (F.col("id") % 3).alias("g"),
            F.concat(F.lit("w"), F.col("id") % 900).alias("v"))
        df.repartition(4).write.parquet(src)

        store = str(tmp_path / "store")
        build_hll_store(spark.createDataFrame([], "g bigint, v string"),
                        "v", store, "g")
        stream = (spark.readStream
                  .schema(spark.read.parquet(src).schema).parquet(src))
        q = hll_sketch_sink(stream, "v", store,
                            str(tmp_path / "ckpt"), by="g")
        q.awaitTermination(120)

        whole = {tuple(r) for r in hll_distinct(df, "v", "g").collect()}
        stored = {tuple(r) for r in
                  hll_store_distinct(spark, store).collect()}
        assert stored == whole

        # replay: run the SAME stream against a fresh checkpoint (every
        # epoch re-lands on its batch dir) — still identical
        q2 = hll_sketch_sink(stream, "v", store,
                             str(tmp_path / "ckpt2"), by="g")
        q2.awaitTermination(120)
        again = {tuple(r) for r in
                 hll_store_distinct(spark, store).collect()}
        assert again == whole


class TestCountMinSketchSink:
    def test_streamed_cells_equal_batch_sketch_and_replay_is_noop(
            self, spark, tmp_path):
        """Streaming heavy-hitter maintenance: per-epoch cell batches
        must SUM to exactly the whole-corpus table — and a replay of
        the same epochs (fresh checkpoint, same epoch ids) must change
        nothing.  For an additive sketch that second half is the whole
        point: a replayed append that landed would double-count; the
        store's first-publish-wins rename makes it a no-op."""
        from zdb_spark.operators.sketches import (build_countmin_store,
                                                  countmin_lookup,
                                                  countmin_store_lookup,
                                                  countmin_table)
        from zdb_spark.streaming.ingest import countmin_sketch_sink

        src = str(tmp_path / "src")
        df = spark.range(2_000).select(
            F.concat(F.lit("w"), F.col("id") % 150).alias("v"))
        df.repartition(4).write.parquet(src)

        store = str(tmp_path / "store")
        build_countmin_store(
            spark.createDataFrame([], "v string"), "v", store,
            depth=4, width=256)
        stream = (spark.readStream
                  .schema(spark.read.parquet(src).schema).parquet(src))
        q = countmin_sketch_sink(stream, "v", store,
                                 str(tmp_path / "ckpt"))
        q.awaitTermination(120)

        probes = ["w0", "w77", "w149", "absent"]
        whole = {r.value: r.est_count for r in countmin_lookup(
            countmin_table(df, "v", depth=4, width=256), probes,
            depth=4, width=256).collect()}
        stored = {r.value: r.est_count for r in
                  countmin_store_lookup(spark, store, probes).collect()}
        assert stored == whole

        # replay with a fresh checkpoint: same epoch ids re-deliver the
        # same data — every publish must no-op, counts unchanged
        q2 = countmin_sketch_sink(stream, "v", store,
                                  str(tmp_path / "ckpt2"))
        q2.awaitTermination(120)
        again = {r.value: r.est_count for r in
                 countmin_store_lookup(spark, store, probes).collect()}
        assert again == whole


    def test_restart_at_shipped_retention(self, spark, tmp_path):
        # Five runs on one checkpoint over a growing source, at the
        # session's shipped minBatchesToRetain=2.  Two restarts follow a
        # crash after the offset was logged but before its commit, and a
        # compaction between the crash and the restart: Spark re-runs
        # that epoch, which the compaction already folded, and the
        # store refuses it, so every row counts exactly once.
        from zdb_spark.operators.sketches import (build_countmin_store,
                                                  compact_countmin_store,
                                                  countmin_table,
                                                  read_countmin_table)
        from zdb_spark.streaming.ingest import countmin_sketch_sink

        assert spark.conf.get("spark.sql.streaming.minBatchesToRetain") == "2"
        src, ckpt = str(tmp_path / "grow"), str(tmp_path / "cmckpt")
        store = str(tmp_path / "store")
        build_countmin_store(spark.createDataFrame([], "v string"), "v",
                             store, depth=4, width=256)
        written = []

        def add_file():
            k = len(written)
            rows = [(f"w{(k + i) % 13}",) for i in range(10)]
            spark.createDataFrame(rows, "v string").coalesce(1) \
                .write.mode("append").parquet(src)
            written.extend(rows)

        def newest_commit():
            return max(int(f) for f in
                       os.listdir(os.path.join(ckpt, "commits"))
                       if f.isdigit())

        for run, (files, crash) in enumerate(
                [(2, False), (1, True), (1, False), (1, True), (1, False)]):
            for _ in range(files):
                add_file()
            if crash:
                n = newest_commit()
                for f in (str(n), f".{n}.crc"):
                    if os.path.exists(os.path.join(ckpt, "commits", f)):
                        os.unlink(os.path.join(ckpt, "commits", f))
                assert compact_countmin_store(spark, store) > 1
            stream = (spark.readStream.schema("v string")
                      .option("maxFilesPerTrigger", 1).parquet(src))
            q = countmin_sketch_sink(stream, "v", store, ckpt)
            q.awaitTermination(120)
            assert q.exception() is None
            whole = countmin_table(spark.createDataFrame(written, "v string"),
                                   "v", depth=4, width=256)
            assert sorted(map(tuple, read_countmin_table(spark, store)
                              .collect())) == \
                sorted(map(tuple, whole.collect())), f"run {run}"
        # the retention really purged: early batches' logs are gone
        assert "0" not in os.listdir(os.path.join(ckpt, "offsets"))


class TestTextIndexSink:
    def test_streamed_index_equals_live_bm25(self, spark, tmp_path):
        """Streaming index maintenance: after the stream drains, the
        persisted index must answer queries bit-identically to a live
        bm25_topk over the full corpus, and a fresh-checkpoint replay
        (same epochs re-delivered) must change nothing."""
        from zdb_spark.operators.search import (bm25_topk,
                                                build_text_index,
                                                text_index_topk)
        from zdb_spark.streaming.ingest import text_index_sink

        words = ["table", "scan", "fast", "index", "spark", "join"]
        df = spark.createDataFrame(
            [(i, " ".join(words[j % 6] for j in range(i, i + 4 + i % 5)))
             for i in range(200)],
            "doc_id long, text string")
        src = str(tmp_path / "src")
        df.repartition(4).write.parquet(src)

        store = str(tmp_path / "idx")
        build_text_index(
            spark.createDataFrame([], "doc_id long, text string"),
            store)
        stream = (spark.readStream
                  .schema(spark.read.parquet(src).schema).parquet(src))
        q = text_index_sink(stream, store, str(tmp_path / "ckpt"))
        q.awaitTermination(120)

        live = [tuple(r) for r in bm25_topk(df, "table scan", k=10)
                .collect()]
        idx = [tuple(r) for r in
               text_index_topk(spark, store, "table scan", k=10)
               .collect()]
        assert idx == live

        q2 = text_index_sink(stream, store, str(tmp_path / "ckpt2"))
        q2.awaitTermination(120)
        again = [tuple(r) for r in
                 text_index_topk(spark, store, "table scan", k=10)
                 .collect()]
        assert again == live


class TestKMVSampleSink:
    def test_streamed_sample_equals_whole_corpus(self, spark, tmp_path):
        """Streaming sample maintenance: the persisted store's merged
        sample after the stream drains must equal the whole-corpus
        bottom-k row-for-row (closure), and a fresh-checkpoint replay
        changes nothing (order-statistic idempotence)."""
        from zdb_spark.operators.sketches import (build_kmv_store,
                                                  kmv_sample,
                                                  read_kmv_store)
        from zdb_spark.streaming.ingest import kmv_sample_sink

        df = spark.range(3_000).select(
            (F.col("id") % 2).alias("g"), F.col("id"))
        src = str(tmp_path / "src")
        df.repartition(4).write.parquet(src)

        store = str(tmp_path / "store")
        build_kmv_store(
            spark.createDataFrame([], "g bigint, id bigint"),
            "id", store, "g", k=32)
        stream = (spark.readStream
                  .schema(spark.read.parquet(src).schema).parquet(src))
        q = kmv_sample_sink(stream, store, str(tmp_path / "ckpt"))
        q.awaitTermination(120)

        whole = {(r.g, r.id) for r in
                 kmv_sample(df, "id", "g", k=32).collect()}
        assert {(r.g, r.id) for r in
                read_kmv_store(spark, store).collect()} == whole

        q2 = kmv_sample_sink(stream, store, str(tmp_path / "ckpt2"))
        q2.awaitTermination(120)
        assert {(r.g, r.id) for r in
                read_kmv_store(spark, store).collect()} == whole


class TestBloomSketchSink:
    def test_streamed_words_equal_batch_filter_and_replay_is_noop(
            self, spark, tmp_path):
        """Streaming membership maintenance: per-epoch word batches
        must bit_or-merge to exactly the whole-corpus filter, and a
        checkpoint-replayed run must change nothing (overwrite batch
        dirs + OR idempotence — the HLL sink's durability story)."""
        from zdb_spark.operators.sketches import (bloom_words,
                                                  build_bloom_store,
                                                  read_bloom_words)
        from zdb_spark.streaming.ingest import bloom_sketch_sink

        src = str(tmp_path / "src")
        df = spark.range(1_500).select(
            F.concat(F.lit("u"), F.col("id") % 800).alias("v"))
        df.repartition(4).write.parquet(src)

        store = str(tmp_path / "store")
        build_bloom_store(spark.createDataFrame([], "v string"), "v",
                          store, m_bits=4096, k=4)
        stream = (spark.readStream
                  .schema(spark.read.parquet(src).schema).parquet(src))
        q = bloom_sketch_sink(stream, "v", store, str(tmp_path / "ckpt"))
        q.awaitTermination(120)

        whole = {tuple(r) for r in
                 bloom_words(df, "v", m_bits=4096, k=4).collect()}
        assert {tuple(r) for r in
                read_bloom_words(spark, store).collect()} == whole

        q2 = bloom_sketch_sink(stream, "v", store,
                               str(tmp_path / "ckpt2"))
        q2.awaitTermination(120)
        assert {tuple(r) for r in
                read_bloom_words(spark, store).collect()} == whole


class TestShardedBloomSink:
    def test_rotation_under_stream_and_replay_noop(self, spark,
                                                   tmp_path):
        """Streaming frontier filter with shard rotation: a tiny shard
        0 saturates, the stream's epochs rotate into a larger shard,
        membership stays false-negative-free across all shards, and a
        checkpoint-replayed run changes nothing (epoch batch ids are
        found in their original shard and skipped)."""
        import os

        from zdb_spark.operators.sketches import (
            build_sharded_bloom_store, sharded_bloom_lookup,
            sharded_bloom_stats)
        from zdb_spark.streaming.ingest import sharded_bloom_sink

        src = str(tmp_path / "src")
        df = spark.range(3_000).select(
            F.concat(F.lit("u"), F.col("id")).alias("v"))
        df.repartition(6).write.parquet(src)

        store = str(tmp_path / "store")
        # shard 0 pre-saturated by the bootstrap corpus
        build_sharded_bloom_store(
            spark.range(1_000).select(
                F.concat(F.lit("b"), F.col("id")).alias("v")),
            "v", store, m_bits=1024, k=4, fpr_threshold=0.01,
            growth=64)
        stream = (spark.readStream
                  .schema(spark.read.parquet(src).schema).parquet(src))
        q = sharded_bloom_sink(stream, "v", store,
                               str(tmp_path / "ckpt"))
        q.awaitTermination(120)

        stats = sharded_bloom_stats(spark, store).collect()
        assert len(stats) >= 2                   # rotation happened
        assert sum(1 for r in stats if r.active) == 1

        probes = ([f"u{i}" for i in range(0, 3000, 97)]
                  + [f"b{i}" for i in range(0, 1000, 83)])
        got = {r.value: r.maybe_present for r in
               sharded_bloom_lookup(spark, store, probes).collect()}
        assert all(got.values())                 # no false negatives

        def tree(root):
            return sorted(os.path.join(dp, f)
                          for dp, _, fs in os.walk(root) for f in fs
                          if not dp.split(os.sep)[-1].startswith("_"))

        before = tree(store)
        q2 = sharded_bloom_sink(stream, "v", store,
                                str(tmp_path / "ckpt2"))
        q2.awaitTermination(120)
        assert tree(store) == before             # replay: structural noop


class TestStreamingCheckConstraints:
    """r18: streaming batches route through Table.write, so a CHECK
    constraint rejects a violating micro-batch before any file lands
    and the stream surfaces the refusal instead of committing."""

    def test_violating_batch_fails_stream(self, spark, tick_dir,
                                          tmp_path):
        import pytest

        from pyspark.sql.streaming import StreamingQueryException
        from zdb_spark.streaming.ingest import stream_writer_table

        t = _tick_table(spark, tmp_path)
        t.add_check("price_cap", "price < 0.5")   # ticks exceed this
        q = stream_writer_table(_stream(spark, tick_dir), t,
                                str(tmp_path / "ckpt"))
        with pytest.raises(StreamingQueryException,
                           match="price_cap"):
            q.awaitTermination(120)
        assert t.row_count == 0                   # nothing committed
