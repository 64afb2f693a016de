"""Table-layer tests: create/open lifecycle, append + out-of-order
enforcement, partition-pruned scan with projection, symbols endpoint —
the §1/§2.1/§2.2 invariants re-expressed on Parquet."""

import os

import pytest

from pyspark.sql import Row, functions as F

from zdb_spark.schema import ColumnType, PartitionBy, Schema
from zdb_spark.table import (OutOfOrderError, Table, TableExistsError,
                             TableNotFoundError)

NS = 1_000_000_000
DAY = 86_400 * NS
T0 = 1704067200 * NS  # 2024-01-01T00:00:00Z


def make_schema(name="t1"):
    # ts is auto-injected as column 0 (zdb hard invariant #1)
    return (Schema(name)
            .add_col("sym", ColumnType.SYMBOL16)
            .add_col("price", ColumnType.F64)
            .add_col("size", ColumnType.U32)
            .with_partition_by(PartitionBy.DAY))


def staging_debris(t):
    stg = os.path.join(t.path, "_staging")
    return os.listdir(stg) if os.path.exists(stg) else []


def to_listing_format(t):
    """Turn table ``t`` into the sidecar format of a listing-mode table
    from before every table was a manifest table: no ``_manifest``, row
    stats and streaming txn marks in ``_meta``.  ``Table.open`` upgrades
    it."""
    import json
    import shutil

    _, head = t._latest_head()
    shutil.rmtree(t._manifest_dir(), ignore_errors=True)
    meta_path = os.path.join(t.path, "_meta")
    with open(meta_path) as f:
        meta = json.load(f)
    meta.update(manifest=False, row_count=head["row_count"],
                min_ts=head["min_ts"], max_ts=head["max_ts"],
                txns=head["txns"])
    with open(meta_path, "w") as f:
        json.dump(meta, f)


def rows_df(spark, ts_list, sym="AAPL", price=1.0, size=10):
    return spark.createDataFrame(
        [Row(ts=t, sym=sym, price=price + i, size=size)
         for i, t in enumerate(ts_list)])


class TestLifecycle:
    def test_create_open_roundtrip(self, spark, tmp_home):
        t = Table.create(spark, make_schema(), home=tmp_home)
        assert t.row_count == 0
        t2 = Table.open(spark, "t1", home=tmp_home)
        assert [c.name for c in t2.schema.columns] == ["ts", "sym", "price", "size"]

    def test_create_twice_fails(self, spark, tmp_home):
        Table.create(spark, make_schema(), home=tmp_home)
        with pytest.raises(TableExistsError):
            Table.create(spark, make_schema(), home=tmp_home)

    def test_open_missing_fails(self, spark, tmp_home):
        with pytest.raises(TableNotFoundError):
            Table.open(spark, "nope", home=tmp_home)

    def test_create_or_open(self, spark, tmp_home):
        Table.create_or_open(spark, make_schema(), home=tmp_home)
        Table.create_or_open(spark, make_schema(), home=tmp_home)  # no raise

    def test_listing_mode_refused(self, spark, tmp_home):
        with pytest.raises(ValueError, match="listing-mode"):
            Table.create(spark, make_schema(), home=tmp_home,
                         manifest=False)
        assert not os.path.exists(os.path.join(tmp_home, "data", "t1"))
        t = Table.create(spark, make_schema(), home=tmp_home)
        t.write(rows_df(spark, [T0]))
        assert t.snapshot(1).count() == 1
        assert t.vacuum() == 0


class TestUpgrade:
    """``Table.open`` publishes manifest v1 for a listing-mode table
    once, from the files the listing read saw."""

    def check_upgraded(self, spark, tmp_home, name, n, lo, hi, txns):
        import json

        t = Table.open(spark, name, home=tmp_home)
        with open(os.path.join(t.path, "_meta")) as f:
            meta = json.load(f)
        assert not {"manifest", "row_count", "min_ts", "max_ts",
                    "txns"} & set(meta)
        v, head = t._latest_head()
        assert v == 1 and head["txns"] == txns
        assert (t.row_count, t.get_first_ts(), t.get_last_ts()) \
            == (n, lo, hi)
        assert t.df().count() == n
        # every live file carries its footer stats
        assert all(r.rows is not None for r in t.describe_files().collect())
        t.write(rows_df(spark, [hi + 1]))
        assert t.row_count == n + 1
        assert t.snapshot(1).count() == n
        assert t.snapshot(2).count() == n + 1
        # a second open publishes nothing
        assert Table.open(spark, name, home=tmp_home)._latest_head()[0] == 2

    def test_listing_table_upgrades_once(self, spark, tmp_home):
        t = Table.create(spark, make_schema("legacy"), home=tmp_home)
        t.write(rows_df(spark, [T0, T0 + 1]), txn=("app", 4))
        t.write(rows_df(spark, [T0 + DAY]))
        to_listing_format(t)
        self.check_upgraded(spark, tmp_home, "legacy", 3, T0, T0 + DAY,
                            {"app": 4})

    def test_crash_before_sidecar_rewrite_finishes_on_next_open(
            self, spark, tmp_home):
        import json

        t = Table.create(spark, make_schema("half"), home=tmp_home)
        t.write(rows_df(spark, [T0]))
        to_listing_format(t)
        meta_path = os.path.join(t.path, "_meta")
        with open(meta_path) as f:
            legacy = f.read()
        Table.open(spark, "half", home=tmp_home)
        with open(meta_path, "w") as f:  # v1 published, sidecar not
            f.write(legacy)
        t2 = Table.open(spark, "half", home=tmp_home)
        with open(meta_path) as f:
            assert "row_count" not in json.load(f)
        assert t2._latest_head()[0] == 1 and t2.row_count == 1

    def test_file_sink_table_upgrades(self, spark, tmp_home, tmp_path):
        # Spark's own parquet file sink wrote into the table directory
        # (the retired raw stream sink did exactly this): its
        # _spark_metadata log, not the directory, names the live files
        import json
        import shutil

        t = Table.create(spark, make_schema("sink"), home=tmp_home)
        src = str(tmp_path / "src")
        rows_df(spark, [T0 + i for i in range(4)] + [T0 + DAY]) \
            .withColumn("dt", F.date_format(F.timestamp_seconds(
                (F.col("ts") / NS).cast("long")), "yyyy-MM-dd")) \
            .write.parquet(src)
        q = (spark.readStream.schema(spark.read.parquet(src).schema)
             .parquet(src).writeStream.format("parquet")
             .option("path", os.path.join(t.path, "parquet"))
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .partitionBy("dt").trigger(availableNow=True).start())
        q.awaitTermination(120)
        # a file the sink never committed stays out of the table
        day = os.path.join(t.path, "parquet", "dt=2024-01-02")
        part = next(f for f in os.listdir(day) if f.endswith(".parquet"))
        shutil.copy(os.path.join(day, part),
                    os.path.join(day, "part-orphan.parquet"))
        to_listing_format(t)
        meta_path = os.path.join(t.path, "_meta")
        with open(meta_path) as f:
            meta = json.load(f)
        # the file sink never touched the sidecar's stats
        meta.update(row_count=5, min_ts=T0, max_ts=T0 + DAY)
        with open(meta_path, "w") as f:
            json.dump(meta, f)
        self.check_upgraded(spark, tmp_home, "sink", 5, T0, T0 + DAY, {})


class TestWrite:
    def test_append_updates_meta(self, spark, tmp_home):
        t = Table.create(spark, make_schema(), home=tmp_home)
        n = t.write(rows_df(spark, [T0, T0 + 1, T0 + DAY]))
        assert n == 3
        assert t.row_count == 3
        assert t.get_first_ts() == T0
        assert t.get_last_ts() == T0 + DAY

    def test_out_of_order_raises(self, spark, tmp_home):
        t = Table.create(spark, make_schema(), home=tmp_home)
        t.write(rows_df(spark, [T0 + DAY]))
        with pytest.raises(OutOfOrderError, match="out of order"):
            t.write(rows_df(spark, [T0]))

    def test_out_of_order_override(self, spark, tmp_home):
        t = Table.create(spark, make_schema(), home=tmp_home)
        t.write(rows_df(spark, [T0 + DAY]))
        assert t.write(rows_df(spark, [T0]), enforce_order=False) == 1

    def test_missing_column_raises(self, spark, tmp_home):
        t = Table.create(spark, make_schema(), home=tmp_home)
        bad = spark.createDataFrame([Row(ts=T0, sym="A")])
        with pytest.raises(ValueError, match="missing columns"):
            t.write(bad)

    @pytest.mark.parametrize("cluster_by", [None, ["sym"]])
    def test_each_file_sorted_by_sort_key(self, spark, tmp_home,
                                          cluster_by):
        import pyarrow.parquet as pq

        t = Table.create(spark, make_schema(), home=tmp_home)
        rows = [Row(ts=T0 + (i * 7919 % 600) * NS + (i % 3) * DAY,
                    sym="ABC"[i % 3], price=float(i), size=i)
                for i in range(600)]
        t.write(spark.createDataFrame(rows).repartition(4),
                cluster_by=cluster_by)
        key = [*(cluster_by or []), "ts"]
        for f in t.df().inputFiles():
            got = pq.read_table(f.replace("file://", ""),
                                columns=key).to_pylist()
            want = [tuple(r[k] for k in key) for r in got]
            assert want == sorted(want), f
        assert t.scan().count() == 600

    def test_range_path_files_disjoint_and_count_exact(
            self, spark, tmp_home, monkeypatch):
        # above the one-task cut-off the batch is range-partitioned; the
        # stats are observed above the exchange, whose boundary sample
        # re-runs the plan below it, so the count must stay exact
        monkeypatch.setattr(Table, "_ONE_TASK_BYTES", 0)
        t = Table.create(spark, make_schema(), home=tmp_home,
                         manifest=True)
        src = spark.range(3000).select(
            (F.lit(T0) + (F.col("id") * 977 % 3000) * 60 * NS)
            .alias("ts"), F.lit("A").alias("sym"),
            F.col("id").cast("double").alias("price"),
            F.col("id").alias("size"))
        key = "spark.sql.adaptive.coalescePartitions.enabled"
        prev = spark.conf.get(key)
        spark.conf.set(key, "false")     # keep the range partitions apart
        try:
            assert t.write(src.repartition(3)) == 3000
        finally:
            spark.conf.set(key, prev)
        assert t.row_count == 3000 and t.scan().count() == 3000
        _, head = t._latest_head()
        spans: dict = {}
        for rel, (_rows, lo, hi) in t._stats_of_head(head).items():
            spans.setdefault(rel.split("/")[0], []).append(
                (lo["ts"], hi["ts"]))
        assert len(spans) == 3                    # 3000 minutes: 3 days
        assert sum(len(v) for v in spans.values()) > 3
        for v in spans.values():
            v.sort()
            assert all(a[1] < b[0] for a, b in zip(v, v[1:])), v

    @pytest.mark.parametrize("one_task_bytes", [None, 0])
    def test_empty_batch_returns_zero(self, spark, tmp_home, monkeypatch,
                                      one_task_bytes):
        if one_task_bytes is not None:
            monkeypatch.setattr(Table, "_ONE_TASK_BYTES", one_task_bytes)
        t = Table.create(spark, make_schema(), home=tmp_home,
                         manifest=True)
        v0 = t._latest_manifest()[0]
        assert t.write(rows_df(spark, [T0]).where("price < 0")) == 0
        assert t.row_count == 0 and t._latest_manifest()[0] == v0

    def test_failed_write_job_raises_without_blocking(self, spark,
                                                      tmp_home):
        import threading

        t = Table.create(spark, make_schema(), home=tmp_home,
                         manifest=True)
        bad = rows_df(spark, [T0, T0 + 1]).withColumn(
            "price", F.raise_error(F.lit("boom")).cast("double"))
        errs = []

        def run():
            try:
                t.write(bad)
            except Exception as e:
                errs.append(e)

        th = threading.Thread(target=run, daemon=True)
        th.start()
        th.join(120)
        assert not th.is_alive(), "write blocked after its job failed"
        assert errs and "boom" in str(errs[0])
        assert t.row_count == 0
        assert staging_debris(t) == []


class TestConcurrentAppend:
    def test_two_handles_compose(self, spark, tmp_home):
        # sidecar updates from independent handles must merge, not
        # last-write-wins: each handle's cached meta is stale when the
        # other flushes.
        Table.create(spark, make_schema(), home=tmp_home)
        t1 = Table.open(spark, "t1", home=tmp_home)
        t2 = Table.open(spark, "t1", home=tmp_home)
        t1.write(rows_df(spark, [T0, T0 + 1]))
        t2.write(rows_df(spark, [T0 + DAY]), enforce_order=False)
        t3 = Table.open(spark, "t1", home=tmp_home)
        assert t3.row_count == 3
        assert t3.get_first_ts() == T0
        assert t3.get_last_ts() == T0 + DAY
        assert t3.scan().count() == 3

    def test_threaded_appends_count_exactly(self, spark, tmp_home):
        import threading

        Table.create(spark, make_schema(), home=tmp_home)
        errs = []

        def worker(day):
            try:
                t = Table.open(spark, "t1", home=tmp_home)
                t.write(rows_df(spark, [T0 + day * DAY + i for i in range(20)]),
                        enforce_order=False)
            except Exception as e:  # pragma: no cover
                errs.append(e)

        threads = [threading.Thread(target=worker, args=(d,)) for d in range(4)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not errs
        t = Table.open(spark, "t1", home=tmp_home)
        assert t.row_count == 80
        assert t.scan().count() == 80


class TestManifest:
    def make(self, spark, tmp_home):
        return Table.create(spark, make_schema("tman"), home=tmp_home,
                            manifest=True)

    @pytest.mark.parametrize("bad", ["null_ts", "check", "out_of_order"])
    def test_refused_batch_leaves_no_trace(self, spark, tmp_home, bad):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0 + DAY, T0 + DAY + 1]))
        t.add_check("price_pos", "price > 0")
        data = os.path.join(t.path, "parquet")

        def on_disk():
            return sorted(os.path.join(d, f)
                          for d, _, fs in os.walk(data) for f in fs)

        before = (t._latest_manifest()[0], t.row_count, on_disk())
        batch, err, match = {
            "null_ts": (spark.createDataFrame(
                [(None, "A", 1.0, 1)],
                "ts long, sym string, price double, size long"),
                ValueError, "NULL ts"),
            "check": (rows_df(spark, [T0 + 2 * DAY], price=-5.0),
                      ValueError, "price_pos"),
            "out_of_order": (rows_df(spark, [T0]), OutOfOrderError,
                             "out of order"),
        }[bad]
        with pytest.raises(err, match=match):
            t.write(batch)
        t2 = Table.open(spark, "tman", home=tmp_home)
        assert (t2._latest_manifest()[0], t2.row_count,
                on_disk()) == before
        assert staging_debris(t) == []

    @pytest.mark.parametrize("evolved", [False, True])
    def test_snapshot_latest_equals_df(self, spark, tmp_home, evolved):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0, T0 + DAY]))
        if evolved:
            t.add_column("venue", ColumnType.SYMBOL8, default="UNK")
            t.drop_column("size")
            t.write(spark.createDataFrame(
                [Row(ts=T0 + 2 * DAY, sym="B", price=3.0, venue="X")]))
        snap, cur = t.snapshot(t._latest_manifest()[0]), t.df()
        assert snap.schema == cur.schema
        assert sorted(snap.collect()) == sorted(cur.collect())

    def test_threaded_manifest_appends_compose(self, spark, tmp_home):
        import threading

        self.make(spark, tmp_home)
        errs = []

        def worker(day):
            try:
                t = Table.open(spark, "tman", home=tmp_home)
                t.write(rows_df(spark, [T0 + day * DAY + i
                                        for i in range(10)]),
                        enforce_order=False)
            except Exception as e:  # pragma: no cover
                errs.append(e)

        threads = [threading.Thread(target=worker, args=(d,))
                   for d in range(4)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not errs
        t = Table.open(spark, "tman", home=tmp_home)
        v, files = t._latest_manifest()
        assert v == 4              # every append published a snapshot
        assert len(files) >= 4     # no writer's files were dropped
        assert t.scan().count() == 40
        assert t.row_count == 40

    def test_two_ordered_writers_best_effort(self, spark, tmp_home):
        """The documented enforce_order contract under TWO concurrent
        ordered writers on a manifest table (single-writer semantics are
        best-effort for concurrency): the out-of-order check reads
        ``get_last_ts()`` BEFORE the write job, outside the CAS commit.

        Interleavings:
        - writer B starts after A's commit → B's overlapping batch
          RAISES OutOfOrderError (the serial contract);
        - both writers pass the check before either commits (the normal
          concurrent case) → BOTH batches land — admitted even though a
          serial schedule would reject one.

        The invariant that must hold in EVERY interleaving: no batch is
        half-applied and no rows are lost — the manifest row_count, the
        scan count, and the committed writers' batch sizes agree.
        """
        import threading

        self.make(spark, tmp_home)
        # overlapping in ts: serially, whichever commits second raises
        batch_a = [T0 + i for i in range(20)]
        batch_b = [T0 + 10 + i for i in range(20)]
        start = threading.Barrier(2)
        out_of_order: list[str] = []
        errs: list[Exception] = []
        committed: list[int] = []

        def worker(name, ts_list):
            try:
                t = Table.open(spark, "tman", home=tmp_home)
                start.wait()
                n = t.write(rows_df(spark, ts_list))  # enforce_order=True
                committed.append(n)
            except OutOfOrderError:
                out_of_order.append(name)
            except Exception as e:  # pragma: no cover
                errs.append(e)

        threads = [threading.Thread(target=worker, args=("a", batch_a)),
                   threading.Thread(target=worker, args=("b", batch_b))]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not errs
        # every committed batch is wholly visible; rejected ones wholly
        # invisible — regardless of which interleaving happened
        assert len(committed) + len(out_of_order) == 2
        assert len(committed) >= 1
        t = Table.open(spark, "tman", home=tmp_home)
        assert t.row_count == sum(committed)
        assert t.scan().count() == sum(committed)
        # serial replay of an overlapping batch always raises
        with pytest.raises(OutOfOrderError):
            t.write(rows_df(spark, [T0 + 5]))

    def test_cas_commit_is_lock_free_under_contention(self, spark,
                                                      tmp_home):
        # The multi-writer manifest protocol is optimistic CAS: N
        # writers race version creates, losers retry, zero batches are
        # lost and NO lock file is ever taken on the commit path.
        import os
        import threading

        self.make(spark, tmp_home)
        errs, lock_seen = [], []
        stop = threading.Event()
        lock_path = os.path.join(tmp_home, "data", "tman", "_meta.lock")

        def watch():
            while not stop.is_set():
                if os.path.exists(lock_path):  # pragma: no cover
                    lock_seen.append(True)
                    return

        w = threading.Thread(target=watch, daemon=True)
        w.start()

        def worker(day):
            try:
                t = Table.open(spark, "tman", home=tmp_home)
                t.write(rows_df(spark, [T0 + day * DAY + i
                                        for i in range(5)]),
                        enforce_order=False)
            except Exception as e:  # pragma: no cover
                errs.append(e)

        threads = [threading.Thread(target=worker, args=(d,))
                   for d in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        stop.set()
        w.join(5)
        assert not errs
        assert not lock_seen, "CAS path must not create a lock file"
        t = Table.open(spark, "tman", home=tmp_home)
        v, doc = t._latest_manifest_doc()
        assert v == 8                       # every batch won a version
        assert doc["row_count"] == 40
        assert t.scan().count() == 40
        # monotonic contiguous history: v1..v8 all exist (CAS can't skip)
        for i in range(1, 9):
            assert t.snapshot(i).count() == 5 * i

    def test_snapshot_reads_only_committed(self, spark, tmp_home):
        import glob
        import os
        import shutil

        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0, T0 + 1]))
        assert t.scan().count() == 2
        # a file that lands in the directory WITHOUT a manifest commit
        # (crashed half-moved batch) must be invisible to snapshot reads
        src = glob.glob(os.path.join(t.path, "parquet", "dt=*",
                                     "*.parquet"))[0]
        shutil.copy(src, src.replace(".parquet", "-orphan.parquet"))
        assert t.scan().count() == 2  # directory listing would say 4

    def test_manifest_versions_accumulate(self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0]))
        t.write(rows_df(spark, [T0 + DAY]))
        v, files = t._latest_manifest()
        assert v == 2
        assert len(files) == 2
        assert t.scan().count() == 2

    def test_compact_publishes_snapshot(self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        for i in range(3):
            t.write(rows_df(spark, [T0 + i]))
        t.compact()
        v, files = t._latest_manifest()
        assert v == 4  # 3 writes + 1 compaction snapshot
        assert len(files) == 1
        assert t.scan().count() == 3

    def test_partition_pruning_survives_manifest_read(self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0 + i * DAY for i in range(4)]))
        plan = t.scan(T0 + DAY, T0 + 2 * DAY)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "PartitionFilters" in plan and "dt" in plan
        assert t.scan(T0 + DAY, T0 + 2 * DAY).count() == 2

    def test_compact_keeps_old_snapshot_readable_until_vacuum(
            self, spark, tmp_home):
        # manifest-mode compaction must not yank files from readers of
        # older snapshots: old files coexist until vacuum()
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0]))
        t.write(rows_df(spark, [T0 + 1]))
        t.compact()
        assert t.scan().count() == 2          # new snapshot
        assert t.snapshot(2).count() == 2     # pre-compaction snapshot OK
        assert t.snapshot(1).count() == 1
        removed = t.vacuum(grace_seconds=0)
        assert removed == 2                   # the two pre-compaction files
        assert t.scan().count() == 2          # latest snapshot unaffected

    def test_vacuum_under_reader_fails_clean_not_silent(
            self, spark, tmp_home):
        """The documented snapshot-isolation boundary: a reader holding a
        PRE-compaction snapshot DataFrame keeps working until vacuum()
        (grace window), and after vacuum it fails LOUDLY at action time
        (missing file), never returning silently wrong/partial rows —
        Delta's retention-period contract."""
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0]))
        t.write(rows_df(spark, [T0 + 1]))
        held = t.snapshot(2)                  # pre-compaction reader
        t.compact()
        assert held.count() == 2              # readable until vacuum
        t.vacuum(grace_seconds=0)
        # the held plan's files are gone: a fresh action must ERROR (not
        # silently drop rows) unless the user opted into ignoreMissing
        with pytest.raises(Exception) as exc:
            held.toPandas()                   # force a re-read action
        assert "FileNotFound" in str(exc.value) \
            or "does not exist" in str(exc.value)
        # superseded manifest versions are gone too: time travel to them
        # now refuses loudly instead of reconstructing a partial view
        with pytest.raises(ValueError, match="no snapshot version 2"):
            t.snapshot(2)
        assert t.scan().count() == 2          # latest snapshot unaffected

    def test_migration_refreshes_manifest(self, spark, tmp_home):
        from zdb_spark.schema import ColumnType
        from zdb_spark.sources.readers import convert_column_type

        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0, T0 + 1]))
        convert_column_type(spark, "tman", "price", ColumnType.F32,
                            home=tmp_home)
        t2 = Table.open(spark, "tman", home=tmp_home)
        assert t2.scan().count() == 2
        assert t2.df().schema["price"].dataType.typeName() == "float"

    def test_snapshot_time_travel(self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0]))
        t.write(rows_df(spark, [T0 + DAY]))
        assert t.snapshot(1).count() == 1
        assert t.snapshot(2).count() == 2
        with pytest.raises(ValueError, match="no snapshot version 9"):
            t.snapshot(9)

    def test_vacuum_reclaims_orphans_and_old_versions(self, spark, tmp_home):
        import glob
        import os
        import shutil

        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0]))
        t.write(rows_df(spark, [T0 + DAY]))
        src = glob.glob(os.path.join(t.path, "parquet", "dt=*",
                                     "*.parquet"))[0]
        shutil.copy(src, src.replace(".parquet", "-orphan.parquet"))
        assert t.vacuum() == 0  # grace window protects fresh files
        assert t.vacuum(grace_seconds=0) == 1  # the orphan
        assert t.scan().count() == 2
        # superseded manifest versions are gone
        with pytest.raises(ValueError):
            t.snapshot(1)

    def test_vacuum_sweeps_orphan_manifest_tmp(self, spark, tmp_home):
        import os

        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0]))
        md = os.path.join(t.path, "_manifest")
        orphan = os.path.join(md, ".v000000000099.tmp")
        with open(orphan, "w") as f:
            f.write("{}")
        t.vacuum()  # young tmp survives the grace window
        assert os.path.exists(orphan)
        t.vacuum(grace_seconds=0)
        assert not os.path.exists(orphan)
        assert t.scan().count() == 1

    def test_stale_lock_is_stolen(self, spark, tmp_home):
        # a crashed writer's leftover lock must not block sidecar edits
        # forever
        import os

        t = Table.create(spark, make_schema("stale"), home=tmp_home)
        lock = os.path.join(t.path, "_meta.lock")
        with open(lock, "w") as f:
            f.write("99999 0")
        old = 1_000_000.0
        os.utime(lock, (old, old))  # epoch-ancient ⇒ stale
        t.add_column("venue", ColumnType.SYMBOL8)  # steals the lock
        assert "venue" in Table.open(spark, "stale", home=tmp_home).df().columns
        assert not os.path.exists(lock)

    def test_fresh_lock_blocks_until_timeout(self, spark, tmp_home):
        import os

        t = Table.create(spark, make_schema("fresh"), home=tmp_home)
        lock = os.path.join(t.path, "_meta.lock")
        with open(lock, "w") as f:
            f.write(f"{os.getpid()} now")
        with pytest.raises(TimeoutError):
            with t._meta_lock(timeout_s=0.3):
                pass
        os.unlink(lock)

    def test_reopen_preserves_manifest_mode(self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0]))
        t2 = Table.open(spark, "tman", home=tmp_home)
        assert t2._latest_manifest()[0] == 1
        assert t2.scan().count() == 1


class TestScan:
    def test_time_range_inclusive(self, spark, tmp_home):
        t = Table.create(spark, make_schema(), home=tmp_home)
        t.write(rows_df(spark, [T0 + i * DAY for i in range(5)]))
        got = t.scan(T0 + DAY, T0 + 3 * DAY).select("ts").collect()
        assert sorted(r["ts"] for r in got) == [T0 + DAY, T0 + 2 * DAY,
                                                T0 + 3 * DAY]

    def test_projection(self, spark, tmp_home):
        t = Table.create(spark, make_schema(), home=tmp_home)
        t.write(rows_df(spark, [T0]))
        df = t.scan(columns=["ts", "price"])
        assert df.columns == ["ts", "price"]

    def test_unknown_column_raises(self, spark, tmp_home):
        t = Table.create(spark, make_schema(), home=tmp_home)
        t.write(rows_df(spark, [T0]))
        with pytest.raises(KeyError):
            t.scan(columns=["nope"])

    def test_partition_pruning_in_plan(self, spark, tmp_home):
        """The dual predicate rewrite must reach the scan: partition
        filters on dt AND pushed filters on ts."""
        t = Table.create(spark, make_schema(), home=tmp_home)
        t.write(rows_df(spark, [T0 + i * DAY for i in range(5)]))
        plan = t.scan(T0 + DAY, T0 + 2 * DAY)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "PartitionFilters" in plan
        assert "dt" in plan

    def test_empty_table_scan(self, spark, tmp_home):
        t = Table.create(spark, make_schema(), home=tmp_home)
        assert t.scan(T0, T0 + DAY).count() == 0

    def test_scan_accepts_api_boundary_time_forms(self, spark, tmp_home):
        """scan bounds go through to_nanos: date strings, RFC3339
        strings, datetimes, and raw-nanos ints must all select the same
        inclusive window."""
        import datetime as dt

        t = Table.create(spark, make_schema(), home=tmp_home)
        t.write(rows_df(spark, [T0, T0 + DAY, T0 + 2 * DAY]))
        base = dt.datetime.fromtimestamp(T0 // 10**9, dt.timezone.utc)
        day_str = base.strftime("%Y-%m-%d")
        next_str = (base + dt.timedelta(days=1)).strftime("%Y-%m-%d")
        assert t.scan(T0, T0 + DAY).count() == 2
        assert t.scan(day_str, next_str).count() == 2
        assert t.scan(base, base + dt.timedelta(days=1)).count() == 2
        assert t.scan(base.isoformat(), str(T0 + DAY)).count() == 2


class TestReadSchema:
    """Reads take their schema from the sidecar instead of letting Spark
    infer it from Parquet footers: the frame a reader sees must not
    change, and building it must launch no Spark job."""

    @staticmethod
    def every_type_schema(name, partition_by=PartitionBy.DAY,
                          strict_u64=False):
        sc = Schema(name).with_partition_by(partition_by)
        for ct in ColumnType:
            if ct is not ColumnType.TIMESTAMP:
                sc = sc.add_col(f"c_{ct.value}", ct)
        sc.strict_u64 = strict_u64
        return sc

    @staticmethod
    def every_type_rows(spark, t, ts_list):
        # write() casts every column to its declared type; row 1 is null
        # in every non-symbol data column
        cols = t.schema.columns
        ddl = ", ".join(f"{c.name} {'string' if c.is_symbol else 'long'}"
                        for c in cols)
        return spark.createDataFrame(
            [(ts, *(f"s{i}" if c.is_symbol else None if i == 1 else i
                    for c in cols[1:]))
             for i, ts in enumerate(ts_list)], ddl)

    @staticmethod
    def footer_schema(spark, t):
        p = os.path.join(t.path, "parquet")
        files = t._latest_manifest()[1]
        return (spark.read.option("basePath", p)
                .parquet(*[os.path.join(p, f) for f in files]).schema)

    # fresh=False: a listing-format table, upgraded by ``Table.open``
    @pytest.mark.parametrize("fresh,partition_by,strict_u64", [
        (True, PartitionBy.DAY, False),
        (False, PartitionBy.DAY, False),
        (True, PartitionBy.DAY, True),
        (False, PartitionBy.YEAR, True),
        (True, PartitionBy.NONE, False),
    ])
    def test_df_schema_equals_footer_inference(
            self, spark, tmp_home, fresh, partition_by, strict_u64):
        t = Table.create(spark, self.every_type_schema(
            "rs", partition_by, strict_u64), home=tmp_home)
        t.write(self.every_type_rows(spark, t, [T0, T0 + 1, T0 + DAY]))
        if not fresh:
            to_listing_format(t)
            t = Table.open(spark, "rs", home=tmp_home)
        want = self.footer_schema(spark, t)
        assert t.df().schema == want
        assert t.scan(T0, T0 + DAY).schema == t.scan().schema
        assert t.df().count() == 3
        # dt keeps its directory-inferred type: DATE for day partitions
        dt_type = {PartitionBy.DAY: "date", PartitionBy.YEAR: "int",
                   PartitionBy.NONE: "string"}[partition_by]
        assert want["dt"].dataType.simpleString() == dt_type

    def test_plan_build_launches_no_job(self, spark, tmp_home):
        t = Table.create(spark, make_schema(), home=tmp_home,
                         manifest=True)
        for i in range(3):
            t.write(rows_df(spark, [T0 + i * DAY]))
        sc = spark.sparkContext
        sc.setJobGroup("zdb-read-plan", "plan build only")
        try:
            t.scan(T0, T0 + 2 * DAY, ["ts", "price"]).schema
            t.df().schema
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(
            "zdb-read-plan")) == []

    @pytest.mark.parametrize("evolved", [False, True])
    def test_fused_predicate_keeps_pruning(self, spark, tmp_home, evolved):
        """scan's one SQL-text ``where`` still lands as PartitionFilters
        on dt and PushedFilters on ts, and optimizes to the same plan
        as the four chained Column ``where``s it replaced."""
        import re

        from zdb_spark.table import _dt_str_for

        t = Table.create(spark, make_schema(), home=tmp_home)
        t.write(rows_df(spark, [T0 + i * DAY for i in range(5)]))
        if evolved:
            t.add_column("venue", ColumnType.SYMBOL8, default="UNK")
        lo, hi = T0 + DAY, T0 + 2 * DAY + 1
        cols = ["ts", "price", *(["venue"] if evolved else [])]
        got = t.scan(lo, hi, cols)
        node = next(ln for ln in got._jdf.queryExecution().executedPlan()
                    .toString().splitlines() if "FileScan" in ln)
        assert re.search(r"PartitionFilters: \[[^]]*dt#", node), node
        assert re.search(r"PushedFilters: \[[^]]*\(ts,", node), node
        day = "yyyy-MM-dd"
        old = (t._read(t._pruned_files(lo, hi))
               .where(F.col("ts") >= F.lit(lo))
               .where(F.col("dt") >= F.lit(_dt_str_for(lo, day)))
               .where(F.col("ts") <= F.lit(hi))
               .where(F.col("dt") <= F.lit(_dt_str_for(hi, day)))
               .select(*cols))

        def optimized(df):
            return re.sub(r"#\d+", "#", df._jdf.queryExecution()
                          .optimizedPlan().toString())

        assert optimized(got) == optimized(old)
        assert sorted(got.collect()) == sorted(old.collect())
        assert len(got.collect()) == 2

    @pytest.mark.parametrize("fresh", [True, False])
    def test_evolved_schema_unchanged(self, spark, tmp_home, fresh):
        """Evolved tables read ``dt`` as a STRING and a defaulted added
        column as non-nullable — pinned as they were before reads took
        the sidecar schema for every table."""
        from pyspark.sql.types import (DoubleType, LongType, StringType,
                                       StructField, StructType)

        t = Table.create(spark, make_schema(), home=tmp_home)
        t.write(rows_df(spark, [T0, T0 + DAY]))
        if not fresh:
            to_listing_format(t)
            t = Table.open(spark, "t1", home=tmp_home)
        t.add_column("venue", ColumnType.SYMBOL8, default="UNK")
        t.add_column("fee", ColumnType.F64)
        t.drop_column("size")
        assert t.df().schema == StructType([
            StructField("ts", LongType()),
            StructField("sym", StringType()),
            StructField("price", DoubleType()),
            StructField("venue", StringType(), False),
            StructField("fee", DoubleType()),
            StructField("dt", StringType()),
        ])
        assert {r["venue"] for r in t.df().collect()} == {"UNK"}


class TestCompaction:
    def test_compact_merges_small_files(self, spark, tmp_home):
        t = Table.create(spark, make_schema(), home=tmp_home)
        # 5 tiny appends into the same day → >= 5 files in one partition
        for i in range(5):
            t.write(rows_df(spark, [T0 + i]))
        import glob
        import os
        part_files = glob.glob(os.path.join(t.path, "parquet", "dt=*",
                                            "*.parquet"))
        assert len(part_files) >= 5
        assert t.compact() == 1
        t.vacuum(grace_seconds=0)
        part_files = glob.glob(os.path.join(t.path, "parquet", "dt=*",
                                            "*.parquet"))
        assert len(part_files) == 1
        got = t.scan().select("ts").collect()
        assert sorted(r["ts"] for r in got) == [T0 + i for i in range(5)]

    def test_compact_splits_hot_partition(self, spark, tmp_home):
        # compact() must honor target_file_mb for a skewed day: range
        # partitioning + maxRecordsPerFile split the hot day instead of
        # funneling it into one file (the round-1 repartition(n, "dt")
        # could not).
        import glob
        import os

        t = Table.create(spark, make_schema(), home=tmp_home)
        # unique long syms defeat dictionary/RLE compression so the day
        # actually exceeds the 1 MB target
        df = spark.createDataFrame(
            [Row(ts=T0 + i * 1000, sym=f"SYM-{i}-{i * 7919 % 104729:06d}",
                 price=float(i * 7919 % 104729), size=1)
             for i in range(80_000)])
        t.write(df)
        t.compact(target_file_mb=1)  # tiny target → must split
        t.vacuum(grace_seconds=0)
        hot = glob.glob(os.path.join(
            t.path, "parquet", "dt=2024-01-01", "*.parquet"))
        assert len(hot) >= 2
        for f in hot:
            ts_vals = [r["ts"] for r in
                       spark.read.parquet(f).select("ts").collect()]
            assert ts_vals == sorted(ts_vals)
        assert t.scan().count() == 80_000

    def test_compact_preserves_meta_and_scan(self, spark, tmp_home):
        t = Table.create(spark, make_schema(), home=tmp_home)
        t.write(rows_df(spark, [T0, T0 + DAY]))
        t.write(rows_df(spark, [T0 + 2 * DAY]))
        t.compact()
        assert t.row_count == 3
        assert t.scan(T0 + DAY, T0 + 2 * DAY).count() == 2

    def test_resolution_rounding_on_write(self, spark, tmp_home):
        # W2 reference contract (write.rs:62-65): declared 1-minute
        # resolution floors every incoming ts to the minute on write, so
        # round-tripped data matches the reference's storage semantics.
        MIN_NS = 60 * NS
        sch = make_schema("t_res").with_resolution(MIN_NS)
        t = Table.create(spark, sch, home=tmp_home)
        raw = [T0 + 1, T0 + MIN_NS - 1, T0 + MIN_NS + 30 * NS, T0 + 2 * MIN_NS]
        t.write(rows_df(spark, raw))
        got = sorted(r["ts"] for r in t.scan().select("ts").collect())
        assert got == [T0, T0, T0 + MIN_NS, T0 + 2 * MIN_NS]
        # sidecar min/max reflect the ROUNDED values
        assert t.get_first_ts() == T0
        assert t.get_last_ts() == T0 + 2 * MIN_NS

    def test_skewed_day_fans_out_and_stays_sorted(self, spark, tmp_home):
        # A hot day must NOT serialize into one task/file: with
        # repartitionByRange + maxRecordsPerFile the hot day splits into
        # several files, and each file is still internally ts-sorted
        # (the row-group-stats invariant the scan path relies on).
        import glob
        import os

        t = Table.create(spark, make_schema(), home=tmp_home)
        hot = [T0 + i * 1000 for i in range(30_000)]
        cold = [T0 + DAY + i * 1000 for i in range(100)]
        df = spark.createDataFrame(
            [Row(ts=ts, sym="AAPL", price=1.0, size=1)
             for ts in hot + cold])
        t.write(df, max_records_per_file=10_000)

        hot_files = glob.glob(os.path.join(
            t.path, "parquet", "dt=2024-01-01", "*.parquet"))
        assert len(hot_files) >= 3  # 30k rows / 10k cap
        for f in hot_files:
            ts_vals = [r["ts"] for r in
                       spark.read.parquet(f).select("ts").collect()]
            assert ts_vals == sorted(ts_vals), f"unsorted file {f}"
        # scan correctness unaffected by the fan-out
        assert t.scan(T0, T0 + DAY).count() == 30_001

    def test_cluster_by_write(self, spark, tmp_home):
        t = Table.create(spark, make_schema(), home=tmp_home)
        df = spark.createDataFrame(
            [Row(ts=T0 + i, sym=s, price=1.0, size=1)
             for i, s in enumerate(["B", "A", "B", "A"])])
        t.write(df, cluster_by=["sym"])
        # files are sorted by (sym, ts): within the single day-partition
        # file, all A rows precede all B rows
        rows = t.df().select("sym").collect()
        syms = [r["sym"] for r in rows]
        assert syms == sorted(syms)

    @staticmethod
    def _sym_stats_per_file(table_path):
        """Parquet footer (min, max) of the sym column per data file —
        the statistics row-group pruning actually consults."""
        import glob

        import pyarrow.parquet as pq

        out = []
        for f in glob.glob(f"{table_path}/parquet/dt=*/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index("sym")
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                out.append((st.min, st.max))
        return out

    def test_table_compression_pinned_and_applied(self, spark, tmp_home):
        """compression='zstd' at create time is persisted in the sidecar,
        survives reopen, and every data file's footer really carries the
        codec; compact() re-encodes with it too; bad codecs are rejected
        at create."""
        import glob

        import pyarrow.parquet as pq

        def codecs(table):
            out = set()
            for f in glob.glob(f"{table.path}/parquet/dt=*/*.parquet"):
                md = pq.ParquetFile(f).metadata
                for rg in range(md.num_row_groups):
                    out.add(md.row_group(rg).column(0).compression)
            return out

        t = Table.create(spark, make_schema("zst"),
                         home=tmp_home + "/zst", compression="zstd")
        t.write(spark.createDataFrame(
            [Row(ts=T0 + i, sym="A", price=1.0, size=1)
             for i in range(100)]))
        assert codecs(t) == {"ZSTD"}
        t2 = Table.open(spark, "zst", home=tmp_home + "/zst")
        assert t2._meta.compression == "zstd"       # survives reopen
        t2.compact(target_file_mb=128)
        assert codecs(t2) == {"ZSTD"}               # re-encode keeps it
        with pytest.raises(ValueError, match="unknown compression"):
            Table.create(spark, make_schema("bad"),
                         home=tmp_home + "/bad", compression="7zip")

    def test_cluster_by_stats_enable_pruning(self, spark, tmp_home):
        """The pruning CLAIM, checked at the mechanism: after a
        clustered write, (min==max) sym stats make per-symbol predicates
        skip whole row groups; the same interleaved write WITHOUT
        clustering produces full-range stats that can skip nothing."""
        rows = [Row(ts=T0 + i, sym=("AAA", "ZZZ")[i % 2],
                    price=1.0, size=1) for i in range(8000)]
        df = spark.createDataFrame(rows)

        t1 = Table.create(spark, make_schema("clu"),
                          home=tmp_home + "/clu")
        t1.write(df, cluster_by=["sym"], max_records_per_file=2000)
        stats = self._sym_stats_per_file(t1.path)
        assert len(stats) >= 4                     # file split happened
        homogeneous = sum(1 for lo, hi in stats if lo == hi)
        # at most one straddling chunk at the A|Z boundary
        assert homogeneous >= len(stats) - 1

        t2 = Table.create(spark, make_schema("unclu"),
                          home=tmp_home + "/unclu")
        t2.write(df, max_records_per_file=2000)
        stats2 = self._sym_stats_per_file(t2.path)
        # interleaved: every chunk spans the full AAA..ZZZ range
        assert all(lo == "AAA" and hi == "ZZZ" for lo, hi in stats2)


class TestSymbols:
    def test_distinct_sorted(self, spark, tmp_home):
        t = Table.create(spark, make_schema(), home=tmp_home)
        df = spark.createDataFrame(
            [Row(ts=T0 + i, sym=s, price=1.0, size=1)
             for i, s in enumerate(["MSFT", "AAPL", "MSFT", "GOOG"])])
        t.write(df)
        assert t.symbols("sym") == ["AAPL", "GOOG", "MSFT"]

    def test_non_symbol_column_rejected(self, spark, tmp_home):
        t = Table.create(spark, make_schema(), home=tmp_home)
        with pytest.raises(ValueError, match="not a symbol"):
            t.symbols("price")

    def test_null_symbol_sorts_first(self, spark, tmp_home):
        """Sorted on the driver, but in the order an ascending Spark
        sort gives: a null symbol first, then byte order."""
        t = Table.create(spark, make_schema(), home=tmp_home)
        t.write(spark.createDataFrame(
            [(T0 + i, s, 1.0, 1) for i, s in
             enumerate(["b", None, "B", "a", None, "Ä", "B"])],
            "ts long, sym string, price double, size long"))
        assert t.symbols("sym") == [None, "B", "a", "b", "Ä"]

    def test_symbol_codes_one_based_zero_absent(self, spark, tmp_home):
        # reference contract (read.rs:71-73): 1-based codes, 0 = absent
        t = Table.create(spark, make_schema(), home=tmp_home)
        t.write(spark.createDataFrame(
            [Row(ts=T0 + i, sym=s, price=1.0, size=1)
             for i, s in enumerate(["MSFT", "AAPL", "GOOG"])]))
        codes = t.symbol_codes("sym")
        assert codes == {0: None, 1: "AAPL", 2: "GOOG", 3: "MSFT"}
        assert min(c for c in codes if codes[c] is not None) == 1

    def test_small_table_one_job_no_exchange(self, spark, tmp_home,
                                             run_counted, monkeypatch):
        """Under ``_ONE_TASK_BYTES`` the distinct runs in one task: one
        Spark job, no exchange; above it the exchange comes back with
        the same answer."""
        t = Table.create(spark, make_schema(), home=tmp_home)
        for i, sym in enumerate(["MSFT", "AAPL", "IBM"]):
            t.write(rows_df(spark, [T0 + i * DAY, T0 + i * DAY + 1],
                            sym=sym))
        got, jobs, plans = run_counted(lambda: t.symbols("sym"))
        assert got == ["AAPL", "IBM", "MSFT"]
        assert jobs == 1
        assert len(plans) == 1 and "Exchange" not in plans[0]
        monkeypatch.setattr(Table, "_ONE_TASK_BYTES", 0)
        again, _, plans = run_counted(lambda: t.symbols("sym"))
        assert "Exchange" in plans[0]
        assert again == got


class TestChunkedManifest:
    """The head json must stay O(KB) regardless of table file count
    (VERDICT r3 item 1): appends extend a bounded inline tail, sealed
    tails become immutable segments, and segments coalesce so the head's
    segment list is bounded too."""

    def make(self, spark, tmp_home):
        return Table.create(spark, make_schema("tchunk"), home=tmp_home,
                            manifest=True)

    def drive_appends(self, t, total_files, batch=50):
        # Drive the commit protocol directly with synthetic file names —
        # the invariant under test is manifest layout, not parquet IO,
        # and 10k real writes would take minutes for no extra coverage.
        import os
        head_sizes = []
        fid = 0
        while fid < total_files:
            moved = [f"dt=2024-01-01/part-{fid + i:08d}.parquet"
                     for i in range(min(batch, total_files - fid))]
            fid += len(moved)
            assert t._commit_append_manifest(
                moved, len(moved), T0, T0 + fid, None) is not None
            v, _ = t._latest_head()
            head_sizes.append(os.path.getsize(os.path.join(
                t._manifest_dir(), f"v{v:012d}.json")))
        return head_sizes

    def test_head_stays_o_kb_at_10k_files(self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        head_sizes = self.drive_appends(t, 10_000)
        # every head rewrite — including the last at 10k files — is KBs,
        # where the round-3 single-doc layout would be ~500KB by the end
        assert max(head_sizes) < 32_768, max(head_sizes)
        v, head = t._latest_head()
        assert len(head["tail"]) < Table._SEAL_TAIL
        assert len(head["segments"]) < Table._MERGE_SEGMENTS
        files = t._files_of_head(head)
        assert len(files) == 10_000
        assert len(set(files)) == 10_000          # no dup, no loss
        assert head["row_count"] == 10_000

    def test_segments_coalesce(self, spark, tmp_home):
        # enough commits to trigger at least one seal + merge cycle
        t = self.make(spark, tmp_home)
        n = Table._SEAL_TAIL * Table._MERGE_SEGMENTS + Table._SEAL_TAIL
        self.drive_appends(t, n, batch=Table._SEAL_TAIL)
        v, head = t._latest_head()
        # the merge collapsed _MERGE_SEGMENTS segments into one
        assert len(head["segments"]) < Table._MERGE_SEGMENTS
        assert len(t._files_of_head(head)) == n

    def test_legacy_single_doc_head_converts_in_place(self, spark,
                                                      tmp_home):
        import json, os
        t = self.make(spark, tmp_home)
        # hand-write a round-3 layout head: flat {"files": [...]} doc
        legacy_files = [f"dt=2024-01-01/legacy-{i}.parquet"
                        for i in range(300)]
        d = t._manifest_dir()
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "v000000000001.json"), "w") as f:
            json.dump({"files": legacy_files, "txns": {"app": 7},
                       "row_count": 300, "min_ts": T0, "max_ts": T0 + 1},
                      f)
        t._head_cache = None
        v, doc = t._latest_manifest_doc()
        assert v == 1 and doc["files"] == legacy_files
        assert doc["txns"] == {"app": 7} and doc["row_count"] == 300
        # first commit on top of the legacy doc seals it into a segment
        assert t._commit_append_manifest(
            ["dt=2024-01-02/new-0.parquet"], 1, T0 + 2, T0 + 2,
            ("app", 8)) is not None
        v2, head = t._latest_head()
        assert v2 == 2
        files = t._files_of_head(head)
        assert files[:300] == legacy_files       # order preserved
        assert files[-1] == "dt=2024-01-02/new-0.parquet"
        assert head["txns"]["app"] == 8
        assert head["row_count"] == 301

    def test_vacuum_keeps_live_segments_sweeps_orphans(self, spark,
                                                       tmp_home):
        import json, os, time
        t = self.make(spark, tmp_home)
        self.drive_appends(t, Table._SEAL_TAIL * 2, batch=Table._SEAL_TAIL)
        v, head = t._latest_head()
        live = {s["name"] for s in head["segments"]}
        assert live                                # at least one sealed
        # plant an orphan segment (lost CAS race) older than the grace
        d = t._manifest_dir()
        orphan = os.path.join(d, "seg-deadbeef.json")
        with open(orphan, "w") as f:
            json.dump({"files": ["dt=2024-01-01/ghost.parquet"]}, f)
        old = time.time() - 7200
        os.utime(orphan, (old, old))
        t.vacuum(grace_seconds=3600)
        assert not os.path.exists(orphan)
        for name in live:
            assert os.path.exists(os.path.join(d, name))
        # file list still fully readable after the sweep
        assert len(t._files_of_head(t._latest_head()[1])) == \
            Table._SEAL_TAIL * 2

    def test_real_write_scan_roundtrip_chunked(self, spark, tmp_home):
        # end-to-end: real parquet writes crossing the seal threshold;
        # scan must see every row through segments + tail
        t = self.make(spark, tmp_home)
        t._SEAL_TAIL = 4  # instance-level override to cross thresholds
        t._MERGE_SEGMENTS = 3
        total = 0
        for day in range(10):
            t.write(rows_df(spark, [T0 + day * DAY + i for i in range(5)]),
                    enforce_order=False)
            total += 5
        v, head = t._latest_head()
        assert head["segments"], "seal threshold was crossed"
        assert t.scan().count() == total
        assert t.row_count == total


class TestSchemaEvolution:
    """add_column: metadata-only evolution — old files never rewritten."""

    def test_add_column_null_and_default(self, spark, tmp_home):
        t = Table.create(spark, make_schema(), home=tmp_home)
        t.write(rows_df(spark, [T0, T0 + 1]))

        t.add_column("venue", ColumnType.SYMBOL8, default="UNK")
        t.add_column("fee", ColumnType.F64)          # no default -> NULL

        # old rows: default applied at read, NULL where none declared
        got = {r["ts"]: r for r in t.scan().collect()}
        assert got[T0]["venue"] == "UNK" and got[T0]["fee"] is None

        # new write carrying the columns
        new = spark.createDataFrame(
            [Row(ts=T0 + DAY, sym="MSFT", price=2.0, size=5,
                 venue="XNAS", fee=0.1)])
        t.write(new)
        # new write OMITTING them: default fills venue; fee (no default)
        # is a caller error
        t.write(rows_df(spark, [T0 + 2 * DAY]).withColumn(
            "fee", __import__("pyspark.sql.functions", fromlist=["lit"])
            .lit(0.0)))
        got = {r["ts"]: r for r in t.scan().collect()}
        assert got[T0 + DAY]["venue"] == "XNAS"
        assert got[T0 + DAY]["fee"] == 0.1
        assert got[T0 + 2 * DAY]["venue"] == "UNK"
        with pytest.raises(ValueError, match="missing columns"):
            t.write(rows_df(spark, [T0 + 3 * DAY]))

        # evolution survives re-open; projection sees the new column
        t2 = Table.open(spark, "t1", home=tmp_home)
        assert [c.name for c in t2.schema.columns][-2:] == ["venue", "fee"]
        assert t2.scan(columns=["ts", "venue"]).count() == 4

    def test_add_existing_column_rejected(self, spark, tmp_home):
        t = Table.create(spark, make_schema(), home=tmp_home)
        with pytest.raises(ValueError, match="already exists"):
            t.add_column("sym", ColumnType.SYMBOL8)
        with pytest.raises(ValueError, match="already exists"):
            t.add_column("dt", ColumnType.I64)

    def test_add_column_default_type_validated(self, spark, tmp_home):
        """A type-mismatched default must fail AT EVOLUTION TIME, not
        silently cast to NULL at every later read."""
        t = Table.create(spark, make_schema(), home=tmp_home)
        with pytest.raises(ValueError, match="must be an integer"):
            t.add_column("n_fills", ColumnType.I64, default="lots")
        with pytest.raises(ValueError, match="must be a string"):
            t.add_column("venue2", ColumnType.SYMBOL8, default=7)
        with pytest.raises(ValueError, match="must be numeric"):
            t.add_column("fee2", ColumnType.F64, default="free")
        with pytest.raises(ValueError, match="overflows"):
            t.add_column("tiny", ColumnType.U8, default=300)
        with pytest.raises(ValueError, match="overflows"):
            t.add_column("count", ColumnType.U32, default=-1)
        # nothing above may have mutated the schema
        assert [c.name for c in t.schema.columns] == \
            [c.name for c in make_schema().columns]
        # valid ones still work
        t.add_column("n_fills", ColumnType.I64, default=0)
        t.add_column("ratio", ColumnType.F64, default=1)  # int ok for float

    def test_add_column_manifest_table(self, spark, tmp_home):
        t = Table.create(spark, make_schema("tm"), home=tmp_home,
                         manifest=True)
        t.write(rows_df(spark, [T0]))
        t.add_column("venue", ColumnType.SYMBOL8, default="UNK")
        t.write(spark.createDataFrame(
            [Row(ts=T0 + DAY, sym="A", price=1.0, size=1, venue="X")]))
        got = {r["ts"]: r["venue"] for r in t.scan().collect()}
        assert got == {T0: "UNK", T0 + DAY: "X"}


class TestDropColumn:
    def test_drop_and_guards(self, spark, tmp_home):
        t = Table.create(spark, make_schema(), home=tmp_home)
        t.write(rows_df(spark, [T0]))
        t.drop_column("size")
        # data files untouched; reads project the column away
        assert "size" not in t.scan().columns
        got = t.scan().collect()[0]
        assert got["sym"] == "AAPL" and got["price"] == 1.0
        # writes may still carry it (conformance drops it)
        t.write(rows_df(spark, [T0 + DAY]))
        assert t.scan().count() == 2
        # survives re-open
        t2 = Table.open(spark, "t1", home=tmp_home)
        assert "size" not in [c.name for c in t2.schema.columns]
        with pytest.raises(KeyError):
            t2.drop_column("nope")
        with pytest.raises(ValueError, match="cannot drop"):
            t2.drop_column("ts")
        # re-adding a dropped name needs a rewrite (stale bytes in files)
        with pytest.raises(ValueError, match="previously dropped"):
            t2.add_column("size", ColumnType.U32)

    def test_add_then_drop_then_scan(self, spark, tmp_home):
        t = Table.create(spark, make_schema("t2"), home=tmp_home)
        t.write(rows_df(spark, [T0]))
        t.add_column("venue", ColumnType.SYMBOL8, default="UNK")
        t.drop_column("venue")
        assert "venue" not in t.scan().columns
        assert t.scan().count() == 1

    def test_compact_preserves_evolved_column_values(self, spark, tmp_home):
        """compact() must read through the evolved schema: with footer
        inference, sampling a pre-evolution file would silently drop the
        added column's DATA from every rewritten file (round-7 core
        review finding)."""
        from pyspark.sql import functions as F

        t = Table.create(spark, make_schema("t3"), home=tmp_home)
        t.write(rows_df(spark, [T0]))                    # pre-evolution file
        t.add_column("venue", ColumnType.SYMBOL8, default="UNK")
        df2 = rows_df(spark, [T0 + 1]).withColumn("venue", F.lit("NYSE"))
        t.write(df2)                                     # carries real values
        t.compact()
        got = {r["ts"]: r["venue"] for r in
               t.scan().select("ts", "venue").collect()}
        assert got == {T0: "UNK", T0 + 1: "NYSE"}
        # and the default is now MATERIALIZED in the physical files
        t.vacuum(grace_seconds=0)
        import glob
        files = glob.glob(f"{t.path}/parquet/dt=*/*.parquet")
        raw = spark.read.parquet(*files)
        assert "venue" in raw.columns
        assert {r["venue"] for r in raw.select("venue").collect()} \
            == {"UNK", "NYSE"}

    def test_compact_reclaims_dropped_column_bytes(self, spark, tmp_home):
        """After drop_column + compact + vacuum, the physical files must
        no longer carry the dropped column (the reclaim drop_column
        promises)."""
        from pyspark.sql import functions as F

        t = Table.create(spark, make_schema("t4"), home=tmp_home)
        t.write(rows_df(spark, [T0])
                .withColumn("extra", F.lit(7)))          # not in schema: dropped at conform
        t.add_column("venue", ColumnType.SYMBOL8, default="UNK")
        t.write(rows_df(spark, [T0 + 1]).withColumn("venue", F.lit("X")))
        t.drop_column("venue")
        t.compact()
        t.vacuum(grace_seconds=0)
        import glob
        files = glob.glob(f"{t.path}/parquet/dt=*/*.parquet")
        raw = spark.read.parquet(*files)
        assert "venue" not in raw.columns
        assert t.scan().count() == 2


class TestDeleteWhere:
    """Copy-on-write row-level DELETE (r16): manifest-snapshot
    rewrites of only the affected files, CAS flip, audit trail via
    time travel, loud abort on rewrite races."""

    def make(self, spark, tmp_home, name="tdel"):
        return Table.create(spark, make_schema(name), home=tmp_home,
                            manifest=True)

    def test_delete_rows_and_row_count(self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0 + i for i in range(10)]))
        t.write(rows_df(spark, [T0 + DAY + i for i in range(10)],
                        sym="MSFT"))
        assert t.row_count == 20
        n = t.delete_where("sym = 'MSFT' AND price >= 5.0")
        assert n == 6                         # prices 5.0..9.0 + 1.0+i
        assert t.row_count == 14
        got = t.scan().where("sym = 'MSFT'").count()
        assert got == 4
        # untouched partition intact, ordering preserved
        aapl = t.scan().where("sym = 'AAPL'")
        assert aapl.count() == 10
        ts_vals = [r.ts for r in aapl.orderBy("ts").collect()]
        assert ts_vals == sorted(ts_vals)

    def test_no_match_is_noop(self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0, T0 + 1]))
        v_before = t._latest_head()[0]
        assert t.delete_where("price > 1e9") == 0
        assert t._latest_head()[0] == v_before    # no commit published
        assert t.row_count == 2

    def test_null_condition_keeps_rows(self, spark, tmp_home):
        # SQL DELETE semantics: NULL evaluations are NOT deletions
        t = self.make(spark, tmp_home)
        df = spark.createDataFrame(
            [Row(ts=T0, sym=None, price=1.0, size=10),
             Row(ts=T0 + 1, sym="AAPL", price=2.0, size=10)])
        t.write(df)
        assert t.delete_where("sym = 'AAPL'") == 1
        left = t.scan().collect()
        assert len(left) == 1 and left[0].sym is None

    def test_nondeterministic_predicate_rejected(self, spark,
                                                 tmp_home):
        # ADVICE r16: the predicate is evaluated in two separate jobs
        # (discovery, then rewrite) — a non-deterministic one would
        # delete a different row set than it reports
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0 + i for i in range(4)]))
        with pytest.raises(ValueError, match="non-deterministic"):
            t.delete_where("rand() < 0.5")
        with pytest.raises(ValueError, match="non-deterministic"):
            t.update_where("rand() < 0.5", {"price": "price"})
        assert t.row_count == 4

    def test_symlinked_home_delete(self, spark, tmp_home):
        # ADVICE r16: Spark reports RESOLVED file paths; a symlinked
        # component in the table home must not make every affected
        # key miss the manifest (abspath kept the symlink; realpath
        # matches both sides)
        import os

        real = os.path.join(tmp_home, "real")
        os.makedirs(real)
        t = Table.create(spark, make_schema("tsym"), home=real,
                         manifest=True)
        t.write(rows_df(spark, [T0 + i for i in range(6)]))
        link = os.path.join(tmp_home, "link")
        os.symlink(real, link)
        t2 = Table.open(spark, "tsym", home=link)
        assert t2.delete_where("price >= 4.0") == 3
        assert t2.scan().count() == 3

    def test_whole_file_delete(self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0, T0 + 1]))
        t.write(rows_df(spark, [T0 + DAY], sym="MSFT"))
        assert t.delete_where("sym = 'MSFT'") == 1
        assert t.scan().count() == 2
        assert {r.sym for r in t.scan().collect()} == {"AAPL"}

    def test_time_travel_audit_and_vacuum(self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0 + i for i in range(6)]))
        v_pre = t._latest_head()[0]
        assert t.delete_where("price >= 4.0") == 3
        # the pre-delete snapshot still shows the deleted rows
        assert t.snapshot(v_pre).count() == 6
        assert t.scan().count() == 3
        # superseded files stay until vacuum; after vacuum the old
        # snapshot is gone but the live one is intact
        removed = t.vacuum(grace_seconds=0.0)
        assert removed > 0
        assert t.scan().count() == 3

    def test_vacuum_keep_versions_retains_audit_window(self, spark,
                                                       tmp_home):
        # r16 verdict task 6: the Delta retention shape — a bounded
        # audit window of superseded snapshots survives vacuum
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0 + i for i in range(6)]))
        v_pre = t._latest_head()[0]
        assert t.delete_where("price >= 4.0") == 3
        v_post = t._latest_head()[0]
        # keep_versions=1: the pre-delete snapshot (and its files)
        # survive; the deleted rows remain auditable
        t.vacuum(grace_seconds=0.0, keep_versions=1)
        assert t.snapshot(v_pre).count() == 6
        assert t.scan().count() == 3
        # another rewrite pushes v_pre past the 1-version window
        assert t.update_where("price >= 1.0",
                              {"price": "price + 1.0"}) == 3
        t.vacuum(grace_seconds=0.0, keep_versions=1)
        with pytest.raises(ValueError, match="no snapshot"):
            t.snapshot(v_pre)
        assert t.snapshot(v_post).count() == 3   # still in window
        # hard purge: only the latest survives
        t.vacuum(grace_seconds=0.0)
        with pytest.raises(ValueError, match="no snapshot"):
            t.snapshot(v_post)
        assert t.scan().count() == 3
        with pytest.raises(ValueError, match="keep_versions"):
            t.vacuum(keep_versions=-1)

    def test_rewrite_race_aborts_loudly(self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0 + i for i in range(6)]))
        orig = t._commit_manifest

        def racing(update_fn, max_retries=200):
            # a concurrent compaction rewrites EVERY file between the
            # delete's snapshot read and its flip
            t2 = Table.open(spark, "tdel", home=tmp_home)
            orig_files = set(t2._latest_manifest()[1])
            t2.compact(target_file_mb=1)
            t._commit_manifest = orig        # one-shot interception
            assert orig_files  # sanity: there was something to race on
            return orig(update_fn, max_retries)

        t._commit_manifest = racing
        with pytest.raises(RuntimeError, match="rewrite race"):
            t.delete_where("price >= 4.0")
        # table is unharmed: nothing deleted, no orphan in the live set
        t3 = Table.open(spark, "tdel", home=tmp_home)
        assert t3.scan().count() == 6
        assert t3.row_count == 6
        # the retry the error demands now succeeds
        assert t3.delete_where("price >= 4.0") == 3
        assert t3.scan().count() == 3

    def test_delete_on_zordered_table_keeps_clustering(self, spark,
                                                       tmp_home):
        sch = make_schema("tdelz")
        t = Table.create(spark, sch, home=tmp_home, manifest=True,
                         zorder_by=["price"],
                         zorder_bounds={"price": (0.0, 100.0)})
        t.write(rows_df(spark, [T0 + i for i in range(20)]))
        assert t.delete_where("price >= 15.0") == 6
        assert t.scan().count() == 14
        # sidecar clustering still pinned; a follow-up write works
        t.write(rows_df(spark, [T0 + DAY + i for i in range(3)]))
        assert t.scan().count() == 17


class TestUpdateWhere:
    """Copy-on-write row-level UPDATE (r16): shares delete_where's
    machinery — affected-file rewrite, CAS flip, race abort."""

    def make(self, spark, tmp_home, name="tupd"):
        return Table.create(spark, make_schema(name), home=tmp_home,
                            manifest=True)

    def test_update_assignments_and_isolation(self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0 + i for i in range(6)]))
        v_pre = t._latest_head()[0]
        n = t.update_where("price >= 4.0",
                           {"sym": "'REDACTED'", "size": "size * 2"})
        assert n == 3
        assert t.row_count == 6               # updates keep the count
        rows = {r.price: (r.sym, r.size)
                for r in t.scan().collect()}
        assert rows[1.0] == ("AAPL", 10) and rows[3.0] == ("AAPL", 10)
        assert rows[4.0] == ("REDACTED", 20)
        assert rows[6.0] == ("REDACTED", 20)
        # pre-update snapshot is the audit trail
        old = {r.price: r.sym for r in t.snapshot(v_pre).collect()}
        assert old[6.0] == "AAPL"

    def test_update_column_expression_sees_old_row(self, spark,
                                                   tmp_home):
        from pyspark.sql import functions as F

        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0, T0 + 1]))
        n = t.update_where(F.col("price") > 1.5,
                           {"price": F.col("price") + 100.0})
        assert n == 1
        assert sorted(r.price for r in t.scan().collect()) == \
            [1.0, 102.0]

    def test_guarded_columns_and_unknown(self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0]))
        with pytest.raises(ValueError, match="cannot assign"):
            t.update_where("price > 0", {"ts": "ts + 1"})
        with pytest.raises(ValueError, match="cannot assign"):
            t.update_where("price > 0", {"dt": "'2020-01-01'"})
        with pytest.raises(KeyError, match="unknown column"):
            t.update_where("price > 0", {"nope": "1"})

    def test_no_match_is_noop(self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0]))
        v = t._latest_head()[0]
        assert t.update_where("price > 1e9", {"sym": "'X'"}) == 0
        assert t._latest_head()[0] == v


class TestMergeInto:
    """Copy-on-write MERGE (r17): the Delta/Iceberg upsert shape on
    top of the r16 rewrite machinery — key-equality match, update/
    delete/insert clauses, one atomic CAS flip for rewrites+inserts."""

    def make(self, spark, tmp_home, name="tmrg"):
        return Table.create(spark, make_schema(name), home=tmp_home,
                            manifest=True)

    def src(self, spark, rows):
        # rows: list of (ts, sym, price, size)
        return spark.createDataFrame(
            [Row(ts=t, sym=s, price=p, size=z) for t, s, p, z in rows])

    def test_upsert_default_set(self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0 + i for i in range(4)]))
        v_pre = t._latest_head()[0]
        # ts key: row T0+1 matches (price 101 overwrites 2.0), one
        # brand-new row lands a day later (outside recorded bounds)
        res = t.merge_into(
            self.src(spark, [(T0 + 1, "UPD", 101.0, 77),
                             (T0 + DAY, "NEW", 9.0, 1)]), on="ts")
        assert res == {"matched": 1, "updated": 1, "deleted": 0,
                       "inserted": 1}
        assert t.row_count == 5               # manifest accounting
        assert t.scan().count() == 5          # actual rows agree
        rows = {r.ts: (r.sym, r.price, r.size)
                for r in t.scan().collect()}
        assert rows[T0 + 1] == ("UPD", 101.0, 77)
        assert rows[T0] == ("AAPL", 1.0, 10)  # unmatched untouched
        assert rows[T0 + DAY] == ("NEW", 9.0, 1)
        # inserts extended the manifest ts bounds
        assert t.get_last_ts() == T0 + DAY
        # pre-merge snapshot is the audit trail
        old = {r.ts: r.price for r in t.snapshot(v_pre).collect()}
        assert old[T0 + 1] == 2.0 and (T0 + DAY) not in old

    def test_matched_delete_with_insert(self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0 + i for i in range(3)]))
        res = t.merge_into(
            self.src(spark, [(T0, "X", 0.0, 0),
                             (T0 + 9, "NEW", 5.0, 5)]),
            on="ts", when_matched="delete")
        assert res == {"matched": 1, "updated": 0, "deleted": 1,
                       "inserted": 1}
        rows = {r.ts for r in t.scan().collect()}
        assert rows == {T0 + 1, T0 + 2, T0 + 9}
        assert t.row_count == 3

    def test_update_only_ignores_unmatched(self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0, T0 + 1]))
        res = t.merge_into(
            self.src(spark, [(T0, "U", 50.0, 1),
                             (T0 + 99, "IGNORED", 1.0, 1)]),
            on="ts", when_not_matched=None)
        assert res["updated"] == 1 and res["inserted"] == 0
        assert t.scan().count() == 2
        assert t.scan().where("sym = 'IGNORED'").count() == 0

    def test_insert_only_leaves_matched_files_alone(self, spark,
                                                    tmp_home):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0, T0 + 1]))
        files_pre = set(t._latest_manifest()[1])
        res = t.merge_into(
            self.src(spark, [(T0, "SKIP", 0.0, 0),
                             (T0 + 7, "NEW", 3.0, 3)]),
            on="ts", when_matched=None)
        assert res == {"matched": 1, "updated": 0, "deleted": 0,
                       "inserted": 1}
        # matched rows untouched AND their files not rewritten
        assert files_pre <= set(t._latest_manifest()[1])
        rows = {r.ts: r.sym for r in t.scan().collect()}
        assert rows[T0] == "AAPL" and rows[T0 + 7] == "NEW"

    def test_explicit_set_values_sees_both_sides(self, spark,
                                                 tmp_home):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0, T0 + 1]))         # prices 1.0, 2.0
        res = t.merge_into(
            self.src(spark, [(T0 + 1, "Z", 40.0, 4)]), on="ts",
            set_values={"price": "t.price + s.price"},
            when_not_matched=None)
        assert res["updated"] == 1
        rows = {r.ts: (r.sym, r.price) for r in t.scan().collect()}
        assert rows[T0 + 1] == ("AAPL", 42.0)  # sym NOT in set_values

    def test_one_source_row_many_target_rows(self, spark, tmp_home):
        # one source row fanning out to many matched target rows is
        # legal (only multi-SOURCE per key is ambiguous)
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0 + i for i in range(4)]))
        res = t.merge_into(
            spark.createDataFrame([Row(sym="AAPL", size=99)]),
            on="sym", when_not_matched=None)
        assert res["updated"] == 4
        assert {r.size for r in t.scan().collect()} == {99}
        assert t.row_count == 4

    def test_duplicate_source_keys_rejected(self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0]))
        with pytest.raises(ValueError, match="multiple source rows"):
            t.merge_into(
                self.src(spark, [(T0, "A", 1.0, 1),
                                 (T0, "B", 2.0, 2)]), on="ts")
        # insert-only merges skip the check (no matched ambiguity)
        res = t.merge_into(
            self.src(spark, [(T0 + 5, "A", 1.0, 1),
                             (T0 + 5, "B", 2.0, 2)]),
            on="ts", when_matched=None)
        assert res["inserted"] == 2

    def test_clause_and_column_guards(self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0]))
        s1 = self.src(spark, [(T0, "A", 1.0, 1)])
        with pytest.raises(ValueError, match="both clauses"):
            t.merge_into(s1, on="ts", when_matched=None,
                         when_not_matched=None)
        with pytest.raises(ValueError, match="when_matched"):
            t.merge_into(s1, on="ts", when_matched="upsert")
        with pytest.raises(ValueError, match="set_values requires"):
            t.merge_into(s1, on="ts", when_matched="delete",
                         set_values={"price": "1.0"})
        with pytest.raises(KeyError, match="unknown key"):
            t.merge_into(s1, on="nope")
        with pytest.raises(KeyError, match="source lacks key"):
            t.merge_into(s1.drop("sym"), on="sym")
        with pytest.raises(ValueError, match="cannot assign"):
            t.merge_into(s1, on="ts", set_values={"ts": "0"})
        with pytest.raises(ValueError, match="key column"):
            t.merge_into(s1, on="sym", set_values={"sym": "'X'"})
        with pytest.raises(ValueError, match="source lacks columns"):
            t.merge_into(s1.drop("price"), on="ts")
        assert t.row_count == 1               # nothing committed

    def test_noop_merge_publishes_nothing(self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0]))
        v = t._latest_head()[0]
        res = t.merge_into(
            self.src(spark, [(T0 + 9, "X", 1.0, 1)]),
            on="ts", when_not_matched=None)
        assert res == {"matched": 0, "updated": 0, "deleted": 0,
                       "inserted": 0}
        assert t._latest_head()[0] == v

    def test_merge_rejects_nondeterministic_source(self, spark,
                                                   tmp_home):
        # ADVICE r17: the source is evaluated in several separate
        # jobs — a rand()-gated source could match a different key
        # set per job (updates miss discovered files; the anti-join
        # inserts keys living in unaffected files).  Reject loudly.
        from pyspark.sql import functions as F

        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0, T0 + 1]))
        flaky = (self.src(spark, [(T0, "A", 1.0, 1),
                                  (T0 + 1, "B", 2.0, 2)])
                 .where(F.rand() < 0.5))
        with pytest.raises(ValueError, match="non-deterministic"):
            t.merge_into(flaky, on="ts")
        # the materialized form of the same frame is accepted
        fixed = flaky.localCheckpoint()
        res = t.merge_into(fixed, on="ts")
        assert res["matched"] + res["inserted"] == fixed.count()

    def test_merge_into_empty_table(self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        res = t.merge_into(self.src(spark, [(T0, "A", 1.0, 1)]),
                           on="ts")
        assert res["inserted"] == 1 and res["matched"] == 0
        assert t.row_count == 1
        assert t.get_first_ts() == T0 and t.get_last_ts() == T0

    def test_zorder_layout_preserved(self, spark, tmp_home):
        t = Table.create(spark, make_schema("tmrgz"), home=tmp_home,
                         manifest=True, zorder_by=["price"],
                         zorder_bounds={"price": (0.0, 1000.0)})
        t.write(rows_df(spark, [T0 + i for i in range(6)]))
        res = t.merge_into(
            self.src(spark, [(T0 + 1, "U", 500.0, 5),
                             (T0 + 60, "N", 900.0, 9)]), on="ts")
        assert res["updated"] == 1 and res["inserted"] == 1
        got = {r.ts: r.price for r in t.scan().collect()}
        assert got[T0 + 1] == 500.0 and got[T0 + 60] == 900.0
        assert "_zkey" not in t.scan().columns


class TestChangesBetween:
    """Row-level CDC between snapshots (r17): derived from the COW
    file-immutability invariant — no stored change images, the diff
    reads only files that entered/left the manifest and exceptAll
    cancels rows that merely moved during a rewrite."""

    def make(self, spark, tmp_home, name="tcdc"):
        return Table.create(spark, make_schema(name), home=tmp_home,
                            manifest=True)

    @staticmethod
    def feed(t, v0, v1=None):
        return sorted((r.ts, r.price, r._change_type)
                      for r in t.changes_between(v0, v1).collect())

    def test_append_is_insert_only(self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0]))
        v0 = t._latest_head()[0]
        t.write(rows_df(spark, [T0 + 1, T0 + 2], price=7.0))
        assert self.feed(t, v0) == [(T0 + 1, 7.0, "insert"),
                                    (T0 + 2, 8.0, "insert")]

    def test_delete_is_delete_only(self, spark, tmp_home):
        # survivors are rewritten into NEW files; exceptAll cancels
        # them, leaving exactly the deleted rows
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0 + i for i in range(5)]))
        v0 = t._latest_head()[0]
        assert t.delete_where("price >= 4.0") == 2
        assert self.feed(t, v0) == [(T0 + 3, 4.0, "delete"),
                                    (T0 + 4, 5.0, "delete")]

    def test_update_is_delete_insert_pair(self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0, T0 + 1]))
        v0 = t._latest_head()[0]
        t.update_where("price > 1.5", {"price": "price + 100.0"})
        assert self.feed(t, v0) == [(T0 + 1, 2.0, "delete"),
                                    (T0 + 1, 102.0, "insert")]

    def test_merge_feed(self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0, T0 + 1]))
        v0 = t._latest_head()[0]
        t.merge_into(spark.createDataFrame(
            [Row(ts=T0 + 1, sym="U", price=50.0, size=1),
             Row(ts=T0 + 9, sym="N", price=9.0, size=9)]), on="ts")
        assert self.feed(t, v0) == [(T0 + 1, 2.0, "delete"),
                                    (T0 + 1, 50.0, "insert"),
                                    (T0 + 9, 9.0, "insert")]

    def test_compaction_is_silent(self, spark, tmp_home):
        # a pure rewrite changes bytes, not rows — empty feed
        t = self.make(spark, tmp_home)
        for i in range(3):
            t.write(rows_df(spark, [T0 + i], price=1.0 + i))
        v0 = t._latest_head()[0]
        assert t.compact() > 0
        assert t.changes_between(v0).count() == 0

    def test_range_spans_multiple_commits(self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0]))
        v0 = t._latest_head()[0]
        t.write(rows_df(spark, [T0 + 1], price=5.0))
        t.delete_where("price = 1.0")
        # net across both commits: +row(T0+1), -row(T0)
        assert self.feed(t, v0) == [(T0, 1.0, "delete"),
                                    (T0 + 1, 5.0, "insert")]
        # duplicate-row multiset semantics: identical rows diff by count
        assert t.changes_between(v0, v0).count() == 0

    def test_empty_and_nonempty_feeds_share_one_schema(self, spark,
                                                       tmp_home):
        # ADVICE r17: partition discovery infers dt as DATE on the
        # file-diff path while the empty path declared STRING — an
        # accumulating consumer unioning successive batches would
        # schema-mismatch on the first empty batch.  Both paths must
        # pin dt to string.
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0]))
        v0 = t._latest_head()[0]
        empty = t.changes_between(v0, v0)
        t.write(rows_df(spark, [T0 + 1], price=5.0))
        full = t.changes_between(v0)
        # dtypes (names + types, in order) is the union-compat
        # contract; nullability legitimately differs (lit() tags are
        # non-null) and unionByName reconciles it
        assert empty.dtypes == full.dtypes
        assert dict(full.dtypes)["dt"] == "string"
        # the accumulating-consumer shape really works
        assert empty.unionByName(full).count() == full.count()

    def test_feed_spanning_add_column_uses_fill_default(self, spark,
                                                        tmp_home):
        # r17 verdict "what's wrong" #1: the feed is rendered in the
        # CURRENT schema — rows written before an add_column surface
        # the fill default, not a per-version schema, and the
        # evolution itself (no byte change) emits nothing.
        from pyspark.sql import functions as F

        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0]))
        v0 = t._latest_head()[0]
        t.add_column("venue", ColumnType.SYMBOL8, default="NONE")
        v1 = t._latest_head()[0]
        assert t.changes_between(v0, v1).count() == 0
        t.write(rows_df(spark, [T0 + 1], price=5.0)
                .withColumn("venue", F.lit("X")))
        t.delete_where("price = 1.0")   # pre-evolution row leaves
        feed = sorted((r.ts, r.venue, r._change_type)
                      for r in t.changes_between(v0).collect())
        # the deleted pre-evolution row is rendered with the default
        assert feed == [(T0, "NONE", "delete"),
                        (T0 + 1, "X", "insert")]
        assert "venue" in t.changes_between(v0, v0).columns

    def test_guards(self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0]))
        v = t._latest_head()[0]
        with pytest.raises(ValueError, match="from_version"):
            t.changes_between(v, v - 1)
        with pytest.raises(ValueError, match="no snapshot"):
            t.changes_between(v + 99, v + 99)
        t.write(rows_df(spark, [T0 + 1]))
        t.vacuum(grace_seconds=0.0)
        with pytest.raises(ValueError, match="no snapshot"):
            t.changes_between(v)          # vacuumed away


class TestMaintenanceStress:
    """r16 verdict task 4: interleaved write()/delete_where()/compact()
    threads — the manifest_stress treatment for the COW rewrite path.
    The race contract is abort-loudly-and-retry (`_flip_replacing`),
    so deleters/compactors retry on RuntimeError; the invariants are
    (a) exact final row accounting, (b) every delete slice removed
    exactly once (sum of returned counts), and (c) every SURVIVING
    manifest version's recorded row_count equals the actual row count
    of its snapshot — the accounting can never drift from the files,
    at any version, under concurrency."""

    def test_interleaved_write_delete_compact(self, spark, tmp_home):
        import json as _json
        import os
        import threading

        Table.create(spark, make_schema(), home=tmp_home,
                     manifest=True)
        t0 = Table.open(spark, "t1", home=tmp_home)
        # seed: prices 1..40 on day 0 (4 files of 10) — the delete
        # target corpus; appends land on later days, outside every
        # delete predicate
        for b in range(4):
            t0.write(rows_df(spark, [T0 + b * 10 + i
                                     for i in range(10)],
                             price=float(b * 10) + 1.0),
                     enforce_order=False)
        errs: list = []
        deleted: dict[int, int] = {}

        def retry(fn, attempts=20):
            for _ in range(attempts):
                try:
                    return fn()
                except RuntimeError:     # lost a rewrite race: re-run
                    continue
            raise RuntimeError("retry budget exhausted")

        def writer(day):
            try:
                t = Table.open(spark, "t1", home=tmp_home)
                for j in range(3):
                    t.write(rows_df(
                        spark, [T0 + (day + 1) * DAY + j * 5 + i
                                for i in range(5)], price=1000.0),
                        enforce_order=False)
            except Exception as e:  # pragma: no cover
                errs.append(e)

        def deleter(k):
            # disjoint 10-price slice per deleter; seed-only values
            try:
                t = Table.open(spark, "t1", home=tmp_home)
                lo, hi = k * 10 + 1, k * 10 + 6
                deleted[k] = retry(lambda: t.delete_where(
                    f"price >= {lo} AND price < {hi} "
                    f"AND price < 100.0"))
            except Exception as e:  # pragma: no cover
                errs.append(e)

        def compactor():
            try:
                t = Table.open(spark, "t1", home=tmp_home)
                for _ in range(2):
                    retry(lambda: t.compact(target_file_mb=1))
            except Exception as e:  # pragma: no cover
                errs.append(e)

        threads = ([threading.Thread(target=writer, args=(d,))
                    for d in range(2)]
                   + [threading.Thread(target=deleter, args=(k,))
                      for k in range(4)]
                   + [threading.Thread(target=compactor)])
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not errs, errs
        # (b) each disjoint 5-price slice deleted exactly once
        assert deleted == {0: 5, 1: 5, 2: 5, 3: 5}
        t = Table.open(spark, "t1", home=tmp_home)
        # (a) exact accounting: 40 seed - 20 deleted + 30 appended
        assert t.row_count == 50
        assert t.scan().count() == 50
        assert t.scan().where("price < 100.0").count() == 20
        # (c) EVERY surviving version's recorded row_count matches its
        # snapshot's actual rows — no drift at any point in history
        md = t._manifest_dir()
        versions = sorted(int(f[1:-5]) for f in os.listdir(md)
                          if f.startswith("v")
                          and f.endswith(".json"))
        assert len(versions) >= 13   # 4 seed + 6 writes + 4 del + 2 cp
        for v in versions:
            with open(os.path.join(md, f"v{v:012d}.json")) as fh:
                doc = Table._normalize_head(_json.load(fh))
            assert t.snapshot(v).count() == doc["row_count"], \
                f"row_count drift at v{v}"


class TestCompactRewriteRace:
    """r16 review finding: compact's flip must not resurrect rows a
    concurrent delete_where removed (the symmetric guard to
    delete_where's own abort)."""

    def test_compact_aborts_when_delete_wins(self, spark, tmp_home):
        t = Table.create(spark, make_schema("tcr"), home=tmp_home,
                         manifest=True)
        t.write(rows_df(spark, [T0 + i for i in range(6)]))
        orig = t._commit_manifest

        def racing(update_fn, max_retries=200):
            t2 = Table.open(spark, "tcr", home=tmp_home)
            assert t2.delete_where("price >= 4.0") == 3
            t._commit_manifest = orig
            return orig(update_fn, max_retries)

        t._commit_manifest = racing
        with pytest.raises(RuntimeError, match="compact lost"):
            t.compact(target_file_mb=1)
        # the delete survived; nothing resurrected, no duplicates
        t3 = Table.open(spark, "tcr", home=tmp_home)
        assert t3.scan().count() == 3
        assert t3.row_count == 3
        assert sorted(r.price for r in t3.scan().collect()) == \
            [1.0, 2.0, 3.0]
        # compact re-run on the new snapshot succeeds
        assert t3.compact(target_file_mb=1) >= 1
        assert t3.scan().count() == 3


class TestFileStats:
    """r18 manifest-level data skipping (r17 verdict task 3): every
    commit records per-file [rows, min, max] for ts + Z-order keys
    in the manifest; scans and COW discovery prune the FILE LIST
    from metadata already in memory — zero footer reads."""

    def make(self, spark, tmp_home, name="tfs", **kw):
        return Table.create(spark, make_schema(name), home=tmp_home,
                            manifest=True, **kw)

    def test_append_records_ts_stats(self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0, T0 + 5]))
        t.write(rows_df(spark, [T0 + DAY, T0 + DAY + 9]))
        _, head = t._latest_head()
        stats = t._stats_of_head(head)
        files = t._latest_manifest()[1]
        assert set(stats) == set(files)
        los = sorted(s[1]["ts"] for s in stats.values())
        his = sorted(s[2]["ts"] for s in stats.values())
        assert los == [T0, T0 + DAY]
        assert his == [T0 + 5, T0 + DAY + 9]
        assert sum(s[0] for s in stats.values()) == 4

    def test_stats_survive_sealing_and_merge(self, spark, tmp_home,
                                             monkeypatch):
        monkeypatch.setattr(Table, "_SEAL_TAIL", 2)
        monkeypatch.setattr(Table, "_MERGE_SEGMENTS", 2)
        t = self.make(spark, tmp_home)
        for i in range(6):
            t.write(rows_df(spark, [T0 + i]))
        _, head = t._latest_head()
        assert head["segments"]            # sealing really happened
        stats = t._stats_of_head(head)
        files = t._latest_manifest()[1]
        assert set(stats) == set(files)
        assert len(files) == 6

    def test_scan_prunes_file_list(self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        for d in range(4):
            t.write(rows_df(spark, [T0 + d * DAY], price=float(d)))
        full = t.df()
        pruned = t._read(t._pruned_files(T0 + DAY, T0 + 2 * DAY))
        assert len(full.inputFiles()) == 4
        assert len(pruned.inputFiles()) == 2
        # values identical to the unpruned filtered scan
        got = sorted(r.price for r in
                     t.scan(T0 + DAY, T0 + 2 * DAY).collect())
        assert got == [1.0, 2.0]

    def test_rewrite_discovery_prunes_but_deletes_exactly(
            self, spark, tmp_home):
        t = self.make(spark, tmp_home)
        for d in range(4):
            t.write(rows_df(spark, [T0 + d * DAY, T0 + d * DAY + 1],
                            price=float(d)))
        cond = (f"ts >= {T0 + DAY} AND ts < {T0 + 2 * DAY} "
                f"AND price >= 1.0")
        b = t._predicate_bounds(t.df(), F.expr(cond))
        assert b == {"ts": (T0 + DAY, T0 + 2 * DAY)}
        n = t.delete_where(cond)
        assert n == 2
        assert t.row_count == 6
        assert sorted(r.ts for r in t.scan().collect()) == [
            T0, T0 + 1, T0 + 2 * DAY, T0 + 2 * DAY + 1,
            T0 + 3 * DAY, T0 + 3 * DAY + 1]

    def test_zorder_key_stats_prune_key_predicates(self, spark,
                                                   tmp_home):
        sch = (Schema("tfz")
               .add_col("user_id", ColumnType.I64)
               .add_col("price", ColumnType.F64)
               .with_partition_by(PartitionBy.DAY))
        t = Table.create(spark, sch, home=tmp_home, manifest=True,
                         zorder_by=["user_id"],
                         zorder_bounds={"user_id": (0.0, 1000.0)})
        df = spark.createDataFrame(
            [Row(ts=T0 + i, user_id=(i * 37) % 1000,
                 price=float(i)) for i in range(400)])
        spark.conf.set("spark.sql.files.maxRecordsPerFile", "50")
        try:
            t.write(df, enforce_order=False)
        finally:
            spark.conf.unset("spark.sql.files.maxRecordsPerFile")
        _, head = t._latest_head()
        stats = t._stats_of_head(head)
        files = t._latest_manifest()[1]
        assert set(stats) == set(files) and len(files) >= 4
        # z-order key column tracked alongside ts
        assert all("user_id" in s[1] for s in stats.values())
        b = t._predicate_bounds(t.df(), F.expr("user_id = 777"))
        assert b == {"user_id": (777, 777)}
        pruned = t._prune_files_by_stats(files, stats, b)
        assert 0 < len(pruned) < len(files)
        # and the delete itself is exact despite pruning
        want = sorted(r.price for r in
                      t.df().where("user_id = 777").collect())
        n = t.delete_where("user_id = 777")
        assert n == len(want) > 0
        assert t.df().where("user_id = 777").count() == 0

    def test_or_and_unknown_predicates_do_not_prune(self, spark,
                                                    tmp_home):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0]))
        d = t.df()
        assert t._predicate_bounds(
            d, F.expr(f"ts < {T0} OR price > 0")) == {}
        assert t._predicate_bounds(d, F.expr("price = 1.0")) == {}
        # conjunct mixing: the ts conjunct contributes, the rest is
        # soundly ignored
        b = t._predicate_bounds(
            d, F.expr(f"ts >= {T0} AND (price > 0 OR size < 5)"))
        assert b == {"ts": (T0, None)}

    def test_pre_stats_manifests_degrade_to_full_scan(self, spark,
                                                      tmp_home):
        import json as _json

        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0, T0 + DAY]))
        # simulate a pre-r18 head: strip fstats in place
        d = t._manifest_dir()
        vs = sorted(f for f in os.listdir(d) if f.startswith("v"))
        p = os.path.join(d, vs[-1])
        with open(p) as fh:
            doc = _json.load(fh)
        doc.pop("fstats", None)
        os.unlink(p)
        with open(p, "w") as fh:
            _json.dump(doc, fh)
        t2 = Table.open(spark, "tfs", home=tmp_home)
        assert len(t2._read(t2._pruned_files(T0, T0)).inputFiles()) == 2
        assert t2.scan(T0, T0).count() == 1


class TestChangeFeedConsumer:
    """r18 (r17 verdict task 4): the changes_between docstring
    promises an incremental consumer "catches up without rescanning
    the table" — prove it with the rollup maintainer: a persisted
    per-key aggregate built from snapshot v0 catches up to head by
    folding in ONE signed partial derived from the v0→head change
    feed (insert = +1/+value, delete = -1/-value), and the merged
    result bit-equals a full rescan aggregate — the same
    partial-merge-equivalence proof shape as stream_boilerplate."""

    def test_feed_driven_catchup_equals_rescan(self, spark, tmp_home):
        from zdb_spark.streaming.ingest import read_rollup

        t = Table.create(spark, make_schema("tcfc"), home=tmp_home,
                         manifest=True)
        t.write(rows_df(spark, [T0 + i for i in range(6)]))
        v0 = t._latest_head()[0]

        # the consumer: a rollup TABLE holding one partial per
        # catch-up epoch (the rollup_sink shape — signed partials
        # merge by sum, so a delete is just a negative partial)
        rsch = (Schema("tcfc_rollup")
                .add_col("sym", ColumnType.SYMBOL16)
                .add_col("n_rows", ColumnType.I64)
                .add_col("sum_price", ColumnType.F64)
                .with_partition_by(PartitionBy.DAY))
        r = Table.create(spark, rsch, home=tmp_home, manifest=True)
        base = (t.snapshot(v0).groupBy("sym")
                .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                     F.sum("price").alias("sum_price"))
                .withColumn("ts", F.lit(T0)))
        r.write(base.select("ts", "sym", "n_rows", "sum_price"),
                enforce_order=False)

        # table moves on: append, COW delete, MERGE upsert
        t.write(rows_df(spark, [T0 + DAY], sym="MSFT", price=50.0))
        t.delete_where("price >= 5.0 AND price < 6.0")
        t.merge_into(spark.createDataFrame(
            [Row(ts=T0 + 1, sym="UPD", price=100.0, size=9),
             Row(ts=T0 + 2 * DAY, sym="NEW", price=7.0, size=1)]),
            on="ts")

        # catch-up: ONE signed partial from the feed — no rescan
        # (the public operator, r18: ingest.py:apply_changes_to_rollup)
        from zdb_spark.streaming.ingest import apply_changes_to_rollup

        feed = t.changes_between(v0)
        n = apply_changes_to_rollup(t, r, v0, ["sym"], ["price"])
        assert n == feed.count() > 0

        caught_up = {row.sym: (row.n_rows, row.sum_price)
                     for row in read_rollup(r, ["sym"], ["price"])
                     .where(F.col("n_rows") != 0).collect()}
        rescan = {row.sym: (row.n, row.s) for row in
                  (t.scan().groupBy("sym")
                   .agg(F.count(F.lit(1)).alias("n"),
                        F.sum("price").alias("s")).collect())}
        assert caught_up == rescan
        # and the feed really carried every mutation kind
        kinds = {row._change_type for row in feed.collect()}
        assert kinds == {"insert", "delete"}


class TestMergeDiscoverySkipping:
    """r18: a ts-keyed merge prunes discovery by the source's key
    range from manifest stats — outcome must be identical, and files
    outside the range must not be rewritten."""

    def test_ts_keyed_merge_touches_only_in_range_files(self, spark,
                                                        tmp_home):
        t = Table.create(spark, make_schema("tmds"), home=tmp_home,
                         manifest=True)
        for d in range(4):
            t.write(rows_df(spark, [T0 + d * DAY], price=float(d)))
        _, before = t._latest_manifest()
        res = t.merge_into(
            spark.createDataFrame(
                [Row(ts=T0 + DAY, sym="U", price=101.0, size=1)]),
            on="ts")
        assert res == {"matched": 1, "updated": 1, "deleted": 0,
                       "inserted": 0}
        _, after = t._latest_manifest()
        # exactly the day-2 file was replaced; out-of-range files
        # untouched (discovery pruned them from manifest stats)
        assert len(set(before) - set(after)) == 1
        got = {r.ts: r.price for r in t.scan().collect()}
        assert got == {T0: 0.0, T0 + DAY: 101.0,
                       T0 + 2 * DAY: 2.0, T0 + 3 * DAY: 3.0}


class TestReviewFixesR18:
    """Pins for the r18 in-round review findings: value-changing
    casts must not contribute pruning bounds, NULL-ts merge inserts
    refuse loudly, and the head cache is never aliased through
    fstats."""

    def test_truncating_cast_contributes_no_bound(self, spark,
                                                  tmp_home):
        sch = (Schema("trc")
               .add_col("user_id", ColumnType.I64)
               .add_col("price", ColumnType.F64)
               .with_partition_by(PartitionBy.DAY))
        t = Table.create(spark, sch, home=tmp_home, manifest=True,
                         zorder_by=["user_id"],
                         zorder_bounds={"user_id": (0.0, 1000.0)})
        t.write(spark.createDataFrame(
            [Row(ts=T0 + i, user_id=700 + i, price=float(i))
             for i in range(4)]), enforce_order=False)
        d = t.df()
        # CAST(777.9 AS BIGINT) = 777: unwrapping would bound 777.9
        # and prune a [700, 777]-range file that contains the match
        cond = F.col("user_id") == F.lit(777.9).cast("long")
        assert t._predicate_bounds(d, cond) == {}
        # widening promotion still contributes (the common case)
        assert t._predicate_bounds(
            d, F.expr("user_id = 703")) == {"user_id": (703, 703)}
        # and the truncating-cast delete itself stays exact
        t2 = Table.create(spark, (Schema("trc2")
                                  .add_col("user_id", ColumnType.I64)
                                  .add_col("price", ColumnType.F64)
                                  .with_partition_by(PartitionBy.DAY)),
                          home=tmp_home, manifest=True,
                          zorder_by=["user_id"],
                          zorder_bounds={"user_id": (0.0, 1000.0)})
        t2.write(spark.createDataFrame(
            [Row(ts=T0, user_id=777, price=1.0),
             Row(ts=T0 + 1, user_id=5, price=2.0)]),
            enforce_order=False)
        assert t2.delete_where(
            F.col("user_id") == F.lit(777.9).cast("long")) == 1
        assert [r.user_id for r in t2.scan().collect()] == [5]

    def test_merge_rejects_null_ts_inserts(self, spark, tmp_home):
        t = Table.create(spark, make_schema("tnti"), home=tmp_home,
                         manifest=True)
        t.write(rows_df(spark, [T0]))
        src = spark.createDataFrame(
            [Row(ts=None, sym="N", price=9.0, size=1),
             Row(ts=T0 + 5, sym="OK", price=1.0, size=1)],
            "ts long, sym string, price double, size long")
        with pytest.raises(ValueError, match="NULL ts"):
            t.merge_into(src, on="ts")
        # nothing landed: the refusal fired before any flip
        assert t.row_count == 1

    def test_head_cache_not_aliased_through_fstats(self, spark,
                                                   tmp_home):
        t = Table.create(spark, make_schema("thal"), home=tmp_home,
                         manifest=True)
        t.write(rows_df(spark, [T0]))
        v, head = t._latest_head()
        head["fstats"]["bogus/file"] = [1, {}, {}]
        _, head2 = t._latest_head()
        assert "bogus/file" not in head2["fstats"]

    def test_reassembly_refuses_null_fragment(self, spark):
        from zdb_spark.sources.warc import reassemble_warc_segments

        recs = spark.createDataFrame(
            [("resource", 1, "<urn:a>", None, bytearray(b"x")),
             ("continuation", 2, None, "<urn:a>", None)],
            "warc_type string, segment_number int, record_id string, "
            "segment_origin_id string, payload binary")
        with pytest.raises(Exception, match="NULL payload"):
            reassemble_warc_segments(recs).collect()


class TestChangeFeedDedupStore:
    """r18 (r17 verdict task 4, second consumer): the persisted
    MinHash dedup store catches up from a CDC feed — the feed's
    insert rows ARE the new batch, so `incremental_minhash_pairs` +
    `append_minhash_store` driven by `changes_between` finds exactly
    the pairs a full re-mine of the head snapshot finds, without the
    consumer ever rescanning the table to discover what arrived."""

    def test_feed_driven_store_catchup_equals_full_remine(
            self, spark, tmp_home, tmp_path):
        from zdb_spark.operators import dedup

        sch = (Schema("tdcs")
               .add_col("doc_id", ColumnType.I64)
               .add_col("text", ColumnType.SYMBOL32)
               .with_partition_by(PartitionBy.DAY))
        t = Table.create(spark, sch, home=tmp_home, manifest=True)
        base = [
            (1, "The quick brown fox jumps over the lazy dog"),
            (2, "Completely different content about databases"),
            (3, "Another unrelated document entirely here"),
        ]
        newb = [
            # near-dup of corpus doc 1 + a fresh doc
            (10, "the quick brown fox jumps over the lazy dog "),
            (11, "fresh content with no duplicate anywhere"),
        ]
        t.write(spark.createDataFrame(
            [Row(ts=T0 + i, doc_id=d, text=s)
             for i, (d, s) in enumerate(base)]), enforce_order=False)
        v0 = t._latest_head()[0]
        store = str(tmp_path / "cdc_store")
        corpus0 = t.snapshot(v0).select("doc_id", "text")
        dedup.build_minhash_store(corpus0, store)

        t.write(spark.createDataFrame(
            [Row(ts=T0 + DAY + i, doc_id=d, text=s)
             for i, (d, s) in enumerate(newb)]), enforce_order=False)
        # the consumer learns WHAT arrived from the feed alone
        feed = t.changes_between(v0)
        assert {r._change_type for r in feed.collect()} == {"insert"}
        new_docs = (feed.where(F.col("_change_type") == "insert")
                    .select("doc_id", "text"))
        got = {(r.id_a, r.id_b) for r in
               dedup.incremental_minhash_pairs(
                   new_docs, corpus0, store).collect()}
        dedup.append_minhash_store(new_docs, store)

        full = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(
            t.scan().select("doc_id", "text")).collect()}
        new_ids = {r.doc_id for r in new_docs.collect()}
        want = {p for p in full
                if p[0] in new_ids or p[1] in new_ids}
        assert got == want and (1, 10) in got


class TestCheckConstraints:
    """r18: CHECK constraints, the Delta shape — enforced on every
    row that enters the table (appends, streaming batches via the
    same write path, MERGE writes, UPDATE rewrites); NULL passes."""

    def make(self, spark, tmp_home, name="tchk"):
        return Table.create(spark, make_schema(name), home=tmp_home,
                            manifest=True)

    def test_add_validate_write_refusal_and_drop(self, spark,
                                                 tmp_home):
        t = self.make(spark, tmp_home)
        t.write(rows_df(spark, [T0], price=5.0))
        t.add_check("price_pos", "price > 0")
        # persists through the sidecar
        t2 = Table.open(spark, "tchk", home=tmp_home)
        assert t2._meta.checks == {"price_pos": "price > 0"}
        with pytest.raises(ValueError, match="price_pos.*violated by 1"):
            t2.write(rows_df(spark, [T0 + 1], price=-3.0))
        assert t2.row_count == 1          # nothing landed
        ok = t2.write(rows_df(spark, [T0 + 1], price=1.0))
        assert ok == 1
        t2.drop_check("price_pos")
        assert t2.write(rows_df(spark, [T0 + 2], price=-9.0)) == 1
        with pytest.raises(KeyError):
            t2.drop_check("price_pos")

    def test_null_passes_and_existing_violation_refuses_add(
            self, spark, tmp_home):
        t = self.make(spark, tmp_home, "tchk2")
        t.write(rows_df(spark, [T0], price=-1.0))
        with pytest.raises(ValueError, match="violated by existing"):
            t.add_check("price_pos", "price > 0")
        t.add_check("price_pos", "price > 0",
                    validate_existing=False)
        # NULL evaluation passes (standard SQL CHECK)
        src = spark.createDataFrame(
            [Row(ts=T0 + 1, sym="A", price=None, size=1)],
            "ts long, sym string, price double, size long")
        assert t.write(src) == 1

    def test_guards_reject_bad_checks(self, spark, tmp_home):
        t = self.make(spark, tmp_home, "tchk3")
        with pytest.raises(ValueError, match="does not analyze"):
            t.add_check("c1", "no_such_col > 0")
        with pytest.raises(ValueError, match="non-deterministic"):
            t.add_check("c2", "rand() < 0.5")
        with pytest.raises(ValueError, match="identifier"):
            t.add_check("bad name!", "price > 0")

    def test_merge_and_update_enforce(self, spark, tmp_home):
        t = self.make(spark, tmp_home, "tchk4")
        t.write(rows_df(spark, [T0, T0 + 1]))
        t.add_check("price_cap", "price < 1000.0")
        # merge insert violating the check fails the write job
        with pytest.raises(Exception, match="price_cap"):
            t.merge_into(spark.createDataFrame(
                [Row(ts=T0 + 9, sym="N", price=5000.0, size=1)]),
                on="ts")
        # update pushing a row over the cap fails too
        with pytest.raises(Exception, match="price_cap"):
            t.update_where("price > 1.5",
                           {"price": "price * 10000.0"})
        # and valid versions of both succeed
        res = t.merge_into(spark.createDataFrame(
            [Row(ts=T0 + 9, sym="N", price=50.0, size=1)]), on="ts")
        assert res["inserted"] == 1
        # both the original 2.0 row and the merged 50.0 row match
        assert t.update_where("price > 1.5",
                              {"price": "price + 1.0"}) == 2


class TestDescribeFiles:
    """r18: manifest-metadata file inspection — one row per live file
    with the recorded stats, no footer reads, no data scan."""

    def test_live_files_with_stats_and_pre_stats_nulls(self, spark,
                                                       tmp_home):
        import json as _json

        t = Table.create(spark, make_schema("tdf"), home=tmp_home,
                         manifest=True)
        t.write(rows_df(spark, [T0, T0 + 5]))
        t.write(rows_df(spark, [T0 + DAY]))
        d = {r.file: r for r in t.describe_files().collect()}
        files = t._latest_manifest()[1]
        assert set(d) == set(files)
        assert sorted(r.ts_min for r in d.values()) == [T0, T0 + DAY]
        assert all(r.rows in (1, 2) and r.size_bytes > 0
                   for r in d.values())
        # strip stats from the head: pre-r18 files surface NULLs
        md = t._manifest_dir()
        vs = sorted(f for f in os.listdir(md) if f.startswith("v"))
        p = os.path.join(md, vs[-1])
        with open(p) as fh:
            doc = _json.load(fh)
        doc.pop("fstats", None)
        os.unlink(p)
        with open(p, "w") as fh:
            _json.dump(doc, fh)
        t2 = Table.open(spark, "tdf", home=tmp_home)
        d2 = t2.describe_files().collect()
        assert len(d2) == 2
        assert all(r.rows is None and r.ts_min is None for r in d2)
