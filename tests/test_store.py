"""The one publish protocol (zdb_spark/store.py) under crashes and races:
a crash after staging, a crash between building a generation and its
pointer flip, two compactors or growers racing for one generation, and
stores written before the pointer existed (a ``CURRENT`` file)."""

import os
import shutil
import subprocess
import sys

import pytest

from pyspark.sql import functions as F

from zdb_spark import store

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Crash(BaseException):
    """Stands in for the process dying: no ``except OSError`` catches it
    and nothing after the raise point runs."""


def _crash(*_a, **_k):
    raise Crash


def _words(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("w"), F.col("id") % 37).alias("v"))


def _cm_counts(spark, p):
    from zdb_spark.operators.sketches import read_countmin_table

    return sorted(tuple(r) for r in read_countmin_table(spark, p).collect())


def _cm_whole(df):
    from zdb_spark.operators.sketches import countmin_table

    return sorted(tuple(r) for r in
                  countmin_table(df, "v", depth=4, width=256).collect())


def _gen_dirs(p):
    return sorted(d for d in os.listdir(p) if d.startswith("gen="))


class TestPublishVersion:
    def test_first_publisher_wins(self, tmp_path):
        d = str(tmp_path / "_gen")
        assert store.latest_version(d) == -1
        assert store.publish_version(d, 7, {"data_dir": "a"}) is True
        assert store.publish_version(d, 7, {"data_dir": "b"}) is False
        assert store.latest_version(d) == 7
        assert store.read_version(d, 7) == {"data_dir": "a"}
        assert os.listdir(d) == ["v000000000007.json"]  # no tmp left

    def test_loser_of_a_flip_deletes_its_directory(self, tmp_path):
        p = str(tmp_path)
        won = store.new_generation_dir(p, 1)
        lost = store.new_generation_dir(p, 1)
        os.makedirs(won)
        os.makedirs(lost)
        store.flip_generation(p, 1, won)
        with pytest.raises(OSError, match="concurrent writer"):
            store.flip_generation(p, 1, lost)
        assert not os.path.exists(lost)
        assert store.resolve_generation(p, "gen=0")[1] == won


    def test_racing_publishers_of_one_batch(self, tmp_path):
        """Sixteen threads publish the same batch: exactly one wins, and
        no staging is left behind."""
        import threading

        p = str(tmp_path)

        def write(staging):
            os.makedirs(os.path.join(staging, "batch=1"))
            with open(os.path.join(staging, "batch=1", "part"), "w") as f:
                f.write(threading.current_thread().name)

        results = []
        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=lambda: results.append(
                store.publish_batch(p, "gen=0", ["batch=1"], write)))
                for _ in range(16)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
        finally:
            sys.setswitchinterval(old)
        assert not any(t.is_alive() for t in threads)
        assert sorted(results) == [False] * 15 + [True]
        assert os.listdir(os.path.join(p, "_staging")) == []
        assert os.listdir(os.path.join(p, "gen=0", "batch=1")) == ["part"]


class TestCrashAfterStaging:
    def test_staged_batch_is_invisible_and_vacuumed(self, spark, tmp_path):
        """A publisher killed after staging leaves a directory readers
        never see; vacuum sweeps it and a rerun publishes the batch."""
        from zdb_spark.operators.sketches import (append_countmin_store,
                                                  build_countmin_store,
                                                  vacuum_countmin_store)

        p = str(tmp_path / "cm")
        build_countmin_store(_words(spark, 0, 300), "v", p,
                             depth=4, width=256)
        before = _cm_counts(spark, p)
        # the killed publisher stages real cells, a copy of batch 0
        script = (
            "import os, shutil, sys\n"
            "from zdb_spark import store\n"
            "p = sys.argv[1]\n"
            "def write(staging):\n"
            "    shutil.copytree(os.path.join(p, 'gen=0', 'batch=0'),\n"
            "                    os.path.join(staging, 'batch=9'))\n"
            "    os._exit(17)\n"
            "store.publish_batch(p, 'gen=0', ['batch=9'], write)\n")
        rc = subprocess.run([sys.executable, "-c", script, p], cwd=REPO,
                            timeout=120).returncode
        assert rc == 17
        assert len(os.listdir(os.path.join(p, "_staging"))) == 1
        assert _cm_counts(spark, p) == before
        assert vacuum_countmin_store(p) == 1
        assert not os.path.exists(os.path.join(p, "_staging"))
        assert append_countmin_store(_words(spark, 300, 600), "v", p,
                                     batch_id=9)
        assert _cm_counts(spark, p) == _cm_whole(_words(spark, 0, 600))

    def test_text_batch_without_stats_is_invisible(self, spark, tmp_path,
                                                   monkeypatch):
        """A text-index publish renames postings, then stats; killed in
        between, its postings are never read, and a rerun replaces
        them."""
        from zdb_spark.operators.search import (append_text_index,
                                                bm25_topk,
                                                build_text_index,
                                                text_index_topk)

        docs = spark.createDataFrame(
            [(i, f"table scan {'fast' if i % 3 else 'slow'} d{i}")
             for i in range(60)], "doc_id long, text string")
        p = str(tmp_path / "idx")
        build_text_index(docs.where("doc_id < 30"), p)
        q = "table fast"
        before = [tuple(r) for r in text_index_topk(spark, p, q, 10)
                  .collect()]
        real_rename = os.rename

        def rename(src, dst):
            if os.sep + "stats" + os.sep in dst:
                raise Crash
            real_rename(src, dst)

        monkeypatch.setattr(os, "rename", rename)
        with pytest.raises(Crash):
            append_text_index(docs.where("doc_id >= 30"), p, batch_id=1)
        monkeypatch.undo()
        assert os.path.isdir(os.path.join(p, "gen=0", "postings",
                                          "batch=1"))
        assert [tuple(r) for r in text_index_topk(spark, p, q, 10)
                .collect()] == before
        assert append_text_index(docs.where("doc_id >= 30"), p,
                                 batch_id=1) is True
        assert [tuple(r) for r in text_index_topk(spark, p, q, 10)
                .collect()] == [tuple(r) for r in
                                bm25_topk(docs, q, k=10).collect()]


class TestCrashBeforeFlip:
    def test_countmin_compaction(self, spark, tmp_path, monkeypatch):
        """Killed after building the next generation: the old one still
        answers, a rerun succeeds, and the orphan goes once its
        generation is older than the current one."""
        from zdb_spark.operators.sketches import (append_countmin_store,
                                                  build_countmin_store,
                                                  compact_countmin_store,
                                                  vacuum_countmin_store)

        p = str(tmp_path / "cm")
        build_countmin_store(_words(spark, 0, 300), "v", p,
                             depth=4, width=256)
        append_countmin_store(_words(spark, 300, 600), "v", p, batch_id=1)
        want = _cm_whole(_words(spark, 0, 600))
        monkeypatch.setattr(store, "flip_generation", _crash)
        with pytest.raises(Crash):
            compact_countmin_store(spark, p)
        monkeypatch.undo()
        (orphan,) = _gen_dirs(p)[1:]
        assert store.resolve_generation(p, "gen=0")[0] == 0
        assert _cm_counts(spark, p) == want
        assert compact_countmin_store(spark, p) == 2
        assert store.resolve_generation(p, "gen=0")[0] == 1
        assert _cm_counts(spark, p) == want
        append_countmin_store(_words(spark, 600, 700), "v", p, batch_id=2)
        assert compact_countmin_store(spark, p) == 2
        vacuum_countmin_store(p)
        assert orphan not in _gen_dirs(p)
        assert len(_gen_dirs(p)) == 1
        assert _cm_counts(spark, p) == _cm_whole(_words(spark, 0, 700))

    def test_text_index_compaction(self, spark, tmp_path, monkeypatch):
        from zdb_spark.operators.search import (append_text_index,
                                                bm25_topk,
                                                build_text_index,
                                                compact_text_index,
                                                text_index_topk)

        docs = spark.createDataFrame(
            [(i, f"table scan {'fast' if i % 3 else 'slow'} d{i}")
             for i in range(60)], "doc_id long, text string")
        p = str(tmp_path / "idx")
        build_text_index(docs.where("doc_id < 30"), p)
        append_text_index(docs.where("doc_id >= 30"), p, batch_id=1)
        want = [tuple(r) for r in bm25_topk(docs, "scan fast", k=10)
                .collect()]
        monkeypatch.setattr(store, "flip_generation", _crash)
        with pytest.raises(Crash):
            compact_text_index(spark, p)
        monkeypatch.undo()
        assert len(_gen_dirs(p)) == 2
        assert [tuple(r) for r in text_index_topk(spark, p, "scan fast",
                                                  10).collect()] == want
        assert compact_text_index(spark, p) == 2
        assert store.resolve_generation(p, "gen=0")[0] == 1
        assert [tuple(r) for r in text_index_topk(spark, p, "scan fast",
                                                  10).collect()] == want

    def test_bloom_grow(self, spark, tmp_path, monkeypatch):
        from zdb_spark.operators.sketches import (bloom_store_lookup,
                                                  build_bloom_store,
                                                  grow_bloom_store)

        p = str(tmp_path / "bloom")
        df = spark.range(0, 100).select(
            F.concat(F.lit("u"), F.col("id")).alias("v"))
        build_bloom_store(df, "v", p, m_bits=4096, k=4)
        monkeypatch.setattr(store, "flip_generation", _crash)
        with pytest.raises(Crash):
            grow_bloom_store(df, "v", p, m_bits=1 << 14)
        monkeypatch.undo()
        got = {r.value: r.maybe_present for r in
               bloom_store_lookup(spark, p, ["u1", "zz"]).collect()}
        assert got == {"u1": True, "zz": False}
        assert grow_bloom_store(df, "v", p, m_bits=1 << 14) == 1 << 14
        _, d, _ = store.resolve_generation(p, ".")
        assert os.path.basename(d).startswith("gen=1.")
        got = {r.value: r.maybe_present for r in
               bloom_store_lookup(spark, p, ["u1", "zz"]).collect()}
        assert got == {"u1": True, "zz": False}


class TestRacingFlips:
    """Two writers build the same next generation; the second one's
    publish is forced to land first.  Exactly one flips, the other
    deletes its directory and raises OSError."""

    @staticmethod
    def _race(monkeypatch, rival):
        real = store.publish_version
        fired = []

        def publish(d, version, doc):
            if not fired and d.endswith(store.GEN_DIR):
                fired.append(True)
                monkeypatch.setattr(store, "publish_version", real)
                rival()
            return real(d, version, doc)

        monkeypatch.setattr(store, "publish_version", publish)
        return fired

    def test_two_countmin_compactors(self, spark, tmp_path, monkeypatch):
        from zdb_spark.operators.sketches import (append_countmin_store,
                                                  build_countmin_store,
                                                  compact_countmin_store)

        p = str(tmp_path / "cm")
        build_countmin_store(_words(spark, 0, 300), "v", p,
                             depth=4, width=256)
        append_countmin_store(_words(spark, 300, 600), "v", p, batch_id=1)
        fired = self._race(monkeypatch,
                           lambda: compact_countmin_store(spark, p))
        with pytest.raises(OSError, match="concurrent writer"):
            compact_countmin_store(spark, p)
        assert fired
        assert _gen_dirs(p) == [
            "gen=0",
            os.path.basename(store.resolve_generation(p, "gen=0")[1])]
        assert _cm_counts(spark, p) == _cm_whole(_words(spark, 0, 600))

    def test_two_bloom_growers(self, spark, tmp_path, monkeypatch):
        from zdb_spark.operators.sketches import (bloom_store_lookup,
                                                  build_bloom_store,
                                                  grow_bloom_store)

        p = str(tmp_path / "bloom")
        df = spark.range(0, 100).select(
            F.concat(F.lit("u"), F.col("id")).alias("v"))
        build_bloom_store(df, "v", p, m_bits=4096, k=4)
        fired = self._race(monkeypatch, lambda: grow_bloom_store(
            df, "v", p, m_bits=1 << 15))
        with pytest.raises(OSError, match="concurrent writer"):
            grow_bloom_store(df, "v", p, m_bits=1 << 14)
        assert fired
        (winner,) = _gen_dirs(p)
        assert store.resolve_generation(p, ".")[1].endswith(winner)
        with open(os.path.join(p, winner, "params.json")) as f:
            assert '"m_bits": 32768' in f.read()
        got = {r.value: r.maybe_present for r in
               bloom_store_lookup(spark, p, ["u1", "zz"]).collect()}
        assert got == {"u1": True, "zz": False}


class TestLegacyPointer:
    """Stores written before ``_gen/`` existed name their generation in
    a ``CURRENT`` file; they read as before, and their first compaction
    moves them onto the pointer."""

    def test_countmin_store(self, spark, tmp_path):
        from zdb_spark.operators.sketches import (append_countmin_store,
                                                  compact_countmin_store,
                                                  countmin_table,
                                                  vacuum_countmin_store)

        p = str(tmp_path / "cm")

        def cells(df, where):
            (countmin_table(df, "v", depth=4, width=256).write
             .parquet(os.path.join(p, where)))

        cells(_words(spark, 0, 100), "gen=0/batch=0")  # superseded
        cells(_words(spark, 0, 400), "gen=1/batch=compacted")
        cells(_words(spark, 400, 500), "gen=1/batch=7")
        with open(os.path.join(p, "CURRENT"), "w") as f:
            f.write("1")
        with open(os.path.join(p, "params.json"), "w") as f:
            f.write('{"version": 1, "depth": 4, "width": 256}')
        assert _cm_counts(spark, p) == _cm_whole(_words(spark, 0, 500))
        assert not append_countmin_store(_words(spark, 400, 500), "v", p,
                                         batch_id=7)
        assert append_countmin_store(_words(spark, 500, 600), "v", p,
                                     batch_id=8)
        assert compact_countmin_store(spark, p) == 3
        assert store.resolve_generation(p, "gen=0")[0] == 2
        assert vacuum_countmin_store(p) == 2
        assert _cm_counts(spark, p) == _cm_whole(_words(spark, 0, 600))

    def test_text_index(self, spark, tmp_path):
        from zdb_spark.operators.search import (append_text_index,
                                                bm25_topk,
                                                build_text_index,
                                                compact_text_index,
                                                text_index_topk)

        docs = spark.createDataFrame(
            [(i, f"table scan {'fast' if i % 3 else 'slow'} d{i}")
             for i in range(90)], "doc_id long, text string")
        q = "scan fast"
        p = str(tmp_path / "idx")
        # the batch layout is unchanged, so a fresh build's generation
        # directory is the older format's: move it to gen=3 behind a
        # CURRENT file, next to a stale gen=2 that must not be read
        build_text_index(docs.where("doc_id < 60"), p)
        shutil.rmtree(os.path.join(p, "_staging"), ignore_errors=True)
        shutil.copytree(os.path.join(p, "gen=0"), os.path.join(p, "gen=2"))
        for part in ("postings", "stats"):
            shutil.copytree(os.path.join(p, "gen=2", part, "batch=0"),
                            os.path.join(p, "gen=2", part, "batch=5"))
        os.rename(os.path.join(p, "gen=0"), os.path.join(p, "gen=3"))
        with open(os.path.join(p, "CURRENT"), "w") as f:
            f.write("3")
        assert [tuple(r) for r in text_index_topk(spark, p, q, 10)
                .collect()] == [tuple(r) for r in bm25_topk(
                    docs.where("doc_id < 60"), q, k=10).collect()]
        assert append_text_index(docs.where("doc_id >= 60"), p,
                                 batch_id=1)
        assert os.path.isdir(os.path.join(p, "gen=3", "stats", "batch=1"))
        assert compact_text_index(spark, p) == 2
        assert store.resolve_generation(p, "gen=0")[0] == 4
        assert [tuple(r) for r in text_index_topk(spark, p, q, 10)
                .collect()] == [tuple(r) for r in
                                bm25_topk(docs, q, k=10).collect()]
