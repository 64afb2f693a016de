"""Approximate-aggregate (sketch) accuracy tests: HyperLogLog distinct
counts and t-digest-style quantiles must land within their documented
error bounds against exact answers on the driver testdata — the sketches
are the 100 TB substitutes for exact distinct/percentile."""

import os

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).cache()


class TestApproxCountDistinct:
    def test_within_default_rsd(self, lineitem):
        exact, approx = lineitem.agg(
            F.countDistinct("l_partkey").alias("e"),
            F.approx_count_distinct("l_partkey").alias("a")).collect()[0]
        assert abs(approx - exact) / exact < 0.05  # default rsd 0.05 ≈ 2σ

    def test_tighter_rsd(self, lineitem):
        exact, approx = lineitem.agg(
            F.countDistinct("l_orderkey").alias("e"),
            F.approx_count_distinct("l_orderkey", rsd=0.01).alias("a")
        ).collect()[0]
        assert abs(approx - exact) / exact < 0.03


class TestApproxQuantile:
    def test_median_close_to_exact(self, lineitem):
        exact = lineitem.agg(
            F.expr("percentile(l_extendedprice, 0.5)")).collect()[0][0]
        (approx,) = lineitem.stat.approxQuantile(
            "l_extendedprice", [0.5], 0.01)
        lo = lineitem.agg(
            F.expr("percentile(l_extendedprice, 0.49)")).collect()[0][0]
        hi = lineitem.agg(
            F.expr("percentile(l_extendedprice, 0.51)")).collect()[0][0]
        assert lo <= approx <= hi, (exact, approx)

    def test_zero_error_is_exact(self, lineitem):
        # relativeError=0 must agree with the exact interpolation's
        # neighborhood (approxQuantile returns an actual data point)
        (approx,) = lineitem.stat.approxQuantile("l_quantity", [0.5], 0.0)
        exact = lineitem.agg(
            F.expr("percentile_approx(l_quantity, 0.5, 2147483647)")
        ).collect()[0][0]
        assert approx == exact


class TestPortableHLL:
    """The md5-derived, cross-engine-replayable HLL
    (operators/sketches.py) — accuracy within the m=256 theoretical rsd
    (1.04/sqrt(256) ≈ 6.5%), mergeability, and the small-range
    linear-counting branch the gate deliberately excludes."""

    def test_accuracy_within_rsd(self, spark):
        from zdb_spark.operators.sketches import hll_distinct

        df = spark.range(20_000).select(
            F.concat(F.lit("u"), F.col("id")).alias("v"))
        r = hll_distinct(df, "v").collect()[0]
        assert abs(r.est - 20_000) / 20_000 < 0.2   # 3σ of 6.5%
        assert r.raw_est == r.est                   # no correction here

    def test_duplicates_do_not_move_registers(self, spark):
        from zdb_spark.operators.sketches import hll_distinct

        once = spark.range(500).select(
            F.concat(F.lit("v"), F.col("id")).alias("v"))
        tripled = once.union(once).union(once)
        a = hll_distinct(once, "v").collect()[0]
        b = hll_distinct(tripled, "v").collect()[0]
        assert a.reg_sum == b.reg_sum and a.raw_est == b.raw_est

    def test_small_range_uses_linear_counting(self, spark):
        from zdb_spark.operators.sketches import hll_distinct

        df = spark.range(50).select(
            F.concat(F.lit("x"), F.col("id")).alias("v"))
        r = hll_distinct(df, "v").collect()[0]
        assert r.zero_registers > 0
        # linear counting at n << m is near-exact; the raw HLL
        # estimate is biased high in this regime
        assert abs(r.est - 50) <= 3
        assert r.est != r.raw_est

    def test_register_tables_merge_with_max(self, spark):
        """The scale contract: per-epoch register tables union+max to
        the whole-corpus sketch without re-reading rows."""
        from zdb_spark.operators.sketches import (HLL_M, HLL_RHO_MAX,
                                                  hll_registers)

        df = spark.range(4_000).select(
            F.concat(F.lit("m"), F.col("id")).alias("v"))
        whole = {(r.bucket): r.max_rho
                 for r in hll_registers(df, "v").collect()}
        half1 = hll_registers(df.where(F.col("v") < "m2"), "v")
        half2 = hll_registers(df.where(F.col("v") >= "m2"), "v")
        merged = (half1.union(half2).groupBy("bucket")
                  .agg(F.max("max_rho").alias("max_rho")))
        got = {r.bucket: r.max_rho for r in merged.collect()}
        assert got == whole
        assert all(1 <= v <= HLL_RHO_MAX for v in got.values())
        assert len(got) <= HLL_M

    def test_nulls_are_not_a_distinct_value(self, spark):
        """SQL COUNT(DISTINCT) semantics: NULLs contribute nothing —
        and must not corrupt reg_sum (a NULL-bucket register row would
        be counted by count() but skipped by sum())."""
        from zdb_spark.operators.sketches import hll_distinct

        clean = spark.createDataFrame(
            [(f"v{i}",) for i in range(300)], "v string")
        dirty = clean.union(spark.createDataFrame(
            [(None,)] * 50, "v string"))
        a = hll_distinct(clean, "v").collect()[0]
        b = hll_distinct(dirty, "v").collect()[0]
        assert (a.reg_sum, a.raw_est, a.present_registers) == \
            (b.reg_sum, b.raw_est, b.present_registers)

    def test_shuffle_bounded_by_registers(self, spark):
        """The whole point at 100 TB: the sketch's shuffle rows are
        groups x m, independent of corpus size — partial aggregation
        (map-side combine) must be in the plan."""
        from zdb_spark.operators.sketches import hll_registers

        df = spark.range(10_000).select(
            (F.col("id") % 3).alias("g"),
            F.concat(F.lit("s"), F.col("id")).alias("v"))
        plan = (hll_registers(df, "v", "g")._jdf.queryExecution()
                .executedPlan().toString())
        assert "partial_max" in plan or "HashAggregate" in plan


class TestCountMin:
    def test_never_underestimates(self, spark):
        from zdb_spark.operators.sketches import (countmin_lookup,
                                                  countmin_table)

        df = spark.range(5_000).select(
            F.when(F.col("id") % 50 == 0, "hot")
             .otherwise(F.concat(F.lit("t"), F.col("id"))).alias("v"))
        tbl = countmin_table(df, "v")
        got = {r.value: r.est_count for r in countmin_lookup(
            tbl, ["hot", "t1", "t101"]).collect()}
        assert got["hot"] >= 100          # exact count is 100
        assert got["hot"] <= 100 + 40     # width 1024: small collision mass
        assert got["t1"] >= 1 and got["t101"] >= 1

    def test_tables_merge_additively(self, spark):
        from zdb_spark.operators.sketches import (countmin_lookup,
                                                  countmin_table)

        df = spark.range(2_000).select(
            F.concat(F.lit("w"), (F.col("id") % 37)).alias("v"))
        whole = countmin_table(df, "v")
        h1 = countmin_table(df.where(F.col("id") < 1000), "v")
        h2 = countmin_table(df.where(F.col("id") >= 1000), "v")
        merged = (h1.union(h2).groupBy("row", "bucket")
                  .agg(F.sum("n").alias("n")))
        a = {(r.row, r.bucket): r.n for r in whole.collect()}
        b = {(r.row, r.bucket): r.n for r in merged.collect()}
        assert a == b


class TestRRFFusion:
    def test_fuses_and_ranks(self, spark):
        from zdb_spark.operators.search import rrf_fuse

        bm = spark.createDataFrame(
            [(1, 9.0), (2, 5.0), (3, 1.0)], "doc_id long, s1 double")
        jc = spark.createDataFrame(
            [(3, 0.9), (1, 0.5), (4, 0.1)], "doc_id long, s2 double")
        out = rrf_fuse([(bm, "s1"), (jc, "s2")], top=4)
        rows = {r.doc_id: r.rrf for r in out.collect()}
        # doc 1: 1/61 + 1/62; doc 3: 1/63 + 1/61; doc 2: 1/62 only;
        # doc 4: 1/63 only
        assert rows[1] == round(1 / 61 + 1 / 62, 6)
        assert rows[3] == round(1 / 63 + 1 / 61, 6)
        assert rows[1] > rows[3] > rows[2] > rows[4]
        assert rows[2] == round(1.0 / 62, 6)
        ordered = [r.doc_id for r in out.collect()]
        assert ordered == [1, 3, 2, 4]

    def test_jaccard_ranking_matches_hand_computation(self, spark):
        from zdb_spark.operators.search import token_jaccard_topk

        df = spark.createDataFrame(
            [(1, "fast scan"), (2, "fast scan table extra words here"),
             (3, "nothing relevant")],
            "doc_id long, text string")
        out = {r.doc_id: r.jaccard for r in token_jaccard_topk(
            df, "table scan fast", k=10).collect()}
        assert out[1] == round(2 / 3, 6)   # {fast,scan} vs 3 terms
        assert out[2] == round(3 / 6, 6)   # 3 of 6 distinct tokens
        assert 3 not in out


class TestKMVQuantiles:
    """Bottom-k (KMV) deterministic sample + nearest-rank quantiles —
    the third portable sketch (gate lands round 13; this round's
    verification window is exactly full)."""

    def test_sample_is_deterministic_and_uniformish(self, spark):
        import hashlib

        from zdb_spark.operators.sketches import kmv_sample

        df = spark.range(5_000).select(F.col("id"),
                                       (F.col("id") * 2).alias("v"))
        s1 = sorted(r.id for r in kmv_sample(df, "id", k=200).collect())
        s2 = sorted(r.id for r in kmv_sample(df, "id", k=200).collect())
        assert s1 == s2 and len(s1) == 200
        # python reference: bottom-200 by md5("v1:<id>")
        want = sorted(range(5_000), key=lambda i: hashlib.md5(
            f"v1:{i}".encode()).hexdigest())[:200]
        assert s1 == sorted(want)

    def test_samples_merge_by_rebottoming(self, spark):
        from zdb_spark.operators.sketches import kmv_sample

        df = spark.range(3_000).select(F.col("id"))
        whole = sorted(r.id for r in kmv_sample(df, "id", k=64).collect())
        h1 = kmv_sample(df.where(F.col("id") < 1500), "id", k=64)
        h2 = kmv_sample(df.where(F.col("id") >= 1500), "id", k=64)
        merged = kmv_sample(h1.unionByName(h2), "id", k=64)
        assert sorted(r.id for r in merged.collect()) == whole

    def test_grouped_sample_bounded_per_group(self, spark):
        from zdb_spark.operators.sketches import kmv_sample

        df = spark.range(2_000).select((F.col("id") % 3).alias("g"),
                                       F.col("id"))
        out = kmv_sample(df, "id", "g", k=50)
        sizes = {r.g: r.n for r in
                 out.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
                 .collect()}
        assert sizes == {0: 50, 1: 50, 2: 50}

    def test_quantiles_near_exact_on_uniform(self, spark):
        from zdb_spark.operators.sketches import kmv_quantiles

        df = spark.range(50_000).select(F.col("id"),
                                        F.col("id").cast("double")
                                        .alias("v"))
        out = {r.q: r.value for r in kmv_quantiles(
            df, "v", "id", k=1024).collect()}
        for q, got in out.items():
            assert abs(got / 50_000 - q) < 0.06, (q, got)

    def test_nearest_rank_returns_actual_data_values(self, spark):
        from zdb_spark.operators.sketches import kmv_quantiles

        vals = [1.5, 2.5, 7.25, 9.0, 100.0]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)],
            "id long, v double")
        out = kmv_quantiles(df, "v", "id", k=10, qs=(0.5, 1.0))
        got = {r.q: (r.value, r.n_sample) for r in out.collect()}
        assert got[1.0] == (100.0, 5)       # rank ceil(1.0*5)=5 = max
        assert got[0.5] == (7.25, 5)        # rank ceil(0.5*5)=3
        for v, _ in got.values():
            assert v in vals                # copied, never interpolated


class TestHLLStore:
    """Persisted/incremental HLL registers: build/append/read must
    reproduce the whole-corpus sketch exactly; replay and compaction
    are no-ops by max-merge idempotence — the property that spares this
    store the minhash store's staging/healing machinery."""

    def _docs(self, spark, lo, hi):
        return spark.range(lo, hi).select(
            (F.col("id") % 4).alias("g"),
            F.concat(F.lit("t"), F.col("id") % 700).alias("v"))

    def test_incremental_equals_whole_corpus(self, spark, tmp_path):
        from zdb_spark.operators.sketches import (build_hll_store,
                                                  append_hll_store,
                                                  hll_distinct,
                                                  hll_store_distinct)

        p = str(tmp_path / "hll")
        build_hll_store(self._docs(spark, 0, 1000), "v", p, "g")
        append_hll_store(self._docs(spark, 1000, 1800), "v", p,
                         batch_id=1)
        append_hll_store(self._docs(spark, 1800, 2500), "v", p,
                         batch_id=2)
        whole = {tuple(r) for r in hll_distinct(
            self._docs(spark, 0, 2500), "v", "g").collect()}
        stored = {tuple(r) for r in
                  hll_store_distinct(spark, p).collect()}
        assert stored == whole

    def test_replay_is_idempotent(self, spark, tmp_path):
        from zdb_spark.operators.sketches import (build_hll_store,
                                                  append_hll_store,
                                                  hll_store_distinct)

        p = str(tmp_path / "hll")
        build_hll_store(self._docs(spark, 0, 800), "v", p, "g")
        append_hll_store(self._docs(spark, 800, 1500), "v", p,
                         batch_id=1)
        before = {tuple(r) for r in
                  hll_store_distinct(spark, p).collect()}
        # crash-retry: the same batch id lands again (overwrite dir)
        append_hll_store(self._docs(spark, 800, 1500), "v", p,
                         batch_id=1)
        after = {tuple(r) for r in
                 hll_store_distinct(spark, p).collect()}
        assert after == before

    def test_compaction_preserves_estimates(self, spark, tmp_path):
        import os

        from zdb_spark.operators.sketches import (build_hll_store,
                                                  append_hll_store,
                                                  compact_hll_store,
                                                  hll_store_distinct)

        p = str(tmp_path / "hll")
        build_hll_store(self._docs(spark, 0, 600), "v", p, "g")
        for b in (1, 2, 3):
            append_hll_store(self._docs(spark, 600 * b, 600 * (b + 1)),
                             "v", p, batch_id=b)
        before = {tuple(r) for r in
                  hll_store_distinct(spark, p).collect()}
        assert compact_hll_store(spark, p) == 4
        dirs = [d for d in os.listdir(os.path.join(p, "regs"))
                if d.startswith("batch=")]
        assert dirs == ["batch=compact-0"]
        after = {tuple(r) for r in
                 hll_store_distinct(spark, p).collect()}
        assert after == before

    def test_build_refuses_to_clobber(self, spark, tmp_path):
        import pytest

        from zdb_spark.operators.sketches import build_hll_store

        p = str(tmp_path / "hll")
        build_hll_store(self._docs(spark, 0, 100), "v", p, "g")
        with pytest.raises(FileExistsError):
            build_hll_store(self._docs(spark, 0, 100), "v", p, "g")


class TestKMVMerge:
    """merge_kmv_samples — the KMV closure property as a public
    function (round-12 verdict task 5): merge(sample(A), sample(B)) ==
    sample(A ∪ B) row-for-row, grouped and ungrouped, including
    overlapping epochs."""

    def test_merge_equals_whole_corpus_sample(self, spark):
        from zdb_spark.operators.sketches import (kmv_sample,
                                                  merge_kmv_samples)

        df = spark.range(4_000).select(F.col("id"))
        whole = sorted(r.id for r in kmv_sample(df, "id", k=96).collect())
        parts = [kmv_sample(df.where((F.col("id") % 3) == i), "id", k=96)
                 for i in range(3)]
        merged = merge_kmv_samples(parts, "id", k=96)
        assert sorted(r.id for r in merged.collect()) == whole

    def test_overlapping_epochs_do_not_duplicate(self, spark):
        from zdb_spark.operators.sketches import (kmv_sample,
                                                  merge_kmv_samples)

        df = spark.range(2_000).select(F.col("id"))
        whole = sorted(r.id for r in kmv_sample(df, "id", k=64).collect())
        a = kmv_sample(df.where(F.col("id") < 1400), "id", k=64)
        b = kmv_sample(df.where(F.col("id") >= 600), "id", k=64)
        merged = merge_kmv_samples([a, b], "id", k=64).collect()
        ids = [r.id for r in merged]
        assert len(ids) == len(set(ids)) == 64
        assert sorted(ids) == whole

    def test_grouped_merge(self, spark):
        from zdb_spark.operators.sketches import (kmv_sample,
                                                  merge_kmv_samples)

        df = spark.range(3_000).select((F.col("id") % 2).alias("g"),
                                       F.col("id"))
        whole = {(r.g, r.id) for r in
                 kmv_sample(df, "id", "g", k=40).collect()}
        parts = [kmv_sample(df.where((F.col("id") / 750)
                                     .cast("int") == e), "id",
                            "g", k=40) for e in range(4)]
        merged = merge_kmv_samples(parts, "id", "g", k=40)
        assert {(r.g, r.id) for r in merged.collect()} == whole

    def test_empty_input_rejected(self):
        import pytest

        from zdb_spark.operators.sketches import merge_kmv_samples

        with pytest.raises(ValueError, match="at least one"):
            merge_kmv_samples([], "id")


class TestCountMinStore:
    """Persisted/incremental count-min store.  The additive-merge
    hazard the HLL store never faces: cells merge with ``+``, so any
    double-visibility (replayed publish, reader racing a compaction
    over source+compacted rows) double-counts.  The store's answer is
    rename-published batches (first-publish-wins) and a generation
    pointer a reader resolves exactly once."""

    def _docs(self, spark, lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("t"), F.col("id") % 97).alias("v"))

    def test_incremental_equals_whole_corpus(self, spark, tmp_path):
        from zdb_spark.operators.sketches import (append_countmin_store,
                                                  build_countmin_store,
                                                  countmin_lookup,
                                                  countmin_store_lookup,
                                                  countmin_table)

        p = str(tmp_path / "cm")
        build_countmin_store(self._docs(spark, 0, 1000), "v", p,
                             depth=4, width=256)
        assert append_countmin_store(self._docs(spark, 1000, 1700),
                                     "v", p, batch_id=1)
        assert append_countmin_store(self._docs(spark, 1700, 2500),
                                     "v", p, batch_id=2)
        probes = ["t0", "t5", "t96", "absent-token"]
        whole = countmin_lookup(
            countmin_table(self._docs(spark, 0, 2500), "v",
                           depth=4, width=256),
            probes, depth=4, width=256)
        want = {r.value: r.est_count for r in whole.collect()}
        got = {r.value: r.est_count for r in
               countmin_store_lookup(spark, p, probes).collect()}
        assert got == want

    def test_replayed_batch_does_not_double_count(self, spark, tmp_path):
        from zdb_spark.operators.sketches import (append_countmin_store,
                                                  build_countmin_store,
                                                  countmin_store_lookup)

        p = str(tmp_path / "cm")
        build_countmin_store(self._docs(spark, 0, 500), "v", p,
                             depth=4, width=256)
        assert append_countmin_store(self._docs(spark, 500, 900), "v",
                                     p, batch_id=1)
        before = {r.value: r.est_count for r in
                  countmin_store_lookup(spark, p, ["t0", "t7"])
                  .collect()}
        # crash-retry: same batch id again — must be a published no-op
        assert not append_countmin_store(self._docs(spark, 500, 900),
                                         "v", p, batch_id=1)
        after = {r.value: r.est_count for r in
                 countmin_store_lookup(spark, p, ["t0", "t7"])
                 .collect()}
        assert after == before

    def test_replay_after_compaction_is_refused(self, spark, tmp_path):
        """A compaction's pointer records the batches it folded, so an
        epoch replayed after the compaction does not publish again into
        the new generation, where it would double its counts."""
        from zdb_spark.operators.sketches import (append_countmin_store,
                                                  build_countmin_store,
                                                  compact_countmin_store,
                                                  countmin_store_lookup)

        def epoch(*vals):
            return spark.createDataFrame([(v,) for v in vals], "v string")

        p = str(tmp_path / "cm")
        build_countmin_store(epoch(), "v", p, depth=4, width=256)
        assert append_countmin_store(epoch("a", "b"), "v", p,
                                     batch_id="epoch-0")
        assert append_countmin_store(epoch("a"), "v", p,
                                     batch_id="epoch-1")
        assert compact_countmin_store(spark, p) == 3
        assert not append_countmin_store(epoch("a", "b"), "v", p,
                                         batch_id="epoch-0")
        assert not append_countmin_store(epoch("a"), "v", p,
                                         batch_id="epoch-1")
        got = {r.value: r.est_count for r in
               countmin_store_lookup(spark, p, ["a", "b"]).collect()}
        assert got == {"a": 2, "b": 1}

    def test_compact_and_vacuum_preserve_counts(self, spark, tmp_path):
        import os

        from zdb_spark.operators.sketches import (append_countmin_store,
                                                  build_countmin_store,
                                                  compact_countmin_store,
                                                  countmin_store_lookup,
                                                  vacuum_countmin_store)

        p = str(tmp_path / "cm")
        build_countmin_store(self._docs(spark, 0, 600), "v", p,
                             depth=4, width=256)
        for b in (1, 2):
            append_countmin_store(self._docs(spark, 600 * b,
                                             600 * (b + 1)),
                                  "v", p, batch_id=b)
        probes = ["t1", "t42", "t96"]
        before = {r.value: r.est_count for r in
                  countmin_store_lookup(spark, p, probes).collect()}
        assert compact_countmin_store(spark, p) == 3
        # pointer flipped; old generation still on disk for in-flight
        # readers until vacuum
        assert os.path.isdir(os.path.join(p, "gen=0"))
        mid = {r.value: r.est_count for r in
               countmin_store_lookup(spark, p, probes).collect()}
        assert mid == before
        assert vacuum_countmin_store(p) >= 1
        assert not os.path.isdir(os.path.join(p, "gen=0"))
        after = {r.value: r.est_count for r in
                 countmin_store_lookup(spark, p, probes).collect()}
        assert after == before
        # append lands in the NEW generation and keeps adding
        append_countmin_store(self._docs(spark, 1800, 2000), "v", p,
                              batch_id="post-compact")
        grown = {r.value: r.est_count for r in
                 countmin_store_lookup(spark, p, probes).collect()}
        assert all(grown[v] >= before[v] for v in grown)

    def test_compact_noop_on_single_batch(self, spark, tmp_path):
        from zdb_spark.operators.sketches import (build_countmin_store,
                                                  compact_countmin_store)

        p = str(tmp_path / "cm")
        build_countmin_store(self._docs(spark, 0, 300), "v", p,
                             depth=4, width=256)
        assert compact_countmin_store(spark, p) == 0

    def test_build_refuses_to_clobber(self, spark, tmp_path):
        import pytest

        from zdb_spark.operators.sketches import build_countmin_store

        p = str(tmp_path / "cm")
        build_countmin_store(self._docs(spark, 0, 100), "v", p,
                             depth=4, width=64)
        with pytest.raises(FileExistsError):
            build_countmin_store(self._docs(spark, 0, 100), "v", p,
                                 depth=4, width=64)


class TestKMVDistinctAndSetOps:
    """KMV distinct / set-operation estimates — the set algebra HLL
    registers cannot do (Beyer et al. 2007).  Every estimate divides
    exact integers / dyadic rationals, so a pure-Python reference
    reproduces them bit-for-bit."""

    def test_small_sets_are_exact(self, spark):
        from zdb_spark.operators.sketches import kmv_distinct

        df = spark.range(1_000).select(
            (F.col("id") % 2).alias("g"),
            F.concat(F.lit("v"), F.col("id") % 40).alias("v"))
        got = {r.g: (r.n_sample, r.est_distinct) for r in
               kmv_distinct(df, "v", "g", k=256).collect()}
        assert got == {0: (20, 20.0), 1: (20, 20.0)}

    def test_estimator_matches_python_reference_bitwise(self, spark):
        import hashlib

        from zdb_spark.operators.sketches import kmv_distinct

        n, k = 20_000, 128
        df = spark.range(n).select(
            F.concat(F.lit("t"), F.col("id")).alias("v"))
        got = kmv_distinct(df, "v", k=k).collect()[0]
        hs = sorted(int(hashlib.md5(f"v1:t{i}".encode())
                        .hexdigest()[:12], 16) for i in range(n))[:k]
        want = round((k - 1) / (hs[-1] / float(1 << 48)), 4) + 0.0
        assert (got.n_sample, got.est_distinct) == (k, want)
        assert abs(got.est_distinct / n - 1.0) < 0.25

    def test_distinct_accuracy_at_k1024(self, spark):
        from zdb_spark.operators.sketches import kmv_distinct

        n = 60_000
        df = spark.range(3 * n).select(
            F.concat(F.lit("u"), F.col("id") % n).alias("v"))
        est = kmv_distinct(df, "v", k=1024).collect()[0].est_distinct
        assert abs(est / n - 1.0) < 0.12      # ~3.2 sigma at k=1024

    def test_set_estimates_reference_and_accuracy(self, spark):
        import hashlib

        from zdb_spark.operators.sketches import kmv_set_estimates

        # A = 0..12000, B = 8000..20000 -> |A∩B|=4000, |A∪B|=20000,
        # J = 0.2
        a = spark.range(0, 12_000).select(
            F.concat(F.lit("x"), F.col("id")).alias("v"))
        b = spark.range(8_000, 20_000).select(
            F.concat(F.lit("x"), F.col("id")).alias("v"))
        k = 512
        got = kmv_set_estimates(a, b, "v", k=k).collect()[0]
        assert got.n_a == k and got.n_b == k

        def hs(lo, hi):
            return {int(hashlib.md5(f"v1:x{i}".encode())
                        .hexdigest()[:12], 16) for i in range(lo, hi)}

        sa = set(sorted(hs(0, 12_000))[:k])
        sb = set(sorted(hs(8_000, 20_000))[:k])
        su = sorted(sa | sb)[:k]
        both = sum(1 for h in su if h in sa and h in sb)
        jac = round(both / len(su), 4) + 0.0
        union = round((k - 1) / (su[-1] / float(1 << 48)), 4) + 0.0
        inter = round((both / len(su))
                      * ((k - 1) / (su[-1] / float(1 << 48))), 4) + 0.0
        assert (got.n_both, got.jaccard_est) == (both, jac)
        assert (got.union_est, got.intersection_est) == (union, inter)
        assert abs(got.jaccard_est - 0.2) < 0.07
        assert abs(got.union_est / 20_000 - 1.0) < 0.15
        assert abs(got.intersection_est / 4_000 - 1.0) < 0.4

    def test_disjoint_and_identical_sets(self, spark):
        from zdb_spark.operators.sketches import kmv_set_estimates

        a = spark.range(500).select(
            F.concat(F.lit("a"), F.col("id")).alias("v"))
        b = spark.range(500).select(
            F.concat(F.lit("b"), F.col("id")).alias("v"))
        r = kmv_set_estimates(a, b, "v", k=2048).collect()[0]
        # sample smaller than k -> everything exact
        assert (r.n_both, r.jaccard_est) == (0, 0.0)
        assert (r.n_union_sample, r.union_est,
                r.intersection_est) == (1000, 1000.0, 0.0)
        r2 = kmv_set_estimates(a, a, "v", k=2048).collect()[0]
        assert (r2.jaccard_est, r2.union_est,
                r2.intersection_est) == (1.0, 500.0, 500.0)

    def test_sketch_merges_by_closure(self, spark):
        from zdb_spark.operators.sketches import kmv_value_sketch

        df = spark.range(5_000).select(
            F.concat(F.lit("m"), F.col("id")).alias("v"))
        whole = sorted(r.h for r in
                       kmv_value_sketch(df, "v", k=96).collect())
        parts = [kmv_value_sketch(df.where(F.col("id") % 2 == e), "v",
                                  k=96) for e in range(2)]
        merged = (parts[0].unionByName(parts[1]).distinct()
                  .orderBy("h").limit(96))
        assert sorted(r.h for r in merged.collect()) == whole


class TestKMVStore:
    """Persisted/incremental KMV sample store — third merge discipline
    of the store triptych (order statistics): read-side union +
    re-bottom-k must equal the whole-corpus sample exactly (closure);
    replay and compaction are no-ops by dedup + re-bottom-k
    idempotence, so no staging machinery (like HLL, unlike
    count-min)."""

    def _docs(self, spark, lo, hi):
        return spark.range(lo, hi).select(
            (F.col("id") % 3).alias("g"), F.col("id"),
            (F.col("id") * 1.5).alias("v"))

    def test_incremental_equals_whole_corpus_sample(self, spark,
                                                    tmp_path):
        from zdb_spark.operators.sketches import (append_kmv_store,
                                                  build_kmv_store,
                                                  kmv_sample,
                                                  read_kmv_store)

        p = str(tmp_path / "kmv")
        build_kmv_store(self._docs(spark, 0, 1000), "id", p, "g", k=32)
        append_kmv_store(self._docs(spark, 1000, 1800), "id", p,
                         batch_id=1)
        append_kmv_store(self._docs(spark, 1800, 2500), "id", p,
                         batch_id=2)
        whole = {(r.g, r.id) for r in kmv_sample(
            self._docs(spark, 0, 2500), "id", "g", k=32).collect()}
        stored = {(r.g, r.id) for r in
                  read_kmv_store(spark, p).collect()}
        assert stored == whole

    def test_replay_and_compaction_are_noops(self, spark, tmp_path):
        import os

        from zdb_spark.operators.sketches import (append_kmv_store,
                                                  build_kmv_store,
                                                  compact_kmv_store,
                                                  read_kmv_store)

        p = str(tmp_path / "kmv")
        build_kmv_store(self._docs(spark, 0, 800), "id", p, "g", k=32)
        append_kmv_store(self._docs(spark, 800, 1500), "id", p,
                         batch_id=1)
        before = {(r.g, r.id) for r in
                  read_kmv_store(spark, p).collect()}
        append_kmv_store(self._docs(spark, 800, 1500), "id", p,
                         batch_id=1)           # replay
        assert {(r.g, r.id) for r in
                read_kmv_store(spark, p).collect()} == before
        assert compact_kmv_store(spark, p) == 2
        dirs = [d for d in os.listdir(os.path.join(p, "samples"))
                if d.startswith("batch=")]
        assert dirs == ["batch=compact-0"]
        assert {(r.g, r.id) for r in
                read_kmv_store(spark, p).collect()} == before

    def test_store_quantiles_match_whole_corpus(self, spark, tmp_path):
        from zdb_spark.operators.sketches import (append_kmv_store,
                                                  build_kmv_store,
                                                  kmv_quantiles,
                                                  kmv_store_quantiles)

        p = str(tmp_path / "kmv")
        build_kmv_store(self._docs(spark, 0, 1200), "id", p, "g", k=32)
        append_kmv_store(self._docs(spark, 1200, 2400), "id", p,
                         batch_id=1)
        whole = {(r.g, r.q): r.value for r in kmv_quantiles(
            self._docs(spark, 0, 2400), "v", "id", "g", k=32).collect()}
        stored = {(r.g, r.q): r.value for r in
                  kmv_store_quantiles(spark, p, "v").collect()}
        assert stored == whole

    def test_build_refuses_to_clobber(self, spark, tmp_path):
        import pytest

        from zdb_spark.operators.sketches import build_kmv_store

        p = str(tmp_path / "kmv")
        build_kmv_store(self._docs(spark, 0, 100), "id", p, "g", k=8)
        with pytest.raises(FileExistsError):
            build_kmv_store(self._docs(spark, 0, 100), "id", p, "g",
                            k=8)


def test_kmv_value_sketch_dedups_with_partial_aggregation(spark):
    """The sketch's dedup groupBy must partially aggregate (map-side
    combine collapses repeated values before the shuffle) — the plan
    shape that keeps the shuffle at distinct-values, not corpus
    rows."""
    from zdb_spark.operators.sketches import kmv_value_sketch

    df = spark.range(10_000).select(
        F.concat(F.lit("p"), F.col("id") % 50).alias("v"))
    plan = (kmv_value_sketch(df, "v", k=16)._jdf.queryExecution()
            .executedPlan().toString())
    assert "HashAggregate" in plan
    # and the k-selection is a TakeOrdered heap, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_retract_countmin_store_removes_exactly_its_batch(spark,
                                                          tmp_path):
    """Count-min deletion: retracting an ingested batch restores the
    estimates the store had before that batch arrived (exact negation
    of its own cells), a replayed retraction is a published no-op, and
    compaction folds the negative cells away."""
    from zdb_spark.operators.sketches import (append_countmin_store,
                                              build_countmin_store,
                                              compact_countmin_store,
                                              countmin_store_lookup,
                                              retract_countmin_store)

    def docs(lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("t"), F.col("id") % 61).alias("v"))

    p = str(tmp_path / "cm")
    build_countmin_store(docs(0, 800), "v", p, depth=4, width=256)
    probes = ["t0", "t33", "t60"]
    before = {r.value: r.est_count for r in
              countmin_store_lookup(spark, p, probes).collect()}
    append_countmin_store(docs(800, 1300), "v", p, batch_id=1)
    assert retract_countmin_store(docs(800, 1300), "v", p,
                                  batch_id="retract-1")
    after = {r.value: r.est_count for r in
             countmin_store_lookup(spark, p, probes).collect()}
    assert after == before
    assert not retract_countmin_store(docs(800, 1300), "v", p,
                                      batch_id="retract-1")
    assert compact_countmin_store(spark, p) == 3
    assert {r.value: r.est_count for r in
            countmin_store_lookup(spark, p, probes).collect()} == before


class TestBloom:
    """Packed-word Bloom filter (operators/sketches.py:bloom_words):
    never a false negative, false positives within the (fill)^k bound,
    word table bounded by m_bits/32 rows, bit_or mergeability — the
    membership sketch of the four-family story."""

    def _docs(self, spark, lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("u"), F.col("id")).alias("v"))

    def test_no_false_negatives(self, spark):
        from zdb_spark.operators.sketches import bloom_lookup, bloom_words

        df = self._docs(spark, 0, 500)
        w = bloom_words(df, "v", m_bits=8192, k=4)
        probes = [f"u{i}" for i in range(0, 500, 7)]
        got = {r.value: r.maybe_present
               for r in bloom_lookup(w, probes, m_bits=8192,
                                     k=4).collect()}
        assert all(got.values()), [v for v, p in got.items() if not p]

    def test_false_positive_rate_within_bound(self, spark):
        from zdb_spark.operators.sketches import (bloom_lookup,
                                                  bloom_stats,
                                                  bloom_words)

        df = self._docs(spark, 0, 500)
        m, k = 8192, 4
        w = bloom_words(df, "v", m_bits=m, k=k)
        fill, fpr_est = bloom_stats(
            w, m_bits=m, k=k).select("fill", "fpr_est").first()
        absent = [f"absent{i}" for i in range(400)]
        got = bloom_lookup(w, absent, m_bits=m, k=k).collect()
        fp = sum(r.maybe_present for r in got) / len(got)
        # fill ~ 500*4/8192 ≈ 0.22 -> fpr_est ~ 0.2%; allow generous
        # sampling slack above the analytic estimate
        assert fp <= 5 * fpr_est + 0.01, (fp, fpr_est, fill)

    def test_word_table_bounded_and_mergeable(self, spark):
        from zdb_spark.operators.sketches import bloom_words

        m = 1024
        a = self._docs(spark, 0, 300)
        b = self._docs(spark, 300, 700)
        whole = bloom_words(self._docs(spark, 0, 700), "v", m_bits=m)
        assert whole.count() <= m // 32
        merged = (bloom_words(a, "v", m_bits=m)
                  .union(bloom_words(b, "v", m_bits=m))
                  .groupBy("word_idx").agg(F.bit_or("word").alias("word")))
        assert ({tuple(r) for r in merged.collect()}
                == {tuple(r) for r in whole.collect()})

    def test_probe_position_collisions_stay_true(self, spark):
        # m_bits=32 forces all k=8 probes of every value into ONE word
        # with near-certain position collisions: a value just inserted
        # must still probe true (the distinct-address accounting)
        from zdb_spark.operators.sketches import bloom_lookup, bloom_words

        df = spark.createDataFrame([("x",), ("y",)], "v string")
        w = bloom_words(df, "v", m_bits=32, k=8)
        got = {r.value: r.maybe_present
               for r in bloom_lookup(w, ["x", "y"], m_bits=32,
                                     k=8).collect()}
        assert got == {"x": True, "y": True}

    def test_grouped_words_and_stats(self, spark):
        from zdb_spark.operators.sketches import bloom_stats, bloom_words

        df = spark.range(400).select(
            (F.col("id") % 2).cast("string").alias("g"),
            F.concat(F.lit("v"), F.col("id")).alias("v"))
        w = bloom_words(df, "v", "g", m_bits=2048, k=3)
        per = {r.g: r["count"] for r in
               w.groupBy("g").count().collect()}
        assert set(per) == {"0", "1"}
        assert all(c <= 2048 // 32 for c in per.values())
        st = {r.g: r.set_bits for r in
              bloom_stats(w, "g", m_bits=2048, k=3).collect()}
        assert all(0 < s <= 200 * 3 for s in st.values())

    def test_set_bits_matches_python_popcount(self, spark):
        from zdb_spark.operators.sketches import bloom_stats, bloom_words

        w = bloom_words(self._docs(spark, 0, 100), "v", m_bits=1024)
        expect = sum(bin(r.word).count("1") for r in w.collect())
        got = bloom_stats(w, m_bits=1024).first().set_bits
        assert got == expect

    def test_nulls_set_no_bits(self, spark):
        from zdb_spark.operators.sketches import bloom_words

        df = spark.createDataFrame([("a",), (None,)], "v string")
        with_null = bloom_words(df, "v", m_bits=256, k=4)
        without = bloom_words(df.where(F.col("v").isNotNull()), "v",
                              m_bits=256, k=4)
        assert ({tuple(r) for r in with_null.collect()}
                == {tuple(r) for r in without.collect()})

    def test_param_validation(self, spark):
        from zdb_spark.operators.sketches import bloom_words

        df = self._docs(spark, 0, 10)
        with pytest.raises(ValueError):
            bloom_words(df, "v", m_bits=100)   # not a multiple of 32
        with pytest.raises(ValueError):
            bloom_words(df, "v", m_bits=0)
        with pytest.raises(ValueError):
            bloom_words(df, "v", k=0)


class TestBloomStore:
    """Persisted/incremental Bloom words: build/append/read reproduce
    the whole-corpus word table exactly; replay and compaction are
    no-ops by bit_or idempotence (the HLL store's durability story with
    a different merge operator)."""

    def _docs(self, spark, lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("u"), F.col("id")).alias("v"))

    def test_incremental_equals_whole_corpus(self, spark, tmp_path):
        from zdb_spark.operators.sketches import (append_bloom_store,
                                                  bloom_words,
                                                  build_bloom_store,
                                                  read_bloom_words)

        p = str(tmp_path / "bloom")
        build_bloom_store(self._docs(spark, 0, 400), "v", p,
                          m_bits=4096, k=4)
        append_bloom_store(self._docs(spark, 400, 700), "v", p,
                           batch_id=1)
        append_bloom_store(self._docs(spark, 700, 1000), "v", p,
                           batch_id=2)
        whole = {tuple(r) for r in bloom_words(
            self._docs(spark, 0, 1000), "v", m_bits=4096, k=4).collect()}
        assert {tuple(r) for r in
                read_bloom_words(spark, p).collect()} == whole

    def test_replay_and_compaction_idempotent(self, spark, tmp_path):
        from zdb_spark.operators.sketches import (append_bloom_store,
                                                  bloom_store_lookup,
                                                  build_bloom_store,
                                                  compact_bloom_store,
                                                  read_bloom_words)

        p = str(tmp_path / "bloom")
        build_bloom_store(self._docs(spark, 0, 300), "v", p,
                          m_bits=2048, k=4)
        append_bloom_store(self._docs(spark, 300, 600), "v", p,
                           batch_id=1)
        before = {tuple(r) for r in read_bloom_words(spark, p).collect()}
        append_bloom_store(self._docs(spark, 300, 600), "v", p,
                           batch_id=1)     # replayed batch: no-op
        assert {tuple(r) for r in
                read_bloom_words(spark, p).collect()} == before
        assert compact_bloom_store(spark, p) == 2
        assert {tuple(r) for r in
                read_bloom_words(spark, p).collect()} == before
        assert compact_bloom_store(spark, p) == 0  # single batch left
        got = {r.value: r.maybe_present for r in bloom_store_lookup(
            spark, p, ["u0", "u599", "absent"]).collect()}
        assert got == {"u0": True, "u599": True, "absent": False}

    def test_build_twice_raises_and_grouped_lookup_rejected(
            self, spark, tmp_path):
        from zdb_spark.operators.sketches import (bloom_store_lookup,
                                                  build_bloom_store)

        p = str(tmp_path / "bloom")
        build_bloom_store(self._docs(spark, 0, 50), "v", p, m_bits=256)
        with pytest.raises(FileExistsError):
            build_bloom_store(self._docs(spark, 0, 50), "v", p,
                              m_bits=256)
        g = str(tmp_path / "bloomg")
        df = spark.range(50).select(
            (F.col("id") % 2).cast("string").alias("g"),
            F.concat(F.lit("u"), F.col("id")).alias("v"))
        build_bloom_store(df, "v", g, "g", m_bits=256)
        with pytest.raises(ValueError):
            bloom_store_lookup(spark, g, ["u0"])


def test_bloom_store_lookup_by_grouped_verdicts(spark, tmp_path):
    """Grouped store lookup answers per (group, probe): a token seen
    only by source A must probe true for A and false for B (modulo the
    deterministic FP mass, excluded here by m >> n)."""
    from zdb_spark.operators.sketches import (bloom_store_lookup_by,
                                              build_bloom_store)

    df = spark.createDataFrame(
        [("A", "only-in-a"), ("A", "shared"), ("B", "shared"),
         ("B", "only-in-b")], "src string, v string")
    p = str(tmp_path / "bloomg")
    build_bloom_store(df, "v", p, "src", m_bits=8192, k=4)
    got = {(r.src, r.value): r.maybe_present
           for r in bloom_store_lookup_by(
               spark, p, ["only-in-a", "only-in-b", "shared",
                          "absent"]).collect()}
    assert got[("A", "only-in-a")] and not got[("B", "only-in-a")]
    assert got[("B", "only-in-b")] and not got[("A", "only-in-b")]
    assert got[("A", "shared")] and got[("B", "shared")]
    assert not got[("A", "absent")] and not got[("B", "absent")]
    assert len(got) == 8          # full (group x probe) grid


class TestBloomSaturation:
    """Saturation guard + rebuild (round-13 verdict task 8): a filter
    driven past its fpr threshold is DETECTED (bloom_store_saturation)
    and a grow_bloom_store rebuild at 4x m restores selectivity —
    absent probes flip back to false, present probes never flip."""

    def _docs(self, spark, lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("u"), F.col("id")).alias("v"))

    def test_saturate_detect_grow_restores_selectivity(self, spark,
                                                       tmp_path):
        from zdb_spark.operators.sketches import (append_bloom_store,
                                                  bloom_store_lookup,
                                                  bloom_store_saturation,
                                                  build_bloom_store,
                                                  grow_bloom_store)

        p = str(tmp_path / "bloom")
        # 2000 values into a 1024-bit filter: fill -> ~1, fpr_est -> ~1
        build_bloom_store(self._docs(spark, 0, 1000), "v", p,
                          m_bits=1024, k=4)
        append_bloom_store(self._docs(spark, 1000, 2000), "v", p,
                           batch_id=1)
        sat = bloom_store_saturation(spark, p, fpr_threshold=0.01).first()
        assert sat["saturated"] is True and sat["fpr_est"] > 0.5

        absent = [f"zz{i}" for i in range(200)]
        degraded = bloom_store_lookup(spark, p, absent)
        n_false_pos = sum(r.maybe_present for r in degraded.collect())
        assert n_false_pos > 100       # pass-through: selectivity gone

        # rebuild from the authoritative corpus at default 4x... 1024*4
        # is still tiny, so grow explicitly to a sized filter
        new_m = grow_bloom_store(self._docs(spark, 0, 2000), "v", p,
                                 m_bits=1 << 16)
        assert new_m == 1 << 16
        sat2 = bloom_store_saturation(spark, p,
                                      fpr_threshold=0.01).first()
        assert sat2["saturated"] is False and sat2["fpr_est"] < 0.01
        healed = bloom_store_lookup(spark, p, absent)
        assert sum(r.maybe_present for r in healed.collect()) <= 2
        # no false negatives survive a rebuild (members re-addressed)
        present = [f"u{i}" for i in range(0, 2000, 37)]
        got = bloom_store_lookup(spark, p, present)
        assert all(r.maybe_present for r in got.collect())

    def test_grow_refuses_shrink_and_preserves_groups(self, spark,
                                                      tmp_path):
        import pytest as _pytest

        from zdb_spark.operators.sketches import (build_bloom_store,
                                                  bloom_store_lookup_by,
                                                  grow_bloom_store)

        p = str(tmp_path / "gbloom")
        df = spark.range(0, 200).select(
            (F.col("id") % 2).cast("string").alias("src"),
            F.concat(F.lit("u"), F.col("id")).alias("v"))
        build_bloom_store(df, "v", p, by=["src"], m_bits=4096, k=4)
        with _pytest.raises(ValueError, match="must exceed"):
            grow_bloom_store(df, "v", p, m_bits=4096)
        grow_bloom_store(df, "v", p, m_bits=1 << 14)
        out = bloom_store_lookup_by(spark, p, ["u0", "u1"])
        got = {(r.src, r.value): r.maybe_present for r in out.collect()}
        # u0 is in group "0" only, u1 in "1" only (id%2 split)
        assert got[("0", "u0")] and got[("1", "u1")]
        assert not got[("1", "u0")] and not got[("0", "u1")]


class TestBloomProbeChainGuards:
    """Round-13 advice: the contamination prefilter's probe chain must
    refuse a grouped/duplicated word table (silent candidate
    multiplication) and an over-ceiling m_bits (driver collect)."""

    def test_grouped_words_rejected(self, spark):
        import pytest as _pytest

        from zdb_spark.operators.curation import _bloom_probe_chain
        from zdb_spark.operators.sketches import bloom_words

        df = spark.range(0, 50).select(
            (F.col("id") % 2).cast("string").alias("src"),
            F.concat(F.lit("u"), F.col("id")).alias("v"))
        grouped = bloom_words(df, "v", ["src"], m_bits=1024, k=2)
        cand = spark.range(0, 5).select(
            F.concat(F.lit("u"), F.col("id")).alias("v"))
        with _pytest.raises(ValueError, match="UNGROUPED"):
            _bloom_probe_chain(cand, "v", grouped, m_bits=1024, k=2)
        # same columns but duplicated word_idx rows: also refused
        flat = grouped.select("word_idx", "word")
        with _pytest.raises(ValueError, match="duplicate word_idx"):
            _bloom_probe_chain(cand, "v", flat, m_bits=1024, k=2)

    def test_oversized_m_bits_rejected(self, spark):
        import pytest as _pytest

        from zdb_spark.operators.curation import (_PROBE_CHAIN_MAX_BITS,
                                                  _bloom_probe_chain)

        cand = spark.range(0, 5).select(
            F.concat(F.lit("u"), F.col("id")).alias("v"))
        with _pytest.raises(ValueError, match="ceiling"):
            _bloom_probe_chain(cand, "v", cand, k=4,
                               m_bits=_PROBE_CHAIN_MAX_BITS * 2)


class TestShardedBloomStore:
    """Scalable-Bloom sharding (Almeida et al. 2007): a saturated
    active shard FREEZES and new batches open a geometrically larger
    one — growth with NO corpus pass; lookups OR across shards, so
    members of frozen shards never flip (no false negatives)."""

    def _docs(self, spark, lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("u"), F.col("id")).alias("v"))

    def test_rotation_freezes_and_restores_selectivity(self, spark,
                                                       tmp_path):
        from zdb_spark.operators.sketches import (
            append_sharded_bloom_store, build_sharded_bloom_store,
            sharded_bloom_lookup, sharded_bloom_stats)

        p = str(tmp_path / "sb")
        # shard 0 at 1024 bits saturates after ~1000 values
        build_sharded_bloom_store(self._docs(spark, 0, 1000), "v", p,
                                  m_bits=1024, k=4,
                                  fpr_threshold=0.01, growth=64)
        # next batch must rotate: shard 0 frozen, shard 1 at 64x
        s1 = append_sharded_bloom_store(self._docs(spark, 1000, 2000),
                                        "v", p, batch_id=1)
        assert s1 == 1
        s2 = append_sharded_bloom_store(self._docs(spark, 2000, 2500),
                                        "v", p, batch_id=2)
        assert s2 == 1                     # shard 1 not saturated yet

        stats = {r.shard: r for r in
                 sharded_bloom_stats(spark, p).collect()}
        assert stats[0].fpr_est > 0.5 and not stats[0].active
        assert stats[1].fpr_est < 0.01 and stats[1].active
        assert stats[1].m_bits == 1024 * 64

        # no false negatives across ALL shards (frozen + active)
        present = [f"u{i}" for i in range(0, 2500, 41)]
        got = {r.value: r.maybe_present for r in
               sharded_bloom_lookup(spark, p, present).collect()}
        assert all(got.values())
        # absent probes: shard 0 answers ~everything (frozen,
        # saturated) so compound selectivity is bounded by it — the
        # honest scalable-Bloom property: rotation stops the DRIFT,
        # the frozen shard's fpr is paid forever (Almeida §3)
        absent = [f"zz{i}" for i in range(100)]
        n_fp = sum(r.maybe_present for r in
                   sharded_bloom_lookup(spark, p, absent).collect())
        assert n_fp >= 50                  # shard 0's saturation shows
        # ...which is exactly why the threshold should trip BEFORE
        # saturation in production: rebuild the check with a sane
        # threshold and the compound fpr stays near the shard-1 level
        import shutil
        shutil.rmtree(p)
        build_sharded_bloom_store(self._docs(spark, 0, 400), "v", p,
                                  m_bits=1 << 14, k=4,
                                  fpr_threshold=0.01, growth=4)
        append_sharded_bloom_store(self._docs(spark, 400, 3000), "v",
                                   p, batch_id=1)
        append_sharded_bloom_store(self._docs(spark, 3000, 5000), "v",
                                   p, batch_id=2)
        got2 = {r.value: r.maybe_present for r in
                sharded_bloom_lookup(
                    spark, p, [f"u{i}" for i in
                               range(0, 5000, 73)]).collect()}
        assert all(got2.values())
        n_fp2 = sum(r.maybe_present for r in
                    sharded_bloom_lookup(spark, p, absent).collect())
        assert n_fp2 <= 5

    def test_replay_is_a_structural_noop(self, spark, tmp_path):
        import os

        from zdb_spark.operators.sketches import (
            append_sharded_bloom_store, build_sharded_bloom_store)

        p = str(tmp_path / "sb2")
        build_sharded_bloom_store(self._docs(spark, 0, 100), "v", p,
                                  m_bits=1 << 14, k=4)
        append_sharded_bloom_store(self._docs(spark, 100, 200), "v", p,
                                   batch_id=7)

        def tree(root):
            return sorted(os.path.join(dp, f)
                          for dp, _, fs in os.walk(root) for f in fs)

        before = tree(p)
        # replaying batch 7 (even with different data) lands nowhere
        s = append_sharded_bloom_store(self._docs(spark, 500, 600),
                                       "v", p, batch_id=7)
        assert s == 0 and tree(p) == before
