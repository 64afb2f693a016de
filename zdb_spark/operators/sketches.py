"""Cross-engine-reproducible sketches — the 100 TB substitutes for
exact ``COUNT(DISTINCT)`` (portable HyperLogLog, live and as a
persisted/incremental register store), heavy-hitter counting
(count-min tables, live and as a persisted store with additive-merge
staging), global percentiles and uniform sampling (KMV bottom-k:
sampling, nearest-rank quantiles, exact sample merge, a persisted
sample store), distinct-set ALGEBRA (KMV (k-1)/u_k cardinality
plus jaccard/union/intersection estimates — the set operations
max-merged HLL registers cannot answer), and MEMBERSHIP (Bloom
filters as packed-word tables: no false negatives, tunable false
positives — the "have we ever crawled this URL" primitive) — all
built so another engine can replay them bit-for-bit.

The four persisted stores are one artifact family with four merge
disciplines: HLL registers merge by ``max`` (idempotent — overwrite
batch dirs are the whole durability story), count-min cells by ``+``
(NOT idempotent — rename-published first-publish-wins batches and a
generation pointer readers resolve exactly once), KMV samples by
ORDER STATISTICS (union + re-bottom-k, idempotent by the closure
property), Bloom words by ``bit_or`` (idempotent, same story as HLL).

Spark ships HLL (``approx_count_distinct``) and quantile sketches, and
tests/test_sketches.py pins their accuracy — but their hash functions
are engine-internal, so their ESTIMATES can't be verified by an
independent engine, merged with registers produced elsewhere, or
persisted as an engine-neutral artifact.  These sketches derive every
hash from ``md5`` (available identically in Spark, DuckDB, Python) and
keep all register arithmetic in exact integers, so:

- the driver's DuckDB oracle reproduces the full register state AND the
  raw estimate value-for-value (the CORRECTNESS gate),
- register tables persist as plain parquet and MERGE across engines /
  ingest generations with ``max`` (HLL) or ``+`` (count-min) — the
  property that makes a sketch a pipeline ARTIFACT, not a query-local
  trick.

Flaw avoided (why the raw estimate divides exact integers): summing
``2^-rho`` directly in doubles needs up to 57 significand bits — the
sum's VALUE then depends on partial-aggregation order, and a hash gate
dies on last-ulp divergence.  Scaling by ``2^(RHO_MAX-rho)`` makes every
term an exact long; the one float operation is a single division of two
exact integers, which IEEE 754 defines to the bit on every engine.

Scale shape: the HLL and count-min sketches are one partially
aggregated ``groupBy`` whose shuffle is bounded by (groups x
registers), never by corpus rows; the KMV sample is a TakeOrdered
heap (ungrouped) or groupwise top-k — the entire point at 100 TB.

References: Flajolet et al. 2007 (HyperLogLog), Heule et al. 2013
(HLL++ small-range bias: we apply the standard linear-counting branch in
``hll_distinct``'s corrected column, kept OUT of the hash-gated raw
estimate because ``ln`` is libm-dependent); Cormode & Muthukrishnan 2005
(count-min); Bar-Yossef et al. 2002 and Beyer et al. 2007 (KMV
distinct-value estimation and set-operation synopses).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from .. import store
from ..functions.scalar import round0

__all__ = ["hll_registers", "hll_distinct", "countmin_table",
           "countmin_lookup", "kmv_sample", "kmv_quantiles",
           "build_hll_store", "append_hll_store", "read_hll_registers",
           "hll_store_distinct", "compact_hll_store",
           "build_countmin_store", "append_countmin_store",
           "read_countmin_table", "countmin_store_lookup",
           "compact_countmin_store", "vacuum_countmin_store",
           "retract_countmin_store",
           "merge_kmv_samples", "kmv_value_sketch", "kmv_distinct",
           "kmv_set_estimates", "build_kmv_store", "append_kmv_store",
           "read_kmv_store", "kmv_store_quantiles", "compact_kmv_store",
           "bloom_words", "bloom_lookup", "bloom_stats", "bloom_position",
           "build_bloom_store", "append_bloom_store", "read_bloom_words",
           "bloom_store_lookup", "bloom_store_lookup_by",
           "compact_bloom_store", "bloom_store_saturation",
           "grow_bloom_store", "build_sharded_bloom_store",
           "append_sharded_bloom_store", "sharded_bloom_lookup",
           "sharded_bloom_stats",
           "HLL_M", "HLL_RHO_MAX", "BLOOM_WORD_BITS", "hll_alpha"]

# m = 256 registers (b = 8 bits = the md5 digest's first 2 hex chars);
# rank word w = the next 12 hex chars (48 bits) => rho in [1, 49]
HLL_M = 256
HLL_RHO_MAX = 49


def hll_alpha(m: int = HLL_M) -> float:
    """The standard HLL bias constant for m >= 128."""
    return 0.7213 / (1.0 + 1.079 / m)


def _nibble_bitlen(c: Column) -> Column:
    """bit_length of one hex nibble (int 1..15) — a 3-branch CASE both
    engines evaluate identically (no log2 float hazard)."""
    return (F.when(c >= 8, 4).when(c >= 4, 3).when(c >= 2, 2)
            .otherwise(1))


def hll_rho(col: Column) -> Column:
    """(bucket, rho) struct for one value: bucket = first 2 md5 hex
    chars (0..255); rho = 1 + number of leading zero BITS of the next
    48 hash bits — computed from hex-string shape (count of leading
    '0' nibbles + a CASE on the first non-zero nibble), integer-exact
    and replayable as the identical expression in SQL."""
    h = F.md5(col.cast("string"))
    bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    w = F.substring(h, 3, 12)
    stripped = F.regexp_replace(w, "^0+", "")
    lead_nibbles = F.lit(12) - F.length(stripped)
    first = F.conv(F.substring(stripped, 1, 1), 16, 10).cast("int")
    rho = F.when(F.length(stripped) == 0, F.lit(HLL_RHO_MAX)).otherwise(
        lead_nibbles * 4 + (F.lit(4) - _nibble_bitlen(first)) + 1
    ).cast("int")
    return F.struct(bucket.alias("bucket"), rho.alias("rho"))


def hll_registers(df: DataFrame, value_col: str, by=None) -> DataFrame:
    """Per-group HLL register table: (by..., bucket, max_rho) — at most
    ``HLL_M`` rows per group regardless of corpus size (one partially
    aggregated groupBy; map-side combine collapses each partition to
    groups x 256 rows before the shuffle).

    The register table IS the persistable/mergeable sketch state:
    union two epochs' tables and ``max`` per (group, bucket) — exactly
    how 100 TB of per-day sketches roll up to per-month distincts
    without re-reading a row.
    """
    by = [by] if isinstance(by, str) else list(by or [])
    br = hll_rho(F.col(value_col))
    # NULLs don't count as a distinct value (SQL COUNT(DISTINCT)
    # semantics) — and a NULL-bucket register row would corrupt
    # hll_distinct's reg_sum (count() counts the row, sum() skips its
    # NULL rho)
    return (df.where(F.col(value_col).isNotNull())
            .select(*by, br.alias("_br"))
            .groupBy(*by, F.col("_br.bucket").alias("bucket"))
            .agg(F.max("_br.rho").alias("max_rho")))


def hll_distinct(df: DataFrame, value_col: str, by=None, *,
                 round_dp: int = 4) -> DataFrame:
    """Distinct-count estimate per group from the portable HLL sketch.

    Output: (by..., present_registers, zero_registers, reg_sum,
    raw_est, est).  ``reg_sum`` = sum(2^(RHO_MAX - max_rho)) over
    present registers plus 2^RHO_MAX per absent register — an EXACT
    long, so ``raw_est = alpha * m^2 * 2^RHO_MAX / reg_sum`` is one
    IEEE division of exact integers: bit-reproducible on any engine
    (the hash-gated column).  ``est`` additionally applies the standard
    small-range linear-counting correction m*ln(m/V) — the estimate a
    CALLER should read, but ``ln`` is libm-dependent, so it is not part
    of the cross-engine hash contract (tests pin its accuracy instead).
    """
    by = [by] if isinstance(by, str) else list(by or [])
    regs = hll_registers(df, value_col, by)
    return _estimate_from_registers(regs, by, round_dp)


def _estimate_from_registers(regs: DataFrame, by: list,
                             round_dp: int) -> DataFrame:
    """Shared estimate combine over a (by..., bucket, max_rho) register
    frame — used by ``hll_distinct`` (live sketch) and
    ``hll_store_distinct`` (persisted registers).  All the determinism
    analysis in ``hll_distinct``'s docstring lives here."""
    m = F.lit(HLL_M)
    two_rho_max = F.lit(1 << HLL_RHO_MAX)
    g = regs.groupBy(*by) if by else regs.groupBy()
    agg = g.agg(
        F.count(F.lit(1)).cast("int").alias("present_registers"),
        # pyspark's shiftleft() only takes a literal shift — go through
        # the SQL form for a column shift (exact long: rho <= 49)
        F.sum(F.expr(f"shiftleft(1L, {HLL_RHO_MAX} - max_rho)"))
         .alias("_s_present"))
    reg_sum = (F.col("_s_present")
               + (m - F.col("present_registers")).cast("long")
               * two_rho_max)
    zeros = (m - F.col("present_registers")).cast("int")
    alpha = F.lit(hll_alpha())
    raw = (alpha * m.cast("double") * m.cast("double")
           * two_rho_max.cast("double") / F.col("_reg_sum"))
    out = (agg.withColumn("_reg_sum", reg_sum)
           .withColumn("zero_registers", zeros)
           .withColumn("raw_est", round0(raw, round_dp)))
    # small-range correction (linear counting) — the accurate estimate
    # for cardinalities << m; float-log, so NOT hash-gated
    corrected = F.when(
        (F.col("raw_est") <= 2.5 * HLL_M) & (F.col("zero_registers") > 0),
        F.lit(float(HLL_M)) * F.log(m.cast("double")
                                    / F.col("zero_registers")))\
        .otherwise(F.col("raw_est"))
    return (out.withColumn("est", F.round(corrected, round_dp))
            .select(*by, "present_registers", "zero_registers",
                    F.col("_reg_sum").alias("reg_sum"), "raw_est", "est"))


# ---------------------------------------------------------------------- #
# count-min                                                                #
# ---------------------------------------------------------------------- #
def countmin_table(df: DataFrame, value_col: str, *, depth: int = 4,
                   width: int = 1024) -> DataFrame:
    """Count-min sketch as a (row, bucket, n) table — depth x width
    cells total, additive-mergeable across epochs/engines.  Row ``d``'s
    hash is ``md5('<d>:' || value)``'s first 8 hex chars mod width —
    replayable in any engine with md5.  One partially aggregated
    groupBy; shuffle bounded by depth x width."""
    if depth < 1 or width < 1:
        raise ValueError("depth and width must be >= 1")
    rows = F.explode(F.array(*[F.lit(d) for d in range(depth)]))
    v = F.col(value_col).cast("string")
    # NULL values carry no count (they would all pile into one
    # NULL-bucket cell per row anyway)
    keyed = (df.where(F.col(value_col).isNotNull())
             .select(v.alias("_v"), rows.alias("row")))
    h = F.md5(F.concat(F.col("row").cast("string"), F.lit(":"),
                       F.col("_v")))
    bucket = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
              % F.lit(width)).cast("int")
    return (keyed.select("row", bucket.alias("bucket"))
            .groupBy("row", "bucket")
            .agg(F.count(F.lit(1)).alias("n")))


def countmin_lookup(table: DataFrame, values: list[str], *,
                    depth: int = 4, width: int = 1024) -> DataFrame:
    """Point-estimate counts for ``values`` against a count-min table
    (DataFrame from ``countmin_table``): estimate = min over rows of
    the addressed cell (absent cell = 0).  The query set is tiny by
    contract (heavy-hitter candidates), so it broadcasts.  ``depth``
    and ``width`` must match the table's build parameters."""
    spark = table.sparkSession
    q = spark.createDataFrame([(v,) for v in values], "value string")
    rows = F.explode(F.array(*[F.lit(d) for d in range(depth)]))
    keyed = q.select("value", rows.alias("row"))
    h = F.md5(F.concat(F.col("row").cast("string"), F.lit(":"),
                       F.col("value")))
    bucket = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
              % F.lit(width)).cast("int")
    addressed = keyed.select("value", "row", bucket.alias("bucket"))
    joined = (addressed.join(table, ["row", "bucket"], "left")
              .na.fill({"n": 0}))
    return (joined.groupBy("value")
            .agg(F.min("n").alias("est_count")))


# ---------------------------------------------------------------------- #
# KMV / bottom-k deterministic sample quantiles                           #
# ---------------------------------------------------------------------- #
def kmv_sample(df: DataFrame, id_col: str, by=None, *, k: int = 1024,
               salt: str = "v1") -> DataFrame:
    """Deterministic uniform row sample: the ``k`` rows with the
    smallest ``md5(salt:id)`` per group — the bottom-k (KMV) sketch.

    Because membership derives from the ID hash alone, the sample is
    (a) reproducible across engines/reruns (the DuckDB oracle replays
    it row-for-row), (b) stable under repartitioning, and (c) MERGEABLE:
    union two epochs' samples and re-take the bottom-k — exactly how
    per-day samples roll up to a corpus sample without re-reading rows.
    Ties are impossible for unique ids (md5 collision); ``id_col``
    uniqueness is the caller's contract, and (hash, id) ordering makes
    even a violated contract deterministic.

    Scale shape: ungrouped sampling compiles to a TakeOrdered k-row
    heap (no global sort).  Grouped sampling is the standard groupwise
    top-k — one keyed shuffle + within-group sort + rank filter; a
    pathologically hot group pays its own size, the usual caveat.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    by = [by] if isinstance(by, str) else list(by or [])
    h = F.md5(F.concat(F.lit(f"{salt}:"),
                       F.col(id_col).cast("string"))).alias("_kmv_h")
    keyed = df.withColumn("_kmv_h", h)
    if not by:
        return (keyed.orderBy("_kmv_h", id_col).limit(k)
                .drop("_kmv_h"))
    from pyspark.sql import Window

    w = Window.partitionBy(*by).orderBy("_kmv_h", id_col)
    return (keyed.withColumn("_kmv_r", F.row_number().over(w))
            .where(F.col("_kmv_r") <= k)
            .drop("_kmv_h", "_kmv_r"))


def kmv_quantiles(df: DataFrame, value_col: str, id_col: str, by=None,
                  *, k: int = 1024, qs=(0.25, 0.5, 0.75, 0.95),
                  salt: str = "v1") -> DataFrame:
    """Quantile estimates from the deterministic bottom-k sample, by
    NEAREST RANK: the q-quantile is the sample's value at rank
    ``ceil(q * n)`` (1-based) — an ACTUAL data value copied out, never
    an interpolation, so the result is bit-reproducible in any engine
    that can sort (the interpolated form would hash-diverge on the
    lerp arithmetic).  Error = sampling error O(1/sqrt(k)) + the
    half-rank discretization; at k=1024 the 2-sigma quantile error is
    ~3 percentile points — the 100 TB substitute for an exact global
    percentile's full shuffle.

    Output: (by..., q, n_sample, value).  One pass + the kmv_sample
    shuffle; the quantile extraction runs on <= k rows per group.
    """
    by = [by] if isinstance(by, str) else list(by or [])
    sample = kmv_sample(df.select(*by, id_col, value_col), id_col, by,
                        k=k, salt=salt)
    from pyspark.sql import Window

    w = Window.partitionBy(*by).orderBy(F.col(value_col).cast("double"),
                                        id_col)
    ranked = (sample.withColumn("_r", F.row_number().over(w))
              .withColumn("_n", F.count(F.lit(1)).over(
                  Window.partitionBy(*by))))
    out = None
    for q in qs:
        hit = (ranked.where(
            F.col("_r") == F.ceil(F.lit(float(q)) * F.col("_n"))
            .cast("int"))
            .select(*by, F.lit(float(q)).alias("q"),
                    F.col("_n").cast("long").alias("n_sample"),
                    F.col(value_col).cast("double").alias("value")))
        out = hit if out is None else out.unionByName(hit)
    return out


# ---------------------------------------------------------------------- #
# persisted / incremental HLL register store                              #
# ---------------------------------------------------------------------- #
def build_hll_store(df: DataFrame, value_col: str, path: str,
                    by=None) -> None:
    """Persist the corpus's HLL registers as a parquet store — the
    incremental form of ``hll_distinct``: per-ingest-batch register
    tables accumulate under ``regs/batch=<id>/`` and the read side
    max-merges them, so 'distinct tokens per source over 100 TB so far'
    never re-reads a row of history.

    Why this store needs NO staging/healing machinery (unlike the
    minhash store): HLL registers are IDEMPOTENT under max-merge.
    Replaying a batch, double-publishing a file, or reading a batch
    twice mid-compaction changes nothing — max(x, x) = x — so
    per-batch-dir OVERWRITE writes (the replay-idempotent streaming
    idiom) are the entire durability story.
    """
    import json
    import os

    by = [by] if isinstance(by, str) else list(by or [])
    if os.path.exists(os.path.join(path, "params.json")):
        raise FileExistsError(f"HLL store already exists at {path}")
    os.makedirs(path, exist_ok=True)
    append_hll_store(df, value_col, path, batch_id=0, _by=by)
    with open(os.path.join(path, "params.json"), "w") as f:
        json.dump({"version": 1, "m": HLL_M, "rho_max": HLL_RHO_MAX,
                   "by": by}, f)


def append_hll_store(df: DataFrame, value_col: str, path: str, *,
                     batch_id, _by=None) -> None:
    """Add one batch's registers under ``regs/batch=<id>/`` (OVERWRITE:
    replaying the same batch id is a no-op by construction — the
    exactly-once contract streaming sinks need).  O(batch) work; the
    stored history is untouched."""
    import json
    import os

    if _by is None:
        with open(os.path.join(path, "params.json")) as f:
            _by = json.load(f)["by"]
    regs = hll_registers(df, value_col, _by)
    (regs.write.mode("overwrite")
     .parquet(os.path.join(path, "regs", f"batch={batch_id}")))


def read_hll_registers(spark, path: str) -> DataFrame:
    """The store's merged register state: union every batch, max per
    (by..., bucket).  Duplicate register rows from replays or
    in-flight compaction are harmless (max-merge idempotence)."""
    import json
    import os

    with open(os.path.join(path, "params.json")) as f:
        by = json.load(f)["by"]
    regs = spark.read.parquet(os.path.join(path, "regs", "batch=*"))
    return (regs.groupBy(*by, "bucket")
            .agg(F.max("max_rho").alias("max_rho")))


def hll_store_distinct(spark, path: str, *,
                       round_dp: int = 4) -> DataFrame:
    """Distinct-count estimates from the persisted store — same output
    contract and bit-determinism as ``hll_distinct``, but reading
    (batches x groups x 256) register rows instead of the corpus."""
    import json
    import os

    with open(os.path.join(path, "params.json")) as f:
        by = json.load(f)["by"]
    return _estimate_from_registers(read_hll_registers(spark, path),
                                    by, round_dp)


def compact_hll_store(spark, path: str) -> int:
    """Fold every batch into one: write the merged registers as a new
    ``batch=compact-<n>`` dir, then remove the source dirs.  Readers
    racing the compaction stay correct at every instant — before the
    deletes they see source+compacted rows (max-merge dedups), after
    they see just the compacted set.  Single compactor at a time is the
    caller's contract (two concurrent compactions waste work but stay
    correct, for the same idempotence reason).  Returns the number of
    source batch dirs folded."""
    import os
    import shutil

    regs_dir = os.path.join(path, "regs")
    sources = sorted(d for d in os.listdir(regs_dir)
                     if d.startswith("batch="))
    if len(sources) <= 1:
        return 0
    merged = read_hll_registers(spark, path)
    n = len([d for d in sources if d.startswith("batch=compact-")])
    out = os.path.join(regs_dir, f"batch=compact-{n}")
    while os.path.basename(out) in sources:      # name collision guard
        n += 1
        out = os.path.join(regs_dir, f"batch=compact-{n}")
    merged.write.mode("overwrite").parquet(out)
    for d in sources:
        shutil.rmtree(os.path.join(regs_dir, d), ignore_errors=True)
    return len(sources)


# ---------------------------------------------------------------------- #
# persisted / incremental count-min store                                 #
# ---------------------------------------------------------------------- #
# The HLL store above needs no staging machinery because max-merge is
# IDEMPOTENT — replaying a batch changes nothing.  Count-min cells merge
# with ``+``, and addition is NOT idempotent: a batch read twice (torn
# overwrite, replayed publish, compaction racing a reader over
# source+compacted rows) silently DOUBLE-COUNTS.  So every visibility
# change goes through the ``store.py`` generation protocol:
#
# - appends stage under ``_staging/<nonce>`` (never read) and publish by
#   renaming the batch to ``<generation>/batch=<id>``; a replayed batch
#   id finds the destination taken, or folded by a compaction, and
#   discards its staging — FIRST-publish-wins exactly-once, not
#   overwrite-idempotence.
# - compaction writes the summed table into a fresh generation
#   directory and then publishes its ``_gen`` pointer, which records the
#   batch ids it folded.  A reader resolves the pointer once and reads
#   exactly one generation, so it can NEVER see source and compacted
#   cells together (the additive double-count hazard the HLL store's
#   delete-after-publish compaction tolerates by idempotence).  Old
#   generations stay on disk for in-flight readers until
#   ``vacuum_countmin_store``.
# - writers (appends + compactions) are SINGLE-WRITER by caller
#   contract, same as the minhash store: an append publishing into
#   generation G while a compactor flips to G+1 would strand its counts
#   in a dead generation.  Readers are concurrency-safe.
def _cm_params(path: str) -> dict:
    import json
    import os

    with open(os.path.join(path, "params.json")) as f:
        p = json.load(f)
    if p.get("version") != 1:
        raise ValueError(
            f"count-min store at {path} was built by recipe "
            f"{p.get('version')!r}; this code computes 1 — rebuild")
    return p


def build_countmin_store(df: DataFrame, value_col: str, path: str, *,
                         depth: int = 4, width: int = 1024) -> None:
    """Create the store and publish the corpus as ``batch=0`` of
    generation 0.  params.json is written LAST — its presence is the
    store's completeness marker (the minhash-store idiom)."""
    import json
    import os

    if os.path.exists(os.path.join(path, "params.json")):
        raise FileExistsError(f"count-min store already exists at {path}")
    os.makedirs(path, exist_ok=True)
    _cm_publish_batch(countmin_table(df, value_col, depth=depth,
                                     width=width), path, 0)
    with open(os.path.join(path, "params.json"), "w") as f:
        json.dump({"version": 1, "depth": depth, "width": width}, f)


def _cm_publish_batch(cells: DataFrame, path: str, batch_id) -> bool:
    """Publish one batch's cell table; False when ``batch_id`` was
    already published or folded (the replay no-op that makes additive
    appends exactly-once)."""
    import os

    name = f"batch={batch_id}"
    return store.publish_batch(
        path, "gen=0", [name],
        lambda staging: cells.write.parquet(os.path.join(staging, name)))


def append_countmin_store(df: DataFrame, value_col: str, path: str, *,
                          batch_id) -> bool:
    """Add one batch's cells to the current generation.  O(batch) work;
    returns False when ``batch_id`` was already published (replay)."""
    p = _cm_params(path)
    cells = countmin_table(df, value_col, depth=p["depth"],
                           width=p["width"])
    return _cm_publish_batch(cells, path, batch_id)


def _cm_cells(spark, gdir: str) -> DataFrame:
    import os

    cells = spark.read.parquet(os.path.join(gdir, "batch=*"))
    return (cells.groupBy("row", "bucket")
            .agg(F.sum("n").alias("n")))


def read_countmin_table(spark, path: str) -> DataFrame:
    """The store's merged cell table — union of the current
    generation's batches, summed per (row, bucket).  Resolves the
    generation pointer ONCE, so a compaction finishing mid-read never
    mixes source and compacted cells into the sum."""
    _cm_params(path)
    return _cm_cells(spark, store.resolve_generation(path, "gen=0")[1])


def countmin_store_lookup(spark, path: str,
                          values: list[str]) -> DataFrame:
    """Point estimates against the persisted store — same contract as
    ``countmin_lookup`` on a live table."""
    p = _cm_params(path)
    return countmin_lookup(read_countmin_table(spark, path), values,
                           depth=p["depth"], width=p["width"])


def compact_countmin_store(spark, path: str) -> int:
    """Fold the current generation's batches into one batch of a NEW
    generation, then flip the pointer.  Returns the number of source
    batches folded (0 = nothing to do).  A compaction that crashed
    before its flip left only an unpublished directory: the old
    generation still answers and a rerun starts afresh.  Old
    generations are left for in-flight readers; reclaim with
    ``vacuum_countmin_store``."""
    import os

    _cm_params(path)
    gen, gdir, doc = store.resolve_generation(path, "gen=0")
    sources = [d for d in os.listdir(gdir) if d.startswith("batch=")]
    if len(sources) <= 1:
        return 0
    ndir = store.new_generation_dir(path, gen + 1)
    _cm_cells(spark, gdir).write.parquet(
        os.path.join(ndir, "batch=compacted"))
    store.flip_generation(path, gen + 1, ndir, {
        *doc.get("folded", ()), *sources} - {"batch=compacted"})
    return len(sources)


def vacuum_countmin_store(path: str) -> int:
    """Remove generations older than the current one plus any staging
    leftovers (crashed writes that never published — invisible to
    readers either way).  Run only when no reader can still hold a
    pre-compaction pointer.  Returns the number of directories
    removed."""
    _cm_params(path)
    return store.vacuum_generations(path, "gen=0")


def merge_kmv_samples(samples: list[DataFrame], id_col: str, by=None, *,
                      k: int = 1024, salt: str = "v1") -> DataFrame:
    """Merge per-epoch bottom-k samples into the corpus bottom-k:
    union, drop id duplicates (a row present in overlapping epochs is
    the same row), and re-take the bottom-k by the SAME hash.  The KMV
    closure property makes this exact, not approximate:
    every member of bottom-k(A ∪ B) is by definition in the bottom-k
    of whichever epoch it came from, so
    merge(sample_k(A), sample_k(B)) == sample_k(A ∪ B) ROW-FOR-ROW
    (pinned by a property test).  This is how 100 TB of per-day samples
    roll up to a corpus sample/quantile without re-reading a row —
    ``salt`` and ``k`` must match the epochs' build parameters
    (a different salt re-hashes and the closure argument collapses).

    Scale shape: the input is (epochs x k x groups) rows — sketch-sized,
    never corpus-sized; the merge is one dropDuplicates + the
    kmv_sample top-k."""
    if not samples:
        raise ValueError("merge_kmv_samples needs at least one sample")
    by = [by] if isinstance(by, str) else list(by or [])
    merged = samples[0]
    for s in samples[1:]:
        merged = merged.unionByName(s)
    merged = merged.dropDuplicates([*by, id_col])
    return kmv_sample(merged, id_col, by or None, k=k, salt=salt)


# ---------------------------------------------------------------------- #
# KMV distinct + set-operation estimates                                  #
# ---------------------------------------------------------------------- #
# HLL registers answer |A| but structurally cannot answer |A ∩ B| (max-
# merged registers only union).  The KMV VALUE sketch can: keep the k
# smallest md5 hashes of the DISTINCT values; then
#   distinct:     est = (k-1) / u_k          (u_k = k-th smallest hash
#                 as an exact 48-bit dyadic fraction — one IEEE division,
#                 bit-identical on every engine)
#   set algebra:  bottom-k(A ∪ B) == bottom-k(bottom-k(A) ∪ bottom-k(B))
#                 (the closure property), and jaccard ≈ |{h ∈ SU : h ∈
#                 SA and h ∈ SB}| / |SU| — an exact integer ratio.
# References: Bar-Yossef et al. 2002 (counting distinct elements in a
# stream); Beyer et al. 2007 (KMV synopses for distinct-value queries,
# incl. the (k-1)/u_k estimator and set-operation estimates).
_KMV_FRAC_BITS = 48


def _kmv_hash_int(value: Column, salt: str) -> Column:
    """First 48 bits of md5(salt:value) as a long — the sketch's hash
    point.  48 bits keep the fraction exactly representable in a
    double (53-bit significand), so u = h / 2^48 and (k-1)/u are
    single IEEE operations any engine reproduces to the bit."""
    h = F.md5(F.concat(F.lit(f"{salt}:"), value.cast("string")))
    return F.conv(F.substring(h, 1, 12), 16, 10).cast("long")


def kmv_value_sketch(df: DataFrame, value_col: str, by=None, *,
                     k: int = 1024, salt: str = "v1") -> DataFrame:
    """The bottom-k DISTINCT-value hash sketch: (by..., h) with at most
    k rows per group — the state behind ``kmv_distinct`` and
    ``kmv_set_estimates``, persistable as plain parquet and mergeable
    by union + re-bottom-k (closure).

    Scale shape: the dedup groupBy's map-side combine collapses
    repeated values before its shuffle, so the shuffle carries the
    DISTINCT (group, value) pairs — the exact-distinct shape, smaller
    than corpus rows but not k-bounded; the k-selection after it is
    top-k.  When only |A| is needed at register-bounded shuffle cost,
    use ``hll_distinct`` — this sketch's reason to exist is the set
    algebra HLL cannot do."""
    if k < 1:
        raise ValueError("k must be >= 1")
    by = [by] if isinstance(by, str) else list(by or [])
    pts = (df.where(F.col(value_col).isNotNull())
           .select(*by, _kmv_hash_int(F.col(value_col), salt).alias("h"))
           .groupBy(*by, "h").agg(F.count(F.lit(1)).alias("_c"))
           .drop("_c"))
    if not by:
        return pts.orderBy("h").limit(k)
    from pyspark.sql import Window

    w = Window.partitionBy(*by).orderBy("h")
    return (pts.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= k).drop("_r"))


def kmv_distinct(df: DataFrame, value_col: str, by=None, *,
                 k: int = 1024, salt: str = "v1",
                 round_dp: int = 4) -> DataFrame:
    """Distinct-value estimate from the bottom-k sketch: when the
    sample holds fewer than k hashes the count IS exact (every distinct
    value is in the sample); otherwise est = (k-1) / (u_k) with
    u_k = h_k / 2^48.  Output: (by..., n_sample, est_distinct) — both
    deterministic and bit-replayable (the one division is IEEE-defined
    on exact inputs).  Relative error ~ 1/sqrt(k-2) (Beyer et al.
    2007)."""
    by = [by] if isinstance(by, str) else list(by or [])
    sk = kmv_value_sketch(df, value_col, by or None, k=k, salt=salt)
    grp = sk.groupBy(*by) if by else sk.groupBy()
    agg = grp.agg(F.count(F.lit(1)).alias("n_sample"),
                  F.max("h").alias("_hk"))
    two48 = float(1 << _KMV_FRAC_BITS)
    est = F.when(
        F.col("n_sample") < k, F.col("n_sample").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) / (F.col("_hk").cast("double") / F.lit(two48))
    )
    return agg.select(*by, "n_sample",
                      round0(est, round_dp).alias("est_distinct"))


def kmv_set_estimates(df_a: DataFrame, df_b: DataFrame, value_col: str,
                      *, k: int = 1024, salt: str = "v1",
                      round_dp: int = 4) -> DataFrame:
    """Jaccard / union / intersection distinct estimates for two value
    sets from their bottom-k sketches (Beyer et al. 2007 §4): with
    SU = bottom-k(SA ∪ SB) (exact by closure), the Jaccard estimate is
    the INTEGER ratio |{h ∈ SU : h ∈ SA ∧ h ∈ SB}| / |SU|, the union
    estimate is kmv_distinct on SU, and intersection = jaccard x union.
    One row: (n_a, n_b, n_union_sample, n_both, jaccard_est, union_est,
    intersection_est) — every input to the three divisions is an exact
    integer or dyadic rational, so any engine replays the estimates to
    the bit.

    Scale shape: each sketch costs its side's exact-distinct shuffle
    (see kmv_value_sketch); everything after runs on <= 2k rows."""
    sa = kmv_value_sketch(df_a, value_col, k=k, salt=salt)
    sb = kmv_value_sketch(df_b, value_col, k=k, salt=salt)
    # SU: bottom-k of the union of the two sketches (closure); tag
    # membership so the intersection test needs no extra joins
    tagged = (sa.select("h", F.lit(1).alias("_in_a"),
                        F.lit(0).alias("_in_b"))
              .unionByName(sb.select("h", F.lit(0).alias("_in_a"),
                                     F.lit(1).alias("_in_b")))
              .groupBy("h").agg(F.max("_in_a").alias("in_a"),
                                F.max("_in_b").alias("in_b")))
    su = tagged.orderBy("h").limit(k)
    two48 = float(1 << _KMV_FRAC_BITS)
    agg = su.groupBy().agg(
        F.count(F.lit(1)).alias("n_union_sample"),
        F.sum(F.when(F.col("in_a") + F.col("in_b") == 2, 1)
              .otherwise(0)).cast("long").alias("n_both"),
        F.max("h").alias("_hk"))
    counts = (sa.groupBy().agg(F.count(F.lit(1)).alias("n_a"))
              .crossJoin(sb.groupBy().agg(
                  F.count(F.lit(1)).alias("n_b"))))
    # 1-row x 1-row crossJoin: a scalar bind, same documented shape as
    # dsir_weights' totals bind
    out = agg.crossJoin(counts)
    union_est = F.when(
        F.col("n_union_sample") < k,
        F.col("n_union_sample").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) / (F.col("_hk").cast("double")
                               / F.lit(two48)))
    jac = (F.col("n_both").cast("double")
           / F.col("n_union_sample").cast("double"))
    return out.select(
        "n_a", "n_b", "n_union_sample", "n_both",
        round0(jac, round_dp).alias("jaccard_est"),
        round0(union_est, round_dp).alias("union_est"),
        round0(jac * union_est, round_dp).alias("intersection_est"))


# ---------------------------------------------------------------------- #
# persisted / incremental KMV sample store                                #
# ---------------------------------------------------------------------- #
# Third merge discipline of the store triptych: HLL registers merge by
# max (idempotent), count-min cells by + (needs the rename/generation
# machinery above), KMV samples by ORDER STATISTICS — union the batches
# and re-take the bottom-k (the closure property merge_kmv_samples
# pins).  Replaying a batch re-lands identical rows and the read-side
# dedup+re-bottom-k collapses them, so like the HLL store this one
# needs NO staging machinery: per-batch-dir OVERWRITE writes are the
# whole durability story.
def build_kmv_store(df: DataFrame, id_col: str, path: str, by=None, *,
                    k: int = 1024, salt: str = "v1") -> None:
    """Persist the corpus's bottom-k sample as a parquet store — the
    incremental form of ``kmv_sample``: per-batch samples accumulate
    under ``samples/batch=<id>/`` and the read side merges by
    union + re-bottom-k, so "a uniform sample (and quantiles) over
    everything ingested so far" never re-reads a row of history."""
    import json
    import os

    by = [by] if isinstance(by, str) else list(by or [])
    if os.path.exists(os.path.join(path, "params.json")):
        raise FileExistsError(f"KMV store already exists at {path}")
    os.makedirs(path, exist_ok=True)
    append_kmv_store(df, id_col, path, batch_id=0,
                     _params={"by": by, "k": k, "salt": salt,
                              "id_col": id_col})
    with open(os.path.join(path, "params.json"), "w") as f:
        json.dump({"version": 1, "by": by, "k": k, "salt": salt,
                   "id_col": id_col}, f)


def append_kmv_store(df: DataFrame, id_col: str | None, path: str, *,
                     batch_id, _params=None) -> None:
    """Add one batch's bottom-k sample under ``samples/batch=<id>/``
    (OVERWRITE: replaying a batch id rewrites identical rows, which the
    read-side dedup + re-bottom-k collapses — replay-idempotent).
    O(batch) work; history untouched.  ``id_col=None`` takes the
    store's own id column (the streaming-sink form)."""
    import json
    import os

    if _params is None:
        with open(os.path.join(path, "params.json")) as f:
            _params = json.load(f)
    if id_col is None:
        id_col = _params["id_col"]
    sample = kmv_sample(df, id_col, _params["by"] or None,
                        k=_params["k"], salt=_params["salt"])
    (sample.write.mode("overwrite")
     .parquet(os.path.join(path, "samples", f"batch={batch_id}")))


def read_kmv_store(spark, path: str) -> DataFrame:
    """The store's merged sample: union every batch and re-take the
    bottom-k — EXACTLY the whole-corpus ``kmv_sample`` by the closure
    property (any corpus bottom-k row is in its own batch's bottom-k).
    Reads (batches x k x groups) rows, never the corpus."""
    import json
    import os

    with open(os.path.join(path, "params.json")) as f:
        p = json.load(f)
    batches = spark.read.parquet(
        os.path.join(path, "samples", "batch=*"))
    return merge_kmv_samples([batches], p["id_col"], p["by"] or None,
                             k=p["k"], salt=p["salt"])


def kmv_store_quantiles(spark, path: str, value_col: str,
                        qs=(0.25, 0.5, 0.75, 0.95)) -> DataFrame:
    """Nearest-rank quantiles over the persisted merged sample — the
    'percentiles over 100 TB so far' read, costing sketch rows only.
    ``value_col`` must have been a column of the sampled frames."""
    import json
    import os

    with open(os.path.join(path, "params.json")) as f:
        p = json.load(f)
    sample = read_kmv_store(spark, path)
    return kmv_quantiles(sample, value_col, p["id_col"],
                         p["by"] or None, k=p["k"], qs=qs,
                         salt=p["salt"])


def compact_kmv_store(spark, path: str) -> int:
    """Fold every batch into one merged-sample batch (same
    delete-after-publish shape as ``compact_hll_store`` — safe for
    racing readers because the merge is idempotent: seeing source +
    compacted rows changes nothing after dedup + re-bottom-k).
    Returns the number of source batch dirs folded."""
    import os
    import shutil

    sdir = os.path.join(path, "samples")
    sources = sorted(d for d in os.listdir(sdir)
                     if d.startswith("batch="))
    if len(sources) <= 1:
        return 0
    merged = read_kmv_store(spark, path)
    n = len([d for d in sources if d.startswith("batch=compact-")])
    out = os.path.join(sdir, f"batch=compact-{n}")
    while os.path.basename(out) in sources:
        n += 1
        out = os.path.join(sdir, f"batch=compact-{n}")
    merged.write.mode("overwrite").parquet(out)
    for d in sources:
        shutil.rmtree(os.path.join(sdir, d), ignore_errors=True)
    return len(sources)


def retract_countmin_store(df: DataFrame, value_col: str, path: str, *,
                           batch_id) -> bool:
    """Retract a batch's occurrences from the persisted count-min store
    — deletion for the additive sketch: publish the batch's cells
    NEGATED (one atomic rename, first-publish-wins, like any append).
    Sound because the store's cells are EXACT occurrence sums (the
    sketch's only approximation is hash collision): a retraction
    removes exactly the contribution the original batch added, so every
    cell stays >= the true remaining count and lookups keep the
    never-underestimate guarantee.  The caller must retract rows it
    actually ingested (retracting never-ingested rows drives cells
    below truth — the same contract as any ledger).  Use a batch_id
    distinct from the original append's (e.g. ``retract-<id>``)."""
    p = _cm_params(path)
    cells = countmin_table(df, value_col, depth=p["depth"],
                           width=p["width"])
    negated = cells.select("row", "bucket",
                           (-F.col("n")).alias("n"))
    return _cm_publish_batch(negated, path, batch_id)


# ---------------------------------------------------------------------- #
# Bloom filter — packed-word membership sketch                            #
# ---------------------------------------------------------------------- #
# Fourth sketch family, fourth question: HLL answers "how many distinct",
# count-min "how often", KMV "which sample / what percentile" — the Bloom
# filter answers "have I seen THIS value" (no false negatives, tunable
# false-positive rate (set_bits/m)^k).  The sketch state is a packed bit
# array as a (word_idx, word) table: m_bits/32 rows of one 32-bit word
# each (held in a long so no engine ever sees a sign bit), built by ONE
# partially aggregated groupBy whose shuffle is bounded by m_bits/32 rows
# per partition — corpus-size-INDEPENDENT, like the HLL registers.
# Bit positions derive from md5 exactly like count-min cells, so another
# engine replays the full word table AND every membership verdict
# bit-for-bit.  Merge across epochs/engines is bitwise OR — IDEMPOTENT,
# so the persisted store below reuses the HLL store's overwrite-batch
# appends (no staging); its one generation step is the grow flip.
# References: Bloom 1970 (space/time trade-offs in hash coding);
# Broder & Mitzenmacher 2004 (network applications survey — the
# (1-e^{-kn/m})^k ≈ (fill)^k false-positive analysis).
BLOOM_WORD_BITS = 32


def bloom_position(value: Column, probe, *, m_bits: int) -> Column:
    """Bit position of probe ``i`` for ``value``: md5('<i>:' || value)'s
    first 8 hex chars mod m_bits (the count-min addressing idiom).
    THE single source of the addressing formula — the curation
    prefilters (contamination_bloom, ngram_novelty_vs_bloom) and the
    DuckDB oracles replay exactly this expression; any drift between
    copies would silently desynchronize a prefilter from the filter it
    probes."""
    i = probe if isinstance(probe, Column) else F.lit(int(probe))
    h = F.md5(F.concat(i.cast("string"), F.lit(":"),
                       value.cast("string")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
            % F.lit(m_bits))


def _bloom_addressed(values: DataFrame, value_col: str, by: list, *,
                     m_bits: int, k: int) -> DataFrame:
    """(by..., value, word_idx, mask) — the k probe addresses of each
    value: probe i's bit position is md5('<i>:' || value)'s first 8 hex
    chars mod m_bits (the count-min addressing idiom), split into a
    32-bit word index and a single-bit mask."""
    probes = F.explode(F.array(*[F.lit(i) for i in range(k)]))
    keyed = (values.where(F.col(value_col).isNotNull())
             .select(*by, F.col(value_col).cast("string").alias("value"),
                     probes.alias("_i")))
    pos = bloom_position(F.col("value"), F.col("_i"), m_bits=m_bits)
    # shiftleft() takes a literal shift only — SQL form for a column
    # shift (the HLL reg_sum idiom); pos is nonnegative by construction
    return (keyed.select(*by, "value", pos.alias("_pos"))
            .select(*by, "value",
                    F.expr(f"CAST(_pos div {BLOOM_WORD_BITS} AS INT)")
                    .alias("word_idx"),
                    F.expr(f"shiftleft(1L, CAST(_pos % {BLOOM_WORD_BITS}"
                           " AS INT))").alias("mask")))


def _check_bloom_params(m_bits: int, k: int) -> None:
    if m_bits < BLOOM_WORD_BITS or m_bits % BLOOM_WORD_BITS:
        raise ValueError(
            f"m_bits must be a positive multiple of {BLOOM_WORD_BITS}")
    if k < 1:
        raise ValueError("k must be >= 1")


def bloom_words(df: DataFrame, value_col: str, by=None, *,
                m_bits: int = 1 << 20, k: int = 4) -> DataFrame:
    """Per-group Bloom filter as a (by..., word_idx, word) packed-word
    table — at most ``m_bits/32`` rows per group regardless of corpus
    size (one partially aggregated groupBy; map-side bit_or collapses
    each partition to the word table before the shuffle).

    The word table IS the persistable/mergeable sketch state: union two
    epochs' tables and ``bit_or`` per (group, word_idx) — how 100 TB of
    per-day "seen URL" filters roll up to an all-time filter without
    re-reading a row.  NULL values don't set bits (a membership probe
    for NULL is meaningless under SQL semantics)."""
    _check_bloom_params(m_bits, k)
    by = [by] if isinstance(by, str) else list(by or [])
    addr = _bloom_addressed(df, value_col, by, m_bits=m_bits, k=k)
    return (addr.groupBy(*by, "word_idx")
            .agg(F.bit_or("mask").alias("word")))


def bloom_lookup(table: DataFrame, values: list[str], *,
                 m_bits: int = 1 << 20, k: int = 4) -> DataFrame:
    """Membership verdicts for ``values`` against an UNGROUPED Bloom
    word table (DataFrame from ``bloom_words`` with ``by=None``):
    ``maybe_present`` is true iff all k addressed bits are set — never
    a false negative; false positives at rate ~(fill)^k.
    ``m_bits``/``k`` must match the table's build parameters.

    Scale shape: the addressed probes broadcast (tiny by contract) and
    the word table streams through a map-side broadcast hash join —
    never shuffled, so a 100 TB-scale filter (m_bits in the billions)
    is probed at scan cost.  Absent word rows mean unset bits: verdicts
    compare the number of SET probe addresses against each value's
    DISTINCT address count (two of a value's k probes can hash to the
    same bit — counting k would manufacture a false negative)."""
    _check_bloom_params(m_bits, k)
    spark = table.sparkSession
    q = spark.createDataFrame([(v,) for v in values], "value string")
    addr = (_bloom_addressed(q, "value", [], m_bits=m_bits, k=k)
            .distinct())
    expected = addr.groupBy("value").agg(
        F.count(F.lit(1)).alias("_n_addr"))
    hits = (table.join(F.broadcast(addr), "word_idx")
            .where(F.col("word").bitwiseAND(F.col("mask")) != 0)
            .groupBy("value").agg(F.count(F.lit(1)).alias("_n_hit")))
    return (expected.join(hits, "value", "left")
            .select("value",
                    (F.coalesce(F.col("_n_hit"), F.lit(0))
                     == F.col("_n_addr")).alias("maybe_present")))


def bloom_stats(table: DataFrame, by=None, *, m_bits: int = 1 << 20,
                k: int = 4, round_dp: int = 6) -> DataFrame:
    """Occupancy diagnostics per group: (by..., set_bits, fill,
    fpr_est).  ``set_bits`` is an exact integer (sum of per-word
    bit_count); ``fill = set_bits / m_bits`` is ONE IEEE division of
    exact integers (bit-replayable, hash-gateable); ``fpr_est =
    fill^k`` goes through libm ``pow``, so like HLL's corrected ``est``
    it is pinned by tests, not by the cross-engine hash contract."""
    _check_bloom_params(m_bits, k)
    by = [by] if isinstance(by, str) else list(by or [])
    g = table.groupBy(*by) if by else table.groupBy()
    agg = g.agg(F.sum(F.bit_count("word")).cast("long")
                .alias("set_bits"))
    fill = F.col("set_bits").cast("double") / F.lit(float(m_bits))
    return agg.select(
        *by, "set_bits", round0(fill, round_dp).alias("fill"),
        F.round(F.pow(fill, F.lit(float(k))), round_dp).alias("fpr_est"))


# ---------------------------------------------------------------------- #
# persisted / incremental Bloom store                                     #
# ---------------------------------------------------------------------- #
# bit_or is idempotent (x | x = x), so this store is the HLL store's
# durability story with a different merge operator: per-batch-dir
# OVERWRITE writes, union + bit_or on read, delete-after-publish
# compaction that racing readers survive.  No staging.  The filter
# (params.json + words/) lives in the store root until the first
# ``grow_bloom_store``, which writes the grown filter as the next
# ``store.py`` generation and flips the pointer; every operation
# resolves the filter directory once (``_bloom_store``).
def build_bloom_store(df: DataFrame, value_col: str, path: str,
                      by=None, *, m_bits: int = 1 << 20,
                      k: int = 4) -> None:
    """Persist the corpus's Bloom words as a parquet store — the
    incremental form of ``bloom_words``: per-ingest-batch word tables
    accumulate under ``words/batch=<id>/`` and the read side bit_or-
    merges them, so "have we EVER crawled this URL" over 100 TB of
    history is a word-table read, never a corpus re-scan."""
    import json
    import os

    _check_bloom_params(m_bits, k)
    by = [by] if isinstance(by, str) else list(by or [])
    if os.path.exists(os.path.join(path, "params.json")):
        raise FileExistsError(f"Bloom store already exists at {path}")
    os.makedirs(path, exist_ok=True)
    append_bloom_store(df, value_col, path, batch_id=0,
                       _params={"by": by, "m_bits": m_bits, "k": k})
    with open(os.path.join(path, "params.json"), "w") as f:
        json.dump({"version": 1, "by": by, "m_bits": m_bits, "k": k}, f)


def append_bloom_store(df: DataFrame, value_col: str, path: str, *,
                       batch_id, _params=None) -> None:
    """Add one batch's words under ``words/batch=<id>/`` (OVERWRITE:
    replaying the same batch id is a no-op by bit_or idempotence — the
    exactly-once contract streaming sinks need).  O(batch) work; the
    stored history is untouched."""
    import os

    d = path
    if _params is None:
        d, _params = _bloom_store(path)
    words = bloom_words(df, value_col, _params["by"] or None,
                        m_bits=_params["m_bits"], k=_params["k"])
    (words.write.mode("overwrite")
     .parquet(os.path.join(d, "words", f"batch={batch_id}")))


def _bloom_store(path: str) -> tuple[str, dict]:
    """(directory, params) of the store's current filter, resolved once:
    a grow flipping mid-operation never pairs one filter's params with
    another's words."""
    import json
    import os

    d = store.resolve_generation(path, ".")[1]
    with open(os.path.join(d, "params.json")) as f:
        return d, json.load(f)


def _bloom_words_at(spark, d: str, by: list) -> DataFrame:
    import os

    words = spark.read.parquet(os.path.join(d, "words", "batch=*"))
    return (words.groupBy(*by, "word_idx")
            .agg(F.bit_or("word").alias("word")))


def read_bloom_words(spark, path: str) -> DataFrame:
    """The store's merged word table: union every batch, bit_or per
    (by..., word_idx) — EXACTLY the whole-corpus ``bloom_words`` (OR is
    associative/commutative/idempotent over any batch split).  Reads
    (batches x groups x m_bits/32) word rows, never the corpus."""
    d, p = _bloom_store(path)
    return _bloom_words_at(spark, d, p["by"])


def bloom_store_lookup(spark, path: str, values: list[str]) -> DataFrame:
    """Membership verdicts against the persisted merged filter — same
    output contract and bit-determinism as ``bloom_lookup`` on the
    whole-corpus table (the store's params pin m_bits/k).  Grouped
    stores answer per group via ``bloom_store_lookup_by``."""
    d, p = _bloom_store(path)
    if p["by"]:
        raise ValueError("bloom_store_lookup requires an ungrouped "
                         "store (by=[]); use bloom_store_lookup_by")
    return bloom_lookup(_bloom_words_at(spark, d, []), values,
                        m_bits=p["m_bits"], k=p["k"])


def bloom_store_lookup_by(spark, path: str,
                          values: list[str]) -> DataFrame:
    """Per-GROUP membership verdicts against a grouped persisted filter:
    (by..., value, maybe_present) for every (group, probe) pair — the
    "which sources have ever seen this token/URL" read.  Same exact
    distinct-address accounting as ``bloom_lookup``; the group list
    comes from the word table itself (a group with no words answers
    false for everything, correctly — it set no bits)."""
    d, p = _bloom_store(path)
    by = p["by"]
    if not by:
        return bloom_store_lookup(spark, path, values)
    table = _bloom_words_at(spark, d, by)
    q = spark.createDataFrame([(v,) for v in values], "value string")
    addr = (_bloom_addressed(q, "value", [], m_bits=p["m_bits"],
                             k=p["k"]).distinct())
    expected = addr.groupBy("value").agg(
        F.count(F.lit(1)).alias("_n_addr"))
    groups = table.select(*by).distinct()
    hits = (table.join(F.broadcast(addr), "word_idx")
            .where(F.col("word").bitwiseAND(F.col("mask")) != 0)
            .groupBy(*by, "value")
            .agg(F.count(F.lit(1)).alias("_n_hit")))
    grid = groups.crossJoin(F.broadcast(expected))
    return (grid.join(hits, [*by, "value"], "left")
            .select(*by, "value",
                    (F.coalesce(F.col("_n_hit"), F.lit(0))
                     == F.col("_n_addr")).alias("maybe_present")))


def compact_bloom_store(spark, path: str) -> int:
    """Fold every batch into one merged-word batch (delete-after-
    publish, same shape as ``compact_hll_store`` — racing readers see
    source+compacted rows at worst, which bit_or idempotence makes
    harmless).  Returns the number of source batch dirs folded."""
    import os
    import shutil

    fdir, p = _bloom_store(path)
    wdir = os.path.join(fdir, "words")
    sources = sorted(d for d in os.listdir(wdir)
                     if d.startswith("batch="))
    if len(sources) <= 1:
        return 0
    merged = _bloom_words_at(spark, fdir, p["by"])
    n = len([d for d in sources if d.startswith("batch=compact-")])
    out = os.path.join(wdir, f"batch=compact-{n}")
    while os.path.basename(out) in sources:
        n += 1
        out = os.path.join(wdir, f"batch=compact-{n}")
    merged.write.mode("overwrite").parquet(out)
    for d in sources:
        shutil.rmtree(os.path.join(wdir, d), ignore_errors=True)
    return len(sources)


def bloom_store_saturation(spark, path: str, *,
                           fpr_threshold: float = 0.01) -> DataFrame:
    """Saturation verdict per group: (by..., set_bits, fill, fpr_est,
    saturated) over the store's MERGED filter.  ``bloom_stats``
    surfaces ``fpr_est``; this acts on it (round-13 verdict task 8): a
    frontier filter whose fill keeps climbing silently degrades toward
    pass-through prefiltering (every probe "maybe present"), and
    nothing else in the store will ever say so.  Run it on the ingest
    cadence; a ``saturated`` row means rebuild via
    ``grow_bloom_store``."""
    d, p = _bloom_store(path)
    stats = bloom_stats(_bloom_words_at(spark, d, p["by"]),
                        p["by"] or None,
                        m_bits=p["m_bits"], k=p["k"])
    return stats.withColumn(
        "saturated", F.col("fpr_est") > F.lit(float(fpr_threshold)))


def grow_bloom_store(df: DataFrame, value_col: str, path: str, *,
                     m_bits: int | None = None,
                     k: int | None = None) -> int:
    """REBUILD a saturated store at a larger ``m_bits`` (default 4x)
    from the AUTHORITATIVE corpus ``df``, as the store's next
    generation: the grown filter is built in a fresh directory private
    to this call, then the ``store.py`` pointer flips to it.  Readers
    resolve one complete filter, old or new — never a mix, never a gap.
    A grower that loses the flip to a concurrent one deletes its output
    and raises ``OSError``; one that crashes before the flip leaves the
    old filter answering, and a rerun succeeds.  The previous filter
    stays for readers that resolved it just before the flip; older ones
    are deleted.  Returns the new m_bits.

    Why the corpus and not the store's own batches: a Bloom word table
    is a LOSSY projection (Bloom 1970) — the set bits of an m-bit
    filter cannot be re-addressed into a 4m-bit filter, because the
    member values are gone.  Growth therefore costs one pass over the
    history corpus (the store's ingest source of record).  When that
    pass is unaffordable, the standing alternative is scalable-Bloom
    sharding (Almeida et al. 2007): FREEZE the saturated filter, start
    a NEW store with larger m for new batches, and OR the per-store
    verdicts at probe time — same machinery, two paths; this helper is
    the compaction-style consolidation of that layout.

    The group layout (``by``) is preserved; ``k`` may be retuned at
    the same time (more bits per element affords a higher k)."""
    import json
    import os
    import shutil

    gen, d, _ = store.resolve_generation(path, ".")
    with open(os.path.join(d, "params.json")) as f:
        p = json.load(f)
    new_m = int(m_bits or 4 * p["m_bits"])
    new_k = int(k or p["k"])
    if new_m <= p["m_bits"]:
        raise ValueError(
            f"grow_bloom_store: new m_bits {new_m} must exceed "
            f"the current {p['m_bits']} (shrinking a filter "
            "re-raises the fpr this rebuild exists to cut)")
    ndir = store.new_generation_dir(path, gen + 1)
    build_bloom_store(df, value_col, ndir, p["by"] or None,
                      m_bits=new_m, k=new_k)
    store.flip_generation(path, gen + 1, ndir)
    store.vacuum_generations(path, ".", keep=2)
    if gen >= 1:
        # generation 0 is the filter in the store root (params.json
        # stays: it marks the store as built)
        shutil.rmtree(os.path.join(path, "words"), ignore_errors=True)
    return new_m


# ---------------------------------------------------------------------- #
# scalable (sharded) Bloom store — growth WITHOUT a corpus pass           #
# ---------------------------------------------------------------------- #
# grow_bloom_store costs one pass over the authoritative history; when
# that pass is unaffordable (the history IS the filter — crawl frontiers
# whose raw URLs were never retained), the scalable-Bloom layout
# (Almeida et al. 2007, "Scalable Bloom Filters") sidesteps it: a
# saturated filter is FROZEN and new batches open a fresh shard with
# geometrically larger m; a probe is "maybe present" if ANY shard says
# so.  No false negatives ever (frozen shards keep their bits); the
# compound fpr is bounded by the sum of per-shard fprs, which the
# geometric growth keeps convergent.  Each shard is an ordinary Bloom
# store, so all the bit_or replay/durability reasoning carries over
# shard-locally; replay of a batch that landed in a now-frozen shard is
# detected by the batch-dir listing and skipped (landing it in the NEW
# shard would still be membership-correct — extra set bits can only
# raise fpr — but the listing check keeps replays structural no-ops).

def build_sharded_bloom_store(df: DataFrame, value_col: str, path: str,
                              *, m_bits: int = 1 << 20, k: int = 4,
                              fpr_threshold: float = 0.01,
                              growth: int = 4) -> None:
    """Create a sharded store with shard 0 at ``m_bits`` and ingest
    ``df`` as batch 0.  ``fpr_threshold``/``growth`` are pinned in
    params and drive automatic shard rotation on append.  Ungrouped
    only (a grouped frontier filter should shard per group anyway —
    one store per group keeps rotation independent)."""
    import json
    import os

    _check_bloom_params(m_bits, k)
    if os.path.exists(os.path.join(path, "params.json")):
        raise FileExistsError(f"sharded Bloom store exists at {path}")
    os.makedirs(os.path.join(path, "shards"), exist_ok=True)
    with open(os.path.join(path, "params.json"), "w") as f:
        json.dump({"version": 1, "sharded": True, "k": k,
                   "m0": m_bits, "fpr_threshold": fpr_threshold,
                   "growth": growth}, f)
    build_bloom_store(df, value_col,
                      os.path.join(path, "shards", "shard=0"),
                      m_bits=m_bits, k=k)


def _sharded_dirs(path: str) -> list[str]:
    import os

    sdir = os.path.join(path, "shards")
    return sorted((d for d in os.listdir(sdir) if d.startswith("shard=")),
                  key=lambda d: int(d.split("=", 1)[1]))


def append_sharded_bloom_store(df: DataFrame, value_col: str,
                               path: str, *, batch_id) -> int:
    """Append one batch, rotating to a new shard first when the ACTIVE
    shard's estimated fpr exceeds the pinned threshold (the Almeida
    freeze-and-grow step: frozen shards never take another bit).
    Returns the shard index the batch landed in.  A batch id already
    present in ANY shard is a replay: skipped, returns that shard."""
    import json
    import os

    spark = df.sparkSession
    with open(os.path.join(path, "params.json")) as f:
        p = json.load(f)
    shards = _sharded_dirs(path)
    for d in shards:                       # replay detection, all shards
        if os.path.isdir(os.path.join(path, "shards", d, "words",
                                      f"batch={batch_id}")):
            return int(d.split("=", 1)[1])
    active_i = int(shards[-1].split("=", 1)[1])
    active = os.path.join(path, "shards", f"shard={active_i}")
    sat = bloom_store_saturation(
        spark, active, fpr_threshold=p["fpr_threshold"]).first()
    if sat["saturated"]:
        with open(os.path.join(active, "params.json")) as f:
            ap = json.load(f)
        active_i += 1
        active = os.path.join(path, "shards", f"shard={active_i}")
        build_bloom_store(df, value_col, active,
                          m_bits=ap["m_bits"] * p["growth"], k=p["k"])
        # build_bloom_store wrote the batch as id 0; rename to the
        # caller's id so replay detection keys on it
        os.rename(os.path.join(active, "words", "batch=0"),
                  os.path.join(active, "words", f"batch={batch_id}"))
        return active_i
    append_bloom_store(df, value_col, active, batch_id=batch_id)
    return active_i


def sharded_bloom_lookup(spark, path: str,
                         values: list[str]) -> DataFrame:
    """Membership verdicts against ALL shards: maybe_present = OR over
    per-shard verdicts (a frozen shard's members stay members forever —
    the no-false-negative invariant).  Cost is sum of shard word tables,
    each corpus-size-independent."""
    out = None
    for d in _sharded_dirs(path):
        import os

        v = bloom_store_lookup(spark, os.path.join(path, "shards", d),
                               values)
        out = v if out is None else out.unionByName(v)
    if out is None:
        raise ValueError(f"sharded Bloom store at {path} has no shards")
    return (out.groupBy("value")
            .agg(F.max("maybe_present").alias("maybe_present")))


def sharded_bloom_stats(spark, path: str) -> DataFrame:
    """Per-shard (shard, m_bits, set_bits, fill, fpr_est, active) —
    the rotation monitor: compound fpr ~ sum of the fpr_est column."""
    import json
    import os

    rows = []
    shards = _sharded_dirs(path)
    for d in shards:
        sp = os.path.join(path, "shards", d)
        with open(os.path.join(sp, "params.json")) as f:
            sparams = json.load(f)
        r = bloom_stats(read_bloom_words(spark, sp),
                        m_bits=sparams["m_bits"],
                        k=sparams["k"]).first()
        rows.append((int(d.split("=", 1)[1]), sparams["m_bits"],
                     r["set_bits"], r["fill"], r["fpr_est"],
                     d == shards[-1]))
    return spark.createDataFrame(
        rows, "shard int, m_bits long, set_bits long, fill double, "
              "fpr_est double, active boolean")
