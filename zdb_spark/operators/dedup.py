"""Deduplication operators for training-data pipelines at 100 TB scale.

Four families, cheapest first:

1. ``exact_dedup`` — hash-groupBy on (normalized) content.  One shuffle on
   a 128-bit digest; the canonical first pass at any scale.
2. ``minhash_lsh_pairs`` — MinHash signatures + banded LSH.  Shingling
   is one JVM expression; the per-permutation signature fill AND the
   band hashes run in one Arrow numpy kernel that reproduces Spark's
   ``xxhash64`` bit-for-bit (``_xxh64_sig_udf``); candidate generation
   is an equi-join on (band, band_hash) — i.e. a shuffle on small keys,
   never an all-pairs product; candidates are verified with exact
   shingle-set Jaccard.
3. ``simhash`` / ``simhash_pairs`` — 64-bit SimHash per doc; near-dup
   candidates via the pigeonhole band trick (hamming ≤ d pairs must share
   one of d+1 equal chunks), verified with ``bit_count(xor)``.
4. ``embedding_dedup_pairs`` — cosine near-dup over an embedding column via
   random-hyperplane bucketing + exact verify (delegates to
   operators.similarity).

Scale notes: every operator is expressed as DataFrame ops (shuffle-by-key,
no Python in the hot path).  The one collect of data rows to the driver
is ``duplicate_clusters``' small-graph union-find, bounded by its
``driver_threshold`` pair rows; larger pair graphs stay distributed
(min-label propagation).  The LSH joins are
self-equi-joins whose key cardinality grows with corpus size, so AQE
handles skew; extremely hot buckets (boilerplate docs) are bounded by the
``max_bucket_size`` option on ``minhash_lsh_pairs`` /
``ngram_jaccard_pairs``: buckets whose row count exceeds the cap are
dropped from candidate generation BEFORE the self-join (one extra
groupBy-count + anti-join on the same key — O(corpus)), turning a
worst-case quadratic bucket into zero join work.  Dropped buckets are
surfaced on the result as ``result._zdb_dropped_buckets`` (a DataFrame of
the capped keys with their sizes) so pipelines can alert on what was
skipped.  Recall note: a true pair is lost only if EVERY band/prefix
token it shares is capped.  For minhash that makes the cap safe in the
common case — near-identical docs collide in most of the 16 bands while
boilerplate floods isolated ones — but it is probabilistic, not a
guarantee: a borderline pair (J near threshold) may collide in a single
band, and if boilerplate floods exactly that bucket past the cap the
pair is lost even though its duplicate group is tiny.  Size the cap for
"recall preserved for near-identical docs; borderline pairs may be
lost".  Gate entry ``dedup_minhash_capped`` exercises the near-identical
case against the brute-force oracle with a planted pathological bucket
(``tests/test_operators.py::TestBucketCap`` pins both operators' cap
mechanics, including the ngram recall trade).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["normalize_text", "exact_dedup", "shingle_col",
           "minhash_signature", "minhash_lsh_pairs",
           "minhash_lsh_pairs_vs", "simhash",
           "simhash_pairs", "hamming_pairs",
           "ngram_jaccard_pairs", "duplicate_clusters",
           "near_dup_clusters",
           "release", "portable_hash64", "build_minhash_store",
           "append_minhash_store", "incremental_minhash_pairs",
           "char_fingerprint_pairs", "build_fingerprint_store",
           "append_fingerprint_store", "incremental_fingerprint_pairs",
           "dedup_paragraphs"]


def release(df: DataFrame) -> None:
    """Unpersist the intermediates an operator cached internally.

    The pair operators cache signature/shingle frames that the lazy
    result still references, so they can't unpersist before the caller
    consumes the result.  Long-lived sessions (the HTTP server) should
    call ``release(result)`` after materializing; otherwise retained
    blocks accumulate across repeated dedup calls.
    """
    for h in getattr(df, "_zdb_cache_handles", []):
        h.unpersist()


def portable_hash64(c: Column) -> Column:
    """64-bit token hash derivable in ANSI-ish SQL on other engines:
    the first 16 hex chars of md5, as a signed long.

    ``xxhash64`` is faster and is the default everywhere; this exists so
    hash-dependent outputs (SimHash fingerprints) can be cross-checked
    bit-for-bit against a DuckDB oracle, which lacks xxhash64.  Built as
    two 32-bit ``conv`` halves combined with shift/or — bit ops, so the
    sign bit lands naturally and nothing overflows.
    """
    return let(
        F.md5(c.cast("binary")),
        lambda m: F.shiftleft(
            F.conv(F.substring(m, 1, 8), 16, 10).cast("long"), 32
        ).bitwiseOR(F.conv(F.substring(m, 9, 8), 16, 10).cast("long")))


def normalize_text(text: Column | str) -> Column:
    """lower + whitespace-collapse + trim; the standard exact-dedup key."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


def let(expr: Column, fn) -> Column:
    """Let-binding for Catalyst expressions: evaluate ``expr`` ONCE per row
    and pass it to ``fn`` as a lambda variable.

    Higher-order-function lambda bodies re-evaluate their whole captured
    subtree per array element — embedding a regexp in a ``transform``
    lambda over n elements runs the regexp n times per row, and nesting
    multiplies.  Binding through a one-element ``transform`` makes the
    subtree a lambda variable, evaluated once.  (Catalyst has no native
    let/common-subexpression node for HOF bodies.)
    """
    return F.element_at(F.transform(F.array(expr), fn), 1)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                normalized: bool = True) -> DataFrame:
    """Exact (optionally normalization-invariant) duplicate groups.

    Returns one row per distinct content hash: ``content_hash``,
    ``keep_id`` (min id — the canonical survivor), ``dup_count``.
    Single shuffle on the digest; at 100 TB the digest groupBy is the
    only wide stage and partial aggregation halves the shuffle.
    """
    key = normalize_text(text_col) if normalized else F.col(text_col)
    return (df.groupBy(F.md5(key.cast("binary")).alias("content_hash"))
              .agg(F.min(id_col).alias("keep_id"),
                   F.count(F.lit(1)).alias("dup_count")))


def shingle_col(text: Column | str, k: int = 5) -> Column:
    """Distinct k-char shingles of normalized text (JVM-side).

    The normalized string is let-bound so the regexp runs once per row,
    not once per shingle.
    """
    def mk(n: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.length(n) - (k - 1), F.lit(1)))
        return F.array_distinct(
            F.transform(idx, lambda i: F.substring(n, i, F.lit(k))))

    return let(normalize_text(text), mk)


def hashed_shingles(text: Column | str, k: int = 5) -> Column:
    """Distinct k-char shingles, each hashed once to a 64-bit long and
    sorted.  The long array stands in for the string set everywhere
    downstream: set ops on sorted longs are several× cheaper than on
    strings, and 64-bit collisions are negligible (the ngram operator's
    hashed-set Jaccard hash-matches its string-based oracle)."""
    return F.sort_array(
        F.transform(shingle_col(text, k), lambda s: F.xxhash64(s)))


def _check_bands(num_hashes: int, bands: int) -> None:
    if bands < 1 or num_hashes % bands:
        raise ValueError("bands must be a positive divisor of num_hashes "
                         f"(got num_hashes={num_hashes}, bands={bands})")


def _xxh64_sig_udf(num_hashes: int, bands: int = 0):
    """Arrow-vectorized MinHash signature kernel: a pandas UDF mapping a
    hashed-shingle array column to the ``num_hashes``-wide signature,
    BIT-IDENTICAL to the Catalyst expression it replaces
    (``transform(sequence(0, n-1), i -> array_min(transform(sh, h ->
    xxhash64(h, i))))``).

    Spark evaluates ``xxhash64(h, i)`` as two chained XXH64 block
    rounds — ``hashInt(i, hashLong(h, 42))`` — so the long round is
    seed-INDEPENDENT and is computed once per shingle here, with only
    the 4-byte seed round repeated per permutation (the JVM expression
    re-runs both per (shingle, seed)).  Both rounds are plain uint64
    mul/rot/xor chains, vectorized over the batch's flattened shingle
    stream; per-doc minima come from one ``np.minimum.reduceat`` per
    permutation.  Replaces the dominant cost of every minhash operator:
    the nested higher-order expression boxed every element per seed —
    measured ~3.6 core-µs per hash vs ~2 ns vectorized (r18
    optimization round, guide §4.2: batch native kernels beat chained
    JVM expressions).  Bit-equality with the JVM form is pinned by
    tests/test_operators.py::TestMinhashSignatureKernel across random
    inputs, and every minhash-family gate's oracle re-proves it
    end-to-end.

    ``bands > 0`` (r19, guide §4.2/§2.3) appends the ``bands`` LSH band
    hashes to the output array — each is Spark's
    ``xxhash64(slice(sig, b*r+1, r))`` — i.e. the seed-42 XXH64
    hashLong chain over the band's ``r = num_hashes // bands``
    signature elements — computed here in the SAME vectorized pass, so
    banding costs zero extra JVM expression work (the JVM form paid 16
    array slices + 16 chained array-hash evaluations per row on top of
    the kernel).  Bit-equality with ``F.xxhash64(F.slice(...))`` incl.
    the all-null-signature edge (empty docs hash to the bare seed 42)
    is pinned by the same test class.
    """
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    from pyspark.sql.functions import pandas_udf

    def _sig_batch(sh):
        import numpy as np

        P1 = np.uint64(0x9E3779B185EBCA87)
        P2 = np.uint64(0xC2B2AE3D27D4EB4F)
        P3 = np.uint64(0x165667B19E3779F9)
        P4 = np.uint64(0x85EBCA77C2B2AE63)
        P5 = np.uint64(0x27D4EB2F165667C5)

        def rotl(x, r):
            return (x << np.uint64(r)) | (x >> np.uint64(64 - r))

        def fmix(h):
            h = h ^ (h >> np.uint64(33))
            h = h * P2
            h = h ^ (h >> np.uint64(29))
            h = h * P3
            return h ^ (h >> np.uint64(32))

        def hash_long(v, seed):
            # XXH64.hashLong(v, seed), vectorized; seed may be an array
            acc = seed + P5 + np.uint64(8)
            acc = acc ^ (rotl(v * P2, 31) * P1)
            return fmix(rotl(acc, 27) * P1 + P4)

        arrs = [np.asarray(a, dtype=np.int64) if a is not None else None
                for a in sh]
        lens = np.array([0 if a is None else len(a) for a in arrs])
        nonempty = [a for a in arrs if a is not None and len(a)]
        out: list = [None] * len(arrs)
        if nonempty:
            flat = np.concatenate(nonempty).view(np.uint64)
            # hashLong(h, seed=42): the seed-independent string-hash round
            t = hash_long(flat, np.uint64(42))
            # hashInt(i, t) per permutation, then per-doc segment minima
            ne_lens = lens[lens > 0]
            starts = np.zeros(len(ne_lens), dtype=np.int64)
            np.cumsum(ne_lens[:-1], out=starts[1:])
            base = t + P5 + np.uint64(4)
            mins = np.empty((num_hashes, len(ne_lens)), dtype=np.int64)
            # i * P1 wraps mod 2^64 by design; array arithmetic wraps
            # silently where numpy-scalar arithmetic warns
            seeds = np.arange(num_hashes, dtype=np.uint64) * P1
            for i in range(num_hashes):
                hi = base ^ seeds[i]
                hi = rotl(hi, 23) * P2 + P3
                mins[i] = np.minimum.reduceat(
                    fmix(hi).view(np.int64), starts)
            if bands:
                # xxhash64(array<long>) = seed-42 hashLong chain over
                # the elements; one chain per band over its sig slice
                r_per = num_hashes // bands
                u = mins.view(np.uint64)
                bh = np.empty((bands, mins.shape[1]), dtype=np.int64)
                for b_i in range(bands):
                    h = np.full(mins.shape[1], np.uint64(42),
                                dtype=np.uint64)
                    for j in range(r_per):
                        h = hash_long(u[b_i * r_per + j], h)
                    bh[b_i] = h.view(np.int64)
                sig_rows = np.concatenate([mins, bh]).T
            else:
                sig_rows = mins.T
            j = 0
            for pos, a in enumerate(arrs):
                if a is not None and len(a):
                    out[pos] = sig_rows[j]
                    j += 1
        # null / empty shingle arrays reproduce the JVM form exactly:
        # array_min over an empty transform is NULL per element, and
        # xxhash64 over an all-null array SKIPS every element, leaving
        # the bare seed 42 as each band hash
        nulls = [None] * num_hashes + [42] * bands
        for pos, a in enumerate(arrs):
            if a is None or not len(a):
                out[pos] = nulls
        return pd.Series(out)

    return pandas_udf(_sig_batch, ArrayType(LongType()))


def minhash_signature(df: DataFrame, text_col: str = "text",
                      num_hashes: int = 64, k: int = 5,
                      out_col: str = "minhash",
                      shingles_col: str | None = None,
                      bands: int | None = None,
                      band_col: str = "_bh") -> DataFrame:
    """num_hashes-wide MinHash signature over k-char shingles.

    Each shingle STRING is hashed exactly once (``xxhash64(s)``);
    permutation *i* re-hashes that 8-byte long with seed *i* —
    ``xxhash64(h, i)`` — and signature element *i* is the min over the
    doc's shingles.  Hashing the fixed-width long is the first trick:
    the naive per-permutation string hash made signature computation 64
    string-walks per shingle and dominated the operator's cost (measured
    ~10s of a ~12s sf0.1 run); this form is one string-walk plus 64
    long-hashes.  The 64 long-hashes themselves run in the Arrow
    NUMPY kernel (``_xxh64_sig_udf`` — bit-identical XXH64, one
    vectorized pass per permutation), which replaced the nested
    higher-order Catalyst expression as the r18 optimization round's
    measured winner (~2.4x on the signature stage; the JVM HOF boxed
    every element per seed).

    Shingling+normalization stays a single JVM expression
    (``hashed_shingles``) evaluated once per row; ``shingles_col``
    additionally exposes the hashed shingle array for reuse (the
    exact-verify stage intersects the same arrays).

    PLAN-SHAPE CONSTRAINT (Spark 4.1): the pandas UDF must NOT receive
    the ``hashed_shingles`` expression directly.  ``hashed_shingles``
    let-binds its normalization via a one-element ``transform`` whose
    inner lambda captures the outer lambda's variable, and
    ``ExtractPythonUDFs`` silently skips a scalar Python UDF whose child
    carries such a cross-lambda capture — the PythonUDF then stays in a
    plain ProjectExec and every task dies with ``[INTERNAL_ERROR]
    Cannot evaluate expression`` (reproduced on any non-first query of a
    session; pinned by TestMinhashSignatureKernel's combined-run
    coverage).  So the shingle array is materialized as a real column
    and the UDF is fed ``when(size(sh) >= 0, sh)`` — semantically
    identical to ``sh`` (size(NULL) is NULL/-1 → else-branch NULL, and a
    non-null array always has size >= 0) but referencing the column
    TWICE, which stops CollapseProject from inlining the non-cheap
    shingle expression back into the UDF's child when the column is not
    otherwise referenced (the ``shingles_col=None`` path, or a caller
    that prunes ``shingles_col`` away downstream).

    ``bands`` (r19): also emit the ``bands`` LSH band hashes as
    ``band_col`` (array<long>), computed INSIDE the same kernel pass —
    bit-identical to ``xxhash64(slice(out_col, b*r+1, r))`` per band,
    which is what ``_banded_rows`` previously spent 16 JVM array
    slices + chained array-hash evaluations per row on.  One Python
    boundary crossing now yields both columns; the slices below run on
    the SINGLE materialized UDF output column (PythonUDF extraction
    dedups the one call — the captured plan shows one ArrowEvalPython).
    """
    if bands is not None:
        _check_bands(num_hashes, bands)
    sig = _xxh64_sig_udf(num_hashes, bands or 0)
    sh = shingles_col if shingles_col is not None else "_zdb_sh_tmp"
    out = df.withColumn(sh, hashed_shingles(text_col, k))
    guarded = F.when(F.size(F.col(sh)) >= 0, F.col(sh))
    if bands is None:
        out = out.withColumn(out_col, sig(guarded))
    else:
        out = (out.withColumn("_zdb_sigbh", sig(guarded))
                  .withColumn(out_col, F.slice("_zdb_sigbh", 1, num_hashes))
                  .withColumn(band_col,
                              F.slice("_zdb_sigbh", num_hashes + 1, bands))
                  .drop("_zdb_sigbh"))
    if shingles_col is None:
        out = out.drop(sh)
    return out


def _cap_buckets(rows: DataFrame, keys: list[str],
                 max_bucket_size: int) -> tuple[DataFrame, DataFrame]:
    """Drop LSH buckets holding more than ``max_bucket_size`` rows.

    Returns (surviving rows, dropped-bucket DataFrame with
    ``bucket_size``).  The hot-bucket set is computed with one
    groupBy-count on the bucket key and removed with a LEFT ANTI join on
    the same key — both shuffle on the key the candidate join shuffles on
    anyway, and the anti join's build side is only the (tiny) hot-key
    set, so the cap costs one cheap extra pass while preventing the
    |bucket|² blowup a single boilerplate bucket would otherwise feed
    into the self-join.

    The hot frame is PERSISTED (r19, guide §5): it is consumed more
    than once — the in-plan anti-join build side, the capped gates'
    strip-proof ``_zdb_dropped_buckets.collect()``, and (incremental
    path) the probe-side hot-key filter — and each consumer otherwise
    re-ran the whole groupBy subtree as its own job.  Bounded by
    construction (only keys ABOVE the cap survive the filter, a
    handful of rows).  Callers expose it through
    ``_zdb_cache_handles`` so ``release()`` frees it."""
    hot = (rows.groupBy(*keys)
               .agg(F.count(F.lit(1)).alias("bucket_size"))
               .where(F.col("bucket_size") > max_bucket_size)
               .persist())
    return rows.join(hot.select(*keys), keys, "left_anti"), hot


def _banded_rows(base: DataFrame) -> DataFrame:
    """Explode a signature frame carrying the kernel-computed ``_bh``
    band-hash array into slim (_id, band, bh) rows.  Shared by the
    batch self-join and the incremental store so stored and
    freshly-computed band hashes are bit-identical — the kernel's band
    hashes reproduce ``xxhash64(slice(minhash, b*r+1, r))`` bit-for-bit
    (pinned by TestMinhashSignatureKernel), so rows written by the
    pre-r19 JVM banding expression keep colliding with fresh ones."""
    return base.select("_id", F.posexplode("_bh").alias("band", "bh"))


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 64,
                      bands: int = 16, k: int = 5,
                      threshold: float = 0.5,
                      max_bucket_size: int | None = None) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH + exact-Jaccard verify.

    rows out: (id_a, id_b, est_jaccard, jaccard) with id_a < id_b and
    exact shingle Jaccard >= threshold.

    ``max_bucket_size`` caps pathological (band, band_hash) buckets —
    boilerplate shingle runs that minhash into one shared band value for
    thousands of otherwise-unrelated docs.  Buckets above the cap are
    dropped before the self-join and surfaced on the result as
    ``._zdb_dropped_buckets``; a true pair survives unless ALL of its
    colliding bands are capped.  Near-identical docs collide in ~all
    ``bands`` bands, so for them a cap above the largest real
    duplicate-group size preserves recall; a BORDERLINE pair (J near
    threshold) may collide in only one band and can be lost if
    boilerplate floods that one bucket — see the module docstring for
    how to size the cap.
    """
    _check_bands(num_hashes, bands)
    # Materialize signatures+shingles ONCE: the candidate self-join would
    # otherwise duplicate the (large) minhash expression tree on both
    # sides of the join and recompute it per band row.  The hashed
    # shingle array and the band hashes are computed as byproducts of
    # the one kernel pass and reused verbatim downstream.
    base = (minhash_signature(df, text_col, num_hashes, k,
                              shingles_col="_sh", bands=bands)
            .select(F.col(id_col).alias("_id"), "minhash", "_bh", "_sh")
            .cache())

    # Slim (id, band, band_hash) rows — 16 small rows per doc, no arrays.
    banded = _banded_rows(base)

    dropped = None
    if max_bucket_size is not None:
        banded, dropped = _cap_buckets(banded, ["band", "bh"],
                                       max_bucket_size)

    a = banded.select(F.col("_id").alias("id_a"), "band", "bh")
    b = banded.select(F.col("_id").alias("id_b"), "band", "bh")
    # Deduplicate BEFORE the signature screen: near-identical docs collide
    # in all 16 bands, so skipping this shuffle multiplies the screen work
    # by the band count for exactly the pairs that pass it (measured 2x
    # slower end-to-end without it).
    cand = (a.join(b, ["band", "bh"]).where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b").dropDuplicates())

    # Two-stage verify.  Banding at these (bands, rows) settings floods the
    # candidate set with false positives from one shared boilerplate band
    # (template-heavy corpora produce 100×-over-true candidate counts), so
    # verifying every candidate against the full shingle sets shuffles
    # |cand| × 2·|shingles| strings.  Stage 1 screens on the 64-long
    # SIGNATURE estimate (cheap, already materialized) with a 3σ margin so
    # true pairs pass; stage 2 exact-verifies only the survivors.
    sigs_a = base.select(F.col("_id").alias("id_a"),
                         F.col("minhash").alias("sig_a"))
    sigs_b = base.select(F.col("_id").alias("id_b"),
                         F.col("minhash").alias("sig_b"))
    est = (F.size(F.filter(F.zip_with("sig_a", "sig_b",
                                      lambda x, y: x == y),
                           lambda m: m))
           .cast("double") / F.lit(num_hashes))
    margin = 3.0 * (threshold * (1 - threshold) / num_hashes) ** 0.5
    screened = (cand.join(sigs_a, "id_a").join(sigs_b, "id_b")
                .withColumn("est_jaccard", F.round(est, 6))
                .where(F.col("est_jaccard") >= threshold - margin)
                .select("id_a", "id_b", "est_jaccard"))

    pa = base.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    pb = base.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    out = (screened.join(pa, "id_a").join(pb, "id_b")
                   .withColumn("jaccard", F.round(inter / union, 6))
                   .where(F.col("jaccard") >= threshold)
                   .select("id_a", "id_b", "est_jaccard", "jaccard"))
    out._zdb_cache_handles = [base]
    if dropped is not None:
        out._zdb_dropped_buckets = dropped
        out._zdb_cache_handles.append(dropped)
    return out


def minhash_lsh_pairs_vs(df: DataFrame, other: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         other_id_col: str | None = None,
                         num_hashes: int = 64, bands: int = 16,
                         k: int = 5,
                         threshold: float = 0.5) -> DataFrame:
    """CROSS-FRAME near-dup pairs: (id_a from ``df``, id_b from
    ``other``, est_jaccard, jaccard) with exact shingle Jaccard >=
    threshold.  The fuzzy primitive behind benchmark decontamination
    and any corpus-vs-reference audit.

    Deliberately ASYMMETRIC, not union+self-join: a self-join over
    ``df ∪ other`` would compute every df×df near-dup pair as waste —
    at 100 TB that is the entire dedup workload spent to answer a
    question about a 10^5-row benchmark.  Here ``other`` is assumed the
    SMALL side: its banded rows, signatures, and shingle arrays are
    broadcast (bounded by |other|, never by corpus size or by match
    volume), so the corpus is touched exactly once — one narrow
    signature scan plus one broadcast-join probe per band row.  The
    screen and verify then join back to corpus signatures/shingles on
    id; those joins stay ADAPTIVE (candidate volume is proportional to
    cross-frame similarity, not bounded by ``other``) — AQE broadcasts
    the candidate side when it really is small.  No bucket cap: a
    boilerplate band bucket is bounded by |other| on the build side,
    so the blowup the self-join form must cap cannot arise.

    Uses the IDENTICAL shingling/signature/banding as
    ``minhash_lsh_pairs`` (shared helpers), so thresholds and recall
    characteristics transfer unchanged.
    """
    _check_bands(num_hashes, bands)
    oid = other_id_col or id_col
    base_a = (minhash_signature(df, text_col, num_hashes, k,
                                shingles_col="_sh", bands=bands)
              .select(F.col(id_col).alias("_id"), "minhash", "_bh", "_sh")
              .cache())
    base_b = (minhash_signature(other, text_col, num_hashes, k,
                                shingles_col="_sh", bands=bands)
              .select(F.col(oid).alias("_id"), "minhash", "_bh", "_sh")
              .cache())

    cand = (_banded_rows(base_a)
            .withColumnRenamed("_id", "id_a")
            .join(F.broadcast(_banded_rows(base_b)
                              .withColumnRenamed("_id", "id_b")),
                  ["band", "bh"])
            .select("id_a", "id_b").dropDuplicates())

    # Signature screen (same 3σ margin as the self-join form), then
    # exact verify on the shingle arrays.  The small side's arrays are
    # broadcast; the corpus-side joins are AQE-sized.
    margin = 3.0 * (threshold * (1 - threshold) / num_hashes) ** 0.5
    est = (F.size(F.filter(F.zip_with("sig_a", "sig_b",
                                      lambda x, y: x == y),
                           lambda m: m))
           .cast("double") / F.lit(num_hashes))
    screened = (cand
                .join(base_a.select(F.col("_id").alias("id_a"),
                                    F.col("minhash").alias("sig_a")),
                      "id_a")
                .join(F.broadcast(
                    base_b.select(F.col("_id").alias("id_b"),
                                  F.col("minhash").alias("sig_b"))),
                      "id_b")
                .withColumn("est_jaccard", F.round(est, 6))
                .where(F.col("est_jaccard") >= threshold - margin)
                .select("id_a", "id_b", "est_jaccard"))

    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    out = (screened
           .join(base_a.select(F.col("_id").alias("id_a"),
                               F.col("_sh").alias("sh_a")), "id_a")
           .join(F.broadcast(base_b.select(F.col("_id").alias("id_b"),
                                           F.col("_sh").alias("sh_b"))),
                 "id_b")
           .withColumn("jaccard", F.round(inter / union, 6))
           .where(F.col("jaccard") >= threshold)
           .select("id_a", "id_b", "est_jaccard", "jaccard"))
    out._zdb_cache_handles = [base_a, base_b]
    return out


def _fingerprint_rows(df: DataFrame, text_col: str, id_col: str,
                      n: int, mod: int) -> DataFrame:
    """Slim (_id, h) fingerprint rows: every char ``n``-gram hashed, the
    0-mod-``mod`` sketch kept, deduped per doc — all inside array
    expressions so only ~len/mod fingerprints per doc ever explode into
    rows.  Shared by the batch self-join and the persisted store so
    stored and fresh fingerprints are bit-identical."""
    t = F.col(text_col)
    # End the position sequence at >= 1 (sequence(1, 0) is DESCENDING
    # [1, 0] in Spark, not empty — same trap shingle_col guards), then
    # drop the short-gram a sub-n-char text produces at position 1: such
    # docs must emit NO fingerprints, exactly like the SQL oracle's
    # empty range().
    grams = F.filter(
        F.transform(
            F.sequence(F.lit(1),
                       F.greatest(F.length(t) - (n - 1), F.lit(1))),
            lambda i: F.substring(t, i, n)),
        lambda g: F.length(g) == n)
    hashes = F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long"))
    sampled = F.array_distinct(
        F.filter(hashes, lambda h: h % F.lit(mod) == 0))
    return df.select(F.col(id_col).alias("_id"),
                     F.explode(sampled).alias("h"))


def char_fingerprint_pairs(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", *, n: int = 24,
                           mod: int = 8, min_shared: int = 2,
                           max_bucket_size: int | None = None) -> DataFrame:
    """Copy-paste span detection: documents sharing verbatim character
    runs — the substring-level dedup signal n-gram/MinHash token methods
    miss (a 200-char license block pasted into otherwise-unrelated docs),
    the problem exact-substring dedup à la Lee et al.'s suffix-array
    pipeline targets, re-expressed as a distributed fingerprint join.

    Every character ``n``-gram is hashed and the hashes with
    ``h % mod == 0`` are kept as the doc's FINGERPRINTS — the classic
    0-mod-p sketch: deterministic, position-independent, samples ~1/mod
    of positions, and any shared run of length >= n + mod·E[gap] shares
    a fingerprint with high probability.  Docs sharing >= ``min_shared``
    fingerprints come back as (id_a, id_b, n_shared).

    Execution: gram hashing + sampling happens INSIDE array expressions
    (transform → filter → array_distinct), so only the sampled ~len/mod
    fingerprints are ever exploded into rows — the full gram stream
    never hits the shuffle.  All hashing is md5-based and byte-exact
    reproducible in any engine (the gate oracle recomputes it in SQL);
    swap a codegen'd polynomial rolling hash here if oracle portability
    ever stops being worth the md5 cost.  ``max_bucket_size`` drops
    fingerprints shared by more than that many docs (ubiquitous
    boilerplate) before the self-join, surfaced as
    ``._zdb_dropped_buckets`` — same refusal-over-blowup contract as the
    MinHash cap.
    """
    if n < 1 or mod < 1 or min_shared < 1:
        raise ValueError("n, mod and min_shared must be positive")
    fp = _fingerprint_rows(df, text_col, id_col, n, mod)

    dropped = None
    if max_bucket_size is not None:
        fp, dropped = _cap_buckets(fp, ["h"], max_bucket_size)

    a = fp.select(F.col("_id").alias("id_a"), "h")
    b = fp.select(F.col("_id").alias("id_b"), "h")
    out = (a.join(b, "h").where(F.col("id_a") < F.col("id_b"))
           .groupBy("id_a", "id_b")
           .agg(F.count(F.lit(1)).alias("n_shared"))
           .where(F.col("n_shared") >= min_shared))
    if dropped is not None:
        out._zdb_dropped_buckets = dropped
        out._zdb_cache_handles = [dropped]
    return out


def simhash(df: DataFrame, text_col: str = "text",
            out_col: str = "simhash", portable: bool = False) -> DataFrame:
    """64-bit SimHash over whitespace tokens.

    Bit *i* of the fingerprint is the sign of Σ_tokens ±1 where the sign
    is bit *i* of ``xxhash64(token)``.  Built as 64 JVM aggregate
    expressions over the token array — wide plan, zero Python.

    ``portable=True`` swaps the token hash for ``portable_hash64`` (md5
    16-hex-chars) so the fingerprints are reproducible on engines without
    xxhash64 — the correctness-gate configuration; default stays xxhash64
    for speed.
    """
    toks = F.split(normalize_text(text_col), " ")
    hfn = portable_hash64 if portable else F.xxhash64
    hashes = F.transform(toks, lambda t: hfn(t))

    # Single pass over the token hashes: fold into a 64-wide vote vector
    # (votes[i] += hash bit i ? +1 : -1), then OR the positive-vote bit
    # masks together.  One aggregate instead of 64 — the naive per-bit
    # form walks the token array 64 times and breaks codegen with a
    # 64-aggregate expression tree.  Bit masks are a literal array (bit 63
    # is the long's sign bit, not a Python bignum); OR (not +) assembles
    # the fingerprint so it can't overflow under ANSI arithmetic.
    mask_lits = F.array(*[
        F.lit(1 << i if i < 63 else -(1 << 63)).cast("long")
        for i in range(64)
    ])
    zeros = F.array_repeat(F.lit(0), 64)
    votes = F.aggregate(
        hashes, zeros,
        lambda acc, h: F.zip_with(
            acc, mask_lits,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, F.lit(1))
                              .otherwise(F.lit(-1))))
    masks = F.zip_with(
        votes, mask_lits,
        lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")))
    fp = F.aggregate(masks, F.lit(0).cast("long"),
                     lambda acc, m: acc.bitwiseOR(m))
    return df.withColumn(out_col, fp)


def hamming_pairs(hashed: DataFrame, hash_col: str, id_col: str, *,
                  max_hamming: int = 3,
                  max_bucket_size: int | None = None) -> DataFrame:
    """All pairs with ``hamming(hash) <= max_hamming`` over a 64-bit
    fingerprint column — the generic engine under ``simhash_pairs``
    (text) and ``imagehash.image_near_dup_pairs`` (perceptual hashes).

    Pigeonhole: split 64 bits into (max_hamming+1) chunks; any pair within
    distance d shares at least one identical chunk → equi-join per chunk,
    exact ``bit_count(a xor b)`` verify.  Recall is EXACTLY 1.0 (the
    pigeonhole bound is combinatorial, not probabilistic), so the output
    is the complete hamming-ball pair set.  Never all-pairs: the join key
    is the chunk value, so cost is Σ per-bucket n², the banded-LSH shape.

    ``max_bucket_size`` (r16, the 100 TB densification knob measured in
    SCALE.md §Round-16): drop any (chunk, value) bucket holding more
    rows — the ``_cap_buckets`` machinery the capped minhash variant
    uses.  A dropped bucket only loses pairs whose EVERY shared chunk
    is hot (each pair has max_hamming+1 chances), the same
    bounded-recall trade near_dup_clusters makes; with the cap unset
    recall stays exactly 1.0.
    """
    if not 0 <= max_hamming <= 31:
        raise ValueError(f"max_hamming {max_hamming} out of range 0..31")
    n_chunks = max_hamming + 1
    width = 64 // n_chunks
    sh = hashed.select(F.col(id_col).alias("_id"),
                       F.col(hash_col).alias("_h"))

    def chunk_val(c: int) -> F.Column:
        if width == 64:        # max_hamming=0: the chunk IS the hash
            # (1 << 64) - 1 would overflow the Java long literal
            return F.col("_h")
        return (F.shiftrightunsigned("_h", c * width)
                .bitwiseAND(F.lit((1 << width) - 1)))

    chunks = sh.select(
        "_id", "_h",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk"), chunk_val(c).alias("cv"))
            for c in range(n_chunks)
        ])).alias("ck"))
    hot = None
    if max_bucket_size is not None:
        chunks, hot = _cap_buckets(chunks, ["ck"], max_bucket_size)
    a = chunks.select(F.col("_id").alias("id_a"),
                      F.col("_h").alias("h_a"), "ck")
    b = chunks.select(F.col("_id").alias("id_b"),
                      F.col("_h").alias("h_b"), "ck")
    out = (a.join(b, ["ck"]).where(F.col("id_a") < F.col("id_b"))
           .dropDuplicates(["id_a", "id_b"])
           .withColumn("hamming", F.bit_count(
               F.col("h_a").bitwiseXOR(F.col("h_b"))))
           .where(F.col("hamming") <= max_hamming)
           .select("id_a", "id_b", "hamming"))
    if hot is not None:
        out._zdb_cache_handles = [hot]
    return out


def simhash_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", max_hamming: int = 3,
                  portable: bool = False) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming (see
    ``hamming_pairs`` for the pigeonhole banding; with
    ``portable=True`` the output is bit-reproducible by a SQL
    oracle)."""
    # cache: the 64-bit-vote expression tree is expensive; the self-join
    # inside hamming_pairs would otherwise evaluate it twice per side.
    sh = (simhash(df, text_col, portable=portable)
          .select(F.col(id_col).alias("_id"), "simhash")
          .cache())
    out = hamming_pairs(sh, "simhash", "_id", max_hamming=max_hamming)
    out._zdb_cache_handles = [sh, *getattr(out, "_zdb_cache_handles", [])]
    return out


def _release_round_debris(spark) -> None:
    """Ask the JVM to GC so ContextCleaner reclaims the PREVIOUS round's
    shuffle files.

    Spark deletes a round's shuffle files only after the JVM
    garbage-collects the RDDs referencing them; with a large driver heap
    GC may not fire for the whole loop, so per-round shuffles ACCUMULATE
    on disk (measured: the 100x pair-graph probe filled an 80 GB disk in
    the label-propagation rounds while the live working set was ~1 GB).
    One System.gc() per round is bounded driver cost and keeps disk at
    ~one round's footprint — the standard countermeasure for iterative
    Spark jobs (spark.cleaner.periodicGC.interval defaults to 30min,
    far slower than a round).
    """
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def _unpersist_checkpoint(df: DataFrame) -> None:
    """Release a superseded localCheckpoint's persisted blocks.

    A checkpointed DataFrame's analyzed plan is a LogicalRDD wrapping the
    persisted RDD; unpersisting THAT rdd (non-blocking) frees its
    memory/disk blocks immediately instead of waiting for the JVM
    ContextCleaner.  Best-effort: a plan that is not a LogicalRDD (e.g.
    a projection over one) is left to the cleaner.
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def duplicate_clusters(pairs: DataFrame, id_a: str = "id_a",
                       id_b: str = "id_b", max_iter: int = 20,
                       driver_threshold: int = 200_000) -> DataFrame:
    """Connected components over near-duplicate PAIRS → one cluster label
    per document: the step that turns any pair operator's output into an
    actionable keep/drop decision (keep ``doc_id == cluster_id``, the
    minimum member).

    The pair frame is evaluated ONCE: its ``(a, b)`` projection is the
    operator's single cache, and both paths read only that cache, so
    the candidate join and verify behind ``pairs`` never run twice.
    Two physical paths behind one contract (cluster_id = min member id):

    - **Small graphs** (≤ ``driver_threshold`` PAIR ROWS, sized by a
      ``limit(driver_threshold + 1)`` collect of the projection):
      union-find on the driver.  A 500-pair graph should not pay
      multi-round join+checkpoint fixed costs (measured ~5 s of
      overhead for ~0.1 s of work); the collect is bounded by the
      threshold (~MBs), the same bounded-driver-step pattern as IVF's
      sample-trained centroids.  The labels come back as a
      pandas-built frame, so with Arrow on, reading them runs no
      Python worker.  Pass ``driver_threshold=0`` to force the
      distributed path (the scale probe does, so its curve measures
      the path a 100 TB pair graph takes).
    - **Large graphs**: iterative min-label propagation over the
      directed edges (the projection plus its swap, duplicates kept:
      a min ignores them) — each round every node takes the min of
      its own label and its neighbors'; converges in ≤ graph-diameter
      rounds (near-dup clusters are shallow — template groups are
      nearly cliques, diameter ~2).  The driver loop carries only a
      convergence COUNT per round; labels stay distributed, and each
      round is one small-key join + groupBy on the PAIR set (≪
      corpus).  This is an inherently iterative algorithm — the
      pattern for everything Catalyst can't express in one plan (cf.
      SURVEY §2.7 delegated surface).

    ``release(result)`` frees the projection and the caches ``pairs``
    carried; on non-convergence they are freed before the raise.
    """
    ab = (pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
          .cache())
    handles = [ab, *getattr(pairs, "_zdb_cache_handles", [])]
    # directed edges: the projection plus its swap
    edges = ab.unionByName(ab.select(F.col("b").alias("a"),
                                     F.col("a").alias("b")))

    if driver_threshold > 0:
        # limit+1 collect sizes the graph without a full count; if it
        # comes back under the threshold we already hold every pair and
        # union-find it on the driver (bounded: threshold rows)
        prows = ab.limit(driver_threshold + 1).collect()
        if len(prows) <= driver_threshold:
            import pandas as pd

            parent: dict = {}

            def find(x):
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:       # path compression
                    parent[x], x = r, parent[x]
                return r

            for a, b in prows:
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    # min-id root keeps the public contract exact
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
            nodes = list(parent)
            # ids keep the edges' union-widened type and nullability
            schema = edges.select(F.col("a").alias("doc_id"),
                                  F.col("a").alias("cluster_id")).schema
            out = pairs.sparkSession.createDataFrame(
                pd.DataFrame({"doc_id": nodes,
                              "cluster_id": [find(n) for n in nodes]}),
                schema)
            out._zdb_cache_handles = handles
            out._zdb_rounds = 0  # driver union-find path
            return out
    # localCheckpoint (not cache) each round: caching truncates
    # re-EXECUTION but the logical plan still deepens per iteration and
    # Catalyst re-analyzes the whole tree every round — measured minutes
    # of pure planning by round ~10.  Checkpointing materializes AND
    # truncates lineage, keeping every round's plan constant-size.
    labels = (edges.select(F.col("a").alias("node")).distinct()
              .withColumn("lbl", F.col("node"))
              .localCheckpoint(eager=True))
    # Convergence = zero labels changed this round, counted exactly on the
    # checkpointed (old, new) pair.  NOT a sum over the label column: with
    # string doc ids (UUIDs) sum()'s implicit numeric cast yields NULL,
    # None == None declares convergence after round one, and components
    # with diameter > 1 silently come back split — the changed-count is
    # type-agnostic and costs the same single aggregate per round.
    converged = False
    rounds = 0
    ckpt = labels  # the live checkpointed frame (labels may be a
    #                projection over it in later rounds)
    for _ in range(max_iter):
        rounds += 1
        neigh = (edges.join(labels, edges["b"] == labels["node"])
                 .groupBy("a").agg(F.min("lbl").alias("nmin")))
        upd = (labels.join(neigh, labels["node"] == neigh["a"], "left")
               .select("node", F.col("lbl").alias("_prev"),
                       F.least("lbl", F.coalesce("nmin", "lbl"))
                       .alias("lbl"))
               .localCheckpoint(eager=True))
        changed = (upd.agg(F.sum((F.col("lbl") != F.col("_prev"))
                                 .cast("long")).alias("c"))
                   .collect()[0]["c"]) or 0
        # The new checkpoint fully replaces the old one — free the
        # superseded blocks NOW.  Waiting for the JVM ContextCleaner
        # leaves every round's checkpoint pinned; on a big pair graph
        # that is rounds × |nodes| of storage and has filled a disk
        # (measured: 100x probe died spilling with all rounds resident).
        _unpersist_checkpoint(ckpt)
        _release_round_debris(pairs.sparkSession)
        ckpt = upd
        labels = upd.drop("_prev")
        if changed == 0:
            converged = True
            break
    if not converged:
        # Falling through silently would return SPLIT components — wrong
        # cluster ids with no signal.  Loud beats wrong.  The caller
        # gets no frame to release(), so free the caches here.
        _unpersist_checkpoint(ckpt)
        for h in handles:
            h.unpersist()
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter); raise max_iter")
    out = labels.select(F.col("node").alias("doc_id"),
                        F.col("lbl").alias("cluster_id"))
    out._zdb_cache_handles = handles
    # rounds-to-convergence == observed component diameter bound; the
    # scale probe records this so SCALE.md can show the iteration count
    # stays flat (~diameter 2-3 for template groups) as the corpus grows.
    out._zdb_rounds = rounds
    return out


def near_dup_clusters(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", *, num_hashes: int = 64,
                      bands: int = 16, k: int = 5,
                      threshold: float = 0.5,
                      max_bucket_size: int | None = 64,
                      max_iter: int = 20,
                      driver_threshold: int = 200_000) -> DataFrame:
    """Text → near-dup cluster labels in one call: banded MinHash-LSH
    pairs with the hot-bucket cap ON BY DEFAULT, resolved to connected
    components (``minhash_lsh_pairs`` → ``duplicate_clusters``).

    The cap default is the honest knob at 100 TB (SCALE.md §sf1): the
    10× adversarial probe grew the PAIR set ~45× and cluster resolution
    was the one super-linear stage (8.5×) — because uncapped band
    buckets quadratically inflate the edge set that label propagation
    then chews through.  Capping candidate generation upstream keeps
    the edge set near-linear in corpus size.  ``max_bucket_size=64``
    keeps recall exact for any real duplicate group up to 64 docs
    (near-identical docs collide in ~all bands, so a group is lost only
    if ALL its band buckets exceed the cap); raise it above your
    largest expected template group, or pass ``None`` to disable and
    accept the |bucket|² blowup.  Dropped-bucket stats are surfaced on
    the result as ``._zdb_dropped_buckets`` for recall audits.
    """
    pairs = minhash_lsh_pairs(df, text_col, id_col,
                              num_hashes=num_hashes, bands=bands, k=k,
                              threshold=threshold,
                              max_bucket_size=max_bucket_size)
    out = duplicate_clusters(pairs, max_iter=max_iter,
                             driver_threshold=driver_threshold)
    if hasattr(pairs, "_zdb_dropped_buckets"):
        out._zdb_dropped_buckets = pairs._zdb_dropped_buckets
    return out


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 5,
                        threshold: float = 0.8,
                        max_bucket_size: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via a prefix-filtered inverted
    index (PPJoin-style set-similarity join).

    Prefix filter: order each doc's shingles by a global total order; if
    J(a,b) >= t, a and b MUST share a shingle among each one's first
    ``floor((1-t)·n)+1`` shingles.  Only that prefix is exploded into the
    inverted index.  The canonical order is ASCENDING GLOBAL FREQUENCY
    (ties by hash) — the PPJoin choice — so prefixes hold each doc's
    RAREST shingles and hot boilerplate shingles (present in most docs)
    never reach the index; a random/hash order instead sprays hot
    shingles across prefixes and the candidate count explodes
    quadratically on template-heavy corpora.  A length-ratio filter
    (J <= min/max sizes) prunes inside the join; survivors are verified
    EXACTLY with array_intersect on the raw shingle sets, so with
    ``max_bucket_size=None`` (the default) the output matches the
    brute-force oracle bit-for-bit.  A set cap can drop postings and
    with them true pairs (below).  Costs one extra linear groupBy+join
    pass to count shingle frequencies — shuffle-heavy but O(corpus), vs
    the O(pairs²) it prevents.

    ``max_bucket_size`` caps inverted-index postings lists: a prefix
    token indexed by more than the cap docs is dropped from the index
    (surfaced as ``._zdb_dropped_buckets``).  The frequency-ascending
    prefix order already keeps globally-hot boilerplate tokens out of
    prefixes, so the cap is a backstop for adversarial mid-frequency
    tokens — and here a flooded postings list is nearly always a
    LARGE TRUE-DUP CLIQUE (identical docs share identical prefixes), so
    engaging the cap deliberately trades that clique's pairs for
    bounded join work (pinned in ``TestBucketCap``).  Run
    ``exact_dedup`` first so identical docs never reach this operator.
    """
    sh = (df.select(F.col(id_col).alias("_id"),
                    shingle_col(text_col, k).alias("_sh"))
            .withColumn("n_sh", F.size("_sh"))
            # hashed shingle set for the verify stage: intersecting sorted
            # long arrays is several× cheaper than string arrays, and the
            # 64-bit hash keeps the Jaccard exact in practice
            .withColumn("_shh", F.sort_array(
                F.transform("_sh", lambda s: F.xxhash64(s))))
            .drop("_sh")
            .cache())
    allinv = sh.select("_id", F.explode("_shh").alias("s"))
    freq = allinv.groupBy("s").agg(F.count(F.lit(1)).alias("f"))
    # per-doc prefix of the (freq, hash)-ordered shingle list
    ranked = (allinv.join(freq, "s")
              .groupBy("_id")
              .agg(F.array_sort(F.collect_list(
                  F.struct(F.col("f"), F.col("s").alias("h"))))
                  .alias("_ord")))
    prefixed = (sh.join(ranked, "_id")
                .withColumn("_pref", let(
                    F.col("_ord"),
                    lambda o: F.transform(
                        F.slice(o, 1,
                                F.floor(F.lit(1.0 - threshold)
                                        * F.size(o)).cast("int") + 1),
                        lambda e: e["h"]))))
    # posexplode: keep each prefix token's position for the POSITIONAL
    # filter below (PPJoin): the globally-first common token of a pair
    # has the smallest positions (pa, pb) in both sorted arrays, and all
    # other common tokens sit after both — so overlap <= 1 + min(na-pa-1,
    # nb-pb-1) = min(na-pa, nb-pb), and the max of this bound over shared
    # prefix tokens is exactly the bound at that first common token.
    inv = prefixed.select("_id", "n_sh",
                          F.posexplode("_pref").alias("p", "g"))
    dropped = None
    if max_bucket_size is not None:
        inv, dropped = _cap_buckets(inv, ["g"], max_bucket_size)
    a = inv.select(F.col("_id").alias("id_a"), F.col("n_sh").alias("na"),
                   F.col("p").alias("pa"), "g")
    b = inv.select(F.col("_id").alias("id_b"), F.col("n_sh").alias("nb"),
                   F.col("p").alias("pb"), "g")
    # Jaccard >= t  ⟺  overlap >= t/(1+t) · (na+nb); prune any pair whose
    # best positional overlap bound can't reach that.
    alpha = F.ceil(F.lit(threshold / (1.0 + threshold))
                   * (F.col("na") + F.col("nb")))
    ubound = F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb"))
    cand = (a.join(b, ["g"]).where(
                (F.col("id_a") < F.col("id_b"))
                & (F.col("na") >= F.lit(threshold) * F.col("nb"))
                & (F.col("nb") >= F.lit(threshold) * F.col("na")))
             .groupBy("id_a", "id_b")
             .agg(F.max(ubound).alias("_ub"), F.max(alpha).alias("_alpha"))
             .where(F.col("_ub") >= F.col("_alpha"))
             .select("id_a", "id_b"))
    # exact verify on the (broadcastable) hashed sets; union derived from
    # sizes (|a∪b| = na+nb-|a∩b|) so only ONE array op runs per pair
    pa = sh.select(F.col("_id").alias("id_a"), F.col("_shh").alias("sh_a"),
                   F.col("n_sh").alias("na"))
    pb = sh.select(F.col("_id").alias("id_b"), F.col("_shh").alias("sh_b"),
                   F.col("n_sh").alias("nb"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    jac = inter / (F.col("na") + F.col("nb") - inter)
    out = (cand.join(pa, "id_a").join(pb, "id_b")
               .withColumn("jaccard", F.round(jac, 6))
               .where(F.col("jaccard") >= threshold)
               .select("id_a", "id_b", "jaccard"))
    out._zdb_cache_handles = [sh]
    if dropped is not None:
        out._zdb_dropped_buckets = dropped
        out._zdb_cache_handles.append(dropped)
    return out


# --------------------------------------------------------------------- #
# incremental dedup: persisted MinHash signature store                    #
# --------------------------------------------------------------------- #
_STORE_VERSION = "mh1"  # bump when the hash recipe changes


def _publish_staged_store_batch(path: str, staging: str) -> None:
    """Move a fully-written staged batch's part files into the live
    sigs/ + banded/ dirs (unique part names, so plain renames).

    Tolerates a concurrent healer publishing the same batch: a source
    part file that vanished mid-walk was already moved by the winner
    (part names are unique, so the destination content is identical
    either way) — skip it instead of crashing spuriously."""
    import os
    import shutil

    for sub in ("sigs", "banded"):
        sdir = os.path.join(staging, sub)
        ddir = os.path.join(path, sub)
        os.makedirs(ddir, exist_ok=True)
        try:
            names = os.listdir(sdir)
        except FileNotFoundError:
            continue  # concurrent healer already published + removed
        for fname in names:
            if fname.startswith(("_", ".")):
                continue
            try:
                os.replace(os.path.join(sdir, fname),
                           os.path.join(ddir, fname))
            except FileNotFoundError:
                pass  # concurrent healer moved this part first
    shutil.rmtree(staging, ignore_errors=True)


# An UNFINISHED staged batch (no _SUCCESS markers) younger than this is
# presumed to belong to a LIVE appender's in-flight Spark write and is
# left alone by the self-heal sweep; one this stale can only be a
# crashed write's leftovers and is discarded.  Measured from the NEWEST
# mtime in the staging tree (a long write keeps touching files), so a
# slow large-corpus append is safe as long as it makes progress within
# the window.  Tests shrink this.
_HEAL_STALE_S = 3600.0


def _tree_max_mtime(root: str) -> float:
    """Newest mtime across a staging tree (dirs + files); raises OSError
    if the root vanished under us."""
    import os

    newest = os.path.getmtime(root)
    for dirpath, _dirnames, filenames in os.walk(root):
        for name in filenames:
            try:
                newest = max(newest,
                             os.path.getmtime(os.path.join(dirpath, name)))
            except OSError:
                pass  # file moved/removed mid-walk
    return newest


def _store_params(path: str) -> dict:
    """Open the store's params, self-healing torn appends.

    The MinHash store assumes a SINGLE WRITER at a time (appends are
    staged then published via renames; two concurrent appenders could
    interleave partial publishes).  Readers may run concurrently with
    one appender.  Two torn-append cases, handled differently:

    - BOTH _SUCCESS markers present: the batch finished writing and the
      append crashed mid-publish.  Published IMMEDIATELY — a crashed
      mid-publish may have left sigs rows already live without their
      banded rows, whose near-dup pairs would be silently missed until
      the publish completes, so deferring heals here is data loss.
      Publishing races the original appender (or another healer)
      safely: part names are unique and ``_publish_staged_store_batch``
      skips parts the winner already moved.
    - markers missing: either a crashed mid-write (the caller never saw
      success and retries) or a LIVE append's in-flight Spark write —
      indistinguishable by layout, so only batches whose staging tree
      has been idle past ``_HEAL_STALE_S`` are discarded.
    """
    import json
    import os
    import shutil
    import time

    with open(os.path.join(path, "params.json")) as f:
        p = json.load(f)
    if p.get("version") != _STORE_VERSION:
        raise ValueError(
            f"signature store at {path} was built by recipe "
            f"{p.get('version')!r}; this code computes {_STORE_VERSION!r} — "
            "rebuild the store (stored and fresh hashes would not collide)")
    st_root = os.path.join(path, "_staging")
    if os.path.isdir(st_root):
        now = time.time()
        for b in os.listdir(st_root):
            bdir = os.path.join(st_root, b)
            if all(os.path.exists(os.path.join(bdir, s, "_SUCCESS"))
                   for s in ("sigs", "banded")):
                _publish_staged_store_batch(path, bdir)
                continue
            try:
                age = now - _tree_max_mtime(bdir)
            except OSError:
                continue  # vanished (racing healer / finishing appender)
            if age < _HEAL_STALE_S:
                continue  # possibly a live append's staging — hands off
            shutil.rmtree(bdir, ignore_errors=True)
        try:
            os.rmdir(st_root)
        except OSError:
            pass
    return p


def _write_store_rows(df: DataFrame, path: str, num_hashes: int,
                      bands: int, k: int, text_col: str, id_col: str,
                      mode: str) -> None:
    import os
    import uuid

    base = (minhash_signature(df, text_col, num_hashes, k, bands=bands)
            .select(F.col(id_col).alias("_id"), "minhash", "_bh"))
    # Two sinks consume base (sigs/ and banded/): cache it so the corpus
    # is shingled+signed ONCE, not once per write — the same recomputation
    # minhash_lsh_pairs documents caching its base to avoid.
    base.persist()
    try:
        if mode == "errorifexists":
            # initial build: params.json (written after us) is the
            # store's completeness marker, so direct writes are safe
            base.select(F.col("_id").alias(id_col), "minhash") \
                .write.mode(mode).parquet(f"{path}/sigs")
            (_banded_rows(base)
             .select(F.col("_id").alias(id_col), "band", "bh")
             .write.mode(mode).parquet(f"{path}/banded"))
            return
        # append: two live dirs cannot be appended atomically — a crash
        # between the sigs/ and banded/ appends would leave docs with
        # signatures but no band rows, whose pairs are then silently
        # missed forever.  Stage the batch, then publish via renames;
        # _store_params self-heals a crash mid-publish.
        staging = os.path.join(path, "_staging", uuid.uuid4().hex)
        base.select(F.col("_id").alias(id_col), "minhash") \
            .write.mode("overwrite").parquet(os.path.join(staging, "sigs"))
        (_banded_rows(base)
         .select(F.col("_id").alias(id_col), "band", "bh")
         .write.mode("overwrite").parquet(os.path.join(staging, "banded")))
        _publish_staged_store_batch(path, staging)
    finally:
        base.unpersist()


def build_minhash_store(df: DataFrame, path: str, text_col: str = "text",
                        id_col: str = "doc_id", num_hashes: int = 64,
                        bands: int = 16, k: int = 5) -> None:
    """Persist the corpus's MinHash index: ``sigs/`` (id, 64-long
    signature) and ``banded/`` (id, band, band-hash) parquet plus a
    params file pinning the hash recipe.

    This is what makes dedup INCREMENTAL at 100 TB: the expensive part
    of LSH dedup is shingling + signing the corpus, and it never has to
    be repeated — new batches sign only themselves and equi-join the
    stored band rows (``incremental_minhash_pairs``).  Store size is
    ~(num_hashes + 2·bands)·8 bytes per document (~0.5 KB/doc at the
    defaults), independent of document length.
    """
    import json
    import os

    _check_bands(num_hashes, bands)
    _write_store_rows(df, path, num_hashes, bands, k, text_col, id_col,
                      mode="errorifexists")
    with open(os.path.join(path, "params.json"), "w") as f:
        json.dump({"version": _STORE_VERSION, "num_hashes": num_hashes,
                   "bands": bands, "k": k}, f)


def append_minhash_store(df: DataFrame, path: str, text_col: str = "text",
                         id_col: str = "doc_id") -> None:
    """Add a batch's signatures to an existing store (O(batch), the
    corpus is untouched).  Caller feeds each ingested batch through here
    after pairing it with ``incremental_minhash_pairs``."""
    p = _store_params(path)
    _write_store_rows(df, path, p["num_hashes"], p["bands"], p["k"],
                      text_col, id_col, mode="append")


def incremental_minhash_pairs(new_df: DataFrame, corpus_df: DataFrame,
                              path: str, text_col: str = "text",
                              id_col: str = "doc_id",
                              threshold: float = 0.5,
                              max_bucket_size: int | None = None,
                              assume_disjoint: bool = False
                              ) -> DataFrame:
    """Near-duplicate pairs INVOLVING AT LEAST ONE NEW DOCUMENT, without
    re-processing the corpus: new-vs-corpus and new-vs-new, same output
    schema and semantics as ``minhash_lsh_pairs`` (id_a < id_b, exact
    Jaccard >= threshold).

    Cost model — the whole point: shingling/signing touches only the new
    batch; the corpus contributes (a) its stored band rows to one
    equi-join keyed on (band, bh) and (b) the TEXT of candidate-matched
    corpus docs only (semi-join pushdown on ``corpus_df``), re-shingled
    for the exact verify.  Candidates are rare by construction, so at
    100 TB the corpus-side work is point lookups, not a scan.  Appending
    the batch afterwards (``append_minhash_store``) keeps the store
    complete for the next batch.

    ``max_bucket_size`` caps hot buckets over the COMBINED (stored +
    new) band rows — a boilerplate bucket is hot corpus-wide, not
    per-batch.
    """
    spark = new_df.sparkSession
    p = _store_params(path)
    num_hashes, bands, k = p["num_hashes"], p["bands"], p["k"]

    new_base = (minhash_signature(new_df, text_col, num_hashes, k,
                                  shingles_col="_sh", bands=bands)
                .select(F.col(id_col).alias("_id"), "minhash", "_bh",
                        "_sh")
                .cache())
    new_banded = _banded_rows(new_base)
    old_banded = (spark.read.parquet(f"{path}/banded")
                  .select(F.col(id_col).alias("_id"), "band", "bh"))
    if not assume_disjoint:
        # retire the store's STALE rows for re-submitted ids (the same
        # contract incremental_fingerprint_pairs honors): a re-submission
        # with CHANGED text must be judged on its new content only —
        # otherwise its old band rows keep generating candidates and the
        # signature dedup keeps an arbitrary one of the two versions.
        new_ids = new_base.select("_id").dropDuplicates()
        old_banded = old_banded.join(new_ids, "_id", "left_anti")
    all_banded = new_banded.unionByName(old_banded)

    dropped = None
    if max_bucket_size is not None:
        all_banded, dropped = _cap_buckets(all_banded, ["band", "bh"],
                                           max_bucket_size)
        # the cap filters the probe side through the same hot-key set
        hot = dropped.select("band", "bh")
        new_banded = new_banded.join(hot, ["band", "bh"], "left_anti")

    cand = (new_banded.select(F.col("_id").alias("id_n"), "band", "bh")
            .join(all_banded.select(F.col("_id").alias("id_o"),
                                    "band", "bh"),
                  ["band", "bh"])
            .where(F.col("id_n") != F.col("id_o"))
            .select(F.least("id_n", "id_o").alias("id_a"),
                    F.greatest("id_n", "id_o").alias("id_b"))
            .dropDuplicates())

    new_sigs = new_base.select(F.col("_id"), "minhash")
    old_sigs = (spark.read.parquet(f"{path}/sigs")
                .select(F.col(id_col).alias("_id"), "minhash"))
    # When the caller GUARANTEES batch ids are new (assume_disjoint —
    # the normal ingest contract), the retire/dedup shuffles here and on
    # the shingle frame are skipped.  Otherwise the stored signature of
    # a re-submitted id is retired (above) and in-batch duplicates
    # collapse to one row.
    if not assume_disjoint:
        old_sigs = old_sigs.join(new_ids, "_id", "left_anti")
    sigs = new_sigs.unionByName(old_sigs)
    if not assume_disjoint:
        sigs = sigs.dropDuplicates(["_id"])
    est = (F.size(F.filter(F.zip_with("sig_a", "sig_b",
                                      lambda x, y: x == y),
                           lambda m: m))
           .cast("double") / F.lit(num_hashes))
    margin = 3.0 * (threshold * (1 - threshold) / num_hashes) ** 0.5
    screened = (cand
                .join(sigs.select(F.col("_id").alias("id_a"),
                                  F.col("minhash").alias("sig_a")), "id_a")
                .join(sigs.select(F.col("_id").alias("id_b"),
                                  F.col("minhash").alias("sig_b")), "id_b")
                .withColumn("est_jaccard", F.round(est, 6))
                .where(F.col("est_jaccard") >= threshold - margin)
                .select("id_a", "id_b", "est_jaccard")
                # cached: screened feeds BOTH the candidate-id semi-join
                # and the final verify joins — without this the whole
                # band-join + screen pipeline runs twice (measured: the
                # uncached diamond made the incremental path slower than
                # the full re-run it replaces)
                .cache())

    # Exact verify: new docs' shingles are in hand; corpus docs'
    # shingles are recomputed for CANDIDATE ids only (semi-join keeps
    # the corpus scan prunable to the matched rows).
    cand_ids = (screened.select(F.col("id_a").alias("cid"))
                .unionByName(screened.select(F.col("id_b").alias("cid")))
                .dropDuplicates())
    old_sh = (corpus_df
              .join(cand_ids, corpus_df[id_col] == cand_ids["cid"],
                    "left_semi")
              .select(F.col(id_col).alias("_id"),
                      hashed_shingles(text_col, k).alias("_sh")))
    # cached for the same reason as screened: sh is joined once per pair
    # side, and the corpus-side shingle recompute should run once
    sh = new_base.select("_id", "_sh").unionByName(old_sh)
    if not assume_disjoint:
        sh = sh.dropDuplicates(["_id"])
    sh = sh.cache()
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    out = (screened
           .join(sh.select(F.col("_id").alias("id_a"),
                           F.col("_sh").alias("sh_a")), "id_a")
           .join(sh.select(F.col("_id").alias("id_b"),
                           F.col("_sh").alias("sh_b")), "id_b")
           .withColumn("jaccard", F.round(inter / union, 6))
           .where(F.col("jaccard") >= threshold)
           .select("id_a", "id_b", "est_jaccard", "jaccard"))
    out._zdb_cache_handles = [new_base, screened, sh]
    if dropped is not None:
        out._zdb_dropped_buckets = dropped
        out._zdb_cache_handles.append(dropped)
    return out


# --------------------------------------------------------------------- #
# incremental span dedup: persisted char-fingerprint store               #
# --------------------------------------------------------------------- #
_FP_STORE_VERSION = "fp1"  # bump when the fingerprint recipe changes


def _fp_store_params(path: str) -> dict:
    import json
    import os

    with open(os.path.join(path, "params.json")) as f:
        p = json.load(f)
    if p.get("version") != _FP_STORE_VERSION:
        raise ValueError(
            f"fingerprint store at {path} was built by recipe "
            f"{p.get('version')!r}; this code computes "
            f"{_FP_STORE_VERSION!r} — rebuild the store")
    return p


def build_fingerprint_store(df: DataFrame, path: str,
                            text_col: str = "text",
                            id_col: str = "doc_id", *, n: int = 24,
                            mod: int = 8) -> None:
    """Persist the corpus's span fingerprints: ``fp/`` (id, hash)
    parquet plus a params file pinning the recipe.

    The span-dedup analogue of ``build_minhash_store``: gram hashing is
    the expensive part (one md5 per char position) and it never has to
    be repeated — new batches fingerprint only themselves and equi-join
    the stored rows (``incremental_fingerprint_pairs``).  Store size is
    ~len/mod × 8 bytes per doc; no text is stored, because span pairs
    need no exact-verify stage (shared fingerprints ARE the signal).
    """
    import json
    import os

    (_fingerprint_rows(df, text_col, id_col, n, mod)
     .select(F.col("_id").alias(id_col), "h")
     .write.mode("errorifexists").parquet(f"{path}/fp"))
    with open(os.path.join(path, "params.json"), "w") as f:
        json.dump({"version": _FP_STORE_VERSION, "n": n, "mod": mod}, f)


def append_fingerprint_store(df: DataFrame, path: str,
                             text_col: str = "text",
                             id_col: str = "doc_id") -> None:
    """Add a batch's fingerprints to an existing store (O(batch))."""
    p = _fp_store_params(path)
    (_fingerprint_rows(df, text_col, id_col, p["n"], p["mod"])
     .select(F.col("_id").alias(id_col), "h")
     .write.mode("append").parquet(f"{path}/fp"))


def incremental_fingerprint_pairs(new_df: DataFrame, path: str,
                                  text_col: str = "text",
                                  id_col: str = "doc_id", *,
                                  min_shared: int = 2,
                                  max_bucket_size: int | None = None,
                                  assume_disjoint: bool = False
                                  ) -> DataFrame:
    """Span-overlap pairs INVOLVING AT LEAST ONE NEW DOCUMENT, without
    re-fingerprinting the corpus: new-vs-stored and new-vs-new, same
    output schema as ``char_fingerprint_pairs`` (id_a < id_b,
    n_shared >= min_shared).

    Cost: fingerprinting touches only the new batch; the corpus
    contributes stored (id, hash) rows to one equi-join on the hash.
    Unlike incremental MinHash there is NO text lookback — shared
    fingerprints are the whole signal — so the corpus text is never
    read at all.  ``assume_disjoint=True`` skips the stored-side
    exclusion of re-submitted new ids.  ``max_bucket_size`` caps hot
    hashes over the COMBINED rows, same contract as the batch form.
    """
    p = _fp_store_params(path)
    spark = new_df.sparkSession
    new_fp = _fingerprint_rows(new_df, text_col, id_col,
                               p["n"], p["mod"]).cache()
    stored = spark.read.parquet(f"{path}/fp") \
        .select(F.col(id_col).alias("_id"), "h")
    if not assume_disjoint:
        # a re-submitted doc must not pair with its own stored rows —
        # keyed on ALL new-batch ids (not just those that emitted
        # fingerprints: a doc resubmitted with sub-n text emits none,
        # and its STALE stored fingerprints must still be retired)
        new_ids = new_df.select(F.col(id_col).alias("_id")).distinct()
        stored = stored.join(new_ids, "_id", "left_anti")

    combined = (new_fp.withColumn("_new", F.lit(True))
                .unionByName(stored.withColumn("_new", F.lit(False))))
    if max_bucket_size is not None:
        combined, dropped = _cap_buckets(combined, ["h"], max_bucket_size)
    else:
        dropped = None

    left = (combined.where("_new")
            .select(F.col("_id").alias("id_l"), "h"))
    right = combined.select(F.col("_id").alias("id_r"), "h", "_new")
    # keep each pair once: new-vs-stored from the new side only;
    # new-vs-new in ascending-id orientation
    joined = (left.join(right, "h")
              .where((~F.col("_new")) | (F.col("id_l") < F.col("id_r")))
              .where(F.col("id_l") != F.col("id_r")))
    out = (joined
           .select(F.least("id_l", "id_r").alias("id_a"),
                   F.greatest("id_l", "id_r").alias("id_b"))
           .groupBy("id_a", "id_b")
           .agg(F.count(F.lit(1)).alias("n_shared"))
           .where(F.col("n_shared") >= min_shared))
    out._zdb_cache_handles = [new_fp]
    if dropped is not None:
        out._zdb_dropped_buckets = dropped
        out._zdb_cache_handles.append(dropped)
    return out


def dedup_paragraphs(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     para_tokens: int = 16) -> DataFrame:
    """Sub-document dedup with REWRITE: drop every paragraph whose
    content (case-insensitively) already appeared earlier in the corpus,
    keeping the first occurrence (lowest (doc, position)), and
    reconstruct each document from its surviving paragraphs — the
    corpus-hygiene rewrite step that pair-DETECTION operators
    (minhash/span) don't do.  "Paragraph" here is a non-overlapping
    ``para_tokens``-token block (the corpus has no layout markers); with
    real documents pass text pre-split on blank lines.

    The rebuilt text PRESERVES the original casing; whitespace is
    normalized to single spaces (the only transform the block
    construction needs).  The dedup KEY is the lowercased block, so
    'The API' and 'the api' deduplicate against each other while the
    survivor keeps its original form.

    Plan shape (100 TB): explode to paragraphs (row-local), ONE md5-keyed
    window to elect each paragraph's canonical owner — a struct
    (id, position) min, so ids may be ints, strings, or UUIDs with no
    arithmetic-overflow ceiling — then ONE doc-keyed aggregation to
    reconstruct.  Two keyed shuffles total.  A mega-duplicated paragraph
    concentrates its copies on one reducer only for the cheap min-key
    election (AQE skew split applies); the rebuild shuffle is keyed by
    doc and therefore even.

    Returns (id, n_paras, n_kept, clean_text).
    """
    from pyspark.sql.window import Window

    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    n_paras = F.ceil(n / F.lit(para_tokens)).cast("int")
    paras = F.transform(
        F.sequence(F.lit(0), n_paras - 1),
        lambda i: F.array_join(
            F.slice(toks, i * para_tokens + 1, para_tokens), " "))
    exploded = (df.select(F.col(id_col).alias("id"), paras.alias("_ps"))
                  .select("id", F.posexplode("_ps").alias("para_idx",
                                                          "para")))
    # struct min = "first occurrence": total order on (id, position)
    # with no composite-arithmetic overflow and no numeric-id
    # requirement.  (An int id ordering equals the old id*stride+idx
    # composite, so the DuckDB oracle's composite form still mirrors it.)
    ckey = F.struct(F.col("id"), F.col("para_idx"))
    w = Window.partitionBy(F.md5(F.lower(F.col("para"))))
    kept = (exploded
            .withColumn("_keep", ckey == F.min(ckey).over(w))
            .where(F.col("_keep")))
    return (kept.groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("para_idx", "para"))),
                         lambda s: s["para"]), " ").alias("clean_text"))
            .join(df.select(F.col(id_col).alias("id"),
                            n_paras.alias("n_paras")), "id", "right")
            .select("id", "n_paras",
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    F.coalesce("clean_text", F.lit("")).alias("clean_text")))
