"""Similarity search over embedding columns (``array<float>``).

Baseline: brute-force cosine top-k — a single narrow scan with a JVM-side
dot product (``zip_with`` + ``aggregate``), then a global top-k
(``orderBy ... limit`` → Spark's TakeOrdered, which is a per-partition
heap + driver merge, NOT a full sort shuffle).

Scale path: random-hyperplane LSH bucketing — signature bits are
sign(v·h) for seeded hyperplanes; candidates share a bucket prefix; exact
re-rank inside buckets.  At 100 TB the bucket join replaces the full scan
per query with a hash-partition-local probe.

An IVF variant (coarse k-means centroids + nearest-centroid probe) is the
natural next step; the LSH form is implemented first because it needs no
training pass.
"""

from __future__ import annotations

import json
import os

import numpy as np

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .. import store
from ..functions.scalar import round0

__all__ = ["cosine_sim", "brute_force_topk", "hyperplane_signature",
           "lsh_topk", "knn_join_bruteforce", "knn_join_lsh", "ivf_index",
           "ivf_topk", "embedding_dedup_pairs", "build_lsh_index",
           "lsh_index_topk", "build_ivf_index", "ivf_index_topk",
           "append_lsh_index", "append_ivf_index", "compact_ann_index",
           "index_data_files", "current_generation",
           "pq_train", "pq_encode", "pq_topk", "assign_centroids",
           "semantic_dedup", "build_ivfpq_index", "ivfpq_index_topk",
           "nearest_centroid_l2_col", "kmeans_lloyd",
           "centroid_outliers", "quantize_embeddings", "int8_topk",
           "embedding_covariance", "pca_components", "pca_project"]


def _vec_lit(v) -> Column:
    """ArrayType(double) literal in ONE py4j round trip.

    The naive ``F.array(*[F.lit(float(x)) for x in v])`` costs one py4j
    call per element; for the m·k ADC lookup tables / per-iteration
    centroid matrices this added SECONDS of driver time per query build
    (measured 2.4 s for pq_topk's two 128-wide tables + query vector,
    r18).  A 1-D float64 ndarray crosses py4j as a single
    ``Array[Double]`` → one ``Literal`` of the same doubles — IEEE bits
    unchanged, so every downstream expression value is identical (the
    oracle gates re-prove it)."""
    return F.lit(np.asarray(v, dtype=np.float64))


def _mat_lit(rows) -> Column:
    """Array-of-ArrayType(double) literal, one py4j call PER ROW
    (2-D ndarrays have no single-call lit); replaces the per-ELEMENT
    form everywhere a centroid/plane/component matrix becomes a plan
    literal."""
    return F.array(*[_vec_lit(r) for r in rows])


def _as_double(c: Column) -> Column:
    return c.cast("array<double>")


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity of two array columns, computed in double.

    dot/‖a‖‖b‖ via ``zip_with`` + ``aggregate`` — stays in codegen; the
    accumulation order is the array order, which keeps results
    reproducible run-to-run (and matchable by the DuckDB oracle).
    """
    a, b = _as_double(a), _as_double(b)
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    return dot / (na * nb)


def brute_force_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """Exact cosine top-k for one query vector.

    ``orderBy(desc).limit(k)`` compiles to TakeOrderedAndProject — each
    partition keeps a k-heap and only k rows per partition reach the
    driver-side merge, so this is the correct *baseline* even at scale.
    """
    qlit = _vec_lit(query_vec)
    sim = cosine_sim(F.col(vec_col), qlit)
    return (df.select(F.col(id_col), F.round(sim, 6).alias("cosine_sim"))
              .orderBy(F.desc("cosine_sim"), F.col(id_col))
              .limit(k))


def hyperplane_signature(df: DataFrame, vec_col: str = "embedding",
                         num_bits: int = 16, dim: int = 64,
                         seed: int = 42, out_col: str = "lsh_sig") -> DataFrame:
    """Random-hyperplane signature: bit i = sign(v · h_i).

    Hyperplanes are a seeded ``numpy.RandomState`` draw materialized as a
    literal array-of-arrays — broadcast by value into the plan, no Python
    at execution time.  One let-bound pass: dots for all planes via a
    single ``transform``, then an OR-fold against literal bit masks
    (num_bits separate dot expressions would re-evaluate the vector cast
    per bit and bloat the tree).
    """
    from .dedup import let

    rng = np.random.RandomState(seed)
    planes = rng.randn(num_bits, dim)
    planes_arr = _mat_lit(planes)
    masks = F.array(*[
        F.lit(1 << i if i < 63 else -(1 << 63)).cast("long")
        for i in range(num_bits)
    ])
    # Dimensional guard: zip_with null-pads a length mismatch, which
    # would fold every dot to NULL and every signature to 0 — an index
    # built that way answers every probe with an empty set, silently.
    # Refuse loudly instead (row-local, no extra pass).
    checked = F.when(
        F.size(F.col(vec_col)) != dim,
        F.raise_error(F.concat(
            F.lit(f"hyperplane_signature: vector of length "),
            F.size(F.col(vec_col)).cast("string"),
            F.lit(f" does not match dim={dim}")))
        .cast("array<double>")).otherwise(_as_double(F.col(vec_col)))
    sig = let(
        checked,
        lambda v: let(
            F.transform(planes_arr,
                        lambda p: F.aggregate(
                            F.zip_with(v, p, lambda x, y: x * y),
                            F.lit(0.0), lambda acc, x: acc + x)),
            lambda dots: F.aggregate(
                F.zip_with(dots, masks,
                           lambda d, m: F.when(d > 0, m)
                           .otherwise(F.lit(0).cast("long"))),
                F.lit(0).cast("long"),
                lambda acc, m: acc.bitwiseOR(m))))
    return df.withColumn(out_col, sig)


def lsh_topk(df: DataFrame, query_vec: list[float], k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             num_bits: int = 12, num_tables: int = 4,
             dim: int = 64, seed: int = 42) -> DataFrame:
    """Approximate cosine top-k: probe ``num_tables`` independent
    hyperplane tables, union candidates whose full signature matches the
    query's bucket, exact-rerank the candidate set.

    Recall/probe-cost tradeoff = (num_bits, num_tables).

    AD-HOC MODE: recomputes signatures per call (num_tables scans) —
    right for one-off exploration only.  Any repeated-query workload
    should ``build_lsh_index`` once and probe with ``lsh_index_topk``,
    which reads just the matching buckets of the persisted layout.
    """
    cand = None
    for t in range(num_tables):
        rng_seed = seed + 1000 * t
        # _qsig_for folds the dot sequentially, bit-matching the Spark
        # expression; a BLAS `planes[i] @ q` here could flip a bit on a
        # near-zero plane dot (the exact bug _qsig_for documents) and
        # probe a bucket the vector is not in.
        q_sig = _qsig_for(list(query_vec), num_bits, dim, rng_seed)
        tagged = hyperplane_signature(df, vec_col, num_bits, dim, rng_seed,
                                      out_col="_sig")
        hits = tagged.where(F.col("_sig") == F.lit(q_sig)).drop("_sig")
        cand = hits if cand is None else cand.unionByName(hits)
    cand = cand.dropDuplicates([id_col])
    return brute_force_topk(cand, query_vec, k, vec_col, id_col)


def ivf_index(df: DataFrame, vec_col: str = "embedding",
              n_centroids: int = 16, sample_size: int = 4096,
              iters: int = 10, seed: int = 42,
              out_col: str = "centroid_id") -> tuple[DataFrame, "np.ndarray"]:
    """IVF coarse quantizer: k-means centroids trained on a driver-side
    SAMPLE, assignment fully distributed.

    Training on a bounded sample (not the corpus) is the standard IVF
    recipe — at 100 TB the sample is a single ``df.sample`` scan and the
    k-means runs in milliseconds on the driver; assignment is one
    narrow map with the centroid matrix broadcast by value.  Returns
    (df + centroid_id column, centroids ndarray).
    """
    # ONE-pass sample: order by a seeded CONTENT hash and take the
    # smallest sample_size — orderBy+limit compiles to
    # TakeOrderedAndProject (per-partition k-heap + driver merge, no full
    # sort, no shuffle of the corpus).  xxhash64(vec, seed) rather than
    # rand(seed): rand folds the partition index into its stream, so the
    # SAMPLE MEMBERSHIP itself changed with parallelism — training was
    # only reproducible at a fixed partitioning.  A content hash is
    # uniform over distinct vectors and identical at any layout (ties
    # only between identical vectors, which train identically).
    rows = (df.select(vec_col)
            .orderBy(F.xxhash64(F.col(vec_col), F.lit(seed)))
            .limit(sample_size).collect())
    X = np.asarray([r[0] for r in rows], dtype=np.float64)
    # Arrival order depends on partitioning; sort lexicographically so
    # training (init choice + mean accumulation order) is reproducible
    # across parallelism settings.
    X = X[np.lexsort(X.T[::-1])]
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    cents = X[rng.choice(len(X), size=min(n_centroids, len(X)),
                         replace=False)]
    for _ in range(iters):  # spherical k-means on the sample
        assign = np.argmax(X @ cents.T, axis=1)
        for c in range(len(cents)):
            m = X[assign == c]
            if len(m):
                v = m.mean(axis=0)
                cents[c] = v / max(np.linalg.norm(v), 1e-12)

    assigned = df.withColumn(out_col, _nearest_centroid_col(vec_col, cents))
    return assigned, cents


def _nearest_centroid_col(vec_col: str, cents: "np.ndarray") -> Column:
    """argmax_c (v·c) as a JVM-side expression; centroid matrix inlined as
    a literal array-of-arrays (broadcast-by-value, no Python at execution
    time).

    Linear-size expression: dots per centroid via one ``transform``, then
    ``array_position(dots, array_max(dots))``.  (A running-argmax
    ``when``-chain would reference the previous best TWICE per step —
    exponential tree growth that hangs the planner past ~12 centroids.)
    """
    from .dedup import let

    cents_arr = _mat_lit(cents)
    dots = let(
        _as_double(F.col(vec_col)),
        lambda v: F.transform(
            cents_arr,
            lambda c: F.aggregate(F.zip_with(v, c, lambda x, y: x * y),
                                  F.lit(0.0), lambda acc, x: acc + x)))
    return let(dots,
               lambda d: (F.array_position(d, F.array_max(d)) - 1)
               .cast("int"))


def assign_centroids(df: DataFrame, centroids, vec_col: str = "embedding",
                     out_col: str = "centroid_id") -> DataFrame:
    """Assign every vector to its max-dot-product centroid — the
    distributed half of corpus clustering, exposed on its own.

    ``centroids`` is a small (n, d) array-like; it inlines into the plan
    as a literal (broadcast-by-value), so assignment is one narrow
    codegen'd map over the corpus: no shuffle, no Python, linear in
    rows × n·d.  Compose with ``ivf_index`` (which trains centroids on a
    bounded sample) for end-to-end k-means clustering, or pass fixed
    seed vectors for reproducible semantic bucketing of a corpus (mix
    balancing, per-cluster quota sampling).  Ties break toward the
    LOWEST centroid index (first max), which the gate oracle mirrors.
    """
    cents = np.asarray(centroids, dtype=np.float64)
    if cents.ndim != 2 or not len(cents):
        raise ValueError("centroids must be a non-empty 2-D array")
    return df.withColumn(out_col, _nearest_centroid_col(vec_col, cents))


def _l2_argmin_expr(vec_col: str, cents_arr: Column) -> Column:
    """argmin_c ||v - c||² given the centroid matrix as a COLUMN
    (``array<array<double>>``) — shared core of the literal-inlined and
    broadcast-relation forms.  Ties → LOWEST centroid index (first min),
    mirroring ``_nearest_centroid_col``'s first-max."""
    from .dedup import let

    dists = let(
        _as_double(F.col(vec_col)),
        lambda v: F.transform(
            cents_arr,
            lambda c: F.aggregate(
                F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0), lambda acc, x: acc + x)))
    return let(dists,
               lambda d: (F.array_position(d, F.array_min(d)) - 1)
               .cast("int"))


def nearest_centroid_l2_col(vec_col: str, cents) -> Column:
    """argmin_c ||v - c||² as a JVM-side expression (ties → LOWEST
    centroid index, mirroring ``_nearest_centroid_col``'s first-max).

    Same linear-size construction as the dot-product form: per-centroid
    squared distances via one ``transform`` over the inlined centroid
    matrix, then ``array_position(dists, array_min(dists))``.  Squared
    L2 (not dot) so that with data-point initialization every centroid
    is its own nearest (distance 0) — Lloyd's invariant that keeps
    clusters non-empty on the first pass even for unnormalized vectors.
    """
    cents = np.asarray(cents, dtype=np.float64)
    cents_arr = _mat_lit(cents)
    return _l2_argmin_expr(vec_col, cents_arr)


def kmeans_lloyd(df: DataFrame, vec_col: str = "embedding",
                 init_centroids=None, iters: int = 3,
                 round_dp: int = 6,
                 plan: str = "literal") -> list[list[float]]:
    """Full DISTRIBUTED Lloyd's k-means (squared-L2) over the corpus —
    the training half that ``assign_centroids`` consumes, and the
    full-data counterpart of ``ivf_index``'s sample-trained quantizer.

    Each iteration is exactly ONE distributed aggregation pass: a
    narrow codegen'd assignment map (centroid matrix inlined as a
    literal — broadcast-by-value, no Python at execution time), then
    ``posexplode`` to (cid, dim, x) and a partially-aggregated groupBy
    whose map-side combine caps the shuffle at k×d rows per upstream
    partition, regardless of corpus size.  The exploded form, not a
    d-wide ``agg(sum(v[0]), …, sum(v[d-1]))``: d separate aggregate
    expressions made Janino recompile a d-wide generated class per
    iteration (literals change every round) — measured 3-14× slower at
    d=64 than the constant-size exploded plan, whose codegen is
    independent of d.  Driver state between iterations is the k×d
    centroid matrix alone, so the loop is bounded and 100 TB-safe:
    cost = iters linear scans, zero wide shuffles.

    Cross-engine reproducibility (the gate oracle replays the same
    iterations as unrolled SQL CTEs): per-iteration MEANS are rounded
    to ``round_dp`` decimals INSIDE the Spark aggregation (HALF_UP,
    matching DuckDB's ``round``), so summation-order FP noise in the
    centroid chain dies at each rounding boundary.  The ASSIGNMENT
    argmin compares unrounded distances — a vector sitting within ~1
    ulp of two centroids, or a mean landing exactly on a round_dp
    boundary, could still flip between engines; both are measure-zero
    on real-valued data (the same determinism class the cluster_assign
    gate has relied on across rounds) but are the known residual risk,
    not "impossible".  Empty clusters keep their previous centroid
    (oracle mirrors via LEFT JOIN + coalesce).

    PLAN MODES — measured, not guessed (BASELINE_LOCAL.md
    §kmeans-plan-ab).  The "per-iteration Janino recompile" hypothesis
    (round-8/9 verdicts) is EMPIRICALLY FALSE for this plan shape:
    Catalyst constant-folds the inlined matrix into ONE complex-typed
    Literal, and complex-type literals are emitted into the generated
    class's *references array*, not its source text — so the codegen
    source is byte-identical across iterations and the compile cache
    hits from iteration 2 on (CodegenMetrics: 0 compiles after the
    first iteration).  ``plan="literal"`` (default, the measured
    winner: ~0.52 s/iter warm at sf0.1 d=64 k=4) inlines the matrix;
    ``plan="broadcast"`` ships it as a one-row broadcast relation via
    ``crossJoin(broadcast(...))`` — byte-identical results (same
    float64→DoubleType path, same shared ``_l2_argmin_expr``) but the
    extra join node costs ~13% (~0.59 s/iter) and buys nothing, since
    there was never a per-iteration compile to save.  Kept as an
    explicit mode so the A/B stays reproducible.
    """
    if not init_centroids:
        raise ValueError("kmeans_lloyd needs explicit init centroids "
                         "(e.g. k fixed data points) for reproducibility")
    if plan not in ("broadcast", "literal"):
        raise ValueError(f"unknown plan mode {plan!r}")
    cents = [[float(x) for x in c] for c in init_centroids]
    k, d = len(cents), len(cents[0])
    if any(len(c) != d for c in cents):
        raise ValueError("init centroids must share one dimensionality")
    spark = df.sparkSession
    for _ in range(iters):
        if plan == "broadcast":
            cents_df = spark.createDataFrame(
                [(cents,)], "__cents array<array<double>>")
            proj = df.crossJoin(F.broadcast(cents_df)).select(
                _l2_argmin_expr(vec_col, F.col("__cents")).alias("__cid"),
                _as_double(F.col(vec_col)).alias("__v"))
        else:
            proj = df.select(
                nearest_centroid_l2_col(vec_col, cents).alias("__cid"),
                _as_double(F.col(vec_col)).alias("__v"))
        rows = (proj.select("__cid", F.posexplode("__v")
                            .alias("__i", "__x"))
                .groupBy("__cid", "__i")
                .agg(F.round(F.sum("__x") / F.count(F.lit(1)), round_dp)
                     .alias("__m"))
                .collect())
        new: dict[int, list] = {}
        for r in rows:
            if r["__i"] >= d:
                raise ValueError(
                    f"input vectors have more than {d} dimensions "
                    f"(init centroids are {d}-d)")
            new.setdefault(r["__cid"], [None] * d)[r["__i"]] = \
                float(r["__m"])
        if any(None in v for v in new.values()):
            raise ValueError(
                "ragged input vectors: a cluster is missing dimensions")
        cents = [new.get(c, cents[c]) for c in range(k)]
    return cents


def centroid_outliers(df: DataFrame, centroids,
                      vec_col: str = "embedding",
                      id_col: str = "vec_id",
                      z_thresh: float = 2.0,
                      round_dp: int = 6) -> DataFrame:
    """Embedding-space OUTLIER detection: assign every vector to its
    nearest centroid (squared L2, ties → lowest index) and z-score its
    distance within the cluster — the standard garbage/anomaly filter
    for embedded corpora (mislabeled docs, encoder failures, and
    off-manifold noise land far from every centroid).

    One narrow assignment map (centroid matrix inlined, distance to the
    assigned centroid is ``array_min`` of the same per-centroid
    distances — no recompute) + one window over ``centroid_id`` for the
    per-cluster mean/stddev.  The window shuffle is keyed by cluster —
    k partitions of work regardless of corpus size; for 100 TB replace
    the window with a two-pass agg-then-broadcast-join of the k-row
    stats table (same math, no fat partitions).  Distances round to
    ``round_dp`` BEFORE the stats and z rounds after, so the gate
    oracle replays the identical pipeline cross-engine.  Clusters with
    one member (stddev NULL) or zero spread are never outliers.
    """
    from .dedup import let

    cents = np.asarray(centroids, dtype=np.float64)
    if cents.ndim != 2 or not len(cents):
        raise ValueError("centroids must be a non-empty 2-D array")
    cents_arr = _mat_lit(cents)
    dists = let(
        _as_double(F.col(vec_col)),
        lambda v: F.transform(
            cents_arr,
            lambda c: F.aggregate(
                F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0), lambda acc, x: acc + x)))
    assigned = df.select(
        id_col,
        let(dists, lambda d: F.struct(
            (F.array_position(d, F.array_min(d)) - 1).cast("int")
            .alias("cid"),
            F.round(F.array_min(d), round_dp).alias("dist")))
        .alias("_a")
    ).select(id_col, F.col("_a.cid").alias("centroid_id"),
             F.col("_a.dist").alias("dist"))
    from pyspark.sql import Window
    w = Window.partitionBy("centroid_id")
    z = F.round((F.col("dist") - F.avg("dist").over(w))
                / F.stddev_samp("dist").over(w), round_dp)
    return (assigned
            .withColumn("z", F.when(
                F.stddev_samp("dist").over(w).isNull()
                | (F.stddev_samp("dist").over(w) == 0), F.lit(0.0))
                .otherwise(z))
            .withColumn("is_outlier",
                        F.col("z") > F.lit(float(z_thresh))))


def ivf_topk(df: DataFrame, query_vec: list[float], k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             n_centroids: int = 16, n_probe: int = 4,
             sample_size: int = 4096, seed: int = 42) -> DataFrame:
    """IVF approximate top-k: probe the ``n_probe`` centroids nearest to
    the query and exact-rerank only their members.

    AD-HOC MODE: trains the quantizer per call.  Any repeated-query
    workload should ``build_ivf_index`` once (training happens at build
    time, corpus lands partitioned by ``centroid_id``) and probe with
    ``ivf_index_topk`` — partition pruning then does candidate
    selection at ``n_probe/n_centroids`` of the data.
    """
    assigned, cents = ivf_index(df, vec_col, n_centroids, sample_size,
                                seed=seed)
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    probe = np.argsort(-(cents @ q))[:n_probe].tolist()
    cand = assigned.where(F.col("centroid_id").isin(probe)).drop("centroid_id")
    return brute_force_topk(cand, query_vec, k, vec_col, id_col)


def _qsig_for(query_vec: list[float], num_bits: int, dim: int,
              seed: int) -> int:
    """Driver-side signature of one query vector for table ``seed`` —
    must mirror ``hyperplane_signature`` exactly, INCLUDING the
    floating-point summation order: the Spark side folds the dot product
    left-to-right, while numpy's BLAS dot sums pairwise, and a near-zero
    plane dot can land on opposite sides of 0 between the two — flipping
    a bit and probing the wrong bucket for a vector the index holds.  A
    sequential Python accumulation is bit-identical to the Spark fold
    (and num_bits×dim multiplications are trivial driver-side work)."""
    rng = np.random.RandomState(seed)
    planes = rng.randn(num_bits, dim)
    q = [float(x) for x in query_vec]
    sig = 0
    for i in range(num_bits):
        acc = 0.0
        row = planes[i]
        for j in range(dim):
            acc = acc + q[j] * float(row[j])
        if acc > 0:
            sig |= (1 << i if i < 63 else -(1 << 63))
    return sig


def _lsh_signature_rows(df: DataFrame, id_col: str, vec_col: str,
                        num_bits: int, num_tables: int, dim: int,
                        seed: int) -> DataFrame:
    """(t, sig, vec_id, vec) rows for a persisted LSH layout: every
    table's signature in ONE pass, exploded per table.  The SINGLE
    construction shared by build_lsh_index and append_lsh_index — append
    must stay bit-identical to build (same seed stride, same columns) or
    probes silently miss appended rows."""
    tagged = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col))
    for t in range(num_tables):
        tagged = hyperplane_signature(tagged, vec_col, num_bits, dim,
                                      seed + 1000 * t, out_col=f"_s{t}")
    return (tagged.select(
        "vec_id", vec_col,
        F.explode(F.array(*[
            F.struct(F.lit(t).alias("t"), F.col(f"_s{t}").alias("sig"))
            for t in range(num_tables)
        ])).alias("ts")).select("ts.t", "ts.sig", "vec_id", vec_col))


def build_lsh_index(df: DataFrame, path: str, vec_col: str = "embedding",
                    id_col: str = "vec_id", num_bits: int = 8,
                    num_tables: int = 8, dim: int = 64,
                    seed: int = 42) -> None:
    """Persist an LSH index: ONE pass computes every table's signature,
    explodes to (t, sig, id, vec) rows, and writes parquet partitioned by
    ``t`` with files sorted by ``sig``.

    The storage layout IS the index (the reference's thesis for its
    time-sorted partitions — /root/reference/README.md:4-6, re-applied to
    ANN): a probe reads one table-partition directory and row-group
    min/max stats on the sorted ``sig`` column skip everything but the
    matching bucket.  Queries pay zero signature recomputation — the
    round-1 ``lsh_topk`` re-scanned the corpus 8× per query instead.
    """
    rows = _lsh_signature_rows(df, id_col, vec_col, num_bits, num_tables,
                               dim, seed)
    _reset_generations(path)
    (rows.repartition("t").sortWithinPartitions("t", "sig")
         .write.mode("overwrite").partitionBy("t")
         .parquet(os.path.join(path, "data")))
    with open(os.path.join(path, "_meta"), "w") as f:
        json.dump({"kind": "lsh", "num_bits": num_bits,
                   "num_tables": num_tables, "dim": dim, "seed": seed,
                   "vec_col": vec_col}, f)


def lsh_index_topk(spark: SparkSession, path: str, query_vec: list[float],
                   k: int = 10, multiprobe_bits: int = 0) -> DataFrame:
    """Probe a persisted LSH index: driver-side query signatures (a few
    numpy dot products), then ONE scan filtered to the matching
    (t, sig) buckets — partition-pruned on ``t``, row-group-pruned on the
    sorted ``sig`` — and an exact rerank of the candidates.

    ``multiprobe_bits > 0`` additionally probes every bucket within that
    hamming distance of the query's signature (single-bit flips for 1):
    near-miss neighbors land in adjacent buckets when one hyperplane dot
    is near zero, so multi-probe buys recall WITHOUT more tables — i.e.
    without growing the index.  Probe count per table is
    ``1 + num_bits`` at distance 1; all still one pruned scan."""
    with open(os.path.join(path, "_meta")) as f:
        meta = json.load(f)
    nb = meta["num_bits"]
    masks = [(1 << i if i < 63 else -(1 << 63)) for i in range(nb)]
    idx = spark.read.parquet(_index_data_dir(path))
    cond = None
    for t in range(meta["num_tables"]):
        qsig = _qsig_for(query_vec, nb, meta["dim"],
                         meta["seed"] + 1000 * t)
        sigs = {qsig}
        if multiprobe_bits >= 1:
            sigs |= {qsig ^ m for m in masks}
        if multiprobe_bits >= 2:
            sigs |= {qsig ^ m1 ^ m2 for m1 in masks for m2 in masks
                     if m1 != m2}
        c = (F.col("t") == t) & F.col("sig").isin(list(sigs))
        cond = c if cond is None else cond | c
    cand = idx.where(cond).dropDuplicates(["vec_id"])
    return brute_force_topk(cand, query_vec, k, meta["vec_col"], "vec_id")


def build_ivf_index(df: DataFrame, path: str, vec_col: str = "embedding",
                    id_col: str = "vec_id", n_centroids: int = 16,
                    sample_size: int = 4096, seed: int = 42,
                    centroids: "np.ndarray | None" = None) -> None:
    """Persist an IVF index: train the coarse quantizer ONCE, write the
    corpus parquet partitioned by ``centroid_id``, store centroids in the
    sidecar.  A probe then touches ``n_probe/n_centroids`` of the
    directories — candidate selection is partition pruning, the cheapest
    mechanism Spark has.  Round-1 ``ivf_topk`` retrained k-means per
    query; at 100 TB that is a full training scan per lookup.

    Pass ``centroids`` to reuse a pre-trained quantizer (e.g. another
    index's ``_meta["centroids"]``) instead of training — the path that
    makes a rebuild comparable to ``append_ivf_index``, which by design
    never retrains."""
    if centroids is not None:
        cents = np.asarray(centroids, dtype=np.float64)
        assigned = df.withColumn(
            "centroid_id", _nearest_centroid_col(vec_col, cents))
    else:
        assigned, cents = ivf_index(df, vec_col, n_centroids, sample_size,
                                    seed=seed)
    _reset_generations(path)
    (assigned.select(F.col(id_col).alias("vec_id"), F.col(vec_col),
                     "centroid_id")
             .repartition("centroid_id")
             .write.mode("overwrite").partitionBy("centroid_id")
             .parquet(os.path.join(path, "data")))
    with open(os.path.join(path, "_meta"), "w") as f:
        json.dump({"kind": "ivf", "centroids": cents.tolist(),
                   "vec_col": vec_col}, f)


def ivf_index_topk(spark: SparkSession, path: str, query_vec: list[float],
                   k: int = 10, n_probe: int = 4) -> DataFrame:
    """Probe a persisted IVF index: nearest ``n_probe`` centroids on the
    driver (tiny matmul), partition-pruned scan of just those centroid
    directories, exact rerank."""
    with open(os.path.join(path, "_meta")) as f:
        meta = json.load(f)
    cents = np.asarray(meta["centroids"], dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    probe = [int(i) for i in np.argsort(-(cents @ q))[:n_probe]]
    idx = spark.read.parquet(_index_data_dir(path))
    cand = idx.where(F.col("centroid_id").isin(probe))
    return brute_force_topk(cand, query_vec, k, meta["vec_col"], "vec_id")


def append_lsh_index(df: DataFrame, path: str,
                     id_col: str = "vec_id") -> None:
    """Incrementally add a batch to a persisted LSH index — signs and
    explodes ONLY the new rows (hyperplanes are data-independent, derived
    from the sidecar seed), then appends files into the same
    ``t``-partitioned layout.  The result is byte-for-byte the index a
    full rebuild over old+new would produce, minus file merging — at
    100 TB an append touches O(batch), a rebuild O(corpus).

    Appended files are sig-sorted like the originals, so row-group
    pruning on ``sig`` keeps working; they are however one-file-per-batch
    — run ``compact_ann_index`` periodically to merge the accumulation
    back to one file per table partition."""
    with open(os.path.join(path, "_meta")) as f:
        meta = json.load(f)
    if meta["kind"] != "lsh":
        raise ValueError(f"not an LSH index: {path}")
    vec_col = meta["vec_col"]
    rows = _lsh_signature_rows(df, id_col, vec_col, meta["num_bits"],
                               meta["num_tables"], meta["dim"],
                               meta["seed"])
    (rows.repartition("t").sortWithinPartitions("t", "sig")
         .write.mode("append").partitionBy("t")
         .parquet(_index_data_dir(path)))


def append_ivf_index(df: DataFrame, path: str,
                     id_col: str = "vec_id") -> None:
    """Incrementally add a batch to a persisted IVF index — assigns the
    new rows with the SIDECAR centroids (the quantizer is deliberately
    not retrained: probe routing must stay consistent with the data
    already on disk) and appends into the ``centroid_id`` partitions.

    Equivalent to ``build_ivf_index(old+new, centroids=sidecar)`` modulo
    file merging.  Quantizer drift is the operator's responsibility: if
    the data distribution shifts far from the training sample, rebuild —
    the index records only centroid geometry, so drift shows up as
    imbalanced partition sizes (``index_data_files`` per directory)."""
    with open(os.path.join(path, "_meta")) as f:
        meta = json.load(f)
    if meta["kind"] != "ivf":
        raise ValueError(f"not an IVF index: {path}")
    vec_col = meta["vec_col"]
    cents = np.asarray(meta["centroids"], dtype=np.float64)
    (df.select(F.col(id_col).alias("vec_id"), F.col(vec_col))
       .withColumn("centroid_id", _nearest_centroid_col(vec_col, cents))
       .repartition("centroid_id")
       .write.mode("append").partitionBy("centroid_id")
       .parquet(_index_data_dir(path)))


def _reset_generations(path: str) -> None:
    """Full rebuild: clear generation pointers and compacted dirs so the
    freshly-written ``data/`` (generation 0) is what readers resolve —
    otherwise a rebuild over a compacted index would leave a stale
    pointer at the old generation."""
    import shutil

    shutil.rmtree(os.path.join(path, store.GEN_DIR), ignore_errors=True)
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return
    for name in names:
        if name.startswith(("data-g", "gen=")):
            shutil.rmtree(os.path.join(path, name), ignore_errors=True)


def current_generation(path: str) -> tuple[int, str]:
    """(generation, data directory) of a persisted index.

    Generation 0 is ``data/`` with no pointer published (every index
    built before generations existed resolves unchanged).  Each
    compaction publishes the next generation as a ``store.py`` pointer
    naming an immutable data directory; readers resolve it once per
    probe, so a probe runs wholly against one complete generation —
    never a half-swapped mix."""
    return store.resolve_generation(path, "data")[:2]


def _index_data_dir(path: str) -> str:
    return current_generation(path)[1]


def index_data_files(path: str) -> list[str]:
    """Data files of the CURRENT generation (for compaction bookkeeping)."""
    out = []
    for root, _dirs, files in os.walk(_index_data_dir(path)):
        out.extend(os.path.join(root, f) for f in files
                   if f.endswith(".parquet"))
    return sorted(out)


def compact_ann_index(spark: SparkSession, path: str) -> int:
    """Merge the per-append small files back to one sorted file per
    partition (LSH: per ``t``, sig-sorted so row-group stats prune again
    at full strength; IVF: per ``centroid_id``).

    Atomic for concurrent PROBES: the compacted copy is written to a
    fresh directory private to this run and becomes the next generation
    only when its ``store.py`` pointer publishes (exclusive create); a
    concurrent probe reads either the old complete generation or the
    new one, never a mix.  A compactor that loses the publish to a
    concurrent one deletes its output and raises ``OSError``.
    Generations older than the previous one are vacuumed; the previous
    one stays for probes that resolved it just before the flip.
    Appends remain single-maintainer: an append racing the compactor's
    read can land files in the outgoing generation and be dropped by the
    flip — serialize appends and compaction in one maintenance queue.
    Returns the file count after."""
    with open(os.path.join(path, "_meta")) as f:
        meta = json.load(f)
    key = "t" if meta["kind"] == "lsh" else "centroid_id"
    gen, src = current_generation(path)
    rows = spark.read.parquet(src).repartition(key)
    if meta["kind"] == "lsh":
        rows = rows.sortWithinPartitions("t", "sig")
    dst = store.new_generation_dir(path, gen + 1)
    rows.write.mode("overwrite").partitionBy(key).parquet(dst)
    store.flip_generation(path, gen + 1, dst)
    store.vacuum_generations(path, "data", keep=2)
    return len(index_data_files(path))


def embedding_dedup_pairs(df: DataFrame, vec_col: str = "embedding",
                          id_col: str = "vec_id", threshold: float = 0.95,
                          num_bits: int = 8, num_tables: int = 4,
                          dim: int = 64, seed: int = 42) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the 4th dedup family):
    random-hyperplane bucketing for candidates + exact cosine verify.

    A pair lands in the candidate set if any of ``num_tables``
    hyperplane tables gives both vectors the same ``num_bits``-bit sign
    signature (collision probability per table ``(1-θ/π)^bits`` — high
    for near-parallel vectors).  The self-join is per (table, signature)
    bucket, never all-pairs; exact cosine filters to ``>= threshold``.

    The candidate join carries BARE IDS only — at 1k-dim embeddings a
    vector-laden (table × row) shuffle would be dominated by payload, so
    vectors are re-attached to the (much smaller, deduplicated) pair set
    by two id-joins just before the exact verify.
    """
    tagged = df.select(F.col(id_col).alias("_id"), F.col(vec_col))
    sigs = []
    for t in range(num_tables):
        tagged = hyperplane_signature(tagged, vec_col, num_bits, dim,
                                      seed + 1000 * t, out_col=f"_sig{t}")
        sigs.append(f"_sig{t}")
    # cache the slim (id, t, sig) frame: the candidate self-join below
    # puts it on BOTH sides, and without materialization Catalyst
    # re-evaluates the (num_tables × num_bits dot products) signature
    # expression tree once per side — 2× the dominant scan at scale.
    # Mirrors minhash_lsh_pairs' cached `base`; caller releases via
    # dedup.release().
    slim = (tagged.withColumn(
        "_tb", F.explode(F.array(*[
            F.struct(F.lit(t).alias("t"), F.col(s).alias("sig"))
            for t, s in enumerate(sigs)
        ]))).select("_id", "_tb.t", "_tb.sig")
        .cache())

    a = slim.select(F.col("_id").alias("id_a"), "t", "sig")
    b = slim.select(F.col("_id").alias("id_b"), "t", "sig")
    pairs = (a.join(b, ["t", "sig"]).where(F.col("id_a") < F.col("id_b"))
              .select("id_a", "id_b").dropDuplicates())
    vecs = df.select(F.col(id_col).alias("_vid"), F.col(vec_col))
    va = vecs.select(F.col("_vid").alias("id_a"),
                     F.col(vec_col).alias("_va"))
    vb = vecs.select(F.col("_vid").alias("id_b"),
                     F.col(vec_col).alias("_vb"))
    sim = cosine_sim(F.col("_va"), F.col("_vb"))
    out = (pairs.join(va, "id_a").join(vb, "id_b")
                .withColumn("cosine_sim", F.round(sim, 6))
                .where(F.col("cosine_sim") >= threshold)
                .select("id_a", "id_b", "cosine_sim"))
    out._zdb_cache_handles = [slim]
    return out


def semantic_dedup(df: DataFrame, vec_col: str = "embedding",
                   id_col: str = "vec_id", *, threshold: float = 0.95,
                   centroids=None, n_clusters: int = 16,
                   sample_size: int = 4096, iters: int = 10,
                   seed: int = 42,
                   max_cluster_size: int = 100_000) -> DataFrame:
    """SemDeDup-shaped semantic deduplication: cluster the corpus, then
    drop every document that has a SMALLER-ID neighbor at cosine >=
    ``threshold`` within its cluster cell.

    Output: one row per input doc — ``(id, cell, keep, dup_of)`` where
    ``dup_of`` is the smallest in-cell neighbor above threshold (NULL for
    kept docs).  Cell-LOCAL by design, like SemDeDup: near-dups that
    straddle a cluster boundary are not candidates — that is the
    approximation that removes the all-pairs O(n²); recall is tuned by
    cluster count/size, not by widening the join.  For exact component
    resolution of the survivors, feed the implied pairs through
    ``dedup.duplicate_clusters``.

    Execution at 100 TB: centroid training is a bounded driver sample
    (``ivf_index``) or caller-fixed ``centroids`` (deterministic,
    oracle-checkable); assignment is a narrow codegen'd map (no
    shuffle); the candidate self-join shuffles BARE IDS on the cell key
    only, vectors re-attach to the (far smaller) pair set by two
    id-joins before the exact cosine verify — the same payload
    discipline as ``embedding_dedup_pairs``.  Cells larger than
    ``max_cluster_size`` are excluded from pairing (their members come
    back ``keep=true``) and surfaced on the result as
    ``_zdb_skipped_cells`` — a hot-cell quadratic blowup is refused
    loudly, mirroring the MinHash hot-bucket cap.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if centroids is not None:
        assigned = assign_centroids(df, centroids, vec_col, "_cell")
    else:
        assigned, _ = ivf_index(df, vec_col, n_clusters, sample_size,
                                iters, seed, out_col="_cell")
    slim = assigned.select(F.col(id_col).alias("_id"), "_cell").cache()

    sizes = slim.groupBy("_cell").agg(F.count(F.lit(1)).alias("n"))
    big = {int(r["_cell"]): int(r["n"]) for r in
           sizes.where(F.col("n") > max_cluster_size).collect()}
    cand = slim.where(~F.col("_cell").isin(*big)) if big else slim

    a = cand.select(F.col("_id").alias("id_a"), "_cell")
    b = cand.select(F.col("_id").alias("id_b"), "_cell")
    pairs = (a.join(b, "_cell")
             .where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b"))
    va = df.select(F.col(id_col).alias("id_a"),
                   F.col(vec_col).alias("_va"))
    vb = df.select(F.col(id_col).alias("id_b"),
                   F.col(vec_col).alias("_vb"))
    sim = cosine_sim(F.col("_va"), F.col("_vb"))
    dup = (pairs.join(va, "id_a").join(vb, "id_b")
           .where(F.round(sim, 6) >= F.lit(threshold))
           .groupBy("id_b").agg(F.min("id_a").alias("dup_of")))

    # Final frame derives from the CACHED slim (id, cell) projection,
    # not from `assigned`: re-using `assigned` here re-ran the whole
    # corpus synthesis + centroid-assignment expression tree a second
    # time for the output join (the cache holds slim, not assigned) —
    # measured as a full extra corpus pass in the r18 optimization
    # round; slim already carries exactly the columns the output needs.
    out = (slim
           .join(dup, slim["_id"] == dup["id_b"], "left")
           .select(F.col("_id").alias(id_col),
                   F.col("_cell").cast("int").alias("cell"),
                   F.col("dup_of").isNull().alias("keep"),
                   F.col("dup_of")))
    out._zdb_skipped_cells = big
    out._zdb_cache_handles = [slim]
    return out


def knn_join_lsh(left: DataFrame, right: DataFrame, k: int = 5,
                 vec_col: str = "embedding", left_id: str = "vec_id",
                 right_id: str = "vec_id", num_bits: int = 8,
                 num_tables: int = 8, dim: int = 64,
                 seed: int = 42) -> DataFrame:
    """Approximate k-NN JOIN for two LARGE sides — neither broadcastable.

    Both sides get the same hyperplane signatures; candidates come from a
    (t, sig) equi-join (a hash shuffle on small keys, never a cross
    product), then a per-left-row window keeps the top-k by exact cosine.
    The join carries bare ids; vectors re-attach to the deduplicated
    candidate set.  Recall follows the per-pair bucket-collision bound —
    near-parallel pairs are found with probability ~1, and ``num_tables``
    is the recall dial.  This is the 100-TB shape ``knn_join_bruteforce``
    explicitly is not (its broadcast side must fit in memory).
    """
    from pyspark.sql import Window

    def tag(df: DataFrame, id_col: str, out_id: str) -> DataFrame:
        t = df.select(F.col(id_col).alias(out_id), F.col(vec_col))
        for i in range(num_tables):
            t = hyperplane_signature(t, vec_col, num_bits, dim,
                                     seed + 1000 * i, out_col=f"_s{i}")
        # cache the slim signature frame (ids + 2 longs, no vectors):
        # the equi-join shuffles it, and AQE re-optimization / stage
        # retries re-evaluate uncached expression trees — for the
        # signature tree that's num_tables × num_bits dot products over
        # the full corpus.  Materializing pins the cost to one pass.
        return (t.withColumn("_tb", F.explode(F.array(*[
            F.struct(F.lit(i).alias("t"), F.col(f"_s{i}").alias("sig"))
            for i in range(num_tables)
        ]))).select(out_id, "_tb.t", "_tb.sig")
            .cache())

    lt, rt = tag(left, left_id, "_lid"), tag(right, right_id, "_rid")
    cand = (lt.join(rt, ["t", "sig"])
            .select("_lid", "_rid").dropDuplicates())
    lv = left.select(F.col(left_id).alias("_lid"),
                     F.col(vec_col).alias("_lv"))
    rv = right.select(F.col(right_id).alias("_rid"),
                      F.col(vec_col).alias("_rv"))
    scored = (cand.join(lv, "_lid").join(rv, "_rid")
              .withColumn("cosine_sim",
                          F.round(cosine_sim(F.col("_lv"), F.col("_rv")), 6)))
    w = Window.partitionBy("_lid").orderBy(F.desc("cosine_sim"),
                                           F.col("_rid"))
    out = (scored.withColumn("_rank", F.row_number().over(w))
           .where(F.col("_rank") <= k)
           .select(F.col("_lid").alias(left_id),
                   F.col("_rid").alias("neighbor_id"),
                   "cosine_sim", F.col("_rank").alias("rank")))
    out._zdb_cache_handles = [lt, rt]
    return out


def knn_join_bruteforce(left: DataFrame, right: DataFrame, k: int = 5,
                        vec_col: str = "embedding",
                        left_id: str = "vec_id",
                        right_id: str = "vec_id") -> DataFrame:
    """All-pairs k-NN join (left rows → top-k right rows by cosine).

    Implemented as broadcast(right) × left + per-left-row window top-k.
    Correct when the right side fits in a broadcast (the common
    "match against a reference set" shape); for two huge sides use
    ``hyperplane_signature`` bucketing on both sides instead.
    """
    from pyspark.sql import Window

    r = right.select(F.col(right_id).alias("_rid"),
                     F.col(vec_col).alias("_rvec"))
    sim = cosine_sim(F.col(vec_col), F.col("_rvec"))
    joined = (left.crossJoin(F.broadcast(r))
              .withColumn("cosine_sim", F.round(sim, 6)))
    w = (Window.partitionBy(left_id)
         .orderBy(F.desc("cosine_sim"), F.col("_rid")))
    return (joined.withColumn("_rank", F.row_number().over(w))
            .where(F.col("_rank") <= k)
            .select(F.col(left_id), F.col("_rid").alias("neighbor_id"),
                    "cosine_sim", F.col("_rank").alias("rank")))


# --------------------------------------------------------------------- #
# Product quantization (PQ): compressed-domain ANN                       #
# --------------------------------------------------------------------- #
def pq_train(df: DataFrame, vec_col: str = "embedding",
             id_col: str = "vec_id", m: int = 8, k: int = 16,
             sample_size: int = 4096, seed: int = 7,
             n_iter: int = 10) -> np.ndarray:
    """Train PQ codebooks: split each vector into ``m`` subvectors and
    k-means each subspace to ``k`` centroids (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011 — public
    method).

    Training is driver-side numpy over a BOUNDED sample (like the IVF
    coarse quantizer): deterministic because the sample is the first
    ``sample_size`` rows by ``id_col`` and init/iterations are seeded,
    fixed-count Lloyd.  Codebook size is m·k·(d/m) floats — KBs — so it
    ships to executors as a closure, never a shuffle.

    Returns array of shape (m, k, d//m).
    """
    sample = np.array(
        (df.orderBy(id_col).limit(sample_size)
         .select(F.col(vec_col).cast("array<double>"))
         .toPandas())[vec_col].tolist())
    n, d = sample.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, k, sub))
    for j in range(m):
        x = sample[:, j * sub:(j + 1) * sub]
        # k-means++ init, then fixed-iteration Lloyd (empty clusters
        # re-seeded deterministically from the farthest points)
        cents = x[rng.choice(n, 1)]
        for _ in range(1, k):
            d2 = ((x[:, None, :] - cents[None]) ** 2).sum(-1).min(1)
            p = d2 / d2.sum() if d2.sum() > 0 else None
            cents = np.vstack([cents, x[rng.choice(n, 1, p=p)]])
        for _ in range(n_iter):
            d2 = ((x[:, None, :] - cents[None]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    cents[c] = x[mask].mean(0)
                else:
                    cents[c] = x[d2.min(1).argmax()]
        books[j] = cents
    return books


def pq_encode(df: DataFrame, codebooks: np.ndarray,
              vec_col: str = "embedding",
              id_col: str = "vec_id",
              extra_cols: list[str] | None = None) -> DataFrame:
    """Encode vectors to ``m`` uint8 codes (nearest centroid per
    subspace): d·4 bytes → m bytes, e.g. 32x for 64-dim float32 at m=8.

    Arrow-batched pandas UDF: the per-subspace argmin over k centroids
    is the documented case where codegen can't express the arithmetic
    (the IVF nearest-centroid expression tree hangs the planner past
    ~12 centroids — see _nearest_centroid_col); numpy does the whole
    batch in one einsum-shaped pass.
    """
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    m, k, sub = codebooks.shape
    cb = codebooks  # closure capture (KBs)

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(vs):
        import pandas as pd

        x = np.array(vs.tolist(), dtype=np.float64)
        out = np.empty((x.shape[0], m), dtype=np.int32)
        for j in range(m):
            xs = x[:, j * sub:(j + 1) * sub]
            d2 = ((xs[:, None, :] - cb[j][None]) ** 2).sum(-1)
            out[:, j] = d2.argmin(1)
        return pd.Series(list(out))

    return df.select(F.col(id_col), *[F.col(c) for c in extra_cols or []],
                     encode(
        F.col(vec_col).cast("array<double>")).alias("pq_codes"))


def pq_topk(codes_df: DataFrame, query_vec: list[float],
            codebooks: np.ndarray, vectors: DataFrame, k: int = 10,
            rerank: int = 64, vec_col: str = "embedding",
            id_col: str = "vec_id") -> DataFrame:
    """Compressed-domain top-k: ADC (asymmetric distance computation)
    over the codes, then exact cosine rerank of the top ``rerank``
    candidates against the uncompressed vectors.

    The query builds two m·k lookup tables driver-side (dot(q_j, c) and
    |c|^2 per subspace centroid); the scan then scores each row ENTIRELY
    in codegen — `aggregate(sequence(0,m-1), acc + lut[j*k + code_j])` —
    reading only the m-byte codes, never the vectors.  At 100 TB that is
    the difference between scanning 32x-compressed codes and scanning raw
    floats; only ``rerank`` rows touch the full vectors at the end.
    """
    m, kk, sub = codebooks.shape
    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.sqrt((q * q).sum()))
    dot_lut = np.array([[float(q[j * sub:(j + 1) * sub] @ c)
                         for c in codebooks[j]] for j in range(m)]).ravel()
    nrm_lut = np.array([[float((c * c).sum()) for c in codebooks[j]]
                        for j in range(m)]).ravel()
    dots = _vec_lit(dot_lut)
    nrms = _vec_lit(nrm_lut)

    def lut_sum(lut: Column) -> Column:
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)), F.lit(0.0),
            lambda acc, j: acc + F.element_at(
                lut, (j * kk + F.element_at(F.col("pq_codes"), j + 1)
                      + 1).cast("int")))

    approx = (F.col("_adot")
              / (F.lit(qn) * F.sqrt(F.col("_anrm")) + F.lit(1e-12)))
    cand = (codes_df
            .withColumn("_adot", lut_sum(dots))
            .withColumn("_anrm", lut_sum(nrms))
            .withColumn("approx_cos", approx)
            .orderBy(F.col("approx_cos").desc(), F.col(id_col))
            .limit(rerank)
            .select(id_col))
    qlit = _vec_lit(query_vec)
    exact = cosine_sim(F.col(vec_col), qlit)
    return (vectors.join(F.broadcast(cand), id_col)
            .withColumn("cosine_sim", F.round(exact, 6))
            .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
            .limit(k)
            .select(id_col, "cosine_sim"))


def build_ivfpq_index(df: DataFrame, path: str,
                      vec_col: str = "embedding", id_col: str = "vec_id",
                      n_centroids: int = 16, m: int = 8, k: int = 16,
                      sample_size: int = 4096, seed: int = 42,
                      pq_seed: int = 7) -> None:
    """Persist a COMPOSED IVF+PQ index — the two pruning mechanisms this
    module ships, stacked (the SCALE.md claim, now implemented):

    - IVF coarse quantizer: rows land in parquet PARTITIONED by
      ``centroid_id``, so a probe's candidate selection is partition
      pruning (reads n_probe/n_centroids of the rows);
    - PQ codes stored NEXT TO the raw vectors in the same files: the ADC
      scan projects only (vec_id, pq_codes) — parquet column pruning
      reads the m-byte codes and skips the float vectors entirely — and
      only the final ``rerank`` candidates fetch ``vec_col``.

    Net bytes touched per query ~ (n_probe/n_centroids) x (1/32) of the
    corpus + ``rerank`` raw vectors.  Both quantizers train on bounded
    driver-side samples; the sidecar carries coarse centroids AND PQ
    codebooks so probes never retrain."""
    assigned, cents = ivf_index(df, vec_col, n_centroids, sample_size,
                                seed=seed)
    books = pq_train(df, vec_col, id_col, m=m, k=k,
                     sample_size=sample_size, seed=pq_seed)
    coded = pq_encode(assigned, books, vec_col, id_col,
                      extra_cols=["centroid_id", vec_col])
    _reset_generations(path)
    (coded.select(F.col(id_col).alias("vec_id"), "pq_codes",
                  F.col(vec_col), "centroid_id")
          .repartition("centroid_id")
          .write.mode("overwrite").partitionBy("centroid_id")
          .parquet(os.path.join(path, "data")))
    with open(os.path.join(path, "_meta"), "w") as f:
        json.dump({"kind": "ivfpq", "centroids": cents.tolist(),
                   "codebooks": books.tolist(), "vec_col": vec_col}, f)


def ivfpq_index_topk(spark: SparkSession, path: str,
                     query_vec: list[float], k: int = 10,
                     n_probe: int = 4, rerank: int = 64) -> DataFrame:
    """Probe a persisted IVF+PQ index: driver-side coarse argmax picks
    ``n_probe`` cells (partition pruning), the ADC scan scores only the
    code column of those cells in codegen, and the exact rerank joins
    back to the raw vectors of the same pruned cells for the top
    ``rerank`` candidates (pq_topk does the ADC+rerank; this wrapper
    supplies it pruned inputs)."""
    with open(os.path.join(path, "_meta")) as f:
        meta = json.load(f)
    cents = np.asarray(meta["centroids"], dtype=np.float64)
    books = np.asarray(meta["codebooks"], dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    probe = [int(i) for i in np.argsort(-(cents @ qn))[:n_probe]]
    idx = (spark.read.parquet(_index_data_dir(path))
           .where(F.col("centroid_id").isin(probe)))
    codes = idx.select("vec_id", "pq_codes")
    vectors = idx.select("vec_id", meta["vec_col"])
    return pq_topk(codes, query_vec, books, vectors, k=k, rerank=rerank,
                   vec_col=meta["vec_col"], id_col="vec_id")


def quantize_embeddings(df: DataFrame, vec_col: str = "embedding", *,
                        bits: int = 8, codes_col: str = "codes",
                        scale_col: str = "scale") -> DataFrame:
    """Symmetric per-vector scalar quantization to ``bits``-bit integer
    codes — the storage/bandwidth half of an embedding pipeline (an
    int8 corpus is 4x smaller than float32, which at 100 TB is the
    difference between an index that fits cluster memory and one that
    doesn't; serving stacks rerank the int8 candidates against the raw
    vectors exactly like pq_topk's ADC+rerank split).

    ``scale = max|x| / qmax`` per vector; ``q_i = floor(x_i/scale + 0.5)``
    (explicit half-up via floor rather than an engine ``round`` call, so
    the tie rule is pinned by IEEE arithmetic both engines share — the
    same determinism trick as the operators' md5 bucketing).  All-zero
    vectors quantize to all-zero codes (scale 0 guard).  Everything is
    ``transform``/``aggregate`` higher-order expressions: row-local,
    zero shuffle, whole-stage codegen.
    """
    from .dedup import let

    qmax = float(2 ** (bits - 1) - 1)
    v = _as_double(F.col(vec_col))
    maxabs = F.aggregate(v, F.lit(0.0),
                         lambda acc, x: F.greatest(acc, F.abs(x)))
    scale = maxabs / F.lit(qmax)
    codes = let(scale, lambda s: F.transform(
        v, lambda x: F.when(s > 0, F.floor(x / s + F.lit(0.5)))
                      .otherwise(F.lit(0)).cast("long")))
    return (df.withColumn(scale_col, scale)
              .withColumn(codes_col, codes))


def int8_topk(df: DataFrame, query_vec: list[float], k: int = 10,
              rerank: int = 64, bits: int = 8,
              vec_col: str = "embedding",
              id_col: str = "vec_id",
              codes_df: DataFrame | None = None) -> DataFrame:
    """Cosine top-k over the int8-quantized corpus + exact rerank — the
    serving pattern quantize_embeddings exists for (pq_topk's ADC/rerank
    split, with scalar codes instead of codebooks: no training pass).

    The byte saving is real only when the candidate scan reads a
    MATERIALIZED codes corpus: pass ``codes_df`` — a frame with
    (id_col, codes, scale), e.g. ``quantize_embeddings(df).select(id,
    "codes", "scale")`` written to parquet once — and the scan touches
    1/4 of the float32 bytes (raw vectors are read only for the
    ``rerank``-row exact pass).  Without ``codes_df`` the operator
    quantizes INLINE from the raw vectors — correct, and what the
    correctness gate exercises, but the scan then reads 100% of the
    float bytes; inline mode is for ad-hoc queries, not the 100 TB
    serving path.

    Approx score per row = ``scale * Σ codes_i · q_i`` — proportional to
    ``dot(dequantized(x), q)`` — computed by a codegen ``zip_with`` +
    ``aggregate`` fold, so the scan is JVM-only.  The top ``rerank``
    candidates (TakeOrdered per-partition heaps, driver-bounded) rerank
    by exact cosine against their raw vectors via a broadcast semi-join.
    Rounded-score + id ordering keeps both cut boundaries deterministic
    cross-engine.
    """
    if codes_df is not None:
        q = codes_df.select(id_col, "codes", "scale")
    else:
        q = quantize_embeddings(df.select(id_col, vec_col), vec_col,
                                bits=bits)
    qlit = _vec_lit(query_vec)
    approx = F.col("scale") * F.aggregate(
        F.zip_with(F.col("codes"), qlit, lambda c, x: c * x),
        F.lit(0.0), lambda acc, x: acc + x)
    cand = (q.select(F.col(id_col),
                     F.round(approx, 6).alias("approx_score"))
             .orderBy(F.desc("approx_score"), F.col(id_col))
             .limit(rerank))
    sim = cosine_sim(F.col(vec_col), qlit)
    return (df.select(id_col, vec_col)
              .join(F.broadcast(cand), id_col)
              .select(F.col(id_col), F.round(sim, 6).alias("cosine_sim"))
              .orderBy(F.desc("cosine_sim"), F.col(id_col))
              .limit(k))


def _gram_partial_sums(df: DataFrame, vec_col: str, dim: int):
    """Per-partition Gram partials for embedding_covariance's large-d
    path: each Arrow partition yields ONE (d²+d)-row frame —
    ``__idx < d²`` carries ``(Vᵀ·V).ravel()``, the tail d carries the
    column sums, ``__n`` the partition's row count — computed by a
    single BLAS matmul per partition.  Bounded state: one d×d float64
    per task regardless of partition size.  Ragged/short vectors fail
    loudly (numpy stack raises on mixed lengths; an explicit check
    covers the all-same-but-wrong-length case)."""
    import pandas as pd

    def gram(batches):
        S = np.zeros((dim, dim))
        m = np.zeros(dim)
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            rows = [v for v in pdf[vec_col] if v is not None]
            if not rows:
                continue
            V = np.asarray([np.asarray(v, dtype=np.float64)
                            for v in rows])
            if V.ndim != 2 or V.shape[1] != dim:
                raise ValueError(
                    f"embedding_covariance: vector of length "
                    f"{V.shape[-1] if V.ndim == 2 else 'ragged'} "
                    f"does not match dim={dim}")
            S += V.T @ V
            m += V.sum(axis=0)
            n += V.shape[0]
        if n:
            yield pd.DataFrame({
                "__idx": np.arange(dim * dim + dim, dtype=np.int64),
                "__s": np.concatenate([S.ravel(), m]),
                "__n": np.int64(n)})

    partials = df.select(vec_col).mapInPandas(
        gram, "__idx long, __s double, __n long")
    return (partials.groupBy("__idx")
            .agg(F.sum("__s").alias("__s"), F.sum("__n").alias("__n")))


def embedding_covariance(df: DataFrame, vec_col: str = "embedding", *,
                         dim: int | None = None,
                         round_dp: int = 6,
                         method: str = "exact") -> DataFrame:
    """Distributed population covariance matrix of the embedding corpus
    — the d×d sufficient statistic PCA/whitening needs, as (i, j, cov)
    rows.

    ONE corpus pass, the kmeans_lloyd shuffle recipe: each row builds
    its flattened outer product (d² doubles) with the raw vector
    appended (d more, for the means), ``posexplode``s to (idx, val),
    and a partially-aggregated groupBy caps the shuffle at d²+d rows
    PER TASK regardless of corpus size (the d-wide ``agg(sum…)``
    alternative is the Janino-hostile shape the kmeans docstring
    documents).  The tiny (d²+d)-row result combines into
    ``cov = (S_ij − S_i·S_j/n)/n`` via two broadcast joins of the d-row
    mean frame.

    Determinism (the round-10 red-gate fix): each product is cast to
    ``DECIMAL(38,12)`` BEFORE the sum, so the corpus-sized accumulation
    is exact integer arithmetic — order-independent across partial-agg
    schedules, engines, and hosts (a double fold's result depends on
    accumulation order; a decimal fold's does not).  The one rounding
    the cast introduces is per-PRODUCT at 12 dp — a deterministic
    row-local map, identical in any engine — and the downstream combine
    is a fixed scalar expression over those exact sums, so the final
    ``round(…, round_dp)`` sees bit-identical doubles everywhere.
    Magnitude guard: 38−12 = 26 integer digits of headroom means the
    sum stays exact up to ~1e26, i.e. 1e12 rows of unit-scale products
    — far past 100 TB of embeddings.

    ``method``: ``"exact"`` (default, the oracle-gated path above) or
    ``"gram"`` — the LARGE-d path.  The exact path materializes a d²
    array PER ROW before the explode (d=1024 → 8 MB/row: Tungsten row
    buffers and explode amortization fall over), so for d ≥ ~512 the
    gram path instead computes each Arrow partition's Gram matrix
    ``Vᵀ·V`` with one BLAS matmul via ``mapInPandas`` and emits ONE
    (d²+d)-row partial per partition — per-task memory is a single
    d×d float64 (8 MB at d=1024, independent of rows), the shuffle is
    (d²+d)·num_partitions rows, and the same broadcast mean-correction
    combine finishes it.  Trade-off: per-partition float accumulation
    makes the result deterministic only up to partitioning (~1e-12
    relative), so the hash-gated default stays "exact"; tests pin the
    two paths against each other at 1e-9.
    """
    if method not in ("exact", "gram"):
        raise ValueError(f"embedding_covariance: unknown method "
                         f"{method!r} (exact|gram)")
    from .dedup import let

    if dim is None:
        # one bounded probe row (same driver-state class as ivf_index's
        # sample); fail clearly on an empty frame instead of len(None)
        probe = df.select(_as_double(F.col(vec_col))).first()
        if probe is None or probe[0] is None:
            raise ValueError("embedding_covariance: empty frame (or "
                             "null vector) and no dim= given")
        dim = len(probe[0])
    # ragged-vector guard: a short vector's flattened outer product
    # would land in the WRONG (i, j) cells under the global d decode —
    # silently corrupting the matrix.  Refuse loudly (row-local check,
    # the hyperplane_signature recipe).
    if method == "gram":
        sums = _gram_partial_sums(df, vec_col, dim)
    else:
        # magnitude guard: a product past ~1e26 overflows the
        # decimal(38,12) cast, which non-ANSI Spark turns into a SILENT
        # NULL the sum then skips (while __n still counts the row, and
        # while the DuckDB oracle ERRORS on the same cast) — so refuse
        # loudly at the row level instead: |x| <= 1e13 bounds every
        # product at 1e26.  Row-local, same recipe as the ragged check.
        too_big = F.aggregate(
            _as_double(F.col(vec_col)), F.lit(0.0),
            lambda acc, x: F.greatest(acc, F.abs(x))) > F.lit(1e13)
        checked = F.when(
            F.size(F.col(vec_col)) != dim,
            F.raise_error(F.concat(
                F.lit("embedding_covariance: vector of length "),
                F.size(F.col(vec_col)).cast("string"),
                F.lit(f" does not match dim={dim}")))
            .cast("array<double>")
        ).when(
            too_big,
            F.raise_error(F.lit(
                "embedding_covariance: |value| > 1e13 would overflow "
                "the exact decimal sum — rescale the vectors or use "
                "method='gram'")).cast("array<double>")
        ).otherwise(_as_double(F.col(vec_col)))
        flat = let(checked, lambda x: F.concat(
            F.flatten(F.transform(
                x, lambda xi: F.transform(x, lambda xj: xi * xj))), x))
        sums = (df.select(F.posexplode(flat).alias("__idx", "__val"))
                  .groupBy("__idx")
                  .agg(F.sum(F.col("__val").cast("decimal(38,12)"))
                        .cast("double").alias("__s"),
                       F.count(F.lit(1)).alias("__n")))
    d = F.lit(dim)
    prods = (sums.where(F.col("__idx") < d * d)
             .select((F.col("__idx") / d).cast("int").alias("i"),
                     (F.col("__idx") % d).cast("int").alias("j"),
                     F.col("__s").alias("s_ij"), F.col("__n").alias("n")))
    means = (sums.where(F.col("__idx") >= d * d)
             .select((F.col("__idx") - d * d).cast("int").alias("dim"),
                     F.col("__s").alias("s_d")))
    return (prods
            .join(F.broadcast(means.withColumnRenamed("dim", "i")
                              .withColumnRenamed("s_d", "s_i")), "i")
            .join(F.broadcast(means.withColumnRenamed("dim", "j")
                              .withColumnRenamed("s_d", "s_j")), "j")
            .select("i", "j",
                    round0((F.col("s_ij")
                            - F.col("s_i") * F.col("s_j") / F.col("n"))
                           / F.col("n"), round_dp).alias("cov")))


def pca_components(df: DataFrame, q: int, vec_col: str = "embedding", *,
                   round_dp: int = 6,
                   method: str = "exact",
                   cov_df: DataFrame | None = None
                   ) -> tuple[np.ndarray, np.ndarray]:
    """Top-``q`` principal components of the embedding corpus:
    distributed covariance (``embedding_covariance``, one corpus pass)
    + driver-side ``numpy.linalg.eigh`` on the d×d matrix — the same
    bounded-driver-state split as kmeans_lloyd (the eigensolve is
    O(d³) on KBs of data; the corpus never leaves the cluster).

    Determinism: eigh runs on the ROUNDED covariance (the exact values
    the gate oracle checks), and each component's sign is fixed by
    making its largest-|coefficient| entry positive — the standard
    sign convention, so reruns and hosts agree up to LAPACK's own
    reproducibility.  Returns (components [q×d], explained_variance
    [q]), both rounded to ``round_dp``.

    Train once, reuse: the covariance pass is the entire corpus cost —
    asking for a different ``q``, re-running after a driver restart, or
    deriving whitening AND components must not re-read 100 TB.  Pass
    ``cov_df`` (an (i, j, cov) frame from ``embedding_covariance``,
    already rounded to ``round_dp``) to skip the corpus pass and go
    straight to the driver eigensolve; ``df``/``vec_col``/``method``
    are ignored in that case.
    """
    rows = (cov_df if cov_df is not None
            else embedding_covariance(df, vec_col, round_dp=round_dp,
                                      method=method)).collect()
    d = max(r["i"] for r in rows) + 1
    cov = np.zeros((d, d))
    for r in rows:
        cov[r["i"], r["j"]] = r["cov"]
    vals, vecs = np.linalg.eigh(cov)      # ascending
    order = np.argsort(-vals)[:q]
    comps, evs = [], []
    for idx in order:
        c = vecs[:, idx]
        if c[np.argmax(np.abs(c))] < 0:
            c = -c
        comps.append(np.round(c, round_dp))
        evs.append(round(float(vals[idx]), round_dp))
    return np.asarray(comps), np.asarray(evs)


def pca_project(df: DataFrame, components, vec_col: str = "embedding",
                out_col: str = "pca", round_dp: int = 6) -> DataFrame:
    """Project embeddings onto PCA components (or any literal q×d
    matrix): the components inline as a literal array-of-arrays —
    broadcast by value, the hyperplane_signature recipe — and each
    output coordinate is one ``zip_with``+``aggregate`` dot product.
    Pure zero-shuffle codegen projection: reducing 100 TB of d-dim
    vectors to q dims is exactly one read+write pass.
    """
    from .dedup import let

    comp_arr = _mat_lit(components)
    proj = let(_as_double(F.col(vec_col)), lambda v: F.transform(
        comp_arr,
        lambda c: round0(F.aggregate(
            F.zip_with(v, c, lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x), round_dp)))
    return df.withColumn(out_col, proj)
