#!/usr/bin/env python
"""Measure recall@k of every approximate ANN method vs brute force.

The driver gates verify the ANN operators on PLANTED corpora (exactly
recallable by construction); this probe answers the complementary
question the round-7 verdict asked: what recall do the approximate
indexes achieve on the RAW (non-planted) embeddings, where neighbors
are wherever the data put them?

For each of ``--queries`` corpus vectors, ground truth is the exact
cosine top-k (numpy, driver-side — this is a measurement tool, not an
operator); each method's top-k then scores |hits| / k.  Methods and
parameters mirror the driver gates exactly (same bits/tables/centroids/
m/k/rerank), so the numbers transfer.

``--planted`` instead measures on the dedup-gate corpus (every vector
plus a near-copy at cos ~0.9988): this is the regime ANN indexes are
FOR — real duplicate/neighbor structure — whereas the raw embeddings
are near-orthogonal (max pairwise cosine ~0.5), where "top-10" is an
essentially arbitrary ordering of cosines 0.3-0.5 with ~0.01 gaps that
no sublinear method can (or needs to) reproduce.

Usage: python tools/ann_recall_probe.py [--sf-dir DIR] [--queries N]
                                        [--k K] [--planted]

Prints one row per method (mean recall@k, mean probe seconds) and a
final JSON line for SCALE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--queries", type=int, default=20)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--planted", action="store_true",
                    help="measure on the dedup-gate corpus (each vector "
                         "+ a near-copy at cos~0.9988)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from zdb_spark.operators.similarity import (build_ivf_index,
                                                build_ivfpq_index,
                                                build_lsh_index,
                                                ivf_index_topk,
                                                ivfpq_index_topk,
                                                lsh_index_topk, pq_encode,
                                                pq_topk, pq_train)
    from zdb_spark.session import get_spark

    spark = get_spark("ann-recall-probe")
    spark.sparkContext.setLogLevel("ERROR")

    emb = entry._load(spark, args.sf_dir, "embeddings")
    corpus = (entry._dedup_corpus(emb) if args.planted
              else entry._emb_double(emb))
    rows = sorted(corpus.collect(), key=lambda r: r["vec_id"])
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    n = len(ids)
    mode = "planted" if args.planted else "raw"
    print(f"corpus: {n} vectors, dim {mat.shape[1]} ({mode})", flush=True)

    # evenly spread queries across the ORIGINAL vectors.  Originals are
    # detected by the planted relationship itself (id+100000 exists),
    # not by an id threshold — replica corpora (tools/make_sf_replica)
    # offset ids far past 100000 and a threshold would silently sample
    # only the first replica.
    if args.planted:
        orig_pos = np.where(np.isin(ids + 100000, ids))[0]
        assert len(orig_pos) * 2 == n, "planted corpus shape unexpected"
    else:
        orig_pos = np.arange(n)
    q_idx = orig_pos[np.linspace(0, len(orig_pos) - 1,
                                 args.queries).astype(int)]

    def ground_truth(qi: int) -> set:
        sims = (mat @ mat[qi]) / (norms * norms[qi] + 1e-12)
        # mirror brute_force_topk's tie-break: desc sim, asc vec_id
        order = np.lexsort((ids, -sims))
        return set(ids[order[: args.k]].tolist())

    gt = {qi: ground_truth(qi) for qi in q_idx}

    root = os.path.join(tempfile.gettempdir(), "zdb_ann_recall")
    shutil.rmtree(root, ignore_errors=True)

    # mirror the driver gates' build parameters exactly
    lsh_path = os.path.join(root, "lsh")
    build_lsh_index(corpus, lsh_path, num_bits=8, num_tables=12)
    mp_path = os.path.join(root, "lsh_mp")
    build_lsh_index(corpus, mp_path, num_bits=16, num_tables=1)
    ivf_path = os.path.join(root, "ivf")
    build_ivf_index(corpus, ivf_path, n_centroids=16)
    ivfpq_path = os.path.join(root, "ivfpq")
    build_ivfpq_index(corpus, ivfpq_path, n_centroids=16, m=8, k=16)
    books = pq_train(corpus, m=8, k=16)
    codes = pq_encode(corpus, books)
    codes.persist().count()

    methods = {
        "lsh_b8t12": lambda q: lsh_index_topk(spark, lsh_path, q,
                                              k=args.k),
        "lsh_mp_b16t1": lambda q: lsh_index_topk(spark, mp_path, q,
                                                 k=args.k,
                                                 multiprobe_bits=1),
        "ivf_c16p4": lambda q: ivf_index_topk(spark, ivf_path, q,
                                              k=args.k, n_probe=4),
        "ivf_c16p8": lambda q: ivf_index_topk(spark, ivf_path, q,
                                              k=args.k, n_probe=8),
        "pq_m8k16_r64": lambda q: pq_topk(codes, q, books, corpus,
                                          k=args.k, rerank=64),
        "ivfpq_c16p4_r64": lambda q: ivfpq_index_topk(
            spark, ivfpq_path, q, k=args.k, n_probe=4, rerank=64),
    }

    out = {}
    for name, probe in methods.items():
        recalls, dup_hits, secs = [], [], []
        for qi in q_idx:
            q = mat[qi].tolist()
            t0 = time.time()
            got = {r["vec_id"] for r in probe(q).collect()}
            secs.append(time.time() - t0)
            recalls.append(len(got & gt[qi]) / args.k)
            if args.planted:
                # the operational dedup question: did the method surface
                # the TRUE near-copy (cos~0.9988) of the query vector?
                dup_hits.append(int(ids[qi]) + 100000 in got)
        out[name] = {"recall": round(float(np.mean(recalls)), 4),
                     "probe_sec": round(float(np.mean(secs)), 3)}
        line = (f"{name:18s} recall@{args.k} = {out[name]['recall']:.4f}")
        if args.planted:
            out[name]["dup_recall"] = round(float(np.mean(dup_hits)), 4)
            line += f"  dup_recall = {out[name]['dup_recall']:.4f}"
        print(line + f"  (mean probe {out[name]['probe_sec']:.3f}s)",
              flush=True)

    print(json.dumps({"sf_dir": args.sf_dir, "k": args.k, "mode": mode,
                      "n_queries": args.queries, "methods": out}))
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
