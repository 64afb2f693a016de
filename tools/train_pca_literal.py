#!/usr/bin/env python
"""Regenerate ``__spark_entry__._PCA_SF001_COMPONENTS``.

The embedding_pca gate value-checks the corpus-TRAINED PCA projection:
the Spark side trains live (pca_components = deterministic decimal-sum
covariance + driver eigh), the DuckDB oracle replays the projection with
the expected trained components embedded as literals — because SQL
cannot run an eigensolve, the literals ARE the oracle's model of the
training step.  They are valid for exactly one fixture
(/root/testdata/sf0.01, the driver's correctness scale); rerun this if
that fixture or the linked LAPACK ever changes, then paste the printed
block over the literal in __spark_entry__.py.

Usage: python tools/train_pca_literal.py [--sf-dir DIR] [--q 4]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--q", type=int, default=4)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from zdb_spark.operators.similarity import pca_components

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false").getOrCreate())
    emb = spark.read.parquet(f"{args.sf_dir}/embeddings.parquet")
    comps, evs = pca_components(emb, q=args.q)
    spark.stop()

    print(f"# trained on {args.sf_dir}, q={args.q}, "
          f"explained_variance={evs.tolist()}")
    print("_PCA_SF001_COMPONENTS: list[list[float]] = [")
    for row in comps.tolist():
        print("    [" + ", ".join(repr(x) for x in row) + "],")
    print("]")
    return 0


if __name__ == "__main__":
    sys.exit(main())
