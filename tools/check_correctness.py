#!/usr/bin/env python
"""Local mirror of the driver's t2 correctness gate.

Runs every __spark_entry__.queries() entry at sf0.01 (or --sf-dir) AND its
oracle_sql() through DuckDB, then compares: row count, column names
(sorted), and order-insensitive values.  Strings/ints/dates compare
exactly; floats compare BIT-EXACTLY (struct.pack('<d')) because the
driver's value hash is a byte hash — a tolerance pass alone is blind to
signed zero (-0.0 vs +0.0 compares == and |a-b| == 0) and to last-ulp
divergence, both of which fail the driver (the round-11
embedding_covariance red row was exactly Spark +0.0 vs DuckDB -0.0).
Bit mismatches inside 1e-9 tolerance get a NAMED diagnosis (signed-zero
/ last-ulp) so the fix is obvious; both sides already round computed
floats, so anything bit-unequal is a real determinism bug.

Usage: python tools/check_correctness.py [--sf-dir DIR] [--only name,...]
"""

from __future__ import annotations

import argparse
import math
import struct
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalize cell types, sort rows."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)

    def canon(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        if hasattr(v, "date") and not isinstance(v, str):  # ts-like
            return str(v)
        if isinstance(v, float):
            return v
        return v

    out = pdf.copy()
    for c in out.columns:
        out[c] = out[c].map(canon)
    return out.sort_values(by=list(out.columns), na_position="first",
                           kind="mergesort").reset_index(drop=True)


def _dtype_family(series: pd.Series) -> str:
    """Coarse dtype family for driver-hash parity.

    The driver's value hash is dtype-sensitive: DuckDB returning HUGEINT
    (materialized by pandas as an object column of Python ints) for a bare
    sum(BIGINT) hashes differently from Spark's int64 even when every value
    is equal (the round-6 pack_sequences/corpus_report/export_shards red
    rows).  Map each column to {int, float, other} so an int-vs-object or
    int-vs-float split fails HERE instead of only in the driver.
    """
    kind = series.dtype.kind
    if kind in "iu":
        return "int"
    if kind == "f":
        return "float"
    if kind == "O" and len(series):
        sample = next((v for v in series if v is not None), None)
        if isinstance(sample, bool):
            return "other"
        if isinstance(sample, int):
            return "int-object"  # e.g. DuckDB HUGEINT
        if isinstance(sample, float):
            return "float"
    return "other"


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    errs: list[str] = []
    if len(spark_pdf) != len(duck_pdf):
        errs.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        errs.append(f"columns: spark={sc} duck={dc}")
        return errs
    if errs:
        return errs
    for c in sc:
        sf, df_ = _dtype_family(spark_pdf[c]), _dtype_family(duck_pdf[c])
        if sf != df_ and "other" not in (sf, df_):
            errs.append(
                f"dtype family mismatch col {c}: spark={sf} "
                f"({spark_pdf[c].dtype}) duck={df_} ({duck_pdf[c].dtype}) "
                f"— would break the driver's exact hash")
    if errs:
        return errs
    s, d = normalize_pdf(spark_pdf), normalize_pdf(duck_pdf)
    for c in s.columns:
        sv, dv = s[c].tolist(), d[c].tolist()
        for i, (a, b) in enumerate(zip(sv, dv)):
            if a is None and b is None:
                continue
            if isinstance(a, float) and isinstance(b, float):
                if math.isnan(a) and math.isnan(b):
                    continue
                # the driver hashes BYTES: only bit equality passes.
                if struct.pack("<d", a) == struct.pack("<d", b):
                    continue
                if a == b:   # == but different bits: only ±0.0 can
                    errs.append(
                        f"col {c} row {i}: SIGNED ZERO spark="
                        f"{math.copysign(1, a):+.0f}0.0 duck="
                        f"{math.copysign(1, b):+.0f}0.0 — equal values, "
                        f"different bytes; normalize with round0()/+0.0")
                    if len(errs) > 5:
                        return errs
                    continue
                if abs(a - b) <= 1e-9 + 1e-9 * max(abs(a), abs(b)):
                    errs.append(
                        f"col {c} row {i}: LAST-ULP spark={a!r} "
                        f"duck={b!r} — inside 1e-9 tolerance but "
                        f"bit-unequal; the driver hash will fail")
                    if len(errs) > 5:
                        return errs
                    continue
            elif a == b:
                continue
            errs.append(f"col {c} row {i}: spark={a!r} duck={b!r}")
            if len(errs) > 5:
                return errs
    return errs


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from zdb_spark.session import get_spark

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{args.sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    only = set(args.only.split(",")) if args.only else None

    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf_dir)
            spark_pdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(spark_pdf)} rows (no oracle), "
                  f"{time.time()-t0:.1f}s")
            n_rows_only += 1
            continue
        try:
            duck_pdf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb raised {type(e).__name__}: {e}")
            n_fail += 1
            continue
        errs = compare(name, spark_pdf, duck_pdf)
        if errs:
            print(f"FAIL  {name} ({len(spark_pdf)} vs {len(duck_pdf)} rows):")
            for e in errs[:6]:
                print(f"      {e}")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(spark_pdf)} rows, {time.time()-t0:.1f}s")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
