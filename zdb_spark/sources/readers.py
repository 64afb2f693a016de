"""Source connectors: get external data into a Table.

The reference ingests exclusively through its typed row-appender API
(/root/reference/src/table/write.rs:144-162) — any file-format support
lived in ad-hoc scripts (e.g. /root/reference/scripts/convert_col.jl).
Spark gives every format one ``spark.read`` away; these helpers wire the
formats to the Table contract (schema validation + ordered append) and
add the reference's one real migration utility.

- ``ingest_csv`` / ``ingest_json`` / ``ingest_parquet`` — batch loads:
  read → select/cast to the table schema → ``table.write`` (keeps the
  monotonic-append check).
- ``rows`` — the put_*/write() analogue for small programmatic appends.
- ``stream_source`` — Structured Streaming file source factory with the
  table's schema (pairs with streaming.ingest.stream_writer_table).
- ``convert_column_type`` — port of scripts/convert_col.jl:1-61 (offline
  column type migration): rewrite a table's parquet with one column cast
  to a new type.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..schema import Column, ColumnType, Schema
from ..table import Table

__all__ = ["ingest_csv", "ingest_json", "ingest_parquet", "ingest_orc",
           "rows", "stream_source", "convert_column_type"]


def _conform(df: DataFrame, table: Table) -> DataFrame:
    """Project + cast to the table schema (missing columns raise in
    table.write; extra columns are dropped)."""
    from pyspark.sql import functions as F

    cols = []
    for c in table.schema.columns:
        if c.name in df.columns:
            cols.append(F.col(c.name).cast(c.spark_type(table.schema.strict_u64)))
    return df.select(*cols)


def ingest_csv(table: Table, path: str, header: bool = True,
               **options) -> int:
    """Load CSV file(s) into the table. Returns rows appended.

    With a header the columns bind BY NAME: supplying the table schema
    to the reader would bind positionally (Spark ignores header names
    under an explicit schema), silently transposing a CSV whose column
    order differs from the schema.  Headerless CSVs are positional by
    nature and get the schema directly."""
    if header:
        df = (table.spark.read.options(header=True, **options).csv(path))
    else:
        df = (table.spark.read.options(header=False, **options)
              .schema(table.schema.spark_schema())
              .csv(path))
    return table.write(_conform(df, table))


def ingest_json(table: Table, path: str, **options) -> int:
    """Load JSON-lines file(s) into the table."""
    df = (table.spark.read.options(**options)
          .schema(table.schema.spark_schema())
          .json(path))
    return table.write(_conform(df, table))


def ingest_parquet(table: Table, path: str) -> int:
    """Load foreign parquet into the table (schema conformed)."""
    return table.write(_conform(table.spark.read.parquet(path), table))


def ingest_orc(table: Table, path: str, **options) -> int:
    """Load ORC file(s) into the table (schema conformed) — Spark reads
    ORC natively, so the columnar-interchange surface covers parquet AND
    ORC with the same conform+ordered-append path."""
    df = (table.spark.read.options(**options)
          .schema(table.schema.spark_schema())
          .orc(path))
    return table.write(_conform(df, table))


def rows(table: Table, data: list[tuple]) -> int:
    """Programmatic append — the put_*/write() analogue
    (/root/reference/tests/main.rs:68-82 usage shape)."""
    df = table.spark.createDataFrame(data, table.schema.spark_schema())
    return table.write(df)


def stream_source(spark: SparkSession, table: Table, path: str,
                  fmt: str = "parquet", **options) -> DataFrame:
    """File-based streaming source with the table's schema; feed to
    streaming.ingest.stream_writer_table for the transactional sink."""
    return (spark.readStream.format(fmt).options(**options)
            .schema(table.schema.spark_schema())
            .load(path))


def convert_column_type(spark: SparkSession, name: str, column: str,
                        to_type: ColumnType, home: str | None = None) -> None:
    """Offline column type migration (scripts/convert_col.jl:1-61): read
    every live file, cast ``column``, and publish the rewrite the way
    ``Table.compact`` does — new files land beside the old ones and one
    manifest flip replaces them — then update the schema sidecar.  A
    failure mid-rewrite leaves the table as it was.  Migration is
    OFFLINE: snapshots older than the flip keep the old column type
    and do not read under the new schema."""
    import uuid

    from pyspark.sql import functions as F

    t = Table.open(spark, name, home)
    col = t.schema.column(column)  # raises on unknown
    if column == t.schema.ts_col:
        # Schema.__post_init__ would inject a fresh TIMESTAMP column 0
        # next to the converted one — two columns named ts, a corrupted
        # sidecar, and a permanently broken table.  The reference's
        # converter has the same restriction implicitly (ts IS the
        # partition/order key).
        raise ValueError(
            f"cannot convert the timestamp column {column!r}: it is the "
            "table's partition/order key")
    new_cols = [
        Column(c.name, to_type if c.name == column else c.ctype, c.resolution)
        for c in t.schema.columns
    ]
    new_schema = Schema(name=t.schema.name, columns=new_cols,
                        partition_by=t.schema.partition_by,
                        strict_u64=t.schema.strict_u64,
                        partition_dirs=list(t.schema.partition_dirs))

    src, base_files = t._cow_read()
    if base_files:
        df = t._read(base_files).withColumn(
            column,
            F.col(column).cast(new_schema.column(column)
                               .spark_type(new_schema.strict_u64)))
        # Same traps Table.write guards against: FileFormatWriter inserts
        # its own dt-only sort when the incoming order doesn't lead with
        # the partition column (destroying the within-file ts order the
        # row-group pruning relies on), and hash-repartition on dt alone
        # funnels each whole day through ONE task.  Range-partition on
        # (dt, ts) like the write path, and keep the table's pinned
        # parquet codec — this rewrite touches 100% of the files, the
        # worst place to silently flip compression.
        writer = (df.repartitionByRange("dt", t.schema.ts_col)
                    .sortWithinPartitions("dt", t.schema.ts_col)
                    .write.mode("overwrite"))
        if t._meta.compression:
            writer = writer.option("compression", t._meta.compression)
        staging = os.path.join(t.path, "_staging", uuid.uuid4().hex)
        writer.partitionBy("dt").parquet(staging)
        t._flip_replacing(set(base_files), t._land_staging(staging, src),
                          src, "convert_column_type")

    with t._meta_lock():
        t._meta.schema = new_schema.to_dict()
        t._flush_meta()
