"""zdb-spark: a PySpark-native analytics engine with the query and
data-processing capabilities of clickingbuttons/zdb (reference at
/root/reference, studied — not copied — per SURVEY.md).

Modules:
- session   — SparkSession factory (Arrow, AQE, UTC)
- schema    — ColumnType/Schema builder (zdb src/schema.rs semantics)
- table     — time-partitioned Parquet table: create/open/write/scan
- store     — one publish protocol (version CAS, generation pointers)
              for the table manifest and every persisted store
- ohlcv     — fixed OHLCV aggregation endpoint + resampling
- query     — /q-compatible UDF scan (signature-inferred projection)
- calendar  — US equity trading calendar (is_market_open)
- functions — scalar function ports (string_to_nanoseconds, format_currency)
- operators — scale-out operators: dedup, similarity, text analysis,
              multimodal plumbing
- streaming — Structured Streaming ingest path
- server    — HTTP layer reproducing /symbols, /ohlcv, /q contracts
"""

from .schema import Column, ColumnType, PartitionBy, Schema
from .session import get_spark
from .table import OutOfOrderError, Table, TableExistsError, TableNotFoundError

__all__ = [
    "Column", "ColumnType", "PartitionBy", "Schema", "get_spark",
    "Table", "TableExistsError", "TableNotFoundError", "OutOfOrderError",
]

__version__ = "0.1.0"
