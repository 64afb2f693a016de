"""Structured Streaming ingest: the reference's append-only ordered write
path (/root/reference/src/table/write.rs:62-121) re-expressed as a stream.

zdb's ingest contract: rows arrive in non-decreasing timestamp order;
out-of-order rows panic (/root/reference/src/table/write.rs:79-84).  A
distributed stream cannot promise a global order, so the Spark-native
contract is event-time + watermark: late rows within the watermark are
still placed in their correct time partition; rows later than the
watermark are dropped by windowed aggregations (the explicit late-data
policy SURVEY.md §7 calls for where zdb simply panicked).

Pieces:
- ``stream_writer_table`` — readStream → ``foreachBatch`` →
  ``Table.write(txn=...)``: each micro-batch commits like a batch append,
  and the (app, batch id) txn in the manifest makes replays no-ops.
- ``stream_resample`` — windowed OHLCV aggregation with watermark: the
  streaming version of ohlcv.resample (same operator; BASELINE.json's
  stated approach).
- ``SessionizeState`` / ``sessionize`` — applyInPandasWithState custom
  stateful operator (session windows by inactivity gap), the pattern for
  operators Spark's built-in windows can't express.
"""

from __future__ import annotations

import os
from typing import Any, Iterator, Tuple

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (LongType, StringType, StructField, StructType)

from ..functions.scalar import nanos_to_ts

__all__ = ["stream_writer_table", "stream_resample",
           "sessionize", "rollup_sink", "read_rollup",
           "apply_changes_to_rollup"]


def _default_app_id(checkpoint: str) -> str:
    """basename + short path hash: human-readable, and unique per
    checkpoint LOCATION (two same-named checkpoint dirs must not share a
    txn app — their independent batch ids would read as replays)."""
    import hashlib

    norm = os.path.normpath(os.path.abspath(checkpoint))
    return (os.path.basename(norm) + "-"
            + hashlib.md5(norm.encode()).hexdigest()[:8])


def stream_writer_table(stream_df: DataFrame, table, checkpoint: str,
                        trigger_seconds: int | None = None,
                        app_id: str | None = None,
                        enforce_order: bool = False):
    """Stream into a ``Table`` THROUGH its transactional write path:
    ``foreachBatch`` → ``Table.write(txn=(app, batch_id))`` → manifest
    commit.

    This is what unifies streaming with snapshot isolation: a raw
    parquet file sink would drop files the manifest never hears about.
    Routing each micro-batch through ``Table.write`` instead means every
    batch stages, moves, and commits exactly like a batch append — a
    concurrent reader sees whole batches or nothing, ``snapshot()``/time travel work over
    streamed data, and the (app_id, batch_id) txn recorded inside the
    manifest makes post-failure batch replays no-ops (foreachBatch is
    at-least-once; the txn check upgrades it to exactly-once visibility).

    ``app_id`` defaults to the checkpoint basename plus a hash of its
    full normalized path — the path hash keeps two streams whose
    checkpoint dirs merely SHARE a basename (jobs/a/checkpoint,
    jobs/b/checkpoint) from colliding on one txn app and silently
    dropping each other's batch ids as replays.  Keep it stable across
    restarts or replay protection resets.  Returns the started
    StreamingQuery.
    """
    app = app_id or _default_app_id(checkpoint)

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        table.write(batch_df, enforce_order=enforce_order,
                    txn=(app, int(batch_id)))

    writer = (stream_df.writeStream.foreachBatch(commit)
              .option("checkpointLocation", checkpoint)
              .outputMode("append"))
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_resample(stream_df: DataFrame, every: str,
                    ts_col: str = "ts", symbol_col: str | None = "sym",
                    price_col: str = "price", volume_col: str | None = None,
                    watermark: str = "10 minutes",
                    ts_is_nanos: bool = True) -> DataFrame:
    """Streaming tumbling-window OHLCV with late-data watermark.

    Same aggregation as ohlcv.resample (min_by/max_by single-pass bars)
    over an unbounded stream; rows later than ``watermark`` are dropped —
    the explicit policy replacing the reference's out-of-order panic.
    Emits in append mode once windows close.
    """
    ts_utc = nanos_to_ts(ts_col) if ts_is_nanos else F.col(ts_col)
    src = (stream_df.withColumn("_ts_utc", ts_utc)
           .withWatermark("_ts_utc", watermark))
    keys = [F.window("_ts_utc", every).alias("w")]
    if symbol_col:
        keys.append(F.col(symbol_col))
    p = F.col(price_col)
    aggs = [
        F.min_by(p, F.col("_ts_utc")).alias("open"),
        F.max(p).alias("high"),
        F.min(p).alias("low"),
        F.max_by(p, F.col("_ts_utc")).alias("close"),
    ]
    if volume_col:
        aggs.append(F.sum(volume_col).alias("volume"))
    out = src.groupBy(*keys).agg(*aggs)
    return out.select(F.col("w.start").alias("bucket_start"),
                      *([symbol_col] if symbol_col else []),
                      "open", "high", "low", "close",
                      *(["volume"] if volume_col else []))


def _merge_session_items(items: list, gap_nanos: int):
    """Exact interval merge over (start, last, count) items: sort by
    time, merge neighbors whose gap is ≤ ``gap_nanos``.  Returns
    (closed_sessions, open_session) — all but the temporally last merged
    session are closed; the last may still be extended by future events
    (``open_session`` is None only for an empty input).

    Pure function so the batch-parity property (against sessionizing
    the raw events in one pass) is testable without a stream.
    """
    items = sorted(items)
    closed: list = []
    cur = None
    for a, b, n in items:
        if cur is None:
            cur = [a, b, n]
        elif a - cur[1] > gap_nanos:
            closed.append(tuple(cur))
            cur = [a, b, n]
        else:
            cur[1] = max(cur[1], b)
            cur[2] += n
    return closed, (tuple(cur) if cur is not None else None)


_SESSION_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("session_start", LongType()),
    StructField("session_end", LongType()),
    StructField("n_events", LongType()),
])

_STATE_SCHEMA = StructType([
    StructField("start", LongType()),
    StructField("last", LongType()),
    StructField("count", LongType()),
])


def sessionize(stream_df: DataFrame, gap_nanos: int,
               key_col: str = "user_id", ts_col: str = "ts",
               idle_flush_ms: int | None = None) -> DataFrame:
    """Custom stateful operator: inactivity-gap session windows via
    ``applyInPandasWithState`` — the template for stateful semantics the
    built-in windows can't express (SURVEY.md §2.7 streaming surface).

    Emits one row per closed session: (key, session_start, session_end,
    n_events), timestamps in epoch nanos.  State per key is (start, last,
    count).

    Each micro-batch runs an EXACT interval merge: the stored session
    is one item spanning ``[start, last]`` (any event inside a session's
    span is within ``gap_nanos`` of some member — consecutive members
    are — so treating it as an interval loses nothing), every batch
    event is a point item, and all items merge in global time order
    whenever the gap between consecutive intervals is ≤ ``gap_nanos``.
    This is batch semantics over everything the operator can still see:
    events are gathered across ALL Arrow chunks and sorted before
    merging, so out-of-order and cross-chunk delivery cannot split or
    misorder sessions, and a straggler chain can bridge back into the
    live session through intermediate batch events.  All but the
    temporally LAST merged session close and emit; the last stays in
    state (a future event may extend it).  The one irrecoverable case
    is compressed away by design: an event more than ``gap_nanos``
    before everything it could bridge to belongs to a session whose
    horizon has passed — it closes immediately as its own session
    rather than silently pulling the live ``session_start`` back.

    By default each key's FINAL session stays open in the state store
    (the batch-parity contract the driver oracle checks — a drained
    availableNow run reports exactly the sessions a batch engine would
    call closed).  For PRODUCTION streams pass ``idle_flush_ms``: keys
    quiet for that long flush their open session via a processing-time
    timeout and their state entry is removed — bounding state-store
    growth on high-cardinality streams.
    """
    import pandas as pd

    def fn(key: Tuple[Any, ...], pdfs: Iterator["pd.DataFrame"],
           state: GroupState) -> Iterator["pd.DataFrame"]:
        (uid,) = key
        cols = ["user_id", "session_start", "session_end", "n_events"]
        if idle_flush_ms is not None and state.hasTimedOut:
            if state.exists:
                start, last, count = state.get
                state.remove()
                yield pd.DataFrame([(uid, start, last, count)],
                                   columns=cols)
            return
        # exact interval merge (see docstring): stored session as one
        # [start,last] item + every batch event, globally time-sorted
        items = [tuple(state.get)] if state.exists else []
        items += [(int(t), int(t), 1)
                  for pdf in pdfs for t in pdf[ts_col].tolist()]
        closed, cur = _merge_session_items(items, gap_nanos)
        if cur is not None:
            state.update(cur)
            if idle_flush_ms is not None:
                state.setTimeoutDuration(idle_flush_ms)
        if closed:
            yield pd.DataFrame([(uid, *s) for s in closed], columns=cols)

    timeout_conf = (GroupStateTimeout.ProcessingTimeTimeout
                    if idle_flush_ms is not None
                    else GroupStateTimeout.NoTimeout)
    return (stream_df.groupBy(key_col).applyInPandasWithState(
        fn, _SESSION_SCHEMA, _STATE_SCHEMA, "append", timeout_conf))


# --------------------------------------------------------------------- #
# incrementally-maintained rollups (materialized pre-aggregation)        #
# --------------------------------------------------------------------- #
def rollup_sink(stream_df: DataFrame, table, checkpoint: str,
                group_cols: list[str], sum_cols: list[str],
                ts_col: str = "ts", app_id: str | None = None,
                trigger_seconds: float | None = None):
    """Maintain a materialized pre-aggregation from the stream — the
    ClickHouse-materialized-view pattern on an APPEND-ONLY store: each
    micro-batch appends its PARTIAL aggregate (group keys, per-group
    count + sums) to a rollup ``Table`` through the transactional write
    path; no row is ever updated, so no upsert machinery, no state
    store, and concurrent readers keep snapshot isolation.  Readers
    finalize with :func:`read_rollup` (sum of partials ≡ aggregate of
    the raw stream — count/sum are decomposable, which is exactly why
    the partial form is chosen).

    The rollup table's ``ts`` carries each partial's min event ts so the
    rollup stays a valid time-partitioned Table (pruned scans over the
    rollup work like any other).  Exactly-once: same (app, batch_id) txn
    replay protection as ``stream_writer_table``.

    At 100 TB ingest this is the difference between re-scanning the
    fact table per dashboard query and reading a rollup thousands of
    times smaller; compaction merges the per-batch partials into few
    files without changing reader semantics (sums of sums).

    ``trigger_seconds`` runs the maintenance continuously (the
    materialized-view shape); the default drains available input once.
    """
    app = app_id or _default_app_id(checkpoint)

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        partial = (batch_df.groupBy(*group_cols)
                   .agg(F.min(ts_col).alias(ts_col),
                        F.count(F.lit(1)).alias("n_rows"),
                        *[F.sum(c).alias(f"sum_{c}") for c in sum_cols])
                   .select(ts_col, *group_cols, "n_rows",
                           *[f"sum_{c}" for c in sum_cols]))
        table.write(partial, enforce_order=False, txn=(app, int(batch_id)))

    writer = (stream_df.writeStream.foreachBatch(commit)
              .option("checkpointLocation", checkpoint)
              .outputMode("append"))
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_rollup(table, group_cols: list[str],
                sum_cols: list[str]) -> DataFrame:
    """Finalize a :func:`rollup_sink` table: merge the per-batch
    partials into the exact aggregate (sum of counts, sum of sums).
    One small groupBy over the (already tiny) rollup — never touches
    the raw stream."""
    return (table.scan()
            .groupBy(*group_cols)
            .agg(F.sum("n_rows").alias("n_rows"),
                 *[F.sum(f"sum_{c}").alias(f"sum_{c}")
                   for c in sum_cols]))


def apply_changes_to_rollup(table, rollup, from_version: int,
                            group_cols: list[str],
                            sum_cols: list[str],
                            ts_col: str = "ts",
                            to_version: int | None = None) -> int:
    """Catch a :func:`rollup_sink`-shape rollup up to ``table``'s head
    WITHOUT rescanning the table (r18 — the CDC-consumer workflow the
    ``changes_between`` docstring promises): the v→head change feed
    folds into ONE signed partial (insert rows contribute +1/+value,
    delete rows −1/−value — an update's delete+insert pair nets to its
    value change), appended through the transactional write path.
    Because count/sum are decomposable, the merged read
    (:func:`read_rollup`) afterwards EQUALS a fresh aggregation of the
    head snapshot — the partial-merge-equivalence contract, pinned by
    tests/test_table.py::TestChangeFeedConsumer against appends, COW
    deletes and MERGE upserts.

    Cost at 100 TB: the feed reads only files that entered/left the
    manifest between the versions, so an append-only day costs the new
    files, a pure compaction appends an EMPTY partial (no-op), and the
    rollup itself never re-reads history.  Returns the number of
    change rows consumed.  Exactly-once is the caller's protocol:
    track the last applied ``to_version`` (e.g. in the rollup table's
    own metadata sidecar or the orchestrator) and call with
    ``from_version`` = that mark; a replay with the same bounds
    appends a duplicate partial — fence it the same way
    ``rollup_sink`` fences batch ids."""
    feed = table.changes_between(from_version, to_version)
    sign = F.when(F.col("_change_type") == "insert",
                  F.lit(1)).otherwise(F.lit(-1))
    n_changes = feed.count()
    if not n_changes:
        return 0
    partial = (feed.groupBy(*group_cols)
               .agg(F.min(ts_col).alias(ts_col),
                    F.sum(sign).alias("n_rows"),
                    *[F.sum(F.col(c) * sign).alias(f"sum_{c}")
                      for c in sum_cols])
               .select(ts_col, *group_cols, "n_rows",
                       *[f"sum_{c}" for c in sum_cols]))
    rollup.write(partial, enforce_order=False)
    return int(n_changes)


def hll_sketch_sink(stream_df: DataFrame, value_col: str, store_path: str,
                    checkpoint: str, by=None,
                    trigger_seconds: int | None = None):
    """Continuous distinct-count maintenance: every micro-batch's HLL
    registers land in the persisted register store under
    ``regs/batch=<epoch>/`` (operators/sketches.py), so "distinct
    values per group over everything ingested so far" is answerable at
    any moment from (batches x groups x 256) register rows — no corpus
    rescan, ever.

    Exactly-once WITHOUT a transactional sink: the batch dir is named
    by the foreachBatch epoch id and written with OVERWRITE, so a
    post-failure replay of the same epoch rewrites identical content —
    and even a torn/duplicated write is harmless because registers are
    idempotent under the read-side max-merge.  This is the same
    replay-idempotence contract as stream_writer_table's manifest
    commits, delivered structurally instead of via CAS.

    Returns the started StreamingQuery.  Bootstrap the store first with
    ``build_hll_store`` (or an empty frame); query it any time with
    ``hll_store_distinct``.
    """
    from ..operators.sketches import append_hll_store

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        append_hll_store(batch_df, value_col, store_path,
                         batch_id=f"epoch-{batch_id}")

    writer = (stream_df.writeStream.foreachBatch(commit)
              .option("checkpointLocation", checkpoint)
              .outputMode("update"))
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def countmin_sketch_sink(stream_df: DataFrame, value_col: str,
                         store_path: str, checkpoint: str,
                         trigger_seconds: int | None = None):
    """Continuous heavy-hitter maintenance: every micro-batch's
    count-min cells land in the persisted store as a rename-published
    batch named by the foreachBatch epoch id
    (operators/sketches.py:append_countmin_store), so "token counts
    over everything ingested so far" is a (batches x depth x width)
    cell read at any moment — no corpus rescan, ever.

    Exactly-once is STRUCTURAL but by a different mechanism than
    ``hll_sketch_sink``: count-min cells merge with ``+``, so a
    replayed epoch that re-appended would DOUBLE-COUNT (max-merge
    would have shrugged).  The store's first-publish-wins rename makes
    the replay a no-op instead — the same epoch id can only ever
    publish once, also after a compaction folded it (the generation
    pointer records the folded ids), and a torn pre-publish write is
    invisible (staging dirs are never read).  Single-writer contract:
    pause the stream before ``compact_countmin_store`` (an append
    publishing into the old generation while the pointer flips would
    strand its counts).

    Returns the started StreamingQuery.  Bootstrap the store first
    with ``build_countmin_store`` (or an empty frame); query it any
    time with ``countmin_store_lookup``.
    """
    from ..operators.sketches import append_countmin_store

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        append_countmin_store(batch_df, value_col, store_path,
                              batch_id=f"epoch-{batch_id}")

    writer = (stream_df.writeStream.foreachBatch(commit)
              .option("checkpointLocation", checkpoint)
              .outputMode("update"))
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def text_index_sink(stream_df: DataFrame, store_path: str,
                    checkpoint: str,
                    trigger_seconds: int | None = None):
    """Continuous inverted-index maintenance: every micro-batch of NEW
    documents lands as an epoch-named doc-disjoint postings batch
    (operators/search.py:append_text_index), so BM25 over everything
    ingested so far never re-scans history — the standing-search-
    service shape at 100 TB.

    Exactly-once: structured streaming already delivers each document
    to exactly one epoch, epochs are therefore doc-disjoint (the index
    store's batch contract), and a checkpoint-replayed epoch is
    refused by the store's first-publish-wins batch publish — also
    after a compaction folded it.  Single-writer contract as for
    ``countmin_sketch_sink``: pause the stream before
    ``compact_text_index``.  Bootstrap the store with
    ``build_text_index`` first; query any time with
    ``text_index_topk``."""
    from ..operators.search import append_text_index

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        append_text_index(batch_df, store_path,
                          batch_id=f"epoch-{batch_id}")

    writer = (stream_df.writeStream.foreachBatch(commit)
              .option("checkpointLocation", checkpoint)
              .outputMode("update"))
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def kmv_sample_sink(stream_df: DataFrame, store_path: str,
                    checkpoint: str,
                    trigger_seconds: int | None = None):
    """Continuous uniform-sample maintenance: every micro-batch's
    bottom-k sample lands as an epoch-named batch in the persisted KMV
    store (operators/sketches.py:append_kmv_store), so "a deterministic
    sample — and nearest-rank quantiles — over everything ingested so
    far" reads (batches x k x groups) rows at any moment.  Replay-
    idempotent structurally: a re-run epoch overwrites its own batch
    dir with identical rows, and the read side's union + re-bottom-k
    collapses duplicates (order-statistic merge).  Bootstrap with
    ``build_kmv_store``; query with ``read_kmv_store`` /
    ``kmv_store_quantiles``."""
    from ..operators.sketches import append_kmv_store

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        append_kmv_store(batch_df, None, store_path,
                         batch_id=f"epoch-{batch_id}")

    writer = (stream_df.writeStream.foreachBatch(commit)
              .option("checkpointLocation", checkpoint)
              .outputMode("update"))
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def bloom_sketch_sink(stream_df: DataFrame, value_col: str,
                      store_path: str, checkpoint: str,
                      trigger_seconds: int | None = None):
    """Continuous membership maintenance: every micro-batch's Bloom
    words land in the persisted store under ``words/batch=<epoch>/``
    (operators/sketches.py:append_bloom_store), so "have we EVER seen
    this URL/doc hash" is answerable at any moment from (batches x
    m_bits/32) word rows — the streaming crawl-frontier filter.
    Replay-idempotent structurally, exactly like ``hll_sketch_sink``:
    a re-run epoch overwrites its own batch dir and even a torn write
    is harmless under the read-side bit_or merge.  Bootstrap with
    ``build_bloom_store``; query with ``bloom_store_lookup``."""
    from ..operators.sketches import append_bloom_store

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        append_bloom_store(batch_df, value_col, store_path,
                           batch_id=f"epoch-{batch_id}")

    writer = (stream_df.writeStream.foreachBatch(commit)
              .option("checkpointLocation", checkpoint)
              .outputMode("update"))
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sharded_bloom_sink(stream_df: DataFrame, value_col: str,
                       store_path: str, checkpoint: str,
                       trigger_seconds: int | None = None):
    """``bloom_sketch_sink`` over the SCALABLE (sharded) store: each
    micro-batch lands via ``append_sharded_bloom_store``, which freezes
    the active shard when its estimated fpr trips the store's pinned
    threshold and opens a geometrically larger one (Almeida et al.
    2007) — so a long-running crawl-frontier filter never silently
    degrades to pass-through the way a fixed-m filter does.  Replay is
    a structural no-op: a re-run epoch's batch id is found in whatever
    shard it originally landed in and skipped (the shard rotation
    therefore cannot double-apply a batch).  Bootstrap with
    ``build_sharded_bloom_store``; query with ``sharded_bloom_lookup``;
    monitor with ``sharded_bloom_stats``."""
    from ..operators.sketches import append_sharded_bloom_store

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        append_sharded_bloom_store(batch_df, value_col, store_path,
                                   batch_id=f"epoch-{batch_id}")

    writer = (stream_df.writeStream.foreachBatch(commit)
              .option("checkpointLocation", checkpoint)
              .outputMode("update"))
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()
