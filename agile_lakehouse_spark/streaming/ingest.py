"""Streaming ingest into the lakehouse layout.

``foreachBatch`` bridges Structured Streaming and the batch layout engine:
each micro-batch is routed through the same grid-cell assignment and landed
as layout-clustered Parquet — the streaming analogue of the reference's
append-time grid routing (``pc-format/src/pointcloud.rs:146-171``).
Exactly-once: the checkpoint guarantees each batch_id is delivered
at-least-once, and the writer makes the delivery idempotent by landing
every micro-batch in its own ``batch=<id>`` subdirectory with
``mode=overwrite`` — a retried batch replaces its own partial output
instead of appending duplicates.

Also here: a custom stateful operator via ``applyInPandasWithState`` —
running per-user event counts with inactivity timeout (the kind of operator
the built-in windows can't express).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from agile_lakehouse_spark.operators.pointcloud import grid_cells
from agile_lakehouse_spark.plans.layout import zorder_key


def stream_to_grid_layout(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    delta_x: float,
    delta_y: float,
    x: str = "x",
    y: str = "y",
    available_now: bool = True,
):
    """Route a point stream into a grid-clustered Parquet layout.

    Each micro-batch independently gets cell keys + Morton sort (small
    batches -> sortWithinPartitions without repartition; periodic
    ``plans.layout.compact`` merges micro-batch files — the streaming
    equivalent of the reference's cell cache eviction).

    Idempotent per batch: output lands under ``<path>/batch=<batch_id>/``
    with ``mode=overwrite``, so a micro-batch retried from the checkpoint
    after a partial write overwrites its own directory rather than
    duplicating rows (at-least-once delivery x idempotent write =
    exactly-once table contents).  Readers use ``spark.read.parquet(path)``
    as before — ``batch`` is just one more partition column.
    """

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = (
            grid_cells(batch_df, {x: delta_x, y: delta_y})
            .withColumn("zkey", zorder_key("cell_x", "cell_y"))
            .sortWithinPartitions("zkey")
            .drop("zkey")
        )
        out.write.mode("overwrite").parquet(f"{path}/batch={batch_id}")

    writer = stream_df.writeStream.foreachBatch(_write_batch).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    q.awaitTermination()
    return q


def stream_upsert(
    stream_df: DataFrame,
    table,
    key: str,
    checkpoint: str,
    app_id: str = "stream_upsert",
    available_now: bool = True,
):
    """Exactly-once streaming UPSERT into a :class:`TransactionalTable`.

    The Delta streaming-sink pattern: the checkpoint replays failed batches
    (at-least-once), and the table's commit log records a ``txn``
    (app_id, batch_id) marker per merge — a replayed batch whose id is
    already committed is skipped, so the MERGE applies exactly once even
    across driver restarts.  Each batch is one merge-on-read commit (a
    deletion vector for the replaced rows plus the batch's rows as new
    files; nothing is rewritten), so this is streaming CDC-style ingestion
    with ACID snapshots at a write cost of about the batch itself.  Reads
    carry the accumulated vectors until ``optimize``/``compact``.  An
    empty batch commits nothing and records no marker; replaying it is a
    no-op anyway.

    ``app_id`` identifies the (stream, checkpoint) lineage — batch ids are
    only monotonic within one checkpoint, so starting over with a NEW
    checkpoint on the same table requires a new ``app_id`` (same contract
    as Delta's ``txnAppId``).
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= table.last_txn_batch(app_id):
            return  # already committed by a previous attempt
        table.merge(batch_df.sparkSession, batch_df, key, txn=(app_id, batch_id))

    writer = stream_df.writeStream.foreachBatch(_apply).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    q.awaitTermination()
    return q


SESSION_STATE_SCHEMA = StructType([StructField("n_events", LongType(), False)])
SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("n_events", LongType(), False),
        StructField("last_ts", TimestampType(), True),
    ]
)


def running_user_counts(events: DataFrame, timeout_ms: int | None = None) -> DataFrame:
    """Custom stateful operator: per-user running event counts.

    ``applyInPandasWithState`` keeps one small state row per user —
    Arrow-batched, the supported way to run custom Python state logic
    without a per-row interpreter loop.

    ``timeout_ms`` enables processing-time state eviction (bounding memory
    like the reference's cache eviction bounds its partitioner); note that
    with ``availableNow`` triggers a processing-time timeout keeps the query
    alive spinning empty micro-batches until every timeout has fired — use
    it only on continuously-triggered production streams.
    """
    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout if timeout_ms else GroupStateTimeout.NoTimeout
    )

    def _update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            state.remove()
            return
        n = state.get[0] if state.exists else 0
        last_ts = None
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                ts = pdf["ts"].max()
                last_ts = ts if last_ts is None else max(last_ts, ts)
        state.update((n,))
        if timeout_ms:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame({"user_id": [user_id], "n_events": [n], "last_ts": [last_ts]})

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout_conf,
        )
    )


def stream_to_incremental_view(
    stream_df: DataFrame,
    source_table,
    view,
    checkpoint: str,
    app_id: str = "stream_incr",
    available_now: bool = True,
):
    """End-to-end streaming lakehouse pipeline: exactly-once APPEND into a
    :class:`TransactionalTable` + incremental materialized-view refresh per
    micro-batch.

    Each micro-batch (a) appends to the source table idempotently (txn
    marker skips replayed batches — the append is the only at-least-once
    step) and (b) calls ``view.refresh``, which reads ONLY the files that
    batch added (plans/incremental.py).  The view is therefore continuously
    fresh at O(micro-batch) cost — the streaming analogue of Delta's
    streaming-aggregate + downstream-table pattern, with the refresh
    high-water mark riding the view's own commit log so a crash between
    append and refresh is repaired by the next batch's refresh call.
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id > source_table.last_txn_batch(app_id):
            source_table.append(batch_df, txn=(app_id, batch_id))
        view.refresh(batch_df.sparkSession)

    writer = stream_df.writeStream.foreachBatch(_apply).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    q.awaitTermination()
    return q
