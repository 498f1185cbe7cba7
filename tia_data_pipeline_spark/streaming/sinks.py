"""Streaming sinks with exactly-once delivery into transactional
stores.

The reference's end state is rows in Postgres, written by a scheduled
batch with `ON CONFLICT DO NOTHING` (``posts_pipeline.py:53-59``).
The streaming equivalent composes two idempotency layers:

1. **Checkpointed offsets** make each micro-batch *at-least-once* —
   after a crash, Structured Streaming replays the last uncommitted
   batch.
2. **Keyed MERGE per micro-batch** (``foreachBatch`` →
   ``jdbc_merge_upsert``) makes the replay harmless — re-merging the
   same rows inserts nothing, so at-least-once × idempotent-write =
   exactly-once table contents.

This is the standard Spark recipe for exactly-once into stores without
native streaming transactions (JDBC databases, and via
``sources/lakehouse.py`` the same shape lands on Delta tables).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from tia_data_pipeline_spark.sources.jdbc import jdbc_ensure_table, jdbc_merge_upsert


def start_foreach_batch(
    stream: DataFrame, write_batch, checkpoint: str, available_now: bool
) -> StreamingQuery:
    """Start ``stream`` through ``write_batch`` under ``checkpoint`` —
    the one trigger discipline of every foreachBatch loop:
    ``available_now=True`` drains what exists and stops (the scheduled
    batch mode), ``False`` runs continuously."""
    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_upsert_jdbc(
    stream_df: DataFrame,
    *,
    url: str,
    table: str,
    keys: Sequence[str],
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Run a stream into a JDBC table with exactly-once contents.

    Creates the keyed table on first batch, then MERGEs every
    micro-batch. ``available_now=True`` drains what exists and stops
    (the scheduled-batch execution mode); ``False`` runs continuously.
    The per-batch MERGE is one atomic set-based statement, so a
    concurrent reader never observes a half-applied batch.
    """
    keys = list(keys)
    # Ensure the table ONCE, before the stream starts — the schema is
    # already known from the unstarted frame. Doing it per micro-batch
    # would pay a driver JDBC connection and a swallowed duplicate-DDL
    # error on every trigger of a continuous stream.
    jdbc_ensure_table(stream_df.sparkSession, url, table, stream_df.schema, keys)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        jdbc_merge_upsert(batch_df, url, table, keys)

    return start_foreach_batch(stream_df, write_batch, checkpoint, available_now)
