"""Exactly-once APPEND sink for unbounded fact streams.

The two existing exactly-once/at-least-once options each miss the fact
stream case: the ``_done`` marker drains (streaming/dedup.py et al.) are
at-least-once — data append and marker are two filesystem operations
with a crash window between them — and the versioned merge sink
(streaming/versioned_sink.py) is exactly-once but rewrites the FULL
snapshot per commit, which its own docstring rules out for unbounded
appends.  This module closes the gap (VERDICT r5 item 3): each
micro-batch is one ``AppendOnlyTable.append_batch``
(sources/append_table.py) — one snapshot flip that commits the batch's
files and raises the replay watermark together, at O(|batch|) data
write cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from mrsboraetl_spark.sources import append_table


def exactly_once_append_sink(
    table: append_table.AppendOnlyTable,
    compact_every_n: int | None = None,
    compact_n_files: int | None = None,
):
    """The foreachBatch callable: append each micro-batch unless its
    batch id is already committed.

    ``compact_every_n`` folds the committed batch directories into one
    whenever their count reaches N — without it a long-lived stream
    accrues one directory per micro-batch forever and reader fan-out
    grows unbounded.  Safe exactly here because the sink is the single
    writer (Structured Streaming serializes foreachBatch calls), so the
    fold runs strictly between batches; the replay watermark is
    untouched by compaction, so a replayed pre-compaction id still
    no-ops (pytest pins this across the boundary)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        appended = table.append_batch(batch_df, batch_id)
        if (
            appended
            and compact_every_n
            and len(table.committed()) >= compact_every_n
        ):
            table.compact(batch_df.sparkSession, n_files=compact_n_files)

    return sink


def streaming_exactly_once_append(
    stream_df: DataFrame,
    table: append_table.AppendOnlyTable,
    checkpoint_dir: str,
    compact_every_n: int | None = None,
    compact_n_files: int | None = None,
):
    """Start (and return) the streaming query: exactly-once append of
    each micro-batch into the table, auto-compacting every N batches."""
    return (
        stream_df.writeStream.outputMode("append")
        .foreachBatch(
            exactly_once_append_sink(
                table,
                compact_every_n=compact_every_n,
                compact_n_files=compact_n_files,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
