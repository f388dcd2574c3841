"""Exactly-once streaming sink: foreachBatch through the versioned
table's atomic commit.

The ``_done``-marker drains (streaming/dedup.py, spans.py, ann.py,
decontam.py) are at-least-once: the data append and the marker are two
filesystem operations, and a crash between them replays the batch's
data.  This sink closes that gap with the mechanism those modules
document as the upgrade path — the batch's data and its "already
processed" record commit in ONE atomic manifest swap:

* each micro-batch MERGEs into a ``VersionedTable`` keyed by the row
  id, with the batch id recorded in the commit's history note;
* idempotence check = "is this batch id in the history" — read from
  the SAME snapshots the commit flips, so there is no marker/data gap
  to crash into.  Crash after the data write but before the snapshot
  flip: the version was never committed, the replay re-merges, and
  the orphan epoch directory is swept by a later vacuum once provably
  dead (sources/snapshot.gc).  Crash after the flip: the replay sees
  the batch id and no-ops.  The check sees the RETAINED history only:
  vacuum no further back than the replay window of the source;
* single writer, as with every persistent index here — Structured
  Streaming serializes foreachBatch calls; the check-then-commit pair
  is safe under that contract (a concurrent second WRITER would need
  the object-store put-if-absent the versioned table already documents).

MERGE (replace-into by key) rather than blind append also makes the
sink idempotent at the ROW level: a source that re-delivers rows
upserts them instead of duplicating.  Cost model (r6): commits go
through ``VersionedTable.merge_delta`` — only the data files holding
matched keys are rewritten, untouched files are shared forward in the
manifest — so the per-batch write is O(touched files + batch), not a
full snapshot.  Right for dimension/state tables fed by streams (the
watermark store, decode dimensions, corpus-stats rollups); unbounded
fact appends use streaming/append_sink.py (one snapshot publish per
batch, no key semantics needed).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from mrsboraetl_spark.sources.versioned import VersionedTable


def _batch_note(batch_id: int) -> str:
    return f"stream-batch:{batch_id}"


def exactly_once_merge_sink(table: VersionedTable, keys: Sequence[str]):
    """The foreachBatch callable: merge each micro-batch into ``table``
    unless its batch id is already committed."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        note = _batch_note(batch_id)
        if any(h.get("note") == note for h in table.history()):
            return
        table.merge_delta(batch_df.sparkSession, batch_df, keys, note=note)

    return sink


def streaming_exactly_once_merge(
    stream_df: DataFrame,
    table: VersionedTable,
    keys: Sequence[str],
    checkpoint_dir: str,
):
    """Start (and return) the streaming query: exactly-once merge of
    each micro-batch into the versioned table."""
    return (
        stream_df.writeStream.outputMode("append")
        .foreachBatch(exactly_once_merge_sink(table, keys))
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
