"""Exactly-once APPEND sink for unbounded fact streams.

The two existing exactly-once/at-least-once options each miss the fact
stream case: the ``_done`` marker drains (streaming/dedup.py et al.) are
at-least-once — data append and marker are two filesystem operations
with a crash window between them — and the versioned merge sink
(streaming/versioned_sink.py) is exactly-once but rewrites the FULL
snapshot per commit, which its own docstring rules out for unbounded
appends.  This module closes the gap (VERDICT r5 item 3).

An ``AppendOnlyTable`` is a manifest-committed table on the one
snapshot protocol (sources/snapshot.py), one file group per committed
batch:

* each micro-batch is one ``snapshot.publish`` against the live epoch:
  its rows land in a fresh epoch directory and one durable CAS flip of
  ``_snapshot.json`` adds the batch's group and raises the snapshot's
  ``max_committed_id``; a ``gc`` then drops the previous snapshot's
  history file, so one history file stays however long the stream
  runs.  A crash before the flip leaves a staged epoch directory no
  snapshot names — invisible to readers, swept by a later GC once
  provably dead; the replay stages the batch afresh and commits it, no
  loss, no duplicate.  A crash after the flip: the replay sees the id
  at or below the watermark and no-ops;
* data write cost is O(|batch|) per batch — carried groups are
  relpaths in the snapshot, never rewritten: the append-sink property
  the versioned sink cannot give.  The metadata cost (pointer and
  history rewrite, the GC's walk of the epoch directories) is
  O(committed groups) per batch, which ``compact()`` bounds.

Reads open exactly the snapshot's file list (``snapshot.files``), so an
uncommitted orphan or a stray file can never leak into results.  Single
writer per table, as with every persistent index here — Structured
Streaming serializes foreachBatch calls.

Scale shape: one epoch directory per micro-batch grows the listing over
time; ``compact()`` folds the committed batches into one group behind
one more publish and then GCs the folded directories, bounding reader
fan-out for long-lived streams.  On an object store only the snapshot
protocol's pointer replace changes (a conditional PUT); nothing here
does.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from mrsboraetl_spark.sources import snapshot


# Commit file of the retired pre-snapshot layout: a directory holding it
# and no snapshot pointer is refused rather than read as empty.
_LEGACY_MANIFEST = "_manifest.json"


def _last_id(batch_key: str) -> int:
    """Last batch id a group holds: the id itself for one batch, the
    suffix of a ``compact-{n}-{id}`` fold."""
    return int(batch_key.rsplit("-", 1)[-1])


class AppendOnlyTable:
    """Snapshot-committed append-only parquet table."""

    def __init__(self, root: str):
        self.root = root
        if os.path.exists(
            os.path.join(root, _LEGACY_MANIFEST)
        ) and not os.path.exists(os.path.join(root, snapshot.SNAPSHOT_FILE)):
            raise ValueError(
                f"{root}: pre-snapshot append table ({_LEGACY_MANIFEST}) "
                "— re-create it from its source"
            )
        os.makedirs(root, exist_ok=True)

    def committed(self) -> list[str]:
        """Committed batch keys, oldest first."""
        man = snapshot.load(self.root)
        return sorted((man or {"months": {}})["months"], key=_last_id)

    # -------------------------------------------------------------- I/O

    def append_batch(self, df: DataFrame, batch_id: int) -> bool:
        """Write-and-commit one micro-batch; returns False (no-op) when
        the batch id is already committed — the replay path.

        The replay check is a MONOTONIC watermark (`max_committed_id`),
        not the group list: compact() collapses that list to one
        synthetic entry, and it is not a per-id ledger either — a
        ledger for an unbounded stream would grow (and be linearly
        scanned) forever inside the foreachBatch hot path.  The
        watermark is sound because Structured Streaming batch ids are
        strictly increasing per checkpoint, so a replayed batch always
        has id <= the watermark and a fresh batch is always above it —
        the same contract Delta's idempotent writes key on
        (txnAppId/txnVersion).  Consequence to respect operationally:
        RESETTING the streaming checkpoint without resetting the table
        restarts ids at 0 and every batch no-ops; manual callers must
        likewise feed increasing ids."""
        man = snapshot.load(self.root)
        mx = (man or {}).get("max_committed_id")
        if mx is not None and batch_id <= mx:
            return False

        def write(edir: str) -> dict:
            df.write.mode("errorifexists").parquet(edir)
            groups = dict((man or {"months": {}})["months"])
            groups[str(batch_id)] = snapshot.staged_files(edir)
            return {"months": groups, "max_committed_id": batch_id}

        parent = int(man["epoch"]) if man else snapshot.raw_epoch(self.root)
        snapshot.gc(self.root, snapshot.publish(self.root, man, parent, write))
        return True

    def read(self, spark: SparkSession) -> DataFrame | None:
        """Union of exactly the COMMITTED batches (the snapshot's file
        list — uncommitted orphans are invisible), or None when empty."""
        paths = snapshot.files(self.root)
        return spark.read.parquet(*paths) if paths else None

    def compact(self, spark: SparkSession, n_files: int | None = None) -> None:
        """Fold all committed batches into one group and publish a
        snapshot naming only it — bounds reader fan-out for long-lived
        streams.  The folded batches' epoch directories are deleted by
        the GC after the flip (a crash before it leaves them live, a
        crash after it leaves unreferenced files the next GC sweeps)."""
        man = snapshot.load(self.root)
        if man is None or len(man["months"]) <= 1:
            return
        paths = snapshot.files(self.root, man=man)
        if not paths:
            return
        df = spark.read.parquet(*paths)
        if n_files:
            df = df.coalesce(n_files)
        # The replay WATERMARK survives compaction untouched: it is
        # what keeps a replayed batch id a no-op after its group was
        # folded away.
        mx = man["max_committed_id"]
        key = f"compact-{len(man['months'])}-{mx}"

        def write(edir: str) -> dict:
            df.write.mode("errorifexists").parquet(edir)
            return {
                "months": {key: snapshot.staged_files(edir)},
                "max_committed_id": mx,
            }

        new = snapshot.publish(self.root, man, int(man["epoch"]), write)
        snapshot.gc(self.root, new)


def exactly_once_append_sink(
    table: AppendOnlyTable,
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
    table: AppendOnlyTable,
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
