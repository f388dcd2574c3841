"""Append-only parquet tables on the one snapshot protocol.

An ``AppendOnlyTable`` is a manifest-committed table on
sources/snapshot.py, one file group per committed batch.  It is the
storage of the exactly-once append sink (streaming/append_sink.py) and
of every persistent index (operators/*_index.py):

* each batch is one ``snapshot.publish`` against the live epoch: its
  rows land in a fresh epoch directory and one durable CAS flip of
  ``_snapshot.json`` adds the batch's group and raises the snapshot's
  ``max_committed_id``; a ``gc`` then drops the previous snapshot's
  history file, so one history file stays however many batches land.
  A crash before the flip leaves a staged epoch directory no snapshot
  names — invisible to readers, swept by a later GC once provably dead;
  the replay stages the batch afresh and commits it, no loss, no
  duplicate.  A crash after the flip: the replay sees the id at or
  below the watermark and no-ops;
* data write cost is O(|batch|) per batch — carried groups are relpaths
  in the snapshot, never rewritten.  The metadata cost (pointer and
  history rewrite, the GC's walk of the epoch directories) is
  O(committed groups) per batch, which ``compact()`` bounds;
* ``replace`` publishes a snapshot naming only a new frame's files — a
  compaction, an index's fold, a re-assignment — in the same single
  flip, so a reader sees the old content or the new, never a mix.  Its
  CAS parent is the epoch the folded read resolved (``read_pinned``),
  so a batch committed between the read and the flip raises
  ``ConcurrentCommitError`` instead of being dropped;
* ``params`` (optional) are pinned in the snapshot by the first
  publish, which opening a cold table with them performs; opening a
  table pinned with different params raises ``ValueError``, so an
  index can never be probed with a mismatched configuration.  A
  ``replace`` may change them in the same flip as the data (an IVF
  retrain's new centroids and their assignment).

Reads open exactly the snapshot's file list (``snapshot.files``), so an
uncommitted orphan or a stray file can never leak into results.  Single
writer per table: Structured Streaming serializes foreachBatch calls,
and each index documents one writer at a time.  On an object store only
the snapshot protocol's pointer replace changes (a conditional PUT);
nothing here does.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from mrsboraetl_spark.sources import snapshot


def refuse_pre_snapshot(marker: str, root: str) -> None:
    """Raise ``ValueError`` when ``marker``, the commit file of a
    retired pre-snapshot layout, exists and ``root`` holds no snapshot
    pointer: reading such a path as empty would let the next write
    silently drop the old data."""
    if os.path.exists(marker) and not os.path.exists(
        os.path.join(root, snapshot.SNAPSHOT_FILE)
    ):
        raise ValueError(
            f"{os.path.dirname(marker)}: pre-snapshot layout "
            f"({os.path.basename(marker)}) — re-create it from its source"
        )


def _last_id(batch_key: str) -> int:
    """Last batch id a group holds: the id itself for one batch, the
    suffix of a ``compact-{n}-{id}`` fold (-1 for a fold of a table no
    batch was ever appended to)."""
    tail = batch_key.rsplit("-", 1)[-1]
    return int(tail) if tail.isdigit() else -1


class AppendOnlyTable:
    """Snapshot-committed append-only parquet table."""

    def __init__(self, root: str, params: dict | None = None):
        self.root = root
        refuse_pre_snapshot(os.path.join(root, "_manifest.json"), root)
        os.makedirs(root, exist_ok=True)
        if params is None:
            return
        params = json.loads(json.dumps(params))  # the form a snapshot holds
        man = snapshot.load(root)
        if man is None:
            snapshot.publish(
                root, None, snapshot.raw_epoch(root),
                lambda edir: {"months": {}, "params": params},
            )
        elif man.get("params") != params:
            raise ValueError(
                f"{root} was built with {man.get('params')}, "
                f"asked to open with {params}"
            )

    @property
    def params(self) -> dict | None:
        """The params the live snapshot pins (None when it pins none)."""
        return (snapshot.load(self.root) or {}).get("params")

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
            return {
                **(man or {}), "months": groups, "max_committed_id": batch_id,
            }

        parent = int(man["epoch"]) if man else snapshot.raw_epoch(self.root)
        snapshot.gc(self.root, snapshot.publish(self.root, man, parent, write))
        return True

    def append(self, df: DataFrame) -> None:
        """Commit ``df`` as the batch after the watermark — the ingest
        of a caller that numbers no batches."""
        mx = (snapshot.load(self.root) or {}).get("max_committed_id")
        self.append_batch(df, 0 if mx is None else mx + 1)

    def read(self, spark: SparkSession) -> DataFrame | None:
        """Union of exactly the COMMITTED batches (the snapshot's file
        list — uncommitted orphans are invisible), or None when empty."""
        return self.read_pinned(spark)[0]

    def read_pinned(self, spark: SparkSession) -> tuple[DataFrame | None, int]:
        """``read`` plus the epoch it resolved: the CAS parent a fold
        of this frame passes to ``replace``."""
        man = snapshot.load(self.root)
        if man is None:
            return None, snapshot.raw_epoch(self.root)
        paths = snapshot.files(self.root, man=man)
        return (spark.read.parquet(*paths) if paths else None), int(
            man["epoch"]
        )

    def replace(
        self, df: DataFrame, parent: int, params: dict | None = None
    ) -> None:
        """Publish a snapshot naming only ``df``'s files, with ``params``
        as the new pin when given.  ``parent`` is the epoch the read
        ``df`` folds resolved (``read_pinned``): a commit that landed
        since raises ``ConcurrentCommitError`` instead of being
        overwritten by a fold that never saw it.  The replay watermark
        is kept — it is what keeps a replayed batch id a no-op after
        its group was folded away.  The replaced files are deleted by
        the GC after the flip (a crash before it leaves them live, a
        crash after it leaves unreferenced files the next GC sweeps).
        ``df`` may read the table itself: it is written before anything
        is deleted."""
        man = snapshot.load(self.root)
        live = int(man["epoch"]) if man else snapshot.raw_epoch(self.root)
        if live != parent:  # fail before writing; the flip re-checks
            raise snapshot.ConcurrentCommitError(
                f"{self.root}: folded epoch {parent} but live is {live}"
                " — a concurrent commit landed; re-read and re-fold"
            )
        groups = (man or {"months": {}})["months"]
        key = f"compact-{len(groups)}-{(man or {}).get('max_committed_id')}"

        def write(edir: str) -> dict:
            df.write.mode("errorifexists").parquet(edir)
            fields = {
                **(man or {}), "months": {key: snapshot.staged_files(edir)},
            }
            if params is not None:
                fields["params"] = params
            return fields

        snapshot.gc(self.root, snapshot.publish(self.root, man, parent, write))

    def compact(self, spark: SparkSession, n_files: int | None = None) -> None:
        """Fold all committed batches into one group — bounds reader
        fan-out for long-lived streams."""
        if len(self.committed()) <= 1:
            return
        df, parent = self.read_pinned(spark)
        self.replace(df.coalesce(n_files) if n_files else df, parent)
