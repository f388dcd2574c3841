"""Versioned parquet tables: atomic commits, snapshot reads, time travel.

The reference's REPLACE INTO mutates its target in place; the engine's
plain layout swaps whole directories.  Both give the LATEST state only.
A transaction-log layout (what Delta/Iceberg do) adds, on plain parquet +
a JSON manifest, the three properties a 100 TB deployment actually
needs from its sink:

* **atomic commit** — data files land under an immutable ``v{N}/``
  directory first; the commit IS the ``os.replace`` of the manifest
  (POSIX-atomic).  A crash mid-write leaves an orphan data directory
  and an untouched manifest: readers never see a partial table.
* **snapshot isolation** — a reader that resolved version N keeps
  reading ``v{N}/`` unaffected by later commits (old versions are never
  rewritten, only eventually vacuumed).
* **time travel** — ``read(spark, version=K)`` / ``history()`` for
  audits and incremental-vs-rebuild diffing.

``merge`` is REPLACE INTO with history: read latest, apply the upsert
algebra (operators/upsert.replace_into), commit as a new version.
``merge_delta`` (r6) is the Delta/Iceberg MERGE cost model on top: the
new version's manifest lists the base's UNTOUCHED data files verbatim
(shared, never copied) plus newly-written files for just the touched
keys — write I/O O(touched files + delta) instead of a full snapshot,
with snapshot isolation and time travel intact because referenced
files are immutable and vacuum is reference-counting-aware.  On a
real cluster the manifest lives in an object store with a
put-if-absent/rename primitive — the same contract os.replace gives
locally; swap `_commit_manifest` for that primitive and nothing else
changes.
"""

from __future__ import annotations

import json
import os
import tempfile
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

_MANIFEST = "_latest.json"
_HISTORY_ARCHIVE = "_history_archive.jsonl"


class ConcurrentCommitError(RuntimeError):
    """Another writer committed to this table after the current writer
    read its parent state — completing the commit would silently drop
    that writer's version (last-writer-wins).  The loser must re-read
    the table and re-plan; its staged data directory is an orphan the
    next successful commit's path handling tolerates.  Local stand-in
    for an object store's compare-and-swap / If-Match conditional PUT
    (what Iceberg does on its pointer)."""


class VersionedTable:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # Manifest size threshold (bytes, via os.path.getsize): past this,
    # history entries older than the retention window are rolled into
    # the append-only archive file (see compact_history).  ~1 MB keeps
    # the hot pointer a single small PUT at ANY sync count — the audit
    # tail lives in _history_archive.jsonl, never on the hot path.
    _HISTORY_COMPACT_BYTES = 1 << 20

    # ------------------------------------------------------------ manifest

    def _manifest_path(self) -> str:
        return os.path.join(self.root, _MANIFEST)

    def _read_manifest(self) -> dict:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"version": -1, "history": []}

    def _commit_manifest(
        self, manifest: dict, parent_version: int | None = None
    ) -> None:
        """Atomic manifest swap.  ``parent_version``: the version the
        writer READ when it planned this commit — if the live manifest
        has moved past it, raise instead of silently dropping the
        concurrent writer's version (optimistic concurrency, VERDICT
        r10 item 3).  The check-then-replace window is not truly
        atomic locally; on an object store swap this method for a
        conditional PUT and the contract is exact."""
        if parent_version is not None:
            live = self._read_manifest()["version"]
            if live != parent_version:
                raise ConcurrentCommitError(
                    f"{self.root}: read version {parent_version} but "
                    f"live is {live} — a concurrent commit landed; "
                    "re-read and re-plan"
                )
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".json.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path())  # the atomic commit point

    def _promote_staging(
        self, staging: str, data_dir: str, next_v: int
    ) -> None:
        """Move a fully-written staging dir into place as ``v{next_v}``
        — WITHOUT clobbering a concurrent winner's committed data
        (ADVICE r11, medium).  The old spelling rmtree'd any existing
        ``v{next_v}`` unconditionally: under the concurrent-writer
        scenario the CAS defends against, a winner that committed
        ``v{next_v}`` while this (losing) writer was still staging its
        parquet had its committed data directory deleted and replaced —
        then the loser's manifest CAS raised, leaving the live manifest
        naming files that no longer match its entry (silent corruption
        despite the error).  Re-running the parent check HERE means an
        existing ``v{next_v}`` is only removed while the manifest still
        points at ``next_v - 1`` — i.e. it is provably an un-manifested
        orphan of a crashed commit.  The residual window between this
        check and the rename is the same documented local
        check-then-act gap as _commit_manifest's; an object store
        closes both with put-if-absent on the data prefix plus a
        conditional PUT on the pointer."""
        import shutil

        live = self._read_manifest()["version"]
        if live != next_v - 1:
            raise ConcurrentCommitError(
                f"{self.root}: staged v{next_v} against version "
                f"{next_v - 1} but live is {live} — a concurrent "
                "commit landed; re-read and re-plan (the caller "
                "discards the staging dir)"
            )
        if os.path.exists(data_dir):
            shutil.rmtree(data_dir)  # un-manifested orphan — never committed
        os.rename(staging, data_dir)

    # -------------------------------------------------------------- public

    def version(self) -> int:
        """Latest committed version, -1 if never committed."""
        return self._read_manifest()["version"]

    def history(self, include_archived: bool = False) -> list[dict]:
        """Audit history.  The hot manifest holds only entries inside
        the retention window plus a bounded recent tail; older audit
        rows are rolled into an append-only ``_history_archive.jsonl``
        by compact_history (VERDICT r11 item 2 — keeping them in the
        pointer made it re-cross the compaction threshold with nothing
        left to strip, growing linearly again).  Pass
        ``include_archived=True`` to read archived rows too (one cold
        sequential read — never on the hot path)."""
        hot = self._read_manifest()["history"]
        if not include_archived:
            return hot
        return [*self.archived_history(), *hot]

    def _archive_path(self) -> str:
        return os.path.join(self.root, _HISTORY_ARCHIVE)

    def archived_history(
        self, since_version: int | None = None
    ) -> list[dict]:
        """Audit rows rolled out of the hot manifest, oldest first
        (sorted by version — file order is not trusted: a torn line
        from an append crash can eat a row that a later re-archive
        restores out of order).  De-duplicates by version, first line
        wins — a crash between the archive append and the manifest
        commit re-archives the same batch once.

        Cost: one sequential read of the WHOLE archive file — the
        JSONL is append-only with no index, so there is nothing to
        seek to.  ``since_version`` (VERDICT r12 item 5) bounds the
        parse/sort/return side for pollers: rows with version <=
        since_version are dropped as read (a caller tracking the last
        version it saw pays O(file bytes) I/O but O(new rows) memory
        and parsing — the dominant cost for large archives).  Audit
        tooling that re-reads at sync cadence should carry that
        cursor; a one-shot cold audit can read whole."""
        out: list[dict] = []
        seen: set = set()
        try:
            with open(self._archive_path()) as f:
                for line in f:
                    line = line.strip()
                    if not line:
                        continue
                    try:
                        e = json.loads(line)
                    except ValueError:
                        continue  # torn tail line from an append crash
                    v = e.get("version")
                    if (
                        since_version is not None
                        and isinstance(v, int)
                        and v <= since_version
                    ):
                        continue
                    if v in seen:
                        continue
                    seen.add(v)
                    out.append(e)
        except FileNotFoundError:
            return []
        out.sort(key=lambda e: (e.get("version") is None, e.get("version")))
        return out

    def _file_key_stats(
        self, spark: SparkSession, data_dir: str, key: str
    ) -> dict:
        """{relpath: [min, max, n_rows]} of ``key`` per data file just
        written — one bounded pass over the NEW data (Iceberg's per-file
        column bounds + record counts, recorded at write time so later
        merges can prune their touched-file probe AND account reused
        rows without scanning the table).  Only JSON-native key types
        (int/float/str/bool) are recorded; anything else returns {} and
        merges fall back to the full probe."""
        from pyspark.sql import functions as F

        rows = (
            spark.read.parquet(data_dir)
            .groupBy(F.input_file_name().alias("_f"))
            .agg(
                F.min(key).alias("lo"),
                F.max(key).alias("hi"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        vals = [v for r in rows for v in (r["lo"], r["hi"])]
        if not all(
            v is None or isinstance(v, (int, float, str, bool))
            for v in vals
        ):
            return {}
        return {
            self._relpath(r["_f"]): [r["lo"], r["hi"], r["n"]]
            for r in rows
        }

    # Default bounded retry budget for a LOSING concurrent writer
    # (VERDICT r11 item 1): on ConcurrentCommitError the operation
    # re-reads the live manifest, re-plans against it, and re-commits —
    # up to this many extra attempts before the error escapes.  Each
    # retry is serial-equivalent: commit() is a full REPLACE whose df
    # is state-independent; merge()/merge_delta() re-read the winner's
    # base and apply the same delta on top of it.
    _DEFAULT_COMMIT_RETRIES = 2

    def _retry_commits(self, fn, retries: int | None):
        import random
        import time

        n = self._DEFAULT_COMMIT_RETRIES if retries is None else retries
        for attempt in range(n + 1):
            try:
                return fn()
            except ConcurrentCommitError:
                if attempt == n:
                    raise
                # Jittered backoff (VERDICT r12 item 2): two losers
                # re-racing on identical clocks can livelock through
                # their whole retry budgets; a small random stagger
                # lets one land each round.  Negligible next to the
                # re-plan's own Spark jobs.
                time.sleep(random.uniform(0.05, 0.2) * (attempt + 1))

    def commit(
        self, df: DataFrame, note: str = "", stats_key: str | None = None,
        max_records_per_file: int | None = None,
        retries: int | None = None,
        parent_version: int | None = None,
    ) -> int:
        """Write ``df`` as the next version (see _commit_once).  On a
        concurrent commit, retries re-plan against the new live version
        — a full REPLACE is serial-equivalent regardless of base, so
        only the version number changes across attempts.

        ``parent_version`` (ADVICE r12, medium): the version the CALLER
        read when it planned ``df``.  When given, the commit lands as
        ``parent_version + 1`` and raises ConcurrentCommitError if the
        live manifest has moved past the pin — including commits that
        landed DURING the caller's plan/probe phase, which the default
        read-parent-at-commit-time capture silently builds on top of
        when ``df`` is state-dependent.  A pinned parent makes internal
        retries futile (same stale pin, same failure), so callers that
        pin must own the re-read + re-plan loop and pass ``retries=0``."""
        return self._retry_commits(
            lambda: self._commit_once(
                df, note=note, stats_key=stats_key,
                max_records_per_file=max_records_per_file,
                parent_version=parent_version,
            ),
            retries,
        )

    def _commit_once(
        self, df: DataFrame, note: str = "", stats_key: str | None = None,
        max_records_per_file: int | None = None,
        parent_version: int | None = None,
    ) -> int:
        """Write ``df`` as the next version; atomic at the manifest swap.

        Data lands in a unique staging dir first and is renamed into
        ``v{next_v}`` only once fully written.  A crash mid-write therefore
        leaves an unreferenced staging dir, never a partial ``v{N}`` that
        would make every later commit's errorifexists write raise forever.
        An existing ``v{next_v}`` is provably an orphan from a crashed
        commit (the manifest still points at ``next_v - 1``), so it is
        removed; the final ``os.rename`` keeps the put-if-absent contract
        against a concurrent writer.

        ``stats_key``: record per-file [min, max] bounds of this column
        in the manifest (one pass over the new data) — merge_delta then
        probes only files whose range can hold a delta key.  Most
        effective when ``df`` is repartitioned+sorted on that key so
        ranges are tight and disjoint.

        ``max_records_per_file``: bound rows per data file (Spark
        maxRecordsPerFile).  Without it a small-but-growing table AQE
        has coalesced to one shuffle partition lands as ONE file, and
        every later merge_delta must rewrite the whole table — per-file
        reuse needs files to exist.  The engine threads its
        _TARGET_FILE_ROWS here so versioned targets get the same
        bounded file grain as the partitioned layout."""
        import shutil
        import uuid

        manifest = self._read_manifest()
        if (
            parent_version is not None
            and manifest["version"] != parent_version
        ):
            # Fast-fail before any data is written; and because next_v
            # below derives from the SAME manifest read, the final CAS
            # necessarily checks against the caller's pin too.
            raise ConcurrentCommitError(
                f"{self.root}: planned against version {parent_version} "
                f"but live is {manifest['version']} — a concurrent "
                "commit landed during the caller's plan phase; "
                "re-read and re-plan"
            )
        next_v = manifest["version"] + 1
        data_dir = os.path.join(self.root, f"v{next_v}")
        staging = os.path.join(
            self.root, f".v{next_v}-staging-{uuid.uuid4().hex}"
        )
        writer = df.write.mode("errorifexists")
        if max_records_per_file:
            writer = writer.option(
                "maxRecordsPerFile", str(max_records_per_file)
            )
        try:
            writer.parquet(staging)
            n_rows = df.sparkSession.read.parquet(staging).count()
            self._promote_staging(staging, data_dir, next_v)
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        entry = {"version": next_v, "rows": n_rows, "note": note}
        if stats_key is not None:
            entry["stats_key"] = stats_key
            entry["file_stats"] = self._file_key_stats(
                df.sparkSession, data_dir, stats_key
            )
        manifest["version"] = next_v
        manifest["history"] = [*manifest["history"], entry]
        self._commit_manifest(manifest, parent_version=next_v - 1)
        return next_v

    def _entry(self, v: int) -> dict | None:
        for e in self._read_manifest()["history"]:
            if e["version"] == v:
                return e
        return None

    def _files_of(self, v: int) -> list[str]:
        """Root-relative data files of version ``v``: the manifest's
        explicit list for file-reuse versions (merge_delta), else the
        ``v{N}`` directory listing for full-snapshot versions."""
        e = self._entry(v)
        if e is not None and "files" in e:
            return list(e["files"])
        d = os.path.join(self.root, f"v{v}")
        if not os.path.isdir(d):
            # A kept full-snapshot version whose directory was already
            # removed by an earlier vacuum with a smaller keep_last: a
            # later vacuum(keep_last=K) walking the referenced set must
            # skip it, not crash — its files can no longer be referenced
            # by anything.
            return []
        return [
            f"v{v}/{f}"
            for f in sorted(os.listdir(d))
            if f.endswith(".parquet")
        ]

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        v = self.version() if version is None else version
        if v < 0:
            raise FileNotFoundError(f"{self.root}: no committed version")
        if version is not None and version > self.version():
            raise ValueError(f"version {version} > latest {self.version()}")
        e = self._entry(v)
        if e is not None and e.get("compacted") or (
            e is None
            and v <= int(
                self._read_manifest().get("archived_through", -1)
            )
        ):
            # A compacted/archived entry lost its explicit file list;
            # falling back to the v{N} directory listing would
            # silently serve a PARTIAL table (a merge version's reused
            # files live under older dirs).  Same reader contract as a
            # vacuumed version, stated loudly.
            raise ValueError(
                f"version {v} of {self.root} was compacted past the "
                "retention window and is no longer readable"
            )
        if e is not None and "files" in e:
            # File-reuse version: open exactly the manifest's file list
            # (files may physically live under OLDER versions' dirs).
            return spark.read.parquet(
                *[os.path.join(self.root, f) for f in e["files"]]
            )
        return spark.read.parquet(os.path.join(self.root, f"v{v}"))

    def merge(
        self, spark: SparkSession, delta: DataFrame, keys: Sequence[str],
        note: str = "merge",
        evolve_schema: bool = False,
        retries: int | None = None,
    ) -> int:
        """REPLACE-INTO merge as a new version (upsert with history).
        First merge on an empty table commits the delta as v0.
        ``evolve_schema=True`` lets the delta add columns (existing rows
        read NULL for them) — and because every version is an immutable
        full snapshot, time travel still returns each version under the
        schema it was written with.  A losing concurrent attempt
        re-reads the winner's version as its new base and re-merges
        (the retry loop owns the base read, so commit itself runs with
        retries=0)."""
        from mrsboraetl_spark.operators.upsert import replace_into

        def once() -> int:
            base = self.read(spark) if self.version() >= 0 else None
            return self._commit_once(
                replace_into(
                    base, delta, list(keys), evolve_schema=evolve_schema
                ),
                note=note,
            )

        return self._retry_commits(once, retries)

    def merge_delta(
        self,
        spark: SparkSession,
        delta: DataFrame,
        keys: Sequence[str],
        note: str = "merge_delta",
        delete_keys: DataFrame | None = None,
        retries: int | None = None,
    ) -> int:
        """File-reuse MERGE (see _merge_delta_once).  A losing
        concurrent attempt re-runs the WHOLE plan — manifest re-read,
        touched-file probe, survivor rewrite — against the winner's
        version, so the retry applies the same delta on top of the
        winner's rows (serial-equivalent, pinned in
        tests/test_versioned.py)."""
        return self._retry_commits(
            lambda: self._merge_delta_once(
                spark, delta, keys, note=note, delete_keys=delete_keys
            ),
            retries,
        )

    def _merge_delta_once(
        self,
        spark: SparkSession,
        delta: DataFrame,
        keys: Sequence[str],
        note: str = "merge_delta",
        delete_keys: DataFrame | None = None,
    ) -> int:
        """REPLACE-INTO merge that rewrites ONLY the data files holding
        matched keys — the Delta/Iceberg MERGE cost model on plain
        parquet + the JSON manifest (closes the 'every versioned commit
        is a full snapshot' gap for incremental syncs).

        Mechanics: tag each base row with ``input_file_name()``,
        semi-join against the delta's keys to find the TOUCHED files
        (bounded driver action: one row per touched file); the new
        version writes (touched rows minus matched keys) + delta into
        ``v{next}/`` and its manifest entry lists those new files PLUS
        the untouched files of the base version — which stay exactly
        where they are, shared across versions, never copied.  Write
        I/O is O(touched files + delta); snapshot isolation and time
        travel are unchanged because no referenced file is ever
        mutated.  ``vacuum`` only deletes files no kept version
        references, so sharing is safe.

        Touched-file discovery (two pruning layers):

        1. **manifest key bounds** — when the base version carries
           per-file [min, max] stats of ``keys[0]`` (``stats_key`` on
           commit; merge_delta records and carries them forward
           automatically), only files whose range can contain a delta
           key are probed at all.  The containment test is a broadcast
           range join of the delta's key set against the (tiny) file
           list — a nested-loop against |files| rows, each key testing
           a bounded handful of ranges (legitimate NLJ: the broadcast
           side IS the file manifest, not data).  Files lacking stats
           stay candidates (conservative).
        2. **exact probe** — ``input_file_name()`` semi-join over the
           CANDIDATE files only (column-pruned key scan).

        With the PK-sorted layout ranges are tight and disjoint, so a
        point-delta probes ~1 file regardless of table size.  Requires
        equal schemas (schema evolution forces a full rewrite — use
        ``merge(evolve_schema=True)``).

        ``delete_keys``: optional extra key rows to PURGE — matched
        base rows are removed exactly like replaced ones, but no new
        row takes their place (a key present in ``delete_keys`` and
        absent from ``delta`` is a straight DELETE).  This is the
        REPLACE-INTO + delete-join shape incremental latest-state
        merges need: an entity whose recomputed state has zero rows
        must lose its old row, which delta-derived keys alone can
        never express (r10)."""
        import shutil
        import uuid

        from pyspark.sql import functions as F

        from mrsboraetl_spark.operators.upsert import anti_delete

        manifest = self._read_manifest()
        base_v = manifest["version"]
        if base_v < 0:
            # _commit_once, not commit: the enclosing merge_delta retry
            # loop owns re-planning (a racing first-commit must re-run
            # the whole merge against the winner's base, not blind-land)
            return self._commit_once(delta, note=note, stats_key=keys[0])
        base_files = self._files_of(base_v)
        abs_files = [os.path.join(self.root, f) for f in base_files]
        base = spark.read.parquet(*abs_files)
        if dict(base.dtypes) != dict(delta.dtypes):
            # Full dtype comparison, not just column names: a same-named
            # column with a different type would write new files whose
            # schema diverges from the reused base files listed in the
            # SAME manifest version — a read-time merge failure (or
            # silent coercion) discovered long after the commit.
            raise ValueError(
                "merge_delta requires identical schemas (names AND "
                f"types); base={sorted(base.dtypes)} "
                f"delta={sorted(delta.dtypes)} — use "
                "merge(evolve_schema=True) for schema changes"
            )
        key_rows = delta.select(*keys).distinct()
        if delete_keys is not None:
            key_rows = key_rows.unionByName(
                delete_keys.select(*keys)
            ).distinct()

        base_entry = next(
            (e for e in manifest["history"] if e["version"] == base_v),
            None,
        ) or {}
        file_stats = (
            base_entry.get("file_stats", {})
            if base_entry.get("stats_key") == keys[0]
            else {}
        )
        with_stats = [f for f in base_files if f in file_stats]
        no_stats = [f for f in base_files if f not in file_stats]
        candidates = list(no_stats)
        if with_stats:
            key_type = base.schema[keys[0]].dataType.simpleString()
            ranges = spark.createDataFrame(
                [
                    (f, file_stats[f][0], file_stats[f][1])
                    for f in with_stats
                ],
                f"_f string, _lo {key_type}, _hi {key_type}",
            )
            hit = (
                key_rows.join(
                    F.broadcast(ranges),
                    (F.col(keys[0]) >= F.col("_lo"))
                    & (F.col(keys[0]) <= F.col("_hi")),
                )
                .select("_f")
                .distinct()
                .collect()
            )
            candidates += [r["_f"] for r in hit]
        touched_rel: set[str] = set()
        if candidates:
            tagged = spark.read.parquet(
                *[os.path.join(self.root, f) for f in candidates]
            ).withColumn("_file", F.input_file_name())
            # Bounded driver action: one row per data file with a match.
            touched_rel = {
                self._relpath(r["_file"])
                for r in tagged.join(key_rows, list(keys), "left_semi")
                .select("_file")
                .distinct()
                .collect()
            }
        untouched = [f for f in base_files if f not in touched_rel]
        touched = [f for f in base_files if f in touched_rel]

        # the manifest read ONCE at the top stays the plan's authority:
        # base files, stats, and next_v all derive from base_v, and the
        # commit below CAS-checks against that same parent
        next_v = base_v + 1
        data_dir = os.path.join(self.root, f"v{next_v}")
        staging = os.path.join(
            self.root, f".v{next_v}-staging-{uuid.uuid4().hex}"
        )
        survivors = None
        if touched:
            survivors = anti_delete(
                spark.read.parquet(
                    *[os.path.join(self.root, f) for f in touched]
                ),
                key_rows,
                list(keys),
            )
        new_rows = (
            delta if survivors is None
            else survivors.unionByName(delta.select(*survivors.columns))
        )
        try:
            new_rows.write.mode("errorifexists").parquet(staging)
            n_new = spark.read.parquet(staging).count()
            self._promote_staging(staging, data_dir, next_v)
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        new_files = [
            f"v{next_v}/{f}"
            for f in sorted(os.listdir(data_dir))
            if f.endswith(".parquet")
        ]
        # Untouched-side row count: from the manifest's per-file record
        # counts when every reused file has them (zero I/O), else one
        # count() over the untouched files (stats-less legacy bases).
        if untouched and all(
            f in file_stats and len(file_stats[f]) >= 3 for f in untouched
        ):
            n_untouched = sum(int(file_stats[f][2]) for f in untouched)
        else:
            n_untouched = (
                spark.read.parquet(
                    *[os.path.join(self.root, f) for f in untouched]
                ).count()
                if untouched
                else 0
            )
        # Stats for the new version: fresh bounds for the new files, the
        # base's recorded bounds carried forward for the reused ones.
        new_stats = self._file_key_stats(spark, data_dir, keys[0])
        carried = {f: file_stats[f] for f in untouched if f in file_stats}
        manifest["version"] = next_v
        manifest["history"] = [
            *manifest["history"],
            {
                "version": next_v,
                "rows": n_untouched + n_new,
                "note": note,
                "files": [*untouched, *new_files],
                "rewrote_files": len(touched),
                "reused_files": len(untouched),
                # observability: how many files the exact probe scanned
                # (manifest-bound pruning cut base_files down to this)
                "probed_files": len(candidates),
                "stats_key": keys[0],
                "file_stats": {**carried, **new_stats},
            },
        ]
        self._commit_manifest(manifest, parent_version=base_v)
        return next_v

    def _relpath(self, file_uri: str) -> str:
        """input_file_name() URI -> manifest-relative path.

        The URI is percent-ENCODED (a root containing ' ' arrives as
        '%20'); without unquoting, no probe result would ever match a
        manifest path and merge_delta would silently treat every file
        as untouched — keeping stale rows next to their replacements."""
        from urllib.parse import unquote

        p = file_uri
        if p.startswith("file:"):
            p = p[len("file:"):]
            while p.startswith("//"):
                p = p[1:]
        p = unquote(p)
        return os.path.relpath(os.path.abspath(p), os.path.abspath(self.root))

    def compact_history(self, keep_last: int = 2) -> int:
        """Roll history entries older than the last ``keep_last``
        versions out of the hot manifest — per-file metadata
        (``files``/``file_stats``) stripped, the audit row (version,
        rows, note, rewrote/reused/probed counts) appended to the
        append-only ``_history_archive.jsonl`` — once the on-disk
        manifest passes ``_HISTORY_COMPACT_BYTES``.

        Why (VERDICT r10 item 2; tail bounded r12 per VERDICT r11
        item 2 / ADVICE r11): every incremental sync commits a merge
        version whose entry lists the table's whole file set plus
        per-file stats; at a sync-per-5-minutes cadence the manifest
        grows ~100k entries/year.  The r11 form stripped the bulk but
        kept every audit row in the pointer forever, so past ~10k
        syncs the hot pointer re-crossed the threshold with nothing
        left to strip and grew linearly again — and every vacuum paid
        a full json.dumps just for the size check.  Now the hot
        pointer holds ONLY the retention window (bounded at any sync
        count), the size check is one os.path.getsize, and the audit
        trail lives whole in the archive (``history(
        include_archived=True)`` / ``archived_history()`` — a cold
        sequential read, never parsed on the hot path).

        Crash contract: the archive append lands (fsync'd) BEFORE the
        manifest commit; a crash in between re-archives the same batch
        next time and the reader de-duplicates by version.
        ``archived_through`` in the manifest records the high-water
        mark so ``read`` of an archived version raises explicitly
        instead of serving a partial v{N} directory.  Entries inside
        the kept window are never touched — retention reads,
        merge_delta's base-stats lookup, and vacuum's referenced-set
        walk only consult those.  Returns the number of entries
        rolled to the archive."""
        try:
            if (
                os.path.getsize(self._manifest_path())
                <= self._HISTORY_COMPACT_BYTES
            ):
                return 0
        except OSError:
            return 0  # no manifest yet: nothing to compact
        manifest = self._read_manifest()
        cut = manifest["version"] - keep_last + 1
        hot: list[dict] = []
        rolled: list[dict] = []
        for e in manifest["history"]:
            if e["version"] < cut:
                e.pop("file_stats", None)
                e.pop("files", None)
                e["compacted"] = True
                rolled.append(e)
            else:
                hot.append(e)
        if not rolled:
            return 0
        with open(self._archive_path(), "a") as f:
            # leading newline: a previous append's torn final line can
            # never swallow this batch's first row by concatenation
            # (blank lines are skipped on read)
            f.write("\n")
            for e in rolled:
                f.write(json.dumps(e) + "\n")
            f.flush()
            os.fsync(f.fileno())
        manifest["history"] = hot
        manifest["archived_through"] = max(
            int(manifest.get("archived_through", -1)),
            max(e["version"] for e in rolled),
        )
        try:
            self._commit_manifest(
                manifest, parent_version=manifest["version"]
            )
        except ConcurrentCommitError:
            # Compaction is housekeeping: losing a race to a real
            # commit must not fail the sync that already landed its
            # work — the next vacuum re-compacts, and the archive
            # reader de-duplicates the rows this attempt appended.
            return 0
        return len(rolled)

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Drop data of versions older than the last ``keep_last``.
        Returns dropped versions.  (Local-dir equivalent of Delta VACUUM;
        snapshot readers of dropped versions lose them — same contract.)

        File-reuse aware: a file physically under a dropped version's
        directory SURVIVES if any kept version's manifest still lists it
        (merge_delta shares untouched files forward); only unreferenced
        files are deleted, and the directory goes when empty.

        Also compacts manifest history below the same window
        (compact_history) once the JSON passes its size threshold —
        vacuum is the retention statement, so metadata retention rides
        the same call."""
        import shutil

        latest = self.version()
        keep = range(max(latest - keep_last + 1, 0), latest + 1)
        referenced: set[str] = set()
        for v in keep:
            referenced.update(self._files_of(v))
        dropped = []
        for v in range(0, max(latest - keep_last + 1, 0)):
            d = os.path.join(self.root, f"v{v}")
            if not os.path.exists(d):
                continue
            kept_any = False
            for f in os.listdir(d):
                rel = f"v{v}/{f}"
                if rel in referenced:
                    kept_any = True
                else:
                    path = os.path.join(d, f)
                    if os.path.isdir(path):
                        shutil.rmtree(path)
                    else:
                        os.remove(path)
            if not kept_any:
                shutil.rmtree(d, ignore_errors=True)
                dropped.append(v)
        self.compact_history(keep_last=keep_last)
        return dropped
