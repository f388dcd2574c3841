"""Versioned parquet tables: atomic commits, snapshot reads, time travel.

The reference's REPLACE INTO mutates its target in place and gives the
LATEST state only.  A ``VersionedTable`` is a manifest-committed table
on the one snapshot protocol (sources/snapshot.py) with a single file
group — every target of the engine's plain layout is one — and adds the
three properties a 100 TB deployment needs from its sink:

* **atomic commit** — every commit writes its data files into a fresh,
  uniquely named epoch directory (``_e{N}_{uuid}``) and publishes them
  with one compare-and-swap flip of ``_snapshot.json``
  (``snapshot.publish``).  A crash
  mid-write leaves an orphan epoch directory that no snapshot names:
  readers never see a partial table, and GC sweeps the orphan once it
  is provably dead.
* **snapshot isolation** — a reader that resolved version N keeps its
  file list; files are immutable and only deleted once no retained
  snapshot names them.
* **time travel** — ``read(spark, version=K)`` / ``history()`` over the
  retained snapshots (``vacuum(keep_last)`` sets the window).

A version is the snapshot's epoch.  ``merge`` is REPLACE INTO with
history: read latest, apply the upsert algebra
(operators/upsert.replace_into), commit as a new version.
``merge_delta`` is the Delta/Iceberg MERGE cost model on top: the new
snapshot lists the base's UNTOUCHED data files by relpath (shared,
never copied) plus newly written files for just the touched keys —
write I/O O(touched files + delta) instead of a full snapshot.  Each
snapshot also records ``note``, ``rows`` and, with a stats key,
per-file key bounds (``file_stats``) that later merges prune with.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from mrsboraetl_spark.sources import snapshot
from mrsboraetl_spark.sources.footer_stats import (
    parquet_key_stats,
    parquet_row_count,
    read_files,
)
from mrsboraetl_spark.sources.snapshot import ConcurrentCommitError

__all__ = ["ConcurrentCommitError", "VersionedTable"]

# A VersionedTable's one file group in the snapshot's file map.
_GROUP = "data"


class VersionedTable:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -------------------------------------------------------------- public

    def version(self) -> int:
        """Latest committed version, -1 if never committed."""
        return snapshot.raw_epoch(self.root)

    def rows(self) -> int | None:
        """Row count the live snapshot recorded, None when cold."""
        man = snapshot.load(self.root)
        return None if man is None else man.get("rows")

    def history(self) -> list[dict]:
        """Audit fields of the retained snapshots, oldest first:
        ``version`` plus whatever the commit recorded (``note``,
        ``rows``, ``stats_key``/``file_stats``, and merge_delta's
        rewrote/reused/probed counts)."""
        return [
            {
                "version": int(s["epoch"]),
                **{k: v for k, v in s.items() if k not in ("epoch", "months")},
            }
            for s in snapshot.history(self.root)
        ]

    def _row_count(self, spark: SparkSession, relpaths: list[str]) -> int:
        """Rows of the given data files from their footers (zero Spark
        jobs); a scan only when some footer is unreadable."""
        paths = [os.path.join(self.root, f) for f in relpaths]
        n = parquet_row_count(self.root, paths)
        if n is None:
            n = spark.read.parquet(*paths).count()
        return n

    def _relpath(self, file_uri: str) -> str:
        """input_file_name() URI -> snapshot relpath.

        The URI is percent-ENCODED (a root containing ' ' arrives as
        '%20'); without unquoting, no probe result would ever match a
        snapshot path and merge_delta would silently treat every file
        as untouched — keeping stale rows next to their replacements."""
        from urllib.parse import unquote

        p = file_uri
        if p.startswith("file:"):
            p = p[len("file:"):]
            while p.startswith("//"):
                p = p[1:]
        p = unquote(p)
        return os.path.relpath(os.path.abspath(p), os.path.abspath(self.root))

    def _file_key_stats(
        self, spark: SparkSession, relpaths: list[str], key: str
    ) -> dict:
        """{relpath: [min, max, n_rows]} of ``key`` per data file just
        written (Iceberg's per-file column bounds + record counts,
        recorded at write time so later merges can prune their
        touched-file probe AND account reused rows without scanning the
        table).  An integer key's entries come from the files' footers
        (footer_stats.parquet_key_stats, no job); any other key, or a
        footer that cannot prove its range, costs one grouped pass over
        the NEW data.  Only JSON-native key types (int/float/str/bool)
        are recorded; anything else returns {} and merges fall back to
        the full probe."""
        from pyspark.sql import functions as F

        paths = {os.path.join(self.root, f): f for f in relpaths}
        stats = parquet_key_stats(paths, key)
        if stats is not None:
            return {paths[p]: v for p, v in stats.items()}
        rows = (
            read_files(spark, list(paths))
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

    # Default bounded retry budget for a LOSING concurrent writer: on
    # ConcurrentCommitError the operation re-reads the live snapshot,
    # re-plans against it, and re-commits — up to this many extra
    # attempts before the error escapes.  Each retry is
    # serial-equivalent: commit() is a full REPLACE whose df is
    # state-independent; merge()/merge_delta() re-read the winner's base
    # and apply the same delta on top of it.
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
                # Jittered backoff: two losers re-racing on identical
                # clocks can livelock through their whole retry
                # budgets; a small random stagger lets one land each
                # round.  Negligible next to the re-plan's own Spark
                # jobs.
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

        ``parent_version``: the version the CALLER read when it planned
        ``df``.  When given, the commit raises ConcurrentCommitError if
        the live snapshot has moved past the pin — including commits
        that landed DURING the caller's plan/probe phase, which the
        default read-parent-at-commit-time capture silently builds on
        top of when ``df`` is state-dependent.  A pinned parent makes
        internal retries futile (same stale pin, same failure), so
        callers that pin must own the re-read + re-plan loop and pass
        ``retries=0``."""
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
        """Write ``df`` as the next version; atomic at the flip.

        ``stats_key``: record per-file [min, max] bounds of this column
        in the snapshot (one pass over the new data) — merge_delta then
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
        parent = self.version()
        if parent_version is not None and parent != parent_version:
            # Fast-fail before any data is written; the flip below
            # CAS-checks against the same parent.
            raise ConcurrentCommitError(
                f"{self.root}: planned against version {parent_version} "
                f"but live is {parent} — a concurrent commit landed "
                "during the caller's plan phase; re-read and re-plan"
            )
        spark = df.sparkSession

        def write(edir: str) -> dict:
            writer = df.write.mode("errorifexists")
            if max_records_per_file:
                writer = writer.option(
                    "maxRecordsPerFile", str(max_records_per_file)
                )
            writer.parquet(edir)
            staged = snapshot.staged_files(edir)
            fields = {
                "months": {_GROUP: staged},
                "rows": self._row_count(spark, staged),
                "note": note,
            }
            if stats_key is not None:
                fields["stats_key"] = stats_key
                fields["file_stats"] = self._file_key_stats(
                    spark, staged, stats_key
                )
            return fields

        return snapshot.publish(self.root, None, parent, write)["epoch"]

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """The live snapshot, or the retained snapshot ``version``
        (ValueError when it is not retained).  Opens exactly the
        snapshot's file list — files may physically live under older
        versions' epoch directories."""
        if version is None:
            paths = snapshot.files(self.root)
            if not paths:
                raise FileNotFoundError(f"{self.root}: no committed version")
        else:
            paths = snapshot.files(
                self.root, man=snapshot.load_at(self.root, version)
            )
        return read_files(spark, paths)

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
        concurrent attempt re-runs the WHOLE plan — snapshot re-read,
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
        parquet + the snapshot pointer.

        Mechanics: tag each base row with ``input_file_name()``,
        semi-join against the delta's keys to find the TOUCHED files
        (bounded driver action: one row per touched file); the new
        version writes (touched rows minus matched keys) + delta into a
        fresh epoch directory and its snapshot lists those new files
        PLUS the untouched files of the base version — which stay
        exactly where they are, shared across versions, never copied.
        Write I/O is O(touched files + delta); snapshot isolation and
        time travel are unchanged because no referenced file is ever
        mutated, and GC only deletes files no retained snapshot names.

        Touched-file discovery (two pruning layers):

        1. **snapshot key bounds** — when the base version carries
           per-file [min, max] stats of ``keys[0]`` (``stats_key`` on
           commit; merge_delta records and carries them forward
           automatically), only files whose range can contain a delta
           key are probed at all.  The containment test is a broadcast
           range join of the delta's key set against the (tiny) file
           list — a nested-loop against |files| rows, each key testing
           a bounded handful of ranges (legitimate NLJ: the broadcast
           side IS the file list, not data).  Files lacking stats stay
           candidates (conservative).
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
        never express."""
        from pyspark.sql import functions as F

        from mrsboraetl_spark.operators.upsert import anti_delete

        man = snapshot.load(self.root)
        if man is None:
            # _commit_once, not commit: the enclosing merge_delta retry
            # loop owns re-planning (a racing first-commit must re-run
            # the whole merge against the winner's base, not blind-land)
            return self._commit_once(delta, note=note, stats_key=keys[0])
        base_files = list(man["months"].get(_GROUP, ()))
        base = read_files(
            spark, [os.path.join(self.root, f) for f in base_files]
        )
        if dict(base.dtypes) != dict(delta.dtypes):
            # Full dtype comparison, not just column names: a same-named
            # column with a different type would write new files whose
            # schema diverges from the reused base files listed in the
            # SAME snapshot — a read-time merge failure (or silent
            # coercion) discovered long after the commit.
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

        file_stats = (
            man.get("file_stats", {})
            if man.get("stats_key") == keys[0]
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
            tagged = read_files(
                spark, [os.path.join(self.root, f) for f in candidates]
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

        survivors = None
        if touched:
            survivors = anti_delete(
                read_files(
                    spark, [os.path.join(self.root, f) for f in touched]
                ),
                key_rows,
                list(keys),
            )
        new_rows = (
            delta if survivors is None
            else survivors.unionByName(delta.select(*survivors.columns))
        )

        def write(edir: str) -> dict:
            new_rows.write.mode("errorifexists").parquet(edir)
            staged = snapshot.staged_files(edir)
            n_new = self._row_count(spark, staged)
            # Untouched-side row count: from the snapshot's per-file
            # record counts when every reused file has them (zero I/O),
            # else the untouched files' footers (stats-less bases).
            if untouched and all(
                f in file_stats and len(file_stats[f]) >= 3
                for f in untouched
            ):
                n_untouched = sum(int(file_stats[f][2]) for f in untouched)
            else:
                n_untouched = self._row_count(spark, untouched)
            # Stats for the new version: fresh bounds for the new files,
            # the base's recorded bounds carried forward for the reused
            # ones.
            new_stats = self._file_key_stats(spark, staged, keys[0])
            carried = {f: file_stats[f] for f in untouched if f in file_stats}
            return {
                "months": {_GROUP: [*untouched, *staged]},
                "rows": n_untouched + n_new,
                "note": note,
                "rewrote_files": len(touched),
                "reused_files": len(untouched),
                # observability: how many files the exact probe scanned
                # (snapshot-bound pruning cut base_files down to this)
                "probed_files": len(candidates),
                "stats_key": keys[0],
                "file_stats": {**carried, **new_stats},
            }

        # the snapshot read ONCE at the top stays the plan's authority:
        # base files, stats and the CAS parent all derive from it
        return snapshot.publish(
            self.root, man, int(man["epoch"]), write
        )["epoch"]

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Retain only the last ``keep_last`` versions: GC every file no
        retained snapshot names (files shared forward by merge_delta
        survive while any retained version lists them), the history of
        older versions, and never-flipped staging once provably dead
        (see snapshot.gc).  Returns the versions that fell out of
        retention.  (Local equivalent of Delta VACUUM; snapshot readers
        of dropped versions lose them — same contract.)"""
        return snapshot.gc(self.root, keep=keep_last)
