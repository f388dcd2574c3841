"""Versioned table: atomic manifest commits, snapshot isolation, time
travel, merge-with-history, crash invisibility, vacuum."""

from __future__ import annotations

import os

import pytest

from mrsboraetl_spark.sources.versioned import VersionedTable


@pytest.fixture()
def vt(tmp_path):
    return VersionedTable(str(tmp_path / "tbl"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "pk long, v string")


def test_commit_read_time_travel(spark, vt):
    assert vt.version() == -1
    vt.commit(_df(spark, [(1, "a"), (2, "b")]), note="initial")
    vt.commit(_df(spark, [(1, "a2"), (2, "b"), (3, "c")]), note="second")
    assert vt.version() == 1
    latest = {r.pk: r.v for r in vt.read(spark).collect()}
    assert latest == {1: "a2", 2: "b", 3: "c"}
    v0 = {r.pk: r.v for r in vt.read(spark, version=0).collect()}
    assert v0 == {1: "a", 2: "b"}
    assert [h["note"] for h in vt.history()] == ["initial", "second"]
    with pytest.raises(ValueError):
        vt.read(spark, version=99)


def test_snapshot_isolation(spark, vt):
    vt.commit(_df(spark, [(1, "a")]))
    snapshot = vt.read(spark)  # resolves v0 now
    vt.commit(_df(spark, [(1, "CHANGED")]))
    # the pre-commit reader still sees its version
    assert [r.v for r in snapshot.collect()] == ["a"]
    assert [r.v for r in vt.read(spark).collect()] == ["CHANGED"]


def test_merge_is_replace_into_with_history(spark, vt):
    vt.merge(spark, _df(spark, [(1, "a"), (2, "b")]), keys=["pk"])
    vt.merge(spark, _df(spark, [(2, "B"), (3, "c")]), keys=["pk"])
    got = {r.pk: r.v for r in vt.read(spark).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    # history kept both versions; v0 still readable
    assert {r.pk: r.v for r in vt.read(spark, 0).collect()} == {1: "a", 2: "b"}


def test_crashed_write_is_invisible(spark, vt):
    vt.commit(_df(spark, [(1, "a")]))
    # simulate a crash AFTER data write, BEFORE manifest commit: an orphan
    # v1 directory with no manifest update
    _df(spark, [(9, "junk")]).write.parquet(os.path.join(vt.root, "v1"))
    assert vt.version() == 0
    assert {r.pk for r in vt.read(spark).collect()} == {1}
    # recovery: the next commit clears the orphan itself (the manifest
    # proves v1 was never committed) instead of wedging on errorifexists
    vt.commit(_df(spark, [(1, "a2")]))
    assert vt.version() == 1
    assert {r.v for r in vt.read(spark).collect()} == {"a2"}
    # no staging debris left behind
    leftovers = [d for d in os.listdir(vt.root) if "staging" in d]
    assert leftovers == []


def test_vacuum_drops_old_versions(spark, vt):
    for i in range(4):
        vt.commit(_df(spark, [(1, f"v{i}")]))
    dropped = vt.vacuum(keep_last=2)
    assert dropped == [0, 1]
    assert [r.v for r in vt.read(spark).collect()] == ["v3"]
    assert [r.v for r in vt.read(spark, 2).collect()] == ["v2"]
    with pytest.raises(Exception):
        vt.read(spark, 0).collect()


def test_merge_schema_evolution(spark, vt):
    """evolve_schema=True lets a delta add a column (existing rows read
    NULL for it) while time travel keeps each version's own schema;
    without the flag, schema drift fails loudly."""
    vt.commit(_df(spark, [(1, "a"), (2, "b")]), note="initial")
    delta = spark.createDataFrame(
        [(2, "b2", 9.5), (3, "c", 1.0)], "pk long, v string, score double"
    )
    with pytest.raises(Exception):
        vt.merge(spark, delta, ["pk"])
    v = vt.merge(spark, delta, ["pk"], evolve_schema=True)
    latest = {r.pk: (r.v, r.score) for r in vt.read(spark).collect()}
    assert latest == {1: ("a", None), 2: ("b2", 9.5), 3: ("c", 1.0)}
    assert "score" not in vt.read(spark, version=0).columns
    assert vt.version() == v == 1


def test_streaming_exactly_once_merge(spark, tmp_path):
    """Drain a 3-file stream through the versioned sink: one commit per
    batch, final table equals the batch merge of all rows, and replaying
    a committed batch is a version-count no-op (the exactly-once
    property the marker drains only approximate)."""
    from mrsboraetl_spark.sources.versioned import VersionedTable
    from mrsboraetl_spark.streaming.versioned_sink import (
        exactly_once_merge_sink,
        streaming_exactly_once_merge,
    )

    rows = [(i, f"v{i}") for i in range(30)]
    df = spark.createDataFrame(rows, "id int, val string")
    src = str(tmp_path / "src")
    df.repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    table = VersionedTable(str(tmp_path / "vt"))
    q = streaming_exactly_once_merge(
        stream, table, ["id"], str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert table.version() == 2  # three batches -> v0, v1, v2
    got = {
        (r.id, r.val) for r in table.read(spark).collect()
    }
    assert got == set(rows)
    # replay of an already-committed batch: no new version
    sink = exactly_once_merge_sink(table, ["id"])
    sink(df.limit(5), 0)
    assert table.version() == 2
    # a genuinely new batch upserts rather than duplicates
    sink(spark.createDataFrame([(3, "v3b"), (99, "new")], "id int, val string"), 77)
    assert table.version() == 3
    final = {(r.id, r.val) for r in table.read(spark).collect()}
    assert (3, "v3b") in final and (99, "new") in final
    assert (3, "v3") not in final
    assert len(final) == 31


# ------------------------------------------ file-level snapshot reuse


def test_merge_delta_rewrites_only_touched_files(spark, tmp_path):
    """merge_delta (Delta/Iceberg MERGE cost model): a new version's
    manifest reuses every base file without a matched key, rewriting
    only the touched ones — and reads/time travel stay exact."""
    from mrsboraetl_spark.sources.versioned import VersionedTable

    vt = VersionedTable(str(tmp_path / "vt"))
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "pk int, v string"
    ).repartition(8, "pk")  # several files, key-partitioned
    vt.commit(base, note="base")

    delta = spark.createDataFrame(
        [(3, "NEW3"), (200, "NEW200")], "pk int, v string"
    )
    v1 = vt.merge_delta(spark, delta, ["pk"], note="delta1")
    entry = [e for e in vt.history() if e["version"] == v1][0]
    # Only the file(s) holding pk=3 were rewritten; the rest reused.
    assert entry["rewrote_files"] >= 1
    assert entry["reused_files"] >= 5, entry
    reused = [f for f in entry["files"] if f.startswith("v0/")]
    assert len(reused) == entry["reused_files"]

    got = {r.pk: r.v for r in vt.read(spark).collect()}
    want = {i: f"v{i}" for i in range(100)}
    want.update({3: "NEW3", 200: "NEW200"})
    assert got == want
    # Time travel to the base version still exact.
    assert {r.pk: r.v for r in vt.read(spark, version=0).collect()} == {
        i: f"v{i}" for i in range(100)
    }
    # Content identical to the full-snapshot merge on a twin table.
    vt2 = VersionedTable(str(tmp_path / "vt2"))
    vt2.commit(base, note="base")
    vt2.merge(spark, delta, ["pk"])
    got2 = {r.pk: r.v for r in vt2.read(spark).collect()}
    assert got == got2


def test_merge_delta_vacuum_keeps_shared_files(spark, tmp_path):
    """vacuum must not delete a v0 file that a kept (file-reuse)
    version still references."""
    import os

    from mrsboraetl_spark.sources.versioned import VersionedTable

    vt = VersionedTable(str(tmp_path / "vt"))
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "pk int, v string"
    ).repartition(8, "pk")
    vt.commit(base)
    for step in range(3):  # v1..v3, each touching one key
        vt.merge_delta(
            spark,
            spark.createDataFrame([(step, f"s{step}")], "pk int, v string"),
            ["pk"],
        )
    dropped = vt.vacuum(keep_last=2)  # keep v2, v3
    assert 1 in dropped or dropped == [1] or dropped == []  # v1 droppable only if unshared
    # Latest still reads completely and correctly after vacuum.
    got = {r.pk: r.v for r in vt.read(spark).collect()}
    assert len(got) == 100 and got[0] == "s0" and got[2] == "s2"
    # Shared v0 files referenced by kept versions still on disk.
    latest_files = [
        e for e in vt.history() if e["version"] == vt.version()
    ][0]["files"]
    for f in latest_files:
        assert os.path.exists(os.path.join(vt.root, f)), f


def test_merge_delta_empty_table_and_schema_guard(spark, tmp_path):
    import pytest as _pytest

    from mrsboraetl_spark.sources.versioned import VersionedTable

    vt = VersionedTable(str(tmp_path / "vt"))
    v0 = vt.merge_delta(
        spark, spark.createDataFrame([(1, "a")], "pk int, v string"), ["pk"]
    )
    assert v0 == 0 and vt.read(spark).count() == 1
    with _pytest.raises(ValueError, match="identical schemas"):
        vt.merge_delta(
            spark,
            spark.createDataFrame([(2, "b", 1)], "pk int, v string, extra int"),
            ["pk"],
        )
    # Same column NAMES but a different type must also refuse: reused
    # base files and new delta files land in ONE manifest version, so a
    # type divergence only surfaces at read time (or as silent coercion).
    with _pytest.raises(ValueError, match="identical schemas"):
        vt.merge_delta(
            spark,
            spark.createDataFrame([(2, "b")], "pk bigint, v string"),
            ["pk"],
        )


def test_vacuum_regrown_keep_last_skips_dropped_versions(spark, tmp_path):
    """A vacuum with a LARGER keep_last than an earlier one references
    versions whose directories are already gone — it must skip them,
    not crash (ADVICE r6: _files_of FileNotFoundError)."""
    from mrsboraetl_spark.sources.versioned import VersionedTable

    vt = VersionedTable(str(tmp_path / "vt_regrow"))
    for i in range(5):
        vt.commit(
            spark.createDataFrame([(1, f"v{i}")], "pk int, v string")
        )
    assert vt.vacuum(keep_last=1) == [0, 1, 2, 3]
    # keep_last=4 references v1..v4; v1-v3 dirs were dropped above.
    dropped = vt.vacuum(keep_last=4)
    assert dropped == []
    assert [r.v for r in vt.read(spark).collect()] == ["v4"]


def test_merge_delta_manifest_stats_prune_the_probe(spark, tmp_path):
    """Per-file key bounds in the manifest (Iceberg-style): with a
    range-partitioned PK-sorted base, a point delta probes ~1 file
    instead of all of them — and the result stays exact, with stats
    carried forward across successive delta merges."""
    from mrsboraetl_spark.sources.versioned import VersionedTable

    vt = VersionedTable(str(tmp_path / "vt"))
    base = (
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(1000)], "pk int, v string"
        )
        .repartitionByRange(8, "pk")
        .sortWithinPartitions("pk")
    )
    vt.commit(base, note="base", stats_key="pk")
    e0 = [e for e in vt.history() if e["version"] == 0][0]
    assert e0["stats_key"] == "pk" and len(e0["file_stats"]) >= 8

    v1 = vt.merge_delta(
        spark,
        spark.createDataFrame([(5, "NEW5")], "pk int, v string"),
        ["pk"],
    )
    e1 = [e for e in vt.history() if e["version"] == v1][0]
    # The bounds pruned the probe to the single file whose range holds 5.
    assert e1["probed_files"] <= 2, e1["probed_files"]
    assert e1["rewrote_files"] >= 1 and e1["reused_files"] >= 7

    # Carried-forward stats keep pruning on the NEXT merge too.
    v2 = vt.merge_delta(
        spark,
        spark.createDataFrame([(950, "NEW950")], "pk int, v string"),
        ["pk"],
    )
    e2 = [e for e in vt.history() if e["version"] == v2][0]
    assert e2["probed_files"] <= 2, e2["probed_files"]
    assert len(e2["file_stats"]) == len(e2["files"])

    got = {r.pk: r.v for r in vt.read(spark).collect()}
    want = {i: f"v{i}" for i in range(1000)}
    want.update({5: "NEW5", 950: "NEW950"})
    assert got == want

    # A base WITHOUT stats still merges exactly (full probe fallback).
    vt2 = VersionedTable(str(tmp_path / "vt2"))
    vt2.commit(base, note="nostats")
    vt2.merge_delta(
        spark,
        spark.createDataFrame([(5, "NEW5")], "pk int, v string"),
        ["pk"],
    )
    assert {r.v for r in vt2.read(spark).filter("pk = 5").collect()} == {"NEW5"}


def test_concurrent_commit_raises_instead_of_dropping(spark, tmp_path):
    """VERDICT r10 item 3 (VersionedTable half): two interleaved
    writers over one table root.  Writer A plans a merge_delta against
    version N; writer B commits N+1 while A's new data is being
    written; A's manifest commit must RAISE (compare-and-swap on the
    parent version), leaving B's committed version live — never
    silently last-writer-wins it away."""
    from mrsboraetl_spark.sources.versioned import ConcurrentCommitError

    root = str(tmp_path / "cc")
    a, b = VersionedTable(root), VersionedTable(root)
    a.commit(_df(spark, [(1, "a"), (2, "b")]), note="base",
             stats_key="pk")

    real = VersionedTable._commit_manifest
    fired: list[int] = []

    def interleaved(self, manifest, parent_version=None):
        if self is a and not fired:
            fired.append(1)
            b.commit(_df(spark, [(9, "B")]), note="winner")
        return real(self, manifest, parent_version)

    VersionedTable._commit_manifest = interleaved
    try:
        # retries=0 pins the RAISE contract itself; the default
        # bounded-retry convergence is pinned separately in
        # test_concurrent_merge_retries_and_both_land (r12).
        with pytest.raises(ConcurrentCommitError, match="concurrent"):
            a.merge_delta(
                spark, _df(spark, [(1, "A2")]), keys=["pk"],
                note="loser", retries=0,
            )
    finally:
        VersionedTable._commit_manifest = real

    # B's epoch survived; A's plan never published
    assert vt_notes(b) == ["base", "winner"]
    latest = {r.pk: r.v for r in b.read(spark).collect()}
    assert latest == {9: "B"}
    # the loser re-plans against the new snapshot and succeeds
    v = a.merge_delta(spark, _df(spark, [(1, "A2")]), keys=["pk"])
    assert v == b.version()
    latest = {r.pk: r.v for r in a.read(spark).collect()}
    assert latest == {9: "B", 1: "A2"}


def vt_notes(t):
    return [h["note"] for h in t.history()]


def test_history_compaction_bounds_manifest(spark, tmp_path, monkeypatch):
    """VERDICT r10 item 2: N >> keep_last merge syncs must not grow
    the manifest's bulky per-file metadata without bound.  With the
    size threshold forced to 0, vacuum(keep_last=2) strips files +
    file_stats from every entry below the kept window (audit row
    kept), the kept window stays fully readable/mergeable, and reading
    a compacted version raises loudly instead of serving a partial
    directory."""
    import json as _json

    monkeypatch.setattr(VersionedTable, "_HISTORY_COMPACT_BYTES", 0)
    vt = VersionedTable(str(tmp_path / "hc"))
    vt.commit(
        _df(spark, [(i, f"v{i}") for i in range(8)]),
        note="base", stats_key="pk",
        max_records_per_file=2,
    )
    n_syncs = 6
    for i in range(n_syncs):
        vt.merge_delta(
            spark, _df(spark, [(i % 8, f"m{i}")]), keys=["pk"],
            note=f"sync{i}",
        )
        vt.vacuum(keep_last=2)

    man = vt._read_manifest()
    latest = man["version"]
    assert latest == n_syncs
    # r12: entries below the window are ROLLED OUT of the hot pointer
    # into the archive — hot history is exactly the kept window
    hot_versions = {e["version"] for e in man["history"]}
    assert hot_versions == {latest - 1, latest}, hot_versions
    for e in man["history"]:
        assert "files" in e and "file_stats" in e, e
    archived = vt.archived_history()
    assert {e["version"] for e in archived} == set(
        range(latest - 1)
    ), archived
    for e in archived:
        assert "files" not in e and "file_stats" not in e, e
        assert e.get("compacted") is True
        assert {"version", "rows", "note"} <= set(e)  # audit survives
    # the full audit trail is retrievable in order
    assert [
        e["version"] for e in vt.history(include_archived=True)
    ] == list(range(latest + 1))

    # kept window: readable, and the next merge still prunes its probe
    # via the latest entry's carried stats (candidates < base files)
    assert vt.read(spark).count() == 8
    n_base_files = len(vt._files_of(latest))
    vt.merge_delta(spark, _df(spark, [(0, "zz")]), keys=["pk"])
    e_new = vt._entry(vt.version())
    assert e_new["probed_files"] < n_base_files, e_new
    assert e_new["file_stats"], "stats must carry through compaction"

    # a compacted version refuses to read (no silent partial data)
    with pytest.raises(ValueError, match="compacted"):
        vt.read(spark, version=1)

    # bounded metadata: the compacted manifest is much smaller than an
    # uncompacted replay of the same history
    vt2 = VersionedTable(str(tmp_path / "hc_u"))
    vt2.commit(
        _df(spark, [(i, f"v{i}") for i in range(8)]),
        note="base", stats_key="pk", max_records_per_file=2,
    )
    monkeypatch.setattr(
        VersionedTable, "_HISTORY_COMPACT_BYTES", 1 << 60
    )
    for i in range(n_syncs):
        vt2.merge_delta(
            spark, _df(spark, [(i % 8, f"m{i}")]), keys=["pk"],
            note=f"sync{i}",
        )
        vt2.vacuum(keep_last=2)
    sz_c = len(_json.dumps(vt._read_manifest()))
    sz_u = len(_json.dumps(vt2._read_manifest()))
    assert sz_c < 0.7 * sz_u, (sz_c, sz_u)


def test_concurrent_merge_retries_and_both_land(spark, tmp_path):
    """VERDICT r11 item 1 (VersionedTable half): the CAS now has a
    CONSUMER.  Two interleaved writers over one table root — writer B
    commits between writer A's plan and A's manifest commit.  With the
    default bounded retry, A's losing attempt re-reads the live
    manifest, re-plans its merge against B's version, and re-commits:
    BOTH deltas land and the final state equals a serial execution
    (B, then A)."""
    root = str(tmp_path / "ccr")
    a, b = VersionedTable(root), VersionedTable(root)
    a.commit(
        _df(spark, [(1, "a"), (2, "b"), (3, "c")]),
        note="base", stats_key="pk",
    )

    real = VersionedTable._commit_manifest
    fired: list[int] = []

    def interleaved(self, manifest, parent_version=None):
        if self is a and not fired:
            fired.append(1)
            b.merge_delta(
                spark, _df(spark, [(2, "B2"), (9, "B9")]),
                keys=["pk"], note="winner",
            )
        return real(self, manifest, parent_version)

    VersionedTable._commit_manifest = interleaved
    try:
        v = a.merge_delta(
            spark, _df(spark, [(1, "A1")]), keys=["pk"], note="loser",
        )
    finally:
        VersionedTable._commit_manifest = real

    # both commits are in the history, winner below loser
    assert vt_notes(a) == ["base", "winner", "loser"]
    assert v == a.version() == 2

    # final state == serial execution: base, then B's merge, then A's
    serial = VersionedTable(str(tmp_path / "serial"))
    serial.commit(
        _df(spark, [(1, "a"), (2, "b"), (3, "c")]),
        note="base", stats_key="pk",
    )
    serial.merge_delta(
        spark, _df(spark, [(2, "B2"), (9, "B9")]), keys=["pk"]
    )
    serial.merge_delta(spark, _df(spark, [(1, "A1")]), keys=["pk"])
    got = {r.pk: r.v for r in a.read(spark).collect()}
    want = {r.pk: r.v for r in serial.read(spark).collect()}
    assert got == want == {1: "A1", 2: "B2", 3: "c", 9: "B9"}


def test_losing_writer_never_clobbers_winner_data(spark, tmp_path):
    """ADVICE r11 (medium): the CAS fired only at the manifest swap,
    but the loser rmtree'd an existing v{next_v} BEFORE the check — a
    winner that committed v{next_v} during the loser's (long) parquet
    write had its committed data directory deleted and replaced with
    the loser's rows, then the loser raised, leaving the live manifest
    naming files that no longer match its entry.  The parent check now
    re-runs immediately before the clobber: the loser must raise
    WITHOUT touching the winner's committed directory."""
    from mrsboraetl_spark.sources.versioned import ConcurrentCommitError

    root = str(tmp_path / "clb")
    a, b = VersionedTable(root), VersionedTable(root)
    a.commit(_df(spark, [(1, "a"), (2, "b")]), note="base",
             stats_key="pk")

    real_promote = VersionedTable._promote_staging
    fired: list[int] = []
    winner_files: dict = {}

    def interleaved(self, staging, data_dir, next_v):
        if self is a and not fired:
            fired.append(1)
            # the winner lands v{next_v} while the loser is still in
            # its write path (pre-promote == mid-staging in the
            # malignant ordering this pins)
            b.commit(_df(spark, [(9, "B")]), note="winner")
            d = os.path.join(root, f"v{next_v}")
            winner_files.update({
                f: os.stat(os.path.join(d, f)).st_mtime_ns
                for f in os.listdir(d)
            })
        return real_promote(self, staging, data_dir, next_v)

    VersionedTable._promote_staging = interleaved
    try:
        with pytest.raises(ConcurrentCommitError, match="concurrent"):
            a.commit(_df(spark, [(1, "A")]), note="loser", retries=0)
    finally:
        VersionedTable._promote_staging = real_promote

    # the winner's committed directory is byte-untouched and live
    assert fired and winner_files
    d = os.path.join(root, f"v{b.version()}")
    now = {
        f: os.stat(os.path.join(d, f)).st_mtime_ns
        for f in os.listdir(d)
    }
    assert now == winner_files, "loser touched the winner's data dir"
    assert vt_notes(b) == ["base", "winner"]
    assert {r.pk: r.v for r in b.read(spark).collect()} == {9: "B"}
    # no stray staging dirs left behind
    strays = [e for e in os.listdir(root) if e.startswith(".v")]
    assert strays == [], strays

    # and with the default retries the same loser converges
    a.commit(_df(spark, [(1, "A")]), note="retry-lands")
    assert vt_notes(a)[-1] == "retry-lands"


def test_history_archive_keeps_hot_pointer_bounded(tmp_path):
    """VERDICT r11 item 2 / ADVICE r11 (low): the r11 compaction kept
    every audit row in the hot pointer forever, so past enough syncs
    the manifest re-crossed the threshold with nothing left to strip
    and grew linearly again.  Drive synthetic history past the
    threshold TWICE: after each vacuum-cadence compaction the live
    manifest must be back under the bound, every archived row must
    remain retrievable (in order, exactly once), and a crash-duplicate
    archive line must be de-duplicated on read.  No Spark needed —
    this is pure manifest mechanics."""
    import json as _json

    vt = VersionedTable(str(tmp_path / "arch"))
    vt._HISTORY_COMPACT_BYTES = 2000  # instance override

    def land(n):
        man = vt._read_manifest()
        for _ in range(n):
            v = man["version"] + 1
            man["version"] = v
            man["history"] = [
                *man["history"],
                {
                    "version": v,
                    "rows": 10 + v,
                    "note": f"sync{v}",
                    "files": [f"v{v}/part-{i}.parquet" for i in range(4)],
                    "file_stats": {
                        f"v{v}/part-{i}.parquet": [0, 9, 3]
                        for i in range(4)
                    },
                },
            ]
            vt._commit_manifest(man, parent_version=v - 1)

    land(40)
    assert os.path.getsize(vt._manifest_path()) > 2000
    n1 = vt.compact_history(keep_last=2)
    assert n1 == 38  # everything below the kept window (38, 39) rolled
    assert os.path.getsize(vt._manifest_path()) <= 2000

    # second wave: the hot pointer crosses the threshold AGAIN and the
    # compaction still has material to roll (the r11 failure mode was
    # exactly here — nothing left to strip)
    land(40)
    assert os.path.getsize(vt._manifest_path()) > 2000
    n2 = vt.compact_history(keep_last=2)
    assert n2 == 40
    assert os.path.getsize(vt._manifest_path()) <= 2000

    # every audit row retrievable, in order, exactly once
    full = vt.history(include_archived=True)
    assert [e["version"] for e in full] == list(range(80))
    assert all(e["note"] == f"sync{e['version']}" for e in full)
    # archived rows carry audit fields, never bulk metadata
    for e in vt.archived_history():
        assert "files" not in e and "file_stats" not in e

    # crash-duplicate batch (archive append landed, manifest commit
    # did not, batch re-archived): reader de-duplicates by version
    dup = vt.archived_history()[0]
    with open(vt._archive_path(), "a") as f:
        f.write(_json.dumps(dup) + "\n")
        f.write('{"torn line')  # append crash tail: tolerated
    full2 = vt.history(include_archived=True)
    assert [e["version"] for e in full2] == list(range(80))

    # an archived version refuses to read rather than serving a
    # partial directory
    import pytest as _pytest

    with _pytest.raises(ValueError, match="compacted"):
        vt.read(None, version=0)

    # housekeeping loses a CAS race: compact must yield (return 0,
    # live manifest untouched), and the retried compaction later must
    # not duplicate audit rows (reader dedupe + re-roll)
    from mrsboraetl_spark.sources.versioned import ConcurrentCommitError

    land(40)  # versions 80..119
    before = vt._read_manifest()
    real = vt._commit_manifest

    def racy(manifest, parent_version=None):
        raise ConcurrentCommitError("simulated racing writer")

    vt._commit_manifest = racy
    try:
        assert vt.compact_history(keep_last=2) == 0
    finally:
        vt._commit_manifest = real
    assert vt._read_manifest() == before, "losing compact must not publish"
    assert vt.compact_history(keep_last=2) == 40
    assert [
        e["version"] for e in vt.history(include_archived=True)
    ] == list(range(120))


def test_pinned_parent_commit_rejects_plan_phase_conflict(spark, vt):
    """ADVICE r12 (medium), versioned half: the default commit captures
    its CAS parent when _commit_once READS the manifest — a concurrent
    commit landing while the caller was still planning (after it read
    its base, before it called commit) advances the manifest first, so
    the stale plan lands cleanly on top and the winner's rows are
    silently replaced.  ``parent_version`` pins the parent at the
    caller's plan time: the same interleave must now raise
    ConcurrentCommitError, and a correct pin must land as pin+1."""
    from mrsboraetl_spark.sources.versioned import ConcurrentCommitError

    vt.commit(_df(spark, [(1, "a")]), note="v0")
    planned_parent = vt.version()  # caller reads its base: v0

    # concurrent writer lands DURING the caller's plan phase
    vt.commit(_df(spark, [(1, "winner")]), note="concurrent")

    with pytest.raises(ConcurrentCommitError, match="plan phase"):
        vt.commit(
            _df(spark, [(1, "stale-plan")]), note="loser",
            parent_version=planned_parent, retries=0,
        )
    # winner preserved, no version landed for the loser
    assert vt.version() == 1
    assert [r.v for r in vt.read(spark).collect()] == ["winner"]

    # re-plan against the live version: the pin now matches and the
    # commit lands as pin+1
    v = vt.commit(
        _df(spark, [(1, "replanned")]), note="retry",
        parent_version=vt.version(), retries=0,
    )
    assert v == 2
    assert [r.v for r in vt.read(spark).collect()] == ["replanned"]


def test_archived_history_since_version_cursor(tmp_path):
    """VERDICT r12 item 5: archived_history() re-read, re-parsed, and
    re-sorted the whole JSONL per call — a poller at sync cadence
    re-paid O(total syncs) each time.  The ``since_version`` cursor
    drops already-seen rows as read: a caller carrying the last
    version it saw gets exactly the new tail, and the cursor composes
    with the crash-duplicate dedupe."""
    import json as _json

    vt = VersionedTable(str(tmp_path / "cur"))
    vt._HISTORY_COMPACT_BYTES = 500
    man = vt._read_manifest()
    for v in range(30):
        man["version"] = v
        man["history"] = [
            *man["history"],
            {"version": v, "rows": v, "note": f"s{v}",
             "files": [f"v{v}/p.parquet"] * 8},
        ]
        vt._commit_manifest(man, parent_version=v - 1)
    assert vt.compact_history(keep_last=2) == 28  # 0..27 archived

    assert [e["version"] for e in vt.archived_history()] == list(
        range(28)
    )
    # cursor: only rows past the caller's high-water mark
    tail = vt.archived_history(since_version=24)
    assert [e["version"] for e in tail] == [25, 26, 27]
    assert vt.archived_history(since_version=27) == []
    # composes with crash-duplicate dedupe and torn tails
    with open(vt._archive_path(), "a") as f:
        f.write(_json.dumps({"version": 26, "rows": 26,
                             "note": "s26"}) + "\n")
        f.write('{"torn')
    assert [
        e["version"] for e in vt.archived_history(since_version=24)
    ] == [25, 26, 27]
