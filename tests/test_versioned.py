"""Versioned table: atomic manifest commits, snapshot isolation, time
travel, merge-with-history, crash invisibility, vacuum."""

from __future__ import annotations

import os

import pytest

from mrsboraetl_spark.sources import snapshot
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
    pinned = vt.read(spark)  # resolves v0 now
    vt.commit(_df(spark, [(1, "CHANGED")]))
    # the pre-commit reader still sees its version
    assert [r.v for r in pinned.collect()] == ["a"]
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
    # simulate a crash AFTER data write, BEFORE the snapshot flip: an
    # orphan epoch directory no snapshot names
    orphan = os.path.join(vt.root, "_e00000001_deadbeef")
    _df(spark, [(9, "junk")]).write.parquet(orphan)
    assert vt.version() == 0
    assert {r.pk for r in vt.read(spark).collect()} == {1}
    # recovery: the next commit reuses the epoch NUMBER in a fresh
    # directory — never the orphan's — and lands as version 1
    vt.commit(_df(spark, [(1, "a2")]))
    assert vt.version() == 1
    assert {r.v for r in vt.read(spark).collect()} == {"a2"}
    assert not any(
        p.startswith(orphan) for p in snapshot.files(vt.root)
    )


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
    v0_dir = snapshot.load_at(vt.root, 0)["months"]["data"][0].split("/")[0]
    files_v1 = snapshot.load_at(vt.root, v1)["months"]["data"]
    reused = [f for f in files_v1 if f.startswith(v0_dir + "/")]
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
    for f in snapshot.files(vt.root):
        assert os.path.exists(f), f


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
    """A vacuum with a LARGER keep_last than an earlier one must not
    resurrect or trip over versions an earlier vacuum already dropped
    (ADVICE r6): their history is gone, so they are not retained."""
    from mrsboraetl_spark.sources.versioned import VersionedTable

    vt = VersionedTable(str(tmp_path / "vt_regrow"))
    for i in range(5):
        vt.commit(
            spark.createDataFrame([(1, f"v{i}")], "pk int, v string")
        )
    assert vt.vacuum(keep_last=1) == [0, 1, 2, 3]
    # keep_last=4 could span v1..v4; v1-v3 were dropped above.
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
    assert sorted(e2["file_stats"]) == sorted(
        snapshot.load_at(vt.root, v2)["months"]["data"]
    )

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


def test_file_stats_from_footers_equal_the_grouped_pass(
    spark, tmp_path, monkeypatch
):
    """Per-file key stats read from the footers of integer keys (nulls
    included) are byte-identical to the grouped Spark pass they
    replace; a key the footers cannot prove (a string) takes the
    pass."""
    import json

    from mrsboraetl_spark.sources import versioned

    vt = VersionedTable(str(tmp_path / "vt"))
    vt.commit(
        spark.createDataFrame(
            [(i if i % 7 else None, i * 3_000_000_000, f"s{i}")
             for i in range(200)],
            "k int, kl long, s string",
        ).repartitionByRange(5, "kl"),
        note="base",
    )
    files = snapshot.load(vt.root)["months"]["data"]
    paths = [os.path.join(vt.root, f) for f in files]
    assert len(files) == 5
    for key in ("k", "kl", "s"):
        from_footers = versioned.parquet_key_stats(paths, key)
        assert (from_footers is None) == (key == "s"), key
        got = vt._file_key_stats(spark, files, key)
        with monkeypatch.context() as m:
            m.setattr(versioned, "parquet_key_stats", lambda *a: None)
            want = vt._file_key_stats(spark, files, key)
        assert sorted(got) == sorted(files), key
        assert json.dumps(got, sort_keys=True) == json.dumps(
            want, sort_keys=True
        ), key


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

    real = snapshot.flip
    fired: list[int] = []

    def interleaved(table_dir, man, **kw):
        if not fired:  # a's flip; b's own flip runs inside it
            fired.append(1)
            b.commit(_df(spark, [(9, "B")]), note="winner")
        return real(table_dir, man, **kw)

    snapshot.flip = interleaved
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
        snapshot.flip = real

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

    real = snapshot.flip
    fired: list[int] = []

    def interleaved(table_dir, man, **kw):
        if not fired:  # a's flip; b's own flip runs inside it
            fired.append(1)
            b.merge_delta(
                spark, _df(spark, [(2, "B2"), (9, "B9")]),
                keys=["pk"], note="winner",
            )
        return real(table_dir, man, **kw)

    snapshot.flip = interleaved
    try:
        v = a.merge_delta(
            spark, _df(spark, [(1, "A1")]), keys=["pk"], note="loser",
        )
    finally:
        snapshot.flip = real

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
    """ADVICE r11 (medium): a winner that commits while the loser is
    still staging must keep its committed data byte-untouched.  Both
    writers stage into their own uniquely named epoch directory, so
    only the flip arbitrates: the interleave lands the winner at the
    loser's flip, the loser's CAS raises WITHOUT touching the winner's
    directory, and the loser removes its own staging."""
    from mrsboraetl_spark.sources.versioned import ConcurrentCommitError

    root = str(tmp_path / "clb")
    a, b = VersionedTable(root), VersionedTable(root)
    a.commit(_df(spark, [(1, "a"), (2, "b")]), note="base",
             stats_key="pk")

    real = snapshot.flip
    fired: dict = {}

    def interleaved(table_dir, man, **kw):
        if not fired:
            fired["loser_dir"] = kw["staged"]
            # the winner lands the SAME version number while the loser
            # holds its staged data (the malignant ordering this pins)
            b.commit(_df(spark, [(9, "B")]), note="winner")
            d = os.path.dirname(snapshot.files(root)[0])
            fired["winner_dir"] = d
            fired["files"] = {
                f: os.stat(os.path.join(d, f)).st_mtime_ns
                for f in os.listdir(d)
            }
        return real(table_dir, man, **kw)

    snapshot.flip = interleaved
    try:
        with pytest.raises(ConcurrentCommitError, match="concurrent"):
            a.commit(_df(spark, [(1, "A")]), note="loser", retries=0)
    finally:
        snapshot.flip = real

    # the winner's committed directory is byte-untouched and live
    assert fired and fired["loser_dir"] != fired["winner_dir"]
    d = fired["winner_dir"]
    now = {
        f: os.stat(os.path.join(d, f)).st_mtime_ns
        for f in os.listdir(d)
    }
    assert now == fired["files"], "loser touched the winner's data dir"
    assert vt_notes(b) == ["base", "winner"]
    assert {r.pk: r.v for r in b.read(spark).collect()} == {9: "B"}
    # the loser removed its own staging
    assert not os.path.exists(fired["loser_dir"])

    # and with the default retries the same loser converges
    a.commit(_df(spark, [(1, "A")]), note="retry-lands")
    assert vt_notes(a)[-1] == "retry-lands"


def test_pointer_size_is_independent_of_commit_count(spark, tmp_path):
    """Per-epoch history files keep the hot pointer at ONE snapshot by
    construction: the same commit lands the same pointer after 1 and
    after 50 commits (up to the epoch number's extra digits), however
    long the history grows."""
    vt = VersionedTable(str(tmp_path / "ptr"))
    ptr = os.path.join(vt.root, snapshot.SNAPSHOT_FILE)
    # JVM-only rows: no Python worker round-trip per commit
    df = spark.range(1).selectExpr("id AS pk", "'a' AS v")
    vt.commit(df, note="same")
    size_1 = os.path.getsize(ptr)
    for _ in range(49):
        vt.commit(df, note="same")
    assert vt.version() == 49 and vt.rows() == 1
    assert len(vt.history()) == 50
    assert os.path.getsize(ptr) == size_1 + len("49") - len("0")


def test_vacuum_sweeps_only_dead_staging(spark, vt):
    """A killed commit leaves its staging epoch directory behind (no
    in-process cleanup runs).  vacuum sweeps one older than the orphan
    age gate, while a younger one — possibly a concurrent writer's
    in-progress staging — survives."""
    import time

    vt.commit(_df(spark, [(1, "a")]))
    dead = os.path.join(vt.root, "_e00000001_0000dead")
    young = os.path.join(vt.root, "_e00000001_0000beef")
    for d in (dead, young):
        _df(spark, [(9, "junk")]).write.parquet(d)
    old = time.time() - snapshot._SCRATCH_ORPHAN_SECONDS - 60
    os.utime(dead, (old, old))

    assert vt.vacuum(keep_last=1) == []
    assert not os.path.exists(dead)
    assert os.path.isdir(young) and os.listdir(young)
    assert [r.v for r in vt.read(spark).collect()] == ["a"]


def test_commit_syncs_data_and_pointer_before_flip_returns(
    spark, vt, monkeypatch
):
    """Durability: before a commit returns, every staged data file, the
    staged directory, the pointer contents and the table directory have
    been fsync'd — and the data before the pointer replace, so a power
    loss can never leave a durable pointer naming unwritten pages."""
    if not os.path.isdir("/proc/self/fd"):
        pytest.skip("needs /proc/self/fd to name fsync'd descriptors")
    events: list[tuple[str, str]] = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        events.append(("fsync", os.readlink(f"/proc/self/fd/{fd}")))
        return real_fsync(fd)

    def replace(src, dst):
        events.append(("replace", os.path.realpath(dst)))
        return real_replace(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    vt.commit(_df(spark, [(1, "a"), (2, "b")]))
    monkeypatch.undo()

    root = os.path.realpath(vt.root)
    ptr = os.path.join(root, snapshot.SNAPSHOT_FILE)
    staged = [
        os.path.join(root, rp) for rp in snapshot.load(root)["months"]["data"]
    ]
    i_ptr = events.index(("replace", ptr))
    before = {p for kind, p in events[:i_ptr] if kind == "fsync"}
    assert set(staged) <= before, (staged, before)
    assert os.path.dirname(staged[0]) in before
    assert ptr + ".tmp" in before
    assert ("fsync", root) in events[i_ptr + 1:]


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


def test_recorded_rows_come_from_footers(spark, vt, monkeypatch):
    """``rows`` of a commit and of merge_delta over a base without
    per-file stats equals a scan of the snapshot, and no count job
    computes it: the staged and reused files' footers hold it."""
    try:
        import pyspark.sql.classic.dataframe as _dfmod
    except ImportError:  # pragma: no cover - pyspark < 4
        import pyspark.sql.dataframe as _dfmod

    counted: list[int] = []
    real_count = _dfmod.DataFrame.count

    def spy(self):
        counted.append(1)
        return real_count(self)

    monkeypatch.setattr(_dfmod.DataFrame, "count", spy)
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(300)], "pk long, v string"
    ).repartition(4)
    vt.commit(base, note="no stats")
    vt.merge_delta(spark, _df(spark, [(5, "x"), (1000, "y")]), ["pk"])
    vt.merge_delta(spark, _df(spark, [(7, "z")]), ["pk"])
    assert not counted, counted
    monkeypatch.setattr(_dfmod.DataFrame, "count", real_count)
    for h in vt.history():
        assert h["rows"] == vt.read(spark, version=h["version"]).count(), h
    assert vt.rows() == 301
