"""Manifest layout — ``partitioned=True`` (r10, VERDICT r9 item 1):
the object-store-safe carry.  A partitioned target's content is a
per-month FILE LIST in an atomic ``_snapshot.json``; data files live in
immutable hidden epoch directories; a file-level delta's untouched
files are carried forward as MANIFEST ENTRIES and the swap is ONE
snapshot pointer flip.

The pins here are the verdict's done-criteria:

* a file-level sync on a NO-HARDLINK filesystem (``os.link`` and
  ``shutil.copy2`` monkeypatched to raise) writes only touched bytes —
  carried files are never linked, copied, moved, or rewritten;
* the crash contract: a crash at the flip leaves the OLD snapshot
  readable with exactly the sidecar it names (per-file entries equal
  to its month lists), and the next sync converges to the rebuild
  state;
* replaced/orphaned files are garbage-collected; a raw
  ``spark.read.parquet(path)`` sees NO data (fail-safe, Delta-like) —
  manifest-mode consumers read through the runner.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from mrsboraetl_spark.engine import PipelineRunner
from mrsboraetl_spark.sources import snapshot
from tests.test_file_level_writes import _live_sidecar, _mk_state, _small_delta


def _forbid_data_copies(monkeypatch):
    """Fail the run if the engine ever links or copies a data file —
    the operations an object store cannot do cheaply."""

    def no_link(src, dst, **kw):  # pragma: no cover - failure path
        raise AssertionError(f"os.link used in manifest mode: {src}")

    def no_copy(src, dst, **kw):  # pragma: no cover - failure path
        raise AssertionError(f"shutil.copy2 used in manifest mode: {src}")

    monkeypatch.setattr("mrsboraetl_spark.engine.os.link", no_link)
    monkeypatch.setattr("mrsboraetl_spark.engine.shutil.copy2", no_copy)


def _manifest(runner, table):
    with open(
        os.path.join(runner._path(table), snapshot.SNAPSHOT_FILE)
    ) as f:
        return json.load(f)


def _live_file_map(runner, table):
    """{month: {relpath: (inode, mtime, size)}} of the LIVE snapshot."""
    man = _manifest(runner, table)
    base = runner._path(table)
    out: dict = {}
    for m, files in man["months"].items():
        out[m] = {}
        for rp in files:
            st = os.stat(os.path.join(base, rp))
            out[m][rp] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def _rows(runner, table, drop=("obs_map",)):
    df = runner.read_target(table)
    cols = sorted(c for c in df.columns if c not in drop)
    return sorted(
        map(repr, df.toPandas()[cols].itertuples(index=False))
    )


def test_manifest_file_level_sync_carries_by_reference(
    spark, tmp_path, monkeypatch
):
    """The headline pin: with hardlinks AND copies forbidden for the
    whole lifecycle (rebuild -> sync -> file-level delta sync), a
    month-local delta rewrites <= a few files, every carried file stays
    THE SAME physical file (same inode — never moved, relinked, or
    rewritten), and the result equals a fresh rebuild."""
    from tests.fixtures import to_spark

    _forbid_data_copies(monkeypatch)
    r, pdfs = _mk_state(spark, tmp_path, monkeypatch)
    before = _live_file_map(r, "flat_obs")
    n_before = sum(len(v) for v in before.values())
    assert n_before > len(before), "need multiple files per month"

    pdfs2 = _small_delta(pdfs)
    r.run(to_spark(spark, pdfs2), mode="sync")

    after = _live_file_map(r, "flat_obs")
    per_month: dict = {}
    for m, files in after.items():
        carried = rewritten = 0
        for rp, st in files.items():
            if before.get(m, {}).get(rp) == st:
                carried += 1
            else:
                rewritten += 1
        per_month[m] = (carried, rewritten)
    n_rewritten = sum(rw for _c, rw in per_month.values())
    carried_in_affected = sum(
        c for c, rw in per_month.values() if rw > 0
    )
    assert carried_in_affected > 0, per_month
    assert 0 < n_rewritten <= 3, per_month

    # Carried entries are relpaths into OLDER epochs — the reference
    # form of the carry (no re-staging under the new epoch).  Epoch
    # dirs are uuid-suffixed (r12): compare by leading epoch number.
    cur_e = _manifest(r, "flat_obs")["epoch"]
    old_epoch_refs = [
        rp
        for m, files in after.items()
        for rp in files
        if snapshot._epoch_of_dirname(rp.split("/", 1)[0]) != cur_e
    ]
    assert old_epoch_refs, "no cross-epoch manifest references"

    rb = PipelineRunner(
        spark, str(tmp_path / "rebuild"), partitioned=True
    )
    rb.run(to_spark(spark, pdfs2), mode="rebuild")
    for t in ("flat_obs", "flat_orders", "flat_visit_summary",
              "flat_lab_obs", "flat_latest_hiv_summary"):
        assert _rows(r, t) == _rows(rb, t), t


def test_manifest_incremental_matches_rebuild_and_dir_mode(
    spark, tmp_path, monkeypatch
):
    """Master correctness across layouts: the manifest-mode incremental
    state equals the plain-layout incremental state, table by table."""
    from tests.fixtures import to_spark

    r, pdfs = _mk_state(
        spark, tmp_path, monkeypatch, n_persons=40, seed=47,
    )
    rd = PipelineRunner(spark, str(tmp_path / "plain"))
    dfs = to_spark(spark, pdfs)
    rd.run(dfs, mode="rebuild")
    rd.run(dfs, mode="sync")

    pdfs2 = _small_delta(pdfs)
    dfs2 = to_spark(spark, pdfs2)
    r.run(dfs2, mode="sync")
    rd.run(dfs2, mode="sync")
    for t in ("flat_obs", "flat_orders", "flat_visit_summary",
              "flat_lab_obs", "flat_latest_hiv_summary"):
        assert _rows(r, t) == _rows(rd, t), t


def test_manifest_raw_path_read_sees_no_data(
    spark, tmp_path, monkeypatch
):
    """Hidden epoch dirs make a raw path read FAIL (no visible files)
    rather than return a cross-epoch union — the fail-safe half of the
    Delta-like contract that manifest tables are read through the
    runner."""
    r, _ = _mk_state(
        spark, tmp_path, monkeypatch, n_persons=40, seed=47,
    )
    with pytest.raises(Exception, match="UNABLE_TO_INFER_SCHEMA"):
        spark.read.parquet(r._path("flat_obs")).count()
    assert r.read_target("flat_obs").count() > 0


def test_manifest_crash_at_flip_keeps_contract(spark, tmp_path, monkeypatch):
    """A crash AT the snapshot flip of flat_obs's file-level delta
    write leaves (a) the OLD snapshot
    as live content — the flip is all-or-nothing, there is no partial
    state to rescue — and (b) the old snapshot's own sidecar, whose
    per-file entries name exactly the live month lists (the staged
    sidecar was never published).  The failed write removes its
    staging; recovery + re-sync converges to the rebuild state and
    leaves disk holding exactly the referenced files."""
    from tests.fixtures import to_spark

    r, pdfs = _mk_state(
        spark, tmp_path, monkeypatch, n_persons=40, seed=53,
    )
    rows_before = _rows(r, "flat_obs")
    man_before = _manifest(r, "flat_obs")
    bounds_before = _live_sidecar(r, "flat_obs")
    pdfs2 = _small_delta(pdfs)

    real_flip = snapshot.flip
    blown: dict = {}

    def exploding_flip(table_dir, man, **kw):
        if "flat_obs.parquet" in table_dir and not blown:
            blown["months"] = [
                m
                for m in man["months"]
                if man["months"][m] != man_before["months"].get(m)
            ]
            raise RuntimeError("injected crash at snapshot flip")
        return real_flip(table_dir, man, **kw)

    monkeypatch.setattr(
        snapshot, "flip", exploding_flip
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        r.run(to_spark(spark, pdfs2), mode="sync")
    monkeypatch.setattr(
        snapshot, "flip", real_flip
    )
    assert blown, "injection never fired"

    # (a) old snapshot intact: content unchanged, byte for byte
    assert _manifest(r, "flat_obs") == man_before
    assert _rows(r, "flat_obs") == rows_before

    # (b) the old snapshot's own sidecar: file entries == month lists
    bounds = _live_sidecar(r, "flat_obs")
    assert bounds == bounds_before
    live = man_before["months"]
    assert {m for m, ent in bounds.items() if "files" in ent} == set(live)
    for m, ent in bounds.items():
        assert sorted(ent["files"]) == sorted(live[m]), m

    # recovery: next sync converges
    r.run(to_spark(spark, pdfs2), mode="sync")
    rb = PipelineRunner(spark, str(tmp_path / "rebuild"), partitioned=True)
    rb.run(to_spark(spark, pdfs2), mode="rebuild")
    assert _rows(r, "flat_obs") == _rows(rb, "flat_obs")

    def files_on_disk():
        base = r._path("flat_obs")
        out = set()
        for entry in os.listdir(base):
            if entry.startswith(snapshot.EPOCH_PREFIX):
                for root, _d, files in os.walk(
                    os.path.join(base, entry)
                ):
                    for fn in files:
                        out.add(os.path.relpath(
                            os.path.join(root, fn), base
                        ))
        return out

    man = _manifest(r, "flat_obs")
    referenced = {
        rp for fl in man["months"].values() for rp in fl
    } | set(man["aux"].values())
    # the crashed write removed its own staging (snapshot.publish), and
    # the recovery sync's GC swept every replaced file
    on_disk = files_on_disk()
    assert on_disk == referenced, (
        "disk holds unreferenced (leaked) or missing files",
        on_disk ^ referenced,
    )


def test_manifest_gc_and_probe_pruning(spark, tmp_path, monkeypatch):
    """After a file-level manifest sync: replaced files are GONE from
    disk (GC ran), every referenced file exists, and the probe reader
    still prunes months from the snapshot's sidecar (no directory
    listing anywhere in the read path)."""
    from tests.fixtures import to_spark

    r, pdfs = _mk_state(spark, tmp_path, monkeypatch)
    before = _live_file_map(r, "flat_obs")
    pdfs2 = _small_delta(pdfs)
    r.run(to_spark(spark, pdfs2), mode="sync")
    after = _live_file_map(r, "flat_obs")

    base = r._path("flat_obs")
    replaced = {
        rp
        for m, files in before.items()
        for rp in files
        if rp not in after.get(m, {})
    }
    assert replaced, "delta sync replaced no file?"
    for rp in replaced:
        assert not os.path.exists(os.path.join(base, rp)), rp
    for m, files in after.items():
        for rp in files:
            assert os.path.exists(os.path.join(base, rp)), rp

    # probe pruning straight off the snapshot: a single person key must
    # open only the months the Bloom sidecar proves can hold it (fixture
    # encounter ids interleave across every month, so the RANGE verdict
    # can't prune here — the membership filter is what does the work,
    # same as production person-keyed purges)
    reader = r._make_probe_reader("flat_obs")
    assert reader is not None
    target = r.read_target("flat_obs")
    per_person = (
        target.groupBy("person_id")
        .agg(F.count_distinct(F.date_format(
            "encounter_datetime", "yyyy-MM"
        )).alias("nm"))
        .orderBy("nm", "person_id")
        .first()
    )
    k, n_true_months = int(per_person["person_id"]), int(per_person["nm"])
    kdf = spark.createDataFrame([(k,)], "person_id long")
    pruned = reader(kdf, "person_id")
    months_total = len(_manifest(r, "flat_obs")["months"])
    assert n_true_months < months_total, "fixture person spans all months"
    # count distinct months actually read (p_month is not a column on
    # manifest reads; derive from the file list the reader selected)
    got_months = {
        p.split("p_month=")[1].split("/")[0]
        for p in pruned.inputFiles()
    }
    assert n_true_months <= len(got_months) < months_total, (
        k, n_true_months, got_months, months_total,
    )


def test_manifest_snapshot_retention_and_time_travel(
    spark, tmp_path, monkeypatch
):
    """keep_snapshots=2 (r10): the previous snapshot's files survive
    the flip's GC — a concurrent reader one flip behind never loses
    files mid-job — and read_target_at() serves the old state
    byte-identically.  One more sync slides the window: the oldest
    snapshot's exclusive files and history entry are pruned, and
    reading it raises."""
    from tests.fixtures import to_spark

    _forbid_data_copies(monkeypatch)
    r, pdfs = _mk_state(
        spark, tmp_path, monkeypatch, n_persons=40, seed=47,
        keep_snapshots=2,
    )
    e0 = _manifest(r, "flat_obs")["epoch"]
    rows_e0 = _rows(r, "flat_obs")
    files_e0 = _live_file_map(r, "flat_obs")

    pdfs2 = _small_delta(pdfs)
    r.run(to_spark(spark, pdfs2), mode="sync")
    e1 = _manifest(r, "flat_obs")["epoch"]
    assert e1 > e0
    assert r.snapshots("flat_obs") == [e0, e1]

    # every file of the RETAINED old snapshot still exists (replaced
    # ones included — the keep_snapshots=1 default would have GC'd
    # them, pinned by test_manifest_gc_and_probe_pruning)
    base = r._path("flat_obs")
    for m, files in files_e0.items():
        for rp in files:
            assert os.path.exists(os.path.join(base, rp)), rp
    # ...and time travel reproduces the old state exactly
    old = r.read_target_at("flat_obs", e0)
    cols = sorted(c for c in old.columns if c != "obs_map")
    got = sorted(map(repr, old.toPandas()[cols].itertuples(index=False)))
    assert got == rows_e0

    # next sync slides the window: e0 falls out
    pdfs3 = _small_delta(pdfs2)
    r.run(to_spark(spark, pdfs3), mode="sync")
    e2 = _manifest(r, "flat_obs")["epoch"]
    assert r.snapshots("flat_obs") == [e1, e2]
    with pytest.raises(ValueError, match="not retained"):
        r.read_target_at("flat_obs", e0)
    # e0's replaced (exclusive) files are gone; e1's still held
    live_now = {
        rp
        for m, files in _live_file_map(r, "flat_obs").items()
        for rp in files
    }
    import json as _json

    with open(os.path.join(base, f"_snap_{e1:08d}.json")) as f:
        held = {
            rp
            for fl in _json.load(f)["months"].values()
            for rp in fl
        }
    exclusive_e0 = {
        rp for m, files in files_e0.items() for rp in files
    } - held - live_now
    assert exclusive_e0, "delta must have replaced some e0 file"
    for rp in exclusive_e0:
        assert not os.path.exists(os.path.join(base, rp)), rp
    for rp in held:
        assert os.path.exists(os.path.join(base, rp)), rp


def _raw_snapshot(runner, table):
    with open(
        os.path.join(runner._path(table), snapshot.SNAPSHOT_FILE)
    ) as f:
        return json.load(f)


def _man_files_on_disk(runner, table):
    """{name: mtime_ns} of every per-month manifest file in the table
    root (split form, _MANIFEST_SPLIT_BYTES)."""
    base = runner._path(table)
    return {
        e: os.stat(os.path.join(base, e)).st_mtime_ns
        for e in os.listdir(base)
        if e.startswith(snapshot.MAN_PREFIX) and e.endswith(".json")
    }


def test_manifest_split_reads_identical_and_carries_refs(
    spark, tmp_path, monkeypatch
):
    """The Iceberg-shaped pointer (r10 open item): with
    _MANIFEST_SPLIT_BYTES forced to 0 every flip stores per-month
    {"ref": _man_*.json} entries instead of inline file lists.  Pins:

    * the resolved state is row-identical to a plain-layout run
      through the same rebuild -> sync -> delta-sync lifecycle (the
      no-link/no-copy property of manifest mode itself is pinned by
      test_manifest_file_level_sync_carries_by_reference);
    * content addressing makes the metadata carry free — a delta sync
      confined to one month REWRITES NO untouched month's manifest
      file (same list -> same hash -> same name, mtime unchanged) and
      keeps its ref name verbatim in the new snapshot;
    * the hot pointer stays O(months x ref-entry): every month value
      in the raw snapshot is a ref, none inline;
    * GC leaves exactly the referenced manifest files (no orphans
      accumulate across flips).
    """
    from tests.fixtures import to_spark

    monkeypatch.setattr(snapshot, "_MANIFEST_SPLIT_BYTES", 0)
    r, pdfs = _mk_state(
        spark, tmp_path, monkeypatch, n_persons=40, seed=47,
    )
    rd = PipelineRunner(spark, str(tmp_path / "plain"))
    dfs = to_spark(spark, pdfs)
    rd.run(dfs, mode="rebuild")
    rd.run(dfs, mode="sync")

    raw0 = _raw_snapshot(r, "flat_obs")
    assert raw0["months"], "no months?"
    assert all(
        isinstance(v, dict) and set(v) == {"ref"}
        for v in raw0["months"].values()
    ), raw0["months"]
    mans_before = _man_files_on_disk(r, "flat_obs")
    resolved_before = snapshot.load(r._path("flat_obs"))["months"]

    pdfs2 = _small_delta(pdfs)
    dfs2 = to_spark(spark, pdfs2)
    r.run(dfs2, mode="sync")
    rd.run(dfs2, mode="sync")
    for t in ("flat_obs", "flat_orders", "flat_visit_summary",
              "flat_lab_obs", "flat_latest_hiv_summary"):
        assert _rows(r, t) == _rows(rd, t), t

    raw1 = _raw_snapshot(r, "flat_obs")
    resolved_after = snapshot.load(r._path("flat_obs"))["months"]
    touched = {
        m for m in resolved_after
        if resolved_after[m] != resolved_before.get(m)
    }
    assert touched and len(touched) < len(resolved_after), touched
    mans_after = _man_files_on_disk(r, "flat_obs")
    for m, v in raw1["months"].items():
        assert set(v) == {"ref"}, (m, v)
        if m not in touched:
            # untouched month: ref name verbatim from the old snapshot,
            # manifest file never rewritten (content-addressed carry)
            assert v["ref"] == raw0["months"][m]["ref"], m
            assert mans_after[v["ref"]] == mans_before[v["ref"]], m
        else:
            assert v["ref"] != raw0["months"][m]["ref"], m
    # GC: with keep_snapshots=1 the referenced set IS the disk set
    assert set(mans_after) == {
        v["ref"] for v in raw1["months"].values()
    }


def test_manifest_split_crash_retention_and_time_travel(
    spark, tmp_path, monkeypatch
):
    """Split-form durability: a crash at the pointer flip leaves the
    old SPLIT snapshot fully readable (refs resolve, rows identical)
    and the next sync converges; with keep_snapshots=2 time travel
    resolves refs across snapshots and a slid window GC's the manifest
    files exclusive to the dropped snapshot."""
    from tests.fixtures import to_spark

    monkeypatch.setattr(snapshot, "_MANIFEST_SPLIT_BYTES", 0)
    r, pdfs = _mk_state(
        spark, tmp_path, monkeypatch, n_persons=40, seed=47,
        keep_snapshots=2,
    )
    e0 = _raw_snapshot(r, "flat_obs")["epoch"]
    rows_e0 = _rows(r, "flat_obs")

    # crash exactly at the flat_obs pointer publish of the next sync
    real_replace = os.replace

    def crash_on_obs_pointer(src, dst):
        if dst.endswith(
            os.path.join("flat_obs.parquet", snapshot.SNAPSHOT_FILE)
        ):
            raise RuntimeError("crash at flip")
        return real_replace(src, dst)

    monkeypatch.setattr(snapshot.os, "replace", crash_on_obs_pointer)
    pdfs2 = _small_delta(pdfs)
    with pytest.raises(RuntimeError, match="crash at flip"):
        r.run(to_spark(spark, pdfs2), mode="sync")
    monkeypatch.setattr(snapshot.os, "replace", real_replace)

    # old split snapshot still live and resolvable
    assert _raw_snapshot(r, "flat_obs")["epoch"] == e0
    assert _rows(r, "flat_obs") == rows_e0

    # recovery sync converges to the rebuild state
    r.run(to_spark(spark, pdfs2), mode="sync")
    e1 = _raw_snapshot(r, "flat_obs")["epoch"]
    assert e1 > e0
    rf = PipelineRunner(
        spark, str(tmp_path / "fresh"), partitioned=True
    )
    rf.run(to_spark(spark, pdfs2), mode="rebuild")
    assert _rows(r, "flat_obs") == _rows(rf, "flat_obs")

    # time travel resolves the OLD snapshot's refs
    old = r.read_target_at("flat_obs", e0)
    cols = sorted(c for c in old.columns if c != "obs_map")
    got = sorted(map(repr, old.toPandas()[cols].itertuples(index=False)))
    assert got == rows_e0

    # slide the window: e0 drops, its exclusive manifest files are GC'd
    with open(
        os.path.join(r._path("flat_obs"), f"_snap_{e0:08d}.json")
    ) as f:
        refs_e0 = {
            v["ref"] for v in json.load(f)["months"].values()
        }
    r.run(to_spark(spark, _small_delta(pdfs2)), mode="sync")
    assert r.snapshots("flat_obs") == [
        e1, _raw_snapshot(r, "flat_obs")["epoch"]
    ]
    disk = set(_man_files_on_disk(r, "flat_obs"))
    retained_refs = set()
    for e in r.snapshots("flat_obs"):
        with open(
            os.path.join(r._path("flat_obs"), f"_snap_{e:08d}.json")
        ) as f:
            retained_refs |= {
                v["ref"] for v in json.load(f)["months"].values()
            }
    assert disk == retained_refs
    assert refs_e0 - retained_refs, "e0 had no exclusive manifest?"
    assert not (refs_e0 - retained_refs) & disk


def test_gc_protects_live_refs_when_history_missing(
    spark, tmp_path, monkeypatch
):
    """ADVICE r10: GC used to collect _man_ ref names only from the
    retained HISTORY files — with the live epoch's history file missing
    (crash, manual cleanup, unreadable byte rot), the split-form _man_
    files the live _snapshot.json still names were swept, wedging the
    live table into a cold rebuild.  The refs must also be collected
    from the raw live pointer so a lost history entry can never orphan
    the live snapshot's manifests."""
    monkeypatch.setattr(snapshot, "_MANIFEST_SPLIT_BYTES", 0)
    r, pdfs = _mk_state(
        spark, tmp_path, monkeypatch, n_persons=40, seed=47,
    )
    table = "flat_obs"
    rows_before = _rows(r, table)
    live_refs = {
        v["ref"] for v in _raw_snapshot(r, table)["months"].values()
    }
    assert live_refs, "split mode must store refs"

    # lose the live epoch's history file, then GC
    e_live = _raw_snapshot(r, table)["epoch"]
    os.remove(os.path.join(r._path(table), f"_snap_{e_live:08d}.json"))
    snapshot._man_cache.clear()  # force GC/readers back to disk
    snapshot.gc(r._path(table), keep=r.keep_snapshots)

    for ref in live_refs:
        assert os.path.exists(os.path.join(r._path(table), ref)), ref
    snapshot._man_cache.clear()
    assert snapshot.load(r._path(table)) is not None
    assert _rows(r, table) == rows_before


def test_corrupt_ref_reads_as_cold_never_escapes(
    spark, tmp_path, monkeypatch
):
    """ADVICE r10: a corrupt pointer whose ref carries a path separator
    (or any name outside the _man_*.json family) must read as an
    unreadable snapshot (None -> cold), never be joined into the table
    dir and opened; a shape-valid ref hitting an IsADirectoryError
    (OSError, formerly uncaught) must also read as None instead of
    raising out of every read path."""
    monkeypatch.setattr(snapshot, "_MANIFEST_SPLIT_BYTES", 0)
    r, _pdfs = _mk_state(
        spark, tmp_path, monkeypatch, n_persons=20, seed=13,
    )
    table = "flat_obs"
    base = r._path(table)
    snap = _raw_snapshot(r, table)
    month = next(iter(snap["months"]))

    # (a) path-escaping ref: outside file must never be opened
    outside = tmp_path / "outside.json"
    outside.write_text(json.dumps(["evil.parquet"]))
    opened: list[str] = []
    real_open = open

    def spying_open(path, *a, **kw):
        opened.append(str(path))
        return real_open(path, *a, **kw)

    evil = dict(snap)
    evil["months"] = dict(snap["months"])
    evil["months"][month] = {"ref": f"../{outside.name}"}
    with real_open(os.path.join(base, snapshot.SNAPSHOT_FILE), "w") as f:
        json.dump(evil, f)
    snapshot._man_cache.clear()
    monkeypatch.setattr("builtins.open", spying_open)
    assert snapshot.load(r._path(table)) is None
    monkeypatch.undo()
    assert not any(str(outside) in p for p in opened), opened

    # (b) shape-valid ref naming a DIRECTORY: OSError, reads as None
    dirref = f"{snapshot.MAN_PREFIX}{month}_0000000000000000.json"
    os.makedirs(os.path.join(base, dirref), exist_ok=True)
    evil["months"][month] = {"ref": dirref}
    with real_open(os.path.join(base, snapshot.SNAPSHOT_FILE), "w") as f:
        json.dump(evil, f)
    snapshot._man_cache.clear()
    assert snapshot.load(r._path(table)) is None


def test_manifest_crash_orphan_epoch_not_time_travelable(
    spark, tmp_path, monkeypatch
):
    """Review finding r10: a crash between the history write and the
    pointer flip leaves _snap_{N+1}.json for a state that never
    committed; read_target_at must refuse it (the next write reuses
    its epoch dir with mode=overwrite), and the recovery sync
    converges."""
    from tests.fixtures import to_spark

    r, pdfs = _mk_state(
        spark, tmp_path, monkeypatch, n_persons=40, seed=47,
    )
    e0 = _raw_snapshot(r, "flat_obs")["epoch"]

    real_replace = os.replace

    def crash_on_pointer(src, dst):
        if dst.endswith(
            os.path.join("flat_obs.parquet", snapshot.SNAPSHOT_FILE)
        ):
            raise RuntimeError("crash between history and pointer")
        return real_replace(src, dst)

    monkeypatch.setattr(snapshot.os, "replace", crash_on_pointer)
    pdfs2 = _small_delta(pdfs)
    with pytest.raises(RuntimeError, match="crash between"):
        r.run(to_spark(spark, pdfs2), mode="sync")
    monkeypatch.setattr(snapshot.os, "replace", real_replace)

    # orphan history exists above live, but is not servable
    assert _raw_snapshot(r, "flat_obs")["epoch"] == e0
    hist = snapshot._history_epochs(r._path("flat_obs"))
    orphans = [e for e in hist if e > e0]
    assert orphans, "crash left no orphan history?"
    with pytest.raises(ValueError, match="not retained"):
        r.read_target_at("flat_obs", orphans[0])

    r.run(to_spark(spark, pdfs2), mode="sync")
    assert _raw_snapshot(r, "flat_obs")["epoch"] > e0


def test_legacy_table_without_sidecar_is_rebuilt_by_next_sync(
    spark, tmp_path, monkeypatch
):
    """A partitioned table whose live snapshot names no sidecar —
    written while the sidecar still lived at the table root, or one
    whose bounds file was lost — is not left unpruned: the next sync
    that runs its stage rewrites it in full (``_write`` with
    ``months=None``) with the sidecar inside the new snapshot, and
    converges to the rebuild state."""
    from tests.fixtures import to_spark

    r, pdfs = _mk_state(
        spark, tmp_path, monkeypatch, n_persons=40, seed=47,
    )
    path = r._path("flat_obs")
    raw = _raw_snapshot(r, "flat_obs")
    raw.pop("aux")
    snapshot.write_json(
        os.path.join(path, f"_snap_{raw['epoch']:08d}.json"), raw
    )
    snapshot.write_json(os.path.join(path, snapshot.SNAPSHOT_FILE), raw)
    assert _live_sidecar(r, "flat_obs") is None

    full: list[str] = []
    real_write = r._write

    def spy_write(df, table, *a, **kw):
        if kw.get("months") is None:
            full.append(table)
        return real_write(df, table, *a, **kw)

    monkeypatch.setattr(r, "_write", spy_write)
    pdfs2 = _small_delta(pdfs)
    r.run(to_spark(spark, pdfs2), mode="sync")
    assert "flat_obs" in full, full
    assert _live_sidecar(r, "flat_obs")
    rf = PipelineRunner(
        spark, str(tmp_path / "fresh_ub"), partitioned=True
    )
    rf.run(to_spark(spark, pdfs2), mode="rebuild")
    assert _rows(r, "flat_obs") == _rows(rf, "flat_obs")


def test_losing_writer_never_publishes_its_sidecar(
    spark, tmp_path, monkeypatch
):
    """Two runners on one root.  Runner B stages a write of one month;
    while B writes its sidecar, runner A completes a write of another
    month whose new encounter_id lies above that month's recorded
    range, and B's flip then loses the CAS.  Every live month's
    recorded encounter_id range must still cover that month's live
    rows: a sidecar the loser derived from the old snapshot must never
    describe the winner's data."""
    from mrsboraetl_spark.config import SYNTHETIC_ENCOUNTER_OFFSET
    from mrsboraetl_spark.engine import ConcurrentCommitError
    from mrsboraetl_spark.plans.flat_obs import build_flat_obs
    from tests.fixtures import make_sources, to_spark
    from tests.test_file_level_writes import _live_with_month

    table = "flat_obs"
    dfs = to_spark(spark, make_sources(n_persons=20, seed=13))
    rA = PipelineRunner(spark, str(tmp_path / "store"), partitioned=True)
    rB = PipelineRunner(spark, rA.root, partitioned=True)
    rA._write(
        build_flat_obs(dfs["obs"], dfs["encounter"], dfs["person"]), table
    )
    live = _live_with_month(rA, table).localCheckpoint()
    bounds = _live_sidecar(rA, table)
    m_a, m_b = sorted(bounds)[:2]
    hi = bounds[m_a]["encounter_id"][1]
    a_rows = live.filter(F.col("p_month") == m_a)
    moved = (
        a_rows.filter(F.col("encounter_id") < SYNTHETIC_ENCOUNTER_OFFSET)
        .limit(1)
        .withColumn("encounter_id", F.lit(hi + 1000).cast("long"))
    )
    delta_a = a_rows.unionByName(moved).localCheckpoint()
    delta_b = live.filter(F.col("p_month") == m_b).localCheckpoint()

    real_write_bounds = rB._write_bounds
    fired: list[bool] = []

    def write_bounds_after_winner(*a, **kw):
        if not fired:
            fired.append(True)
            rA._write(delta_a, table, months=[m_a])
        return real_write_bounds(*a, **kw)

    monkeypatch.setattr(rB, "_write_bounds", write_bounds_after_winner)
    with pytest.raises(ConcurrentCommitError):
        rB._write(delta_b, table, months=[m_b])
    assert fired

    bounds = _live_sidecar(rA, table)
    real = F.when(
        F.col("encounter_id") < SYNTHETIC_ENCOUNTER_OFFSET,
        F.col("encounter_id"),
    )
    per_month = (
        _live_with_month(rA, table)
        .groupBy("p_month")
        .agg(F.min(real).alias("lo"), F.max(real).alias("hi"))
        .collect()
    )
    assert any(r["hi"] == hi + 1000 for r in per_month)
    for r in per_month:
        if r["lo"] is None:
            continue
        lo_b, hi_b = bounds[r["p_month"]]["encounter_id"]
        assert lo_b <= r["lo"] and r["hi"] <= hi_b, (
            r["p_month"], [r["lo"], r["hi"]], [lo_b, hi_b]
        )


def test_concurrent_flip_raises_and_preserves_winner(
    spark, tmp_path, monkeypatch
):
    """VERDICT r10 item 3 (engine half): the _snapshot.json flip was
    atomic but last-writer-wins — two concurrent runners could
    silently drop a committed epoch.  The flip now compare-and-swaps
    on the parent epoch the writer planned against.  Interleave: while
    runner A's delta sync is about to flip flat_obs, runner B (second
    runner, same store) commits a new epoch; A's flip must raise
    ConcurrentCommitError, B's epoch stays live, and A's re-run
    converges against the new snapshot."""
    from mrsboraetl_spark.engine import ConcurrentCommitError
    from tests.fixtures import to_spark

    rA, pdfs = _mk_state(
        spark, tmp_path, monkeypatch, n_persons=40, seed=47,
    )
    rB = PipelineRunner(
        spark, rA.root, partitioned=True
    )
    e0 = _raw_snapshot(rA, "flat_obs")["epoch"]

    real_flip = snapshot.flip
    fired: dict = {}

    def interleaved_flip(table_dir, man, **kw):
        # rA's first flat_obs flip; rB's own flip runs inside it
        if "flat_obs.parquet" in table_dir and not fired:
            fired["e_b"] = None
            # runner B lands a full flat_obs epoch between A's plan
            # and A's flip (content-identical rewrite — the race is
            # about epochs, not rows)
            rB._write(rB.read_target("flat_obs"), "flat_obs")
            fired["e_b"] = _raw_snapshot(rB, "flat_obs")["epoch"]
        return real_flip(table_dir, man, **kw)

    monkeypatch.setattr(
        snapshot, "flip", interleaved_flip
    )
    # retries=0 pins the RAISE contract itself; the default bounded
    # retry's convergence is pinned in
    # test_concurrent_flip_retries_and_both_land (r12).
    monkeypatch.setattr(PipelineRunner, "_COMMIT_RETRIES", 0)
    pdfs2 = _small_delta(pdfs)
    with pytest.raises(ConcurrentCommitError, match="concurrent"):
        rA.run(to_spark(spark, pdfs2), mode="sync")
    monkeypatch.setattr(
        snapshot, "flip", real_flip
    )
    assert fired.get("e_b") is not None and fired["e_b"] > e0

    # the winner's epoch is live and the table reads B's state
    assert _raw_snapshot(rA, "flat_obs")["epoch"] == fired["e_b"]
    assert rA.read_target("flat_obs").count() > 0

    # the loser re-runs against the new snapshot and converges
    snapshot._man_cache.clear()
    rA.run(to_spark(spark, pdfs2), mode="sync")
    rf = PipelineRunner(
        spark, str(tmp_path / "fresh_cc"), partitioned=True
    )
    rf.run(to_spark(spark, pdfs2), mode="rebuild")
    assert _rows(rA, "flat_obs") == _rows(rf, "flat_obs")


@pytest.mark.parametrize("partitioned", [False, True])
def test_concurrent_flip_retries_and_both_land(
    spark, tmp_path, monkeypatch, partitioned
):
    """VERDICT r11 item 1 (engine half): the CAS now has a CONSUMER.
    Same interleave as test_concurrent_flip_raises_and_preserves_winner
    — runner B commits a flat_obs epoch between runner A's plan and
    A's flip — but with the default bounded retry A's losing stage
    re-reads the live snapshot, re-plans its delta against it, and
    re-commits: ONE rA.run() call converges, both writers' commits are
    in the epoch history, and the final state equals a serial
    execution (B's rewrite, then A's delta == a fresh rebuild on the
    delta'd sources).  Both layouts: the plain layout's one-group
    targets commit through the same CAS and retry."""
    from tests.fixtures import to_spark

    rA, pdfs = _mk_state(
        spark, tmp_path, monkeypatch, n_persons=40, seed=47,
        partitioned=partitioned,
    )
    rB = PipelineRunner(spark, rA.root, partitioned=partitioned)
    e0 = _raw_snapshot(rA, "flat_obs")["epoch"]

    real_flip = snapshot.flip
    fired: dict = {}

    def interleaved_flip(table_dir, man, **kw):
        # rA's first flat_obs flip; rB's own flip runs inside it
        if "flat_obs.parquet" in table_dir and not fired:
            fired["e_b"] = None
            rB._write(rB.read_target("flat_obs"), "flat_obs")
            fired["e_b"] = _raw_snapshot(rB, "flat_obs")["epoch"]
        return real_flip(table_dir, man, **kw)

    monkeypatch.setattr(
        snapshot, "flip", interleaved_flip
    )
    pdfs2 = _small_delta(pdfs)
    rA.run(to_spark(spark, pdfs2), mode="sync")  # must NOT raise
    monkeypatch.setattr(
        snapshot, "flip", real_flip
    )

    # B's epoch landed AND A's retry landed on top of it
    assert fired.get("e_b") is not None and fired["e_b"] > e0
    e_final = _raw_snapshot(rA, "flat_obs")["epoch"]
    assert e_final > fired["e_b"], (e_final, fired["e_b"])

    # serial-equivalent: final state == fresh rebuild on the sources
    rf = PipelineRunner(
        spark, str(tmp_path / "fresh_rl"), partitioned=partitioned
    )
    rf.run(to_spark(spark, pdfs2), mode="rebuild")
    for t in ("flat_obs", "flat_visit_summary",
              "flat_latest_hiv_summary"):
        assert _rows(rA, t) == _rows(rf, t), t


def test_unreadable_snapshot_heals_under_cas(
    spark, tmp_path, monkeypatch
):
    """ADVICE r11 (high): a live _snapshot.json that still PARSES but
    whose months cannot be resolved (missing _man_ ref) reads as None
    — the documented self-healing path plans a cold rebuild.  The r11
    CAS compared that rebuild's parent (-1) against the intact
    pointer's epoch and raised ConcurrentCommitError on every heal
    attempt, forever.  The flip must CAS against the RAW pointer epoch
    instead: one sync heals the table, the epoch advances past the
    wedged one, and the rows equal a fresh rebuild."""
    from tests.fixtures import to_spark

    monkeypatch.setattr(snapshot, "_MANIFEST_SPLIT_BYTES", 0)
    r, pdfs = _mk_state(
        spark, tmp_path, monkeypatch, n_persons=40, seed=47,
    )
    table = "flat_obs"
    e0 = _raw_snapshot(r, table)["epoch"]
    refs = [
        v["ref"] for v in _raw_snapshot(r, table)["months"].values()
    ]
    assert refs, "split mode must store refs"
    os.remove(os.path.join(r._path(table), refs[0]))
    snapshot._man_cache.clear()  # the cache would mask the loss
    assert snapshot.load(r._path(table)) is None, "must read as None"
    assert snapshot.raw_epoch(r._path(table)) == e0

    # the heal sync must neither raise nor wedge
    r.run(to_spark(spark, pdfs), mode="sync")
    assert snapshot.load(r._path(table)) is not None
    e1 = _raw_snapshot(r, table)["epoch"]
    assert e1 > e0, (e1, e0)

    rf = PipelineRunner(
        spark, str(tmp_path / "fresh_heal"), partitioned=True
    )
    rf.run(to_spark(spark, pdfs), mode="rebuild")
    assert _rows(r, table) == _rows(rf, table)


def test_pipeline_snapshot_gives_cross_table_consistent_reads(
    spark, tmp_path, monkeypatch
):
    """VERDICT r11 item 5: each table's manifest commits independently,
    so a reader between stage commits could see flat_obs at epoch N+1
    joined against flat_visit_summary at N.  run() now publishes a
    per-run epoch map STRICTLY LAST; read_pipeline resolves tables
    through it.  Pins: (a) map reads equal live reads after a completed
    run; (b) a map pinned before the next sync keeps serving the OLD
    consistent cut of every table after that sync commits
    (keep_snapshots=2); (c) a run that crashes mid-cascade — upstream
    committed, downstream not — leaves the previous map untouched, so
    map readers never see the mixed state the live pointers hold."""
    from tests.fixtures import to_spark

    r, pdfs = _mk_state(
        spark, tmp_path, monkeypatch, n_persons=40, seed=47,
        keep_snapshots=2,
    )
    tables = (
        "flat_obs", "flat_orders", "flat_lab_obs",
        "flat_visit_summary", "flat_latest_hiv_summary",
    )
    snap0 = r.pipeline_snapshot()
    assert snap0 is not None
    assert set(snap0["tables"]) == set(tables)

    def rows_at(snap, t):
        df = r.read_pipeline(t, snapshot=snap)
        if r.PARTITION_COL in df.columns:
            df = df.drop(r.PARTITION_COL)
        cols = sorted(c for c in df.columns if c != "obs_map")
        return sorted(
            map(repr, df.toPandas()[cols].itertuples(index=False))
        )

    # (a) completed run: map reads == live reads
    before = {}
    for t in tables:
        before[t] = rows_at(snap0, t)
        assert before[t] == _rows(r, t), t

    # (b) next sync advances the live pointers; the pinned map still
    # serves the pre-sync cut of EVERY table
    pdfs2 = _small_delta(pdfs)
    r.run(to_spark(spark, pdfs2), mode="sync")
    snap1 = r.pipeline_snapshot()
    assert snap1["tables"]["flat_obs"] > snap0["tables"]["flat_obs"]
    assert rows_at(snap0, "flat_obs") == before["flat_obs"]
    assert (
        rows_at(snap0, "flat_visit_summary")
        == before["flat_visit_summary"]
    )
    for t in tables:
        assert rows_at(snap1, t) == _rows(r, t), t

    # (c) crash mid-cascade: flat_obs commits its new epoch, the
    # visit-summary flip explodes — the live pointers now hold a MIXED
    # state, but the map still names snap1's completed cut
    pdfs3 = _small_delta(pdfs2)
    real_flip = snapshot.flip

    def exploding_flip(table_dir, man, **kw):
        if "flat_visit_summary.parquet" in table_dir:
            raise RuntimeError("crash before downstream commit")
        return real_flip(table_dir, man, **kw)

    monkeypatch.setattr(
        snapshot, "flip", exploding_flip
    )
    with pytest.raises(RuntimeError, match="crash"):
        r.run(to_spark(spark, pdfs3), mode="sync")
    monkeypatch.setattr(
        snapshot, "flip", real_flip
    )
    assert (
        snapshot.raw_epoch(r._path("flat_obs"))
        > snap1["tables"]["flat_obs"]
    ), "upstream must have committed for the pin to mean anything"
    snap_after_crash = r.pipeline_snapshot()
    assert snap_after_crash["tables"] == snap1["tables"]
    # the map's cut is the completed run's state — recovery converges
    r.run(to_spark(spark, pdfs3), mode="sync")
    rf = PipelineRunner(
        spark, str(tmp_path / "fresh_ps"), partitioned=True
    )
    rf.run(to_spark(spark, pdfs3), mode="rebuild")
    for t in ("flat_obs", "flat_visit_summary"):
        assert _rows(r, t) == _rows(rf, t), t


def test_commit_during_plan_phase_raises_then_converges(
    spark, tmp_path, monkeypatch
):
    """ADVICE r12 (medium), engine half: the CAS parent used to be
    captured inside the writer when STAGING began — a concurrent
    commit landing during the (long) plan/probe phase advanced the
    pointer first, so the stale plan's flip passed the epoch check and
    silently dropped the winner's rows.  The parent is now the epoch of
    the one snapshot _stage_attempt loads before it reads the plan
    base.  Interleave: runner B lands a flat_obs epoch at the ENTRY of
    A's delta write (``_write`` with ``months`` given, i.e. after A's
    plan was built against the old snapshot, before the old capture
    point would have run).  With retries=0 A must RAISE (the old code
    silently passed); with the default budget one run() converges and
    equals a fresh rebuild."""
    from mrsboraetl_spark.engine import ConcurrentCommitError
    from tests.fixtures import to_spark

    # keep_snapshots=2: B's commit GCs nothing A's already-pinned plan
    # still reads (the race under test is the POINTER, not retention)
    rA, pdfs = _mk_state(
        spark, tmp_path, monkeypatch, n_persons=40, seed=47,
        keep_snapshots=2,
    )
    rB = PipelineRunner(
        spark, rA.root, partitioned=True,
        keep_snapshots=2,
    )
    e0 = _raw_snapshot(rA, "flat_obs")["epoch"]

    real_write = PipelineRunner._write
    fired: dict = {}

    def interleaved_write(self, df, table, *a, **kw):
        if (
            self is rA and table == "flat_obs"
            and kw.get("months") is not None and not fired
        ):
            fired["e_b"] = None
            rB._write(rB.read_target("flat_obs"), "flat_obs")
            fired["e_b"] = _raw_snapshot(rB, "flat_obs")["epoch"]
        return real_write(self, df, table, *a, **kw)

    monkeypatch.setattr(PipelineRunner, "_write", interleaved_write)
    monkeypatch.setattr(PipelineRunner, "_COMMIT_RETRIES", 0)
    pdfs2 = _small_delta(pdfs)
    with pytest.raises(ConcurrentCommitError, match="concurrent"):
        rA.run(to_spark(spark, pdfs2), mode="sync")
    assert fired.get("e_b") is not None and fired["e_b"] > e0
    # winner's epoch stays live — the stale plan never published
    assert _raw_snapshot(rA, "flat_obs")["epoch"] == fired["e_b"]

    # default budget: the same interleave (already fired) converges
    monkeypatch.setattr(PipelineRunner, "_COMMIT_RETRIES", 2)
    snapshot._man_cache.clear()
    rA.run(to_spark(spark, pdfs2), mode="sync")
    rf = PipelineRunner(
        spark, str(tmp_path / "fresh_pp"), partitioned=True
    )
    rf.run(to_spark(spark, pdfs2), mode="rebuild")
    for t in ("flat_obs", "flat_visit_summary",
              "flat_latest_hiv_summary"):
        assert _rows(rA, t) == _rows(rf, t), t


def test_pipeline_snapshot_records_own_commits_not_live_pointers(
    spark, tmp_path, monkeypatch
):
    """ADVICE r12 (low): _write_pipeline_snapshot re-read the five
    live pointers AFTER run() finished, so a concurrent runner
    committing in that window put ANOTHER run's mid-cascade epoch into
    the map — the exact inconsistent cut the map exists to prevent.
    The map is now built from the epochs THIS run recorded as it
    committed them.  Interleave: B lands a flat_obs epoch between A's
    last stage commit and A's map write; A's map must name A's OWN
    epoch (readable, retained), not B's live one."""
    from tests.fixtures import to_spark

    rA, pdfs = _mk_state(
        spark, tmp_path, monkeypatch, n_persons=40, seed=47,
        keep_snapshots=2,
    )
    rB = PipelineRunner(
        spark, rA.root, partitioned=True,
        keep_snapshots=2,
    )

    real_snap = PipelineRunner._write_pipeline_snapshot
    fired: dict = {}

    def interleaved_snap(self):
        if self is rA and not fired:
            fired["e_b"] = None
            rB._write(rB.read_target("flat_obs"), "flat_obs")
            fired["e_b"] = _raw_snapshot(rB, "flat_obs")["epoch"]
        return real_snap(self)

    monkeypatch.setattr(
        PipelineRunner, "_write_pipeline_snapshot", interleaved_snap
    )
    pdfs2 = _small_delta(pdfs)
    rA.run(to_spark(spark, pdfs2), mode="sync")
    monkeypatch.setattr(
        PipelineRunner, "_write_pipeline_snapshot", real_snap
    )
    assert fired.get("e_b") is not None

    e_a = rA._run_commit_map["flat_obs"]
    snap = rA.pipeline_snapshot()
    # the map names A's own commit, not B's later live epoch
    assert snap["tables"]["flat_obs"] == e_a
    assert fired["e_b"] > e_a
    assert (
        snapshot.raw_epoch(rA._path("flat_obs")) == fired["e_b"]
    )
    # and the cut is readable (retention holds it)
    assert rA.read_pipeline("flat_obs", snapshot=snap).count() > 0


def test_pipeline_snapshot_tolerates_non_dict_pointer(tmp_path, spark):
    """ADVICE r12 (low): a corrupt _pipeline_snapshot.json that parses
    to a list/str/number must read as None per the docstring, not
    raise AttributeError at snap.get."""
    r = PipelineRunner(
        spark, str(tmp_path / "store_nd"), partitioned=True,
    )
    p = os.path.join(r.root, r._PIPELINE_SNAPSHOT_FILE)
    for garbage in ('[1, 2, 3]', '"str"', '7', '{"tables": [1]}'):
        with open(p, "w") as f:
            f.write(garbage)
        assert r.pipeline_snapshot() is None, garbage
    with pytest.raises(ValueError, match="no pipeline snapshot"):
        r.read_pipeline("flat_obs")


def test_two_full_runs_race_end_to_end_and_converge(
    spark, tmp_path, monkeypatch
):
    """VERDICT r12 item 2: the stage-level and versioned-table
    both-land pins are green, but the real deployment hazard is two
    COMPLETE run() invocations racing end-to-end over one root (cron
    sync racing a manual rebuild).  Two threads run a full sync of the
    SAME delta'd sources concurrently; with the bounded retry +
    jittered backoff BOTH must complete, the final state must equal a
    serial execution (== fresh rebuild on those sources, since the
    second serial run is an idempotent no-op), and the published
    pipeline map must name a consistent readable cut."""
    import threading

    from tests.fixtures import to_spark

    rA, pdfs = _mk_state(
        spark, tmp_path, monkeypatch, n_persons=40, seed=47,
        keep_snapshots=3,
    )
    rB = PipelineRunner(
        spark, rA.root, partitioned=True,
        keep_snapshots=3,
    )
    pdfs2 = _small_delta(pdfs)
    dfsA = to_spark(spark, pdfs2)
    dfsB = to_spark(spark, pdfs2)

    errs: dict = {}

    def go(name, runner, dfs):
        try:
            runner.run(dfs, mode="sync")
        except Exception as exc:  # noqa: BLE001 - the pin IS no-raise
            import traceback

            tb = "".join(traceback.format_exception(exc))
            with open(f"/tmp/race_err_{name}.txt", "w") as f:
                f.write(tb)
            errs[name] = tb[:1500]

    tA = threading.Thread(target=go, args=("A", rA, dfsA))
    tB = threading.Thread(target=go, args=("B", rB, dfsB))
    tA.start()
    tB.start()
    tA.join(600)
    tB.join(600)
    assert not tA.is_alive() and not tB.is_alive(), "run() hung"
    assert not errs, errs

    # serial-equivalent final state
    rf = PipelineRunner(
        spark, str(tmp_path / "fresh_race"), partitioned=True
    )
    rf.run(to_spark(spark, pdfs2), mode="rebuild")
    snapshot._man_cache.clear()
    for t in ("flat_obs", "flat_orders", "flat_lab_obs",
              "flat_visit_summary", "flat_latest_hiv_summary"):
        assert _rows(rA, t) == _rows(rf, t), t

    # the published map is a consistent readable cut: every table
    # resolves through it and matches the converged state
    snap = rA.pipeline_snapshot()
    assert snap is not None
    for t in ("flat_obs", "flat_visit_summary"):
        df = rA.read_pipeline(t, snapshot=snap)
        if rA.PARTITION_COL in df.columns:
            df = df.drop(rA.PARTITION_COL)
        cols = sorted(c for c in df.columns if c != "obs_map")
        got = sorted(
            map(repr, df.toPandas()[cols].itertuples(index=False))
        )
        assert got == _rows(rA, t), t
