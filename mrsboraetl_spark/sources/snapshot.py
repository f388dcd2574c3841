"""One commit protocol for manifest-committed tables.

A table is a directory whose content is defined by ONE pointer file,
``_snapshot.json``::

    {"epoch": N, "months": {group: [relpath, ...]},
     "aux": {name: relpath}, ...extra fields}

Every relpath names a file inside an immutable hidden epoch directory
(``_e{N}_{uuid}``) of the same table directory.  The file map is kept
under the key ``months`` because the engine's groups are storage
months; a ``VersionedTable`` has a single group and an
``AppendOnlyTable`` one group per committed batch.  ``aux`` (optional)
names auxiliary files that describe the snapshot — the engine's
bounds/Bloom sidecar — so they commit with the data in the same flip;
``gc`` keeps and sweeps them exactly like data files, and ``files``
never returns them (``aux`` resolves one by name).  Extra fields a
writer puts in the snapshot (``note``, ``rows``, ``file_stats``,
counters) ride along untouched — in the pointer, in the history and in
every read.

The protocol (the Iceberg shape, on plain files):

* **stage** — a writer creates a uniquely named epoch directory
  (``next_epoch_dir``) and writes its new data and aux files there;
  files it keeps are carried by relpath, never copied, linked or
  renamed;
* **flip** — ``flip`` durably flushes the staged tree, compare-and-swaps
  the pointer against the epoch the writer planned from, records the
  snapshot as ``_snap_{epoch}.json`` history FIRST, then replaces the
  pointer (fsync'd file, then fsync'd directory).  The pointer replace
  is the only commit point: a crash anywhere before it leaves the old
  snapshot live and the staging an invisible orphan;
* **read** — ``load`` (live) and ``load_at`` (any retained epoch)
  resolve the file map; ``files`` turns it into absolute paths;
* **GC** — ``gc`` deletes every file no retained snapshot names:
  replaced files past the retention window, crash orphans, history
  files outside the window.  A never-flipped staging directory may be a
  concurrent writer's work in progress and is swept only once older
  than ``_SCRATCH_ORPHAN_SECONDS``.

``publish`` is stage + flip as one call, the helper every writer uses:
it stages into ``next_epoch_dir``, lets the writer fill the directory
and name the snapshot's fields, flips against the writer's CAS parent
and removes its own staging when the commit fails.

Past ``_MANIFEST_SPLIT_BYTES`` of inline file lists a snapshot stores
each group's list in its own content-addressed ``_man_{group}_{sha}.json``
file, so the hot pointer stays one small write at any table size.

On an object store the pointer replace becomes a conditional PUT
(If-Match on the parent epoch) and nothing else changes.  The
reference commits each flat table with ``REPLACE INTO`` from one
serialized cron (flat_obs_v1.0.sql:115); this protocol is what lets
concurrent writers and readers share a table without that serialization.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import uuid

SNAPSHOT_FILE = "_snapshot.json"
EPOCH_PREFIX = "_e"
MAN_PREFIX = "_man_"
_HISTORY_PREFIX = "_snap_"

# Per-group manifest files (the Iceberg manifest-list shape): when the
# inline file map would serialize past this many bytes, the snapshot
# stores {"ref": "_man_{group}_{sha}.json"} per group and each group's
# file list moves to its own CONTENT-ADDRESSED file.  An untouched group
# then costs the flip NOTHING new: same list -> same hash -> same
# filename, carried forward as a small pointer entry instead of
# re-serializing thousands of relpaths.  The default threshold keeps
# every sub-4-MiB table on the simpler inline form (pointer stays
# human-readable, zero extra reads).  Split and inline forms can mix
# within one table's history — readers resolve per group.
_MANIFEST_SPLIT_BYTES = 4 << 20

# Age gate for sweeping never-flipped staging: a staging directory that
# no completed flip ever named may be a CONCURRENT writer's in-progress
# epoch; anything older than this is provably dead.  Raise it for
# deployments whose single write legitimately runs longer.
_SCRATCH_ORPHAN_SECONDS = 6 * 3600

# Content-addressed per-group manifest cache: a _man_ file's NAME
# commits to its content, so an entry can never go stale (and GC
# removing an unreferenced file never invalidates a live entry).
_man_cache: dict[str, list[str]] = {}


class ConcurrentCommitError(RuntimeError):
    """Another writer committed to this table after the current writer
    read its parent state — completing the commit would silently drop
    that writer's snapshot (last-writer-wins).  The loser must re-read
    the table and re-plan; its staged epoch directory is an orphan that
    GC sweeps.  Local stand-in for an object store's compare-and-swap /
    If-Match conditional PUT (what Iceberg does on its pointer)."""


# ------------------------------------------------------------- reading


def _pointer_path(table_dir: str) -> str:
    return os.path.join(table_dir, SNAPSHOT_FILE)


def _man_payload(files: list[str]) -> bytes:
    """Canonical bytes of one group's file list — what the
    content-addressed _man_ filename commits to."""
    return json.dumps(sorted(files)).encode()


def _resolve(table_dir: str, groups: dict) -> dict[str, list[str]] | None:
    """Resolve a raw snapshot file map to plain {group: [relpath, ...]}.
    A value is either the inline list or a {"ref": "_man_*.json"}
    pointer to a per-group manifest file (split form,
    _MANIFEST_SPLIT_BYTES); both forms can coexist.  Returns None if any
    referenced manifest is missing/corrupt — the caller treats the
    snapshot as unreadable.  Resolved refs are cached by filename (see
    _man_cache).  Resolution is EAGER — O(all groups) manifest reads on
    a process's FIRST load of a split-form table — an accepted trade:
    callers index the map freely, and the cache makes every later load
    (including carried-forward refs across flips) a pure dict lookup."""
    out: dict[str, list[str]] = {}
    for g, v in groups.items():
        if isinstance(v, list):
            out[g] = v
            continue
        try:
            ref = v["ref"]
        except (TypeError, KeyError):
            return None
        # Shape-validate the ref BEFORE opening it: a corrupt pointer
        # must read as unreadable, never as a path escape — the ref is
        # joined into the table dir, so any separator (or a name
        # outside the _man_*.json family) could reference files outside
        # the table.
        if (
            not isinstance(ref, str)
            or not ref.startswith(MAN_PREFIX)
            or not ref.endswith(".json")
            or "/" in ref
            or os.sep in ref
            or (os.altsep and os.altsep in ref)
        ):
            return None
        cached = _man_cache.get(ref)
        if cached is None:
            try:
                with open(os.path.join(table_dir, ref)) as f:
                    cached = json.load(f)
                if not isinstance(cached, list):
                    return None
            except (OSError, ValueError):
                # OSError covers permission/IsADirectory/transient I/O
                # failures alongside FileNotFoundError; ValueError
                # covers JSONDecodeError AND the UnicodeDecodeError a
                # binary-garbage file raises — all read as None per the
                # self-healing contract, never crash the read path.
                return None
            if len(_man_cache) > 4096:
                _man_cache.clear()
            _man_cache[ref] = cached
        out[g] = cached
    return out


def raw_epoch(table_dir: str) -> int:
    """Epoch of the on-disk pointer AS THE FLIP'S CAS READS IT (parse
    ``_snapshot.json``, take ``epoch``), -1 when cold or unparseable.
    Deliberately WEAKER than ``load``: a pointer whose epoch parses but
    whose file map cannot be resolved (missing/corrupt ``_man_`` ref)
    still has a raw epoch.  Writers that planned against a None
    snapshot (cold OR unreadable) must pass THIS value as their CAS
    parent, not -1 — otherwise the self-healing rebuild of an
    unreadable-but-parseable pointer would compare -1 against the intact
    epoch and raise ConcurrentCommitError forever."""
    try:
        with open(_pointer_path(table_dir)) as f:
            return int(json.load(f)["epoch"])
    except (OSError, ValueError, KeyError, TypeError):
        return -1


def load(table_dir: str) -> dict | None:
    """The live snapshot with its file map RESOLVED to plain lists, or
    None for a cold/absent table.  A corrupt snapshot — unparseable,
    missing either required key, or naming a missing per-group manifest
    — also reads as None: the writer's next commit rebuilds and flips a
    fresh one (self-healing; the fsync'd replace in ``flip`` makes a
    torn file unreachable in normal operation).  Epoch is validated too:
    treating an epoch-less map as live would keep reads working while
    every write died in next_epoch_dir forever."""
    try:
        with open(_pointer_path(table_dir)) as f:
            man = json.load(f)
        if not isinstance(man.get("months"), dict):
            return None
        int(man["epoch"])
        groups = _resolve(table_dir, man["months"])
        if groups is None:
            return None
        man["months"] = groups
        return man
    except (OSError, AttributeError, KeyError, TypeError, ValueError):
        # OSError (not just FileNotFoundError): a permission or
        # transient I/O failure on the pointer reads as cold, same
        # self-healing contract as a torn file.  ValueError subsumes
        # JSONDecodeError and the UnicodeDecodeError of binary garbage.
        return None


def files(
    table_dir: str, groups: list[str] | None = None,
    man: dict | None = None,
) -> list[str]:
    """Absolute data-file paths of snapshot ``man`` (default: the live
    one), optionally restricted to the given groups — exact file lists,
    no directory listing at all.  [] for a cold table."""
    if man is None:
        man = load(table_dir)
        if man is None:
            return []
    sel = man["months"].items() if groups is None else (
        (g, man["months"].get(g, ())) for g in groups
    )
    return [os.path.join(table_dir, rp) for _g, fl in sel for rp in fl]


def _aux_files(man: dict | None) -> set[str]:
    """Relpaths of the auxiliary files snapshot ``man`` names."""
    aux = (man or {}).get("aux")
    if not isinstance(aux, dict):
        return set()
    return {rp for rp in aux.values() if isinstance(rp, str)}


def aux(table_dir: str, name: str, man: dict | None = None) -> str | None:
    """Absolute path of the auxiliary file ``name`` of snapshot ``man``
    (default: the live one), or None when the snapshot names none.  A
    relpath outside the table's epoch directories reads as None, never
    as a path escape."""
    if man is None:
        man = load(table_dir)
    entries = (man or {}).get("aux")
    rp = entries.get(name) if isinstance(entries, dict) else None
    if (
        not isinstance(rp, str)
        or not rp.startswith(EPOCH_PREFIX)
        or ".." in rp.split("/")
    ):
        return None
    return os.path.join(table_dir, rp)


def _history_epochs(table_dir: str) -> dict[int, str]:
    """{epoch: history-file path} of recorded snapshots on disk."""
    out: dict[int, str] = {}
    if not os.path.isdir(table_dir):
        return out
    for entry in os.listdir(table_dir):
        if entry.startswith(_HISTORY_PREFIX) and entry.endswith(".json"):
            try:
                out[int(entry[len(_HISTORY_PREFIX):-len(".json")])] = (
                    os.path.join(table_dir, entry)
                )
            except ValueError:
                continue
    return out


def snapshots(table_dir: str) -> list[int]:
    """Retained snapshot epochs, oldest first (live one included).  Any
    of them can be read with load_at."""
    man = load(table_dir)
    if man is None:
        return []
    live = int(man["epoch"])
    return sorted(e for e in _history_epochs(table_dir) if e <= live)


def history(table_dir: str) -> list[dict]:
    """The retained snapshots as recorded (file maps unresolved), oldest
    first.  An unreadable history file is skipped."""
    paths = _history_epochs(table_dir)
    out = []
    for e in snapshots(table_dir):
        try:
            with open(paths[e]) as f:
                out.append(json.load(f))
        except (OSError, ValueError):
            continue
    return out


def load_at(table_dir: str, epoch: int) -> dict:
    """Time travel: the snapshot of a RETAINED epoch, file map resolved.
    Carried files are shared across snapshots by reference, so retention
    costs no storage beyond the window's replaced files.  Raises
    ValueError for an epoch that is not retained."""
    hist = _history_epochs(table_dir).get(int(epoch))
    live_man = load(table_dir)
    live = int(live_man["epoch"]) if live_man else -1
    if hist is None or int(epoch) > live:
        # the > live guard rejects crash orphans: a history file
        # written before a flip that never happened names state that
        # never committed, and the next write reuses its epoch NUMBER —
        # overwriting the orphan history file — while staging into a
        # fresh uuid-suffixed data dir
        raise ValueError(
            f"snapshot {epoch} of {table_dir} is not retained "
            f"(available: {snapshots(table_dir)})"
        )
    with open(hist) as f:
        man = json.load(f)
    groups = _resolve(table_dir, man["months"])
    if groups is None:
        raise ValueError(
            f"snapshot {epoch} of {table_dir} references a missing "
            "per-group manifest"
        )
    man["months"] = groups
    return man


# ------------------------------------------------------------- staging


def _epoch_of_dirname(entry: str) -> int | None:
    """Leading epoch number of an ``_e{N}[_{uuid}]`` directory name,
    None for anything else (legacy un-suffixed names parse too)."""
    digits = entry[len(EPOCH_PREFIX):].split("_", 1)[0]
    try:
        return int(digits)
    except ValueError:
        return None


def next_epoch_dir(
    table_dir: str, man: dict | None = None
) -> tuple[int, str]:
    """Next epoch number + a UNIQUELY-NAMED staging dir
    (``_e{N}_{uuid}``) inside ``table_dir``.  ``man``: the snapshot the
    writer planned from (loaded when None).  The uniqueness is the
    concurrent-writer guard for the DATA: two writers that both planned
    against the same parent epoch would otherwise overwrite the SAME
    directory — the loser's interleaved write silently corrupting the
    files the winner's flip is about to (or already did) publish.  With
    per-writer dirs only the pointer CAS arbitrates; the loser's dir is
    an unreferenced orphan GC sweeps (GC walks every ``_e*`` dir and
    keys on relpaths, not epoch numbers).

    The epoch NUMBER is floored by the live snapshot's epoch, the raw
    pointer's epoch (heal path — a parseable pointer with unresolvable
    groups still speaks an epoch the history guard trusts), and any
    epoch directory already on disk: after a corrupt pointer read as
    cold, a naive epoch-0 restart would collide with history files
    older snapshots still reference."""
    man = man if man is not None else load(table_dir)
    epoch = (int(man["epoch"]) if man else raw_epoch(table_dir)) + 1
    on_disk = -1
    if os.path.isdir(table_dir):
        for entry in os.listdir(table_dir):
            if entry.startswith(EPOCH_PREFIX):
                e = _epoch_of_dirname(entry)
                if e is not None:
                    on_disk = max(on_disk, e)
    # an on-disk epoch == the computed next is a crashed staging attempt
    # of exactly this write: REUSE THE NUMBER (the crashed attempt's
    # history orphan is then overwritten by this flip, keeping it
    # un-time-travelable) but never its dir — the fresh uuid suffix
    # keeps the data writes disjoint.  Anything HIGHER means the pointer
    # went backwards (corruption read as cold): step past every
    # existing dir.
    if on_disk > epoch:
        epoch = on_disk + 1
    return epoch, os.path.join(
        table_dir, f"{EPOCH_PREFIX}{epoch:08d}_{uuid.uuid4().hex[:8]}"
    )


def staged_files(edir: str) -> list[str]:
    """Relpaths (from the table directory) of the data files a writer
    staged directly inside ``edir``: every name that is not hidden
    (``_SUCCESS`` markers, ``.crc`` checksums)."""
    name = os.path.basename(edir)
    return [
        f"{name}/{f}"
        for f in sorted(os.listdir(edir))
        if not f.startswith(("_", "."))
    ]


def _fsync_path(path: str) -> None:
    """Best-effort fsync of a file or directory by path: some
    network/FUSE mounts reject fsync (notably on a directory fd), and
    failing a write that already succeeded would be worse than the
    narrowed crash window."""
    try:
        fd = os.open(path, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
    except OSError:
        pass


def fsync_tree(root_dir: str) -> None:
    """Best-effort durable flush of a freshly staged directory tree
    (files, then directories bottom-up) before a flip names its files:
    Spark's local committer never fsyncs, so without this a power loss
    after a durable flip + GC could leave the only copy of the data as
    never-written-back page-cache pages."""
    for droot, _dirs, names in os.walk(root_dir, topdown=False):
        for fn in names:
            _fsync_path(os.path.join(droot, fn))
        _fsync_path(droot)


def write_json(path: str, obj) -> None:
    """Durable atomic JSON write: tmp file, fsync, replace."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


# ---------------------------------------------------------------- flip


def _split(table_dir: str, man: dict) -> dict:
    """Split step of the flip: when the inline file map would push the
    pointer past _MANIFEST_SPLIT_BYTES, move each group's file list into
    its own content-addressed ``_man_{group}_{sha}.json`` and store
    {"ref": name} in the snapshot.  Content addressing makes the carry
    free at the metadata layer too: an untouched group hashes to the
    SAME filename, so its manifest file is simply not rewritten and
    survives by reference in the new snapshot — a flip writes
    O(touched groups) manifest bytes plus one small pointer.  Files are
    fsync'd before the pointer names them; orphans from a crash before
    the flip are pruned by GC (referenced by no retained snapshot)."""
    groups = man["months"]
    if len(json.dumps(groups, sort_keys=True)) <= _MANIFEST_SPLIT_BYTES:
        return man
    refs: dict[str, dict] = {}
    for g, fl in groups.items():
        payload = _man_payload(fl)
        name = (
            f"{MAN_PREFIX}{g}_"
            f"{hashlib.sha256(payload).hexdigest()[:16]}.json"
        )
        target = os.path.join(table_dir, name)
        if not os.path.exists(target):
            tmp = target + ".tmp"
            with open(tmp, "wb") as f:
                f.write(payload)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, target)
        refs[g] = {"ref": name}
    return {**man, "months": refs}


def flip(
    table_dir: str, man: dict, parent_epoch: int | None = None,
    staged: str | None = None,
) -> None:
    """THE commit: one atomic, DURABLE pointer replace publishing
    ``man`` ({"epoch", "months": {group: [relpath]}, ...}).  Local
    stand-in for an object store's single-key conditional PUT.

    ``staged``: the epoch directory this commit wrote; its tree is
    flushed (fsync_tree) before anything names it — a durable pointer
    naming never-written-back data pages is a wedged table.

    ``parent_epoch`` (optimistic concurrency): the live epoch the writer
    READ when it planned this commit (-1 for a cold table).  If the
    on-disk pointer has moved past it, raise ConcurrentCommitError
    instead of silently dropping that committed snapshot: the writer's
    plan merged against a stale base, so publishing it would lose the
    other writer's rows, not just its epoch number.  The check-then-
    replace window is not truly atomic on a local filesystem — on an
    object store, swap the replace for If-Match on the pointer key and
    the contract is exact.  ``None`` skips the check (callers that
    cannot know their parent).

    The history entry lands FIRST (a crash before the pointer replace
    leaves an orphan history file above the live epoch, which readers
    refuse and GC prunes); the pointer replace then only publishes.
    Both are fsync'd before their rename and the directory after it:
    GC deletes replaced files right after this returns, so a power loss
    that rolled the pointer back to the OLD snapshot would leave it
    naming deleted files."""
    if staged is not None:
        fsync_tree(staged)
    if parent_epoch is not None:
        live = raw_epoch(table_dir)  # cold/corrupt == no committed parent
        if live != int(parent_epoch):
            raise ConcurrentCommitError(
                f"{table_dir}: planned against epoch {parent_epoch} "
                f"but live is {live} — a concurrent commit landed; "
                "re-read and re-plan"
            )
    man = _split(table_dir, man)
    write_json(
        os.path.join(
            table_dir, f"{_HISTORY_PREFIX}{int(man['epoch']):08d}.json"
        ),
        man,
    )
    write_json(_pointer_path(table_dir), man)
    _fsync_path(table_dir)


def publish(
    table_dir: str, man: dict | None, parent_epoch: int, write,
) -> dict:
    """Stage and flip one commit; returns the published snapshot.

    ``write(edir)`` stages the new files into a fresh epoch directory
    (``next_epoch_dir``, numbered from ``man``, the snapshot the writer
    planned from) and returns the new snapshot's fields: ``months``
    plus any ``aux`` and extra fields (the epoch is added here).
    ``flip`` then publishes them with ``parent_epoch`` as the CAS
    parent.  A failed commit removes its own staging unless the pointer
    already names it; a killed one leaves an orphan ``gc`` sweeps once
    provably dead."""
    epoch, edir = next_epoch_dir(table_dir, man)
    try:
        new = {**write(edir), "epoch": epoch}
        flip(table_dir, new, parent_epoch=parent_epoch, staged=edir)
    except BaseException as exc:
        if (
            isinstance(exc, ConcurrentCommitError)
            or raw_epoch(table_dir) != epoch
        ):
            shutil.rmtree(edir, ignore_errors=True)
        raise
    return new


# ------------------------------------------------------------------ GC


def _refs(groups) -> set[str]:
    return {
        v["ref"] for v in groups.values()
        if isinstance(v, dict) and "ref" in v
    }


def gc(table_dir: str, man: dict | None = None, keep: int = 1) -> list[int]:
    """Delete epoch-directory files (data and aux alike) not referenced
    by any RETAINED snapshot (the live one plus the ``keep - 1`` before
    it): replaced
    files past the retention window, orphans from a crash before a flip.
    ``man``: pass the just-flipped snapshot to skip a reload.  History
    files above the live epoch are crash orphans (their flip never
    happened) and are pruned with their data; history files below the
    window are pruned before their exclusive data.  With ``keep=1`` a
    concurrent reader of the PREVIOUS snapshot can lose files mid-job;
    ``keep`` > 1 is the snapshot-isolation knob.  Returns the epochs
    that fell out of retention, oldest first.

    Concurrent-writer carve-out: a staged epoch dir that was NEVER
    flipped — no file of it named by the live snapshot or any on-disk
    history of epoch <= live — may be another writer's in-progress
    staging, not a crash orphan; those dirs are swept only once older
    than _SCRATCH_ORPHAN_SECONDS.  Everything a completed flip ever
    published keeps the immediate sweep."""
    if man is None:
        man = load(table_dir)
    live_epoch = int(man["epoch"]) if man else -1
    hist = _history_epochs(table_dir)
    retained = sorted(
        (e for e in hist if e <= live_epoch), reverse=True
    )[: max(1, int(keep))]
    live = {
        rp
        for fl in (man or {"months": {}})["months"].values()
        for rp in fl
    } | _aux_files(man)
    # Ref names are collected from the RAW retained history files (the
    # in-memory ``man`` always carries resolved inline lists, but the
    # on-disk pointer/history may hold the split form — its _man_ files
    # are retained metadata exactly like the data they name) — AND from
    # the raw live pointer itself: if the live epoch's history file is
    # missing or unreadable, the loop below would otherwise retain no
    # refs for the live snapshot and GC would delete the _man_ files
    # the pointer still names, wedging the live table.
    live_refs: set[str] = set()
    try:
        with open(_pointer_path(table_dir)) as f:
            live_refs |= _refs(json.load(f).get("months", {}))
    except (OSError, ValueError, AttributeError, TypeError):
        pass  # cold/corrupt pointer: nothing live to protect
    for e in retained:
        try:
            with open(hist[e]) as f:
                raw = json.load(f)
            raw_groups = raw["months"]
            live_refs |= _refs(raw_groups)
            if man is not None and e == live_epoch:
                continue  # data and aux files already unioned above
            for fl in (_resolve(table_dir, raw_groups) or {}).values():
                live.update(fl)
            live |= _aux_files(raw)
        except (OSError, ValueError, KeyError, TypeError):
            continue  # unreadable history: retains nothing extra
            # (the live snapshot's refs/data are protected above
            # regardless — this arm only loses RETENTION extras)
    # COMMITTED-evidence set: files named by the live snapshot or by
    # ANY on-disk history file of epoch <= live were published by a
    # completed flip at some point — an unreferenced file in this set
    # is a replaced/out-of-retention leftover and is swept immediately.
    # A file OUTSIDE it belongs to a NEVER-flipped staging dir: either a
    # hard-crash orphan or a CONCURRENT writer's in-progress epoch
    # (which this GC must not destroy mid-write).  Those are swept only
    # once provably dead.  Epochs ABOVE live with a history file (the
    # microscopic hist-written-pointer-not-yet window of a concurrent
    # winner) are deliberately NOT committed evidence: age-gating them
    # closes the wedge where GC deletes data whose pointer flip lands a
    # moment later.
    committed: set[str] = set(live)
    for e, hp in hist.items():
        if e > live_epoch or e in retained:
            continue  # retained epochs already unioned into live
        try:
            with open(hp) as f:
                raw = json.load(f)
            for fl in (_resolve(table_dir, raw["months"]) or {}).values():
                committed.update(fl)
            committed |= _aux_files(raw)
        except (OSError, ValueError, KeyError, TypeError):
            continue  # unreadable: its files stay age-gated
    dropped = sorted(e for e in hist if e not in retained and e <= live_epoch)
    for e, hp in hist.items():
        if e not in retained:
            try:
                os.remove(hp)
            except OSError:
                pass
    for entry in os.listdir(table_dir):
        if (
            entry.startswith(MAN_PREFIX)
            and entry.endswith((".json", ".json.tmp"))
            and entry not in live_refs
        ):
            try:
                os.remove(os.path.join(table_dir, entry))
            except OSError:
                pass
    now = dt.datetime.now().timestamp()
    for entry in os.listdir(table_dir):
        if not entry.startswith(EPOCH_PREFIX):
            continue
        edir = os.path.join(table_dir, entry)
        if not os.path.isdir(edir):
            continue
        # One walk up front: a dir holding NO live and NO
        # committed-evidence file is a never-flipped staging — skip it
        # whole (files, dirs, rmdir) unless provably dead, so a
        # concurrent writer's half-written data is never touched.
        walk = list(os.walk(edir, topdown=False))
        all_rps = [
            os.path.relpath(os.path.join(root, fn), table_dir)
            for root, _dirs, names in walk
            for fn in names
        ]
        # empty dirs (no files yet) are age-gated too: a concurrent
        # writer may have just created its staging tree
        if not any(rp in committed for rp in all_rps):
            try:
                age = now - os.path.getmtime(edir)
            except OSError:
                continue
            if age <= _SCRATCH_ORPHAN_SECONDS:
                continue  # possibly a live concurrent staging
        for root, _dirs, names in walk:
            for fn in names:
                fp = os.path.join(root, fn)
                if os.path.relpath(fp, table_dir) not in live:
                    try:
                        os.remove(fp)
                    except OSError:
                        # locked/undeletable file: GC must not fail a
                        # write whose flip already committed — a later
                        # GC sweeps the leftover
                        continue
            try:
                os.rmdir(root)  # drops emptied group/epoch dirs
            except OSError:
                pass
    return dropped
