"""Deterministic fault-injection sweep over the snapshot protocol
(sources/snapshot.py): Spark-free for the protocol itself, and through
a persistent index's ingest and compaction.

Small "data" files are staged by hand; the module's file-system calls —
opening a file for writing, ``os.fsync``, ``os.replace``, ``os.remove``
and ``os.rmdir`` — are counted, and the sweep crashes one commit
(``flip`` + ``gc``) at the N-th call for every N.  After each crash:

* ``load()`` is exactly the old snapshot or exactly the new one;
* every file it names exists, ``aux`` files included;
* the live epoch is retained, and every retained epoch still reads,
  naming only existing files — GC never removes a retained ``aux``
  file;
* re-running the interrupted publish converges to the new snapshot,
  and the next commit lands with the same invariants.

Covered for the inline and the split (per-group ``_man_`` files) forms
of the pointer, each with ``keep`` 1 and 2, and for a swept commit that
stages a new ``aux`` file or carries the previous one by relpath.
``publish``'s failure leg (a raising writer, a lost CAS) is pinned
below the sweep.  The index leg crashes
``SpanFrequencyIndex.ingest_and_clean`` and ``compact`` (an
``AppendOnlyTable`` append and replace) at every counted call the same
way: the reopened index reads exactly the old state or the new one,
and finishing the operation converges.  The hand-enumerated crash
windows of the engine's pipeline are pinned end to end in
tests/test_manifest_layout.py.
"""

from __future__ import annotations

import builtins
import os
import shutil
import time

import pytest

from mrsboraetl_spark.sources import snapshot


class Crash(Exception):
    """The injected fault.  Not an OSError: the protocol swallows
    OSError on best-effort paths, and a crash must propagate."""


class _Faults:
    """While installed, counts the module's file-system calls and
    raises Crash at call number ``crash_at`` (1-based; None = never)."""

    def __init__(self, crash_at: int | None = None):
        self.crash_at = crash_at
        self.calls = 0

    def hit(self) -> None:
        self.calls += 1
        if self.calls == self.crash_at:
            raise Crash(f"injected crash at call {self.calls}")

    def counted(self, fn):
        def wrapper(*a, **kw):
            self.hit()
            return fn(*a, **kw)
        return wrapper

    def open(self, file, mode="r", *a, **kw):
        if any(c in mode for c in "wax+"):
            self.hit()
        return builtins.open(file, mode, *a, **kw)

    def __enter__(self):
        faults = self

        class _Os:
            fsync = staticmethod(faults.counted(os.fsync))
            replace = staticmethod(faults.counted(os.replace))
            remove = staticmethod(faults.counted(os.remove))
            rmdir = staticmethod(faults.counted(os.rmdir))

            def __getattr__(self, name):
                return getattr(os, name)

        snapshot.os = _Os()
        snapshot.open = self.open
        return self

    def __exit__(self, *exc):
        snapshot.os = os
        del snapshot.open
        return False


_GROUPS = ("2024-01", "2024-02", "2024-03")


def _stage(table_dir: str, man: dict | None, files: dict) -> tuple:
    """Stage ``files`` ({group: n_new_files}) into a fresh epoch dir and
    return (epoch, dir, {group: [relpath]}), with a Spark-like
    ``_SUCCESS`` marker the snapshot never names."""
    epoch, edir = snapshot.next_epoch_dir(table_dir, man)
    name = os.path.basename(edir)
    out: dict[str, list[str]] = {}
    for g, n in files.items():
        os.makedirs(os.path.join(edir, f"g={g}"), exist_ok=True)
        for i in range(n):
            rp = f"{name}/g={g}/part-{i}.dat"
            with open(os.path.join(table_dir, rp), "w") as f:
                f.write(f"{rp}\n")
            out.setdefault(g, []).append(rp)
    with open(os.path.join(edir, "_SUCCESS"), "w"):
        pass
    return epoch, edir, out


def _prepare(
    table_dir: str, step: int, carry_aux: bool = False
) -> tuple[dict, str]:
    """Stage one commit: rewrite one group (carrying one of its old
    files by relpath), carry the others untouched, drop a group on step
    3.  The snapshot names one ``aux`` file: staged afresh, or with
    ``carry_aux`` the previous snapshot's, kept by relpath.  Returns the
    snapshot to publish and its staged dir."""
    old = snapshot.load(table_dir)
    groups = dict((old or {"months": {}})["months"])
    touched = {_GROUPS[step % len(_GROUPS)]: 2}
    if step == 0:
        touched = {g: 2 for g in _GROUPS[:2]}
    epoch, edir, staged = _stage(table_dir, old, touched)
    for g, fl in staged.items():
        groups[g] = sorted(list(groups.get(g, ()))[:1] + fl)
    if step == 3:
        groups.pop(_GROUPS[1], None)
    if carry_aux and old is not None:
        aux = old["aux"]
    else:
        aux = {"side": f"{os.path.basename(edir)}/_side.json"}
        with open(os.path.join(table_dir, aux["side"]), "w") as f:
            f.write(f"{step}\n")
    return {
        "epoch": epoch, "months": groups, "aux": aux, "note": f"step {step}",
    }, edir


def _publish(table_dir: str, new: dict, edir: str, keep: int) -> None:
    """The protocol under test: CAS flip, then GC."""
    parent = snapshot.raw_epoch(table_dir)
    snapshot.flip(table_dir, new, parent_epoch=parent, staged=edir)
    snapshot.gc(table_dir, new, keep=keep)


def _commit(
    table_dir: str, step: int, keep: int, carry_aux: bool = False
) -> dict:
    new, edir = _prepare(table_dir, step, carry_aux)
    _publish(table_dir, new, edir, keep)
    return new


def _check(table_dir: str, allowed: list[dict]) -> None:
    snapshot._man_cache.clear()  # read every per-group manifest from disk
    live = snapshot.load(table_dir)
    assert live in allowed, (live, allowed)
    assert live["epoch"] in snapshot.snapshots(table_dir)
    for e in snapshot.snapshots(table_dir):
        at = snapshot.load_at(table_dir, e)
        for p in snapshot.files(table_dir, man=at):
            assert os.path.exists(p), (e, p)
        side = snapshot.aux(table_dir, "side", at)
        assert side is not None and os.path.exists(side), (e, side)
        assert side not in snapshot.files(table_dir, man=at)


def _build(table_dir: str, keep: int) -> dict:
    """Three committed epochs (the second carries the first's aux
    file), a dead orphan staging (older than the age gate) and a young
    one for GC to sweep and to spare."""
    os.makedirs(table_dir)
    man = None
    for step in range(3):
        man = _commit(table_dir, step, keep, carry_aux=step == 1)
    for tag, age in (("0000dead", snapshot._SCRATCH_ORPHAN_SECONDS + 60),
                     ("0000beef", 0)):
        d = os.path.join(table_dir, f"_e{man['epoch'] + 1:08d}_{tag}")
        os.makedirs(os.path.join(d, "g=x"))
        with open(os.path.join(d, "g=x", "part-0.dat"), "w") as f:
            f.write("orphan\n")
        t = time.time() - age
        os.utime(d, (t, t))
    return man


@pytest.mark.parametrize("keep", [1, 2])
@pytest.mark.parametrize("split", [False, True], ids=["inline", "split"])
def test_crash_at_every_call_of_flip_and_gc(
    tmp_path, monkeypatch, split, keep
):
    if split:
        monkeypatch.setattr(snapshot, "_MANIFEST_SPLIT_BYTES", 0)

    for carry_aux in (False, True):
        # dry run: how many file-system calls one commit makes
        dry = str(tmp_path / f"dry{carry_aux}")
        _build(dry, keep)
        new, edir = _prepare(dry, 3, carry_aux)
        with _Faults() as counter:
            _publish(dry, new, edir, keep)
        _check(dry, [new])
        assert counter.calls > 10, counter.calls

        for n in range(1, counter.calls + 1):
            d = str(tmp_path / f"crash{carry_aux}{n}")
            old = _build(d, keep)
            new, edir = _prepare(d, 3, carry_aux)
            with pytest.raises(Crash), _Faults(crash_at=n):
                _publish(d, new, edir, keep)
            _check(d, [old, new])
            # the table is never wedged: retrying the same publish lands
            # it, and the next commit lands on top with the same
            # guarantees
            _publish(d, new, edir, keep)
            _check(d, [new])
            _check(d, [_commit(d, 4, keep)])


def _staging_dirs(table_dir: str) -> set[str]:
    return {
        e for e in os.listdir(table_dir)
        if e.startswith(snapshot.EPOCH_PREFIX)
    }


def test_publish_failure_removes_its_staging(tmp_path):
    """``publish``'s failure leg: a writer that raises, or a commit
    that loses the CAS, leaves no staging directory behind and the
    live snapshot untouched."""
    d = str(tmp_path / "t")
    os.makedirs(d)

    def write(edir):
        os.makedirs(edir)
        with open(os.path.join(edir, "part-0.dat"), "w") as f:
            f.write("x\n")
        return {"months": {"g": snapshot.staged_files(edir)}}

    def failing(edir):
        write(edir)
        raise Crash("writer failed")

    with pytest.raises(Crash):
        snapshot.publish(d, None, -1, failing)
    assert _staging_dirs(d) == set() and snapshot.load(d) is None

    first = snapshot.publish(d, None, -1, write)
    assert snapshot.load(d) == first
    kept = _staging_dirs(d)
    # planned against the cold table, but epoch 0 is live now
    with pytest.raises(snapshot.ConcurrentCommitError):
        snapshot.publish(d, None, -1, write)
    assert _staging_dirs(d) == kept
    assert snapshot.load(d) == first
    for p in snapshot.files(d):
        assert os.path.exists(p), p


def _span_state(spark, path: str) -> tuple:
    """(committed group count, span frequencies) of the index reopened
    at ``path``, after checking that every file its snapshot names
    exists."""
    from mrsboraetl_spark.operators.span_index import SpanFrequencyIndex

    snapshot._man_cache.clear()
    idx = SpanFrequencyIndex(path, span_tokens=2)
    for p in snapshot.files(idx.counts_path):
        assert os.path.exists(p), p
    freqs = idx.frequencies(spark)
    return len(idx.table.committed()), sorted(
        tuple(r) for r in freqs.collect()
    )


@pytest.mark.parametrize("op", ["ingest", "compact"])
def test_crash_at_every_call_of_index_ingest_and_compact(
    spark, tmp_path, op
):
    from mrsboraetl_spark.operators.span_index import SpanFrequencyIndex

    def batch(lo):
        return spark.createDataFrame(
            [(i, f"x y w{i % 2} z") for i in range(lo, lo + 3)],
            "doc_id int, text string",
        )

    def run(path: str) -> None:
        idx = SpanFrequencyIndex(path, span_tokens=2)
        if op == "ingest":
            idx.ingest_and_clean(batch(10), "doc_id", "text")
        else:
            idx.compact(spark)

    base = str(tmp_path / "base")
    idx = SpanFrequencyIndex(base, span_tokens=2)
    for lo in (0, 3):
        idx.ingest_and_clean(batch(lo), "doc_id", "text")
    old = _span_state(spark, base)

    dry = str(tmp_path / "dry")
    shutil.copytree(base, dry)
    with _Faults() as counter:
        run(dry)
    new = _span_state(spark, dry)
    assert new != old and counter.calls > 10, counter.calls

    for n in range(1, counter.calls + 1):
        d = str(tmp_path / f"crash{n}")
        shutil.copytree(base, d)
        with pytest.raises(Crash), _Faults(crash_at=n):
            run(d)
        got = _span_state(spark, d)
        assert got in (old, new), n
        # a crash before the flip lost the operation, one after it only
        # its cleanup: finishing it converges, and the index takes the
        # next ingest
        if got == old or op == "compact":
            run(d)
        assert _span_state(spark, d) == new, n
        SpanFrequencyIndex(d, span_tokens=2).ingest_and_clean(
            batch(20), "doc_id", "text"
        )
        assert _span_state(spark, d)[0] == new[0] + 1, n
