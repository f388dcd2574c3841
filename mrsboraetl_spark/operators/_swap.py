"""The rename-aside atomic swap and its crash rescue, for the two
writers whose output must stay a plain parquet directory that any
``spark.read.parquet(path)`` reads: the engine's plain-layout table
writer (``PipelineRunner._write``) and ``sources/layout.compact_parquet``.
Everything else commits through the snapshot protocol
(sources/snapshot.py).

``swap_in`` commits a staged directory with ``os.replace(data,
data.old)`` then ``os.replace(new, data)``.  A process crash BETWEEN the
two replaces leaves no data directory at all — the committed state sits
intact at ``.old``.  Without rescue the next run would see no table,
rebuild from scratch, and the following swap's cleanup of ``.old``
would delete the state it could have recovered.

``rescue_orphan`` is that recovery: restore ``.old`` when the data path
is missing.  It runs before the engine reads or skips a plain-layout
target.  If both the data path and ``.old`` exist, the crash happened
after the second replace (commit complete) — the ``.old`` is stale
garbage and the next swap's cleanup of it is safe.
"""

from __future__ import annotations

import os
import shutil


def rescue_orphan(data_path: str) -> None:
    """Restore ``data_path`` from ``data_path + '.old'`` if a crashed
    swap left the data path missing but the old state intact."""
    old = data_path + ".old"
    if not os.path.exists(data_path) and os.path.exists(old):
        os.replace(old, data_path)


def swap_in(tmp: str, data_path: str) -> None:
    """Promote the staged directory ``tmp`` to ``data_path``: drop a
    stale ``.old``, demote the current state to ``.old``, promote
    ``tmp``, drop ``.old``.  A failed promote restores ``.old`` (the
    staged ``tmp`` is kept for audit) and re-raises."""
    old = data_path + ".old"
    shutil.rmtree(old, ignore_errors=True)  # leftover of a prior crash
    if os.path.exists(data_path):
        os.replace(data_path, old)
    try:
        os.replace(tmp, data_path)
    except OSError:
        if os.path.exists(old):
            os.replace(old, data_path)
        raise
    shutil.rmtree(old, ignore_errors=True)
