"""The rename-aside atomic swap and its crash rescue, shared by the
engine's plain-layout table writer and the persistent incremental
indexes (span_index, lsh_index, ann_index, stats_index).

``swap_in`` commits a staged directory with ``os.replace(data,
data.old)`` then ``os.replace(new, data)``.  A process crash BETWEEN the
two replaces leaves no data directory at all — the committed state sits
intact at ``.old``.  Without rescue the next open would see
``is_empty()``, a subsequent ingest would start a fresh table, and the
following compact's cleanup of ``.old`` would permanently delete the
original corpus state (the silent-data-loss chain the round-5 advisor
flagged).

``rescue_orphan`` is that recovery: restore ``.old`` when the data path
is missing.  It runs at index OPEN (and before the engine reads or skips
a plain-layout target), before any is_empty / ingest / compact can
observe the orphaned state.  If both the data path and ``.old`` exist,
the crash happened after the second replace (commit complete) — the
``.old`` is stale garbage and the next swap's cleanup of it is safe.
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
