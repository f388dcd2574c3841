"""Bounded target probes for the incremental plans' affected-month
derivation.

Under the partitioned layout, a sync's phase-1 plan must locate the
storage months of the TARGET rows it will retract (old locations of
changed keys, rows of voided persons).  The naive probe is a
column-pruned scan of the whole target — correct, but O(target) read
per sync where the reference's PK index makes the same lookup
O(delta * log n) (flat_obs_v1.0.sql:46-50).

``month_probe`` closes that gap: when the engine offers a
``probe_reader`` (PipelineRunner keeps per-month [min, max] key bounds,
recorded at write time — the partitioned-layout lift of
VersionedTable.merge_delta's per-file accounting in
sources/versioned.py), the probe reads ONLY the month
directories whose recorded key range can contain a probe key; planning-
time partition pruning means the other directories are never opened.
Each snapshot names the bounds staged with its own data (one flip
publishes both), so the bounds always cover the live content and a
pruned probe can return extra months but never miss one — the
correctness contract the affected-month superset needs.  Without a
reader (unpartitioned layout, pre-bounds table, cold start) the probe
falls back to the full column-pruned scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pin(df: DataFrame, out: dict | None, key: str) -> DataFrame:
    """Materialize a delta-sized frame once per sync and reuse it across
    the plan's many consumers (probe range-join, month semi-join,
    recompute semi-join, anti-delete — each evaluated twice under the
    engine's two-phase delta write; without the pin every evaluation
    re-reads the source parquet).  Only active under the engine's
    ``pin_recomputed`` request — the partitioned two-phase path, where
    an eager localCheckpoint is already the accepted trade (see the
    ``recomputed`` pin); other layouts keep pure lineage — EXCEPT for
    keys the engine names in ``out["pin_keys"]``: those have a
    consumer in a separate action AFTER the stage's own write (the
    latest-summary merge reads ``queue_keys`` post-commit), so the
    same materialize-once trade applies on any layout (ADVICE r10:
    without this the plain layout never publishes the queue and its
    merge path is unreachable).
    localCheckpoint preserves size stats (PERF.md), so a pinned
    delta-key frame stays broadcast-eligible."""
    if out is None:
        return df
    if key in out:
        return out[key]
    if out.get("pin_recomputed") or key in out.get("pin_keys", ()):
        df = df.localCheckpoint()
        out[key] = df
    return df


def month_probe(
    target: DataFrame,
    out: dict | None,
    keys_df: DataFrame,
    key_col: str,
    cols: list[str],
) -> DataFrame:
    """The target projected to ``cols``, restricted (when the engine
    offers key-bounds pruning) to the storage months whose recorded
    [min, max] ``key_col`` range intersects ``keys_df`` — a guaranteed
    superset of the months containing any probed key."""
    reader = (out or {}).get("probe_reader")
    if reader is not None:
        pruned = reader(keys_df, key_col)
        if pruned is not None:
            return pruned.select(*cols)
    return target.select(*cols)


def recently_voided(
    person: DataFrame, cutoff=None, stable=False
) -> DataFrame:
    """Voided persons that can still have un-purged target rows: those
    voided since the last PROCESSED point (plus undatable
    NULL-date_voided rows, always probed).  Persons voided before it
    had their target months located and purged by the first sync that
    saw them (or were excluded by the rebuild outright) — the purge
    itself (anti_delete on ALL voided persons) is unchanged; only the
    month-location probe is scoped, so a steady-state sync with no
    fresh voids probes nothing at all.

    ``cutoff`` is the stage's stored ``person_voided`` signal
    high-water mark (engine ``out["vp_cutoff"]``) — the precise
    processed point, seeded by the rebuild.  Until one exists (the
    one-sync window after upgrading a pre-signal store) the FULL
    voided set is probed: the data watermark cannot serve as a scope —
    voids never advance it, so a late-arriving void legitimately dated
    at or before it would be excluded from the month probe and its
    rows in otherwise-untouched months would survive that sync
    unpurged.

    ``stable`` is the engine's void-set fingerprint verdict
    (``out["vp_stable"]``): the fingerprint is order-independent over
    the whole voided-person set and saved only after a fully completed
    run, so an unchanged fingerprint proves every current void —
    including the UNDATED (NULL date_voided) class no timestamp can
    scope — was already purged by the run that saved it.  Stable =>
    nothing to probe at all; unstable => undated voids are probed
    conservatively (any of them might be the new one).  Sources
    without a date_voided column fall back to the full voided set when
    unstable (conservative: extra probe read, never a missed
    month)."""
    vp = person.filter(F.col("voided") == 1)
    if stable:
        return vp.select("person_id").limit(0)
    if "date_voided" not in person.columns or cutoff is None:
        return vp.select("person_id")
    since = F.lit(cutoff).cast("timestamp")
    return vp.filter(
        F.col("date_voided").isNull() | (F.col("date_voided") > since)
    ).select("person_id")
