"""The incremental plans' engine-facing side: one pin rule and the
retraction probes that locate the target rows a sync changes.

Under the partitioned layout, a sync's phase-1 plan must locate the
storage months of the TARGET rows it will retract (old locations of
changed keys, rows of voided persons).  The naive probe is a
column-pruned scan of the whole target — correct, but O(target) read
per sync where the reference's PK index makes the same lookup
O(delta * log n) (flat_obs_v1.0.sql:46-50).

``month_probe`` closes that gap: when the engine offers a
``probe_reader`` (PipelineRunner keeps per-month [min, max] key bounds
and Bloom filters in a sidecar, recorded at write time — the
partitioned-layout lift of VersionedTable.merge_delta's per-file
accounting in sources/versioned.py), the probe reads ONLY the files of
the months whose recorded keys can contain a probe key: the reader
hands back a frame over those months' snapshot file lists, so no other
month's file is ever opened.  Each snapshot names the sidecar staged
with its own data (one flip publishes both), so the bounds always cover
the live content and a pruned probe can return extra months but never
miss one — the correctness contract the affected-month superset needs.
Without a reader (the plain layout, or a snapshot naming no sidecar)
the probe falls back to the full column-pruned scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mrsboraetl_spark.schemas import p_month_of

# The one plan output the engine reads AFTER the stage's own write:
# engine._merge_latest_summary merges the visit-summary queue into the
# latest table once that write's GC may have deleted the files the
# queue's lineage reads.
_READ_AFTER_WRITE = "queue_keys"


def pin(build, out: dict | None, key: str) -> DataFrame:
    """The one pin rule of the incremental plans: ``build()``'s frame,
    materialized (localCheckpoint) into ``out[key]`` when some consumer
    evaluates it again after the plan has run.

    That is every frame a plan pins under the engine's
    ``pin_recomputed`` request — the partitioned two-phase sync, which
    evaluates the plan's delta keys, its recompute and its changed-key
    set in phase 1, then re-runs the plan against the pruned target
    (each source re-read per evaluation otherwise) — and the
    visit-summary ``queue_keys`` whenever ``out`` is given, read after
    the write on either layout.  An ``out`` already holding ``key``
    returns that frame without calling ``build``, so phase 2 neither
    re-runs nor even re-plans what phase 1 pinned.  Any other frame
    stays pure lineage: a layout that evaluates it once would pay an
    eager materialization (and lose lineage replay on a real cluster)
    for nothing.  localCheckpoint preserves size stats (PERF.md), so a
    pinned delta-sized frame stays broadcast-eligible."""
    if out is None:
        return build()
    if key not in out:
        df = build()
        if not (out.get("pin_recomputed") or key == _READ_AFTER_WRITE):
            return df
        out[key] = df.localCheckpoint()
    return out[key]


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


def publish_retractions(
    out: dict,
    target: DataFrame | None,
    recomputed: DataFrame,
    person: DataFrame,
    keys: DataFrame | None = None,
    probes: tuple = (),
    months: tuple = (),
) -> None:
    """Publish a sync's changed-row supersets for the engine's
    delta-scoped writer, derived from the SAME key sets the merge uses:

    * ``out["affected_months"]``: every storage month a changed row can
      live in — the months of the recomputed rows (where upserts land),
      of each ``months`` frame (a ``p_month`` column: a retraction class
      whose key contains its datetime), and of the target rows each
      probe finds (where deletions happen).  Everything outside it is
      byte-identical to the previous target state.
    * ``out["changed_keys"]``, pinned: every encounter_id whose row may
      differ (engine._plan_touched_files) — recomputed's, ``keys``, and
      those of the rows each person-keyed probe finds.  An
      encounter-keyed probe adds none: its rows carry only the ids it
      probed, which ``keys`` or ``recomputed`` already name.

    Retractions are located by bounds-pruned target probes (one probe
    reader call each, ``month_probe``): ``keys``, the plan's retracted
    encounter_ids; then each ``(keys_df, key_col)`` of ``probes``; then
    the persons voided since the last processed point
    (``recently_voided``, pinned) — the merged output's purge still
    uses the full voided set.  Without a target nothing is retracted
    and nothing is probed."""
    month = p_month_of("encounter_datetime").alias("p_month")
    key = F.col("encounter_id").cast("long").alias("encounter_id")
    all_months = recomputed.select(month)
    for m in months:
        all_months = all_months.unionByName(m)
    changed = recomputed.select(key)
    if keys is not None:
        changed = changed.unionByName(keys.select(key))
    if target is not None:
        voided = pin(
            lambda: recently_voided(
                person, cutoff=out.get("vp_cutoff"),
                stable=out.get("vp_stable", False),
            ),
            out, "vp_recent",
        )
        located = [] if keys is None else [(keys, "encounter_id")]
        for keys_df, key_col in (*located, *probes, (voided, "person_id")):
            # encounter_id rides along for the changed-key superset —
            # the same pruned, column-pruned read.
            cols = list(dict.fromkeys(
                ["encounter_id", key_col, "encounter_datetime"]
            ))
            rows = month_probe(target, out, keys_df, key_col, cols).join(
                keys_df, key_col, "left_semi"
            )
            all_months = all_months.unionByName(rows.select(month))
            if key_col != "encounter_id":
                changed = changed.unionByName(rows.select(key))
    out["affected_months"] = all_months.distinct()
    out["changed_keys"] = pin(changed.distinct, out, "changed_keys")
