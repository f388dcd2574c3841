"""flat_obs: EAV obs -> one row per encounter with the packed obs multimap.

Reference: flat_obs_v1.0.sql (generate_flat_obs, :4-352).  Two shapes:

* encounters with obs (:115-153): obs(voided=0) ⋈ encounter(voided=0) on
  encounter_id, grouped per encounter, obs packed with the A2 ordered
  collect;
* encounter-less obs (:157-194): obs with NULL encounter_id grouped by
  (person_id, obs_datetime); synthetic encounter_id = min(obs_id) +
  100,000,000 (:161) and synthetic visit_id from the 10,000,000 base (:29).
  The reference's @fake_visit_id row-counter restarts per run (quirk 10);
  uniqueness — not density — is what downstream uses, so the engine derives
  it deterministically from the group's synthetic encounter_id instead of a
  global row_number, which would serialize on one partition at scale.

Scale notes: both halves are a single groupBy shuffle on their grain key;
the encounter join shuffles on encounter_id (sort-merge at 100 TB, broadcast
under AQE when the delta side is small).  No Python UDFs anywhere — the
packing is array_sort/transform/array_join inside codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mrsboraetl_spark.config import FAKE_VISIT_ID_BASE, SYNTHETIC_ENCOUNTER_OFFSET
from mrsboraetl_spark.functions.obsmap import (
    blob_entry,
    obs_map_from_entries,
    packed_blob,
    typed_value,
)
from mrsboraetl_spark.operators.upsert import anti_delete, replace_into
from mrsboraetl_spark.plans._probe import pin, publish_retractions
from mrsboraetl_spark.schemas import p_month_of

def _obs_aggregates() -> list:
    """The shared per-group aggregate list: obs blob, obs_datetimes blob,
    canonical map, lineage max_date_created (flat_obs_v1.0.sql:123-145)."""
    # Sort key for the blob: (concept_id, value_coded) — flat_obs_v1.0.sql:133.
    order = [F.col("concept_id"), F.col("value_coded")]
    value = typed_value()
    return [
        obs_map_from_entries(F.col("concept_id"), value, order).alias("obs_map"),
        packed_blob(blob_entry(F.col("concept_id"), value), order).alias("obs"),
        packed_blob(
            blob_entry(
                F.col("concept_id"), F.date_format("obs_datetime", "yyyy-MM-dd")
            ),
            order,
        ).alias("obs_datetimes"),
        F.max("date_created").alias("max_date_created"),
    ]


def build_flat_obs(
    obs: DataFrame, encounter: DataFrame, person: DataFrame | None = None
) -> DataFrame:
    """Full-rebuild flat_obs (both shapes unioned, flat_obs_v1.0.sql:115-194).

    When ``person`` is given, voided patients are purged (:337-340) — the
    reference runs that delete on *every* invocation, so full rebuild and
    incremental sync agree on final state.
    """
    live_obs = obs.filter(F.col("voided") == 0)

    with_enc = (
        live_obs.filter(F.col("encounter_id").isNotNull())
        .join(
            # obs carries person_id (the reference selects o.person_id,
            # flat_obs_v1.0.sql:117) so the encounter side drops patient_id.
            encounter.filter(F.col("voided") == 0).select(
                "encounter_id",
                "visit_id",
                "encounter_datetime",
                "encounter_type",
                "location_id",
            ),
            "encounter_id",
        )
        .groupBy(
            "encounter_id",
            "person_id",
            "visit_id",
            "encounter_datetime",
            "encounter_type",
            "location_id",
        )
        .agg(*_obs_aggregates())
    )

    # Encounter-less obs: group by (person_id, obs_datetime) (:157-194).
    no_enc = (
        live_obs.filter(F.col("encounter_id").isNull())
        .groupBy("person_id", "obs_datetime")
        .agg(F.min("obs_id").alias("min_obs_id"), *_obs_aggregates())
        .select(
            # long, not int: the reference's INT synthetic ids overflow past
            # ~2.1e9 source obs ids; at 100 TB obs_id is a 64-bit sequence.
            (F.col("min_obs_id") + SYNTHETIC_ENCOUNTER_OFFSET)
            .cast("long")
            .alias("encounter_id"),
            "person_id",
            # Synthetic visit id: unique per synthetic encounter, derived —
            # not a sequential counter (quirk 10 fixed; see module docstring).
            (F.col("min_obs_id") + FAKE_VISIT_ID_BASE).cast("long").alias("visit_id"),
            F.col("obs_datetime").alias("encounter_datetime"),
            F.lit(None).cast("int").alias("encounter_type"),
            F.lit(None).cast("int").alias("location_id"),
            "obs_map",
            "obs",
            "obs_datetimes",
            "max_date_created",
        )
    )

    cols = [
        "person_id", "visit_id", "encounter_id", "encounter_datetime",
        "encounter_type", "location_id", "obs_map", "obs", "obs_datetimes",
        "max_date_created",
    ]
    flat = with_enc.select(*cols).unionByName(no_enc.select(*cols))
    if person is not None:
        flat = anti_delete(
            flat, person.filter(F.col("voided") == 1).select("person_id"),
            ["person_id"],
        )
    return flat


def incremental_flat_obs(
    target: DataFrame | None,
    obs: DataFrame,
    encounter: DataFrame,
    person: DataFrame,
    watermark,
    out: dict | None = None,
) -> DataFrame:
    """Incremental sync (flat_obs_v1.0.sql:61-340): detect changed keys,
    retract, recompute *whole groups* from base data, upsert, purge voided
    persons.  Delete+reaggregate — not delta aggregation — exactly the
    reference's I3 semantics, so incremental state always equals a fresh
    rebuild over the current base (the property the tests assert).

    ``out``: optional side-channel for the engine's delta-scoped
    partitioned writer.  When given, the plan publishes the months and
    keys of every row that may change (``_probe.publish_retractions``)
    and, in ``out["synthetic_delta_months"]``, the months of the
    changed encounter-less groups.
    """
    wm = F.lit(watermark).cast("timestamp")

    voided_obs = obs.filter((F.col("voided") == 1) & (F.col("date_voided") > wm))
    new_obs = obs.filter((F.col("voided") == 0) & (F.col("date_created") > wm))
    changed_enc = encounter.filter(F.col("date_changed") > wm)

    # Affected with-encounter keys (:80-87, 199-207).  The delta-key
    # frames feed four-plus jobs per sync (recompute semi-join, month
    # probe, month semi-join, anti-delete — each twice under the
    # two-phase delta write), each otherwise re-reading the source
    # parquet; they are delta-sized, so the pin is tiny and keeps them
    # broadcastable.
    affected_enc = pin(
        lambda: voided_obs.filter(F.col("encounter_id").isNotNull())
        .select("encounter_id")
        .unionByName(
            new_obs.filter(F.col("encounter_id").isNotNull()).select(
                "encounter_id"
            )
        )
        .unionByName(changed_enc.select("encounter_id"))
        .distinct(),
        out, "affected_enc",
    )
    # Affected encounter-less groups (:110-113, 157-194).
    affected_noenc = pin(
        lambda: voided_obs.filter(F.col("encounter_id").isNull())
        .select("person_id", "obs_datetime")
        .unionByName(
            new_obs.filter(F.col("encounter_id").isNull()).select(
                "person_id", "obs_datetime"
            )
        )
        .distinct(),
        out, "affected_noenc",
    )

    # Recompute whole groups from base state, restricted to affected
    # keys.  The recompute subtree is target-independent, so the
    # two-phase delta-scoped sync pins it on the first pass and reuses
    # it on the second — without the pin every source
    # filter/join/reaggregation job runs twice per sync.
    def recompute():
        base_obs = obs.filter(F.col("voided") == 0)
        return build_flat_obs(
            base_obs.join(affected_enc, "encounter_id", "left_semi")
            .unionByName(
                base_obs.filter(F.col("encounter_id").isNull()).join(
                    affected_noenc, ["person_id", "obs_datetime"],
                    "left_semi",
                )
            ),
            encounter,
        )

    recomputed = pin(recompute, out, "recomputed")
    if out is not None and "affected_months" not in out:
        # The synthetic-row key CONTAINS the datetime, so the old
        # locations of encounter-less groups come straight from the key
        # set.  Their OLD pks are unknowable without reading (the
        # synthetic id embeds a min(obs_id) that may have changed), so
        # they are also published as a MONTH set: the file-level writer
        # marks the sentinel-range files of those months touched.
        noenc_months = affected_noenc.select(
            p_month_of("obs_datetime").alias("p_month")
        )
        publish_retractions(
            out, target, recomputed, person,
            keys=affected_enc, months=(noenc_months,),
        )
        out["synthetic_delta_months"] = noenc_months.distinct()
    if target is not None:
        # Retract all affected rows (J4/J5), then upsert the recomputed ones.
        target = anti_delete(target, affected_enc, ["encounter_id"])
        # J5's "where t2.encounter_id is null" guard: only synthetic rows are
        # keyed by (person_id, datetime); real encounters must not be swept
        # up by a coincidental timestamp match.
        synth = target.filter(F.col("encounter_id") >= SYNTHETIC_ENCOUNTER_OFFSET)
        real = target.filter(
            F.col("encounter_id") < SYNTHETIC_ENCOUNTER_OFFSET
        )
        synth = synth.join(
            affected_noenc.select(
                "person_id", F.col("obs_datetime").alias("encounter_datetime")
            ),
            ["person_id", "encounter_datetime"],
            "left_anti",
        )
        target = real.unionByName(synth)
    merged = replace_into(target, recomputed, ["encounter_id"])

    # Purge voided patients (:337-340).
    voided_person = person.filter(F.col("voided") == 1).select("person_id")
    return anti_delete(merged, voided_person, ["person_id"])
