"""flat_lab_obs: lab-panel obs -> one row per (person, day).

Reference: flat_lab_obs_v1.0.sql (generate_flat_lab_obs, :4-185).

Shape (:102-133): obs restricted to the 16-concept lab whitelist (:130),
minus TESTS ORDERED = NONE rows (1271=1107, :131), grouped by
(person_id, date(obs_datetime)) — a per-day lab panel.  Per group:
* synthetic ``encounter_id = min(obs_id) + 100,000,000`` (:105) — the stable
  key downstream joins on;
* ``test_datetime = date(obs_datetime)`` stored at midnight (:106);
* ``encounter_type = 99999`` (lab sentinel), ``location_id = null``;
* ``obs`` blob with GROUP_CONCAT(DISTINCT ...) semantics — dedup on the
  rendered entry, ordered by (concept_id, value_coded) (:109-121);
* lineage blobs ``encounter_ids`` (``!!concept=value_coded=encounter!!``,
  empty string when encounter-less) and ``obs_ids`` (``!!concept=obs_id!!``)
  (:123-124) — unordered in MySQL; the engine sorts by (concept_id,
  value_coded, obs_id) for determinism (SURVEY §2.4 A4).

Deliberate divergence: the reference's "insert newly created obs" pass is
commented out (:135-167), so new lab results only ever entered production
via the voided-recompute path; ``incremental_flat_lab_obs`` implements the
intended protocol (both change classes), and quirk 9's commented-out
``date_created <= wm`` guard is dropped.

Scale: single groupBy shuffle on (person_id, day); the voided-day key set
broadcasts for the semi-join restriction.  All blob work is codegen'd
array algebra.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mrsboraetl_spark.config import (
    LAB_CONCEPTS,
    LAB_ENCOUNTER_TYPE,
    SYNTHETIC_ENCOUNTER_OFFSET,
    TESTS_ORDERED_CONCEPT,
    TESTS_ORDERED_NONE,
)
from mrsboraetl_spark.functions.obsmap import (
    blob_entry,
    obs_map_from_entries,
    packed_blob,
    typed_value,
)
from mrsboraetl_spark.operators.upsert import replace_into
from mrsboraetl_spark.plans._probe import pin
from mrsboraetl_spark.schemas import p_month_of


def _lab_rows(obs: DataFrame) -> DataFrame:
    """Whitelist + NONE-exclusion + voided filter (:128-132)."""
    return obs.filter(
        (F.col("voided") == 0)
        & F.col("concept_id").isin(LAB_CONCEPTS)
        & ~(
            (F.col("concept_id") == TESTS_ORDERED_CONCEPT)
            & (F.col("value_coded") == TESTS_ORDERED_NONE)
        )
    )


def build_flat_lab_obs(obs: DataFrame) -> DataFrame:
    """Full rebuild over all live lab obs."""
    rows = _lab_rows(obs).withColumn("day", F.to_date("obs_datetime"))
    order = [F.col("concept_id"), F.col("value_coded")]
    value = typed_value()
    lineage_order = order + [F.col("obs_id")]
    return (
        rows.groupBy("person_id", "day")
        .agg(
            (F.min("obs_id") + SYNTHETIC_ENCOUNTER_OFFSET).alias("encounter_id"),
            obs_map_from_entries(
                F.col("concept_id"), value, order, distinct=True
            ).alias("obs_map"),
            packed_blob(
                blob_entry(F.col("concept_id"), value), order, distinct=True
            ).alias("obs"),
            packed_blob(
                blob_entry(
                    F.col("concept_id"),
                    F.concat(
                        F.col("value_coded").cast("string"),
                        F.lit("="),
                        F.coalesce(
                            F.col("encounter_id").cast("string"), F.lit("")
                        ),
                    ),
                ),
                lineage_order,
            ).alias("encounter_ids"),
            packed_blob(
                blob_entry(F.col("concept_id"), F.col("obs_id").cast("string")),
                lineage_order,
            ).alias("obs_ids"),
            F.max("date_created").alias("max_date_created"),
        )
        .select(
            "person_id",
            "encounter_id",
            F.col("day").cast("timestamp").alias("test_datetime"),
            F.lit(LAB_ENCOUNTER_TYPE).alias("encounter_type"),
            F.lit(None).cast("int").alias("location_id"),
            "obs_map",
            "obs",
            "encounter_ids",
            "obs_ids",
            "max_date_created",
        )
    )


def incremental_flat_lab_obs(
    target: DataFrame | None, obs: DataFrame, watermark,
    out: dict | None = None,
) -> DataFrame:
    """Delete+reaggregate on (person, day) keys touched by voided or new lab
    obs since the watermark (:84-133 plus the intended new-rows pass).

    ``out``: see incremental_flat_obs.  The (person, day) key CONTAINS
    the partition datetime (test_datetime == day), so the affected-month
    set comes straight from the key set — no target probe at all."""
    wm = F.lit(watermark).cast("timestamp")
    lab = obs.filter(F.col("concept_id").isin(LAB_CONCEPTS))

    voided_days = (
        lab.filter((F.col("voided") == 1) & (F.col("date_voided") > wm))
        .select("person_id", F.to_date("obs_datetime").alias("day"))
    )
    new_days = (
        lab.filter((F.col("voided") == 0) & (F.col("date_created") > wm))
        .select("person_id", F.to_date("obs_datetime").alias("day"))
    )
    # Delta-key pin (plans/_probe.pin): affected feeds the month set,
    # the changed-key publication, the recompute semi-join, and the
    # phase-2 delete-join.  Unpinned, each evaluation re-derives it
    # from the source — repeated work, and over a mutable source (live
    # DataFrame / JdbcSource(snapshot=False)) the phase-1 file plan and
    # the phase-2 delete could see DIFFERENT affected sets: a row
    # landing between them would be deleted from the touched files with
    # no replacement in the already-pinned recompute.
    affected = pin(
        lambda: voided_days.unionByName(new_days).distinct(),
        out, "lab_affected_keys",
    )
    if out is not None and "affected_months" not in out:
        out["affected_months"] = (
            affected.select(p_month_of("day").alias("p_month")).distinct()
        )
    if out is not None and "changed_keys" not in out:
        # File-level write planning (r10): every target row that may
        # differ belongs to an affected person — the delete-join removes
        # only their (person, day) rows and the recompute re-emits only
        # their days — so the affected-person set is the changed-key
        # superset over the person-clustered files (engine._CLUSTER_BY;
        # the reference's own delete path is the person_date index,
        # flat_lab_obs_v1.0.sql:58).
        out["changed_keys"] = affected.select("person_id").distinct()

    # Pinned across the engine's two-phase delta-scoped sync (see
    # incremental_flat_obs): the recompute is target-independent.
    def recompute():
        base = _lab_rows(obs).withColumn("day", F.to_date("obs_datetime"))
        return build_flat_lab_obs(
            base.join(affected, ["person_id", "day"], "left_semi").drop("day")
        )

    recomputed = pin(recompute, out, "recomputed")

    if target is not None:
        # Delete-join on the date-truncated key (J6, :96-98).
        target = target.join(
            affected.select(
                "person_id", F.col("day").cast("timestamp").alias("test_datetime")
            ),
            ["person_id", "test_datetime"],
            "left_anti",
        )
    return replace_into(target, recomputed, ["encounter_id"])
