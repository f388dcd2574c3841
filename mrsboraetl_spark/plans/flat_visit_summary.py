"""flat_visit_summary: clinical + lab flat rows -> 43-column per-visit summary.

Reference: flat_visit_summary_v1.0.sql (generate_visit_summary, :4-591).

Shape: flat_obs filtered to clinical encounter types (21, 22) (:155),
optionally unioned with flat_lab_obs rows padded to the same schema
(:157-173), then the wide decode projection (:186-531) joined to person for
the uuid (:528), written with REPLACE-INTO semantics keyed on encounter_id
(:533-580).

The decode layer (functions/decode.py) runs on the canonical ``obs_map``
instead of regexing the packed blob — same first-match CASE semantics,
Catalyst map probes inside codegen.

Deliberate divergences (SURVEY §2.11):
* the 5000-person WHILE loop (:119-583, quirk 5) is gone — one declarative
  plan over all queued persons; Spark's shuffle partitioning is the
  batching;
* lab rows are unioned in at :157-173 but then dropped by the decode
  stage's ``where encounter_type in (21,22)`` (:529) — dead code in the
  reference.  ``include_lab_rows`` (default False = reference output)
  exposes the evident intent;
* ``hiv_start_date`` duplicates ``enrollment_date`` (:543-544, quirk 2) —
  preserved, since downstream reads it;
* the @prev_id/@cur_id lag pair (:182-191, W2) is computed but never
  consumed in v1.0 — not ported (lag lives in the operator library);
* flat_orders is left-joined into the staging table (:153) but the decode
  projection never reads ``orders`` — dead code; the engine skips the join
  (an unused shuffle join is exactly what hurts at 100 TB);
* who_stage/no_of_day_hospitalized decode the intent (quirks 1/6, see
  decode.py).

Scale: the decode projection is pure per-row expression work — no shuffle.
Shuffles: flat_obs ⟕ flat_orders on encounter_id, person join on person_id
(person is the small dimension -> broadcast).  The queue restriction is a
left-semi join that AQE broadcasts when the delta is small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mrsboraetl_spark.config import CLINICAL_ENCOUNTER_TYPES
from mrsboraetl_spark.functions.decode import decode_columns
from mrsboraetl_spark.operators.upsert import anti_delete, replace_into
from mrsboraetl_spark.plans._probe import pin, publish_retractions

# Final column order: the reference DDL (:17-67) with engine lineage extras.
SUMMARY_COLS = [
    "person_id", "uuid", "visit_id", "encounter_id", "encounter_datetime",
    "encounter_type", "is_clinical_encounter", "location_id",
    "enrollment_date", "hiv_start_date", "patient_source", "weight",
    "height", "cur_arv_adherence", "pregnant", "fp_status", "fp_method",
    "why_not_on_fp", "tb_status", "side_effects", "who_stage",
    "ctx_adherence", "ctx_dispensed", "inh_dispensed",
    "other_medications_dispensed", "arvs_adherence",
    "why_arvs_adherence_poor", "pmtct_ppct", "currentregmen",
    "cd4_cd4percentage_done", "hgb_done", "rpr_done", "tb_sputum_done",
    "other_test_done", "refferal_hospitalized", "no_of_day_hospitalized",
    "breastfing_mode", "at_risk_population", "pwp_disclosure",
    "pwp_partner_tested", "condoms_dispensed", "sti_screened", "tca",
    "max_date_created",
]


def build_flat_visit_summary(
    flat_obs: DataFrame,
    flat_lab_obs: DataFrame,
    person: DataFrame,
    include_lab_rows: bool = False,
) -> DataFrame:
    """Full rebuild over all persons."""
    clinical = flat_obs.filter(
        F.col("encounter_type").isin(CLINICAL_ENCOUNTER_TYPES)
    ).select(
        "person_id", "visit_id",
        F.col("encounter_id").cast("long").alias("encounter_id"),
        "encounter_datetime", "encounter_type", "location_id", "obs_map",
        F.lit(1).alias("is_clinical_encounter"),
        "max_date_created",
    )
    staged = clinical
    if include_lab_rows:
        lab = flat_lab_obs.select(
            "person_id",
            F.lit(None).cast("int").alias("visit_id"),
            F.col("encounter_id").cast("long").alias("encounter_id"),
            F.col("test_datetime").alias("encounter_datetime"),
            "encounter_type",
            "location_id",
            "obs_map",
            F.lit(0).alias("is_clinical_encounter"),
            "max_date_created",
        )
        staged = staged.unionByName(lab)

    decoded = decode_columns(F.col("obs_map"))
    out = staged.join(
        F.broadcast(person.select("person_id", "uuid")), "person_id"
    ).select(
        "person_id", "uuid", "visit_id", "encounter_id",
        "encounter_datetime", "encounter_type", "is_clinical_encounter",
        "location_id",
        decoded["enrollment_date"].alias("enrollment_date"),
        # quirk 2 preserved: hiv_start_date := enrollment_date (:543-544)
        decoded["enrollment_date"].alias("hiv_start_date"),
        *[
            decoded[c].alias(c)
            for c in SUMMARY_COLS
            if c in decoded and c != "enrollment_date"
        ],
        "max_date_created",
    )
    return out.select(*SUMMARY_COLS)


def incremental_flat_visit_summary(
    target: DataFrame | None,
    flat_obs: DataFrame,
    flat_lab_obs: DataFrame,
    person: DataFrame,
    encounter: DataFrame,
    watermark,
    include_lab_rows: bool = False,
    obs_for_retractions: DataFrame | None = None,
    out: dict | None = None,
) -> DataFrame:
    """Sync mode: queue persons whose encounters changed or whose flat_obs
    advanced past the watermark (:86-99, U2), retract them (:117), recompute
    their whole history, REPLACE-INTO.

    ``obs_for_retractions``: the raw obs source, used to also queue persons
    whose obs were VOIDED since the watermark.  The reference's queue misses
    this change class: a void-only change retracts/recomputes the flat_obs
    row, but that row's max_date_created is the max over the SURVIVING obs
    (all before the watermark) and encounter.date_changed is untouched —
    so the person never queues and the decoded summary keeps the voided
    observation's value forever.  Fixing the intent (sync must converge to
    rebuild, I3) requires the voided-person delta here.

    Voided PERSONS are a second queue-invisible change class: flat_obs
    purges their rows on every sync, so nothing downstream of it ever
    advances their max_date_created and their summary rows would stay
    stale forever.  Like incremental_flat_orders (flat_orders_v1.0.sql
    :95-98), the merged output gets an unconditional anti-join purge of
    voided persons — convergent regardless of when the void happened.
    """
    wm = F.lit(watermark).cast("timestamp")

    def queued():
        queue = (
            encounter.filter(F.col("date_changed") > wm)
            .select(F.col("patient_id").alias("person_id"))
            .unionByName(
                flat_obs.filter(F.col("max_date_created") > wm)
                .select("person_id")
            )
        )
        if obs_for_retractions is not None:
            queue = queue.unionByName(
                obs_for_retractions.filter(
                    (F.col("voided") == 1) & (F.col("date_voided") > wm)
                ).select("person_id")
            )
        return queue.distinct()

    # Delta-key pin (see plans/_probe.pin): the queue feeds the two
    # recompute semi-joins, the month probes, and the retraction —
    # each otherwise re-deriving it from scratch (including a flat_obs
    # scan) per evaluation — and, as ``out["queue_keys"]``, the
    # engine's latest-summary merge after the stage's write.
    queue = pin(queued, out, "queue_keys")
    # Pinned across the engine's two-phase delta-scoped sync (see
    # incremental_flat_obs): the recompute is target-independent.
    recomputed = pin(
        lambda: build_flat_visit_summary(
            flat_obs.join(queue, "person_id", "left_semi"),
            flat_lab_obs.join(queue, "person_id", "left_semi"),
            person,
            include_lab_rows,
        ),
        out, "recomputed",
    )
    if out is not None and "affected_months" not in out:
        # Old rows of queued persons: person_id-keyed, so the engine's
        # [min,max] bounds prune weakly here (a month's person range is
        # wide) — candidates degrade to all months rather than below a
        # full column-pruned scan; the reference pays the same
        # secondary-index walk for its person-keyed deletes.  Their
        # pks, synthetic ones included, come from the same probe, so
        # no separate synthetic-month channel is needed.
        # replace_into also deletes by ENCOUNTER id: an encounter
        # re-pointed to a different person (patient merge) leaves its
        # old row under a person the queue never names — and possibly
        # under a different month.  Probe the old locations of every
        # recomputed encounter (bounds-pruned: encounter ids correlate
        # with storage months) so that row's month is always in the
        # superset.
        publish_retractions(
            out, target, recomputed, person,
            probes=(
                (queue, "person_id"),
                (recomputed.select("encounter_id"), "encounter_id"),
            ),
        )
    if target is not None:
        target = anti_delete(target, queue, ["person_id"])
    merged = replace_into(target, recomputed, ["encounter_id"])
    voided_person = person.filter(F.col("voided") == 1).select("person_id")
    return anti_delete(merged, voided_person, ["person_id"])
