"""Explicit StructTypes for OpenMRS source tables and flat targets.

Source columns = exactly what the reference reads (SURVEY.md §1.1):
obs (flat_obs_v1.0.sql:76-77,117-145), encounter (:26,84-87,118-122),
orders (flat_orders_v1.0.sql:47-48,59-67), person (flat_obs_v1.0.sql:337-340).

Target schemas mirror the reference DDL (flat_obs_v1.0.sql:36-51,
flat_orders_v1.0.sql:18-32, flat_lab_obs_v1.0.sql:47-62,
flat_visit_summary_v1.0.sql:17-67, flat_latest_hiv_summary_v1.0.sql:5-20,
flat_log_v1.0.sql:2) — with one deliberate upgrade: the serialized obs blob
(`text`) becomes a first-class MapType(int -> array<string>) column
``obs_map`` alongside the byte-compatible legacy ``obs`` string rendering.
"""

from __future__ import annotations

from pyspark.sql import types as T


def _f(name: str, dtype: T.DataType, nullable: bool = True) -> T.StructField:
    return T.StructField(name, dtype, nullable)


# ---------------------------------------------------------------- sources

OBS_SCHEMA = T.StructType([
    _f("obs_id", T.LongType(), False),
    _f("person_id", T.IntegerType(), False),
    _f("encounter_id", T.IntegerType()),
    _f("obs_datetime", T.TimestampType()),
    _f("concept_id", T.IntegerType(), False),
    _f("value_coded", T.IntegerType()),
    _f("value_numeric", T.DoubleType()),
    _f("value_datetime", T.TimestampType()),
    _f("value_boolean", T.IntegerType()),
    _f("value_text", T.StringType()),
    _f("value_drug", T.IntegerType()),
    _f("value_modifier", T.StringType()),
    _f("voided", T.IntegerType(), False),
    _f("date_voided", T.TimestampType()),
    _f("date_created", T.TimestampType(), False),
])

ENCOUNTER_SCHEMA = T.StructType([
    _f("encounter_id", T.IntegerType(), False),
    _f("patient_id", T.IntegerType(), False),
    _f("visit_id", T.IntegerType()),
    _f("encounter_datetime", T.TimestampType()),
    _f("encounter_type", T.IntegerType()),
    _f("location_id", T.IntegerType()),
    _f("voided", T.IntegerType(), False),
    _f("date_changed", T.TimestampType()),
    _f("date_created", T.TimestampType(), False),
])

ORDERS_SCHEMA = T.StructType([
    _f("order_id", T.IntegerType(), False),
    _f("patient_id", T.IntegerType(), False),
    _f("encounter_id", T.IntegerType()),
    _f("concept_id", T.IntegerType(), False),
    _f("location_id", T.IntegerType()),
    _f("date_activated", T.TimestampType()),
    _f("voided", T.IntegerType(), False),
    _f("date_voided", T.TimestampType()),
    _f("date_created", T.TimestampType(), False),
])

PERSON_SCHEMA = T.StructType([
    _f("person_id", T.IntegerType(), False),
    _f("uuid", T.StringType(), False),
    _f("voided", T.IntegerType(), False),
    # When a person was voided — lets the incremental plans scope the
    # voided-person month probe to voids since the watermark
    # (plans/_probe.recently_voided); the purge itself stays
    # unconditional.  Nullable: plans fall back to probing the full
    # voided set for sources without it.
    _f("date_voided", T.TimestampType()),
])

# ---------------------------------------------------------------- targets

# Canonical engine form: MapType obs column + legacy blob rendering.
FLAT_OBS_SCHEMA = T.StructType([
    _f("person_id", T.IntegerType(), False),
    _f("visit_id", T.IntegerType()),
    _f("encounter_id", T.IntegerType(), False),
    _f("encounter_datetime", T.TimestampType()),
    _f("encounter_type", T.IntegerType()),
    _f("location_id", T.IntegerType()),
    _f("obs_map", T.MapType(T.IntegerType(), T.ArrayType(T.StringType()))),
    _f("obs", T.StringType()),
    _f("obs_datetimes", T.StringType()),
    _f("max_date_created", T.TimestampType()),
])

# quirk 3 fixed: the reference DDL declares date_activated where the SELECT
# writes e.location_id; the engine names the value what it is.
FLAT_ORDERS_SCHEMA = T.StructType([
    _f("person_id", T.IntegerType(), False),
    _f("encounter_id", T.IntegerType(), False),
    _f("order_id", T.IntegerType()),
    _f("encounter_datetime", T.TimestampType()),
    _f("encounter_type", T.IntegerType()),
    _f("location_id", T.IntegerType()),
    _f("orders", T.StringType()),
    _f("order_datetimes", T.StringType()),
    _f("max_date_created", T.TimestampType()),
])

FLAT_LAB_OBS_SCHEMA = T.StructType([
    _f("person_id", T.IntegerType(), False),
    _f("encounter_id", T.LongType(), False),  # synthetic min(obs_id)+1e8
    _f("test_datetime", T.TimestampType()),
    _f("encounter_type", T.IntegerType()),
    _f("location_id", T.IntegerType()),
    _f("obs_map", T.MapType(T.IntegerType(), T.ArrayType(T.StringType()))),
    _f("obs", T.StringType()),
    _f("encounter_ids", T.StringType()),
    _f("obs_ids", T.StringType()),
    _f("max_date_created", T.TimestampType()),
])

FLAT_LOG_SCHEMA = T.StructType([
    _f("date_created", T.TimestampType(), False),
    # NULL when the stage's source was empty at run time (mirrors the
    # reference's NULL @last_date_created) — never wall clock.
    _f("date_updated", T.TimestampType()),
    _f("table_name", T.StringType(), False),
    _f("seconds_to_complete", T.IntegerType()),
])

# 43-column visit summary, the reference DDL order
# (flat_visit_summary_v1.0.sql:17-67) plus engine lineage max_date_created.
_VS_DECODED_COLS = [
    "patient_source", "weight", "height", "cur_arv_adherence", "pregnant",
    "fp_status", "fp_method", "why_not_on_fp", "tb_status", "side_effects",
    "who_stage", "ctx_adherence", "ctx_dispensed", "inh_dispensed",
    "other_medications_dispensed", "arvs_adherence",
    "why_arvs_adherence_poor", "pmtct_ppct", "currentregmen",
    "cd4_cd4percentage_done", "hgb_done", "rpr_done", "tb_sputum_done",
    "other_test_done", "refferal_hospitalized", "no_of_day_hospitalized",
    "breastfing_mode", "at_risk_population", "pwp_disclosure",
    "pwp_partner_tested", "condoms_dispensed", "sti_screened",
]

FLAT_VISIT_SUMMARY_SCHEMA = T.StructType(
    [
        _f("person_id", T.IntegerType(), False),
        _f("uuid", T.StringType()),
        _f("visit_id", T.IntegerType()),
        _f("encounter_id", T.LongType(), False),
        _f("encounter_datetime", T.TimestampType()),
        _f("encounter_type", T.IntegerType()),
        _f("is_clinical_encounter", T.IntegerType()),
        _f("location_id", T.IntegerType()),
        _f("enrollment_date", T.TimestampType()),
        _f("hiv_start_date", T.TimestampType()),
    ]
    + [_f(c, T.StringType()) for c in _VS_DECODED_COLS]
    + [
        _f("tca", T.TimestampType()),
        _f("max_date_created", T.TimestampType()),
    ]
)

FLAT_LATEST_HIV_SUMMARY_SCHEMA = T.StructType([
    _f("person_id", T.IntegerType(), False),
    _f("uuid", T.StringType()),
    _f("encounter_datetime", T.TimestampType()),
    _f("encounter_type", T.IntegerType()),
    _f("location_id", T.IntegerType()),
    _f("enrollment_date", T.TimestampType()),
    _f("hiv_start_date", T.TimestampType()),
    _f("weight", T.StringType()),
    _f("height", T.StringType()),
    _f("currentregmen", T.StringType()),
    _f("arvs_adherence", T.StringType()),
    _f("who_stage", T.StringType()),
    _f("tb_status", T.StringType()),
])


# ------------------------------------------------------- storage layout

def p_month_of(col_name: str):
    """The storage month (engine.PipelineRunner.PARTITION_COL) of a
    row's clinical datetime: 'yyyy-MM', nulls bucketed to 'unknown'.
    Shared by the engine's partitioned writer and the incremental plans'
    affected-month derivation so the two can never disagree on which
    month a row is stored under."""
    from pyspark.sql import functions as F

    return F.coalesce(
        F.date_format(F.col(col_name), "yyyy-MM"), F.lit("unknown")
    )
