"""flat_orders: orders -> one row per encounter with packed order blobs.

Reference: flat_orders_v1.0.sql (generate_flat_orders, :4-110).

Shape (:76-92): orders(voided=0, encounter_id > 0) left-joined to encounter,
grouped per encounter_id; ``orders`` = concept_ids joined with ' ## '
(bare values — the one blob the reference does NOT wrap in !!..!!),
``order_datetimes`` = ``!!concept=date(date_created)!!`` entries, both
ordered by concept_id.

Deliberate divergences (SURVEY §2.11):
* quirk 3: the reference SELECT emits ``e.location_id`` in the position the
  DDL declares ``date_activated`` — the engine names the value what it is
  (``location_id``);
* loose group-by: bare ``order_id`` under GROUP BY encounter_id is an
  arbitrary row's value in MySQL; the engine takes min(order_id);
* the two passes render order_datetimes inconsistently (full datetime at
  :66, date() at :85); the engine uses date() everywhere (the live
  new-rows pass);
* quirk 4: the reference hardcodes @last_update='1900-01-01' (incremental
  disabled); ``incremental_flat_orders`` implements the intended protocol.

Scale: one shuffle on encounter_id for the group-by; the encounter join
shares that key, so under AQE the pair plans as a single exchange reuse;
voided/new key sets broadcast when small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mrsboraetl_spark.functions.obsmap import blob_entry, packed_blob
from mrsboraetl_spark.operators.upsert import anti_delete, replace_into
from mrsboraetl_spark.plans._probe import pin, publish_retractions


def build_flat_orders(
    orders: DataFrame, encounter: DataFrame, person: DataFrame | None = None
) -> DataFrame:
    """Full rebuild (flat_orders_v1.0.sql:76-92 over all live orders)."""
    # location_id comes from the encounter side (the reference's
    # e.location_id, :64), so the orders side is pruned to its used columns.
    live = orders.filter(
        (F.col("voided") == 0) & (F.col("encounter_id") > 0)
    ).select("encounter_id", "patient_id", "order_id", "concept_id", "date_created")
    enc = encounter.select(
        "encounter_id", "encounter_datetime", "encounter_type", "location_id"
    )
    order_by = [F.col("concept_id")]
    flat = (
        live.join(enc, "encounter_id", "left")
        .groupBy("encounter_id")
        .agg(
            F.max("patient_id").alias("person_id"),
            F.min("order_id").alias("order_id"),
            F.max("encounter_datetime").alias("encounter_datetime"),
            F.max("encounter_type").alias("encounter_type"),
            F.max("location_id").alias("location_id"),
            packed_blob(F.col("concept_id").cast("string"), order_by).alias(
                "orders"
            ),
            packed_blob(
                blob_entry(
                    F.col("concept_id"),
                    F.date_format("date_created", "yyyy-MM-dd"),
                ),
                order_by,
            ).alias("order_datetimes"),
            F.max("date_created").alias("max_date_created"),
        )
        .select(
            "person_id", "encounter_id", "order_id", "encounter_datetime",
            "encounter_type", "location_id", "orders", "order_datetimes",
            "max_date_created",
        )
    )
    if person is not None:
        flat = anti_delete(
            flat, person.filter(F.col("voided") == 1).select("person_id"),
            ["person_id"],
        )
    return flat


def incremental_flat_orders(
    target: DataFrame | None,
    orders: DataFrame,
    encounter: DataFrame,
    person: DataFrame,
    watermark,
    out: dict | None = None,
) -> DataFrame:
    """The intended incremental protocol (quirk 4 fixed): retract encounters
    with voided orders (:54-56), recompute those plus encounters with new
    orders (:47-48, :90-91), REPLACE-INTO, purge voided patients (:95-98).

    ``out``: see incremental_flat_obs."""
    wm = F.lit(watermark).cast("timestamp")

    voided_keys = (
        orders.filter((F.col("voided") == 1) & (F.col("date_voided") > wm))
        .select("encounter_id")
    )
    new_keys = (
        orders.filter((F.col("voided") == 0) & (F.col("date_created") > wm))
        .select("encounter_id")
    )
    # Delta-key pin (see plans/_probe.pin): four-plus consumers per
    # sync, each otherwise re-reading the orders parquet.
    affected = pin(
        lambda: voided_keys.unionByName(new_keys).distinct(),
        out, "affected_keys",
    )
    # Pinned across the engine's two-phase delta-scoped sync (see
    # incremental_flat_obs): the recompute is target-independent.
    recomputed = pin(
        lambda: build_flat_orders(
            orders.join(affected, "encounter_id", "left_semi"), encounter
        ),
        out, "recomputed",
    )
    if out is not None and "affected_months" not in out:
        # flat_orders has no synthetic class: the retracted encounter
        # keys and the voided persons cover every differing row.
        publish_retractions(out, target, recomputed, person, keys=affected)
    if target is not None:
        target = anti_delete(target, affected, ["encounter_id"])
    merged = replace_into(target, recomputed, ["encounter_id"])
    voided_person = person.filter(F.col("voided") == 1).select("person_id")
    return anti_delete(merged, voided_person, ["person_id"])
