"""Continuous five-stage pipeline: file-arrival-triggered incremental
sync as a Structured Streaming query.

The reference is run BY HAND on a cadence (README.md:4-9,
Procedure.txt:1-6: execute the six scripts in order after each source
refresh).  This module is that cadence as a native streaming program:
watch the obs source directory for newly landed files and run
``PipelineRunner.run(mode="sync")`` once per arrival batch.

Why the micro-batch DataFrame itself is only a TRIGGER and not the
sync's input: the pipeline consumes FOUR source tables whose deltas
must be observed under one consistent watermark snapshot
(engine.run's pre-stage max-timestamp snapshot); feeding one table's
stream rows in while re-reading the others would re-create exactly the
mid-sync-arrival race the snapshot exists to prevent.  The watermark
protocol already computes each stage's delta from the full current
source state, so the cheapest correct move is to re-resolve all four
directories per trigger and let the engine do what it does in batch
mode.  Delivery semantics come free from the engine's own contract:

* the sync is IDEMPOTENT (delete+reaggregate keyed on the watermark),
  so foreachBatch's at-least-once replay converges to the same state —
  effectively exactly-once without any sink coordination;
* a trigger with nothing new past the watermark is a NO-OP sync: the
  engine's stage skip writes zero bytes, and under the partitioned
  layout a stage that does run writes nothing either (a delta write
  of no months returns before staging, see engine._write).

At 100 TB the trigger stream is a metadata-only file watch (the
trigger rows are never used); each sync's cost is the incremental
plans' delta-scoped work, not the trigger batch size.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from mrsboraetl_spark.engine import PipelineRunner


def streaming_pipeline_sync(
    spark: SparkSession,
    runner: PipelineRunner,
    source_dirs: dict[str, str],
    checkpoint_dir: str,
    trigger_table: str = "obs",
    max_files_per_trigger: int = 1,
):
    """Start (and return) the streaming query: one incremental sync per
    arrival batch on ``source_dirs[trigger_table]``.

    ``source_dirs``: parquet directory per source table (keys: obs,
    encounter, orders, person).  New files appended to the trigger
    table's directory fire a sync; the other directories are re-read at
    trigger time (their changes ride along under the same watermark
    snapshot — matching the reference's "refresh everything, then run
    the scripts" operating model).  The PATHS are handed to the engine
    verbatim (r8): run() resolves each to a fresh DataFrame per trigger
    exactly as before, and additionally answers its change signal from
    parquet FOOTER statistics — so the steady-state tick of a
    long-lived pipeline (trigger fires, nothing new) reads footers plus
    nothing instead of scanning two timestamp columns of every
    source."""
    schema = spark.read.parquet(source_dirs[trigger_table]).schema
    trigger = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dirs[trigger_table])
    )

    def on_batch(batch_df, batch_id: int) -> None:
        runner.run(dict(source_dirs), mode="sync")

    return (
        trigger.writeStream.outputMode("append")
        .foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
