"""SparkSession factory.

Every knob is one you would also set on a 1000-executor cluster: AQE on
(runtime re-plan + skew-join handling), shuffle partitions sized to cores
locally (set to ~2-3x total cluster cores in prod), UTC session timezone so
results are stable across environments and comparable to the DuckDB oracle,
Arrow enabled for the Arrow/Pandas kernels, and a driver JIT policy sized
for the engine's main run shape: a scheduled batch in a fresh JVM, where
compiling framework code costs more CPU than the pipeline itself
(see ``DRIVER_JIT_FLAGS``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# C2 (tier-4) compile thresholds for the driver JVM, 4-10x the JDK 17
# defaults (5000 / 600 / 15000 / 40000).  A cold batch run spends most
# of its CPU compiling, not working: per-thread CPU of a cold
# partitioned rebuild (600 persons, 4 vCPUs) was 65-71 s in the C1/C2
# compiler threads (C2 56-60 s) out of 106-127 s, against 11-12 s of
# executor tasks and 19-23 s of planning, py4j and scheduler threads.
# About 80% of the compile time is tier 4, spent on framework code
# that runs only a few thousand times per session (Janino, the closure
# cleaner's ASM reader, Java serialization, Catalyst); generated row
# loops are ~3%.  Raising the tier-4 thresholds keeps C2 for code that
# is actually hot: C2 time fell to 19-22 s, and warm 20k-person
# rebuilds in one JVM kept their wall.  C1 only
# (-XX:TieredStopAtLevel=1) cuts cold CPU further but slows warm
# 20k-person rebuilds from ~28 s to 45-50 s, so tiering still reaches
# C2; ~30x thresholds saved no more CPU than 10x and slowed the wall.
DRIVER_JIT_FLAGS = {
    "Tier4InvocationThreshold": "50000",
    "Tier4MinInvocationThreshold": "6000",
    "Tier4CompileThreshold": "60000",
    "Tier4BackEdgeThreshold": "400000",
}


def get_spark(
    app_name: str = "mrsboraetl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Honours $SPARK_GRAFT_CPUS for local parallelism so the bench driver can
    pin core counts.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # Python workers are separate processes: make this package importable
    # there regardless of the caller's cwd (worker-side UDF closures are
    # pickled by value, but any by-reference global would need this too).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark's default INT96 timestamps carry NO min/max footer
        # statistics: every timestamp-filtered scan loses row-group
        # pruning, and the engine's footer-derived change signals
        # (sources/footer_stats.py) would have nothing to read.  The
        # modern physical type restores both — at 100 TB, watermark
        # range filters (`> wm`) skip whole row groups on sorted data.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Let small key sets reach the parquet scan as an In filter
        # (default threshold 10): the engine's small-delta probes push
        # up to _PROBE_ISIN_MAX keys so PK-sorted row-group statistics
        # can skip inside candidate months' files.
        .config("spark.sql.parquet.pushdown.inFilterThreshold", "100")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # r13 (guide §5): right-size the heap instead of grabbing most of
        # the box.  The old 48g default left ~44g of the heap as pages the
        # JVM reserves but never touches; G1 then grows/uncommits eden
        # across that range and every cycle faults in FRESH pages — free
        # on an idle host, but on a memory-throttled host (hypervisor
        # ballooning/bandwidth caps, the documented bench-fleet failure
        # mode) each fault storm stalls every executor thread.  Measured
        # on such a window (same box, back-to-back sessions, identical
        # plans): dedup_lsh_verified min-of-3 17.8s at 48g vs 5.5s at 16g,
        # obs_blob_pack 7.7 vs 4.9, with per-stage REST metrics showing
        # the 48g session's tasks waiting (runTime >> cpuTime) and 80%-GC
        # stages on a heap using < 3g live.  16g bounds the fault surface
        # while keeping ~8g execution memory — far above any local
        # workload here (sf0.1 inputs are MBs; broadcasts cap at 64m).
        # Production drivers size the same way: to the workload, not the
        # machine.  Env-overridable for heavy ad-hoc work.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # The driver JVM's JIT compile policy.
        # * Code cache 1g: dozens of wide codegen'd plans (blob packing,
        #   minhash, decode ladders) overflow the default 240 MB; once
        #   full the JVM stops compiling and the next query runs
        #   interpreted (measured 0.8s -> 30s on the same plan).
        # * Huge generated methods (> 8k bytecode) are excluded from JIT
        #   by default — let them compile.
        # * CICompilerCount=4: the JVM sizes its compiler pool from the
        #   visible CPUs; on a 32-CPU host 4-6 C2 threads ran at full
        #   core for a session's first minute while executor threads
        #   ran interpreted (a 28k-row broadcast-join+distinct took up
        #   to 28s wall, 0.65s once compilation settled).
        # * Tier-4 thresholds: DRIVER_JIT_FLAGS above.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing "
            "-XX:-DontCompileHugeMethods -XX:CICompilerCount=4 "
            + " ".join(f"-XX:{k}={v}" for k, v in DRIVER_JIT_FLAGS.items()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # r13 (guide §3.1/§9): allow shuffled-hash join when Spark's own
        # size conditions say a partition's build side fits — SMJ pays
        # two full sorts that SHJ skips.  Interleaved same-JVM A/B at
        # sf0.1 (drift-cancelled): join-bearing headline queries 0.91x
        # overall (join_multi_dims/dedup_minhash 0.83x, upsert 0.87x),
        # none slower beyond noise.  The AQE threshold enables the
        # runtime SMJ->SHJ rewrite only when every post-shuffle
        # partition is under 256 MB (sized with the advisory partition
        # target, guide §2.2) — at cluster scale the same gates keep SHJ
        # confined to joins whose per-partition hash map fits, so this
        # is the production default too, not a local[32] tune; both are
        # plain confs, overridable per-session via extra_conf.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "256m",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The driver's events.parquet carries TIMESTAMP(NANOS), which Spark
        # rejects by default; read as long and convert at the source wrapper.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
