"""SparkSession factory.

Defaults are tuned for the local[32] test harness but every knob is the one
you would also set on a 1000-executor cluster: AQE on (runtime re-plan +
skew-join handling), shuffle partitions sized to cores locally (set to
~2-3x total cluster cores in prod), UTC session timezone so results are
stable across environments and comparable to the DuckDB oracle, and Arrow
enabled for the few Pandas-UDF operators (similarity / multimodal).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
        # Dozens of wide codegen'd plans (blob packing, minhash, decode
        # ladders) overflow the default 240 MB JIT code cache; once full the
        # JVM stops compiling and whichever query runs next executes
        # interpreted (measured 0.8s -> 30s on the same plan).  Huge
        # generated methods (> 8k bytecode) are also excluded from JIT by
        # default — let them compile.
        # CICompilerCount=4: the JVM sizes its C2 pool from the 32 visible
        # CPUs, and on this box the resulting compile storm runs 4-6 C2
        # threads at full core for the first ~minute of a session while the
        # 32 executor threads run semi-starved/interpreted — measured up to
        # 28s wall (60 JVM-CPU-s) for a 28k-row broadcast-join+distinct that
        # takes 0.65s once compilation settles.  Capping the pool at 4
        # bounds the worst observed query at ~2s with steady state intact.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing "
            "-XX:-DontCompileHugeMethods -XX:CICompilerCount=4",
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
