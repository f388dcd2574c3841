"""Watermark-scoped JDBC staging scale probe (manual tool, not a
pytest test) — r12, VERDICT r11 item 3's done criterion: "the Derby
scale probe showing staged bytes O(delta) on a 1M-row source with
row-identical pipeline output".

Builds a 1M-row Derby table, full-stages it once through
PipelineRunner._stage_jdbc_snapshot, then lands a small delta (appends
+ dated in-place updates) and re-stages: records rows and BYTES crossing
into the snapshot store per phase, the wall per phase, and verifies the
incremental snapshot is row-identical to a fresh full copy of the
post-edit table.

Usage: python tests/jdbc_delta_probe.py [n_rows] [n_delta]
Results land in PERF.md by hand.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _tree_bytes(root: str, rel_files) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for f in rel_files
    )


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_delta = int(sys.argv[2]) if len(sys.argv) > 2 else 500

    import datetime as dt

    from pyspark.sql import functions as F

    from mrsboraetl_spark.engine import PipelineRunner
    from mrsboraetl_spark.session import get_spark
    from mrsboraetl_spark.sources.readers import JdbcSource
    from mrsboraetl_spark.sources import snapshot
    from mrsboraetl_spark.sources.versioned import VersionedTable

    spark = get_spark(app_name="jdbc-delta-probe")
    root = tempfile.mkdtemp(prefix="jdbcdelta_")
    url = f"jdbc:derby:{root}/db;create=true"

    base_ts = dt.datetime(2024, 1, 1)
    src_df = spark.range(n_rows).select(
        F.col("id").alias("pk"),
        (base_ts + F.make_interval(secs=F.col("id") % 864000)).alias(
            "date_created"
        ),
        F.lit(None).cast("timestamp").alias("date_voided"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    t0 = time.perf_counter()
    src_df.write.format("jdbc").option("url", url).option(
        "dbtable", "t1"
    ).option("driver", DRIVER).option("batchsize", "5000").mode(
        "overwrite"
    ).save()
    t_load_db = round(time.perf_counter() - t0, 1)

    src = JdbcSource(
        url, "t1", properties=(("driver", DRIVER),),
        partition_column="pk", num_partitions=8,
        lower_bound=0, upper_bound=n_rows,
        delta_key="pk", delta_cols=("date_created", "date_voided"),
    )
    r = PipelineRunner(spark, os.path.join(root, "store"))
    snap = os.path.join(r.root, "_src_snapshot_t1")

    # phase 1: cold full stage
    t0 = time.perf_counter()
    r._stage_jdbc_snapshot("t1", src, "rebuild")
    t_full = round(time.perf_counter() - t0, 1)
    vt = VersionedTable(snap)
    e_full = vt.history()[-1]
    full_files = snapshot.load(snap)["months"]["data"]
    full_bytes = _tree_bytes(snap, full_files)

    # delta: n_delta appends (new pks, late dates) + n_delta dated
    # in-place voids via raw SQL.  Voids hit RECENT pks (the OpenMRS
    # shape: recent encounters get corrected/voided) so the touched-key
    # range is clustered; a uniformly-scattered update pattern touches
    # every file and the merge correctly rewrites the table locally —
    # the pipe is O(delta) either way, the file reuse is not.
    late = "TIMESTAMP('2030-06-01 10:00:00')"
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        for i in range(n_delta):
            st.executeUpdate(
                f'INSERT INTO t1 ("pk", "date_created", "date_voided",'
                f' "payload") VALUES ({n_rows + i}, {late}, NULL,'
                f" 'new-{i}')"
            )
            st.executeUpdate(
                f'UPDATE t1 SET "date_voided" = {late} WHERE "pk" = '
                f"{n_rows - 1 - 2 * i}"
            )
        st.close()
    finally:
        conn.close()

    # pipe evidence: rows the pushed-down watermark filter actually
    # fetches (the same predicate _stage_jdbc_snapshot builds from the
    # stored state)
    with open(os.path.join(snap, "_delta_state.json")) as f:
        pre_state = {
            c: r._decode_state_val(v)
            for c, v in json.load(f)["maxes"].items()
        }
    cond = None
    for c in src.delta_cols:
        s = pre_state.get(c)
        leg = (
            F.col(c).isNotNull() if s is None else F.col(c) > F.lit(s)
        )
        cond = leg if cond is None else (cond | leg)
    pipe_rows = src.load(spark).filter(cond).count()

    # phase 2: watermark-scoped sync stage
    t0 = time.perf_counter()
    r._stage_jdbc_snapshot("t1", src, "sync")
    t_delta = round(time.perf_counter() - t0, 1)
    e_delta = vt.history()[-1]
    live = snapshot.load(snap)
    new_files = [
        f for f in live["months"]["data"]
        if snapshot._epoch_of_dirname(f.split("/", 1)[0]) == live["epoch"]
    ]
    delta_bytes = _tree_bytes(snap, new_files)
    with open(os.path.join(snap, "_delta_state.json")) as f:
        staged_rows = json.load(f)["last_staged_rows"]

    # row-identical to a fresh full copy of the post-edit source
    snap_df = vt.read(spark)
    live_df = src.load(spark)
    n_snap = snap_df.count()
    n_live = live_df.count()
    diff = (
        snap_df.select("pk", "date_created", "date_voided", "payload")
        .exceptAll(
            live_df.select(
                "pk", "date_created", "date_voided", "payload"
            )
        )
        .count()
    )
    assert n_snap == n_live and diff == 0, (n_snap, n_live, diff)

    # phase 3 (r13, VERDICT r12 item 3 done-criterion): a no-op delta
    # sync's wall — the FIXED per-sync overhead with zero delta rows —
    # plus a comparison full copy, so the artifact answers "does the
    # delta path now beat the full copy on wall, not just bytes".
    t0 = time.perf_counter()
    r._stage_jdbc_snapshot("t1", src, "sync")
    t_noop = round(time.perf_counter() - t0, 1)

    # reconcile cost (r13, VERDICT r12 item 6): same no-op sync with
    # the opt-in pushed COUNT(*) — the delta is the probe's price
    import dataclasses

    src_rec = dataclasses.replace(src, reconcile=True)
    t0 = time.perf_counter()
    r._stage_jdbc_snapshot("t1", src_rec, "sync")
    t_noop_reconcile = round(time.perf_counter() - t0, 1)

    # comparison full copy of the SAME post-edit table (plain path:
    # what a source without delta_key/delta_cols pays every sync)
    src_full = dataclasses.replace(
        src, delta_key=None, delta_cols=(),
    )
    r2 = PipelineRunner(spark, os.path.join(root, "store_full"))
    t0 = time.perf_counter()
    r2._stage_jdbc_snapshot("t1f", src_full, "sync")
    t_full_copy = round(time.perf_counter() - t0, 1)

    print(json.dumps({
        "n_rows": n_rows,
        "n_delta_edits": 2 * n_delta,
        "db_load_sec": t_load_db,
        "full_stage": {
            "sec": t_full,
            "rows": e_full["rows"],
            "bytes": full_bytes,
        },
        "delta_stage": {
            "sec": t_delta,
            "pipe_rows": pipe_rows,
            "staged_rows": staged_rows,
            "new_file_bytes": delta_bytes,
            "reused_files": e_delta.get("reused_files"),
            "rewrote_files": e_delta.get("rewrote_files"),
            "probed_files": e_delta.get("probed_files"),
        },
        "bytes_ratio_full_over_delta": round(
            full_bytes / max(1, delta_bytes), 1
        ),
        "noop_delta_sync_sec": t_noop,
        "noop_delta_sync_reconcile_sec": t_noop_reconcile,
        "reconcile_probe_overhead_sec": round(
            t_noop_reconcile - t_noop, 1
        ),
        "full_copy_sync_sec": t_full_copy,
        "row_identical_to_full_copy": True,
    }, indent=2))


if __name__ == "__main__":
    main()
