"""Structured Streaming semantics the registry's complete-mode queries
can't show: watermark-driven finalization and late-data drop in append
mode, across real micro-batch boundaries (maxFilesPerTrigger=1 over a
multi-file source).

Observed Spark semantics this pins down (and the engine relies on):

* append mode emits a window exactly once, in the first batch whose
  input watermark passes the window end;
* a below-watermark row that arrives BEFORE the window's state is
  evicted may still merge (Spark's "late data may be dropped" caveat —
  the filter and the eviction use the same batch-start watermark);
* a late row arriving AFTER finalization is dropped: no resurrected
  state, no second emission for the window (the exactly-once guarantee
  downstream consumers depend on).
"""

from __future__ import annotations

import datetime as dt
import os
import time

import pytest
from pyspark.sql import functions as F

from mrsboraetl_spark.streaming import drain_to_batch

T0 = dt.datetime(2024, 3, 1, 8, 0, 0)


def _write_batch(spark, path, rows):
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    df.coalesce(1).write.mode("append").parquet(path)
    # file-source batch order follows modification time; keep it strict
    time.sleep(1.1)


def test_session_window_matches_batch_sessionize(spark, sf_dir):
    """Spark's native session_window (30-min gap) driven as a stream must
    produce the same per-user session count as the batch lag-based
    sessionization the registry hash-checks (sessionize_events).

    Boundary caveat: the batch query splits on gap > 30min (strict) while
    session_window splits on gap >= 30min — they disagree only on an
    exactly-1800s gap, which the second-granularity fixture data never
    produces.  If this ever flakes, that's the first thing to check."""
    from mrsboraetl_spark.queries import REGISTRY, table
    from mrsboraetl_spark.streaming import drain_to_batch, stream_events

    stream = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "10 days")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    sessions = drain_to_batch(stream, "complete")
    got = {
        r.user_id: r.n_sessions
        for r in sessions.groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"))
        .collect()
    }
    want = {
        r.user_id: r.n_sessions
        for r in REGISTRY["sessionize_events"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_stream_joins_match_batch(spark, sf_dir):
    """Stream-static enrichment and the time-bounded stream-stream join
    must agree with their batch equivalents on the bounded events table."""
    from mrsboraetl_spark.streaming import stream_events
    from mrsboraetl_spark.streaming.joins import (
        enrich_with_static,
        interval_stream_join,
    )
    from mrsboraetl_spark.queries import table

    ev_batch = table(spark, sf_dir, "events")
    dim = ev_batch.groupBy("user_id").agg(F.count("*").alias("user_events"))

    # stream-static
    enriched = enrich_with_static(
        stream_events(spark, sf_dir).select("event_id", "user_id"),
        dim, ["user_id"],
    )
    got = drain_to_batch(enriched, "append").collect()
    want = ev_batch.select("event_id", "user_id").join(dim, "user_id").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    # stream-stream: purchases within 1h after a signup by the same user
    def sides(df):
        s = df.filter(F.col("event_type") == "signup").select(
            F.col("user_id").alias("s_user"), F.col("ts").alias("s_ts"),
            F.col("event_id").alias("s_id"),
        )
        p = df.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
        )
        return s, p

    ss, sp = sides(stream_events(spark, sf_dir))
    stream_joined = interval_stream_join(
        ss, sp, left_key="s_user", right_key="p_user",
        left_ts="s_ts", right_ts="p_ts", within="1 HOUR",
    ).select("s_id", "p_id")
    got2 = {(r.s_id, r.p_id) for r in drain_to_batch(stream_joined, "append").collect()}
    bs, bp = sides(ev_batch)
    want2 = {
        (r.s_id, r.p_id)
        for r in bs.join(
            bp,
            (bs.s_user == bp.p_user)
            & (bp.p_ts >= bs.s_ts)
            & (bp.p_ts <= bs.s_ts + F.expr("INTERVAL 1 HOUR")),
        ).select("s_id", "p_id").collect()
    }
    assert got2 == want2
    assert len(got2) > 0


def test_append_mode_finalizes_once_and_drops_late(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    os.makedirs(src, exist_ok=True)
    m = dt.timedelta(minutes=1)
    h = dt.timedelta(hours=1)
    # batch 1: three on-time events in the 08:00 window
    _write_batch(spark, src, [
        (1, 1, T0 + 1 * m, 1.0),
        (2, 1, T0 + 5 * m, 1.0),
        (3, 2, T0 + 9 * m, 1.0),
    ])
    # batch 2: event 3h ahead -> input watermark for batch 3 becomes 10:00
    _write_batch(spark, src, [(4, 3, T0 + 3 * h, 1.0)])
    # batch 3: watermark (10:00) has passed the 08:00 window's end -> the
    # window finalizes and emits HERE.  The 08:07 row in this same batch is
    # below the watermark but its state is not yet evicted when the batch
    # starts, so it still merges (the documented "may be dropped" caveat).
    _write_batch(spark, src, [
        (5, 1, T0 + 7 * m, 99.0),
        (6, 3, T0 + 3 * h + 5 * m, 1.0),
    ])
    # batch 4: a late row AFTER finalization -> must be dropped outright;
    # the 08:00 window must NOT re-emit.
    _write_batch(spark, src, [
        (7, 1, T0 + 20 * m, 77.0),
        (8, 3, T0 + 3 * h + 10 * m, 1.0),
    ])

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sv"))
        .select(F.col("win.start").alias("start"), "n", "sv")
    )
    out = drain_to_batch(stream, "append").collect()
    # exactly one emission, for the 08:00 window only; the 11:00 window
    # never finalizes (watermark never passes noon) and never emits; the
    # post-finalization late row (77.0) is nowhere.
    assert len(out) == 1, out
    row = out[0]
    assert row.start == T0 and row.n == 4 and row.sv == 102.0, out


def test_drain_to_batch_zero_microbatches(spark, tmp_path):
    """A source with no input files produces no micro-batches; the drain
    must return an empty DataFrame with the stream's schema, not raise
    PATH_NOT_FOUND on the never-created sink directory."""
    src = tmp_path / "empty_src"
    src.mkdir()
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .parquet(str(src))
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
    )
    out = drain_to_batch(stream, output_mode="complete")
    assert out.count() == 0
    assert out.columns == ["user_id", "n"]


def test_streaming_dedup_index_matches_batch(spark, sf_dir, tmp_path):
    """Documents arriving as a file stream (one micro-batch per file)
    through the incremental LSH index must discover, across all
    micro-batches, exactly the batch operator's pair set on the full
    corpus; replaying a finished batch (marker present) is a no-op."""
    from mrsboraetl_spark.operators.dedup import minhash_lsh_pairs
    from mrsboraetl_spark.operators.lsh_index import LshBandIndex
    from mrsboraetl_spark.queries import table
    from mrsboraetl_spark.streaming.dedup import (
        stream_documents,
        streaming_dedup_pairs,
    )

    docs = table(spark, sf_dir, "documents")
    src = str(tmp_path / "docs_stream")
    # three files -> three micro-batches with maxFilesPerTrigger=1
    docs.repartition(3).write.parquet(src)

    idx = LshBandIndex(str(tmp_path / "idx"))
    pairs_path = str(tmp_path / "pairs")
    q = streaming_dedup_pairs(
        stream_documents(spark, src), idx, "doc_id", "text",
        pairs_path, str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(pairs_path).distinct().collect()
    }
    want = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    assert got == want
    # all three batch markers exist; the band table holds each doc once
    markers = os.listdir(os.path.join(idx.path, "_done"))
    assert len(markers) == 3, markers
    n_docs = docs.filter(F.col("text").isNotNull()).count()
    assert idx.bands(spark).select("doc").distinct().count() == n_docs


def test_streaming_decontaminate_matches_batch(spark, sf_dir, tmp_path):
    """Decontamination is stateless per batch, so the union of clean
    micro-batches must equal the batch operator's output exactly,
    independent of batch split; replaying a finished batch is a no-op."""
    from pyspark.sql import functions as F

    from mrsboraetl_spark.operators.decontam import decontaminate
    from mrsboraetl_spark.queries import table
    from mrsboraetl_spark.streaming.decontam import streaming_decontaminate
    from mrsboraetl_spark.streaming.dedup import stream_documents

    docs = table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 23 == 0)
    train = docs.filter(F.col("doc_id") % 23 != 0)

    src = str(tmp_path / "train_stream")
    train.repartition(3).write.parquet(src)
    clean_path = str(tmp_path / "clean")
    q = streaming_decontaminate(
        stream_documents(spark, src), eval_df, clean_path,
        str(tmp_path / "ckpt_dc"), n=4,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r.doc_id for r in spark.read.parquet(clean_path).collect()
    }
    want = {
        r.doc_id for r in decontaminate(train, eval_df, n=4).collect()
    }
    assert got == want
    assert len(got) < train.count()  # some docs were actually dropped


def test_append_sink_crash_replay_no_dup_no_loss(spark, tmp_path):
    """Exactly-once APPEND (VERDICT r5 item 3): a batch whose data wrote
    but whose snapshot flip crashed is invisible until its replay
    commits it — no loss; a replay of a committed batch is a no-op — no
    duplicate."""
    from mrsboraetl_spark.sources import snapshot
    from mrsboraetl_spark.sources.append_table import AppendOnlyTable

    table = AppendOnlyTable(str(tmp_path / "facts"))

    def batch(lo, hi):
        return spark.createDataFrame(
            [(i, f"e{i}") for i in range(lo, hi)], "id int, payload string"
        )

    assert table.append_batch(batch(0, 5), 0) is True
    assert table.append_batch(batch(5, 9), 1) is True

    # Crash window: batch 2's data landed in its staged epoch, the
    # flip never ran.
    _e, orphan = snapshot.next_epoch_dir(table.root)
    batch(9, 12).write.parquet(orphan)
    ids = {r.id for r in table.read(spark).collect()}
    assert ids == set(range(9))  # orphan invisible: no phantom reads

    # Replay of the crashed batch stages it afresh and commits it.
    assert table.append_batch(batch(9, 12), 2) is True
    ids = {r.id for r in table.read(spark).collect()}
    assert ids == set(range(12))

    # Replay of an already-committed batch: no-op, zero duplicates.
    assert table.append_batch(batch(5, 9), 1) is False
    rows = table.read(spark).collect()
    assert len(rows) == 12 and {r.id for r in rows} == set(range(12))

    # Compaction folds to one committed dir, content unchanged.
    table.compact(spark)
    assert len(table.committed()) == 1
    rows = table.read(spark).collect()
    assert len(rows) == 12 and {r.id for r in rows} == set(range(12))

    # The exactly-once contract must survive compaction: a batch whose
    # streaming checkpoint lagged its snapshot commit is replayed AFTER
    # a restart-time compact folded its directory away — the committed-
    # id ledger must still make it a no-op (review finding r6).
    assert table.append_batch(batch(5, 9), 1) is False
    rows = table.read(spark).collect()
    assert len(rows) == 12 and {r.id for r in rows} == set(range(12))


def test_compact_raises_on_a_batch_committed_after_its_read(
    spark, tmp_path, monkeypatch
):
    """A fold publishes against the epoch its read resolved: a batch
    committed between a compact's read and its replace makes the
    compact raise ConcurrentCommitError instead of overwriting the
    batch, and the batch stays readable."""
    from mrsboraetl_spark.sources.append_table import AppendOnlyTable
    from mrsboraetl_spark.sources.snapshot import ConcurrentCommitError

    table = AppendOnlyTable(str(tmp_path / "facts"))

    def batch(lo, hi):
        return spark.createDataFrame(
            [(i, f"e{i}") for i in range(lo, hi)], "id int, payload string"
        )

    table.append_batch(batch(0, 5), 0)
    table.append_batch(batch(5, 9), 1)
    real_replace = AppendOnlyTable.replace

    def append_then_replace(self, *a, **kw):
        self.append_batch(batch(9, 12), 2)
        return real_replace(self, *a, **kw)

    monkeypatch.setattr(AppendOnlyTable, "replace", append_then_replace)
    with pytest.raises(ConcurrentCommitError):
        table.compact(spark)
    monkeypatch.setattr(AppendOnlyTable, "replace", real_replace)
    assert table.committed() == ["0", "1", "2"]
    assert {r.id for r in table.read(spark).collect()} == set(range(12))


def test_streaming_append_sink_equals_source(spark, sf_dir, tmp_path):
    """Driving the sink from a real bounded file stream: the drained
    table holds exactly the source rows, once each."""
    from mrsboraetl_spark.sources.append_table import AppendOnlyTable
    from mrsboraetl_spark.streaming.append_sink import (
        streaming_exactly_once_append,
    )
    from mrsboraetl_spark.streaming.dedup import stream_documents

    from mrsboraetl_spark.queries import table as read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)
    sink_table = AppendOnlyTable(str(tmp_path / "facts"))
    q = streaming_exactly_once_append(
        stream_documents(spark, src), sink_table, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sink_table.read(spark)
    assert got.count() == docs.count()
    assert got.select("doc_id").distinct().count() == docs.count()


def test_streaming_pipeline_sync_equals_batch_rebuild(spark, tmp_path):
    """The continuous five-stage pipeline (streaming/pipeline.py): obs
    files landing in three waves each trigger an incremental sync; the
    final targets must equal a one-shot batch rebuild over the full
    sources — streaming and batch agree on complete data (I5's
    contract, applied to the WHOLE pipeline)."""
    import os

    from pyspark.sql import functions as F

    from mrsboraetl_spark.engine import PipelineRunner
    from mrsboraetl_spark.streaming.pipeline import streaming_pipeline_sync
    from tests.fixtures import make_sources, to_spark

    dfs = to_spark(spark, make_sources(n_persons=10, seed=13))
    dirs = {}
    for name in ("obs", "encounter", "orders", "person"):
        d = str(tmp_path / name)
        if name == "obs":
            # Three arrival waves split on date_created thirds: files
            # land in watermark order, like a real source refresh.
            ts = [
                r[0]
                for r in dfs["obs"]
                .select(
                    F.percentile_approx(
                        "date_created", [0.33, 0.66]
                    )
                )
                .collect()
            ][0]
            parts = [
                dfs["obs"].filter(F.col("date_created") <= F.lit(ts[0])),
                dfs["obs"].filter(
                    (F.col("date_created") > F.lit(ts[0]))
                    & (F.col("date_created") <= F.lit(ts[1]))
                ),
                dfs["obs"].filter(F.col("date_created") > F.lit(ts[1])),
            ]
            for i, p in enumerate(parts):
                p.coalesce(1).write.mode("append").parquet(d)
        else:
            dfs[name].write.parquet(d)
        dirs[name] = d

    runner = PipelineRunner(spark, str(tmp_path / "targets"))
    q = streaming_pipeline_sync(
        spark, runner, dirs, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    fresh = PipelineRunner(spark, str(tmp_path / "fresh"))
    fresh.run(dfs, mode="rebuild")
    for table in (
        "flat_obs", "flat_visit_summary", "flat_latest_hiv_summary"
    ):
        a = runner.read_target(table).toPandas()
        b = fresh.read_target(table).toPandas()
        cols = sorted(c for c in a.columns if c != "obs_map")
        sa = sorted(map(tuple, a[cols].astype(str).itertuples(index=False)))
        sb = sorted(map(tuple, b[cols].astype(str).itertuples(index=False)))
        assert sa == sb, table


def test_append_sink_auto_compacts_and_replay_survives(spark, tmp_path):
    """compact_every_n wired into the sink callable (VERDICT r6 item 7):
    directory count stays bounded as batches accrue, and a replayed
    pre-compaction batch id still no-ops AFTER its directory was folded
    away (the watermark, not the directory list, carries the
    exactly-once contract across the boundary)."""
    from mrsboraetl_spark.sources import snapshot
    from mrsboraetl_spark.sources.append_table import AppendOnlyTable
    from mrsboraetl_spark.streaming.append_sink import (
        exactly_once_append_sink,
    )

    def batch(lo, hi):
        return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")

    def epoch_dirs():
        return [
            d for d in os.listdir(table.root)
            if d.startswith(snapshot.EPOCH_PREFIX)
        ]

    table = AppendOnlyTable(str(tmp_path / "facts"))
    sink = exactly_once_append_sink(table, compact_every_n=3, compact_n_files=1)
    for i in range(7):
        sink(batch(i * 10, i * 10 + 10), i)
        # the fold triggers at >=3 committed dirs, so the listing never
        # exceeds compact_every_n
        assert len(table.committed()) <= 3, table.committed()
    # batch 6 triggered a fold: compact's own GC left only the folded
    # group's directory on disk
    assert len(table.committed()) == 1
    assert len(epoch_dirs()) == 1, epoch_dirs()

    got = table.read(spark)
    assert got.count() == 70
    assert got.select("id").distinct().count() == 70

    # Replay EVERY prior batch id through the sink (checkpoint-recovery
    # storm): all no-op — no dup, no loss, no re-compaction churn.
    before = table.committed()
    for i in range(7):
        sink(batch(i * 10, i * 10 + 10), i)
    assert table.committed() == before
    assert table.read(spark).count() == 70

    # A fresh id after the storm appends normally.
    sink(batch(70, 75), 7)
    assert table.read(spark).count() == 75
    # every committed group lives in its own epoch dir; no other is left
    assert len(epoch_dirs()) == len(table.committed()) == 2


def test_append_batch_keeps_one_history_file(spark, tmp_path):
    """Without compaction each append still GCs after its flip: one
    ``_snap_*.json`` history file stays (not one per micro-batch, each
    naming every group), and a dead crash orphan is swept."""
    from mrsboraetl_spark.sources import snapshot
    from mrsboraetl_spark.sources.append_table import AppendOnlyTable

    table = AppendOnlyTable(str(tmp_path / "facts"))
    # a crashed attempt's staging, older than the orphan age gate
    _e, orphan = snapshot.next_epoch_dir(table.root)
    spark.range(0, 2).write.parquet(orphan)
    old = os.path.getmtime(orphan) - snapshot._SCRATCH_ORPHAN_SECONDS - 60
    os.utime(orphan, (old, old))

    for i in range(4):
        assert table.append_batch(spark.range(i * 3, i * 3 + 3), i) is True
    hist = [
        f for f in os.listdir(table.root)
        if f.startswith("_snap_") and f.endswith(".json")
    ]
    assert len(hist) == 1, hist
    assert not os.path.exists(orphan)
    assert len(table.committed()) == 4
    assert {r.id for r in table.read(spark).collect()} == set(range(12))


def test_append_batch_syncs_data_and_pointer_before_it_returns(
    spark, tmp_path, monkeypatch
):
    """Durability: before append_batch returns, the staged data files,
    the staged directory and the pointer contents were fsync'd ahead of
    the pointer replace, and the table directory after it — compact's
    GC can then never leave a durable pointer naming unwritten pages."""
    from mrsboraetl_spark.sources import snapshot
    from mrsboraetl_spark.sources.append_table import AppendOnlyTable

    if not os.path.isdir("/proc/self/fd"):
        pytest.skip("needs /proc/self/fd to name fsync'd descriptors")
    table = AppendOnlyTable(str(tmp_path / "facts"))
    df = spark.range(0, 4).selectExpr("id", "id * 2 AS v")
    events: list[tuple[str, str]] = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        events.append(("fsync", os.readlink(f"/proc/self/fd/{fd}")))
        return real_fsync(fd)

    def replace(src, dst):
        events.append(("replace", os.path.realpath(dst)))
        return real_replace(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    assert table.append_batch(df, 0) is True
    monkeypatch.undo()

    root = os.path.realpath(table.root)
    ptr = os.path.join(root, snapshot.SNAPSHOT_FILE)
    staged = [os.path.realpath(p) for p in snapshot.files(table.root)]
    assert staged and table.committed() == ["0"]
    i_ptr = events.index(("replace", ptr))
    before = {p for kind, p in events[:i_ptr] if kind == "fsync"}
    assert set(staged) <= before, (staged, before)
    assert os.path.dirname(staged[0]) in before
    assert ptr + ".tmp" in before
    assert ("fsync", root) in events[i_ptr + 1:]


def test_append_table_refuses_legacy_manifest(tmp_path):
    """A directory holding the retired layout's ``_manifest.json`` and
    no snapshot pointer is refused at construction — never read as an
    empty table."""
    from mrsboraetl_spark.sources.append_table import AppendOnlyTable

    root = tmp_path / "facts"
    root.mkdir()
    (root / "_manifest.json").write_text(
        '{"batches": ["0"], "max_committed_id": 0}'
    )
    with pytest.raises(ValueError, match="_manifest.json"):
        AppendOnlyTable(str(root))


def test_streaming_pipeline_sync_manifest_mode_crash_and_gc(
    spark, tmp_path, monkeypatch
):
    """VERDICT r10 item 4: the continuous five-stage drain composed
    with the manifest layout (the recommended production pair).  Pins:

    * final state after a three-wave drain onto a manifest-mode runner
      is row-identical to a one-shot batch rebuild;
    * a tick CRASHING at the snapshot flip fails that micro-batch, the
      table stays on the old snapshot, and restarting the query on the
      same checkpoint replays the batch (at-least-once trigger +
      idempotent sync = exactly-once state);
    * GC holds under the drain: after all ticks, every epoch-dir file
      on disk is referenced by the live snapshot (no orphan
      accumulation across ticks or from the crashed one)."""
    import os

    from pyspark.sql import functions as F

    from mrsboraetl_spark.engine import PipelineRunner
    from mrsboraetl_spark.sources import snapshot
    from mrsboraetl_spark.streaming.pipeline import streaming_pipeline_sync
    from tests.fixtures import make_sources, to_spark

    dfs = to_spark(spark, make_sources(n_persons=10, seed=13))
    ts = [
        r[0]
        for r in dfs["obs"]
        .select(F.percentile_approx("date_created", [0.33, 0.66]))
        .collect()
    ][0]

    # CONSISTENT point-in-time waves: every source (not just obs) is
    # split on the same date_created thresholds — the fixture creates
    # an encounter's obs/orders with the encounter's own date_created,
    # so wave k is exactly a replica snapshot at T_k.  Splitting obs
    # alone would ship encounters "from the future" in wave 1, push the
    # logged watermark (max over obs AND encounter creations) past the
    # later obs waves, and the engine would — correctly, per its
    # documented no-backdating assumption (the reference's
    # refresh-then-run model) — never ingest them.
    def wave(df, k):
        cond = F.col("date_created") <= F.lit(ts[k]) if k < 2 else (
            F.col("date_created") > F.lit(ts[1])
        )
        if k == 1:
            cond = (F.col("date_created") > F.lit(ts[0])) & cond
        return df.filter(cond)

    dirs = {}
    for name in ("obs", "encounter", "orders", "person"):
        d = str(tmp_path / name)
        if name == "person":
            dfs[name].write.parquet(d)
        else:
            # wave 1 only — later waves land BETWEEN ticks, so each
            # tick is a genuinely incremental manifest sync (landing
            # everything up front makes ticks 2-3 no-op skips: the
            # trigger batch is only a trigger, the sync reads dirs)
            wave(dfs[name], 0).coalesce(1).write.mode(
                "append"
            ).parquet(d)
        dirs[name] = d

    def land(k):
        # refresh-then-run: the non-trigger tables land BEFORE the obs
        # file whose arrival fires the tick
        for name in ("encounter", "orders", "obs"):
            wave(dfs[name], k).coalesce(1).write.mode(
                "append"
            ).parquet(dirs[name])

    runner = PipelineRunner(
        spark, str(tmp_path / "targets"), partitioned=True,
    )

    # crash the SECOND tick's flat_obs flip (first tick cold-builds)
    real_flip = snapshot.flip
    state = {"flips": 0, "armed": True}

    def crashing_flip(table_dir, man, **kw):
        if "flat_obs.parquet" in table_dir:
            state["flips"] += 1
            if state["flips"] == 2 and state["armed"]:
                state["armed"] = False
                raise RuntimeError("injected crash mid-tick")
        return real_flip(table_dir, man, **kw)

    monkeypatch.setattr(
        snapshot, "flip", crashing_flip
    )
    ckpt = str(tmp_path / "ckpt")
    q = streaming_pipeline_sync(spark, runner, dirs, ckpt)
    q.processAllAvailable()  # tick 1: cold build (flip 1)
    assert state["flips"] == 1, state

    # wave 2 lands; its tick crashes AT the flat_obs flip.  A
    # foreachBatch failure terminates the query; depending on timing
    # processAllAvailable either raises or returns with the error held
    # on the query handle — accept both, require the injected cause.
    land(1)
    try:
        q.processAllAvailable()
    except Exception as e:  # noqa: BLE001 - injected failure path
        exc_text = str(e)
    else:
        exc_text = str(q.exception() or "")
    q.stop()
    assert "injected crash" in exc_text, exc_text
    assert state["flips"] == 2, state

    # the crashed tick published nothing: flat_obs is still tick 1's
    # snapshot — the flip is all-or-nothing
    rows_t1 = runner.read_target("flat_obs").count()
    wm_t1 = runner.read_target("flat_obs").agg(
        F.max("max_date_created")
    ).first()[0]
    assert wm_t1 <= ts[0], (wm_t1, ts)

    # restart on the same checkpoint: the failed batch replays (at-
    # least-once) and converges; wave 3 then drains as a normal tick
    q2 = streaming_pipeline_sync(spark, runner, dirs, ckpt)
    try:
        q2.processAllAvailable()
        assert runner.read_target("flat_obs").count() >= rows_t1
        land(2)
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert state["flips"] >= 4, state

    fresh = PipelineRunner(spark, str(tmp_path / "fresh"))
    fresh.run(dfs, mode="rebuild")
    for table in (
        "flat_obs", "flat_visit_summary", "flat_latest_hiv_summary"
    ):
        a = runner.read_target(table).toPandas()
        b = fresh.read_target(table).toPandas()
        cols = sorted(c for c in a.columns if c != "obs_map")
        sa = sorted(map(tuple, a[cols].astype(str).itertuples(index=False)))
        sb = sorted(map(tuple, b[cols].astype(str).itertuples(index=False)))
        assert sa == sb, table

    # GC under the drain, under the r13 concurrent-writer carve-out
    # (snapshot.gc): every file a completed flip ever PUBLISHED
    # and then replaced is swept immediately (the old contract), while
    # a never-flipped staging dir — here, the crashed tick's
    # uuid-suffixed epoch dir — is age-gated for _SCRATCH_ORPHAN_SECONDS
    # so GC cannot destroy a live concurrent runner's half-written
    # staging.  Pin both halves: (1) any on-disk extra beyond the live
    # snapshot's references lives in a NEVER-FLIPPED staging dir (no
    # published-file leak through the drain or the crash); (2) once the
    # age gate lapses, one sweep removes them and disk == referenced
    # exactly.
    import json as _json

    def disk_vs_referenced(table):
        base = runner._path(table)
        with open(os.path.join(base, snapshot.SNAPSHOT_FILE)) as f:
            raw = _json.load(f)
        months = snapshot._resolve(base, raw["months"])
        referenced = {rp for fl in months.values() for rp in fl}
        referenced |= set(raw.get("aux", {}).values())
        on_disk = set()
        for entry in os.listdir(base):
            if entry.startswith(snapshot.EPOCH_PREFIX):
                for root, _d, files in os.walk(
                    os.path.join(base, entry)
                ):
                    for fn in files:
                        on_disk.add(os.path.relpath(
                            os.path.join(root, fn), base
                        ))
        return on_disk, referenced

    tables_gc = ("flat_obs", "flat_orders", "flat_visit_summary",
                 "flat_lab_obs")
    flipped_dirs: dict[str, set[str]] = {}
    for table in tables_gc:
        on_disk, referenced = disk_vs_referenced(table)
        assert referenced <= on_disk, (table, referenced - on_disk)
        flipped_dirs[table] = {rp.split("/", 1)[0] for rp in referenced}
        for rp in on_disk - referenced:
            # extras only in never-flipped staging dirs: nothing a flip
            # published may outlive its replacement un-referenced
            assert rp.split("/", 1)[0] not in flipped_dirs[table], (
                table, rp
            )
    # age gate lapsed -> the orphaned stagings are provably dead and one
    # sweep restores exact disk == referenced
    monkeypatch.setattr(snapshot, "_SCRATCH_ORPHAN_SECONDS", -1.0)
    for table in tables_gc:
        snapshot.gc(runner._path(table), keep=runner.keep_snapshots)
        on_disk, referenced = disk_vs_referenced(table)
        assert on_disk == referenced, (table, on_disk ^ referenced)
