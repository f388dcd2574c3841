"""Source readers: CSV/JSON round-trips with explicit schemas must
reproduce the parquet-read rows bit-for-bit (same logical table through
any interchange format)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from mrsboraetl_spark.sources.readers import read_csv_table, read_json_table


def _sample(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .limit(500)
    )


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    src = _sample(spark, sf_dir)
    path = str(tmp_path / "orders_csv")
    src.write.option("header", "true").csv(path)
    schema = T.StructType([
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
    ])
    back = read_csv_table(spark, path, schema=schema)
    assert _rows(back) == _rows(src)


def test_json_roundtrip(spark, sf_dir, tmp_path):
    src = _sample(spark, sf_dir)
    path = str(tmp_path / "orders_json")
    src.write.json(path)
    back = read_json_table(spark, path, schema=src.schema)
    assert _rows(back) == _rows(src)


def test_csv_permissive_keeps_good_rows(spark, tmp_path):
    """A malformed row must not fail the scan; good rows survive."""
    p = tmp_path / "bad.csv"
    p.write_text("a,b\n1,2\nnot_an_int,3\n4,5\n")
    schema = T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("b", T.LongType()),
    ])
    df = read_csv_table(spark, str(p), schema=schema)
    good = df.filter(F.col("a").isNotNull()).collect()
    assert {(r.a, r.b) for r in good} == {(1, 2), (4, 5)}


def test_footer_stats_match_scan_exactly(spark, tmp_path):
    """r8 (VERDICT r7 item 4): the change-signal maxes derived from
    parquet footer statistics must be BYTE-IDENTICAL to the scan's —
    including the mostly-null date_voided column and a proven all-null
    column — so the engine can answer its per-sync signal from
    metadata alone."""
    from mrsboraetl_spark.engine import PipelineRunner
    from mrsboraetl_spark.sources.footer_stats import parquet_column_maxes
    from tests.fixtures import make_sources, to_spark

    pdfs = make_sources(n_persons=20, seed=13)
    obs_pdf = pdfs["obs"].copy()
    # guarantee the sparse column has at least one non-null value
    obs_pdf.loc[obs_pdf.index[0], "date_voided"] = (
        obs_pdf["date_created"].max()
    )
    obs = to_spark(spark, dict(pdfs, obs=obs_pdf))["obs"].withColumn(
        "all_null_ts", F.lit(None).cast("timestamp")
    )
    path = str(tmp_path / "obs_src")
    obs.repartition(4).write.parquet(path)

    cols = ("date_created", "date_voided", "all_null_ts")
    got = parquet_column_maxes(path, cols)
    assert set(got) == set(cols), "every column must be footer-provable"
    df = spark.read.parquet(path)
    want = dict(zip(cols, PipelineRunner._maxes(df, *cols)))
    assert got == want, (got, want)
    assert got["all_null_ts"] is None
    assert got["date_voided"] is not None  # sparse but non-null

    # A column absent from one file (schema evolution) is withdrawn —
    # never guessed; the caller's scan fallback covers it.
    obs.drop("date_voided").limit(5).write.mode("append").parquet(path)
    got2 = parquet_column_maxes(path, cols)
    assert "date_voided" not in got2
    assert got2["date_created"] is not None


def test_engine_path_sources_equal_dataframe_sources(
    spark, tmp_path, monkeypatch
):
    """run() fed parquet PATHS must land byte-identical targets and
    signals as run() fed DataFrames of the same data — and a no-op
    sync with path sources must scan NO source column (the signal is
    answered from footers; _maxes is never called for obs/enc/orders)."""
    from mrsboraetl_spark.engine import PipelineRunner
    from tests.fixtures import make_sources, to_spark

    pdfs = make_sources(n_persons=15, seed=17)
    dfs = to_spark(spark, pdfs)
    src_paths = {}
    for name, df in dfs.items():
        p = str(tmp_path / f"src_{name}")
        df.write.parquet(p)
        src_paths[name] = p

    r_path = PipelineRunner(spark, str(tmp_path / "by_path"))
    r_path.run(src_paths, mode="rebuild")
    r_df = PipelineRunner(spark, str(tmp_path / "by_df"))
    r_df.run(dfs, mode="rebuild")
    for t in ("flat_obs", "flat_orders", "flat_visit_summary"):
        a = r_path.read_target(t).toPandas()
        b = r_df.read_target(t).toPandas()
        # map-typed obs_map is unhashable for pandas sorting; its
        # content parity is covered by the pipeline suites
        cols = sorted(c for c in a.columns if c != "obs_map")
        sa = sorted(map(repr, a[cols].itertuples(index=False)))
        sb = sorted(map(repr, b[cols].itertuples(index=False)))
        assert sa == sb, t

    # No-op sync from paths: the signal must not scan a source column.
    r_path.run(src_paths, mode="sync")  # drain stragglers
    calls: list[str] = []
    orig = PipelineRunner._maxes

    def spy(df, *cols):
        calls.append(cols)
        return orig(df, *cols)

    monkeypatch.setattr(PipelineRunner, "_maxes", staticmethod(spy))
    r_path.run(src_paths, mode="sync")
    assert calls == [], (
        f"no-op sync with path sources scanned columns: {calls}"
    )


def test_partitioned_engine_with_path_sources_noop_sync(
    spark, tmp_path, monkeypatch
):
    """The full at-scale configuration — partitioned p_month layout +
    path sources + Bloom/bounds sidecars + footer signals — must make
    a no-op sync read NOTHING: no source column scan (footer-answered
    signal), no target month directory (stage skip), no watermark
    row logged."""
    from mrsboraetl_spark.engine import PipelineRunner
    from tests.fixtures import make_sources, to_spark
    from tests.test_file_level_writes import _live_sidecar

    pdfs = make_sources(n_persons=15, seed=19)
    dfs = to_spark(spark, pdfs)
    src = {}
    for name, df in dfs.items():
        p = str(tmp_path / f"src_{name}")
        df.write.parquet(p)
        src[name] = p

    r = PipelineRunner(spark, str(tmp_path / "store"), partitioned=True)
    r.run(src, mode="rebuild")
    r.run(src, mode="sync")  # drain stragglers; signals stored
    assert _live_sidecar(r, "flat_obs"), "partitioned rebuild writes sidecars"

    maxes_calls: list = []
    months_reads: list = []
    orig_maxes = PipelineRunner._maxes
    orig_rtm = PipelineRunner.read_target_months

    def spy_maxes(df, *cols):
        maxes_calls.append(cols)
        return orig_maxes(df, *cols)

    def spy_rtm(self, table, months, **kw):
        months_reads.append((table, tuple(months)))
        return orig_rtm(self, table, months, **kw)

    monkeypatch.setattr(PipelineRunner, "_maxes", staticmethod(spy_maxes))
    monkeypatch.setattr(PipelineRunner, "read_target_months", spy_rtm)
    log_rows = r.watermarks._read().count()
    r.run(src, mode="sync")
    assert maxes_calls == [], maxes_calls
    assert months_reads == [], months_reads
    assert r.watermarks._read().count() == log_rows


def test_footer_signal_ignores_zero_row_group_file(spark, tmp_path):
    """r9 (VERDICT r8 item 6a): a zero-row parquet file (no row groups
    at all — e.g. an empty partition flushed by another writer) must
    neither crash the footer read nor perturb the signal: contributes
    nothing, exactly like the scan."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mrsboraetl_spark.engine import PipelineRunner
    from mrsboraetl_spark.sources.footer_stats import parquet_column_maxes
    from tests.fixtures import make_sources, to_spark

    pdfs = make_sources(n_persons=10, seed=23)
    obs = to_spark(spark, pdfs)["obs"]
    path = str(tmp_path / "obs_src")
    obs.write.parquet(path)

    # Land an empty file with the same schema via pyarrow (not Spark).
    schema = pq.ParquetFile(
        next(
            str(p) for p in (tmp_path / "obs_src").iterdir()
            if p.name.endswith(".parquet")
        )
    ).schema_arrow
    pq.write_table(
        pa.table({f.name: pa.array([], f.type) for f in schema}, schema=schema),
        f"{path}/part-empty.parquet",
    )

    cols = ("date_created", "date_voided")
    got = parquet_column_maxes(path, cols)
    df = spark.read.parquet(path)
    want = dict(zip(cols, PipelineRunner._maxes(df, *cols)))
    assert got.get("date_created") == want["date_created"], (got, want)


def test_footer_signal_withdraws_statless_file(spark, tmp_path):
    """r9 (VERDICT r8 item 6b): a file written WITHOUT column
    statistics (non-Spark writer, write_statistics=False) withdraws the
    column from the footer answer — the engine then falls back to the
    scan and still returns the true max, never skipping a real
    change."""
    import pyarrow.parquet as pq

    from mrsboraetl_spark.engine import PipelineRunner
    from mrsboraetl_spark.sources.footer_stats import parquet_column_maxes
    from tests.fixtures import make_sources, to_spark

    pdfs = make_sources(n_persons=10, seed=29)
    obs = to_spark(spark, pdfs)["obs"]
    path = str(tmp_path / "obs_src")
    obs.write.parquet(path)

    # Rewrite one data file with statistics stripped: the TRUE max of
    # date_created may live in this very file, so answering from the
    # remaining footers would understate the signal and skip a change.
    victim = next(
        str(p) for p in (tmp_path / "obs_src").iterdir()
        if p.name.endswith(".parquet")
    )
    tbl = pq.read_table(victim)
    pq.write_table(tbl, victim, write_statistics=False)
    # Spark's local FS keeps a .crc sidecar per file; the in-place
    # rewrite (what a real non-Spark writer replacing a file looks
    # like) invalidates it — drop it so the scan fallback can read.
    import os

    crc = os.path.join(os.path.dirname(victim), f".{os.path.basename(victim)}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    got = parquet_column_maxes(path, ("date_created", "date_voided"))
    assert "date_created" not in got, "statless chunk must withdraw the column"

    # Engine-level fallback: the signal still equals the scan's answer.
    r = PipelineRunner(spark, str(tmp_path / "store"))
    df = spark.read.parquet(path)
    sig = r._signal_maxes(path, df, "date_created")
    want = PipelineRunner._maxes(df, "date_created")
    assert sig == want and sig[0] is not None, (sig, want)


def test_footer_signal_pins_listing_against_live_writer(spark, tmp_path):
    """r9 (VERDICT r8 item 6c): the pinned-listing race.  A part-file
    that lands AFTER the consuming DataFrame resolved its file index —
    a live writer appending mid-sync — must NOT be covered by the
    signal: the stages will not process those rows this run, and a
    signal covering them would make every later sync skip them forever
    (the snapshot-before-stage ordering _signal_maxes documents)."""
    import datetime as dt

    from mrsboraetl_spark.engine import PipelineRunner
    from tests.fixtures import make_sources, to_spark

    pdfs = make_sources(n_persons=10, seed=31)
    obs = to_spark(spark, pdfs)["obs"]
    path = str(tmp_path / "obs_src")
    obs.write.parquet(path)

    df = spark.read.parquet(path)  # pins the file index
    df.inputFiles()  # force index resolution before the append
    pinned_max = PipelineRunner._maxes(df, "date_created")[0]

    late = dt.datetime(2031, 1, 1, 12, 0, 0)
    obs.limit(1).withColumn(
        "date_created", F.lit(late).cast("timestamp")
    ).write.mode("append").parquet(path)

    r = PipelineRunner(spark, str(tmp_path / "store"))
    sig = r._signal_maxes(path, df, "date_created")[0]
    assert sig == pinned_max, (sig, pinned_max)
    assert sig < late, "signal must not cover the unprocessed late file"


def test_watermark_log_read_matches_spark_spelling(spark, tmp_path):
    """``last_update`` reads flat_log with pyarrow and returns what the
    Spark aggregate over the same log collects: max(date_updated) per
    table as naive UTC, NULL rows ignored, other tables' rows ignored,
    Spark-written INT96 files included — at zero Spark jobs.  The
    fallback and epoch legs are unchanged."""
    import datetime as dt

    from mrsboraetl_spark.schemas import FLAT_LOG_SCHEMA
    from mrsboraetl_spark.sources.watermark import EPOCH, WatermarkStore

    path = str(tmp_path / "flat_log")
    ws = WatermarkStore(spark, path)
    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    ws.log_run("flat_obs", t0, dt.datetime(2024, 2, 1, 8, 30, 0, 123456))
    ws.log_run("flat_obs", t0, dt.datetime(2024, 2, 3, 0, 0, 1))
    ws.log_run("flat_obs", t0, None)
    ws.log_run("flat_orders", t0, dt.datetime(2025, 1, 1))
    ws.log_run("flat_lab_obs", t0, None)
    # a legacy Spark-written log file in INT96, holding the table max
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        spark.createDataFrame(
            [
                (t0, dt.datetime(2024, 2, 5, 23, 59, 59, 999999),
                 "flat_obs", 3),
                (t0, None, "flat_visit_summary", 1),
            ],
            FLAT_LOG_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(path)
    finally:
        spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )

    log = ws._read()
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    for table in ("flat_obs", "flat_orders"):
        want = (
            log.filter(F.col("table_name") == table)
            .agg(F.max("date_updated").alias("wm"))
            .first()["wm"]
        )
        j0 = int(dag.numTotalJobs())
        got = ws.last_update(table)
        assert int(dag.numTotalJobs()) == j0, table
        assert got == want and got.tzinfo is None, (table, got, want)
    assert ws.last_update("flat_obs") == dt.datetime(
        2024, 2, 5, 23, 59, 59, 999999
    )
    # NULL-only and absent tables fall through to fallback, then epoch
    fb = spark.createDataFrame(
        [(dt.datetime(2023, 7, 1),)], "max_date_created timestamp"
    )
    for table in ("flat_lab_obs", "flat_visit_summary", "no_such_table"):
        assert ws.last_update(table) == EPOCH, table
        assert ws.last_update(table, fallback=fb) == dt.datetime(2023, 7, 1)
    assert WatermarkStore(spark, str(tmp_path / "absent")).last_update(
        "flat_obs", fallback=fb
    ) == dt.datetime(2023, 7, 1)


def test_watermark_log_row_is_durable_before_visible(tmp_path, monkeypatch):
    """``log_run`` fsyncs its part file before the replace that makes it
    visible, and the log directory after it: a power loss can never
    leave a torn ``part-*-wmlog.parquet`` that every later
    ``_logged_max`` read would raise on.  No Spark job runs."""
    import datetime as dt
    import os

    from mrsboraetl_spark.sources.watermark import WatermarkStore

    if not os.path.isdir("/proc/self/fd"):
        pytest.skip("needs /proc/self/fd to name fsync'd descriptors")
    events: list[tuple[str, str]] = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        events.append(("fsync", os.readlink(f"/proc/self/fd/{fd}")))
        return real_fsync(fd)

    def replace(src, dst):
        events.append(("replace", os.path.realpath(src)))
        return real_replace(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    log = str(tmp_path / "flat_log")
    WatermarkStore(None, log).log_run(
        "flat_obs", dt.datetime(2024, 1, 1), None
    )
    monkeypatch.undo()

    [i] = [n for n, (kind, _p) in enumerate(events) if kind == "replace"]
    assert ("fsync", events[i][1]) in events[:i], events
    assert ("fsync", os.path.realpath(log)) in events[i + 1:], events
