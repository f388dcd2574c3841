"""End-to-end JDBC-sourced pipeline against embedded Derby (r9, VERDICT
r8 item 1) — the reference's actual deployment shape: the five-stage
sync reading a replicated database (flat_obs_v1.0.sql:147-149), with the
change signal answered by pushed-down one-row MAX/void-state aggregates
(the reference's indexed-MAX cost model, flat_obs_v1.0.sql:63) instead
of shipping tables through the JDBC pipe.

Pins, in order:
* JdbcSource-fed run() lands row-identical targets and identical stored
  signal/fingerprint state as the parquet-path run on the same fixtures;
* a no-op sync issues ONLY one-row probe queries — the source tables
  are never resolved (read_jdbc_table is never called: no scan, no
  schema probe) and no Spark-side signal scan happens (_maxes spy);
* a post-sync append lands through the incremental path;
* an UNDATED void (voided flipped by raw SQL, date_voided left NULL) is
  caught by the pushed-down fingerprint and purged.
"""

from __future__ import annotations

import pytest

from mrsboraetl_spark.engine import PipelineRunner
from mrsboraetl_spark.sources.readers import JdbcSource

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
TABLES = ("obs", "encounter", "orders", "person")


def _rows(df):
    cols = sorted(c for c in df.columns if c != "obs_map")
    return sorted(
        map(repr, df.toPandas()[cols].itertuples(index=False))
    )


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    """Fixture sources landed twice: into Derby (JdbcSource form) and
    as parquet directories (path form), same rows."""
    from tests.fixtures import make_sources, to_spark

    root = tmp_path_factory.mktemp("jdbc_pipeline")
    url = f"jdbc:derby:{root}/db;create=true"
    pdfs = make_sources(n_persons=12, seed=37)
    dfs = to_spark(spark, pdfs)
    jdbc_src: dict = {}
    path_src: dict = {}
    for name, df in dfs.items():
        df.write.format("jdbc").option("url", url).option(
            "dbtable", name
        ).option("driver", DRIVER).mode("overwrite").save()
        p = f"{root}/pq_{name}"
        df.write.parquet(p)
        jdbc_src[name] = JdbcSource(
            url, name, properties=(("driver", DRIVER),)
        )
        path_src[name] = p
    return {"url": url, "root": str(root), "jdbc": jdbc_src, "path": path_src}


@pytest.fixture(scope="module")
def runners(spark, env):
    """Both pipelines through rebuild + a draining sync (signals
    stored); module-scoped so later tests continue the same state."""
    rj = PipelineRunner(
        spark, f"{env['root']}/store_jdbc", partitioned=True
    )
    rp = PipelineRunner(
        spark, f"{env['root']}/store_path", partitioned=True
    )
    rj.run(env["jdbc"], mode="rebuild")
    rj.run(env["jdbc"], mode="sync")
    rp.run(env["path"], mode="rebuild")
    rp.run(env["path"], mode="sync")
    return rj, rp


def test_jdbc_pipeline_matches_parquet_pipeline(spark, env, runners):
    rj, rp = runners
    for t in (
        "flat_obs", "flat_orders", "flat_lab_obs",
        "flat_visit_summary", "flat_latest_hiv_summary",
    ):
        assert _rows(rj.read_target(t)) == _rows(rp.read_target(t)), t


def test_jdbc_and_path_runs_store_identical_signal_state(env, runners):
    """The stored per-stage signals AND the person-void fingerprint
    must be byte-identical across source forms — a deployment can
    switch parquet<->JDBC without a spurious full re-sync."""
    import json

    rj, rp = runners
    with open(rj._signals_path()) as f:
        sj = json.load(f)
    with open(rp._signals_path()) as f:
        sp = json.load(f)
    assert sj == sp
    assert (
        rj._load_person_fingerprint() == rp._load_person_fingerprint()
    )
    # encounter carries no date_voided; its signal must still have the
    # date_changed class present (pushdown answered per column)
    assert any("enc_changed" in v for v in sj.values())


def test_jdbc_noop_sync_issues_only_one_row_probes(
    spark, env, runners, monkeypatch
):
    """Steady state against the replica: the sync must cost a handful
    of one-row index queries and NOTHING else — no table resolution
    (not even a schema probe), no Spark-side signal scan, no stage run,
    no watermark row."""
    from mrsboraetl_spark.sources import footer_stats, readers

    rj, _ = runners

    def boom(*a, **k):  # any table resolution = test failure
        raise AssertionError(
            "no-op sync resolved a JDBC source table"
        )

    probes: list[str] = []
    orig_max = footer_stats.jdbc_column_maxes
    orig_void = footer_stats.jdbc_person_void_state

    def spy_max(spark_, url, table, cols, *a, **k):
        probes.append(f"max:{table}")
        return orig_max(spark_, url, table, cols, *a, **k)

    def spy_void(spark_, url, table, *a, **k):
        probes.append(f"void:{table}")
        return orig_void(spark_, url, table, *a, **k)

    scans: list = []
    orig_maxes = PipelineRunner._maxes

    def spy_maxes(df, *cols):
        scans.append(cols)
        return orig_maxes(df, *cols)

    monkeypatch.setattr(readers, "read_jdbc_table", boom)
    monkeypatch.setattr(footer_stats, "jdbc_column_maxes", spy_max)
    monkeypatch.setattr(
        footer_stats, "jdbc_person_void_state", spy_void
    )
    monkeypatch.setattr(
        PipelineRunner, "_maxes", staticmethod(spy_maxes)
    )
    log_rows = rj.watermarks._read().count()
    rj.run(env["jdbc"], mode="sync")
    assert scans == [], f"no-op sync scanned columns Spark-side: {scans}"
    assert sorted(probes) == [
        "max:encounter", "max:obs", "max:orders", "void:person",
    ], probes
    assert rj.watermarks._read().count() == log_rows


def test_jdbc_incremental_append_lands(spark, env, runners):
    """A new obs row appended to the replica flows through the
    incremental path on the next sync."""
    import datetime as dt

    from pyspark.sql import functions as F

    rj, _ = runners
    obs = JdbcSource(
        env["url"], "obs", properties=(("driver", DRIVER),)
    ).load(spark)
    enc_id = 1
    late = dt.datetime(2030, 6, 1, 10, 0, 0)
    new_row = (
        obs.orderBy(F.desc("obs_id")).limit(1)
        .withColumn("obs_id", F.col("obs_id") + 1000)
        .withColumn("encounter_id", F.lit(enc_id).cast("long"))
        .withColumn("concept_id", F.lit(99999).cast(obs.schema["concept_id"].dataType))
        .withColumn("voided", F.lit(0).cast(obs.schema["voided"].dataType))
        .withColumn("date_voided", F.lit(None).cast("timestamp"))
        .withColumn("date_created", F.lit(late).cast("timestamp"))
    )
    new_row.write.format("jdbc").option("url", env["url"]).option(
        "dbtable", "obs"
    ).option("driver", DRIVER).mode("append").save()

    rj.run(env["jdbc"], mode="sync")
    row = (
        rj.read_target("flat_obs")
        .filter(F.col("encounter_id") == enc_id)
        .select("obs")
        .first()
    )
    assert row is not None and "99999" in row["obs"]


def test_jdbc_undated_void_caught_by_pushdown_fingerprint(spark, env, runners):
    """Flip a person to voided=1 via raw SQL WITHOUT setting
    date_voided: no timestamp signal moves, only the pushed-down
    fingerprint can see it — the sync must still purge the person."""
    from pyspark.sql import functions as F

    rj, _ = runners
    victim = (
        rj.read_target("flat_obs")
        .groupBy("person_id").count()
        .orderBy(F.desc("count"))
        .first()["person_id"]
    )
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(env["url"])
    try:
        st = conn.createStatement()
        st.executeUpdate(
            f'UPDATE person SET "voided" = 1'
            f' WHERE "person_id" = {int(victim)}'
        )
        st.close()
    finally:
        conn.close()

    rj.run(env["jdbc"], mode="sync")
    for t in ("flat_obs", "flat_orders", "flat_visit_summary"):
        left = (
            rj.read_target(t)
            .filter(F.col("person_id") == int(victim))
            .count()
        )
        assert left == 0, (t, left)


def test_void_signal_ignores_unvoided_stale_date(spark, tmp_path):
    """r9 review finding: an UN-voided person row carrying a stale
    non-NULL date_voided (an un-void that didn't clear the date) must
    not inflate the person_voided signal on EITHER source form — the
    signal feeds vp_cutoff ('voids dated <= this were purged'), and an
    inflated cutoff would scope a later genuine void out of the purge
    probe forever.  Both paths must also agree bit-for-bit."""
    import datetime as dt

    from pyspark.sql import types as T

    from mrsboraetl_spark.sources.footer_stats import (
        jdbc_person_void_state,
    )

    stale = dt.datetime(2035, 1, 1)
    real = dt.datetime(2024, 6, 1)
    schema = T.StructType([
        T.StructField("person_id", T.LongType()),
        T.StructField("voided", T.IntegerType()),
        T.StructField("date_voided", T.TimestampType()),
    ])
    person = spark.createDataFrame(
        [(1, 0, stale), (2, 1, real), (3, 0, None)], schema
    )
    r = PipelineRunner(spark, str(tmp_path / "store"))
    dv_scan, fp_scan = r._person_void_state(person)
    assert dv_scan == real, "stale unvoided date must not inflate dv"

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    person.write.format("jdbc").option("url", url).option(
        "dbtable", "person"
    ).option("driver", DRIVER).mode("overwrite").save()
    dv_jdbc, fp_jdbc = jdbc_person_void_state(
        spark, url, "person", {"driver": DRIVER}
    )
    assert dv_jdbc == dv_scan
    assert fp_jdbc == fp_scan


def test_jdbc_column_exists_probe(spark, env, tmp_path):
    """The zero-row schema probe that gates the void-form memo: present
    column -> True, proven-absent -> False, UNREACHABLE database ->
    None (never an exception).  The None arm is the ADVICE r9 fix: a
    transient failure hitting both the void probe and this probe in
    one sync must not read as 'column missing' — only a definite False
    (control probe reached the DB, column probe failed) may be
    memoized, so the dated form is retried after a blip."""
    from mrsboraetl_spark.sources.footer_stats import jdbc_column_exists

    assert jdbc_column_exists(
        spark, env["url"], "person", "date_voided", {"driver": DRIVER}
    ) is True
    assert jdbc_column_exists(
        spark, env["url"], "person", "no_such_column", {"driver": DRIVER}
    ) is False
    # nonexistent database without ;create=true: both probes fail to
    # connect -> unknown, NOT False
    assert jdbc_column_exists(
        spark, f"jdbc:derby:{tmp_path}/no_such_db", "person",
        "date_voided", {"driver": DRIVER},
    ) is None


def test_jdbc_snapshot_staging_single_pipe_crossing(
    spark, env, tmp_path, monkeypatch
):
    """r10 (PERF.md "Round 10: JDBC at scale"): without
    staging, a delta sync re-executes the lazy obs JDBC scan once per
    Spark ACTION (~14 table scans over the pipe).  snapshot=True must
    (a) resolve each table through the pipe AT MOST ONCE per run,
    (b) zero times on a no-op sync (lazy resolution preserved), and
    (c) land the identical state as the plain JdbcSource run."""
    import dataclasses

    from mrsboraetl_spark.sources.readers import JdbcSource as JS

    snap_src = {
        k: dataclasses.replace(v, snapshot=True)
        for k, v in env["jdbc"].items()
    }
    loads: list = []
    real_load = JS.load

    def counting_load(self, spark_):
        loads.append(self.table)
        return real_load(self, spark_)

    monkeypatch.setattr(JS, "load", counting_load)
    rs = PipelineRunner(
        spark, str(tmp_path / "store_snap"), partitioned=True
    )
    rs.run(snap_src, mode="rebuild")
    assert max(
        loads.count(t) for t in TABLES
    ) <= 1, ("a table crossed the pipe twice in one run", loads)

    loads.clear()
    rs.run(snap_src, mode="sync")  # draining sync: signals stored
    assert max((loads.count(t) for t in TABLES), default=0) <= 1, loads

    loads.clear()
    rs.run(snap_src, mode="sync")  # no-op: nothing resolves
    assert loads == [], ("no-op sync resolved a snapshot source", loads)

    # identical state to the long-lived plain-JdbcSource runner
    rj = PipelineRunner(
        spark, f"{env['root']}/store_jdbc", partitioned=True
    )
    for t in (
        "flat_obs", "flat_orders", "flat_lab_obs",
        "flat_visit_summary", "flat_latest_hiv_summary",
    ):
        assert _rows(rs.read_target(t)) == _rows(rj.read_target(t)), t


def test_jdbc_snapshot_auto_default(spark, env, tmp_path, monkeypatch):
    """r10 follow-through: ``snapshot=None`` (the constructor default)
    means AUTO — the runner stages every JDBC table it resolves, so a
    default-declared source gets the single-pipe-crossing behavior
    without opting in; ``snapshot=False`` is the explicit opt-out that
    keeps plain lazy scans (pinned via the staging write spy: the
    opt-out run never writes a _src_snapshot_ dir)."""
    import dataclasses
    import os as _os

    from mrsboraetl_spark.sources.readers import JdbcSource as JS

    assert JS(env["url"], "obs").snapshot is None  # default is AUTO

    loads: list = []
    real_load = JS.load

    def counting_load(self, spark_):
        loads.append(self.table)
        return real_load(self, spark_)

    monkeypatch.setattr(JS, "load", counting_load)
    root_auto = str(tmp_path / "store_auto")
    ra = PipelineRunner(spark, root_auto, partitioned=True)
    ra.run(env["jdbc"], mode="rebuild")  # module sources: default form
    assert max(
        loads.count(t) for t in TABLES
    ) <= 1, ("auto default did not stage: a table crossed twice", loads)
    assert any(
        e.startswith("_src_snapshot_") for e in _os.listdir(root_auto)
    ), "auto default wrote no staging copy"

    # explicit opt-out: resolution stays lazy-scan, no staging dir
    plain_src = {
        k: dataclasses.replace(v, snapshot=False)
        for k, v in env["jdbc"].items()
    }
    root_plain = str(tmp_path / "store_plain")
    rp = PipelineRunner(spark, root_plain, partitioned=True)
    rp.run(plain_src, mode="rebuild")
    assert not any(
        e.startswith("_src_snapshot_") for e in _os.listdir(root_plain)
    ), "snapshot=False still staged"
    for t in ("flat_obs", "flat_visit_summary"):
        assert _rows(ra.read_target(t)) == _rows(rp.read_target(t)), t


def test_stale_src_snapshot_dirs_swept_at_run_start(
    spark, env, tmp_path
):
    """ADVICE r10: staging copies cost disk equal to source size and
    were only ever overwritten in place — a source renamed or removed
    from the mapping left its copy behind indefinitely.  run() now
    sweeps _src_snapshot_ dirs whose key is absent from the current
    mapping; dirs for still-declared sources survive (they are the
    next resolution's overwrite target)."""
    import os as _os

    root = str(tmp_path / "store_sweep")
    r = PipelineRunner(spark, root, partitioned=True)
    r.run(env["jdbc"], mode="rebuild")
    staged = [
        e for e in _os.listdir(root) if e.startswith("_src_snapshot_")
    ]
    assert staged, "rebuild staged nothing?"

    # a leftover from a renamed source
    ghost = _os.path.join(root, "_src_snapshot_ghost")
    _os.makedirs(_os.path.join(ghost, "x"), exist_ok=True)

    r.run(env["jdbc"], mode="sync")
    assert not _os.path.exists(ghost), "stale staging dir not swept"
    for e in staged:
        assert _os.path.exists(_os.path.join(root, e)), (
            e, "live source's staging copy must survive the sweep",
        )


def test_jdbc_watermark_scoped_staging_is_o_delta(spark, tmp_path):
    """VERDICT r11 item 3: AUTO snapshot staging used to re-copy the
    FULL table per changed table per run.  With delta_key/delta_cols
    declared, a sync pushes the previous snapshot's change-column maxes
    into the JDBC WHERE and upserts only the delta into a versioned
    local snapshot.  Pins: (a) the staged row count after a 1-row
    append is O(delta), not O(table); (b) a dated in-place UPDATE
    (void) is staged and propagates; (c) the final pipeline state is
    row-identical to a parquet-path rebuild on the same post-edit
    source; (d) the snapshot itself equals the live source table."""
    import datetime as dt
    import json as _json
    import os

    from pyspark.sql import functions as F

    from tests.fixtures import make_sources, to_spark

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    pdfs = make_sources(n_persons=12, seed=37)
    dfs = to_spark(spark, pdfs)
    decl = {
        "obs": ("obs_id", ("date_created", "date_voided")),
        "encounter": ("encounter_id", ("date_created", "date_changed")),
        "orders": ("order_id", ("date_created", "date_voided")),
        # person can mutate undated (voided flip, no date) — stays on
        # the full-copy path by declaration
        "person": (None, ()),
    }
    jdbc_src = {}
    for name, df in dfs.items():
        df.write.format("jdbc").option("url", url).option(
            "dbtable", name
        ).option("driver", DRIVER).mode("overwrite").save()
        dk, dc = decl[name]
        jdbc_src[name] = JdbcSource(
            url, name, properties=(("driver", DRIVER),),
            delta_key=dk, delta_cols=dc,
        )
    rj = PipelineRunner(
        spark, f"{tmp_path}/store_jdbc", partitioned=True
    )
    rj.run(jdbc_src, mode="rebuild")

    # (a) append ONE obs row, sync: staged rows must be O(delta)
    obs = jdbc_src["obs"].load(spark)
    n_obs = obs.count()
    late = dt.datetime(2030, 6, 1, 10, 0, 0)
    new_row = (
        obs.orderBy(F.desc("obs_id")).limit(1)
        .withColumn("obs_id", F.col("obs_id") + 1000)
        .withColumn("encounter_id", F.lit(1).cast("long"))
        .withColumn(
            "concept_id",
            F.lit(99999).cast(obs.schema["concept_id"].dataType),
        )
        .withColumn(
            "voided", F.lit(0).cast(obs.schema["voided"].dataType)
        )
        .withColumn("date_voided", F.lit(None).cast("timestamp"))
        .withColumn("date_created", F.lit(late).cast("timestamp"))
    )
    new_row.write.format("jdbc").option("url", url).option(
        "dbtable", "obs"
    ).option("driver", DRIVER).mode("append").save()
    rj.run(jdbc_src, mode="sync")

    state_p = os.path.join(
        rj.root, "_src_snapshot_obs", "_delta_state.json"
    )
    with open(state_p) as f:
        st = _json.load(f)
    assert st["last_staged_rows"] is not None, "delta path must run"
    assert 0 < st["last_staged_rows"] <= 5, (
        st["last_staged_rows"], n_obs,
    )
    assert st["last_staged_rows"] < 0.05 * n_obs

    # (b) dated in-place void via raw SQL: must be staged + propagate
    victim = int(
        rj.read_target("flat_obs")
        .filter(F.col("encounter_id") == 1)
        .select("encounter_id").first()["encounter_id"]
    )
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        s = conn.createStatement()
        s.executeUpdate(
            'UPDATE obs SET "voided" = 1, "date_voided" = '
            "TIMESTAMP('2030-06-02 10:00:00') "
            'WHERE "concept_id" = 99999'
        )
        s.close()
    finally:
        conn.close()
    rj.run(jdbc_src, mode="sync")
    with open(state_p) as f:
        st2 = _json.load(f)
    assert st2["last_staged_rows"] is not None
    assert 0 < st2["last_staged_rows"] <= 5
    row = (
        rj.read_target("flat_obs")
        .filter(F.col("encounter_id") == victim)
        .select("obs").first()
    )
    assert row is None or "99999" not in (row["obs"] or ""), (
        "voided obs must be retracted"
    )

    # (d) the incremental snapshot equals the live source table
    from mrsboraetl_spark.sources.versioned import VersionedTable

    vt = VersionedTable(os.path.join(rj.root, "_src_snapshot_obs"))
    snap_ids = sorted(
        r["obs_id"] for r in vt.read(spark).select("obs_id").collect()
    )
    live_ids = sorted(
        r["obs_id"]
        for r in jdbc_src["obs"].load(spark).select("obs_id").collect()
    )
    assert snap_ids == live_ids

    # (c) row-identical to a parquet-path rebuild on post-edit source
    path_src = {}
    for name in dfs:
        p = f"{tmp_path}/pq2_{name}"
        jdbc_src[name].load(spark).write.parquet(p)
        path_src[name] = p
    rp = PipelineRunner(
        spark, f"{tmp_path}/store_path", partitioned=True
    )
    rp.run(path_src, mode="rebuild")
    for t in (
        "flat_obs", "flat_orders", "flat_lab_obs",
        "flat_visit_summary", "flat_latest_hiv_summary",
    ):
        assert _rows(rj.read_target(t)) == _rows(rp.read_target(t)), t


def test_jdbc_reconcile_catches_hard_deletes(spark, tmp_path):
    """r12 follow-on to the watermark-scoped staging: a HARD-deleted
    source row moves no change column, so the incremental snapshot
    keeps it — contractually (OpenMRS voids, it never deletes).  With
    ``reconcile=True`` the staging issues one pushed-down COUNT(*) per
    sync and full-restages on mismatch.  Pins both sides: without the
    flag the stale row persists (the documented blind spot), with it
    the snapshot reconverges to the live table."""
    import dataclasses
    import datetime as dt

    from pyspark.sql import functions as F

    from mrsboraetl_spark.sources.versioned import VersionedTable

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    df = spark.range(200).select(
        F.col("id").alias("pk"),
        (
            F.lit(dt.datetime(2024, 1, 1))
            + F.make_interval(secs=F.col("id"))
        ).alias("date_created"),
        F.lit(None).cast("timestamp").alias("date_voided"),
    )
    df.write.format("jdbc").option("url", url).option(
        "dbtable", "t1"
    ).option("driver", DRIVER).mode("overwrite").save()
    src = JdbcSource(
        url, "t1", properties=(("driver", DRIVER),),
        delta_key="pk", delta_cols=("date_created", "date_voided"),
    )
    r = PipelineRunner(spark, f"{tmp_path}/store")
    r._stage_jdbc_snapshot("t1", src, "rebuild")

    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        st.executeUpdate('DELETE FROM t1 WHERE "pk" = 7')
        st.close()
    finally:
        conn.close()

    # without reconcile: the deleted row survives in the snapshot
    out = r._stage_jdbc_snapshot("t1", src, "sync")
    assert out.filter(F.col("pk") == 7).count() == 1

    # with reconcile: count mismatch -> full restage -> row gone
    src_r = dataclasses.replace(src, reconcile=True)
    out = r._stage_jdbc_snapshot("t1", src_r, "sync")
    assert out.filter(F.col("pk") == 7).count() == 0
    assert out.count() == 199
    # and a quiet follow-up sync stays on the cheap path (no restage:
    # the versioned snapshot advances no version on a no-op)
    import os

    vt = VersionedTable(os.path.join(r.root, "_src_snapshot_t1"))
    v_before = vt.version()
    r._stage_jdbc_snapshot("t1", src_r, "sync")
    assert vt.version() == v_before


def test_delta_state_date_column_round_trips(tmp_path):
    """ADVICE r12 (low): a SQL DATE delta column's max is a
    datetime.date.  The old state codec (a) crashed json.dump outright
    on encode (date is not JSON-native), and (b) had it encoded, would
    have decoded '2020-01-01' into a datetime.datetime — making the
    `>` comparison at the next sync's max update a TypeError, crashing
    every subsequent delta sync of that source.  Pin: date, datetime,
    int, and plain-string maxes all round-trip through
    _write_delta_state/_decode_state_val to their ORIGINAL type, and
    the decoded values compare cleanly against fresh Spark-returned
    values of the same type."""
    import datetime as dt
    import json
    import os

    maxes = {
        "d_date": dt.date(2020, 1, 1),
        "d_ts": dt.datetime(2020, 1, 1, 10, 30, 0),
        "d_int": 42,
        "d_str": "abc",
        "d_null": None,
    }
    p = os.path.join(tmp_path, "_delta_state.json")
    PipelineRunner._write_delta_state(p, maxes, 5)
    with open(p) as f:
        raw = json.load(f)["maxes"]
    dec = {c: PipelineRunner._decode_state_val(v) for c, v in raw.items()}
    assert dec == maxes
    assert type(dec["d_date"]) is dt.date
    assert type(dec["d_ts"]) is dt.datetime
    # the comparison the max update performs, with Spark-typed values
    assert dt.date(2020, 2, 1) > dec["d_date"]
    assert dt.datetime(2020, 2, 1) > dec["d_ts"]


def test_jdbc_date_typed_delta_column_syncs(spark, tmp_path):
    """End-to-end half of the DATE fix: a Derby source whose
    delta_cols include a SQL DATE column must survive full-stage ->
    delta-stage -> delta-stage (the second delta sync is the one the
    old codec crashed with TypeError), with the snapshot row-identical
    to the live table."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from mrsboraetl_spark.sources.versioned import VersionedTable

    url = f"jdbc:derby:{tmp_path}/db_date;create=true"
    df = spark.range(50).select(
        F.col("id").alias("pk"),
        F.date_add(
            F.lit(dt.date(2024, 1, 1)), F.col("id").cast("int")
        ).alias("created_day"),
    )
    df.write.format("jdbc").option("url", url).option(
        "dbtable", "t1"
    ).option("driver", DRIVER).mode("overwrite").save()
    src = JdbcSource(
        url, "t1", properties=(("driver", DRIVER),),
        delta_key="pk", delta_cols=("created_day",),
    )
    r = PipelineRunner(spark, f"{tmp_path}/store_date")
    r._stage_jdbc_snapshot("t1", src, "rebuild")

    jvm = spark.sparkContext._jvm

    def append(pk, day):
        conn = jvm.java.sql.DriverManager.getConnection(url)
        try:
            st = conn.createStatement()
            st.executeUpdate(
                f'INSERT INTO t1 ("pk", "created_day") VALUES '
                f"({pk}, DATE('{day}'))"
            )
            st.close()
        finally:
            conn.close()

    append(1000, "2030-06-01")
    out = r._stage_jdbc_snapshot("t1", src, "sync")
    assert out.filter(F.col("pk") == 1000).count() == 1
    # the second delta sync exercises decoded-state > fresh-date
    # comparisons (the old crash point)
    append(1001, "2030-06-02")
    out = r._stage_jdbc_snapshot("t1", src, "sync")
    assert out.filter(F.col("pk") == 1001).count() == 1
    assert out.count() == 52
    vt = VersionedTable(os.path.join(r.root, "_src_snapshot_t1"))
    import json

    with open(os.path.join(vt.root, "_delta_state.json")) as f:
        st = json.load(f)
    assert st["last_staged_rows"] == 1
    dec = PipelineRunner._decode_state_val(st["maxes"]["created_day"])
    assert dec == dt.date(2030, 6, 2)
    assert type(dec) is dt.date
