"""End-to-end five-stage pipeline on OpenMRS-shaped fixtures (SURVEY §5.2):
golden properties per stage, decode parity against an independent Python
oracle, and rerun/sync convergence through the PipelineRunner."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mrsboraetl_spark.config import LAB_CONCEPTS
from mrsboraetl_spark.engine import PipelineRunner
from mrsboraetl_spark.functions.decode import CODED_LADDERS
from tests.fixtures import make_sources, to_spark


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    """Run the full pipeline in rebuild mode, then a no-change sync pass
    (idempotence is asserted per-table in the tests)."""
    pdfs = make_sources(n_persons=30, seed=7)
    dfs = to_spark(spark, pdfs)
    for df in dfs.values():
        df.cache().count()

    root = str(tmp_path_factory.mktemp("pipeline"))
    runner = PipelineRunner(spark, root)
    runner.run(dfs, mode="rebuild")
    first = {
        t: runner.read_target(t).toPandas()
        for t in (
            "flat_obs", "flat_orders", "flat_lab_obs", "flat_visit_summary",
            "flat_latest_hiv_summary",
        )
    }
    runner.run(dfs, mode="sync")  # no new data -> state must not change
    return dict(runner=runner, sources=pdfs, dfs=dfs, first=first)


def test_swap_written_store_is_refused(spark, tmp_path):
    """A target a retired layout wrote, with no snapshot pointer, is
    refused with ValueError, not read as cold and quietly rebuilt.  Two
    inputs: the whole-directory swap's data files directly in
    ``<table>.parquet/`` (or in the ``.old`` a crash inside the swap
    left), and the hive-directory layout's root-level ``p_month=*``
    directories beside a demoted ``_old.*`` one."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "swap_store"
    target = root / "flat_orders.parquet"
    os.makedirs(target)
    pq.write_table(
        pa.table({"encounter_id": [1, 2]}), target / "part-00000.parquet"
    )
    demoted = root / "flat_orders.parquet.old"
    for d in (target, demoted):
        if d == demoted:
            os.replace(target, demoted)
        for partitioned in (False, True):
            with pytest.raises(ValueError, match="re-create the store"):
                PipelineRunner(spark, str(root), partitioned=partitioned)
        assert os.listdir(d) == ["part-00000.parquet"]

    hive_root = tmp_path / "hive_store"
    hive = hive_root / "flat_obs.parquet"
    for d in ("p_month=2024-01", "p_month=2024-02", "_old.2024-01"):
        os.makedirs(hive / d)
        pq.write_table(
            pa.table({"encounter_id": [1, 2]}),
            hive / d / "part-00000.parquet",
        )

    def tree():
        return sorted(
            (os.path.relpath(dp, hive_root), sorted(fs))
            for dp, _ds, fs in os.walk(hive_root)
        )

    before = tree()
    for partitioned in (False, True):
        with pytest.raises(
            ValueError, match="hive-directory layout.*re-create the store"
        ):
            PipelineRunner(spark, str(hive_root), partitioned=partitioned)
    assert tree() == before


def _sorted_rows(pdf, cols):
    return sorted(
        (tuple(str(v) for v in row) for row in pdf[cols].itertuples(index=False)),
    )


def test_sync_rerun_is_idempotent(pipeline):
    runner, first = pipeline["runner"], pipeline["first"]
    for table, before in first.items():
        after = runner.read_target(table).toPandas()
        cols = [c for c in before.columns if c != "obs_map"]
        assert _sorted_rows(after, cols) == _sorted_rows(before, cols), table


def test_flat_orders_shape(pipeline):
    orders_src = pipeline["sources"]["orders"]
    flat = pipeline["first"]["flat_orders"]
    # one row per encounter with live orders (voided persons purged)
    assert flat["encounter_id"].is_unique
    # orders blob is bare concept ids, ascending, ' ## '-joined
    row = flat[flat["orders"].str.contains(" ## ", na=False)].iloc[0]
    ids = [int(x) for x in row["orders"].split(" ## ")]
    assert ids == sorted(ids)
    live = orders_src[
        (orders_src["encounter_id"] == row["encounter_id"])
        & (orders_src["voided"] == 0)
    ]
    assert sorted(live["concept_id"].tolist()) == ids


def test_flat_lab_obs_grain_and_exclusion(pipeline):
    flat = pipeline["first"]["flat_lab_obs"]
    obs = pipeline["sources"]["obs"]
    assert (flat["encounter_type"] == 99999).all()
    # grain: one row per (person, day)
    grain = flat[["person_id", "test_datetime"]]
    assert not grain.duplicated().any()
    # TESTS ORDERED = NONE rows never reach the blob
    assert not flat["obs"].str.contains("!!1271=1107!!", regex=False).any()
    # every live lab obs person-day appears
    lab = obs[
        (obs["voided"] == 0)
        & obs["concept_id"].isin(LAB_CONCEPTS)
        & ~((obs["concept_id"] == 1271) & (obs["value_coded"] == 1107))
    ]
    expected_days = {
        (int(p), d.date()) for p, d in zip(lab["person_id"], lab["obs_datetime"])
    }
    got_days = {
        (int(p), t.date())
        for p, t in zip(flat["person_id"], flat["test_datetime"])
    }
    assert got_days == expected_days


def test_visit_summary_decode_parity(pipeline):
    """Independent Python oracle: rebuild each coded decode from the raw obs
    rows (first match in ladder order over the encounter's concept values)."""
    obs = pipeline["sources"]["obs"]
    vs = pipeline["first"]["flat_visit_summary"]
    assert len(vs) > 0
    assert set(vs["encounter_type"].unique()) <= {21, 22}

    import pandas as pd

    by_enc = {}
    for r in obs[obs["voided"] == 0].itertuples(index=False):
        if pd.notna(r.encounter_id) and pd.notna(r.value_coded):
            by_enc.setdefault(int(r.encounter_id), []).append(
                (int(r.concept_id), int(r.value_coded))
            )

    checked = 0
    for col in CODED_LADDERS:  # every coded decode ladder, not a sample
        concept, ladder, default = CODED_LADDERS[col]
        for row in vs.itertuples(index=False):
            pairs = by_enc.get(int(row.encounter_id), [])
            codes = {v for c, v in pairs if c == concept}
            expected = default
            for code, label in ladder:
                if code in codes:
                    expected = label
                    break
            got = getattr(row, col)
            got = None if got is None or isinstance(got, float) else got
            assert got == expected, (col, row.encounter_id, got, expected)
            checked += 1
    assert checked > 100


def test_visit_summary_extracted_values(pipeline):
    """weight comes from concept 6743's first value; tca/enrollment cast to
    timestamp."""
    vs = pipeline["first"]["flat_visit_summary"]
    w = vs["weight"].dropna()
    assert len(w) > 0
    assert all(40 <= float(x) <= 120 for x in w)
    assert str(vs["tca"].dtype).startswith("datetime")
    assert str(vs["enrollment_date"].dtype).startswith("datetime")
    assert vs["hiv_start_date"].equals(vs["enrollment_date"])


def test_latest_summary_one_row_per_person(pipeline):
    latest = pipeline["first"]["flat_latest_hiv_summary"]
    vs = pipeline["first"]["flat_visit_summary"]
    assert latest["person_id"].is_unique
    assert set(latest["person_id"]) == set(vs["person_id"])
    # bare columns anchor to the latest visit row
    sample = latest.iloc[0]
    person_rows = vs[vs["person_id"] == sample["person_id"]]
    latest_row = person_rows.sort_values(
        ["encounter_datetime", "encounter_id"]
    ).iloc[-1]
    assert sample["encounter_datetime"] == latest_row["encounter_datetime"]
    assert str(sample["who_stage"]) == str(latest_row["who_stage"])


def test_incremental_sync_catches_up(spark, tmp_path_factory):
    """Cold-start on pre-watermark data, then sync with the full source —
    final state must equal a fresh rebuild (I2/I3 across ALL stages).

    Exercises all three change classes, including LIVE -> VOIDED
    transitions (rows live in phase 1, voided with date_voided > watermark
    in the final state): a void-only change must reach the visit summary
    even though it advances no date_created/date_changed anywhere."""
    import datetime as _dt

    from tests.fixtures import WATERMARK

    pdfs = make_sources(n_persons=40, seed=11)

    # Victims must belong to QUIET persons — no obs/orders created and no
    # encounter changed after the watermark — so the void is the person's
    # ONLY post-watermark change and nothing else queues them.
    obs_pdf, enc_pdf, ord_pdf = pdfs["obs"], pdfs["encounter"], pdfs["orders"]
    noisy = set(obs_pdf[obs_pdf["date_created"] > WATERMARK]["person_id"])
    noisy |= set(ord_pdf[ord_pdf["date_created"] > WATERMARK]["patient_id"])
    noisy |= set(
        enc_pdf[enc_pdf["date_changed"].notna() & (enc_pdf["date_changed"] > WATERMARK)][
            "patient_id"
        ]
    )
    final_obs = obs_pdf.copy()
    victims = final_obs[
        (final_obs["voided"] == 0)
        & (final_obs["date_created"] <= WATERMARK)
        & final_obs["encounter_id"].notna()
        & final_obs["value_coded"].notna()
        & ~final_obs["person_id"].isin(noisy)
    ].head(8).index
    assert len(victims) >= 1, "no quiet person to void — enlarge fixture"
    final_obs.loc[victims, "voided"] = 1
    final_obs.loc[victims, "date_voided"] = WATERMARK + _dt.timedelta(days=2)

    # Phase-1 state: those same rows were still live.
    phase1_obs = final_obs.copy()
    phase1_obs.loc[victims, "voided"] = 0
    phase1_obs.loc[victims, "date_voided"] = None

    pdfs["obs"] = final_obs
    dfs = to_spark(spark, pdfs)

    old = dict(dfs)
    old["obs"] = to_spark(spark, {"obs": phase1_obs})["obs"].filter(
        F.col("date_created") <= F.lit(WATERMARK)
    )
    old["orders"] = dfs["orders"].filter(F.col("date_created") <= F.lit(WATERMARK))
    # Phase 1 is the world AS OF the watermark: encounters "created" later
    # must not exist yet, or the logged @last_date_created (greatest of
    # enc/obs date_created, flat_obs_v1.0.sql:26-28) would jump past the
    # sync's incoming changes and skip them — the reference's watermark
    # model assumes a CONSISTENT source snapshot.
    old["encounter"] = dfs["encounter"].filter(
        F.col("date_created") <= F.lit(WATERMARK)
    )

    root_inc = str(tmp_path_factory.mktemp("inc"))
    runner = PipelineRunner(spark, root_inc)
    runner.run(old, mode="rebuild")
    runner.run(dfs, mode="sync")

    root_full = str(tmp_path_factory.mktemp("full"))
    fresh = PipelineRunner(spark, root_full)
    fresh.run(dfs, mode="rebuild")

    for table in ("flat_obs", "flat_visit_summary", "flat_latest_hiv_summary"):
        a = runner.read_target(table).toPandas()
        b = fresh.read_target(table).toPandas()
        cols = sorted(c for c in a.columns if c != "obs_map")
        assert _sorted_rows(a, cols) == _sorted_rows(b, cols), table


def test_sync_purges_voided_person(spark, tmp_path_factory):
    """Voiding a PERSON is invisible to every incremental queue: flat_obs
    purges their rows on the next sync, so no max_date_created downstream
    ever advances and nothing queues them.  The unconditional voided-person
    purge on the merged output (same as flat_orders) must still converge
    sync to rebuild."""
    pdfs = make_sources(n_persons=40, seed=23)
    dfs = to_spark(spark, pdfs)
    root = str(tmp_path_factory.mktemp("voidp"))
    runner = PipelineRunner(spark, root)
    runner.run(dfs, mode="rebuild")
    vs = runner.read_target("flat_visit_summary").toPandas()
    assert len(vs) > 0
    victim = int(vs["person_id"].iloc[0])

    person2 = pdfs["person"].copy()
    person2.loc[person2["person_id"] == victim, "voided"] = 1
    pdfs2 = dict(pdfs)
    pdfs2["person"] = person2
    dfs2 = to_spark(spark, pdfs2)
    runner.run(dfs2, mode="sync")  # the void is the ONLY change

    for table in (
        "flat_obs", "flat_orders", "flat_visit_summary",
        "flat_latest_hiv_summary",
    ):
        after = runner.read_target(table).toPandas()
        assert victim not in set(after["person_id"].tolist()), table

    fresh = PipelineRunner(spark, str(tmp_path_factory.mktemp("voidp_full")))
    fresh.run(dfs2, mode="rebuild")
    for table in ("flat_visit_summary", "flat_latest_hiv_summary"):
        a = runner.read_target(table).toPandas()
        b = fresh.read_target(table).toPandas()
        cols = sorted(c for c in a.columns if c != "obs_map")
        assert _sorted_rows(a, cols) == _sorted_rows(b, cols), table


def test_noop_sync_skips_every_stage(spark, tmp_path_factory, monkeypatch):
    """Stage-level no-op short-circuit (VERDICT r6 item 6): when no
    source signal passed a stage's stored watermark, the stage is
    skipped outright — no plan build, no target read, no write, no
    watermark log.  A wave touching one source runs only the stages
    that consume it; a pure no-op sync reads no target at all."""
    import datetime as dt

    import pandas as pd

    pdfs = make_sources(n_persons=12, seed=31)
    obs_pdf = pdfs["obs"]
    wm = obs_pdf["date_created"].max()
    dfs = to_spark(spark, pdfs)
    root = str(tmp_path_factory.mktemp("skip"))
    runner = PipelineRunner(spark, root)
    runner.run(dfs, mode="rebuild")
    runner.run(dfs, mode="sync")  # drain watermark stragglers

    reads: list[str] = []
    orig = PipelineRunner.read_target

    def spy(self, table, **kw):
        reads.append(table)
        return orig(self, table, **kw)

    monkeypatch.setattr(PipelineRunner, "read_target", spy)

    # Pure no-op: nothing read, nothing logged.
    log_rows = runner.watermarks._read().count()
    runner.run(dfs, mode="sync")
    assert reads == [], reads
    assert runner.watermarks._read().count() == log_rows

    # Orders-only wave: only flat_orders syncs (obs-derived stages and
    # the latest rebuild — visit_summary's O(target) snapshot read
    # included — all skip).
    orders2 = pdfs["orders"].copy()
    row = orders2[orders2["voided"] == 0].iloc[0].to_dict()
    row.update(
        order_id=int(orders2["order_id"].max()) + 1,
        date_created=wm + dt.timedelta(days=2),
    )
    orders2 = pd.concat(
        [orders2, pd.DataFrame([row])], ignore_index=True
    )
    dfs2 = to_spark(spark, dict(pdfs, orders=orders2))
    reads.clear()
    runner.run(dfs2, mode="sync")
    assert set(reads) == {"flat_orders"}, reads

    # The skipped state still equals a fresh rebuild.
    fresh = PipelineRunner(spark, str(tmp_path_factory.mktemp("skip_f")))
    fresh.run(dfs2, mode="rebuild")
    for table in ("flat_orders", "flat_visit_summary"):
        a = runner.read_target(table).toPandas()
        b = fresh.read_target(table).toPandas()
        cols = sorted(c for c in a.columns if c != "obs_map")
        assert _sorted_rows(a, cols) == _sorted_rows(b, cols), table


def test_undated_person_void_defeats_skip(spark, tmp_path_factory):
    """The person-void fingerprint: flipping voided=1 WITHOUT a
    date_voided (no timestamp signal at all) must still defeat the
    stage skip and purge the person — set membership, not dates, is
    what the fingerprint tracks."""
    pdfs = make_sources(n_persons=12, seed=37)
    dfs = to_spark(spark, pdfs)
    root = str(tmp_path_factory.mktemp("fp"))
    runner = PipelineRunner(spark, root)
    runner.run(dfs, mode="rebuild")
    runner.run(dfs, mode="sync")

    vs = runner.read_target("flat_visit_summary").toPandas()
    victim = int(vs["person_id"].iloc[0])
    person2 = pdfs["person"].copy()
    person2.loc[person2["person_id"] == victim, "voided"] = 1
    # deliberately NO date_voided — the undatable void class
    dfs2 = to_spark(spark, dict(pdfs, person=person2))
    runner.run(dfs2, mode="sync")
    for table in ("flat_obs", "flat_visit_summary"):
        after = runner.read_target(table).toPandas()
        assert victim not in set(after["person_id"].tolist()), table


def test_masked_column_advance_defeats_skip(spark, tmp_path_factory):
    """The change signal is PER COLUMN (engine._signal_covered): a new
    obs whose date_created sits BELOW another change column's max (the
    fixture has person voids dated past the data watermark) must still
    defeat the skip — a single max-of-maxes would mask it and silently
    skip real work.  (Caught live by the verify harness before the
    per-column design.)"""
    import datetime as dt

    import pandas as pd

    pdfs = make_sources(n_persons=15, seed=42)
    obs_pdf = pdfs["obs"]
    wm = obs_pdf["date_created"].max()
    # Premise: some other signal column's max exceeds the new row's ts.
    others = [
        pdfs["person"]["date_voided"].max(),
        pdfs["encounter"]["date_changed"].max(),
    ]
    new_ts = wm + dt.timedelta(days=1)
    assert any(pd.notna(o) and o > new_ts for o in others), others

    dfs = to_spark(spark, pdfs)
    root = str(tmp_path_factory.mktemp("masked"))
    runner = PipelineRunner(spark, root)
    runner.run(dfs, mode="rebuild")
    runner.run(dfs, mode="sync")

    row = obs_pdf[obs_pdf["voided"] == 0].iloc[0].to_dict()
    row.update(
        obs_id=int(obs_pdf["obs_id"].max()) + 1, concept_id=5089,
        value_coded=None, value_numeric=7.5, date_created=new_ts,
    )
    pdfs2 = dict(pdfs, obs=pd.concat(
        [obs_pdf, pd.DataFrame([row])], ignore_index=True
    ))
    dfs2 = to_spark(spark, pdfs2)
    runner.run(dfs2, mode="sync")
    fresh = PipelineRunner(spark, str(tmp_path_factory.mktemp("masked_f")))
    fresh.run(dfs2, mode="rebuild")
    for table in ("flat_obs", "flat_visit_summary"):
        a = runner.read_target(table).toPandas()
        b = fresh.read_target(table).toPandas()
        cols = sorted(c for c in a.columns if c != "obs_map")
        assert _sorted_rows(a, cols) == _sorted_rows(b, cols), table


def test_crash_before_latest_write_reconciles_next_sync(
    spark, tmp_path_factory, monkeypatch
):
    """The visit-summary change signal must commit only after the
    latest-summary snapshot (its sole downstream) is written: a crash
    between the two writes would otherwise store a covered signal, so
    every later sync skips visit summary AND skips latest (inputs
    unchanged, target exists) — latest stays stale until unrelated new
    source data happens to force visit summary to run."""
    import datetime as dt

    import pandas as pd

    import mrsboraetl_spark.engine as eng

    pdfs = make_sources(n_persons=15, seed=37)
    obs_pdf = pdfs["obs"]
    wm = obs_pdf["date_created"].max()
    dfs = to_spark(spark, pdfs)
    root = str(tmp_path_factory.mktemp("crashlatest"))
    runner = PipelineRunner(spark, root)
    runner.run(dfs, mode="rebuild")
    runner.run(dfs, mode="sync")  # drain watermark stragglers

    # An obs delta that changes visit summary, with a crash injected
    # between the visit-summary write and the latest-summary write.
    row = obs_pdf[obs_pdf["voided"] == 0].iloc[0].to_dict()
    row.update(
        obs_id=int(obs_pdf["obs_id"].max()) + 1,
        date_created=wm + dt.timedelta(days=3),
        date_voided=pd.NaT,
    )
    obs2 = pd.concat([obs_pdf, pd.DataFrame([row])], ignore_index=True)
    dfs2 = to_spark(spark, dict(pdfs, obs=obs2))

    real_build = eng.build_flat_latest_hiv_summary

    def boom(vs):
        raise RuntimeError("injected crash before latest write")

    monkeypatch.setattr(eng, "build_flat_latest_hiv_summary", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        runner.run(dfs2, mode="sync")
    monkeypatch.setattr(
        eng, "build_flat_latest_hiv_summary", real_build
    )

    # Same inputs, next sync: latest must reconcile with visit summary.
    runner.run(dfs2, mode="sync")
    vs = runner.read_target("flat_visit_summary")
    latest = runner.read_target("flat_latest_hiv_summary").toPandas()
    expected = real_build(vs).toPandas()
    cols = sorted(c for c in expected.columns if c != "obs_map")
    assert _sorted_rows(latest, cols) == _sorted_rows(expected, cols)
