"""Incremental flat_latest_hiv_summary merge (r10).

The 50k write probe showed the unconditional full rewrite of the
latest-summary table was the single largest share of default-path sync
write bytes (0.705 of 1.68 MB).  The merge recomputes latest rows only
for the visit-summary queue's persons; these pins cover the done
criteria:

* the merge path actually runs on a person-local delta (the
  latest-build input is the queued persons' visit rows, not the whole
  table) and the final state equals an independent full build from the
  live visit summary;
* a queued person whose recomputed history is EMPTY (every obs voided)
  loses their latest row — the delete_keys half of the merge;
* a person VOID falls back to the full-build path (unstable void set:
  the purge is queue-invisible) and still converges;
* under the partitioned (manifest) layout the merge goes through
  VersionedTable.merge_delta and REUSES untouched files (write cost
  O(files holding queued persons), not O(table)).
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

import mrsboraetl_spark.engine as eng
from mrsboraetl_spark.engine import PipelineRunner
from tests.fixtures import make_sources, to_spark


def _rows(df, drop=("obs_map",)):
    cols = sorted(c for c in df.columns if c not in drop)
    return sorted(
        map(tuple, df.toPandas()[cols].astype(str).itertuples(index=False))
    )


@pytest.fixture()
def spy(monkeypatch):
    """Record the row count fed to each build_flat_latest_hiv_summary
    call — the merge path feeds only the queued persons' visit rows."""
    calls: list[int] = []
    real = eng.build_flat_latest_hiv_summary

    def counting(vs):
        calls.append(vs.count())
        return real(vs)

    monkeypatch.setattr(eng, "build_flat_latest_hiv_summary", counting)
    return calls


def _base(spark, tmp_path, name, partitioned=True, **kw):
    pdfs = make_sources(n_persons=30, seed=7)
    obs, enc = pdfs["obs"].copy(), pdfs["encounter"].copy()
    wm = obs["date_created"].max()
    late = enc["date_changed"].notna() & (enc["date_changed"] > wm)
    enc.loc[late, "date_changed"] = wm
    pdfs = dict(pdfs, obs=obs, encounter=enc)
    r = PipelineRunner(
        spark, str(tmp_path / name), partitioned=partitioned, **kw
    )
    r.run(to_spark(spark, pdfs), mode="rebuild")
    r.run(to_spark(spark, pdfs), mode="sync")
    return r, pdfs, wm


def _new_obs_delta(pdfs, wm, days=1):
    obs = pdfs["obs"]
    cand = obs[(obs["voided"] == 0) & obs["encounter_id"].notna()].iloc[0]
    row = cand.to_dict()
    row.update(
        obs_id=int(obs["obs_id"].max()) + 1, concept_id=5089,
        value_coded=None, value_numeric=42.5,
        date_created=wm + dt.timedelta(days=days), date_voided=pd.NaT,
    )
    return dict(pdfs, obs=pd.concat(
        [obs, pd.DataFrame([row])], ignore_index=True
    )), int(cand["person_id"])


def test_latest_merge_runs_and_matches_full_build(
    spark, tmp_path, spy
):
    """Plain layout: the plan publishes queue_keys pinned (plans/_probe.pin
    pins the queue whenever it is given ``out``, with no two-phase re-run
    there), and the latest table merges through
    VersionedTable.merge_delta, as under the partitioned layout."""
    r, pdfs, wm = _base(spark, tmp_path, "plainmode", partitioned=False)
    latest0 = r.read_target("flat_latest_hiv_summary")
    n_persons_total = latest0.count()
    spy.clear()

    pdfs2, person = _new_obs_delta(pdfs, wm)
    r.run(to_spark(spark, pdfs2), mode="sync")

    # merge path: the build saw ONE person's visit rows, not the table
    vs = r.read_target("flat_visit_summary")
    n_person_rows = vs.filter(f"person_id = {person}").count()
    assert spy == [n_person_rows], (spy, n_person_rows)
    assert n_person_rows < vs.count()

    # and the state equals an independent full build from the live vs
    import mrsboraetl_spark.plans.flat_latest_hiv_summary as m

    assert _rows(r.read_target("flat_latest_hiv_summary")) == _rows(
        m.build_flat_latest_hiv_summary(vs)
    )
    assert r.read_target("flat_latest_hiv_summary").count() == (
        n_persons_total
    )


def test_latest_merge_deletes_fully_voided_person(spark, tmp_path):
    r, pdfs, wm = _base(spark, tmp_path, "delmode")
    latest0 = r.read_target("flat_latest_hiv_summary").toPandas()
    victim = int(latest0["person_id"].iloc[0])

    obs = pdfs["obs"].copy()
    mine = obs["person_id"] == victim
    assert mine.any()
    obs.loc[mine, "voided"] = 1
    obs.loc[mine, "date_voided"] = wm + dt.timedelta(days=2)
    r.run(to_spark(spark, dict(pdfs, obs=obs)), mode="sync")

    vs = r.read_target("flat_visit_summary")
    assert vs.filter(f"person_id = {victim}").count() == 0
    latest = r.read_target("flat_latest_hiv_summary").toPandas()
    assert victim not in set(latest["person_id"])
    assert len(latest) == len(latest0) - 1


def test_latest_person_void_falls_back_to_full_build(
    spark, tmp_path, spy
):
    r, pdfs, wm = _base(spark, tmp_path, "voidmode")
    latest0 = r.read_target("flat_latest_hiv_summary").toPandas()
    victim = int(latest0["person_id"].iloc[1])

    person = pdfs["person"].copy()
    mine = person["person_id"] == victim
    person.loc[mine, "voided"] = 1
    person.loc[mine, "date_voided"] = wm + dt.timedelta(days=2)
    spy.clear()
    r.run(to_spark(spark, dict(pdfs, person=person)), mode="sync")

    # unstable void set: the latest stage took the FULL-build path
    # (input = the whole live visit summary, every person)
    vs = r.read_target("flat_visit_summary")
    assert spy and spy[-1] == vs.count(), (spy, vs.count())
    latest = r.read_target("flat_latest_hiv_summary").toPandas()
    assert victim not in set(latest["person_id"])
    assert len(latest) == len(latest0) - 1


def test_latest_merge_manifest_reuses_files(
    spark, tmp_path, monkeypatch, spy
):
    """Partitioned layout: the merge commits a VersionedTable 'queue
    merge' version through merge_delta, whose build saw only the
    queued person's visit rows, and reuses untouched files."""
    # several small files so the merge has something to reuse
    monkeypatch.setattr(PipelineRunner, "_TARGET_FILE_ROWS", 4)
    r, pdfs, wm = _base(spark, tmp_path, "manmode")
    vt = r._versioned("flat_latest_hiv_summary")
    v0 = vt.version()
    spy.clear()

    pdfs2, person = _new_obs_delta(pdfs, wm)
    r.run(to_spark(spark, pdfs2), mode="sync")

    v1 = vt.version()
    assert v1 > v0
    entry = next(e for e in vt.history() if e["version"] == v1)
    assert entry["note"] == "flat_latest_hiv_summary queue merge"
    assert entry["reused_files"] > 0, entry
    assert entry["rewrote_files"] < (
        entry["reused_files"] + entry["rewrote_files"]
    ), entry

    vs = r.read_target("flat_visit_summary")
    n_person_rows = vs.filter(f"person_id = {person}").count()
    assert spy == [n_person_rows], (spy, n_person_rows)
    assert n_person_rows < vs.count()

    # state equality with an independent full build
    import mrsboraetl_spark.plans.flat_latest_hiv_summary as m

    assert _rows(r.read_target("flat_latest_hiv_summary")) == _rows(
        m.build_flat_latest_hiv_summary(vs)
    )


def test_merge_path_watermark_equals_full_path_value(
    spark, tmp_path
):
    """ADVICE r10: the merge path logs vs_wm_snapshot (max over
    flat_obs.max_date_created) for flat_latest_hiv_summary on the
    claim it equals what the full path logs (_max_ts over the visit
    summary).  Pin the equality after a merge-path sync so a future
    plan change that filters a person out of the visit summary (while
    keeping their flat_obs rows) cannot silently overstate the logged
    watermark."""
    import pyspark.sql.functions as F

    from mrsboraetl_spark.config import TABLE_VERSIONS

    r, pdfs, wm = _base(spark, tmp_path, "wmmode")
    pdfs2, _person = _new_obs_delta(pdfs, wm)
    r.run(to_spark(spark, pdfs2), mode="sync")

    vs = r.read_target("flat_visit_summary")
    fo = r.read_target("flat_obs")
    vs_max = vs.agg(F.max("max_date_created")).first()[0]
    fo_max = fo.agg(F.max("max_date_created")).first()[0]
    assert vs_max == fo_max
    logged = r.watermarks.last_update(
        TABLE_VERSIONS["flat_latest_hiv_summary"]
    )
    assert logged == vs_max


def test_latest_merge_catchup_fraction_falls_back(
    spark, tmp_path, spy, monkeypatch
):
    """_LATEST_MERGE_MAX_FRACTION: a queue covering more than the
    configured fraction of the latest table's persons (a catch-up
    sync) takes the full-build path — one window over everything beats
    per-person merge + delete there.  Forced here with fraction=-1 so
    ANY non-empty queue trips it."""
    r, pdfs, wm = _base(spark, tmp_path, "fracmode")
    monkeypatch.setattr(PipelineRunner, "_LATEST_MERGE_MAX_FRACTION", -1)
    spy.clear()

    pdfs2, person = _new_obs_delta(pdfs, wm)
    r.run(to_spark(spark, pdfs2), mode="sync")

    vs = r.read_target("flat_visit_summary")
    assert spy and spy[-1] == vs.count(), (spy, vs.count())
    import mrsboraetl_spark.plans.flat_latest_hiv_summary as m

    assert _rows(r.read_target("flat_latest_hiv_summary")) == _rows(
        m.build_flat_latest_hiv_summary(vs)
    )


def test_latest_table_honors_keep_snapshots(spark, tmp_path, monkeypatch):
    """Review finding r10: the unpartitioned manifest table's vacuum was
    hard-coded keep_last=1, silently ignoring keep_snapshots.  With
    keep_snapshots=2 the previous version of flat_latest_hiv_summary
    must survive a merge commit and stay readable (time travel), same
    contract as the partitioned tables' retained snapshots."""
    monkeypatch.setattr(PipelineRunner, "_TARGET_FILE_ROWS", 4)
    r, pdfs, wm = _base(
        spark, tmp_path, "keepmode", keep_snapshots=2
    )
    vt = r._versioned("flat_latest_hiv_summary")
    v0 = vt.version()
    rows_v0 = sorted(
        map(repr, vt.read(spark, version=v0).toPandas()
            .sort_index(axis=1).itertuples(index=False))
    )

    pdfs2, _person = _new_obs_delta(pdfs, wm)
    r.run(to_spark(spark, pdfs2), mode="sync")
    v1 = vt.version()
    assert v1 > v0
    got = sorted(
        map(repr, vt.read(spark, version=v0).toPandas()
            .sort_index(axis=1).itertuples(index=False))
    )
    assert got == rows_v0  # previous version retained and identical

    # one more sync slides the window: v0 is no longer retained, and
    # its exclusive files (the ones v1's merge replaced — everything
    # else is shared forward and must survive) are vacuumed.
    import os as _os

    from mrsboraetl_spark.sources import snapshot

    files_v0 = snapshot.files(
        vt.root, man=snapshot.load_at(vt.root, v0)
    )
    assert files_v0 and all(map(_os.path.exists, files_v0))
    pdfs3, _p = _new_obs_delta(pdfs2, wm, days=2)
    r.run(to_spark(spark, pdfs3), mode="sync")
    assert any(not _os.path.exists(p) for p in files_v0), files_v0
    live = snapshot.files(vt.root)
    assert live and all(map(_os.path.exists, live))
    with pytest.raises(ValueError, match="not retained"):
        vt.read(spark, version=v0)
