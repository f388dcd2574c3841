"""File-level delta writes inside months (r9, VERDICT r8 item 2): a
sync whose delta is month-LOCAL must rewrite only the PK-clustered
files whose recorded key bounds intersect the changed-key set, carrying
every untouched file forward as a snapshot entry — write I/O scales
with touched FILES, not touched months (the partitioned-layout lift of
VersionedTable.merge_delta's per-file accounting,
sources/versioned.py:236-252; the reference's REPLACE INTO cost model
is per-row, flat_obs_v1.0.sql:115).

The snapshot flip stays the unit of atomicity; its crash contract
(widened sidecar before the flip, exact after) is pinned in
tests/test_manifest_layout.py::test_manifest_crash_at_flip_keeps_contract.
"""

from __future__ import annotations

import datetime as dt
import os


from mrsboraetl_spark.engine import PipelineRunner
from mrsboraetl_spark.sources import snapshot


def _mk_state(
    spark, tmp_path, monkeypatch, n_persons=120, seed=43, file_rows=4,
    **runner_kw,
):
    """Partitioned pipeline with several files per month (small
    maxRecordsPerFile) through rebuild + a draining sync.
    ``runner_kw`` forwards runner options (keep_snapshots, ...;
    ``partitioned=False`` for the plain layout)."""
    from tests.fixtures import make_sources, to_spark

    monkeypatch.setattr(PipelineRunner, "_TARGET_FILE_ROWS", file_rows)
    pdfs = make_sources(n_persons=n_persons, seed=seed)
    # Clamp date_changed stragglers so a later delta is ONLY what the
    # test injects.
    enc = pdfs["encounter"].copy()
    wm = pdfs["obs"]["date_created"].max()
    late = enc["date_changed"].notna() & (enc["date_changed"] > wm)
    enc.loc[late, "date_changed"] = wm
    pdfs = dict(pdfs, encounter=enc)
    dfs = to_spark(spark, pdfs)
    r = PipelineRunner(
        spark, str(tmp_path / "store"), **{"partitioned": True, **runner_kw}
    )
    r.run(dfs, mode="rebuild")
    r.run(dfs, mode="sync")
    return r, pdfs


def _small_delta(pdfs):
    """One new obs on ONE existing encounter -> a delta confined to a
    single (person, month).  The encounter is picked from the MODAL
    storage month so the affected month holds several files and the
    file-level claim is non-vacuous."""
    import pandas as pd

    obs = pdfs["obs"]
    enc = pdfs["encounter"]
    wm = obs["date_created"].max()
    month = enc["encounter_datetime"].dt.strftime("%Y-%m")
    modal_ids = set(
        enc[month == month.mode().iloc[0]]["encounter_id"]
    )
    cand = obs[
        (obs["voided"] == 0) & obs["encounter_id"].isin(modal_ids)
    ].iloc[0]
    row = cand.to_dict()
    row.update(
        obs_id=int(obs["obs_id"].max()) + 1,
        concept_id=5089,
        value_coded=None,
        value_numeric=7.5,
        date_created=wm + dt.timedelta(days=1),
    )
    return dict(pdfs, obs=pd.concat(
        [obs, pd.DataFrame([row])], ignore_index=True
    ))


def _file_map(runner, table):
    """{month: {relpath: (inode, mtime, size)}} of the live snapshot of
    a partitioned target."""
    base = runner._path(table)
    out: dict = {}
    for m, files in snapshot.load(runner._path(table))["months"].items():
        out[m] = {}
        for rp in files:
            st = os.stat(os.path.join(base, rp))
            out[m][rp] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def _live_sidecar(runner, table):
    """The merged sidecar (ranges, file entries, Blooms) the live
    snapshot of a partitioned target names, None when it names none."""
    path = runner._path(table)
    return runner._load_sidecar(path, snapshot.load(path))


def _live_with_month(runner, table):
    """The live target with its storage month column, for checks that
    recompute per-month truths with Spark."""
    from mrsboraetl_spark.schemas import p_month_of

    return runner.read_target(table).withColumn(
        runner.PARTITION_COL, p_month_of(runner._PARTITION_SRC[table])
    )


def _live_exact_bounds(runner, table):
    """{month: {col: [lo, hi]}} of the live snapshot's REAL (non-null,
    below-sentinel) keys, read with pyarrow from the month's files — the
    reference the sidecar ranges must equal; a column with no real key
    in a month is omitted, as the sidecar omits it."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    base = runner._path(table)
    cols = runner._BOUNDS_COLS[table]
    out: dict = {}
    for m, files in snapshot.load(base)["months"].items():
        ent = out.setdefault(m, {})
        for c, sentinel in cols.items():
            vals = [
                pq.read_table(os.path.join(base, rp), columns=[c])[c]
                for rp in files
            ]
            keep = [v.drop_null() for v in vals]
            if sentinel is not None:
                keep = [v.filter(pc.less(v, sentinel)) for v in keep]
            keep = [v for v in keep if len(v)]
            if keep:
                ent[c] = [
                    min(pc.min(v).as_py() for v in keep),
                    max(pc.max(v).as_py() for v in keep),
                ]
    return out


def _live_footer_stats(runner, table, pk):
    """{month: {relpath: [lo, hi, n]}} from the parquet footers of the
    live snapshot's files."""
    from mrsboraetl_spark.sources.footer_stats import parquet_key_stats

    base = runner._path(table)
    out: dict = {}
    for m, fl in snapshot.load(base)["months"].items():
        paths = {os.path.join(base, rp): rp for rp in fl}
        stats = parquet_key_stats(paths, pk)
        assert stats is not None, m
        if stats:
            out[m] = {paths[p]: st for p, st in stats.items()}
    return out


def test_file_level_sync_rewrites_only_touched_files(
    spark, tmp_path, monkeypatch
):
    from tests.fixtures import to_spark

    r, pdfs = _mk_state(spark, tmp_path, monkeypatch)
    before = _file_map(r, "flat_obs")
    n_files_before = sum(len(v) for v in before.values())
    assert n_files_before > len(before), (
        "fixture must produce multiple files per month for the claim "
        "to be non-vacuous"
    )

    pdfs2 = _small_delta(pdfs)
    r.run(to_spark(spark, pdfs2), mode="sync")

    after = _file_map(r, "flat_obs")
    per_month: dict = {}
    for m, files in after.items():
        c = rw = 0
        for f, (ino, mt, sz) in files.items():
            if before.get(m, {}).get(f) == (ino, mt, sz):
                c += 1
            else:
                rw += 1
        per_month[m] = (c, rw)
    rewritten = sum(rw for _c, rw in per_month.values())
    # Carried-within-AFFECTED-months is the discriminating count: an
    # untouched month's identical files prove nothing (never
    # republished), a rewritten month keeping old files proves the
    # carry by reference.
    carried_in_affected = sum(
        c for c, rw in per_month.values() if rw > 0
    )
    assert carried_in_affected > 0, (
        "no file carried forward inside a rewritten month", per_month,
    )
    assert 0 < rewritten <= 3, (
        f"{rewritten} files rewritten for a one-encounter delta",
        per_month,
    )

    # The affected months' pk ranges must be EXACT after the sync (re-
    # tightened from the per-file entries), not stuck widened: compare
    # to a fresh scan-derived recompute over the live table.
    bounds = _live_sidecar(r, "flat_obs")
    exact = _live_exact_bounds(r, "flat_obs")
    for m, (_c, rw) in per_month.items():
        if rw and "encounter_id" in exact.get(m, {}):
            assert (
                bounds[m].get("encounter_id")
                == exact[m]["encounter_id"]
            ), (m, bounds[m].get("encounter_id"), exact[m])

    # Master correctness: the file-level synced state equals a fresh
    # rebuild over the same final sources.
    rb = PipelineRunner(
        spark, str(tmp_path / "rebuild"), partitioned=True
    )
    rb.run(to_spark(spark, pdfs2), mode="rebuild")
    for t in ("flat_obs", "flat_orders", "flat_visit_summary"):
        cols = sorted(
            c for c in r.read_target(t).columns if c != "obs_map"
        )
        a = sorted(map(repr, r.read_target(t).toPandas()[cols]
                        .itertuples(index=False)))
        b = sorted(map(repr, rb.read_target(t).toPandas()[cols]
                        .itertuples(index=False)))
        assert a == b, t


def test_sidecar_file_entries_track_disk_and_are_disjoint(
    spark, tmp_path, monkeypatch
):
    """Per-month 'files' sidecar entries must list exactly the
    snapshot's data files; after FULL-month writes (this state) their PK ranges
    within a month must additionally be disjoint — the pruning-QUALITY
    property the range shuffle buys (hash-partitioned layouts have
    overlapping per-file ranges and prune nothing).  Disjointness is
    NOT the correctness guarantee (that is exact bounds + the
    changed-key superset, see _plan_touched_files) and is best-effort
    after a file-level delta sync —
    test_sidecar_file_entries_after_file_level_sync pins that state."""
    r, _ = _mk_state(spark, tmp_path, monkeypatch, n_persons=40, seed=47)
    for t in ("flat_obs", "flat_orders", "flat_visit_summary"):
        bounds = _live_sidecar(r, t)
        disk = _file_map(r, t)
        for m, files in disk.items():
            ent = bounds.get(m, {}).get("files")
            assert ent is not None, (t, m)
            assert sorted(ent) == sorted(files), (t, m)
            spans = sorted(
                (lo, hi) for lo, hi, _n in ent.values()
            )
            for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
                assert hi1 < lo2, (
                    f"{t}/{m}: overlapping file ranges "
                    f"[{lo1},{hi1}] vs [{lo2},{hi2}]"
                )


def test_phase2_reads_only_touched_files_plus_fallback_months(
    spark, tmp_path, monkeypatch
):
    """The phase-2 pruned read must open the touched FILES of
    file-level months (not the whole directory) — the read-side half of
    the per-file cost model."""
    from tests.fixtures import to_spark

    r, pdfs = _mk_state(spark, tmp_path, monkeypatch)
    pdfs2 = _small_delta(pdfs)

    reads: list = []
    orig = PipelineRunner._read_target_files

    def spy(self, table, touched, **kw):
        reads.append((table, {m: sorted(v) if v is not None else None
                              for m, v in touched.items()}))
        return orig(self, table, touched, **kw)

    monkeypatch.setattr(PipelineRunner, "_read_target_files", spy)
    r.run(to_spark(spark, pdfs2), mode="sync")
    obs_reads = [t for t in reads if t[0] == "flat_obs"]
    assert obs_reads, "flat_obs sync did not use the file-level path"
    touched = obs_reads[0][1]
    n_selected = sum(
        len(v) for v in touched.values() if v is not None
    )
    disk = _file_map(r, "flat_obs")
    n_disk = sum(
        len(disk.get(m, {})) for m in touched
    )
    assert 0 < n_selected < n_disk, (touched, n_disk)


def test_sidecar_file_entries_after_file_level_sync(
    spark, tmp_path, monkeypatch
):
    """ADVICE r9: after a FILE-LEVEL delta sync, the guarantee pruning
    rests on is EXACT per-file bounds + the changed-key superset — NOT
    range disjointness.  The staged (touched) rows are range-partitioned
    alone, so a staged file's span can straddle carried files' spans:
    overlap is explicitly TOLERATED here (it degrades pruning quality,
    never correctness — see _plan_touched_files's docstring).  What must
    hold exactly, and is pinned: the sidecar lists precisely the
    snapshot's files, and every [lo, hi, n] entry equals the file's
    parquet-footer truth."""
    from tests.fixtures import to_spark

    r, pdfs = _mk_state(spark, tmp_path, monkeypatch, n_persons=40, seed=47)
    pdfs2 = _small_delta(pdfs)
    r.run(to_spark(spark, pdfs2), mode="sync")

    bounds = _live_sidecar(r, "flat_obs")
    disk = _file_map(r, "flat_obs")
    for m, files in disk.items():
        ent = bounds.get(m, {}).get("files")
        assert ent is not None, m
        assert sorted(ent) == sorted(files), m
    footer = _live_footer_stats(r, "flat_obs", "encounter_id")
    assert sorted(footer) == sorted(disk)
    for m, fent in footer.items():
        for fn, st in fent.items():
            assert bounds[m]["files"][fn] == st, (m, fn)
    # Disjointness after a file-level sync is best-effort: count the
    # overlaps so a regression in the ACCEPTED behavior (suddenly
    # overlapping everywhere) would still surface, but do not require
    # zero — the layout does not promise it here.
    overlaps = 0
    for m in disk:
        spans = sorted(
            (lo, hi) for lo, hi, _n in bounds[m]["files"].values()
        )
        overlaps += sum(
            1 for a, b in zip(spans, spans[1:]) if a[1] >= b[0]
        )
    n_files = sum(len(v) for v in disk.values())
    assert overlaps < n_files, (overlaps, n_files)


def test_person_retighten_cadence(spark, tmp_path, monkeypatch):
    """r10 (VERDICT r9 item 3): person-bound erosion under repeated
    file-level syncs is capped by the cadence re-tighten.  Widening
    never un-ORs a purged person from a month's Bloom and never narrows
    its range, so after a person's rows leave a month, person-keyed
    probes keep opening it — until the Nth consecutive file-level sync
    of that month re-derives exact entries from its current files.

    Pinned here with N=3: two add-obs syncs count the widen streak
    (fl_syncs 1, 2), a third sync voids ALL of one person's obs in the
    month; the trigger fires, the counter resets, the recomputed Bloom
    excludes the purged person, and a fresh probe for them no longer
    opens the month."""
    import pandas as pd
    from tests.fixtures import to_spark

    monkeypatch.setattr(PipelineRunner, "_PERSON_RETIGHTEN_EVERY", 3)
    r, pdfs = _mk_state(spark, tmp_path, monkeypatch)

    flat = r.read_target("flat_obs").toPandas()
    flat["m"] = pd.to_datetime(
        flat["encounter_datetime"]
    ).dt.strftime("%Y-%m")
    # the month _small_delta targets (ENCOUNTER-count modal — the flat
    # ROW-count modal can differ), so all three syncs hit it
    modal = (
        pdfs["encounter"]["encounter_datetime"]
        .dt.strftime("%Y-%m")
        .mode()
        .iloc[0]
    )
    # the person with the FEWEST storage months that include modal: the
    # modal-month obs-void removes them from modal while their other
    # months keep them — "opens only the person's own months" is then
    # a non-vacuous claim on both sides
    per = flat.groupby("person_id")["m"].agg(set)
    with_modal = per[per.apply(lambda s: modal in s)]
    assert len(with_modal), "no person in the modal month?"
    victim = int(with_modal.apply(len).idxmin())
    other_months = sorted(with_modal.loc[victim] - {modal})

    # two add-obs syncs: the widen streak
    pdfs2 = _small_delta(pdfs)
    r.run(to_spark(spark, pdfs2), mode="sync")
    b1 = _live_sidecar(r, "flat_obs")
    assert b1[modal].get("fl_syncs") == 1, b1[modal].get("fl_syncs")
    pdfs3 = _small_delta(pdfs2)
    r.run(to_spark(spark, pdfs3), mode="sync")
    b2 = _live_sidecar(r, "flat_obs")
    assert b2[modal].get("fl_syncs") == 2, b2[modal].get("fl_syncs")

    # pre-trigger: the widened Bloom (correctly) holds the victim
    kdf = spark.createDataFrame([(victim,)], "_k long")
    assert r._bloom_hit_months(
        kdf, None, {modal: b2[modal]["bloom:person_id"]}
    ) == {modal}

    # third sync: void every obs of the victim that lands in the modal
    # month (encounter-linked via the encounter's month, encounter-less
    # via obs_datetime) -> their flat_obs rows leave modal only; the
    # trigger fires on the SAME sync
    wm = pdfs3["obs"]["date_created"].max()
    obs4 = pdfs3["obs"].copy()
    enc3 = pdfs3["encounter"]
    modal_enc = set(
        enc3[
            enc3["encounter_datetime"].dt.strftime("%Y-%m") == modal
        ]["encounter_id"]
    )
    mine = (obs4["person_id"] == victim) & (
        obs4["encounter_id"].isin(modal_enc)
        | (
            obs4["encounter_id"].isna()
            & (
                pd.to_datetime(obs4["obs_datetime"]).dt.strftime(
                    "%Y-%m"
                )
                == modal
            )
        )
    )
    assert mine.any()
    obs4.loc[mine, "voided"] = 1
    obs4.loc[mine, "date_voided"] = wm + dt.timedelta(days=3)
    pdfs4 = dict(pdfs3, obs=obs4)
    before = _file_map(r, "flat_obs")
    r.run(to_spark(spark, pdfs4), mode="sync")
    after = _file_map(r, "flat_obs")
    carried_in_modal = sum(
        1
        for f, st in after.get(modal, {}).items()
        if before.get(modal, {}).get(f) == st
    )
    assert carried_in_modal > 0, (
        "void sync did not take the file-level path — the pin is "
        "vacuous", before.get(modal), after.get(modal),
    )

    b3 = _live_sidecar(r, "flat_obs")
    assert "fl_syncs" not in b3[modal], "trigger must reset the streak"
    left = r.read_target("flat_obs").toPandas()
    left["m"] = pd.to_datetime(
        left["encounter_datetime"]
    ).dt.strftime("%Y-%m")
    assert not (
        (left["person_id"] == victim) & (left["m"] == modal)
    ).any(), "victim still has modal-month rows — void delta wrong"
    # the recomputed Bloom no longer holds the purged person...
    assert r._bloom_hit_months(
        kdf, None, {modal: b3[modal]["bloom:person_id"]}
    ) == set()
    # ...and the exact recompute matches the live files' truth
    exact = _live_exact_bounds(r, "flat_obs")
    assert b3[modal]["person_id"] == exact[modal]["person_id"]

    # a fresh probe for the victim opens only their OWN months — modal
    # is out (pre-cadence its stale widened Bloom would keep it in)
    probed: list = []
    orig = PipelineRunner.read_target_months

    def spy(self, table, months, **kw):
        probed.append(tuple(months))
        return orig(self, table, months, **kw)

    monkeypatch.setattr(PipelineRunner, "read_target_months", spy)
    reader = r._make_probe_reader("flat_obs")
    kdf_p = spark.createDataFrame([(victim,)], "person_id long")
    reader(kdf_p, "person_id")
    assert probed, "probe never routed through read_target_months"
    got = set(probed[-1])
    assert modal not in got, (modal, got)
    assert got >= set(other_months), (
        "probe must still open the victim's remaining months",
        got, other_months,
    )


def test_lab_file_level_sync_rewrites_only_touched_files(
    spark, tmp_path, monkeypatch
):
    """r10 (VERDICT r9 item 4, decided by measurement — PERF.md): with
    flat_lab_obs person-clustered and its plan publishing the affected-
    person changed-key superset, a one-person lab delta rewrites only
    the files of the affected month whose person range holds that
    person; the rest of the month carries forward.  Pre-change the same
    delta month-grain-rewrote the whole month (26 files / 0.195 MB vs
    2 / 0.039 MB at the 5k probe)."""
    import pandas as pd
    from tests.fixtures import to_spark

    r, pdfs = _mk_state(spark, tmp_path, monkeypatch)
    before = _file_map(r, "flat_lab_obs")
    assert sum(len(v) for v in before.values()) > len(before), (
        "need multiple files per lab month"
    )

    obs = pdfs["obs"]
    wm = obs["date_created"].max()
    m_of = pd.to_datetime(obs["obs_datetime"]).dt.strftime("%Y-%m")
    modal = m_of[obs["voided"] == 0].mode().iloc[0]
    cand = obs[(obs["voided"] == 0) & (m_of == modal)].iloc[0]
    row = cand.to_dict()
    row.update(
        obs_id=int(obs["obs_id"].max()) + 1,
        concept_id=856,  # viral load: in the lab whitelist
        value_coded=None,
        value_numeric=991.0,
        date_created=wm + dt.timedelta(days=1),
    )
    pdfs2 = dict(pdfs, obs=pd.concat(
        [obs, pd.DataFrame([row])], ignore_index=True
    ))
    r.run(to_spark(spark, pdfs2), mode="sync")

    after = _file_map(r, "flat_lab_obs")
    per_month: dict = {}
    for m, files in after.items():
        c = rw = 0
        for f, st in files.items():
            if before.get(m, {}).get(f) == st:
                c += 1
            else:
                rw += 1
        per_month[m] = (c, rw)
    rewritten = sum(rw for _c, rw in per_month.values())
    carried_in_affected = sum(
        c for c, rw in per_month.values() if rw > 0
    )
    assert carried_in_affected > 0, (
        "no lab file carried inside the rewritten month", per_month,
    )
    assert 0 < rewritten <= 2, (
        f"{rewritten} lab files rewritten for a one-person delta",
        per_month,
    )

    rb = PipelineRunner(
        spark, str(tmp_path / "rebuild"), partitioned=True
    )
    rb.run(to_spark(spark, pdfs2), mode="rebuild")
    cols = sorted(r.read_target("flat_lab_obs").columns)
    a = sorted(map(repr, r.read_target("flat_lab_obs").toPandas()[cols]
                    .itertuples(index=False)))
    b = sorted(map(repr, rb.read_target("flat_lab_obs").toPandas()[cols]
                    .itertuples(index=False)))
    assert a == b
