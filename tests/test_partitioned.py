"""Partitioned target layout (PipelineRunner(partitioned=True)): the
snapshot's month lists, equivalence with the plain layout, and — the
point — month pruning for date-range consumers."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from mrsboraetl_spark.engine import PipelineRunner
from mrsboraetl_spark.sources import snapshot
from tests.fixtures import make_sources, to_spark


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    dfs = to_spark(spark, make_sources(n_persons=20, seed=5))
    tmp = tmp_path_factory.mktemp("partlayout")
    plain = PipelineRunner(spark, str(tmp / "plain"))
    plain.run(dfs, mode="rebuild")
    part = PipelineRunner(spark, str(tmp / "part"), partitioned=True)
    # Skip pinned off: this fixture's sync exists to run the incremental
    # plans against the partitioned layout with an unchanged source —
    # exactly what the stage short-circuit would (correctly) elide.  No
    # stored signal ever covers this runner's sources.
    part._signal_covered = lambda new, stored: False
    part.run(dfs, mode="rebuild")
    part.run(dfs, mode="sync")  # incremental must survive the layout
    return dict(plain=plain, part=part)


def test_partitioned_layout_matches_default(layouts):
    for table in ("flat_obs", "flat_visit_summary", "flat_latest_hiv_summary"):
        a = layouts["plain"].read_target(table).toPandas()
        b = layouts["part"].read_target(table).toPandas()
        assert sorted(a.columns) == sorted(b.columns), table
        cols = sorted(c for c in a.columns if c != "obs_map")
        sa = sorted(map(tuple, a[cols].astype(str).itertuples(index=False)))
        sb = sorted(map(tuple, b[cols].astype(str).itertuples(index=False)))
        assert sa == sb, table


def test_month_directories_on_disk(layouts):
    """The snapshot names several months, each a non-empty list of
    data files that exist on disk inside a hidden epoch directory."""
    r = layouts["part"]
    months = snapshot.load(r._path("flat_obs"))["months"]
    assert len(months) >= 2, months  # fixture spans multiple months
    for m, files in months.items():
        assert files, m
        for rp in files:
            assert rp.startswith(snapshot.EPOCH_PREFIX), rp
            assert f"/{r.PARTITION_COL}={m}/" in rp, rp
            assert os.path.isfile(os.path.join(r._path("flat_obs"), rp))


def test_partition_pruning_on_month_filter(spark, layouts):
    """A month-window read (read_target_months) must open only that
    month's files — the scan lists exactly the snapshot's file list for
    the month — and return exactly the target's rows of that month."""
    from mrsboraetl_spark.schemas import p_month_of

    r = layouts["part"]
    months = snapshot.load(r._path("flat_obs"))["months"]
    one = sorted(months)[0]
    pruned = r.read_target_months("flat_obs", [one])
    opened = sorted(os.path.basename(f) for f in pruned.inputFiles())
    assert opened == sorted(os.path.basename(f) for f in months[one])
    assert len(opened) < sum(len(fl) for fl in months.values())
    full = r.read_target("flat_obs")
    expect = full.filter(p_month_of("encounter_datetime") == one).count()
    assert pruned.count() == expect > 0
    # no candidate months: an empty frame with the target schema
    empty = r.read_target_months("flat_obs", [])
    assert empty.columns == full.columns and empty.count() == 0


def test_manifest_keyword_selects_partitioned_layout(spark, tmp_path):
    """``manifest`` is kept as an accepted keyword that selects nothing:
    it must agree with ``partitioned``, and ``partitioned=True,
    manifest=True`` builds exactly the ``partitioned=True`` runner."""
    root = str(tmp_path / "kw")
    with pytest.raises(ValueError, match="manifest"):
        PipelineRunner(spark, root, partitioned=True, manifest=False)
    with pytest.raises(ValueError, match="manifest"):
        PipelineRunner(spark, root, manifest=True)

    def state(r):
        return {
            k: v for k, v in vars(r).items() if k not in ("watermarks",)
        }

    both = PipelineRunner(spark, root, partitioned=True, manifest=True)
    part = PipelineRunner(spark, root, partitioned=True)
    assert state(both) == state(part)
    assert part.partitioned and not hasattr(part, "manifest")


# ----------------------------------------------- delta-scoped sync writes


def _month_inventory(runner, table):
    """{month: {(relpath, mtime_ns, size)}} of the live snapshot."""
    base = runner._path(table)
    inv = {}
    for m, files in snapshot.load(runner._path(table))["months"].items():
        inv[m] = {
            (rp, st.st_mtime_ns, st.st_size)
            for rp in files
            for st in (os.stat(os.path.join(base, rp)),)
        }
    return inv


def test_sync_rewrites_only_affected_months(spark, tmp_path_factory):
    """The delta-scoped writer (VERDICT r5 item 1): a sync whose delta
    touches one month must leave every other month's snapshot files
    byte-for-byte untouched (same relpaths, mtimes, sizes) — write I/O
    scales with the delta, not the target — while final state still
    equals a plain full rebuild.

    The delta is a NEW obs (not a void): date_created advances the
    logged watermark past every change stamp, so the follow-up sync is a
    true no-op.  A void's date_voided stays past the watermark forever
    and re-queues its group on every sync until newer data arrives —
    the reference's own @last_date_created behavior
    (flat_obs_v1.0.sql:26-28,76-77).  Fixture stragglers with
    date_changed beyond every date_created are clamped for the same
    reason."""
    import datetime as _dt

    pdfs = make_sources(n_persons=30, seed=7)
    obs_pdf, enc_pdf = pdfs["obs"].copy(), pdfs["encounter"].copy()
    wm = obs_pdf["date_created"].max()
    late = enc_pdf["date_changed"].notna() & (enc_pdf["date_changed"] > wm)
    enc_pdf.loc[late, "date_changed"] = wm
    pdfs = dict(pdfs, obs=obs_pdf, encounter=enc_pdf)
    dfs = to_spark(spark, pdfs)
    root = str(tmp_path_factory.mktemp("deltapart"))
    runner = PipelineRunner(spark, root, partitioned=True)
    runner.run(dfs, mode="rebuild")
    inv0 = _month_inventory(runner, "flat_obs")
    assert len(inv0) >= 4, "fixture must span several months"

    # ONE new obs on an existing encounter: the only affected month is
    # that encounter's.
    cand = obs_pdf[
        (obs_pdf["voided"] == 0) & obs_pdf["encounter_id"].notna()
    ].iloc[0]
    enc_row = enc_pdf[enc_pdf["encounter_id"] == cand["encounter_id"]].iloc[0]
    victim_month = enc_row["encounter_datetime"].strftime("%Y-%m")
    new_row = cand.to_dict()
    new_row.update(
        obs_id=int(obs_pdf["obs_id"].max()) + 1,
        concept_id=5089,
        value_coded=None,
        value_numeric=42.5,
        date_created=wm + _dt.timedelta(days=1),
    )
    pdfs2 = dict(pdfs, obs=pd.concat(
        [obs_pdf, pd.DataFrame([new_row])], ignore_index=True
    ))
    dfs2 = to_spark(spark, pdfs2)
    runner.run(dfs2, mode="sync")

    inv1 = _month_inventory(runner, "flat_obs")
    changed = {m for m in set(inv0) | set(inv1) if inv1.get(m) != inv0.get(m)}
    assert changed == {victim_month}, (changed, victim_month)
    # State equals a plain rebuild over the final sources.
    fresh = PipelineRunner(spark, str(tmp_path_factory.mktemp("deltafull")))
    fresh.run(dfs2, mode="rebuild")
    for table in ("flat_obs", "flat_visit_summary"):
        a = runner.read_target(table).toPandas()
        b = fresh.read_target(table).toPandas()
        cols = sorted(c for c in a.columns if c != "obs_map")
        sa = sorted(map(tuple, a[cols].astype(str).itertuples(index=False)))
        sb = sorted(map(tuple, b[cols].astype(str).itertuples(index=False)))
        assert sa == sb, table

    # A no-op sync (no new changes) must write NOTHING anywhere: every
    # file under the store root — tables, sidecars, watermark log,
    # signal store, person-void fingerprint, pipeline map — keeps its
    # path, size and mtime.
    def root_inventory():
        return {
            (os.path.relpath(os.path.join(dp, fn), root), st.st_size,
             st.st_mtime_ns)
            for dp, _ds, fs in os.walk(root)
            for fn in fs
            for st in (os.stat(os.path.join(dp, fn)),)
        }

    before = root_inventory()
    runner.run(dfs2, mode="sync")
    assert _month_inventory(runner, "flat_obs") == inv1
    assert root_inventory() == before, root_inventory() ^ before


def test_sync_covers_encounter_repointed_across_person_and_month(
    spark, tmp_path_factory
):
    """Patient-merge shape (review finding r6): an encounter (and its
    obs) re-pointed to a DIFFERENT person with its datetime moved to a
    DIFFERENT month.  The visit-summary merge deletes the old row by
    encounter id, but the old row lives under a person the queue never
    names — its month must still reach the affected-month superset or
    the delta-scoped sync diverges from a rebuild."""
    import datetime as _dt

    pdfs = make_sources(n_persons=30, seed=11)
    obs_pdf = pdfs["obs"].copy()
    enc_pdf = pdfs["encounter"].copy()
    wm = obs_pdf["date_created"].max()
    late = enc_pdf["date_changed"].notna() & (enc_pdf["date_changed"] > wm)
    enc_pdf.loc[late, "date_changed"] = wm
    pdfs1 = dict(pdfs, obs=obs_pdf, encounter=enc_pdf)
    dfs1 = to_spark(spark, pdfs1)

    runner = PipelineRunner(
        spark, str(tmp_path_factory.mktemp("merge_part")), partitioned=True
    )
    runner.run(dfs1, mode="rebuild")

    # Pick an encounter with obs; re-point it (and its obs) to another
    # person and shift its datetime ~3 months.
    cand = obs_pdf[
        (obs_pdf["voided"] == 0) & obs_pdf["encounter_id"].notna()
    ].iloc[0]
    enc_id = cand["encounter_id"]
    old_person = int(cand["person_id"])
    # The receiving person must have NO encounter in the old month:
    # otherwise their queue-probe would coincidentally cover it and the
    # scenario under test (old month reachable ONLY via the moved
    # encounter's id) never materializes.
    old_month = (
        enc_pdf.loc[enc_pdf["encounter_id"] == enc_id, "encounter_datetime"]
        .iloc[0]
        .strftime("%Y-%m")
    )
    months_by_person = enc_pdf.groupby("patient_id")[
        "encounter_datetime"
    ].apply(lambda s: set(s.dt.strftime("%Y-%m")))
    new_person = next(
        int(p)
        for p, ms in months_by_person.items()
        if p != old_person and old_month not in ms
    )
    enc2 = enc_pdf.copy()
    sel = enc2["encounter_id"] == enc_id
    old_dt = enc2.loc[sel, "encounter_datetime"].iloc[0]
    enc2.loc[sel, "patient_id"] = new_person
    enc2.loc[sel, "encounter_datetime"] = old_dt + _dt.timedelta(days=95)
    enc2.loc[sel, "date_changed"] = wm + _dt.timedelta(days=1)
    obs2 = obs_pdf.copy()
    obs2.loc[obs2["encounter_id"] == enc_id, "person_id"] = new_person
    pdfs2 = dict(pdfs1, obs=obs2, encounter=enc2)
    dfs2 = to_spark(spark, pdfs2)
    runner.run(dfs2, mode="sync")

    fresh = PipelineRunner(spark, str(tmp_path_factory.mktemp("merge_full")))
    fresh.run(dfs2, mode="rebuild")
    for table in ("flat_obs", "flat_visit_summary"):
        a = runner.read_target(table).toPandas()
        b = fresh.read_target(table).toPandas()
        cols = sorted(c for c in a.columns if c != "obs_map")
        sa = sorted(map(tuple, a[cols].astype(str).itertuples(index=False)))
        sb = sorted(map(tuple, b[cols].astype(str).itertuples(index=False)))
        assert sa == sb, table
    # The moved encounter exists exactly once, under its new identity.
    vs = runner.read_target("flat_visit_summary").toPandas()
    rows = vs[vs["encounter_id"] == enc_id]
    assert len(rows) == 1 and int(rows["person_id"].iloc[0]) == new_person
