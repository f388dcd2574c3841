"""Delta-scoped sync write- AND read-amplification probe (manual tool,
not a pytest test) — VERDICT r5 item 1 and r6 item 1 done-criteria.

At a given person count, rebuilds the partitioned (manifest) pipeline,
then syncs a SMALL delta (new obs on a handful of existing encounters,
all in whatever months those encounters live in) under these
configurations:

* delta-scoped writer + key-bounds probe (the default): only affected
  months rewritten, and the phase-1 retraction probe opens only
  candidate months (engine._BOUNDS_COLS sidecar);
* the same with several files per month, file-level (touched files
  only) vs month-grain (file accounting disabled) — the file-level
  write cut;
* path sources instead of DataFrames (footer change signals);
* delta-scoped writer, bounds sidecars DELETED: the r6 behavior — the
  probe falls back to a column-pruned scan of the whole target;
* full-rewrite fallback forced (_DELTA_WRITE_MAX_FRACTION = -1): the
  r5 behavior, whole target rewritten per stage.

"Write bytes" = sum of sizes of files under the storage root whose
mtime is after the sync started — actual disk write volume.  "Read
bytes" = the executor task input-metrics delta across the sync
(AppStatusStore totalInputBytes — what Spark actually pulled off disk,
so column pruning and partition pruning both show up).  The claims
under test: sync WRITES scale with the delta, and with bounds the
phase-1 probe READ does too, instead of re-scanning 3 columns of the
whole target every sync.

Usage: python tests/delta_write_probe.py [n_persons]   # default 50000
Results land in PERF.md by hand.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

import pandas as pd  # noqa: E402


def tree_bytes_after(root: str, t0: float) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            if st.st_mtime >= t0:
                total += st.st_size
    return total


def data_files_after(root: str, t0: float) -> tuple[int, int]:
    """(#data files written since t0, #data files total).  Carried
    files are never rewritten and keep their original mtime, so a
    carried file does NOT count as written — the file-level writer's
    claim in one number."""
    new = total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not f.endswith(".parquet") or f.startswith(("_", ".")):
                continue
            total += 1
            if os.stat(os.path.join(dirpath, f)).st_mtime >= t0:
                new += 1
    return new, total


def tree_bytes(root: str) -> int:
    return tree_bytes_after(root, 0.0)


def executor_input_bytes(spark) -> int:
    """Sum of task input bytes across executors (AppStatusStore) —
    actual read volume, after column AND partition pruning."""
    execs = spark.sparkContext._jsc.sc().statusStore().executorList(True)
    return sum(
        execs.apply(i).totalInputBytes() for i in range(execs.size())
    )


def run_probe(n: int) -> None:
    from mrsboraetl_spark.engine import PipelineRunner
    from mrsboraetl_spark.sources import snapshot
    from mrsboraetl_spark.session import get_spark
    from tests.fixtures import make_sources, to_spark

    spark = get_spark(app_name="delta_write_probe")
    pdfs = make_sources(n_persons=n, seed=7)
    obs_pdf, enc_pdf = pdfs["obs"].copy(), pdfs["encounter"].copy()
    wm = obs_pdf["date_created"].max()
    # Clamp date_changed stragglers so the delta is ONLY the new obs
    # (see test_sync_rewrites_only_affected_months for why).
    late = enc_pdf["date_changed"].notna() & (enc_pdf["date_changed"] > wm)
    enc_pdf.loc[late, "date_changed"] = wm
    pdfs = dict(pdfs, obs=obs_pdf, encounter=enc_pdf)

    # Delta: one new obs on each of up to 20 existing encounters, all in
    # the SAME month and from at most 2 persons — a LOCALIZED delta (the
    # realistic shape: a sync batch clusters around "now").  Scattering
    # the delta across most months trips the full-rewrite fallback by
    # design, which is the other half of the policy, not the claim under
    # test here.  The visit-summary stage recomputes each queued
    # person's WHOLE history, so the person count (not the encounter
    # count) governs its affected-month spread.
    month = enc_pdf["encounter_datetime"].dt.strftime("%Y-%m")
    modal = month.mode().iloc[0]
    enc_in_month = enc_pdf[month == modal]
    persons = enc_in_month["patient_id"].drop_duplicates().head(2)
    enc_ids = set(
        enc_in_month[enc_in_month["patient_id"].isin(persons)]["encounter_id"]
    )
    cands = (
        obs_pdf[
            (obs_pdf["voided"] == 0)
            & obs_pdf["encounter_id"].isin(enc_ids)
        ]
        .drop_duplicates("encounter_id")
        .head(20)
    )
    new_rows = []
    next_id = int(obs_pdf["obs_id"].max()) + 1
    for _, cand in cands.iterrows():
        r = cand.to_dict()
        r.update(
            obs_id=next_id, concept_id=5089, value_coded=None,
            value_numeric=42.5, date_created=wm + dt.timedelta(days=1),
        )
        new_rows.append(r)
        next_id += 1
    pdfs2 = dict(
        pdfs,
        obs=pd.concat([obs_pdf, pd.DataFrame(new_rows)], ignore_index=True),
    )

    dfs = to_spark(spark, pdfs)
    dfs2 = to_spark(spark, pdfs2)
    # Parquet copies of the sources for the path-sources mode (r8): fed
    # as PATHS, the engine answers its change signal from footers and a
    # sync's executor input drops to delta + footers, not the source.
    src_root = tempfile.mkdtemp(prefix="dwp_src_")
    paths: dict = {}
    paths2: dict = {}
    for name, df in dfs.items():
        p = os.path.join(src_root, f"v1_{name}")
        df.write.parquet(p)
        paths[name] = p
    for name, df in dfs2.items():
        p = os.path.join(src_root, f"v2_{name}")
        df.write.parquet(p)
        paths2[name] = p
    for d in (dfs, dfs2):
        for df in d.values():
            df.cache().count()

    results = {"n_persons": n, "n_delta_obs": len(new_rows)}
    # The decisive probe-read metric is WHICH months the phase-1
    # retraction probe opens (whole-sync executor input bytes
    # are dominated by source reads at this SF and cannot isolate it):
    # with bounds, reader() routes through read_target_months on the
    # candidate list; without, the probe is a full-target scan.  Spy on
    # both and account the opened months' on-disk size.
    probed_months: list[tuple[str, tuple]] = []
    orig_rtm = PipelineRunner.read_target_months

    def spy_rtm(self, table, months, **kw):
        probed_months.append((table, tuple(months)))
        return orig_rtm(self, table, months, **kw)

    PipelineRunner.read_target_months = spy_rtm

    def month_dir_stats(runner, root):
        """(#months opened by probes, their MB) vs (#months, MB) in the
        snapshot; a month is the snapshot's file list for it."""
        opened_mb = 0.0
        opened = 0
        total = 0
        total_mb = 0.0
        by_table: dict = {}
        for t, ms in probed_months:
            by_table.setdefault(t, set()).update(ms)
        for t in runner._BOUNDS_COLS:
            tdir = runner._path(t)
            man = snapshot.load(runner._path(t)) or {"months": {}}
            for m, files in man["months"].items():
                total += 1
                sz = sum(
                    os.stat(os.path.join(tdir, rp)).st_size
                    for rp in files
                )
                total_mb += sz
                if m in by_table.get(t, ()):
                    opened += 1
                    opened_mb += sz
        return opened, round(opened_mb / 1e6, 2), total, round(
            total_mb / 1e6, 2
        )

    for mode in (
        "warmup",
        "delta_bounds",
        "delta_file_level",
        "delta_month_grain",
        "delta_bounds_paths",
        "delta_no_bounds",
        "full_rewrite",
    ):
        root = tempfile.mkdtemp(prefix=f"dwp_{mode}_")
        runner = PipelineRunner(spark, root, partitioned=True)
        if mode == "full_rewrite":
            runner._DELTA_WRITE_MAX_FRACTION = -1  # force the fallback
        if mode in ("delta_file_level", "delta_month_grain"):
            # r9: several files per month so the file-level writer has
            # something to prune — at 50k persons ~2.5k flat rows/month
            # this yields ~10 files/month; write I/O must then scale
            # with touched FILES, not touched months.  delta_month_grain
            # is the honest A/B: IDENTICAL file layout, file accounting
            # disabled, so every affected month rewrites whole.
            runner._TARGET_FILE_ROWS = max(50, n // 200)
        if mode == "delta_month_grain":
            runner._plan_touched_files = lambda *a: None
        src_rebuild = paths if mode == "delta_bounds_paths" else dfs
        src_sync = paths2 if mode == "delta_bounds_paths" else dfs2
        t0 = time.time()
        runner.run(src_rebuild, mode="rebuild")
        rebuild_s = time.time() - t0
        if mode == "warmup":
            # First pipeline run on a cold JVM pays the C2 JIT storm
            # (PERF.md); burn it here so the three measured modes are
            # comparable.
            shutil.rmtree(root, ignore_errors=True)
            continue
        target_bytes = tree_bytes(root)
        if mode == "delta_no_bounds":
            # r6 behavior: no sidecar -> full-target phase-1 probe
            runner._load_sidecar = lambda table_dir, man: None
        t0 = time.time()
        time.sleep(0.05)  # mtime resolution guard
        t_sync = time.time()
        r0 = executor_input_bytes(spark)
        probed_months.clear()
        runner.run(src_sync, mode="sync")
        sync_s = time.time() - t0
        opened, opened_mb, n_dirs, dirs_mb = month_dir_stats(runner, root)
        if mode == "delta_no_bounds":
            # no reader: every probe IS a full scan of the target dirs
            opened, opened_mb = n_dirs, dirs_mb
        files_new, files_total = data_files_after(root, t_sync)
        results[mode] = {
            "rebuild_sec": round(rebuild_s, 1),
            "target_mb": round(target_bytes / 1e6, 2),
            "sync_sec": round(sync_s, 1),
            "sync_write_mb": round(tree_bytes_after(root, t_sync) / 1e6, 2),
            "sync_files_written": files_new,
            "files_total": files_total,
            "sync_read_mb": round(
                (executor_input_bytes(spark) - r0) / 1e6, 2
            ),
            "probe_month_dirs_opened": opened,
            "probe_month_dirs_mb": opened_mb,
            "month_dirs_total": n_dirs,
            "month_dirs_total_mb": dirs_mb,
            # per-table write split (r10 open item: does
            # flat_visit_summary's whole-person-history recompute
            # dominate file-level sync writes?) — top-level storage
            # entry -> MB written since the sync started
            "sync_write_mb_by_table": {
                e: round(tree_bytes_after(
                    os.path.join(root, e), t_sync
                ) / 1e6, 3)
                for e in sorted(os.listdir(root))
                if os.path.isdir(os.path.join(root, e))
            },
        }
    PipelineRunner.read_target_months = orig_rtm
    d = results["delta_bounds"]["sync_write_mb"]
    f = results["full_rewrite"]["sync_write_mb"]
    results["write_amplification_ratio"] = round(f / d, 1) if d else None
    fl = results["delta_file_level"]["sync_write_mb"]
    mg = results["delta_month_grain"]["sync_write_mb"]
    results["file_level_write_cut_ratio"] = (
        round(mg / fl, 1) if fl else None
    )
    flf = results["delta_file_level"]["sync_files_written"]
    mgf = results["delta_month_grain"]["sync_files_written"]
    results["file_level_files_cut_ratio"] = (
        round(mgf / flf, 1) if flf else None
    )
    rb = results["delta_bounds"]["probe_month_dirs_mb"]
    rn = results["delta_no_bounds"]["probe_month_dirs_mb"]
    results["probe_read_reduction_ratio"] = (
        round(rn / rb, 1) if rb else None
    )
    pr = results["delta_bounds_paths"]["sync_read_mb"]
    results["path_source_read_cut_ratio"] = (
        round(results["delta_bounds"]["sync_read_mb"] / pr, 1)
        if pr
        else None
    )
    shutil.rmtree(src_root, ignore_errors=True)
    print(json.dumps(results), flush=True)


if __name__ == "__main__":
    run_probe(int(sys.argv[1]) if len(sys.argv) > 1 else 50000)
