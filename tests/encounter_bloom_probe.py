"""Encounter-key Bloom decision probe (manual tool, not a pytest test)
— VERDICT r10 item 5 done-criteria.

person_id carries Bloom sidecars because ranges cannot prune it (person
ids are uniform across storage months).  encounter_id carries only
[min, max] ranges on the claim that encounter ids are time-correlated
with the partition month, so ranges already prune its one hard probe
class — OLD-encounter retractions (obs voided long after their
encounter landed, flat_obs_v1.0.sql:99-113).  This probe measures that
claim so the build-a-second-Bloom decision is data, not intuition:

1. rebuild + drain a partitioned deployment at the given person count;
2. age a void delta: void one obs in each of the OLDEST three months'
   encounters (the retraction class ranges allegedly serve);
3. measure the phase-1 retraction probe directly: months the RANGE
   verdict opens for those encounter keys vs the TRUE month count;
4. erode: run several FILE-LEVEL delta syncs (new obs on existing
   encounters), then re-measure — the r9 re-tighten pass is supposed
   to keep encounter ranges exact-from-metadata across such syncs;
5. decision rule: ranges are ENOUGH if candidate months stay within
   +1 of true months in both measurements; otherwise a
   "bloom:encounter_id" sidecar column is warranted.

Usage: python tests/encounter_bloom_probe.py [n_persons]  # default 2000
Results land in PERF.md by hand.
"""

from __future__ import annotations

import datetime as dt
import sys
import tempfile

sys.path.insert(0, "/root/repo")

import pandas as pd  # noqa: E402


def probe_months(runner, table, keys_df, key_col):
    """(candidate month count, month list) the probe reader opens."""
    reader = runner._make_probe_reader(table)
    assert reader is not None, "no bounds sidecar?"
    pruned = reader(keys_df, key_col)
    months = {
        p.split("p_month=")[1].split("/")[0]
        for p in pruned.inputFiles()
        if "p_month=" in p
    }
    return len(months), sorted(months)


def true_months(spark, runner, table, keys_df, key_col):
    from pyspark.sql import functions as F

    t = runner.read_target(table)
    got = (
        t.join(keys_df, key_col, "left_semi")
        .select(
            F.date_format("encounter_datetime", "yyyy-MM").alias("m")
        )
        .distinct()
        .collect()
    )
    return sorted(r["m"] for r in got)


def main() -> None:
    n_persons = int(sys.argv[1]) if len(sys.argv) > 1 else 2000

    from pyspark.sql import functions as F

    from mrsboraetl_spark.engine import PipelineRunner
    from mrsboraetl_spark.session import get_spark
    from mrsboraetl_spark.sources import snapshot
    from tests.fixtures import make_sources, to_spark

    spark = get_spark(app_name="encounter_bloom_probe")
    tmp = tempfile.mkdtemp(prefix="encprobe_")
    pdfs = make_sources(n_persons=n_persons, seed=11)
    # manifest mode: the probe reader selects EXPLICIT file lists, so
    # inputFiles() measures exactly what the probe opens (dir mode's
    # isin month filter prunes at planning time, which inputFiles does
    # not reflect — it lists the unpruned file index)
    runner = PipelineRunner(
        spark, f"{tmp}/store", partitioned=True
    )
    # several files per month so the file-level path is exercised
    PipelineRunner._TARGET_FILE_ROWS = 2000
    runner.run(to_spark(spark, pdfs), mode="rebuild")
    runner.run(to_spark(spark, pdfs), mode="sync")

    obs = pdfs["obs"]
    enc = pdfs["encounter"]
    wm = obs["date_created"].max()

    def aged_void_keys(pdfs_now):
        """One voidable obs per oldest-three-months encounter set."""
        e = enc.sort_values("encounter_datetime")
        months = (
            e["encounter_datetime"].dt.strftime("%Y-%m").unique()[:3]
        )
        old_enc = set(
            e[e["encounter_datetime"].dt.strftime("%Y-%m").isin(months)]
            ["encounter_id"]
        )
        o = pdfs_now["obs"]
        cand = o[
            (o["voided"] == 0) & o["encounter_id"].isin(old_enc)
        ]
        picks = cand.groupby("encounter_id").head(1).head(40)
        return picks, sorted(months)

    picks, old_months = aged_void_keys(pdfs)
    keys_df = spark.createDataFrame(
        pd.DataFrame(
            {"encounter_id": picks["encounter_id"].unique()}
        )
    )
    tm = true_months(spark, runner, "flat_obs", keys_df, "encounter_id")
    n_cand, cand = probe_months(
        runner, "flat_obs", keys_df, "encounter_id"
    )
    all_months = sorted(snapshot.load(runner._path("flat_obs"))["months"])

    # A/B: the same probe with the encounter Blooms stripped from the
    # sidecar (ranges-only — the pre-r11 configuration)
    b = runner._load_bounds("flat_obs")
    stripped = {
        m: {k: v for k, v in ent.items() if k != "bloom:encounter_id"}
        for m, ent in b.items()
    }
    runner._load_sidecar = lambda table_dir, man: stripped
    n_ro, _ = probe_months(runner, "flat_obs", keys_df, "encounter_id")
    del runner._load_sidecar  # restore the class method
    print(
        f"[fresh]  aged-encounter probe: true={len(tm)} {tm} | "
        f"ranges-only={n_ro} | ranges+bloom={n_cand} {cand} | "
        f"table months={len(all_months)}"
    )

    # erosion: several file-level delta syncs (new obs on existing
    # encounters spread over the table), then re-measure
    pdfs_now = dict(pdfs)
    for i in range(4):
        o = pdfs_now["obs"]
        base_rows = (
            o[(o["voided"] == 0) & o["encounter_id"].notna()]
            .groupby("encounter_id").head(1).iloc[i::97].head(6)
        )
        new = base_rows.copy()
        new["obs_id"] = o["obs_id"].max() + 1 + pd.RangeIndex(len(new))
        new["concept_id"] = 5089
        new["value_coded"] = None
        new["value_numeric"] = 37.0 + i
        new["date_created"] = wm + dt.timedelta(days=i + 1)
        new["date_voided"] = pd.NaT
        pdfs_now = dict(
            pdfs_now,
            obs=pd.concat([o, new], ignore_index=True),
        )
        runner.run(to_spark(spark, pdfs_now), mode="sync")

    tm2 = true_months(
        spark, runner, "flat_obs", keys_df, "encounter_id"
    )
    n_cand2, cand2 = probe_months(
        runner, "flat_obs", keys_df, "encounter_id"
    )
    print(
        f"[eroded] after 4 file-level syncs: true={len(tm2)} {tm2} | "
        f"range-candidates={n_cand2} {cand2}"
    )

    # the actual retraction sync with the aged voids, end to end
    o = pdfs_now["obs"].copy()
    mask = o["obs_id"].isin(picks["obs_id"])
    o.loc[mask, "voided"] = 1
    o.loc[mask, "date_voided"] = wm + dt.timedelta(days=30)
    t0 = dt.datetime.now()
    runner.run(to_spark(spark, dict(pdfs_now, obs=o)), mode="sync")
    wall = (dt.datetime.now() - t0).total_seconds()
    print(f"[sync]   aged-void retraction sync wall: {wall:.1f}s")

    if n_ro > len(tm) + 1 and n_cand <= len(tm) + 1:
        verdict = (
            "ranges DEGRADED, bloom:encounter_id CLOSES the gap — "
            "keep the Bloom (the r11 decision)"
        )
    elif n_ro <= len(tm) + 1:
        verdict = "ranges ENOUGH — the Bloom is redundant here"
    else:
        verdict = "NEITHER prunes — investigate"
    print(f"[decision] {verdict}")


if __name__ == "__main__":
    main()
