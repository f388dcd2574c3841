"""Continuous-pipeline per-sync cost probe (manual tool, not a pytest
test) — VERDICT r6 item 6's done-criterion.

Rebuilds the pipeline at a given person count, once per layout (plain
and partitioned), then times three kinds of incremental sync:

* an OBS wave (new obs rows on existing encounters) — flat_obs /
  flat_lab_obs / flat_visit_summary / latest must run; flat_orders has
  nothing to see and, with the stage-level short-circuit, is skipped
  outright;
* an ORDERS wave (new order rows) — only flat_orders runs; the three
  obs-derived stages and the latest rebuild all skip, including the
  O(target) flat_obs max_date_created snapshot read;
* a NO-OP sync (nothing new) — every stage skips; the whole sync is
  the four source signal scans.

Each wave is also timed with the short-circuit DISABLED (the runner's
``_signal_covered`` answering False): the r6 behavior, where every sync
pays all five stages' plan building, probes, and the latest-table
rebuild even when a wave touches one table.

Usage: python tests/pipeline_sync_probe.py [n_persons]   # default 4800
Results land in PERF.md by hand.
"""

from __future__ import annotations

import datetime as dt
import json
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

import pandas as pd  # noqa: E402


def main(n: int) -> None:
    from mrsboraetl_spark.engine import PipelineRunner
    from mrsboraetl_spark.session import get_spark
    from tests.fixtures import make_sources, to_spark

    spark = get_spark(app_name="pipeline_sync_probe")
    pdfs = make_sources(n_persons=n, seed=17)
    obs_pdf, enc_pdf = pdfs["obs"].copy(), pdfs["encounter"].copy()
    orders_pdf = pdfs["orders"].copy()
    wm = max(obs_pdf["date_created"].max(), orders_pdf["date_created"].max())
    late = enc_pdf["date_changed"].notna() & (enc_pdf["date_changed"] > wm)
    enc_pdf.loc[late, "date_changed"] = wm
    pdfs = dict(pdfs, obs=obs_pdf, encounter=enc_pdf, orders=orders_pdf)

    def obs_wave(k: int):
        cands = (
            obs_pdf[obs_pdf["voided"] == 0]
            .drop_duplicates("encounter_id")
            .head(20)
        )
        rows = []
        next_id = int(obs_pdf["obs_id"].max()) + 1
        for _, c in cands.iterrows():
            r = c.to_dict()
            r.update(
                obs_id=next_id, concept_id=5089, value_coded=None,
                value_numeric=7.5,
                date_created=wm + dt.timedelta(days=k),
            )
            rows.append(r)
            next_id += 1
        return dict(
            pdfs,
            obs=pd.concat(
                [obs_pdf, pd.DataFrame(rows)], ignore_index=True
            ),
        )

    def orders_wave(k: int):
        cands = orders_pdf[orders_pdf["voided"] == 0].head(20)
        rows = []
        next_id = int(orders_pdf["order_id"].max()) + 1
        for _, c in cands.iterrows():
            r = c.to_dict()
            r.update(
                order_id=next_id,
                date_created=wm + dt.timedelta(days=k),
            )
            rows.append(r)
            next_id += 1
        return dict(
            pdfs,
            orders=pd.concat(
                [orders_pdf, pd.DataFrame(rows)], ignore_index=True
            ),
        )

    results = {"n_persons": n}
    for layout in ("plain", "partitioned"):
        for skip in (True, False):
            root = tempfile.mkdtemp(prefix=f"psp_{layout}_{skip}_")
            runner = PipelineRunner(
                spark, root, partitioned=layout == "partitioned"
            )
            if not skip:
                runner._signal_covered = lambda new, stored: False
            base = to_spark(spark, pdfs)
            runner.run(base, mode="rebuild")
            runner.run(base, mode="sync")  # drain watermark stragglers
            label = f"{layout}_skip_{'on' if skip else 'off'}"
            res = {}
            for wave_name, dfs in (
                ("obs_wave", to_spark(spark, obs_wave(1))),
                ("orders_wave", to_spark(spark, orders_wave(2))),
                ("noop", base),
            ):
                t0 = time.time()
                runner.run(dfs, mode="sync")
                res[wave_name + "_sec"] = round(time.time() - t0, 1)
            results[label] = res
    print(json.dumps(results), flush=True)


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 4800)
