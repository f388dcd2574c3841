"""JDBC partitioned-read pipeline probe (manual tool, not a pytest
test) — r10, VERDICT r9 item 7.

The end-to-end JDBC pins (tests/test_jdbc_pipeline.py) run on tiny
Derby fixtures with single-connection reads; this probe runs the
pipeline at scale (default 50k persons) with the ``partition_column``/
``num_partitions`` fan-out (sources/readers.py) against an embedded
Derby database — the local stand-in for the reference's replicated
MySQL (flat_obs_v1.0.sql:147-149) — and records:

* wall per phase (rebuild, delta sync, no-op sync);
* the number of SELECT statements the database actually served per
  phase (Derby's ``derby.language.logStatementText`` database
  property; Spark opens ONE connection per partition per JDBC read,
  so the SELECT count is the connection-count evidence the verdict
  asked for — a partitioned scan of a table shows up as
  ``num_partitions`` bounded SELECTs, a no-op sync as a handful of
  one-row probes and ZERO table scans).

Usage: python tests/jdbc_scale_probe.py [--plain] [n_persons]
Defaults to 50000 persons on the partitioned (manifest) layout;
``--plain`` runs the plain layout.  Results land in PERF.md by hand.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import json
import os
import re
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

import pandas as pd  # noqa: E402

DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
# Fan-out key per source table: the integer PK Spark range-partitions
# the JDBC read on (the production MySQL shape; every table has one).
PART_COLS = {
    "obs": ("obs_id", 8),
    "encounter": ("encounter_id", 8),
    "orders": ("order_id", 4),
    "person": ("person_id", 4),
}


def _log_tail(path: str, offset: int) -> tuple[str, int]:
    if not os.path.exists(path):
        return "", offset
    with open(path, errors="replace") as f:
        f.seek(offset)
        txt = f.read()
    return txt, offset + len(txt)


def _count_selects(txt: str) -> dict:
    """Per-source-table SELECT executions in a derby.log slice, plus
    how many were one-row aggregate probes (MAX/COUNT/SUM shapes)."""
    out = {"total": 0, "probes": 0, "by_table": {}}
    for line in txt.splitlines():
        if "Executing" not in line or "SELECT" not in line.upper():
            continue
        u = line.upper()
        out["total"] += 1
        if "MAX(" in u or "SUM(" in u or "COUNT(" in u:
            out["probes"] += 1
        for t in PART_COLS:
            if re.search(rf"\b{t.upper()}\b", u):
                out["by_table"][t] = out["by_table"].get(t, 0) + 1
                break
    return out


def run_probe(n: int, partitioned: bool = True) -> None:
    from mrsboraetl_spark.engine import PipelineRunner
    from mrsboraetl_spark.session import get_spark
    from mrsboraetl_spark.sources.readers import JdbcSource
    from tests.fixtures import make_sources, to_spark

    spark = get_spark(app_name="jdbc_scale_probe")
    jvm = spark.sparkContext._jvm
    log_path = os.path.abspath("derby.log")
    jvm.java.lang.System.setProperty(
        "derby.language.logStatementText", "true"
    )

    pdfs = make_sources(n_persons=n, seed=7)
    obs_pdf, enc_pdf = pdfs["obs"].copy(), pdfs["encounter"].copy()
    wm = obs_pdf["date_created"].max()
    late = enc_pdf["date_changed"].notna() & (enc_pdf["date_changed"] > wm)
    enc_pdf.loc[late, "date_changed"] = wm
    pdfs = dict(pdfs, obs=obs_pdf, encounter=enc_pdf)
    dfs = to_spark(spark, pdfs)

    db = tempfile.mkdtemp(prefix="jdbc_scale_") + "/db"
    url = f"jdbc:derby:{db};create=true"
    t0 = time.time()
    for name, df in dfs.items():
        (
            df.write.format("jdbc")
            .option("url", url)
            .option("dbtable", name)
            .option("driver", DRIVER)
            .option("batchsize", "10000")
            .mode("overwrite")
            .save()
        )
    load_s = time.time() - t0
    # database-level property survives however the engine was booted
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.execute(
        "CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY("
        "'derby.language.logStatementText', 'true')"
    )
    st.close()
    conn.close()

    def src(name: str) -> JdbcSource:
        col, parts = PART_COLS[name]
        lo = int(pdfs[name][col].min())
        hi = int(pdfs[name][col].max())
        # snapshot=False: the probe's A-side is the PLAIN lazy-scan
        # path (the pre-r10 behavior the snapshot default replaced) —
        # the default (None=auto) would stage and erase the comparison
        return JdbcSource(
            url, name, {"driver": DRIVER},
            partition_column=col, num_partitions=parts,
            lower_bound=lo, upper_bound=hi + 1, snapshot=False,
        )

    sources = {name: src(name) for name in PART_COLS}
    root = tempfile.mkdtemp(prefix="jdbc_scale_store_")
    runner = PipelineRunner(spark, root, partitioned=partitioned)

    results: dict = {
        "n_persons": n,
        "layout": "partitioned" if partitioned else "plain",
        "rows": {k: len(v) for k, v in pdfs.items()},
        "jdbc_load_sec": round(load_s, 1),
        "partitions": {k: v[1] for k, v in PART_COLS.items()},
    }
    offset = os.path.getsize(log_path) if os.path.exists(log_path) else 0

    snap_sources = {
        name: dataclasses.replace(s, snapshot=True)
        for name, s in sources.items()
    }
    for phase, mutate in (
        ("rebuild", None),
        ("delta_sync", "insert"),
        ("noop_sync", None),
        # same delta shape again, but with snapshot staging: the pipe
        # must be crossed once per CHANGED table (obs: num_partitions
        # SELECTs total), not once per Spark action
        ("delta_sync_snapshot", "insert"),
    ):
        if mutate == "insert":
            # 20 new obs rows appended straight into the database — the
            # replica moved on, exactly the reference's nightly shape.
            # Each wave gets fresh ids and a later date_created so the
            # second delta is seen as new work, never a duplicate.
            wave = sum(1 for k in results if k.startswith("delta"))
            cands = (
                obs_pdf[obs_pdf["voided"] == 0]
                .drop_duplicates("encounter_id")
                .head(20)
            )
            nid = int(obs_pdf["obs_id"].max()) + 1 + 1000 * wave
            rows = []
            for _, c in cands.iterrows():
                r = c.to_dict()
                r.update(
                    obs_id=nid, concept_id=5089, value_coded=None,
                    value_numeric=42.5 + wave,
                    date_created=wm + dt.timedelta(days=1 + wave),
                )
                rows.append(r)
                nid += 1
            delta = to_spark(spark, {"obs": pd.DataFrame(rows)})["obs"]
            (
                delta.write.format("jdbc")
                .option("url", url)
                .option("dbtable", "obs")
                .option("driver", DRIVER)
                .mode("append")
                .save()
            )
        _, offset = _log_tail(log_path, offset)  # drop setup noise
        t0 = time.time()
        runner.run(
            snap_sources if phase == "delta_sync_snapshot" else sources,
            mode="rebuild" if phase == "rebuild" else "sync",
        )
        wall = time.time() - t0
        txt, offset = _log_tail(log_path, offset)
        results[phase] = {
            "wall_sec": round(wall, 1),
            "selects": _count_selects(txt),
        }
    print(json.dumps(results), flush=True)


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if a != "--plain"]
    run_probe(
        int(args[0]) if args else 50000,
        partitioned="--plain" not in sys.argv[1:],
    )
