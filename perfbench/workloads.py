"""The benchmark's two workloads.

A run sets a workload up once, then runs one ``full`` operation and
repeats rounds of ``update`` and ``read`` operations, in a closed loop
(one client; the next operation starts when the previous one returns).
The traced run adds one ``wave`` operation right after the full one:

======  ========================================  ==========================
role    ``sync``                                  ``curate_export``
======  ========================================  ==========================
full    ``run(mode="rebuild")`` of the pipeline   ``curate_and_export`` of
        into a fresh root                         the corpus
update  ``run(mode="sync")`` on unchanged         re-shard the export for
        sources: the change-signal and stage-     the next epoch
        skip path every scheduled sync pays       (``write_training_shards``)
read    the ``read_pipeline`` report reads        read the exported shards
                                                  and audit back
wave    orders wave (10 new orders of 2 persons   document wave (50 new
        in one month, one new source file), then  docs, one new file), then
        ``run(mode="sync")``                      ``curate_and_export`` of
                                                  the grown corpus
======  ========================================  ==========================

Each operation is followed by an untimed output check; an exception or a
failed check counts the operation as failed.  A no-op sync must commit
nothing (the pipeline's epoch map is unchanged).  After the orders wave,
flat_orders must carry the wave on exactly its encounters, and every flat
table the sync maintained must match (row count and order-independent
hash) the tables the ``build_flat_*`` plans compute from the same sources
(the incremental == rebuild invariant).

The wave is left out of the timed runs: a delta sync costs about 60
Spark jobs, 8-15 s on a 4-core box, so a run has room for at most one
after its rebuild, and one sample of it spreads past any useful bound.
"""

from __future__ import annotations

import functools
import os
import shutil
import time

from perfbench.inputs import Corpus, PipelineSources, tree_bytes

ROLES = ("full", "update", "read", "wave")

SIZES = {
    # Both workloads are dominated by fixed per-job cost (a rebuild is
    # about 100 Spark jobs at any size up to tens of thousands of
    # persons), so larger inputs mostly add set-up time to a run.
    "full": {"n_persons": 600, "n_docs": 500},
    "tiny": {"n_persons": 200, "n_docs": 200},
}


class CheckFailed(Exception):
    pass


def _files_since(root: str, t0: float) -> tuple[int, int]:
    """(files, bytes) under ``root`` modified at or after ``t0``."""
    n = size = 0
    for d, _dirs, names in os.walk(root):
        for name in names:
            try:
                st = os.stat(os.path.join(d, name))
            except OSError:
                continue
            if st.st_mtime >= t0:
                n += 1
                size += st.st_size
    return n, size


def _count_files(root: str) -> int:
    return sum(len(names) for _d, _dirs, names in os.walk(root))


def _fingerprint_row(df, key: str):
    """One row (key, rows, order-independent hash) of a table.  Map
    columns are left out, as the repository's own incremental-vs-rebuild
    pins do; the legacy string rendering of the same map stays in."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = sorted(
        f.name for f in df.schema.fields
        if not isinstance(f.dataType, T.MapType)
    )
    return df.agg(
        F.lit(key).alias("key"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    )


def fingerprints(tables: dict) -> dict[str, tuple[int, int]]:
    """{name: (rows, hash)} of several tables, in one Spark action."""
    rows = functools.reduce(
        lambda a, b: a.unionByName(b),
        [_fingerprint_row(df, key) for key, df in tables.items()],
    ).collect()
    return {r["key"]: (int(r["n"]), int(r["h"] or 0)) for r in rows}


class Workload:
    """``setup`` lands the inputs; ``op(role)`` runs one operation and
    returns a zero-argument output check, which the caller runs untimed.
    ``first_roles()`` lists the operations a run starts with (a full
    operation writes under a fresh ``output_root()``); ``REPEAT`` lists
    the operations of each later round."""

    REPEAT = ("update", "read")

    def __init__(self, spark, work: str, seed: int, size: dict,
                 thorough: bool = False):
        self.spark = spark
        self.thorough = thorough
        self.work = work
        self.seed = seed
        self.size = size
        self.inputs: dict = {}
        self.write_bytes: dict[str, list[int]] = {r: [] for r in ROLES}
        self.files_written: dict[str, list[int]] = {r: [] for r in ROLES}
        self.files_live = 0
        self.round = 0

    def first_roles(self) -> tuple[str, ...]:
        return ("full", "wave") if self.thorough else ("full",)

    def output_root(self) -> str:
        return os.path.join(self.work, f"round{self.round}")

    def new_round(self) -> str:
        """Drop the previous round's output; returns the new root."""
        shutil.rmtree(self.output_root(), ignore_errors=True)
        self.round += 1
        return self.output_root()

    def timed(self, role: str, cpu_s, tracer=None):
        """Run one operation of ``role``; returns (seconds, CPU seconds
        as ``cpu_s()`` counts them, check)."""
        t0 = time.time()
        cpu0 = cpu_s()
        start = time.perf_counter()
        if tracer is None:
            check = self.op(role)
        else:
            op_id = f"{role}#{len(self.write_bytes[role])}"
            with tracer.operation(op_id, role):
                check = self.op(role)
        seconds = time.perf_counter() - start
        cpu = cpu_s() - cpu0
        root = self.output_root()
        n, size = _files_since(root, t0)
        self.files_written[role].append(n)
        self.write_bytes[role].append(size)
        if role == "read":
            self.files_live = _count_files(root)
        return seconds, cpu, check

    def months_total(self) -> int:
        return 0

    def storage_bytes(self) -> int:
        """Live bytes under the latest round's output root."""
        return tree_bytes(self.output_root())


class SyncWorkload(Workload):
    name = "sync"

    def setup(self) -> None:
        self.src = PipelineSources(
            os.path.join(self.work, "src"), self.size["n_persons"], self.seed
        )
        self.inputs = {
            "rows": dict(self.src.rows),
            "bytes": self.src.bytes_on_disk(),
            "months": len(self.src.months),
        }

    def months_total(self) -> int:
        return len(self.src.months)

    def op(self, role: str):
        from mrsboraetl_spark.engine import PipelineRunner

        if role == "full":
            self.runner = PipelineRunner(
                self.spark, self.new_round(), partitioned=True, manifest=True
            )
            self.runner.run(self.src.paths, mode="rebuild")
            self.latest_rows = None
            return lambda: None
        if role == "update":
            before = self.runner.pipeline_snapshot()
            self.runner.run(self.src.paths, mode="sync")
            return lambda: self._check_noop(before)
        if role == "wave":
            wave = self.src.orders_wave(n_rows=10, n_persons=2)
            self.runner.run(self.src.paths, mode="sync")
            self.latest_rows = None
            return lambda: (self._check_wave(*wave),
                            self._check_against_plans())
        return self._read()

    def _check_noop(self, before) -> None:
        after = self.runner.pipeline_snapshot()
        if after != before:
            raise CheckFailed(f"no-op sync committed: {before} -> {after}")

    def _check_wave(self, created, encounters: set) -> None:
        """The sync applied the wave to exactly its encounters: they, and
        only they, carry the wave's date_created in flat_orders."""
        from pyspark.sql import functions as F

        got = {
            r[0] for r in self.runner.read_target("flat_orders")
            .filter(F.col("max_date_created") == F.lit(created))
            .select("encounter_id").distinct().collect()
        }
        if got != encounters:
            raise CheckFailed(
                f"flat_orders: wave rows on {sorted(got)}, "
                f"expected {sorted(encounters)}"
            )

    def _read(self):
        from pyspark.sql import functions as F

        vs = self.runner.read_pipeline("flat_visit_summary")
        month = self.src.months[len(self.src.months) // 2]
        lo = F.to_timestamp(F.lit(f"{month}-01"))
        window = (
            vs.filter(
                (F.col("encounter_datetime") >= lo)
                & (F.col("encounter_datetime") < F.add_months(lo, 3))
            )
            .groupBy("encounter_type")
            .agg(F.count(F.lit(1)).alias("visits"),
                 F.countDistinct("person_id").alias("persons"))
            .collect()
        )
        latest = (
            self.runner.read_pipeline("flat_latest_hiv_summary")
            .groupBy("who_stage").count().collect()
        )

        def check():
            if self.latest_rows is None:
                self.latest_rows = self.runner.read_target(
                    "flat_latest_hiv_summary"
                ).count()
            if not window or sum(r["count"] for r in latest) != (
                self.latest_rows
            ):
                raise CheckFailed("report read disagrees with the target")

        return check

    def _check_against_plans(self) -> None:
        """incremental == rebuild: the synced tables against the rebuild
        plans evaluated on the same sources (the engine's rebuild runs
        exactly these builders, then writes)."""
        from mrsboraetl_spark.plans import (
            build_flat_lab_obs,
            build_flat_latest_hiv_summary,
            build_flat_obs,
            build_flat_orders,
            build_flat_visit_summary,
        )

        src = {
            k: self.spark.read.parquet(p) for k, p in self.src.paths.items()
        }
        flat_obs = build_flat_obs(src["obs"], src["encounter"], src["person"])
        flat_lab = build_flat_lab_obs(src["obs"])
        vs = build_flat_visit_summary(flat_obs, flat_lab, src["person"])
        expected = {
            "flat_obs": flat_obs,
            "flat_orders": build_flat_orders(
                src["orders"], src["encounter"], src["person"]
            ),
            "flat_lab_obs": flat_lab,
            "flat_visit_summary": vs,
            "flat_latest_hiv_summary": build_flat_latest_hiv_summary(vs),
        }
        synced = fingerprints(
            {t: self.runner.read_target(t) for t in expected}
        )
        rebuilt = fingerprints(expected)
        for table in expected:
            if synced[table] != rebuilt[table]:
                raise CheckFailed(
                    f"{table}: synced {synced[table]} != "
                    f"rebuilt {rebuilt[table]}"
                )


class CurateExportWorkload(Workload):
    name = "curate_export"
    N_SHARDS = 8
    WAVE_DOCS = 50

    def setup(self) -> None:
        self.corpus = Corpus(
            os.path.join(self.work, "corpus"), self.size["n_docs"], self.seed
        )
        self.inputs = dict(self.corpus.counts,
                           bytes=self.corpus.bytes_on_disk())
        self.epoch = 0

    def op(self, role: str):
        if role == "full":
            return self._export()
        if role == "wave":
            self.corpus.wave(self.WAVE_DOCS)
            return self._export()
        if role == "update":
            return self._reshard()
        return self._read()

    def _export(self):
        from mrsboraetl_spark.operators import corpus
        from mrsboraetl_spark.sources.shards import read_manifest

        out = self.new_round()
        n_docs = self.corpus.counts["docs"]
        res = corpus.curate_and_export(
            self.spark.read.parquet(self.corpus.docs_path),
            self.spark.read.parquet(self.corpus.eval_path),
            out, n_shards=self.N_SHARDS, shard_seed=f"epoch{self.seed}",
        )

        def check():
            total = sum(res["dispositions"].values())
            if total != n_docs:
                raise CheckFailed(f"{total} dispositions for {n_docs} docs")
            man = read_manifest(os.path.join(out, "train_shards"))
            if man["n_shards"] != self.N_SHARDS:
                raise CheckFailed(f"manifest has {man['n_shards']} shards")

        return check

    def _reshard(self):
        """The next epoch's shards: the exported sequences globally
        re-shuffled under a new seed, without curating again.  Only the
        latest epoch is kept, so the live bytes do not grow with the
        number of re-shards in a run."""
        from mrsboraetl_spark.sources.shards import (
            read_training_shards,
            write_training_shards,
        )

        out = self.output_root()
        self.epoch += 1
        dest = os.path.join(out, f"epoch{self.epoch}")
        seqs = read_training_shards(
            self.spark, os.path.join(out, "train_shards")
        ).select("id", "seq_text", "seq_tokens", "boundaries")
        man = write_training_shards(
            seqs, "id", dest, self.N_SHARDS, f"{self.seed}:{self.epoch}",
            weight_col="seq_tokens",
        )

        def check():
            if man["n_shards"] != self.N_SHARDS:
                raise CheckFailed(f"re-shard has {man['n_shards']} shards")
            fp = fingerprints({
                "export": seqs,
                "epoch": read_training_shards(self.spark, dest).select(
                    *seqs.columns
                ),
            })
            if fp["export"] != fp["epoch"]:
                raise CheckFailed(f"re-shard changed the sequences: {fp}")
            shutil.rmtree(os.path.join(out, f"epoch{self.epoch - 1}"),
                          ignore_errors=True)

        return check

    def _read(self):
        from pyspark.sql import functions as F

        from mrsboraetl_spark.sources.shards import (
            read_manifest,
            read_training_shards,
        )

        out = self.output_root()
        shards_dir = os.path.join(out, "train_shards")
        man = read_manifest(shards_dir)
        per_shard = (
            read_training_shards(self.spark, shards_dir)
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("seqs"),
                 F.sum("seq_tokens").alias("tokens"))
            .collect()
        )
        audit = (
            self.spark.read.parquet(os.path.join(out, "audit"))
            .groupBy("disposition").count().collect()
        )

        def check():
            if (len(per_shard) != man["n_shards"]
                    or sum(r["count"] for r in audit)
                    != self.corpus.counts["docs"]):
                raise CheckFailed("export read-back is inconsistent")

        return check


WORKLOADS = {w.name: w for w in (SyncWorkload, CurateExportWorkload)}
