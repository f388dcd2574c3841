"""Benchmark of mrsboraetl_spark as a user runs it.

    python3 perfbench/run.py --workload sync --seed 1 --seconds 40 --trace 0

Workloads (see perfbench/workloads.py):

* ``sync``: the pipeline on the partitioned manifest layout over parquet
  path sources: a rebuild (full), then rounds of a no-op sync (update)
  and the report reads (read);
* ``curate_export``: ``operators.corpus.curate_and_export`` of the corpus
  (full), then rounds of a re-shard of the export for the next epoch
  (update) and a read-back of the exported shards (read).

One process, one client, closed loop, Spark master ``local[nproc]``.
Set-up is the session start and landing the seeded inputs with pyarrow.
A run starts with the full operation, then repeats rounds of update and
read until the next round would end past ``--seconds`` (counted from the
start of the full operation), at least ``MIN_ROUNDS`` rounds.  It times
each operation from outside the package, wall and CPU seconds (the CPU
of this process, the driver JVM and its Python workers), and checks its
output untimed.

The end-to-end time is the CPU the full operation costs, timed cold,
the first of its kind in the JVM, the same way on every run, as a
scheduled job runs it: a warm-up full operation would take as long
again, and a run's time budget is about a minute.  Its wall time is not
bounded: on a shared host it follows the CPU other tenants take (steal),
and over ten seeds on a 4-vCPU host the rebuild's wall time spread 0.23
of its median (quartile distance), its CPU seconds 0.08.  The wall time
is a per-layer metric (``full.wall_s``) and is in the details line.
Operations of a second or less spread too much from one JVM to the next
(0.3-0.5 of their median over a few runs, whatever the warm-up) to bound
at all; their wall and CPU times are per-layer metrics too.  The first
``WARMUP_ROUNDS`` rounds are left out of their medians.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` also runs the
workload's wave (a small delta, then the operation that brings the
output up to date, and the incremental == rebuild check) right after the
full operation, wraps the public functions of each layer
(perfbench/trace.py), prints the per-layer metrics and writes every span
to ``.perfbench/trace-<workload>-<seed>.json``.  The tracing overhead of
the full operation is its traced ``full.wall_s`` minus its timed wall
time in the details line.  The last line of standard output is the
result object; the line before it holds the run's details (input sizes,
box load and steal, every operation's wall and CPU time).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "full_cpu_s": "s",
    "full_write_bytes": "bytes",
    "update_write_bytes": "bytes",
    "storage_bytes": "bytes",
}
ROLES = ("full", "wave", "update", "read")
WARMUP_ROUNDS = 1
MIN_ROUNDS = 3

_OP_SPARK = ("wall_s", "cpu_s", "spark.jobs", "spark.tasks",
             "driver.only_s", "spark.executor_run_s", "spark.executor_cpu_s",
             "spark.shuffle_write_bytes", "spark.input_bytes", "trace.spans")
_STAGES = tuple(
    f"stage.{p}.{m}"
    for p in ("prelude", "flat_obs", "flat_orders", "flat_lab_obs",
              "flat_visit_summary", "flat_latest_hiv_summary", "tail")
    for m in ("jobs", "share")
)
_OP_LAYERS = (
    tuple(f"pyspark.{k}.calls" for k in ("write", "collect", "count",
                                         "checkpoint"))
    + ("storage.files_written", "storage.bytes_written")
    + _STAGES
)
_TIERS = tuple(f"tier.{t}.self_s" for t in ("api", "plan", "sources",
                                            "pyspark"))
# Per-layer times are listed only where both workloads spend time, so no
# time reads 0 on every run: the re-shard calls no api or plan function,
# and only the full operations are long enough to always show GC.
PER_LAYER = (
    [f"{r}.{m}" for r in ROLES for m in _OP_SPARK]
    + ["full.spark.gc_s"]
    + [f"{r}.{t}" for r in ("full", "wave") for t in _TIERS]
    + [f"update.{t}" for t in _TIERS[2:]]
    + [f"{r}.{m}" for r in ("full", "wave") for m in _OP_LAYERS]
    + ["read.storage.files_live", "wave.engine.month_probes",
       "wave.engine.months_probed", "wave.engine.months_probed_share",
       "session.start_s", "process.peak_rss_mb"]
)


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith("share"):
        return "ratio"
    return "count"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: a few hundred persons and documents, for "
                        "the benchmark's own self-test")
    return p.parse_args(argv)


def _median(values):
    return statistics.median(values) if values else 0.0


class Run:
    """One benchmark run in one Spark session."""

    def __init__(self, workload, probe, tracer):
        self.w = workload
        self.probe = probe
        self.tracer = tracer
        self.samples = {r: [] for r in ROLES}
        self.cpu = {r: [] for r in ROLES}
        self.attempted = 0
        self.failed = 0
        self.checks_s = 0.0

    def op(self, role: str) -> None:
        self.attempted += 1
        start = time.perf_counter()
        try:
            seconds, cpu, check = self.w.timed(role, self.probe.cpu_s,
                                               self.tracer)
            self.samples[role].append(seconds)
            self.cpu[role].append(cpu)
            t_check = time.perf_counter()
            check()
            self.checks_s += time.perf_counter() - t_check
        except Exception:
            self.failed += 1
            self.samples[role].append(time.perf_counter() - start)
            self.cpu[role].append(0.0)
            traceback.print_exc()

    def window(self, seconds: float) -> None:
        """The first operations, then rounds of the workload's ``REPEAT``
        until the next round would end past ``seconds``; at least
        ``MIN_ROUNDS`` rounds."""
        t_start = time.perf_counter()
        for role in self.w.first_roles():
            self.op(role)
        self.probe.collect_garbage()
        rounds = 0
        while True:
            t_round = time.perf_counter()
            for role in self.w.REPEAT:
                self.op(role)
            rounds += 1
            now = time.perf_counter()
            if (rounds >= MIN_ROUNDS
                    and now - t_start + (now - t_round) > seconds):
                break

    def measured(self, role: str, values: list) -> list:
        """The values of a role's operations, less the warm-up rounds."""
        return values[WARMUP_ROUNDS:] if role in self.w.REPEAT else values

    def per_layer(self, session_start_s: float) -> dict:
        by_role: dict[str, list[dict]] = {r: [] for r in self.samples}
        for s in self.tracer.spans:
            if s["layer"] == "op":
                by_role[s["attrs"]["role"]].append(self.tracer.op_metrics(s))
        vals = {}
        for role, ops in by_role.items():
            for i, m in enumerate(ops):
                m["storage.files_written"] = self.w.files_written[role][i]
                m["storage.bytes_written"] = self.w.write_bytes[role][i]
                m["cpu_s"] = self.cpu[role][i]
            ops = self.measured(role, ops)
            for key in {k for m in ops for k in m}:
                vals[f"{role}.{key}"] = _median([m[key] for m in ops])
        vals["read.storage.files_live"] = self.w.files_live
        probes = vals.get("wave.engine.month_probes", 0)
        if probes:
            vals["wave.engine.months_probed_share"] = vals[
                "wave.engine.months_probed"
            ] / (probes * self.w.months_total())
        vals["session.start_s"] = session_start_s
        vals["process.peak_rss_mb"] = self.probe.peak_rss_mb()
        return {k: vals.get(k, 0) for k in PER_LAYER}


def main(argv=None) -> int:
    t_main = time.perf_counter()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    missing = [p for p in ("mrsboraetl_spark/engine.py", "tests/fixtures.py",
                           "bench.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: package sources not found under {ROOT}: "
              f"{', '.join(missing)}", file=sys.stderr)
        return 2

    from bench import _load_context as load_context
    from perfbench.spark_probe import SparkProbe
    from perfbench.workloads import SIZES, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    load_start = load_context()

    from mrsboraetl_spark.session import get_spark

    t_session = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    session_start_s = time.perf_counter() - t_session
    gateway = spark.sparkContext._gateway
    try:
        probe = SparkProbe(spark)
        workload = WORKLOADS[args.workload](
            spark, work, args.seed, SIZES[args.size], thorough=bool(args.trace)
        )
        workload.setup()
        setup_s = time.perf_counter() - t_main

        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(probe)
            tracer.install()
        run = Run(workload, probe, tracer)
        try:
            run.window(args.seconds)
        finally:
            if tracer is not None:
                tracer.uninstall()

        if tracer is None:
            metrics = {
                "setup_s": setup_s,
                "full_cpu_s": _median(run.cpu["full"]),
                "full_write_bytes": _median(workload.write_bytes["full"]),
                "update_write_bytes": _median(run.measured(
                    "update", workload.write_bytes["update"])),
                "storage_bytes": workload.storage_bytes(),
            }
        else:
            metrics = run.per_layer(session_start_s)
            tracer.dump(os.path.join(
                out_dir, f"trace-{args.workload}-{args.seed}.json"
            ))
        load_end = load_context()
        details = {
            "workload": args.workload, "seed": args.seed, "size": args.size,
            "cpus": cpus, "inputs": workload.inputs,
            "samples_s": run.samples, "cpu_s": run.cpu,
            "checks_s": run.checks_s,
            "write_bytes": workload.write_bytes,
            "load1": [load_start["load1"], load_end["load1"]],
            "steal_fraction": (
                (load_end["steal_ticks"] - load_start["steal_ticks"])
                / max(1, load_end["total_ticks"] - load_start["total_ticks"])
            ),
        }
    finally:
        proc = getattr(gateway, "proc", None)
        spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"details": details}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
