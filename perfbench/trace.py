"""Spans and counters for the traced run.

The tracer wraps public functions of each layer of the package from the
outside (the package itself is not modified) and records one span per
call: name, layer, start, end, parent span and operation id, plus the
Spark job counter at both ends.  Spans stay in memory and are written
as JSON when the run ends.  ``Tracer.uninstall`` restores every wrapped
attribute.

Layer of a span is the package module it wraps; ``TIERS`` maps those
onto the four tiers every workload has, so per-layer metrics exist for
both the pipeline and the curation workload:

* ``api``      - the entry point the benchmark calls (``engine``
  ``PipelineRunner`` methods, ``operators.corpus.curate_and_export``);
* ``plan``     - plan builders (``plans`` ``build_flat_*`` /
  ``incremental_flat_*``; ``operators`` curation builders);
* ``sources``  - footer change signals, watermarks, versioned tables and
  training shards;
* ``pyspark``  - DataFrame actions and writes.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

TIERS = {
    "engine": "api",
    "operators.api": "api",
    "plans": "plan",
    "operators": "plan",
    "sources": "sources",
    "pyspark": "pyspark",
}
PLAN_BUILDERS = (
    "build_flat_obs", "incremental_flat_obs",
    "build_flat_orders", "incremental_flat_orders",
    "build_flat_lab_obs", "incremental_flat_lab_obs",
    "build_flat_visit_summary", "incremental_flat_visit_summary",
    "build_flat_latest_hiv_summary",
)
FLAT_TABLES = (
    "flat_obs", "flat_orders", "flat_lab_obs",
    "flat_visit_summary", "flat_latest_hiv_summary",
)


class Tracer:
    def __init__(self, probe):
        self.probe = probe
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._saved: list[tuple] = []
        self.op: str | None = None

    # ------------------------------------------------------------ spans

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        rec = {
            "id": len(self.spans), "name": name, "layer": layer,
            "op": self.op,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "t0": time.perf_counter(), "j0": self.probe.jobs(),
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["t1"] = time.perf_counter()
            rec["j1"] = self.probe.jobs()

    @contextlib.contextmanager
    def operation(self, op_id: str, role: str):
        """Span of one benchmark operation; also records its Spark
        counter deltas (read after the listener bus has drained)."""
        self.op = op_id
        start = self.probe.mark()
        w0 = time.time()
        try:
            with self.span(op_id, "op", role=role) as rec:
                yield rec
        finally:
            w1 = time.time()
            rec["spark"] = self.probe.delta(start, self.probe.mark(), w0, w1)
            self.op = None

    # --------------------------------------------------------- wrapping

    def wrap(self, owner, attr: str, layer: str, label: str | None = None,
             attrs=None):
        original = getattr(owner, attr)
        tracer = self
        name = label or attr

        @functools.wraps(original)
        def traced(*args, **kwargs):
            extra = attrs(args, kwargs) if attrs else {}
            with tracer.span(name, layer, **extra):
                return original(*args, **kwargs)

        self._saved.append((owner, attr, original))
        setattr(owner, attr, traced)

    def install(self) -> None:
        import mrsboraetl_spark.engine as engine
        import mrsboraetl_spark.operators.corpus as corpus
        import mrsboraetl_spark.operators.curation as curation
        import mrsboraetl_spark.sources.footer_stats as footer_stats
        import mrsboraetl_spark.sources.shards as shards
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        from mrsboraetl_spark.sources.versioned import VersionedTable
        from mrsboraetl_spark.sources.watermark import WatermarkStore

        runner = engine.PipelineRunner
        for m in ("run", "read_pipeline", "read_target", "read_target_at"):
            self.wrap(runner, m, "engine", f"PipelineRunner.{m}")
        self.wrap(
            runner, "read_target_months", "engine",
            "PipelineRunner.read_target_months",
            attrs=lambda a, k: {
                "months": len(k["months"] if "months" in k else a[2])
            },
        )
        # the builders are imported into the engine namespace; wrapping
        # them there catches every call the engine makes, including the
        # eager probes and pins they run
        for b in PLAN_BUILDERS:
            self.wrap(engine, b, "plans")
        for f in ("parquet_column_maxes", "parquet_row_count"):
            self.wrap(footer_stats, f, "sources", f"footer_stats.{f}")
        self.wrap(WatermarkStore, "last_update", "sources",
                  "WatermarkStore.last_update")
        self.wrap(WatermarkStore, "log_run", "sources",
                  "WatermarkStore.log_run",
                  attrs=lambda a, k: {"table": a[1]})
        for m in ("commit", "merge_delta", "read"):
            self.wrap(VersionedTable, m, "sources", f"VersionedTable.{m}")
        for f in ("write_training_shards", "read_training_shards",
                  "read_manifest"):
            self.wrap(shards, f, "sources", f"shards.{f}")
        self.wrap(corpus, "curate_and_export", "operators.api",
                  "corpus.curate_and_export")
        self.wrap(corpus, "curate_corpus", "operators",
                  "corpus.curate_corpus")
        self.wrap(curation, "materialize_sequences", "operators",
                  "curation.materialize_sequences")
        for m, label in (("collect", "collect"), ("count", "count"),
                         ("checkpoint", "checkpoint"),
                         ("localCheckpoint", "checkpoint")):
            self.wrap(DataFrame, m, "pyspark", label)
        for m in ("parquet", "save"):
            self.wrap(DataFrameWriter, m, "pyspark", "write")

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, original = self._saved.pop()
            setattr(owner, attr, original)

    # ------------------------------------------------------- summaries

    def op_metrics(self, op_span: dict) -> dict:
        """Per-layer numbers of one operation span."""
        spans = [s for s in self.spans if s["op"] == op_span["name"]]
        children: dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                children[s["parent"]] = (
                    children.get(s["parent"], 0.0) + s["t1"] - s["t0"]
                )
        wall = op_span["t1"] - op_span["t0"]
        out = {"wall_s": wall, "trace.spans": len(spans) - 1}
        out.update(op_span["spark"])
        for tier in ("api", "plan", "sources", "pyspark"):
            out[f"tier.{tier}.self_s"] = 0.0
        for kind in ("write", "collect", "count", "checkpoint"):
            out[f"pyspark.{kind}.calls"] = 0
        for s in spans:
            tier = TIERS.get(s["layer"])
            if tier:
                out[f"tier.{tier}.self_s"] += (
                    s["t1"] - s["t0"] - children.get(s["id"], 0.0)
                )
            if s["layer"] == "pyspark":
                out[f"pyspark.{s['name']}.calls"] += 1
        probes = [s for s in spans
                  if s["name"] == "PipelineRunner.read_target_months"]
        out["engine.month_probes"] = len(probes)
        out["engine.months_probed"] = sum(s["attrs"]["months"] for s in probes)
        out.update(self._stage_intervals(op_span, spans, wall))
        return out

    @staticmethod
    def _stage_intervals(op_span: dict, spans: list[dict], wall: float):
        """Split the operation at each stage's ``log_run``: a stage's
        interval ends when its run row is logged and starts where the
        previous one ended.  The prelude (source change signals, the
        person-void fingerprint) runs until the first stage reads its
        watermark; the tail is everything after the last ``log_run``.
        A skipped stage logs nothing and reads as 0 jobs, 0 share."""
        out = {}
        for part in ("prelude",) + FLAT_TABLES + ("tail",):
            out[f"stage.{part}.jobs"] = 0
            out[f"stage.{part}.share"] = 0.0
        logs = sorted(
            (s for s in spans if s["name"] == "WatermarkStore.log_run"),
            key=lambda s: s["t1"],
        )
        if not logs or wall <= 0:
            return out
        first = min(
            (s for s in spans if s["name"] == "WatermarkStore.last_update"),
            key=lambda s: s["t0"], default=logs[0],
        )
        t, j = op_span["t0"], op_span["j0"]
        bounds = [("prelude", first["t0"], first["j0"])]
        for s in logs:
            table = s["attrs"]["table"].rsplit("_v", 1)[0]
            bounds.append((table, s["t1"], s["j1"]))
        bounds.append(("tail", op_span["t1"], op_span["j1"]))
        for part, t_end, j_end in bounds:
            out[f"stage.{part}.jobs"] += j_end - j
            out[f"stage.{part}.share"] += (t_end - t) / wall
            t, j = t_end, j_end
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, default=str)
