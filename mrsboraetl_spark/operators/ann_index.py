"""Persistent incremental IVF index: ANN search over a CONTINUOUSLY-
INGESTING embedding corpus.

The fourth member of the engine's incremental-index family (LSH bands
for near-dup, StatsIndex for profiling, SpanFrequencyIndex for
boilerplate): the batch operator (operators/similarity.ivf_topk)
re-assigns every vector to its coarse cell per run; at 100 TB the
corpus assignment pass is the avoidable cost, because cell assignment
is a pure function of (vector, centroids) once the quantizer is pinned.

* The CENTROIDS are fixed at index creation and stored next to the data
  (``_centroids.json``).  That makes the incremental contract EXACT:
  ingesting a corpus in any batch split yields the identical cell table
  as one-shot assignment, so ``topk`` equals the batch operator on the
  same centroids bit-for-bit (pytest-pinned) — the same
  "pin the nondeterminism, then everything merges" move as the span
  index (exact counts) vs the LSH index (ingest-ordered caps).
  The trade-off is drift: a pinned quantizer slowly mismatches a
  shifting embedding distribution.  That is the standard IVF operating
  model (FAISS-style: retrain offline, re-assign, swap) — ``retrain``
  is deliberately a NEW index + bulk re-ingest, never an in-place
  mutation.

* ``ingest`` appends (id, cell, vec) with the assignment done by the
  same broadcast-centroid expression as the batch operator — one
  codegen'd pass over the new batch only, no shuffle.

* ``topk`` probes: queries explode to their nprobe nearest cells, the
  stored table is hit with a cell equi-join (never a full scan of the
  index), candidates rank by exact cosine per query.

* ``compact`` folds the per-ingest files AND clusters the layout by
  cell (repartition on the cell key behind the rename-aside swap), so
  post-compaction probes read ~nprobe/n_centroids of the files — the
  file-layout half of the IVF bargain.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mrsboraetl_spark.operators._swap import rescue_orphan, swap_in
from mrsboraetl_spark.operators.similarity import (
    _nearest_cells_expr,
    cosine,
    nearest_cells_kernel,
)
from mrsboraetl_spark.sources import snapshot


class IvfIndex:
    def __init__(
        self,
        path: str,
        centroids: list[tuple[int, list[float]]] | None = None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        """Open (or create) an IVF index at ``path``.  ``centroids`` is
        required when creating; when opening an existing index it may be
        omitted (loaded from disk) — passing a DIFFERENT set raises."""
        self.path = path
        self.cent_path = os.path.join(path, "_centroids.json")
        self.id_col = id_col
        self.vec_col = vec_col
        if os.path.exists(self.cent_path):
            with open(self.cent_path) as f:
                manifest = json.load(f)
            # Back-compat: pre-epoch manifests are a bare centroid list
            # with the data always under "cells".
            if isinstance(manifest, list):
                manifest = {
                    "epoch": 0, "cells_dir": "cells", "centroids": manifest
                }
            stored = [
                (int(c), [float(x) for x in v])
                for c, v in manifest["centroids"]
            ]
            if centroids is not None:
                given = [
                    (int(c), [float(x) for x in v]) for c, v in centroids
                ]
                if given != stored:
                    raise ValueError(
                        f"index at {path} has pinned centroids; "
                        "call retrain() for a quantizer refresh"
                    )
            self.centroids = stored
            self.epoch = int(manifest["epoch"])
            self.cells_path = os.path.join(path, manifest["cells_dir"])
        else:
            if centroids is None:
                raise ValueError("creating an index requires centroids")
            self.centroids = [
                (int(c), [float(x) for x in v]) for c, v in centroids
            ]
            self.epoch = 0
            self.cells_path = os.path.join(path, "cells")
        # Restore a compact() crash's '.old' before is_empty can lie;
        # drop cell directories no committed epoch references (retrain
        # crash orphans — invisible, but disk they need not hold).
        rescue_orphan(self.cells_path)
        current = os.path.basename(self.cells_path)
        if os.path.isdir(self.path):
            for d in os.listdir(self.path):
                if (
                    d.startswith("cells")
                    and d != current
                    and not d.endswith(".old")
                    and os.path.isdir(os.path.join(self.path, d))
                ):
                    shutil.rmtree(
                        os.path.join(self.path, d), ignore_errors=True
                    )

    def _commit_centroids(self) -> None:
        if not os.path.exists(self.cent_path):
            os.makedirs(self.path, exist_ok=True)
            self._write_manifest()

    def _write_manifest(self) -> None:
        """Atomic manifest write — the COMMIT POINT tying (epoch,
        centroids, cells directory) together so readers never see a
        quantizer/assignment mismatch."""
        snapshot.write_json(
            self.cent_path,
            {
                "epoch": self.epoch,
                "cells_dir": os.path.basename(self.cells_path),
                "centroids": self.centroids,
            },
        )

    def is_empty(self) -> bool:
        return not os.path.exists(self.cells_path)

    def assign_cells(self, vectors: DataFrame) -> DataFrame:
        """(id, cell, vec) — the pure-function assignment every ingest
        and every batch comparison shares.  r13: runs through the Arrow
        assignment kernel (bit-identical ids, pinned kernel-vs-expr in
        tests/test_llmdata.py) — this is the full-batch pass, exactly
        where the expr spelling's interpreted per-element loop billed."""
        return nearest_cells_kernel(
            vectors.select(F.col(self.id_col), F.col(self.vec_col)),
            self.vec_col, self.centroids, 1,
        ).select(
            F.col(self.id_col),
            F.col("_cells").getItem(0).alias("cell"),
            F.col(self.vec_col),
        )

    def ingest(
        self, new_vectors: DataFrame, return_cell_counts: bool = False
    ) -> dict | None:
        """Assign the batch to cells and append — O(|batch|), the index
        is never re-read.  ``return_cell_counts``: also return
        {cell: n} for THIS batch (<= n_centroids rows, one extra
        O(|batch|) agg over the pinned assignment) — lets a streaming
        caller maintain running occupancy without ever re-scanning the
        index (see streaming/ann.py's retrain trigger)."""
        self._commit_centroids()
        assigned = self.assign_cells(new_vectors)
        if not return_cell_counts:
            assigned.write.mode("append").parquet(self.cells_path)
            return None
        assigned = assigned.localCheckpoint()
        assigned.write.mode("append").parquet(self.cells_path)
        return {
            int(r["cell"]): int(r["n"])
            for r in assigned.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    def cells(self, spark: SparkSession) -> DataFrame | None:
        if self.is_empty():
            return None
        return spark.read.parquet(self.cells_path)

    def cell_occupancy(self, spark: SparkSession) -> DataFrame:
        """(cell, n) over the persisted assignment — the quantizer-skew
        accounting (similarity.cell_occupancy on the stored table): a
        cell holding a large corpus fraction makes every cell-keyed
        probe/join quadratic there.  Bounded output (<= n_centroids
        rows); consult it before picking max_cell_freq or deciding the
        centroids need retraining."""
        stored = self.cells(spark)
        if stored is None:
            raise ValueError(f"index at {self.path} is empty")
        return stored.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))

    def topk(
        self,
        queries: DataFrame,
        k: int = 3,
        nprobe: int = 2,
        query_id: str = "query_id",
        query_vec: str = "query_vec",
    ) -> DataFrame:
        """(query_id, neighbor, cosine, rk): per query, the top-k stored
        vectors among its nprobe nearest cells, ranked by exact cosine —
        the probe half of operators/similarity.ivf_topk against the
        persisted assignment."""
        spark = queries.sparkSession
        stored = self.cells(spark)
        if stored is None:
            raise ValueError(f"index at {self.path} is empty")
        probes = queries.withColumn(
            "cell",
            F.explode(
                _nearest_cells_expr(self.centroids, query_vec, nprobe)
            ),
        )
        sim = F.round(
            cosine(F.col(query_vec), F.col(self.vec_col)), 4
        )
        scored = (
            stored.join(F.broadcast(probes), "cell")
            .filter(F.col(query_id) != F.col(self.id_col))
            .select(
                query_id,
                F.col(self.id_col).alias("neighbor"),
                sim.alias("cosine"),
            )
        )
        w = Window.partitionBy(query_id).orderBy(
            F.col("cosine").desc(), F.col("neighbor")
        )
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select(query_id, "neighbor", "cosine", "rk")
        )

    def compact(
        self, spark: SparkSession, n_files: int | None = None
    ) -> None:
        """Fold per-ingest files into a cell-clustered layout (one hash
        shuffle on the cell key) behind the rename-aside atomic swap.
        Cells are disjoint across output files, so a probe of nprobe
        cells opens ~nprobe/n_centroids of them."""
        if self.is_empty():
            return
        n = n_files or max(len(self.centroids) // 4, 1)
        tmp = self.cells_path + f".compact-{uuid.uuid4().hex[:8]}"
        (
            self.cells(spark)
            .repartition(n, F.col("cell"))
            .sortWithinPartitions("cell")
            .write.mode("overwrite")
            .parquet(tmp)
        )
        swap_in(tmp, self.cells_path)


    def skew_ratio(self, spark: SparkSession) -> float:
        """Hottest cell's occupancy over the ALL-CENTROID mean
        (total/n_centroids) — the retrain trigger's metric.  Bounded
        driver action (<= n_centroids rows).  1.0 = perfectly balanced;
        a fully degenerate quantizer scores ~n_centroids (one cell
        holds everything).  The mean is over all centroids, NOT the
        nonempty cells: a median/mean of nonempty occupancies would
        score the fully-collapsed case — one giant cell, the rest empty
        — a perfect 1.0.  max, not p99: the hot CELL is the quadratic
        join partition, and over <= a few thousand centroids p99 is the
        max anyway."""
        counts = [
            r["n"] for r in self.cell_occupancy(spark).collect()
        ]
        total = sum(counts)
        if total == 0:
            return 1.0
        mean = total / max(len(self.centroids), 1)
        return float(max(counts)) / mean

    def retrain_if_skewed(
        self,
        spark: SparkSession,
        threshold: float,
        sample_frac: float = 0.2,
        iters: int = 8,
    ) -> bool:
        """Retrain the quantizer when ``skew_ratio`` reaches
        ``threshold``; returns whether a retrain ran.  The policy half
        of ``retrain``, shared by the streaming drain
        (streaming/ann.py) and any batch maintenance loop so both make
        the identical decision on the identical corpus — the
        stream-equals-batch pin extends through the trigger.  A corpus
        still too small to seed k centroids at ``sample_frac`` skips
        (deterministic: the hash sample is a pure function of the
        stored ids, so the same corpus always takes the same branch)."""
        if self.is_empty() or self.skew_ratio(spark) < threshold:
            return False
        try:
            self.retrain(spark, sample_frac=sample_frac, iters=iters)
        except ValueError:
            return False
        return True

    def retrain(
        self,
        spark: SparkSession,
        sample_frac: float = 0.2,
        iters: int = 8,
    ) -> int:
        """Quantizer refresh for a drifted/skewed corpus (the real fix
        the max_cell_freq drop-cap only papers over): deterministic
        Lloyd's k-means over a HASH-SAMPLED subset of the stored
        vectors, then bulk reassignment of the whole table as one
        cell-clustered shuffle, committed as a NEW centroid EPOCH.

        Determinism (no RNG, no wall clock — the properties every
        incremental contract here leans on): the sample is md5(id) <
        frac, the k seeds are the k sample vectors with smallest
        md5(id), and each Lloyd iteration is one deterministic
        assign+mean pass (empty cells keep their previous center).
        The per-cell means are ROUNDED to fixed precision (6 dp, the
        repo's oracle-rounding convention) before adoption: F.avg's
        floating-point partial aggregation is order-sensitive across
        partitionings, so unrounded centroids could differ between
        environments; rounding absorbs that drift (determinism is
        per-plan at the boundary case where a true mean sits exactly
        on a rounding edge — in practice identical across configs).
        Within an epoch, batch-split ingestion still equals one-shot
        assignment bit-for-bit — the epoch is IN the manifest, so a
        reader can never pair new cells with old centroids: the staged
        reassignment directory becomes visible only through the atomic
        manifest swap (crash before it leaves the old epoch fully
        intact; the orphaned staging dir is swept at next open).

        Returns the new epoch number.  Cost: iters+1 passes over the
        sample + ONE pass over the full table — the FAISS operating
        model (retrain offline, re-assign, swap) expressed as jobs.
        """
        stored = self.cells(spark)
        if stored is None:
            raise ValueError(f"index at {self.path} is empty")
        k = len(self.centroids)
        h = F.conv(
            F.substring(F.md5(F.col(self.id_col).cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        sample = (
            stored.select(self.id_col, self.vec_col)
            .withColumn("_h", h)
            .filter(F.col("_h") < int(sample_frac * 16 ** 8))
            # Pin: iters+2 jobs re-read this subtree otherwise.
            .localCheckpoint()
        )
        seeds = (
            sample.orderBy("_h", self.id_col).limit(k).collect()
        )
        if len(seeds) < k:
            raise ValueError(
                f"sample ({len(seeds)} rows) smaller than k={k}; "
                "raise sample_frac"
            )
        cents = [
            (i, [float(x) for x in r[self.vec_col]])
            for i, r in enumerate(seeds)
        ]
        dims = len(cents[0][1])
        for _ in range(iters):
            assigned = nearest_cells_kernel(
                sample.select(self.vec_col), self.vec_col, cents, 1
            ).select(
                F.col("_cells").getItem(0).alias("cell"),
                *[
                    F.col(self.vec_col)[i].alias(f"d{i}")
                    for i in range(dims)
                ],
            )
            # Bounded driver action: k mean rows per iteration.
            means = {
                int(r["cell"]): [float(r[f"d{i}"]) for i in range(dims)]
                for r in assigned.groupBy("cell")
                .agg(
                    *[
                        F.round(F.avg(f"d{i}"), 6).alias(f"d{i}")
                        for i in range(dims)
                    ]
                )
                .collect()
            }
            cents = [(c, means.get(c, v)) for c, v in cents]

        new_epoch = self.epoch + 1
        new_dir = os.path.join(self.path, f"cells.e{new_epoch}")
        (
            nearest_cells_kernel(
                stored.select(self.id_col, self.vec_col),
                self.vec_col, cents, 1,
            )
            .select(
                F.col(self.id_col),
                F.col("_cells").getItem(0).alias("cell"),
                F.col(self.vec_col),
            )
            .repartition(max(k // 4, 1), F.col("cell"))
            .sortWithinPartitions("cell")
            .write.mode("overwrite")
            .parquet(new_dir)
        )
        old_dir = self.cells_path
        self.centroids, self.epoch, self.cells_path = (
            cents, new_epoch, new_dir
        )
        self._write_manifest()  # the commit point
        shutil.rmtree(old_dir, ignore_errors=True)
        return new_epoch

    def pairs_above(
        self,
        new_vectors: DataFrame,
        threshold: float,
        nprobe: int = 2,
        max_cell_freq: int | None = None,
    ) -> DataFrame:
        """(id_a, id_b, cosine): stored vectors within cosine >=
        threshold of each batch vector — embedding near-dup screening of
        a new batch against the accumulated corpus (call BEFORE ingest
        so a batch vector doesn't match its own stored row; batch-vs-
        batch pairs come from ivf_cell_join(left=batch, right=batch)).
        The batch side explodes to nprobe cells and meets the stored
        single-cell table on a cell equi-join — the ivf_cell_join shape
        with the persisted assignment as the right side.

        ``max_cell_freq``: combined stored+probe occupancy cap per cell
        (ivf_cell_join semantics) — bounds the worst partition at cap^2
        when the quantizer is unbalanced, at a recall cost on dropped
        cells; ``cell_occupancy`` is the probe for choosing it."""
        spark = new_vectors.sparkSession
        stored = self.cells(spark)
        if stored is None:
            raise ValueError(f"index at {self.path} is empty")
        from mrsboraetl_spark.operators.similarity import cosine

        probes = nearest_cells_kernel(
            new_vectors.select(
                F.col(self.id_col).alias("id_a"),
                F.col(self.vec_col).cast("array<double>").alias("vec_a"),
            ),
            "vec_a", self.centroids, nprobe,
        ).select(
            "id_a", "vec_a", F.explode("_cells").alias("cell")
        )
        if max_cell_freq is not None:
            keep = (
                stored.select("cell")
                .unionAll(probes.select("cell"))
                .groupBy("cell")
                .agg(F.count(F.lit(1)).alias("f"))
                .filter(F.col("f") <= max_cell_freq)
                .select("cell")
            )
            stored = stored.join(F.broadcast(keep), "cell")
            probes = probes.join(F.broadcast(keep), "cell")
        sim = F.round(cosine(F.col("vec_a"), F.col(self.vec_col)), 4)
        return (
            stored.join(probes, "cell")
            .filter(F.col("id_a") != F.col(self.id_col))
            .select(
                "id_a",
                F.col(self.id_col).alias("id_b"),
                sim.alias("cosine"),
            )
            .filter(F.col("cosine") >= threshold)
        )
