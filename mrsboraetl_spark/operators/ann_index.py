"""Persistent incremental IVF index: ANN search over a CONTINUOUSLY-
INGESTING embedding corpus.

The fourth member of the engine's incremental-index family (LSH bands
for near-dup, StatsIndex for profiling, SpanFrequencyIndex for
boilerplate): the batch operator (operators/similarity.ivf_topk)
re-assigns every vector to its coarse cell per run; at 100 TB the
corpus assignment pass is the avoidable cost, because cell assignment
is a pure function of (vector, centroids) once the quantizer is pinned.

* The CENTROIDS are fixed at index creation and pinned, with their
  epoch, in the snapshot of the cell table.  That makes the incremental
  contract EXACT:
  ingesting a corpus in any batch split yields the identical cell table
  as one-shot assignment, so ``topk`` equals the batch operator on the
  same centroids bit-for-bit (pytest-pinned) — the same
  "pin the nondeterminism, then everything merges" move as the span
  index (exact counts) vs the LSH index (ingest-ordered caps).
  The trade-off is drift: a pinned quantizer slowly mismatches a
  shifting embedding distribution.  That is the standard IVF operating
  model (FAISS-style: retrain offline, re-assign, swap) — ``retrain``
  re-assigns the whole table under a NEW centroid epoch, never an
  in-place mutation.

* ``ingest`` appends (id, cell, vec) with the assignment done by the
  same broadcast-centroid expression as the batch operator — one
  codegen'd pass over the new batch only, no shuffle.

* ``topk`` probes: queries explode to their nprobe nearest cells, the
  stored table is hit with a cell equi-join (never a full scan of the
  index), candidates rank by exact cosine per query.

* ``compact`` folds the per-ingest files AND clusters the layout by
  cell (repartition on the cell key), so post-compaction probes read
  ~nprobe/n_centroids of the files — the file-layout half of the IVF
  bargain.

* The cell table is an ``AppendOnlyTable`` (sources/append_table.py)
  under ``cells``: each ingest, the compaction and a retrain are one
  snapshot flip each, so a crash anywhere before a flip leaves the
  index exactly as it was.  A retrain's flip names the re-assigned
  cells AND the new centroids and epoch, so a reader can never pair
  cells with the wrong quantizer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mrsboraetl_spark.operators.similarity import (
    _nearest_cells_expr,
    cosine,
    nearest_cells_kernel,
)
from mrsboraetl_spark.sources.append_table import (
    AppendOnlyTable,
    refuse_pre_snapshot,
)


def _norm(centroids) -> list[tuple[int, list[float]]]:
    return [(int(c), [float(x) for x in v]) for c, v in centroids]


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
        self.cells_path = os.path.join(path, "cells")
        self.id_col = id_col
        self.vec_col = vec_col
        refuse_pre_snapshot(
            os.path.join(path, "_centroids.json"), self.cells_path
        )
        pinned = AppendOnlyTable(self.cells_path).params
        if pinned is None:
            if centroids is None:
                raise ValueError("creating an index requires centroids")
            pinned = {"epoch": 0, "centroids": _norm(centroids)}
        elif centroids is not None and _norm(centroids) != _norm(
            pinned["centroids"]
        ):
            raise ValueError(
                f"index at {path} has pinned centroids; "
                "call retrain() for a quantizer refresh"
            )
        self.table = AppendOnlyTable(self.cells_path, pinned)
        self.centroids = _norm(pinned["centroids"])
        self.epoch = int(pinned["epoch"])

    def is_empty(self) -> bool:
        return not self.table.committed()

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
        assigned = self.assign_cells(new_vectors)
        if not return_cell_counts:
            self.table.append(assigned)
            return None
        assigned = assigned.localCheckpoint()
        self.table.append(assigned)
        return {
            int(r["cell"]): int(r["n"])
            for r in assigned.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    def cells(self, spark: SparkSession) -> DataFrame | None:
        return self.table.read(spark)

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
        shuffle on the cell key), published by one snapshot flip.
        Cells are disjoint across output files, so a probe of nprobe
        cells opens ~nprobe/n_centroids of them."""
        if self.is_empty():
            return
        n = n_files or max(len(self.centroids) // 4, 1)
        cells, parent = self.table.read_pinned(spark)
        self.table.replace(
            cells.repartition(n, F.col("cell")).sortWithinPartitions("cell"),
            parent,
        )

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
        assignment bit-for-bit — the centroids and epoch are pinned in
        the cell table's snapshot, and one flip publishes them with
        the reassigned cells, so a reader can never pair new cells
        with old centroids (a crash before the flip leaves the old
        epoch fully intact; its staging is an orphan the GC sweeps).

        Returns the new epoch number.  Cost: iters+1 passes over the
        sample + ONE pass over the full table — the FAISS operating
        model (retrain offline, re-assign, swap) expressed as jobs.
        """
        stored, parent = self.table.read_pinned(spark)
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
        self.table.replace(
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
            .sortWithinPartitions("cell"),
            parent,
            params={"epoch": new_epoch, "centroids": cents},
        )
        self.centroids, self.epoch = cents, new_epoch
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
