"""Persistent incremental corpus-stats index: per-group profiling
(row/token counts + KMV distinct sketches) for a CONTINUOUSLY-INGESTING
corpus, without re-scanning what is already profiled.

The profiling queries (sketch_kmv_distinct, profile_source_percentiles)
scan the whole corpus per run — right for one-shot jobs, wrong for a
pipeline ingesting daily slices into a 100 TB corpus.  ``StatsIndex``
keeps mergeable per-group state on storage between runs:

* counts are plain sums (trivially mergeable);
* distinct values use the KMV sketch from ``operators/sketch.py``, whose
  merge is EXACT: the union's k smallest hashes are a subset of the
  per-batch k smallest, so any ingest split yields bit-identical
  estimates to a one-shot profile of the full corpus (pytest-pinned —
  the same batch-split-equivalence standard the LSH band index meets
  for pairs).

Per-ingest cost is O(|batch|) plus a sketch-table merge whose size is
(groups x k) — never O(|corpus|).  The state is an ``AppendOnlyTable``
(sources/append_table.py) under ``state.parquet``, and each ingest's
fold is one ``replace``: one snapshot flip names the merged state, so a
reader sees the previous state or the new one, and a crash anywhere
before the flip leaves the previous state live.  ``group_col`` and
``k`` are pinned in the same snapshot when the index is created.
Single writer at a time, like the band index.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mrsboraetl_spark.operators.sketch import _hash_frac
from mrsboraetl_spark.sources.append_table import (
    AppendOnlyTable,
    refuse_pre_snapshot,
)


class StatsIndex:
    def __init__(self, path: str, group_col: str = "source", k: int = 64):
        if k < 2:
            raise ValueError(f"k must be >= 2, got {k}")
        self.path = path
        self.group_col = group_col
        self.k = k
        state = os.path.join(path, "state.parquet")
        refuse_pre_snapshot(os.path.join(path, "_meta.json"), state)
        self.table = AppendOnlyTable(state, {"group_col": group_col, "k": k})

    def _batch_state(
        self, docs: DataFrame, id_col: str, text_col: str
    ) -> DataFrame:
        """Per-group mergeable state for one batch: n_docs, n_tokens,
        and the ascending <=k minimum token-hash fractions."""
        g = self.group_col
        toks = docs.select(
            F.col(g),
            F.size(
                F.split(
                    F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")),
                    " ",
                )
            ).alias("_nt"),
        )
        counts = toks.groupBy(g).agg(
            F.count("*").alias("n_docs"), F.sum("_nt").alias("n_tokens")
        )
        hashed = (
            docs.select(
                F.col(g),
                F.explode(
                    F.filter(
                        F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                        lambda t: t != "",
                    )
                ).alias("tok"),
            )
            .select(F.col(g), _hash_frac(F.col("tok")).alias("h"))
            .filter(F.col("h").isNotNull())
            .distinct()
        )
        from pyspark.sql import Window

        w = Window.partitionBy(g).orderBy("h")
        mins = hashed.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") <= self.k
        )
        sk = mins.groupBy(g).agg(
            F.array_sort(F.collect_list("h")).alias("sketch")
        )
        return counts.join(sk, g, "left")

    @staticmethod
    def _merge(a: DataFrame, b: DataFrame, g: str, k: int) -> DataFrame:
        """Fold two state tables: sum counts, union+trim sketches."""
        both = a.unionByName(b)
        return both.groupBy(g).agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.slice(
                F.array_sort(
                    F.array_distinct(
                        F.flatten(
                            F.collect_list(
                                F.coalesce(
                                    F.col("sketch"),
                                    F.expr("array()").cast("array<double>"),
                                )
                            )
                        )
                    )
                ),
                1,
                k,
            ).alias("sketch"),
        )

    def ingest(
        self, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
    ) -> None:
        """Fold one batch into the persisted state: one snapshot flip."""
        batch = self._batch_state(docs, id_col, text_col)
        state, parent = self.table.read_pinned(docs.sparkSession)
        self.table.replace(
            batch if state is None
            else self._merge(state, batch, self.group_col, self.k),
            parent,
        )

    def stats(self, spark: SparkSession) -> DataFrame:
        """(group, n_docs, n_tokens, est_distinct_tokens) from the
        persisted state — groups with fewer than k sketch entries are
        exact, exactly like kmv_distinct."""
        st = self.table.read(spark)
        if st is None:
            raise ValueError(f"index at {self.path} is empty")
        n_kept = F.size("sketch")
        h_k = F.element_at("sketch", n_kept)
        return st.select(
            self.group_col,
            "n_docs",
            "n_tokens",
            F.round(
                F.when(n_kept < self.k, n_kept.cast("double")).otherwise(
                    (self.k - 1) / h_k
                ),
                4,
            ).alias("est_distinct_tokens"),
        )
