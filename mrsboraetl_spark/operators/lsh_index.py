"""Persistent incremental LSH band index: near-dup candidate discovery
for a CONTINUOUSLY-INGESTING corpus without ever re-hashing what is
already indexed.

The batch operators in ``operators/dedup.py`` hash the whole corpus per
run — right for one-shot jobs, wrong for a pipeline that ingests a new
crawl slice into a 100 TB corpus daily: re-shingling petabytes to dedup
a few TB is the dominant (and avoidable) cost.  ``LshBandIndex`` keeps
the banded-minhash state on storage between runs:

* ``ingest(new_docs)`` hashes ONLY the new batch (one Arrow-kernel pass,
  ``dedup.hashed_sig_docs``), appends its band rows to the index, and
  returns the candidate pairs involving at least one new document —
  new-vs-indexed and new-vs-new — via one equi-join of the new bands
  against the accumulated band table.  Per-batch cost is
  O(|batch| + |index probe|), never O(|corpus hashed|).
* Pair semantics match the batch operator exactly: ingesting a corpus in
  any batch split yields, across all ingests, the same pair set as
  ``dedup.minhash_lsh_pairs`` on the full corpus (pytest-pinned,
  including the hot-band cap) — because a pair's shared band key exists
  independently of WHEN each side was ingested.  The only divergence is
  deliberate: ``max_band_freq`` is evaluated against the band
  frequencies KNOWN AT INGEST TIME (the cap is a skew guard, and a
  band's frequency only grows — a pair suppressed now would also be
  suppressed by the batch operator on the full corpus; the pinned
  equivalence test covers the capped path on a fixed split).

At cluster scale the band table is the thing you would bucket
(``writers.saveAsTable(..., bucketBy(bk))``) so the per-ingest probe
join is co-located instead of a shuffle; the snapshot-committed layout
here keeps the same plan shape with one extra exchange.  The band table
is an ``AppendOnlyTable`` (sources/append_table.py) under ``bands``:
each ingest is one snapshot flip, so a crash anywhere before it leaves
the batch invisible and the index exactly as it was; ``compact`` is one
more flip, the old or the new layout and never a mix.  The parameters
are pinned in the same snapshot, so an index can never be probed with a
mismatched hash family.  One writer at a time: a concurrent ingest
fails the snapshot's compare-and-swap instead of landing (the streaming
driver in streaming/dedup.py serializes batches).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mrsboraetl_spark.operators.dedup import bands_from_sig, hashed_sig_docs
from mrsboraetl_spark.sources.append_table import (
    AppendOnlyTable,
    refuse_pre_snapshot,
)


class LshBandIndex:
    def __init__(
        self,
        path: str,
        num_hashes: int = 8,
        k: int = 5,
        rows_per_band: int = 2,
    ):
        self.path = path
        self.bands_path = os.path.join(path, "bands")
        self.params = {
            "num_hashes": num_hashes,
            "k": k,
            "rows_per_band": rows_per_band,
        }
        refuse_pre_snapshot(
            os.path.join(path, "_meta.json"), self.bands_path
        )
        self.table = AppendOnlyTable(self.bands_path, self.params)

    def is_empty(self) -> bool:
        return not self.table.committed()

    def bands(self, spark: SparkSession) -> DataFrame | None:
        """The accumulated (doc, band, bk) table, or None if nothing has
        been ingested yet."""
        return self.table.read(spark)

    def ingest(
        self,
        new_docs: DataFrame,
        id_col: str,
        text_col: str,
        max_band_freq: int | None = None,
    ) -> DataFrame:
        """Index ``new_docs`` and return the distinct candidate pairs
        (doc_a < doc_b) with at least one side in this batch.

        Document ids must be globally unique across all ingests (they
        are the join identity); re-ingesting an id creates self-pairs
        with its earlier bands — dedup upstream, as the batch operators
        also assume.
        """
        spark = new_docs.sparkSession
        sigged = hashed_sig_docs(
            new_docs, id_col, text_col, self.params["k"],
            self.params["num_hashes"], include_hashes=False,
        ).localCheckpoint()
        new_bands = bands_from_sig(
            sigged, self.params["num_hashes"], self.params["rows_per_band"]
        )
        self.table.append(new_bands)
        # Probe AFTER the append: the committed files already include this
        # batch, so one scan serves as both materialized new side and the
        # full index (new-vs-new pairs come from the same join).
        all_bands = self.table.read(spark)
        probe = new_bands  # small side: this batch only (sig checkpointed)
        if max_band_freq is not None:
            keep = (
                all_bands.groupBy("band", "bk")
                .agg(F.count("*").alias("band_freq"))
                .filter(F.col("band_freq") <= max_band_freq)
                .select("band", "bk")
            )
            all_bands = all_bands.join(keep, ["band", "bk"])
            probe = probe.join(keep, ["band", "bk"])
        return (
            probe.alias("a")
            .join(
                all_bands.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bk") == F.col("b.bk"))
                & (F.col("a.doc") != F.col("b.doc")),
            )
            .select(
                F.least("a.doc", "b.doc").alias("doc_a"),
                F.greatest("a.doc", "b.doc").alias("doc_b"),
            )
            .distinct()
        )

    def compact(
        self, spark: SparkSession, n_files: int | None = None
    ) -> None:
        """Fold the per-ingest band files into a band-key-clustered
        layout (one hash shuffle on (band, bk), bk-sorted within files
        so parquet row-group stats prune probe reads), published by one
        snapshot flip.  Pair semantics are untouched — compaction only
        moves rows."""
        if self.is_empty():
            return
        n = n_files or max(
            spark.sparkContext.defaultParallelism // 2, 1
        )
        bands, parent = self.table.read_pinned(spark)
        self.table.replace(
            bands.repartition(n, F.col("band"), F.col("bk"))
            .sortWithinPartitions("band", "bk"),
            parent,
        )
