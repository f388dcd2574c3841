"""Persistent incremental SimHash band index: Hamming-distance near-dup
discovery for a continuously-ingesting corpus.

The simhash counterpart of ``operators/lsh_index.LshBandIndex`` (which
serves the minhash/Jaccard family): each batch is fingerprinted once,
its banded segments appended, and candidates probed against everything
ingested before it.  The banded pigeonhole guarantee is inherited from
``dedup.simhash_near_pairs`` — any pair within Hamming distance
``n_bands - 1`` shares a whole band, and a shared band exists
independently of WHEN each side was ingested, so the union of pair sets
over any batch split equals the batch operator on the full corpus
(pytest-pinned, uncapped; ``max_band_freq`` follows the LSH index's
ingest-time-cap semantics — frequencies only grow, so an ingest-capped
run suppresses a subset of what the batch cap suppresses).

The band table is denormalized with the 32-char fingerprint on every
band row (n_bands copies per doc) so the probe verifies Hamming
IN-ROW after the band equi-join — no second fingerprint join against
the accumulated corpus.  The band table is an ``AppendOnlyTable``
(sources/append_table.py) under ``bands``, committed exactly like the
LSH index's: one snapshot flip per ingest (a crash before it leaves the
batch invisible), the band geometry pinned in the same snapshot.
Single writer; streaming drains reuse the foreachBatch pattern of
streaming/dedup.py verbatim.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mrsboraetl_spark.operators.dedup import simhash_bits, token_hashes
from mrsboraetl_spark.sources.append_table import (
    AppendOnlyTable,
    refuse_pre_snapshot,
)


class SimhashIndex:
    def __init__(
        self,
        path: str,
        num_bits: int = 32,
        n_bands: int = 4,
    ):
        if num_bits % n_bands:
            raise ValueError(
                "num_bits must be divisible by n_bands (see "
                "dedup.simhash_near_pairs)"
            )
        self.path = path
        self.bands_path = os.path.join(path, "bands")
        self.params = {"num_bits": num_bits, "n_bands": n_bands}
        refuse_pre_snapshot(
            os.path.join(path, "_meta.json"), self.bands_path
        )
        self.table = AppendOnlyTable(self.bands_path, self.params)

    def is_empty(self) -> bool:
        return not self.table.committed()

    def ingest(
        self,
        new_docs: DataFrame,
        id_col: str,
        text_col: str,
        max_hamming: int = 3,
        max_band_freq: int | None = None,
    ) -> DataFrame:
        """Fingerprint + band ONLY the batch, append, and return
        (doc_a, doc_b, hamming) pairs with at least one side in this
        batch and hamming <= max_hamming.  Ids must be globally unique
        across ingests."""
        num_bits = self.params["num_bits"]
        n_bands = self.params["n_bands"]
        if max_hamming > n_bands - 1:
            raise ValueError(
                "banded pigeonhole recall requires "
                "max_hamming <= n_bands - 1"
            )
        band_w = num_bits // n_bands
        spark = new_docs.sparkSession
        n_parts = spark.sparkContext.defaultParallelism
        fp = (
            new_docs.repartition(n_parts)
            .select(
                F.col(id_col).alias("doc"),
                token_hashes(F.col(text_col)).alias("th"),
            )
            .select("doc", simhash_bits(F.col("th"), num_bits).alias("sh"))
            .localCheckpoint()
        )
        new_bands = fp.select(
            "doc",
            "sh",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_bands - 1)),
                    lambda i: F.col("sh").substr(
                        i * band_w + 1, F.lit(band_w)
                    ),
                )
            ).alias("band", "bk"),
        )
        self.table.append(new_bands)
        all_bands = self.table.read(spark)
        probe = new_bands
        if max_band_freq is not None:
            keep = (
                all_bands.groupBy("band", "bk")
                .agg(F.count("*").alias("f"))
                .filter(F.col("f") <= max_band_freq)
                .select("band", "bk")
            )
            all_bands = all_bands.join(keep, ["band", "bk"])
            probe = probe.join(keep, ["band", "bk"])
        joined = (
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
                # order-normalized for the distinct; NOT doc-matched —
                # fine because Hamming distance is symmetric
                F.least("a.sh", "b.sh").alias("sh_a"),
                F.greatest("a.sh", "b.sh").alias("sh_b"),
            )
            .distinct()
        )
        sa, sb = F.col("sh_a"), F.col("sh_b")
        hamming = F.size(
            F.filter(
                F.sequence(F.lit(1), F.lit(num_bits)),
                lambda i: sa.substr(i, F.lit(1)) != sb.substr(i, F.lit(1)),
            )
        )
        return (
            joined.select("doc_a", "doc_b", hamming.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
        )

    def bands(self, spark: SparkSession) -> DataFrame | None:
        return self.table.read(spark)
