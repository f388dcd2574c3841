"""Streaming near-dup detection: a document stream drains into the
persistent LSH band index (operators/lsh_index.py) via foreachBatch —
the Structured-Streaming spelling of continuous corpus dedup.

Each micro-batch is hashed once, probed against everything ingested
before it, appended, and the discovered candidate pairs land in an
append-only parquet sink.  Because the index's batch-split equivalence
is exact (pytest-pinned in test_llmdata.py), the UNION of all emitted
micro-batch pair sets equals the batch operator's output on the full
corpus — arrival order and batch boundaries do not change the result.

Delivery semantics: foreachBatch replays a micro-batch after a failure.
The index commits each ingest with one snapshot flip of its band table
(sources/append_table.py), so a batch that failed before the flip left
nothing visible and its replay ingests it once.  ``_done`` batch
markers skip a replay whose marker exists; a crash BETWEEN the flip and
the marker write still re-ingests that one batch under a new batch id
(self-pairs are excluded by doc-id inequality, but its band rows are
duplicated and its pairs re-emitted), so downstream consumers should
treat the pair sink as at-least-once and ``distinct()`` it
(dedup_cluster_keepers is insensitive to duplicate edges anyway).
Exactly-once needs the replay to be recognised inside that same flip —
the streaming batch id as the table's batch id, as the append sink
(streaming/append_sink.py) and the versioned merge sink
(streaming/versioned_sink.py) do for their tables.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from mrsboraetl_spark.operators.lsh_index import LshBandIndex


def stream_documents(spark: SparkSession, path_dir: str) -> DataFrame:
    """readStream over a directory of documents parquet files (one
    micro-batch per file with maxFilesPerTrigger=1)."""
    schema = spark.read.parquet(path_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path_dir)
    )


def streaming_dedup_pairs(
    docs_stream: DataFrame,
    index: LshBandIndex,
    id_col: str,
    text_col: str,
    pairs_path: str,
    checkpoint_dir: str,
):
    """Start (and return) the streaming query: ingest each micro-batch
    into ``index`` and append the discovered pairs to ``pairs_path``.
    Call ``.processAllAvailable()`` / ``.stop()`` on the returned query
    (bounded sources) or let it run (continuous ingestion)."""
    markers = os.path.join(index.path, "_done")
    os.makedirs(markers, exist_ok=True)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(markers, str(batch_id))
        if os.path.exists(marker):
            return
        pairs = index.ingest(batch_df, id_col, text_col)
        pairs.write.mode("append").parquet(pairs_path)
        with open(marker, "w") as f:
            f.write("done")

    return (
        docs_stream.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
