"""Streaming embedding ingestion into the persistent IVF index
(operators/ann_index.py) via foreachBatch — the Structured-Streaming
spelling of a continuously-growing ANN corpus.

Because the quantizer is pinned at index creation, each micro-batch's
cell assignment is a pure function of its vectors: the drained index is
IDENTICAL to one-shot ingestion regardless of batch boundaries (the
exact end of the incremental-contract spectrum; pytest-pinned via the
index tests).  Queries served between micro-batches simply see the
corpus as of the last completed append.

Delivery is at-least-once with the same best-effort ``_done`` markers
as the other streaming drains; a replayed batch whose marker is missing
duplicates its (id, cell, vec) rows — harmless for top-k (duplicate
neighbors collapse under the rank's id tiebreak only if ids are unique;
dedup the sink, or use the exactly-once versioned sink implemented in
streaming/versioned_sink.py for state tables)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from mrsboraetl_spark.operators.ann_index import IvfIndex


def streaming_ingest_vectors(
    vec_stream: DataFrame,
    index: IvfIndex,
    checkpoint_dir: str,
    retrain_skew_threshold: float | None = None,
    retrain_sample_frac: float = 0.2,
    retrain_iters: int = 8,
):
    """Start (and return) the streaming query: assign + append each
    micro-batch of vectors into ``index``.

    ``retrain_skew_threshold``: when set, each completed ingest checks
    cell-occupancy skew — the HOTTEST cell over the all-centroid mean,
    the exact ``IvfIndex.skew_ratio`` metric — and retrains the
    quantizer at the threshold, so a long-lived stream whose embedding
    distribution drifts away from the pinned centroids heals itself
    instead of degrading every cell-keyed probe into one hot partition.
    The per-batch check costs O(|batch|), NOT O(index): occupancy is
    accumulated driver-side from each batch's own assignment counts
    (<= n_centroids ints), seeded by a single index scan at stream
    start and re-seeded only after a retrain — the ingest contract
    ("the index is never re-read") holds on the hot path.  Because the
    index is append-only between retrains, the accumulated counts ARE
    the occupancy, so the trigger makes the identical decision a
    ``retrain_if_skewed`` full scan would (pytest-pinned).  The retrain
    commits a new centroid EPOCH atomically (one snapshot flip); batches
    after it are assigned under the new centroids, and once occupancy
    is flat the trigger stays quiet — a single skewed regime causes
    exactly one retrain, not one per batch.  The check runs strictly
    before the batch's ``_done`` marker: a crash between retrain and
    marker replays the batch into the new epoch (at-least-once, same
    contract as the append itself)."""
    markers = os.path.join(index.path, "_done")
    os.makedirs(markers, exist_ok=True)
    state: dict = {"counts": None}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(markers, str(batch_id))
        if os.path.exists(marker):
            return
        if retrain_skew_threshold is None:
            index.ingest(batch_df)
        else:
            spark = batch_df.sparkSession
            if state["counts"] is None:
                state["counts"] = (
                    {}
                    if index.is_empty()
                    else {
                        int(r["cell"]): int(r["n"])
                        for r in index.cell_occupancy(spark).collect()
                    }
                )
            batch_counts = index.ingest(
                batch_df, return_cell_counts=True
            )
            for c, n in (batch_counts or {}).items():
                state["counts"][c] = state["counts"].get(c, 0) + n
            total = sum(state["counts"].values())
            ratio = (
                max(state["counts"].values())
                * max(len(index.centroids), 1)
                / total
                if total
                else 1.0
            )
            if ratio >= retrain_skew_threshold:
                try:
                    index.retrain(
                        spark,
                        sample_frac=retrain_sample_frac,
                        iters=retrain_iters,
                    )
                except ValueError:
                    # corpus still too small to seed k centroids at
                    # this sample_frac (same skip as retrain_if_skewed)
                    pass
                else:
                    state["counts"] = {
                        int(r["cell"]): int(r["n"])
                        for r in index.cell_occupancy(spark).collect()
                    }
        with open(marker, "w") as f:
            f.write("done")

    return (
        vec_stream.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
