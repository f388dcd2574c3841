"""Persistent incremental span-frequency index: boilerplate removal for
a CONTINUOUSLY-INGESTING corpus.

The batch operator (operators/spans.remove_repeated_spans) counts span
occurrences over the whole corpus per run; re-counting petabytes to
clean a daily crawl slice is the avoidable cost, same argument as the
LSH band index (operators/lsh_index.py).  ``SpanFrequencyIndex`` keeps
per-batch partial counts on storage:

* ``ingest_and_clean(batch)`` spans ONLY the new batch, appends the
  batch's (span, cnt) partial aggregate to the index, and cleans the
  batch against the frequencies known after the append.
* Counts are EXACTLY mergeable (unlike the LSH index's band-cap, which
  is ingest-order-dependent by design): after any batch split,
  ``frequencies()`` equals the one-shot corpus count bit-for-bit, so a
  final ``clean_corpus(docs)`` pass over any document set reproduces
  the batch operator's output exactly (pytest-pinned).
* Ingest-time cleaning is the documented weaker guarantee: a batch sees
  frequencies as of its own append, and frequencies only grow — so an
  ingest-time clean DELETES A SUBSET of what the batch operator would
  delete (early copies of boilerplate survive until re-cleaned).  The
  two-pass pattern (ingest everything, then re-clean) closes the gap
  exactly; pipelines that can tolerate late boilerplate use one pass.

The partial-counts table grows by one small file per ingest;
``compact()`` folds it to one aggregated table via the same
rename-aside atomic swap the engine's parquet compaction uses — crash
before the final rename leaves the original committed state visible.
Parameters are pinned in ``_meta.json`` so an index can never be probed
with a mismatched span size.  Single writer at a time, as with the
other persistent indexes (streaming/spans.py serializes micro-batches).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mrsboraetl_spark.operators._swap import rescue_orphan, swap_in
from mrsboraetl_spark.operators.spans import clean_spans, doc_spans


class SpanFrequencyIndex:
    def __init__(self, path: str, span_tokens: int = 10):
        self.path = path
        self.counts_path = os.path.join(path, "counts")
        # A compact() crash between its two os.replace calls leaves the
        # committed counts only at '.old' — restore BEFORE anything can
        # observe is_empty() and silently restart the index.
        rescue_orphan(self.counts_path)
        self.meta_path = os.path.join(path, "_meta.json")
        self.params = {"span_tokens": span_tokens}
        if os.path.exists(self.meta_path):
            with open(self.meta_path) as f:
                stored = json.load(f)
            if stored != self.params:
                raise ValueError(
                    f"index at {path} was built with {stored}, "
                    f"asked to open with {self.params}"
                )

    def _commit_meta(self) -> None:
        if not os.path.exists(self.meta_path):
            os.makedirs(self.path, exist_ok=True)
            with open(self.meta_path, "w") as f:
                json.dump(self.params, f, sort_keys=True)

    def is_empty(self) -> bool:
        return not os.path.exists(self.counts_path)

    def frequencies(self, spark: SparkSession) -> DataFrame | None:
        """(span, freq) — exact corpus-wide counts over everything
        ingested so far (partials folded at read; ``compact()`` folds
        them at rest)."""
        if self.is_empty():
            return None
        return (
            spark.read.parquet(self.counts_path)
            .groupBy("span")
            .agg(F.sum("cnt").alias("freq"))
        )

    def ingest_and_clean(
        self,
        new_docs: DataFrame,
        id_col: str,
        text_col: str,
        max_freq: int = 2,
        broadcast_bad: bool = True,
    ) -> DataFrame:
        """Append the batch's span counts, then return the batch cleaned
        against the post-append frequencies: (id, clean_text, n_kept).
        Document ids must be globally unique across ingests (re-ingesting
        an id double-counts its spans, as the batch operator would if fed
        duplicates)."""
        spark = new_docs.sparkSession
        spans = doc_spans(
            new_docs, id_col, text_col, self.params["span_tokens"]
        ).localCheckpoint()  # spanning runs once: counted AND cleaned
        self._commit_meta()
        (
            spans.groupBy("span")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .write.mode("append")
            .parquet(self.counts_path)
        )
        bad = self.frequencies(spark).filter(F.col("freq") > max_freq)
        return clean_spans(spans, bad, broadcast_bad)

    def clean_corpus(
        self,
        docs: DataFrame,
        id_col: str,
        text_col: str,
        max_freq: int = 2,
        broadcast_bad: bool = True,
    ) -> DataFrame:
        """Clean ``docs`` against the CURRENT index frequencies (no
        ingest).  After all batches are ingested this equals the batch
        operator on the full corpus exactly (counts merge exactly)."""
        spark = docs.sparkSession
        spans = doc_spans(docs, id_col, text_col, self.params["span_tokens"])
        freqs = self.frequencies(spark)
        if freqs is None:
            raise ValueError(f"index at {self.path} is empty")
        bad = freqs.filter(F.col("freq") > max_freq)
        return clean_spans(spans, bad, broadcast_bad)

    def compact(self, spark: SparkSession) -> None:
        """Fold the per-ingest partial files into one aggregated table
        with the rename-aside atomic swap: write aggregated counts to a
        fresh directory, move the old table aside, move the new one in,
        drop the old.  A crash before the final rename leaves the
        original committed state in place."""
        if self.is_empty():
            return
        tmp = self.counts_path + f".compact-{uuid.uuid4().hex[:8]}"
        (
            self.frequencies(spark)
            .select("span", F.col("freq").alias("cnt"))
            .write.mode("overwrite")
            .parquet(tmp)
        )
        swap_in(tmp, self.counts_path)
