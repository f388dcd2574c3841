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

The partial-counts table is an ``AppendOnlyTable``
(sources/append_table.py) under ``counts``, growing by one small group
per ingest, each committed by one snapshot flip (a crash before it
leaves the batch's counts invisible); ``compact()`` folds it to one
aggregated group in one more flip — a crash anywhere leaves the old or
the new counts, never a mix.  The span size is pinned in the same
snapshot, so an index can never be probed with a mismatched one.
Single writer at a time, as with the other persistent indexes
(streaming/spans.py serializes micro-batches).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mrsboraetl_spark.operators.spans import clean_spans, doc_spans
from mrsboraetl_spark.sources.append_table import (
    AppendOnlyTable,
    refuse_pre_snapshot,
)


class SpanFrequencyIndex:
    def __init__(self, path: str, span_tokens: int = 10):
        self.path = path
        self.counts_path = os.path.join(path, "counts")
        self.params = {"span_tokens": span_tokens}
        refuse_pre_snapshot(
            os.path.join(path, "_meta.json"), self.counts_path
        )
        self.table = AppendOnlyTable(self.counts_path, self.params)

    def is_empty(self) -> bool:
        return not self.table.committed()

    def frequencies(self, spark: SparkSession) -> DataFrame | None:
        """(span, freq) — exact corpus-wide counts over everything
        ingested so far (partials folded at read; ``compact()`` folds
        them at rest)."""
        counts = self.table.read(spark)
        return None if counts is None else self._fold(counts)

    @staticmethod
    def _fold(counts: DataFrame) -> DataFrame:
        return counts.groupBy("span").agg(F.sum("cnt").alias("freq"))

    def ingest_and_clean(
        self,
        new_docs: DataFrame,
        id_col: str,
        text_col: str,
        max_freq: int = 2,
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
        self.table.append(
            spans.groupBy("span").agg(F.count(F.lit(1)).alias("cnt"))
        )
        bad = self.frequencies(spark).filter(F.col("freq") > max_freq)
        return clean_spans(spans, bad)

    def clean_corpus(
        self,
        docs: DataFrame,
        id_col: str,
        text_col: str,
        max_freq: int = 2,
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
        return clean_spans(spans, bad)

    def compact(self, spark: SparkSession) -> None:
        """Fold the per-ingest partial counts into one aggregated group,
        published by one snapshot flip: a crash before it leaves the
        partials committed, after it the fold."""
        counts, parent = self.table.read_pinned(spark)
        if counts is None:
            return
        self.table.replace(
            self._fold(counts).select("span", F.col("freq").alias("cnt")),
            parent,
        )
