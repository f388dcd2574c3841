"""Persistent span-frequency index (operators/span_index.py) and its
streaming driver (streaming/spans.py): exact count mergeability,
batch-parity of the re-clean pass, the documented subset semantics of
ingest-time cleaning, meta pinning, compaction's atomic fold, and the
refusal of every index's pre-snapshot layout."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mrsboraetl_spark.operators.ann_index import IvfIndex
from mrsboraetl_spark.operators.lsh_index import LshBandIndex
from mrsboraetl_spark.operators.simhash_index import SimhashIndex
from mrsboraetl_spark.operators.span_index import SpanFrequencyIndex
from mrsboraetl_spark.operators.spans import (
    doc_spans,
    remove_repeated_spans,
)
from mrsboraetl_spark.operators.stats_index import StatsIndex
from mrsboraetl_spark.queries import table
from mrsboraetl_spark.sources import snapshot


def _clean_map(df):
    return {r.id: (r.clean_text, r.n_kept) for r in df.collect()}


def test_frequencies_merge_exactly_across_any_split(spark, sf_dir, tmp_path):
    docs = table(spark, sf_dir, "documents")
    idx = SpanFrequencyIndex(str(tmp_path / "idx"))
    for part in range(3):
        idx.ingest_and_clean(
            docs.filter(F.col("doc_id") % 3 == part), "doc_id", "text"
        ).count()
    got = {
        r.span: r.freq for r in idx.frequencies(spark).collect()
    }
    want = {
        r.span: r.c
        for r in doc_spans(docs, "doc_id", "text", 10)
        .groupBy("span")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert got == want


def test_reclean_after_full_ingest_equals_batch_operator(
    spark, sf_dir, tmp_path
):
    docs = table(spark, sf_dir, "documents")
    idx = SpanFrequencyIndex(str(tmp_path / "idx"))
    for part in range(3):
        idx.ingest_and_clean(
            docs.filter(F.col("doc_id") % 3 == part), "doc_id", "text"
        ).count()
    got = _clean_map(idx.clean_corpus(docs, "doc_id", "text", max_freq=2))
    want = _clean_map(
        remove_repeated_spans(docs, "doc_id", "text", 10, 2)
    )
    assert got == want


def test_ingest_time_clean_deletes_a_subset(spark, tmp_path):
    """The boilerplate span 'x y' appears once in batch 1 (survives: its
    frequency is 1 at that ingest) and three times in batch 2 (deleted:
    frequency reaches 4).  The re-clean pass then removes the batch-1
    copy too — closing the gap to batch semantics exactly."""
    idx = SpanFrequencyIndex(str(tmp_path / "idx"), span_tokens=2)
    b1 = spark.createDataFrame(
        [(1, "x y a b")], "doc_id int, text string"
    )
    b2 = spark.createDataFrame(
        [(2, "x y c d"), (3, "x y e f"), (4, "x y g h")],
        "doc_id int, text string",
    )
    c1 = _clean_map(idx.ingest_and_clean(b1, "doc_id", "text", max_freq=2))
    assert c1 == {1: ("x y a b", 2)}  # freq('x y')==1 at this point
    c2 = _clean_map(idx.ingest_and_clean(b2, "doc_id", "text", max_freq=2))
    assert c2 == {2: ("c d", 1), 3: ("e f", 1), 4: ("g h", 1)}
    # re-clean closes the gap: batch-1's copy now goes too
    full = b1.union(b2)
    re = _clean_map(idx.clean_corpus(full, "doc_id", "text", max_freq=2))
    assert re == _clean_map(
        remove_repeated_spans(full, "doc_id", "text", 2, 2)
    )
    assert re[1] == ("a b", 1)


def test_meta_pins_span_tokens(tmp_path, spark):
    idx = SpanFrequencyIndex(str(tmp_path / "idx"), span_tokens=10)
    idx.ingest_and_clean(
        spark.createDataFrame([(1, "a b c")], "doc_id int, text string"),
        "doc_id",
        "text",
    ).count()
    with pytest.raises(ValueError, match="built with"):
        SpanFrequencyIndex(str(tmp_path / "idx"), span_tokens=5)


def test_compact_preserves_frequencies_and_folds_files(
    spark, sf_dir, tmp_path
):
    docs = table(spark, sf_dir, "documents")
    idx = SpanFrequencyIndex(str(tmp_path / "idx"))
    for part in range(4):
        idx.ingest_and_clean(
            docs.filter(F.col("doc_id") % 4 == part), "doc_id", "text"
        ).count()
    before = {r.span: r.freq for r in idx.frequencies(spark).collect()}
    n_files_before = sum(
        f.endswith(".parquet") for f in snapshot.files(idx.counts_path)
    )
    idx.compact(spark)
    after = {r.span: r.freq for r in idx.frequencies(spark).collect()}
    n_files_after = sum(
        f.endswith(".parquet") for f in snapshot.files(idx.counts_path)
    )
    assert after == before
    assert n_files_after < n_files_before
    assert not os.path.exists(idx.counts_path + ".old")


def test_streaming_clean_matches_ingest_semantics(spark, sf_dir, tmp_path):
    """Stream the corpus file-by-file through the index; the drained
    output must equal running ingest_and_clean per batch, and a final
    clean_corpus must equal the batch operator on the full corpus."""
    from mrsboraetl_spark.streaming.dedup import stream_documents
    from mrsboraetl_spark.streaming.spans import streaming_clean_spans

    docs = table(spark, sf_dir, "documents")
    src = str(tmp_path / "docs_stream")
    docs.repartition(3).write.parquet(src)

    idx = SpanFrequencyIndex(str(tmp_path / "idx"))
    out = str(tmp_path / "cleaned")
    q = streaming_clean_spans(
        stream_documents(spark, src),
        idx,
        "doc_id",
        "text",
        out,
        str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    drained = spark.read.parquet(out)
    assert drained.count() == drained.select("id").distinct().count()
    # every input doc shows up cleaned exactly once (none were pure
    # boilerplate at their ingest time on this corpus)
    assert drained.count() == docs.count()
    # the final re-clean equals the one-shot batch operator
    got = _clean_map(idx.clean_corpus(docs, "doc_id", "text"))
    want = _clean_map(remove_repeated_spans(docs, "doc_id", "text", 10, 2))
    assert got == want
    assert len(os.listdir(os.path.join(idx.path, "_done"))) == 3


def test_lsh_index_compact_preserves_pairs(spark, sf_dir, tmp_path):
    """Compacting the LSH band index moves rows into a band-clustered
    layout without changing future probe results."""
    from mrsboraetl_spark.operators.lsh_index import LshBandIndex

    docs = table(spark, sf_dir, "documents")
    idx = LshBandIndex(str(tmp_path / "lsh"))
    idx.ingest(docs.filter(F.col("doc_id") % 2 == 0), "doc_id", "text").count()
    n_before = idx.bands(spark).count()
    idx.compact(spark, n_files=2)
    assert idx.bands(spark).count() == n_before
    got = {
        (r.doc_a, r.doc_b)
        for r in idx.ingest(
            docs.filter(F.col("doc_id") % 2 == 1), "doc_id", "text"
        ).collect()
    }
    # fresh uncompacted index over the same split order agrees exactly
    idx2 = LshBandIndex(str(tmp_path / "lsh2"))
    idx2.ingest(docs.filter(F.col("doc_id") % 2 == 0), "doc_id", "text").count()
    want = {
        (r.doc_a, r.doc_b)
        for r in idx2.ingest(
            docs.filter(F.col("doc_id") % 2 == 1), "doc_id", "text"
        ).collect()
    }
    assert got == want and got


def test_simhash_index_batch_split_equals_batch_operator(
    spark, sf_dir, tmp_path
):
    """Union of per-ingest pair sets over a 3-way split == the batch
    simhash_near_pairs on the full corpus (uncapped), hammings
    included; meta pins the band geometry."""
    from mrsboraetl_spark.operators.dedup import simhash_near_pairs
    from mrsboraetl_spark.operators.simhash_index import SimhashIndex

    docs = table(spark, sf_dir, "documents")
    idx = SimhashIndex(str(tmp_path / "sh"), num_bits=32, n_bands=4)
    got = set()
    for part in range(3):
        got |= {
            (r.doc_a, r.doc_b, r.hamming)
            for r in idx.ingest(
                docs.filter(F.col("doc_id") % 3 == part),
                "doc_id",
                "text",
                max_hamming=3,
            ).collect()
        }
    want = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_near_pairs(
            docs, "doc_id", "text", num_bits=32, n_bands=4, max_hamming=3
        ).collect()
    }
    assert got == want and got
    with pytest.raises(ValueError, match="built with"):
        SimhashIndex(str(tmp_path / "sh"), num_bits=32, n_bands=2)


def test_streaming_driver_is_index_generic(spark, sf_dir, tmp_path):
    """streaming_dedup_pairs only needs .ingest(df, id, text) and .path —
    it drives the SimhashIndex unmodified, and the drained pair union
    still equals the batch operator."""
    from mrsboraetl_spark.operators.dedup import simhash_near_pairs
    from mrsboraetl_spark.operators.simhash_index import SimhashIndex
    from mrsboraetl_spark.streaming.dedup import (
        stream_documents,
        streaming_dedup_pairs,
    )

    docs = table(spark, sf_dir, "documents")
    src = str(tmp_path / "docs_stream")
    docs.repartition(3).write.parquet(src)
    idx = SimhashIndex(str(tmp_path / "sh"))
    pairs_path = str(tmp_path / "pairs")
    q = streaming_dedup_pairs(
        stream_documents(spark, src), idx, "doc_id", "text",
        pairs_path, str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.doc_a, r.doc_b)
        for r in spark.read.parquet(pairs_path).distinct().collect()
    }
    want = {
        (r.doc_a, r.doc_b)
        for r in simhash_near_pairs(docs, "doc_id", "text").collect()
    }
    assert got == want and got


@pytest.mark.parametrize(
    "make, marker",
    [
        (SpanFrequencyIndex, "_meta.json"),
        (LshBandIndex, "_meta.json"),
        (SimhashIndex, "_meta.json"),
        (StatsIndex, "_meta.json"),
        (lambda p: IvfIndex(p, [(0, [1.0, 0.0])]), "_centroids.json"),
    ],
    ids=["span", "lsh", "simhash", "stats", "ivf"],
)
def test_pre_snapshot_index_layout_is_refused(tmp_path, make, marker):
    """An index directory written by the retired layout (parameters in
    ``_meta.json`` / ``_centroids.json``, data in a plain parquet
    directory, no snapshot pointer) is refused at open — reading it as
    an empty index would let the next ingest silently drop its data."""
    path = tmp_path / "idx"
    path.mkdir()
    (path / marker).write_text("{}")
    with pytest.raises(ValueError, match="re-create"):
        make(str(path))
