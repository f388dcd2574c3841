"""Incremental corpus-stats index: any ingest split must reproduce the
one-shot profile exactly (counts trivially, KMV estimates because the
merge is exact), with parameter pinning and crash-safe state promotion."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mrsboraetl_spark.operators.sketch import kmv_distinct
from mrsboraetl_spark.operators.stats_index import StatsIndex
from mrsboraetl_spark.queries import table


def _direct(spark, docs, k):
    nt = F.size(
        F.split(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")), " ")
    )
    counts = {
        r.source: (r.n_docs, r.n_tokens)
        for r in docs.groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum(nt).alias("n_tokens"))
        .collect()
    }
    toks = docs.select(
        "source",
        F.explode(
            F.filter(F.split(F.lower("text"), r"[^a-z0-9]+"), lambda t: t != "")
        ).alias("tok"),
    )
    ests = {
        r.source: r.est_distinct
        for r in kmv_distinct(toks, "source", "tok", k=k).collect()
    }
    return counts, ests


def test_split_ingest_equals_one_shot_profile(spark, sf_dir, tmp_path):
    docs = table(spark, sf_dir, "documents")
    idx = StatsIndex(str(tmp_path / "idx"), k=16)
    for i in range(3):
        idx.ingest(docs.filter(F.col("doc_id") % 3 == i))
    got = {
        r.source: (r.n_docs, r.n_tokens, r.est_distinct_tokens)
        for r in idx.stats(spark).collect()
    }
    counts, ests = _direct(spark, docs, k=16)
    assert set(got) == set(counts)
    for s in counts:
        assert got[s][:2] == counts[s], s
        assert got[s][2] == ests[s], s


def test_single_ingest_matches_direct(spark, sf_dir, tmp_path):
    docs = table(spark, sf_dir, "documents")
    idx = StatsIndex(str(tmp_path / "one"), k=16)
    idx.ingest(docs)
    got = {
        r.source: (r.n_docs, r.n_tokens, r.est_distinct_tokens)
        for r in idx.stats(spark).collect()
    }
    counts, ests = _direct(spark, docs, k=16)
    for s in counts:
        assert got[s] == (*counts[s], ests[s]), s


def test_streaming_profile_matches_one_shot(spark, sf_dir, tmp_path):
    """Documents arriving as a file stream (one micro-batch per file)
    through the stats index must leave exactly the one-shot profile."""
    from mrsboraetl_spark.streaming.decontam import streaming_profile
    from mrsboraetl_spark.streaming.dedup import stream_documents

    docs = table(spark, sf_dir, "documents")
    src = str(tmp_path / "docs_stream")
    docs.repartition(3).write.parquet(src)

    idx = StatsIndex(str(tmp_path / "sidx"), k=16)
    q = streaming_profile(
        stream_documents(spark, src), idx, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    one = StatsIndex(str(tmp_path / "one"), k=16)
    one.ingest(docs)
    a = sorted(tuple(r) for r in idx.stats(spark).collect())
    b = sorted(tuple(r) for r in one.stats(spark).collect())
    assert a == b
    assert len(os.listdir(os.path.join(idx.path, "_done"))) == 3


def test_param_mismatch_rejected(spark, tmp_path):
    StatsIndex(str(tmp_path / "p"), k=16)
    with pytest.raises(ValueError):
        StatsIndex(str(tmp_path / "p"), k=32)


def test_state_swap_leaves_no_staging(spark, sf_dir, tmp_path):
    docs = table(spark, sf_dir, "documents")
    idx = StatsIndex(str(tmp_path / "s"), k=8)
    idx.ingest(docs.filter(F.col("doc_id") < 100))
    idx.ingest(docs.filter(F.col("doc_id") >= 100))
    state = os.path.join(str(tmp_path / "s"), "state.parquet")
    assert os.path.exists(state)
    assert not os.path.exists(state + ".tmp")
    assert not os.path.exists(state + ".old")
