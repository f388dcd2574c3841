"""Unit tests for the round-5 session-2 additions: decontamination,
BM25/TF-IDF search, KMV/HLL sketches, and sequence packing — semantics
beyond what the oracle-parity hash checks pin."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mrsboraetl_spark.operators.curation import pack_sequences
from mrsboraetl_spark.operators.decontam import (
    contamination_counts,
    decontaminate,
    token_ngrams,
)
from mrsboraetl_spark.operators.search import bm25_topk, tfidf_scores
from mrsboraetl_spark.operators.sketch import approx_distinct, kmv_distinct
from mrsboraetl_spark.queries import table


# ------------------------------------------------------------- decontam

def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_decontaminate_drops_exactly_the_flagged_docs(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    flagged = {
        r.doc_id
        for r in contamination_counts(train, eval_df, n=5).collect()
    }
    kept = {r.doc_id for r in decontaminate(train, eval_df, n=5).collect()}
    all_train = {r.doc_id for r in train.select("doc_id").collect()}
    assert kept == all_train - flagged
    assert flagged, "probe is vacuous: eval slice shares no 5-gram"


def test_token_ngrams_short_docs_yield_no_grams(spark):
    # sequence(1, 0) is descending in Spark — the guard must make docs
    # shorter than n contribute nothing, not bogus grams.
    df = _docs(
        spark,
        [(1, "a b c"), (2, "one two three four five"), (3, None)],
    )
    out = token_ngrams(df, "doc_id", "text", 5).collect()
    assert {r.doc_id for r in out} == {2}
    assert [r.gram for r in out] == ["one two three four five"]


def test_ngram_kernel_matches_hof_spelling(spark, sf_dir):
    """The Arrow gram kernel must emit exactly the HOF token_ngrams set
    (the spelling the DuckDB oracle encodes), including dropping null
    text and sub-n docs."""
    from mrsboraetl_spark.operators.decontam import ngram_docs_kernel

    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .union(_docs(spark, [(990001, None), (990002, "a b")]))
    )
    hof = {
        (r.doc_id, r.gram)
        for r in token_ngrams(docs, "doc_id", "text", 4).collect()
    }
    kern = {
        (r.doc_id, r.gram)
        for r in ngram_docs_kernel(docs, "doc_id", "text", 4).collect()
    }
    assert kern == hof


def test_in_kernel_probe_matches_join_spelling(spark, sf_dir):
    """r13 pin: the default in-kernel probe (eval grams shipped to the
    Python workers, (id, n_hits) emitted directly) equals the gram-keyed
    shuffle-join fallback (broadcast_eval=False routes the kernel's gram
    stream through a join)."""
    docs = table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 23 == 0)
    train = docs.filter(F.col("doc_id") % 23 != 0)
    in_kernel = {
        (r.doc_id, r.n_hits)
        for r in contamination_counts(train, eval_df, n=4).collect()
    }
    join_kernel = {
        (r.doc_id, r.n_hits)
        for r in contamination_counts(
            train, eval_df, n=4, broadcast_eval=False
        ).collect()
    }
    assert in_kernel == join_kernel and in_kernel


def test_empty_eval_set_keeps_everything(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    empty = docs.filter(F.lit(False))
    assert contamination_counts(docs, empty, n=4).count() == 0
    assert decontaminate(docs, empty, n=4).count() == docs.count()


def test_contamination_counts_counts_distinct_shared_grams(spark):
    train = _docs(spark, [(1, "a b c d e f"), (2, "x y z w v u")])
    eval_df = _docs(spark, [(10, "a b c d e"), (11, "b c d e f")])
    got = {
        (r.doc_id, r.n_hits)
        for r in contamination_counts(train, eval_df, n=5).collect()
    }
    # doc 1's grams: "a b c d e", "b c d e f" — both in eval; doc 2: none
    assert got == {(1, 2)}


# --------------------------------------------------------------- search

def test_bm25_prefers_higher_tf_at_equal_length(spark):
    df = _docs(
        spark,
        [
            (1, "spark spark spark pad pad pad"),
            (2, "spark pad pad pad pad pad"),
            (3, "pad pad pad pad pad pad"),
        ],
    )
    hits = bm25_topk(df, ["spark"], k=10).orderBy("rank").collect()
    assert [r.doc_id for r in hits] == [1, 2]  # doc 3 matches nothing
    assert hits[0].score > hits[1].score > 0
    assert [r.rank for r in hits] == [1, 2]


def test_bm25_penalizes_longer_docs_at_equal_tf(spark):
    df = _docs(
        spark,
        [
            (1, "spark pad"),
            (2, "spark " + "pad " * 20),
            (3, "pad"),
        ],
    )
    hits = bm25_topk(df, ["spark"], k=10).orderBy("rank").collect()
    assert [r.doc_id for r in hits] == [1, 2]


def test_tfidf_matches_hand_computation(spark):
    # 4 docs, term "x" in 2 of them -> idf = ln(4/2); tf=2 in doc 1.
    df = _docs(
        spark,
        [(1, "x x y"), (2, "x z"), (3, "y z"), (4, "z z")],
    )
    got = {
        r.doc_id: r.score for r in tfidf_scores(df, ["x"]).collect()
    }
    idf = math.log(4 / 2)
    assert got.keys() == {1, 2}
    assert got[1] == pytest.approx((1 + math.log(2)) * idf)
    assert got[2] == pytest.approx(1.0 * idf)


def test_bm25_empty_terms_rejected(spark):
    df = _docs(spark, [(1, "a")])
    with pytest.raises(ValueError):
        bm25_topk(df, [], k=5)


# -------------------------------------------------------------- sketches

def test_kmv_exact_below_k_and_estimate_above_k(spark):
    rows = [("small", f"v{i}") for i in range(10)] + [
        ("big", f"w{i}") for i in range(2000)
    ]
    df = spark.createDataFrame(rows, "g string, v string")
    got = {r.g: r.est_distinct for r in kmv_distinct(df, "g", "v", k=64).collect()}
    assert got["small"] == 10.0  # sketch holds all values: exact
    # KMV std-err ~ 1/sqrt(k-2) ≈ 12.7%; the estimate is deterministic
    # (md5), so this is a fixed-value check with slack, not a flaky one.
    assert got["big"] == pytest.approx(2000, rel=0.35)


def test_kmv_ignores_duplicates_and_nulls(spark):
    rows = [("g", "a")] * 100 + [("g", "b")] * 50 + [("g", None)] * 7
    df = spark.createDataFrame(rows, "g string, v string")
    got = kmv_distinct(df, "g", "v", k=8).collect()
    assert len(got) == 1 and got[0].est_distinct == 2.0


def test_approx_distinct_hll_within_tolerance(spark):
    rows = [("g", f"v{i}") for i in range(5000)]
    df = spark.createDataFrame(rows, "g string, v string")
    est = approx_distinct(df, "g", "v", rsd=0.05).collect()[0].est_distinct
    assert est == pytest.approx(5000, rel=0.15)


def test_kmv_sharded_merge_equals_direct(spark, sf_dir):
    """The mergeable-state contract: per-shard sketches combined with
    kmv_merge_estimate give EXACTLY the direct estimate over the union —
    the property that lets a 100 TB pipeline sketch per day/partition
    and fold later."""
    from mrsboraetl_spark.operators.sketch import (
        kmv_merge_estimate,
        kmv_sketch,
    )

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        (F.col("doc_id") % 3).alias("shard"),
        F.explode(
            F.filter(
                F.split(F.lower("text"), r"[^a-z0-9]+"), lambda t: t != ""
            )
        ).alias("tok"),
    )
    direct = {
        r.source: r.est_distinct
        for r in kmv_distinct(toks, "source", "tok", k=32).collect()
    }
    partials = kmv_sketch(toks, ["source", "shard"], "tok", k=32)
    assert partials.filter(F.size("sketch") > 32).count() == 0
    merged = {
        r.source: r.est_distinct
        for r in kmv_merge_estimate(partials, "source", k=32).collect()
    }
    assert merged == direct


def test_decontam_shuffle_fallback_matches_broadcast(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 23 == 0)
    train = docs.filter(F.col("doc_id") % 23 != 0)
    bc = {
        (r.doc_id, r.n_hits)
        for r in contamination_counts(train, eval_df, n=4).collect()
    }
    sh = {
        (r.doc_id, r.n_hits)
        for r in contamination_counts(
            train, eval_df, n=4, broadcast_eval=False
        ).collect()
    }
    assert bc == sh and bc


def test_kmv_k_must_be_at_least_two(spark):
    df = spark.createDataFrame([("g", "a")], "g string, v string")
    with pytest.raises(ValueError):
        kmv_distinct(df, "g", "v", k=1)


def test_sample_to_token_budget_semantics(spark, sf_dir):
    from mrsboraetl_spark.operators.curation import sample_to_token_budget

    docs = table(spark, sf_dir, "documents")
    nt = F.size(
        F.split(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")), " ")
    )
    actual = {
        r.source: r.t
        for r in docs.groupBy("source").agg(F.sum(nt).alias("t")).collect()
    }
    out = sample_to_token_budget(
        docs, "doc_id", "text", "source",
        budgets={"src0": 500, "src1": 10_000_000, "src2": 0},
    )
    kept = {
        r.source: r.t
        for r in out.groupBy("source").agg(F.sum(nt).alias("t")).collect()
    }
    # unknown sources and zero budgets are dropped
    assert set(kept) <= {"src0", "src1"}
    # budget >= actual keeps the source whole
    assert kept["src1"] == actual["src1"]
    # sampled source lands near its budget (hash-uniform over docs)
    assert 0 < kept["src0"] < actual["src0"]
    assert kept["src0"] < 3 * 500
    # deterministic
    again = sample_to_token_budget(
        docs, "doc_id", "text", "source",
        budgets={"src0": 500, "src1": 10_000_000, "src2": 0},
    )
    assert {r.doc_id for r in out.collect()} == {
        r.doc_id for r in again.collect()
    }


def test_oov_fraction_bounds_and_full_vocab_is_zero(spark, sf_dir):
    from mrsboraetl_spark.operators.curation import oov_fraction

    docs = table(spark, sf_dir, "documents")
    out = oov_fraction(docs, "doc_id", "text", vocab_size=20).collect()
    assert len(out) == docs.count()
    assert all(0.0 <= r.oov_frac <= 1.0 for r in out)
    assert any(r.oov_frac > 0 for r in out)  # tail tokens carry OOV mass
    # a vocabulary covering every distinct token -> zero OOV everywhere
    full = oov_fraction(docs, "doc_id", "text", vocab_size=100000).collect()
    assert all(r.oov_frac == 0.0 for r in full)


# ---------------------------------------------------------- pack_sequences

def test_pack_sequences_contiguous_within_each_stream(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    out = pack_sequences(docs, "doc_id", "text", budget=256, n_streams=8)
    rows = out.collect()
    assert len(rows) == docs.count()
    by_stream: dict[int, list] = {}
    for r in rows:
        assert 0 <= r.tok_offset < 256
        assert r.seq_idx >= 0
        by_stream.setdefault(r.stream, []).append(r)
    assert set(by_stream) <= set(range(8))
    # Within a stream the docs tile the token axis exactly: sorted by
    # global start offset, each doc starts where the previous one ended.
    for rs in by_stream.values():
        rs.sort(key=lambda r: r.seq_idx * 256 + r.tok_offset)
        pos = 0
        for r in rs:
            assert r.seq_idx * 256 + r.tok_offset == pos
            pos += r.n_tokens


def test_pack_sequences_is_deterministic_and_salt_sensitive(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    a = {
        (r.id, r.stream, r.seq_idx, r.tok_offset)
        for r in pack_sequences(docs, "doc_id", "text").collect()
    }
    b = {
        (r.id, r.stream, r.seq_idx, r.tok_offset)
        for r in pack_sequences(docs, "doc_id", "text").collect()
    }
    c = {
        (r.id, r.stream, r.seq_idx, r.tok_offset)
        for r in pack_sequences(docs, "doc_id", "text", salt="other").collect()
    }
    assert a == b
    assert a != c


def test_pack_sequences_rejects_bad_budget(spark):
    df = _docs(spark, [(1, "a")])
    with pytest.raises(ValueError):
        pack_sequences(df, "doc_id", "text", budget=0)
