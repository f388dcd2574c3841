"""Composed corpus-curation pipeline: row accounting, stage agreement,
and determinism of curate_corpus (each stage is oracle-checked on its
own; these tests pin the COMPOSITION)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mrsboraetl_spark.operators.corpus import CurationConfig, curate_corpus
from mrsboraetl_spark.queries import table


def _run(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 23 == 0)
    train = docs.filter(F.col("doc_id") % 23 != 0)
    cfg = CurationConfig(min_tokens=15)
    kept, audit, packed = curate_corpus(train, eval_df, cfg=cfg)
    return train, kept, audit, packed


def test_audit_partitions_every_doc_exactly_once(spark, sf_dir):
    train, kept, audit, _ = _run(spark, sf_dir)
    n = train.count()
    assert audit.count() == n
    assert audit.select("id").distinct().count() == n
    counts = {
        r.disposition: r.c
        for r in audit.groupBy("disposition").agg(F.count("*").alias("c")).collect()
    }
    assert counts.get("kept", 0) == kept.count()
    assert sum(counts.values()) == n
    # every stage actually fires on this corpus — no vacuous composition
    for stage in ("quality", "contaminated", "duplicate", "kept"):
        assert counts.get(stage, 0) > 0, counts


def test_stages_agree_with_standalone_operators(spark, sf_dir):
    from mrsboraetl_spark.operators.curation import quality_filter
    from mrsboraetl_spark.operators.decontam import contamination_counts

    train, kept, audit, _ = _run(spark, sf_dir)
    docs = table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 23 == 0)

    q_fail = {
        r.id
        for r in quality_filter(train, "doc_id", "text", min_tokens=15)
        .filter(~F.col("keep"))
        .collect()
    }
    got_q = {
        r.id for r in audit.filter(F.col("disposition") == "quality").collect()
    }
    assert got_q == q_fail

    # contaminated dispositions are quality-survivors flagged by decontam
    survivors = train.join(
        spark.createDataFrame([(i,) for i in q_fail], "doc_id long"),
        "doc_id",
        "left_anti",
    ) if q_fail else train
    contaminated = {
        r.doc_id
        for r in contamination_counts(survivors, eval_df, n=4).collect()
    }
    got_c = {
        r.id
        for r in audit.filter(F.col("disposition") == "contaminated").collect()
    }
    assert got_c == contaminated

    # kept docs carry a split and packing covers exactly the train split
    splits = {r.split for r in kept.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"}


def test_packed_covers_exactly_the_train_split(spark, sf_dir):
    _, kept, _, packed = _run(spark, sf_dir)
    train_ids = {
        r.doc_id for r in kept.filter(F.col("split") == "train").collect()
    }
    packed_ids = {r.id for r in packed.collect()}
    assert packed_ids == train_ids


def test_pipeline_is_deterministic(spark, sf_dir):
    _, _, audit1, _ = _run(spark, sf_dir)
    _, _, audit2, _ = _run(spark, sf_dir)
    a = {(r.id, r.disposition) for r in audit1.collect()}
    b = {(r.id, r.disposition) for r in audit2.collect()}
    assert a == b


def test_no_eval_set_skips_decontamination(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    kept, audit, _ = curate_corpus(
        docs, None, cfg=CurationConfig(min_tokens=15)
    )
    assert audit.filter(F.col("disposition") == "contaminated").count() == 0
    assert kept.count() == audit.filter(
        F.col("disposition") == "kept"
    ).count()


def test_optin_redact_and_span_stages(spark):
    """Opt-in stage 0/0b: PII is scrubbed in place, boilerplate spans are
    cut, pure-boilerplate documents get their own disposition, and the
    audit still partitions every input exactly once."""
    base = [
        # 4 pure-boilerplate docs (same 2-token span everywhere)
        *[(i, "copy right copy right") for i in range(1, 5)],
        # normal docs, long enough to pass quality, with PII in two
        (10, "alpha beta gamma delta epsilon zeta eta theta mail bob@x.io"),
        (11, "one two three four five six seven eight from 10.0.0.9 ok"),
        (12, "red orange yellow green blue indigo violet black white grey"),
        # short doc -> quality drop
        (20, "tiny"),
    ]
    docs = spark.createDataFrame(base, "doc_id int, text string")
    cfg = CurationConfig(
        min_tokens=5,
        redact=True,
        span_tokens=2,
        span_max_freq=3,
        pack_budget=32,
        pack_streams=2,
    )
    kept, audit, _ = curate_corpus(docs, None, cfg=cfg)

    n = docs.count()
    assert audit.count() == n
    assert audit.select("id").distinct().count() == n
    dispo = {r.id: r.disposition for r in audit.collect()}
    for i in range(1, 5):
        assert dispo[i] == "boilerplate", dispo
    assert dispo[20] == "quality"
    assert dispo[10] == dispo[11] == dispo[12] == "kept"

    texts = {r.doc_id: r.text for r in kept.collect()}
    assert "<EMAIL>" in texts[10] and "bob@x.io" not in texts[10]
    assert "<IP>" in texts[11] and "10.0.0.9" not in texts[11]
    # redaction happened BEFORE quality: token counts judged on clean text
    assert "copy right" not in texts[12]


def test_optin_stages_default_off_matches_previous_behavior(spark, sf_dir):
    train, kept, audit, _ = _run(spark, sf_dir)
    cfg = CurationConfig(min_tokens=15, redact=False, span_tokens=None)
    docs = table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 23 == 0)
    kept2, audit2, _ = curate_corpus(train, eval_df, cfg=cfg)
    a = {(r.id, r.disposition) for r in audit.collect()}
    b = {(r.id, r.disposition) for r in audit2.collect()}
    assert a == b
    assert "boilerplate" not in {d for _, d in a}


# Spark jobs one curate_and_export of the ``export`` fixture may run:
# measured 101 with the verdicts, the kept corpus and the sequences each
# materialized once and the dispositions counted from the written audit
# (106-129 without any one of the last three; 160-163 when every action on
# the outputs re-ran the curation lineage), plus two jobs of headroom.
EXPORT_JOBS = 103


@pytest.fixture(scope="module")
def export(spark, tmp_path_factory):
    """One curate_and_export of a 120-document corpus, shared by the
    tests below, with every stage dropping something: every 12th
    document is too short, the next repeats an eval document, the next
    is a near copy of its successor.  Returns the input, the output
    directory, the result, and the call's Spark jobs and kernel queries
    (SQL executions whose plan runs an Arrow kernel, MapInPandas)."""
    from mrsboraetl_spark.operators.corpus import curate_and_export

    def text(i):
        return " ".join(f"w{i}x{j}" for j in range(12 + i % 9))

    def eval_text(k):
        return " ".join(f"e{k}x{j}" for j in range(12))

    rows = [
        (
            i,
            {0: f"w{i} short", 1: eval_text(i % 5), 2: text(i + 1) + " end"}
            .get(i % 12, text(i)),
            "src0",
        )
        for i in range(120)
    ]
    train = spark.createDataFrame(
        rows, "doc_id int, text string, source string"
    )
    eval_df = spark.createDataFrame(
        [(1000 + k, eval_text(k), "eval") for k in range(5)],
        "doc_id int, text string, source string",
    )
    out = str(tmp_path_factory.mktemp("export"))
    sc = spark.sparkContext._jsc.sc()
    sql_store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        sc.listenerBus().waitUntilEmpty()
        execs = sql_store.executionsList()
        return [execs.apply(i) for i in range(execs.size())]

    before = {int(e.executionId()) for e in executions()}
    j0 = int(sc.dagScheduler().numTotalJobs())
    res = curate_and_export(
        train,
        eval_df,
        out,
        n_shards=3,
        cfg=CurationConfig(min_tokens=5, pack_budget=32, pack_streams=4),
    )
    jobs = int(sc.dagScheduler().numTotalJobs()) - j0
    kernel_queries = sum(
        "MapInPandas" in e.physicalPlanDescription()
        for e in executions()
        if int(e.executionId()) not in before
    )
    return dict(train=train, out=out, res=res, jobs=jobs,
                kernel_queries=kernel_queries)


def test_curate_and_export_end_to_end(spark, export):
    """Raw docs -> curate -> exact-cut sequences -> token-balanced
    shards + val/test + audit, all on disk with a committed manifest."""
    import os

    from mrsboraetl_spark.sources.shards import read_manifest

    train, out, res = export["train"], export["out"], export["res"]
    assert sum(res["dispositions"].values()) == train.count()
    man = read_manifest(os.path.join(out, "train_shards"))
    assert man["n_shards"] == 3 and man["weight_col"] == "seq_tokens"
    shards = spark.read.parquet(os.path.join(out, "train_shards"))
    # conservation: exported sequence tokens == kept-train doc tokens
    n_seq_tokens = shards.agg(F.sum("seq_tokens")).first()[0]
    audit = spark.read.parquet(os.path.join(out, "audit"))
    kept_ids = {
        r.id for r in audit.filter(F.col("disposition") == "kept").collect()
    }
    splits = {
        r.doc_id: r.split
        for r in spark.read.parquet(os.path.join(out, "val"))
        .select("doc_id", "split")
        .union(
            spark.read.parquet(os.path.join(out, "test")).select(
                "doc_id", "split"
            )
        )
        .collect()
    }
    train_kept_tokens = sum(
        len(r.text.split(" "))
        for r in train.collect()
        if r.doc_id in kept_ids and r.doc_id not in splits
    )
    assert n_seq_tokens == train_kept_tokens
    # weighted shards: balanced within one sequence's budget
    ideal = sum(man["shard_weight"]) / 3
    assert all(abs(w - ideal) <= 32 for w in man["shard_weight"])
    # The shard schema trainers read back is exactly the documented one:
    # no internal artifacts (e.g. the running-weight 'prefix') leak out.
    assert set(shards.columns) == {
        "id", "seq_text", "seq_tokens", "boundaries", "pos", "shard"
    }


def test_curate_and_export_runs_each_stage_once(spark, export):
    """Every curation stage is evaluated once per export: each of the
    three Arrow kernels (quality, decontamination, LSH signatures) runs
    in one query, and the call stays within EXPORT_JOBS.  The outputs
    still agree with each other: the dispositions are the written
    audit's, every stage fired, and the kept documents are exactly
    val + test + the documents the train shards carry."""
    import os

    out, res = export["out"], export["res"]
    assert export["kernel_queries"] == 3
    assert export["jobs"] <= EXPORT_JOBS
    audit = spark.read.parquet(os.path.join(out, "audit"))
    assert res["dispositions"] == {
        r.disposition: r["count"]
        for r in audit.groupBy("disposition").count().collect()
    }
    assert set(res["dispositions"]) == {
        "quality", "contaminated", "duplicate", "kept"
    }
    kept_ids = {
        r.id for r in audit.filter(F.col("disposition") == "kept").collect()
    }
    held_out = {
        r.doc_id
        for split in ("val", "test")
        for r in spark.read.parquet(os.path.join(out, split))
        .select("doc_id")
        .collect()
    }
    in_shards = {
        r.id
        for r in spark.read.parquet(os.path.join(out, "train_shards"))
        .select(F.explode("boundaries.id").alias("id"))
        .collect()
    }
    assert held_out and in_shards
    assert kept_ids == held_out | in_shards


def test_priority_keeper_policy_in_composed_pipeline(spark):
    """keeper_priority_col: the composed pipeline keeps the
    highest-priority copy of each near-dup cluster instead of the
    minimum id, and the audit still partitions every input exactly
    once."""
    base = "the quick brown fox jumps over the lazy dog " * 4
    rows = [
        (1, base + "alpha", "crawl", 10),
        (2, base + "alpha beta", "books", 99),   # longer + higher priority
        (3, "totally unrelated document about gardens and rivers " * 3,
         "crawl", 10),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id int, text string, source string, prio int"
    )
    cfg_min = CurationConfig(min_tokens=5)
    cfg_prio = CurationConfig(min_tokens=5, keeper_priority_col="prio")
    kept_min, audit_min, _ = curate_corpus(docs, None, cfg=cfg_min)
    kept_prio, audit_prio, _ = curate_corpus(docs, None, cfg=cfg_prio)
    min_ids = {r.doc_id for r in kept_min.select("doc_id").collect()}
    prio_ids = {r.doc_id for r in kept_prio.select("doc_id").collect()}
    assert 1 in min_ids and 2 not in min_ids        # min-id keeps doc 1
    assert 2 in prio_ids and 1 not in prio_ids      # priority keeps doc 2
    assert 3 in min_ids and 3 in prio_ids           # singleton unaffected
    for audit in (audit_min, audit_prio):
        assert audit.count() == 3
        assert audit.filter("disposition = 'duplicate'").count() == 1


def test_monster_doc_capped_not_dropped(spark):
    """The default monster-doc bound (CurationConfig.max_doc_tokens):
    an over-cap document is ANALYZED on its prefix, flagged
    truncated=true in the audit, keeps its ORIGINAL text in the kept
    output, and is never silently dropped.  (The 16M-token wall-clock
    measurement is PERF.md "Round 6: adversarial-document probe"; this
    pins the semantics at a small cap.)"""
    import random

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(200)]
    normal = " ".join(rng.choice(vocab) for _ in range(80))
    monster = " ".join(rng.choice(vocab) for _ in range(5000))
    docs = spark.createDataFrame(
        [(1, normal), (2, monster), (3, normal + " extra tail here")],
        "doc_id int, text string",
    )
    cfg = CurationConfig(min_tokens=5, max_doc_tokens=500)
    kept, audit, _ = curate_corpus(docs, None, cfg=cfg)

    rows = {r.id: r for r in audit.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2].truncated and rows[2].disposition == "kept"
    assert not rows[1].truncated and not rows[3].truncated
    out = {r.doc_id: r.text for r in kept.collect()}
    assert out[2] == monster  # original text, not the analysis prefix
    assert "_wtext" not in kept.columns and "_full_tok" not in kept.columns

    # Opt-out restores the uncapped behavior: nothing flagged.
    _, audit_off, _ = curate_corpus(
        docs, None, cfg=CurationConfig(min_tokens=5, max_doc_tokens=None)
    )
    assert audit_off.filter(F.col("truncated")).count() == 0
