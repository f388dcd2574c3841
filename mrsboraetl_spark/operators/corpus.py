"""The composed corpus-curation pipeline: one call from a raw document
table to a training-ready corpus with a per-document audit trail.

Stage order (each stage only sees the previous stage's survivors, so
the expensive near-dup pass runs on the smallest possible corpus):

0. REDACT    — operators/redact.redacted_text (opt-in,
               ``redact=True``): PII/secret scrubbing as a pure
               in-place projection — transforms text, drops nothing
0b. SPANS    — operators/spans.remove_repeated_spans (opt-in,
               ``span_tokens=N``): corpus-wide boilerplate span
               removal; documents that were PURE boilerplate drop
               with disposition 'boilerplate'
1. QUALITY   — operators/curation.quality_filter (length, repetition,
               language rules; monotone thresholds) — judged on the
               redacted/de-boilerplated text
2. DECONTAM  — operators/decontam (eval-set token-n-gram overlap,
               broadcast gram probe)
3. DEDUP     — LSH + exact-Jaccard-verified near-dup pairs ->
               connected components -> cluster keepers (non-keepers
               drop; the keeper is the cluster's minimum id)
4. SPLIT     — operators/curation.split_assign (hash train/val/test,
               stable under corpus growth)
5. PACK      — operators/curation.pack_sequences (training-order
               shuffle + fixed-budget concatenate-then-cut), train
               split only; val/test stay document-grained

The audit DataFrame covers EVERY input document exactly once with its
disposition — 'kept' or the name of the stage that dropped it — so the
100 TB question "why did 4% of the crawl disappear" is one groupBy
away (pytest pins the exactly-once partition property).

Everything composes the already-oracle-checked operators; the
composition itself is pinned by row-accounting and agreement tests
(tests/test_corpus_pipeline.py) rather than one giant SQL oracle.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mrsboraetl_spark.operators.curation import (
    pack_sequences,
    quality_filter,
    split_assign,
)
from mrsboraetl_spark.operators.decontam import contamination_counts
from mrsboraetl_spark.operators.dedup import (
    dedup_cluster_keepers,
    lsh_verified_pairs,
)


@dataclass
class CurationConfig:
    """Knobs for :func:`curate_corpus`, defaulting to the same values
    the individually-registered query entries use."""

    min_tokens: int = 10
    langs: tuple[str, ...] | None = None
    decontam_n: int = 4
    dedup_threshold: float = 0.5
    num_hashes: int = 8
    rows_per_band: int = 4
    shingle_k: int = 5
    max_band_freq: int | None = 100
    split_salt: str = "v1"
    pack_budget: int = 256
    pack_streams: int = 32
    cc_kwargs: dict = field(default_factory=dict)
    # Opt-in text-transform stages (defaults preserve the registered
    # entries' behavior exactly):
    redact: bool = False
    span_tokens: int | None = None
    span_max_freq: int = 2
    # Keeper policy for the near-dup stage: by default each cluster
    # keeps its minimum id; set a column name to instead keep the
    # HIGHEST-priority copy (e.g. 'n_chars' to keep the longest, or a
    # source-quality score) with min-id tie-break — the policy real
    # curation wants when the same document was crawled from sources
    # of unequal quality.
    keeper_priority_col: str | None = None
    # Monster-document bound, ON by default for the composed pipeline
    # (unlike the standalone operators, where it stays opt-in): the
    # thing curate_corpus is pointed at is raw crawl data, where a
    # single 16M-token document costs a 60-80s straggler task in the
    # repetition/shingling stages (superlinear past ~8M tokens —
    # PERF.md "Round 6: adversarial-document probe").  Documents above
    # the cap are ANALYZED on their first max_doc_tokens tokens only
    # (quality, decontam, dedup all see the capped text); they are never
    # dropped for length, their ORIGINAL text flows through to the
    # outputs, and the audit marks them ``truncated=true``.  None opts
    # out.
    max_doc_tokens: int | None = 1_000_000


def curate_corpus(
    docs: DataFrame,
    eval_df: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: CurationConfig | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (kept, audit, packed):

    * ``kept``  — surviving documents with their ``split`` column;
    * ``audit`` — (id, disposition, truncated) for EVERY input
      document, exactly once: 'kept' | 'boilerplate' | 'quality' |
      'contaminated' | 'duplicate'; ``truncated`` marks documents the
      monster-doc cap analyzed on a prefix (see CurationConfig
      .max_doc_tokens — never a drop reason);
    * ``packed`` — train-split packing assignment
      (id, stream, seq_idx, tok_offset, n_tokens).

    ``eval_df=None`` skips decontamination (no benchmark to protect).

    Unlike the rest of this package's operators, the call is not lazy:
    it runs the verdict jobs before it returns.  The quality survivors
    and the contaminated ids are id-only tables materialized once,
    eagerly (a lazy checkpoint misbehaves under more than one consumer;
    see dedup.minhash_lsh_pairs); the duplicate ids are a join against
    the cluster labels connected_components has already materialized.
    The next stage's input, ``kept``, ``audit`` and ``packed`` are then
    scans of the documents joined to those tables, so no action on them
    re-runs the quality, decontam or near-dup kernels.
    """
    cfg = cfg or CurationConfig()
    ids = docs.select(F.col(id_col).alias("id"))

    # 0. PII redaction — in-place projection, transforms text only
    if cfg.redact:
        from mrsboraetl_spark.operators.redact import redacted_text

        docs = docs.withColumn(text_col, redacted_text(text_col))

    # 0b. boilerplate-span removal — pure-boilerplate docs drop here
    if cfg.span_tokens:
        from mrsboraetl_spark.operators.spans import remove_repeated_spans

        cleaned = remove_repeated_spans(
            docs, id_col, text_col, cfg.span_tokens, cfg.span_max_freq
        ).select(
            F.col("id").alias(id_col), F.col("clean_text").alias("_ctext")
        )
        docs = (
            docs.join(cleaned, id_col)  # inner: pure boilerplate drops
            .withColumn(text_col, F.col("_ctext"))
            .drop("_ctext")
        )
        # Materialize the cleaned corpus ONCE: every downstream stage
        # (quality, decontam, dedup, audit) re-reads the document table,
        # and without this pin each re-read would recompute the span
        # count + anti-join + reassembly subtree — measured 2.3x on the
        # 5k worst-case probe.  Same single-machine stand-in for a stage
        # table as the LSH materializations (see README cluster notes).
        docs = docs.localCheckpoint()
        boilerplate = ids.join(
            docs.select(F.col(id_col).alias("id")), "id", "left_anti"
        )
    else:
        boilerplate = ids.limit(0)

    # 0c. monster-document bound (default ON; cfg.max_doc_tokens=None
    # opts out): the ANALYSIS stages below see at most the first
    # max_doc_tokens tokens of each document — bounding the worst
    # straggler task of the repetition/shingling stages by the cap
    # instead of by the largest document in the crawl — while the
    # document itself survives with its ORIGINAL text and an audit
    # flag.  The transform stages above already ran: the cap bounds
    # analysis cost, it never rewrites output text.
    wcol = text_col
    truncated = ids.limit(0)
    if cfg.max_doc_tokens is not None:
        from mrsboraetl_spark.functions.text import tokens

        ts = tokens(F.col(text_col))
        docs = docs.withColumn("_full_tok", F.size(ts)).withColumn(
            "_wtext",
            F.when(
                F.col("_full_tok") > cfg.max_doc_tokens,
                F.array_join(F.slice(ts, 1, cfg.max_doc_tokens), " "),
            ).otherwise(F.col(text_col)),
        )
        truncated = docs.filter(
            F.col("_full_tok") > cfg.max_doc_tokens
        ).select(F.col(id_col).alias("id"))
        wcol = "_wtext"

    # 1. quality gate — verdict + reasons over the full corpus
    q = quality_filter(
        docs, id_col, wcol, min_tokens=cfg.min_tokens, langs=cfg.langs
    )
    q_keep_ids = q.filter(F.col("keep")).select("id").localCheckpoint()
    survivors = docs.join(
        q_keep_ids.withColumnRenamed("id", id_col), id_col, "left_semi"
    )

    # 2. decontamination — only quality survivors are probed
    if eval_df is not None:
        # contamination_counts reads text_col on BOTH sides; align the
        # eval frame with the working column (eval docs are benchmark-
        # sized — the cap is about crawl monsters, not them).
        eval_for_probe = (
            eval_df.withColumn(wcol, F.col(text_col))
            if wcol != text_col
            else eval_df
        )
        contaminated = contamination_counts(
            survivors, eval_for_probe, id_col, wcol, n=cfg.decontam_n
        ).select(F.col(id_col).alias("id")).localCheckpoint()
        survivors = survivors.join(
            contaminated.withColumnRenamed("id", id_col),
            id_col,
            "left_anti",
        )
    else:
        contaminated = ids.limit(0)

    # 3. near-dup keepers on what's left
    pairs = lsh_verified_pairs(
        survivors,
        id_col,
        wcol,
        num_hashes=cfg.num_hashes,
        k=cfg.shingle_k,
        rows_per_band=cfg.rows_per_band,
        threshold=cfg.dedup_threshold,
        max_band_freq=cfg.max_band_freq,
    )
    if cfg.keeper_priority_col is not None:
        from mrsboraetl_spark.operators.dedup import (
            dedup_cluster_keepers_by_priority,
        )

        keepers = dedup_cluster_keepers_by_priority(
            survivors, pairs, id_col, cfg.keeper_priority_col,
            **cfg.cc_kwargs,
        )
    else:
        keepers = dedup_cluster_keepers(
            survivors, pairs, id_col, **cfg.cc_kwargs
        )
    dup_ids = keepers.filter(~F.col("is_keeper")).select("id")
    survivors = survivors.join(
        dup_ids.withColumnRenamed("id", id_col), id_col, "left_anti"
    )

    # 4. split assignment on the final corpus (working columns dropped:
    # outputs carry the original text)
    kept = split_assign(survivors, id_col, salt=cfg.split_salt).drop(
        "_wtext", "_full_tok"
    )

    packed = _pack_train(kept, id_col, text_col, cfg)

    # audit: disposition per input doc, first matching stage wins
    audit = (
        ids.join(
            boilerplate.select("id", F.lit(True).alias("_b")), "id", "left"
        )
        .join(
            q_keep_ids.select("id", F.lit(True).alias("_q")), "id", "left"
        )
        .join(
            contaminated.select("id", F.lit(True).alias("_c")), "id", "left"
        )
        .join(dup_ids.select("id", F.lit(True).alias("_d")), "id", "left")
        .join(
            truncated.select("id", F.lit(True).alias("_t")), "id", "left"
        )
        .select(
            "id",
            F.when(F.col("_b").isNotNull(), "boilerplate")
            .when(F.col("_q").isNull(), "quality")
            .when(F.col("_c").isNotNull(), "contaminated")
            .when(F.col("_d").isNotNull(), "duplicate")
            .otherwise("kept")
            .alias("disposition"),
            F.coalesce(F.col("_t"), F.lit(False)).alias("truncated"),
        )
    )
    return kept, audit, packed


def _pack_train(
    kept: DataFrame, id_col: str, text_col: str, cfg: CurationConfig
) -> DataFrame:
    """5. PACK: the packing assignment of ``kept``'s train split."""
    return pack_sequences(
        kept.filter(F.col("split") == "train"),
        id_col,
        text_col,
        budget=cfg.pack_budget,
        n_streams=cfg.pack_streams,
    )


def curate_and_export(
    docs: DataFrame,
    eval_df: DataFrame | None,
    out_dir: str,
    n_shards: int = 8,
    shard_seed: str = "epoch0",
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: CurationConfig | None = None,
) -> dict:
    """The whole last mile in one call: curate -> materialize the packed
    train sequences (exact budget cut) -> export them as deterministic
    globally-shuffled shards -> write val/test at document grain and the
    audit beside them.

    Layout under ``out_dir``::

        train_shards/   shard=K/ parquet of (id, seq_text, seq_tokens,
                        boundaries, pos, shard) — write_training_shards
                        manifest included (the commit marker)
        val/ test/      document-grained parquet of the held-out splits
        audit/          (id, disposition) for every input document

    Returns {'manifest': ..., 'dispositions': {...}} — both from
    bounded driver actions (the shard manifest's n_shards rows and one
    disposition groupBy of the written audit).

    Every stage runs once per call: curate_corpus materializes the
    per-stage verdicts, ``kept`` is materialized once and everything
    below is cut from it (the packing, the sequences, val and test),
    the sequences are materialized once for the shard writer's three
    reads (weight total, write, per-shard stats), and the dispositions
    are counted from the audit as written.
    """
    import os

    from mrsboraetl_spark.operators.curation import materialize_sequences
    from mrsboraetl_spark.sources.shards import write_training_shards

    cfg = cfg or CurationConfig()
    kept, audit, _ = curate_corpus(
        docs, eval_df, id_col=id_col, text_col=text_col, cfg=cfg
    )
    kept = kept.localCheckpoint()
    seqs = (
        materialize_sequences(
            _pack_train(kept, id_col, text_col, cfg),
            kept,
            id_col,
            text_col,
            cfg.pack_budget,
        )
        .select(
            F.concat_ws(":", F.col("stream"), F.col("seq_idx")).alias("id"),
            "seq_text",
            "seq_tokens",
            "boundaries",
        )
        .localCheckpoint()
    )
    manifest = write_training_shards(
        seqs,
        "id",
        os.path.join(out_dir, "train_shards"),
        n_shards,
        shard_seed,
        weight_col="seq_tokens",
    )
    for split in ("val", "test"):
        kept.filter(F.col("split") == split).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, split))
    audit_dir = os.path.join(out_dir, "audit")
    audit.write.mode("overwrite").parquet(audit_dir)
    dispositions = {
        r.disposition: r.c
        for r in kept.sparkSession.read.parquet(audit_dir)
        .groupBy("disposition")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    return {"manifest": manifest, "dispositions": dispositions}
