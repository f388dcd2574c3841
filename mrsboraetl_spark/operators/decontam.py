"""Benchmark decontamination: remove training documents that share a
token n-gram with a held-out evaluation set.

The canonical training-data hygiene step (GPT-3 App. C / PaLM-style
"13-gram overlap" filtering, scaled here to the short synthetic docs):
any train document containing at least one token n-gram that also
occurs in the eval corpus is flagged (and, in the removal variant,
dropped).

100 TB shape: the eval side is a benchmark suite — megabytes against a
corpus of terabytes — so its distinct n-gram set is broadcast and the
only full-corpus work is one generate-and-probe pass over the train
side (explode + broadcast hash semi-join; no shuffle of the corpus).
The flag aggregation shuffles only the *matching* (doc, gram) rows,
which decontamination assumes to be a tiny fraction of the corpus.

Tokenization mirrors functions.text.tokens / the DuckDB ``_TOKENS``
spelling so oracles stay byte-stable.

Reference scope note: the reference ETL (flat_obs_v1.0.sql etc.) has no
decontamination concept — this is part of the training-data extension
layer (SURVEY.md §8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mrsboraetl_spark.functions.text import tokens


def _exploded_ngrams(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Token n-grams per document WITH multiplicity: (id_col, gram).

    Pure codegen: tokenize, slide an n-window via transform-over-sequence,
    join each window with single spaces, explode.  Documents shorter than
    n tokens yield no rows (sequence guard).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    # Catalyst evaluates transform/array_join lambdas interpreted per
    # element, so gram generation is CPU-bound: make sure it runs at full
    # parallelism.  Only the 2-column (id, text) projection is ever
    # reshuffled, and only when the scan is UNDER-parallel (a 100 TB
    # corpus already arrives in thousands of files and skips this).
    # r13 (guide §1.2): the under-parallel probe used to be
    # ``df.rdd.getNumPartitions()``, which builds the full physical plan
    # AND its RDD chain on the driver per invocation (~tens of ms of
    # pure planning, paid again every bench pass); counting the scan's
    # input files answers the same scale question from the (cached)
    # file index without planning anything.  Behavior difference is
    # confined to few-huge-files inputs (file count under-estimates the
    # split count), where the extra 2-column repartition is the
    # documented acceptable cost; results are identical either way.
    df = df.select(F.col(id_col), F.col(text_col))
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    if len(df.inputFiles()) < n_parts:
        df = df.repartition(n_parts)
    toks = tokens(F.col(text_col))
    # sequence(1, 0) is DESCENDING in Spark, not empty — guard short docs
    # explicitly so they contribute no grams.
    starts = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.expr("array()").cast("array<int>"))
    grams = F.transform(
        starts, lambda i: F.array_join(F.slice(toks, i, n), " ")
    )
    return df.select(F.col(id_col), F.explode(grams).alias("gram"))


def token_ngrams(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Distinct token n-grams per document: (id_col, gram)."""
    return _exploded_ngrams(df, id_col, text_col, n).distinct()


_TOKEN_RE = r"[^a-z0-9]+"


def ngram_docs_kernel(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id_col, gram) — one row per DISTINCT token n-gram per doc, from
    an Arrow-batched kernel.  Set-equivalent to :func:`token_ngrams`
    (the HOF spelling the DuckDB oracle encodes; pytest-pinned),
    vectorized for the same reason as dedup's shingle kernels: Catalyst
    evaluates the transform/array_join/filter lambdas interpreted per
    element, so the corpus-side gram generation is the probe's CPU
    cost.  The Python re.split of ``[^a-z0-9]+`` over lowercased text
    is behavior-identical to the JVM split for this class-only pattern.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    import re

    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    pat = re.compile(_TOKEN_RE)

    def batches(it):
        for pdf in it:
            ids, gs = [], []
            for doc, t in zip(pdf[id_col], pdf[text_col]):
                toks = [x for x in pat.split(t.lower()) if x != ""]
                m = len(toks) - (n - 1)
                grams = dict.fromkeys(
                    " ".join(toks[i : i + n]) for i in range(max(m, 0))
                )
                for g in grams:
                    ids.append(doc)
                    gs.append(g)
            yield pd.DataFrame({id_col: ids, "gram": gs})

    n_parts = df.sparkSession.sparkContext.defaultParallelism
    return (
        # NULL text filtered JVM-side — explode-of-null emits no rows,
        # matching the HOF spelling.
        df.select(id_col, text_col)
        .filter(F.col(text_col).isNotNull())
        .repartition(n_parts)
        .mapInPandas(batches, f"{id_col} {id_type}, gram string")
    )


def ngram_hits_kernel(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    eval_bc,
) -> DataFrame:
    """(id_col, n_hits) with n_hits = |distinct doc n-grams ∩ eval set|,
    emitted directly from the Arrow kernel; docs with zero hits emit no
    row.  ``eval_bc`` is an ``sc.broadcast`` frozenset of eval gram
    strings (benchmark-sized by the decontamination contract).

    r13 (guide §2.3 "shuffle keys and metadata instead of payloads" +
    §4.1): probing INSIDE the kernel means the corpus's gram stream —
    by far the widest thing this operator produces — never crosses the
    Arrow boundary at all; only the per-doc hit counts do (matches-only,
    2 ints/row).  That deletes the probe hash join AND the groupBy(id)
    exchange: the whole operator is one scan + one mapInPandas.  Hit
    counting over a local Python set is behavior-identical to the
    distinct-gram join + count(*) (pytest-pinned against the shuffle
    fallback and the decontam_ngram_overlap oracle).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    import re

    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    pat = re.compile(_TOKEN_RE)

    def batches(it):
        ev = eval_bc.value
        for pdf in it:
            ids, hits = [], []
            for doc, t in zip(pdf[id_col], pdf[text_col]):
                toks = [x for x in pat.split(t.lower()) if x != ""]
                m = len(toks) - (n - 1)
                grams = dict.fromkeys(
                    " ".join(toks[i : i + n]) for i in range(max(m, 0))
                )
                c = len(ev.intersection(grams))
                if c:
                    ids.append(doc)
                    hits.append(c)
            yield pd.DataFrame({id_col: ids, "n_hits": hits})

    n_parts = df.sparkSession.sparkContext.defaultParallelism
    df = df.select(id_col, text_col).filter(F.col(text_col).isNotNull())
    if len(df.inputFiles()) < n_parts:
        df = df.repartition(n_parts)
    return df.mapInPandas(batches, f"{id_col} {id_type}, n_hits long")


def contamination_counts(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    broadcast_eval: bool = True,
) -> DataFrame:
    """(id_col, n_hits) for every train document sharing >= 1 token
    n-gram with the eval corpus; n_hits = number of distinct shared grams.

    Default path (r13): the eval gram set — benchmark-sized by
    construction — is broadcast to the Python workers and the probe runs
    INSIDE the corpus kernel (:func:`ngram_hits_kernel`): one scan, one
    mapInPandas, no joins and no aggregation exchange; only (id, n_hits)
    rows for contaminated docs ever leave the kernel.

    ``broadcast_eval=False`` spells the probe as a gram-keyed shuffle
    hash join instead — the fallback when the eval side outgrows
    broadcast (a full benchmark SUITE of gram sets, or decontaminating
    one corpus half against the other); the corpus gram stream then
    crosses the Arrow boundary and shuffles once.  Same result set
    (pytest-pinned); the trade is one corpus-gram shuffle for not
    materializing the eval grams on every worker.

    On that fallback the corpus side runs through the Arrow-vectorized
    :func:`ngram_docs_kernel` (already per-doc-distinct, so the probe's
    matches need no further dedup); the eval side stays the all-JVM
    :func:`_exploded_ngrams`.
    """
    # r13 (guide §2.4 "remove shuffles outright"): the probe set only
    # needs the GLOBALLY distinct grams, so the per-document dedup that
    # token_ngrams performs first (a full (id, gram) shuffle + aggregate
    # of the eval side) was a wasted exchange — distinct directly on the
    # bare gram stream; the resulting set is identical.
    eval_grams = (
        _exploded_ngrams(eval_df, id_col, text_col, n)
        .select("gram")
        .distinct()
    )
    if broadcast_eval:
        # r13: the eval grams go to the Python workers instead of a JVM
        # broadcast relation, and the probe runs inside the corpus kernel
        # (see ngram_hits_kernel).  The collect is the same bounded
        # driver action the JVM broadcast build performs — benchmark-
        # sized by the decontamination contract — recomputed from the
        # parquet inputs on every invocation (never memoized).
        # Interleaved same-JVM A/B at sf0.1: 1.194 -> 0.493s min-of-4
        # (0.41x), exceptAll-equal both ways.
        ev_set = frozenset(r[0] for r in eval_grams.collect())
        eval_bc = train.sparkSession.sparkContext.broadcast(ev_set)
        return ngram_hits_kernel(train, id_col, text_col, n, eval_bc)
    hits = ngram_docs_kernel(train, id_col, text_col, n).join(
        eval_grams, "gram"
    )
    return hits.groupBy(id_col).agg(F.count("*").alias("n_hits"))


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """The removal variant: train rows with zero eval n-gram overlap.

    Spelled as a broadcast LEFT ANTI join against the (small) contaminated
    id set, so the full-width train rows are never shuffled.
    """
    bad = contamination_counts(train, eval_df, id_col, text_col, n).select(
        id_col
    )
    return train.join(F.broadcast(bad), id_col, "left_anti")


def contamination_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_shared: int = 1,
    broadcast_eval: bool = True,
) -> DataFrame:
    """(train_id, eval_id, n_shared) — the ATTRIBUTION view of
    contamination: which eval document leaked into which train document,
    by count of distinct shared token n-grams.  What leak forensics
    needs after :func:`contamination_counts` flags a document ("which
    benchmark item is this, and how much of it").

    Same plan family as the counts: the eval side keeps (eval_id, gram)
    — still benchmark-sized, broadcast by default — and the corpus side
    streams through one probe join; the pair aggregation keys on
    (train gram-match rows x their eval owners), so the shuffled volume
    is matches-only.  A gram shared by several eval docs attributes to
    each (the honest fan-out — suppress with min_shared).  Set
    ``broadcast_eval=False`` for the gram-keyed shuffle fallback."""
    eval_grams = token_ngrams(eval_df, id_col, text_col, n).select(
        F.col(id_col).alias("eval_id"), "gram"
    )
    if broadcast_eval:
        eval_grams = F.broadcast(eval_grams)
    train_grams = ngram_docs_kernel(train, id_col, text_col, n)
    return (
        train_grams.select(F.col(id_col).alias("train_id"), "gram")
        .join(eval_grams, "gram")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
