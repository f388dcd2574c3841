"""Text-analysis functions for training-data pipelines: language ID,
quality scoring, token counting, fingerprinting.

All pure ``pyspark.sql.functions`` compositions (codegen'd, no UDFs) with
formulas simple enough to mirror exactly in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny stopword inventories for the n-gram/stopword language heuristic.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "on"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "las", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "du", "une", "que"],
    "de": ["der", "die", "und", "das", "von", "mit", "den", "ein", "für", "ist"],
}
LANG_PRIORITY = ["en", "es", "fr", "de"]


def tokens(text: Column) -> Column:
    """Lowercased alphanumeric tokens (empty strings filtered)."""
    return F.filter(
        F.split(F.lower(text), r"[^a-z0-9]+"), lambda t: t != ""
    )


def stopword_hits(text: Column, lang: str) -> Column:
    """Number of tokens (with multiplicity) that are stopwords of ``lang``."""
    words = STOPWORDS[lang]
    return F.size(F.filter(tokens(text), lambda t: t.isin(*words)))


def lang_id(text: Column) -> Column:
    """Argmax of per-language stopword hit counts; ties resolve in
    LANG_PRIORITY order; zero hits everywhere -> 'und'.

    Single-expression form: every ``hits[lang]`` reference re-evaluates
    ``tokens(text)`` (Project does not share subexpressions under the
    CodegenFallback higher-order filter), so this Column costs ~8
    tokenizations per row.  Fine for one-off projections; DataFrame-level
    consumers should use :func:`with_lang_id`, which layers the shared
    subtrees so the tokenize runs once (r13, guide §1.2 — the same fix
    text_doc_metrics measured at 0.74x)."""
    hits = {lang: stopword_hits(text, lang) for lang in LANG_PRIORITY}
    best = F.greatest(*hits.values())
    expr = F.lit("und")
    for lang in reversed(LANG_PRIORITY):
        expr = F.when((hits[lang] == best) & (best > 0), lang).otherwise(expr)
    return expr


def with_lang_id(df, text_col: str, out_col: str = "lang_pred"):
    """Append ``out_col`` = lang_id(text_col) with the shared subtrees
    LAYERED (r13, guide §1.2): the tokenize runs once per row and each
    language's stopword filter once, instead of the ~8 tokenizations the
    single-expression :func:`lang_id` pays — each alias below is a
    non-cheap expression referenced more than once downstream, which is
    exactly what stops CollapseProject from inlining it back.  Formulas
    are byte-for-byte lang_id's, so results (and the DuckDB oracle
    hashes of every consumer) are identical."""
    toks_df = df.withColumn("_lid_toks", tokens(F.col(text_col)))
    hit_cols = {
        lang: F.size(
            F.filter(
                F.col("_lid_toks"), lambda t: t.isin(*STOPWORDS[lang])
            )
        ).alias(f"_lid_h_{lang}")
        for lang in LANG_PRIORITY
    }
    hits_df = toks_df.select("*", *hit_cols.values())
    hits = {lang: F.col(f"_lid_h_{lang}") for lang in LANG_PRIORITY}
    best = F.greatest(*hits.values())
    expr = F.lit("und")
    for lang in reversed(LANG_PRIORITY):
        expr = F.when((hits[lang] == best) & (best > 0), lang).otherwise(expr)
    return hits_df.withColumn(out_col, expr).drop(
        "_lid_toks", *[f"_lid_h_{lang}" for lang in LANG_PRIORITY]
    )


def quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio features + composite score."""
    toks = tokens(text)
    n_tokens = F.size(toks)
    n_chars = F.length(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin(*STOPWORDS["en"]))
    )
    mean_word_len = F.when(
        n_tokens > 0,
        F.round(
            F.aggregate(
                toks, F.lit(0.0).cast("double"), lambda a, t: a + F.length(t)
            )
            / n_tokens,
            4,
        ),
    ).otherwise(F.lit(0.0))
    punct_ratio = F.when(
        n_chars > 0, F.round(n_punct.cast("double") / n_chars, 4)
    ).otherwise(F.lit(0.0))
    stop_ratio = F.when(
        n_tokens > 0, F.round(n_stop.cast("double") / n_tokens, 4)
    ).otherwise(F.lit(0.0))
    score = F.round(
        F.least(n_tokens.cast("double") / 100.0, F.lit(1.0)) * 0.4
        + stop_ratio * 0.4
        + (1.0 - punct_ratio) * 0.2,
        4,
    )
    return dict(
        n_chars=n_chars,
        n_tokens=n_tokens,
        punct_ratio=punct_ratio,
        stop_ratio=stop_ratio,
        mean_word_len=mean_word_len,
        quality_score=score,
    )


def whitespace_token_count(text: Column) -> Column:
    return F.size(F.filter(F.split(text, r"\s+"), lambda t: t != ""))


def bpe_ish_token_count(text: Column) -> Column:
    """Count of matches of a BPE-ish pre-tokenizer regex: letter runs,
    digit runs, and single non-space symbols each count as one token."""
    return F.regexp_count(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 over the whitespace/case-normalized text."""
    return F.md5(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")))


def winnowing_fingerprint_rows(
    df, id_col: str, text_col: str, k: int = 5, w: int = 4
):
    """Winnowing (Schleimer et al.): one (doc, fp) row per distinct
    window-minimum, computed in an Arrow-batched mapInPandas kernel.

    Each k-gram, in DOCUMENT ORDER with duplicates kept, hashes to the
    first 8 hex chars of its md5 parsed base-16; a window of ``w``
    consecutive hashes slides over that stream (``max(n-w+1, 1)``
    windows, so a text of at most k+w-1 chars is one whole-stream
    window) and each window's minimum is a fingerprint.  Any shared
    substring of length >= k + w - 1 contributes a shared fingerprint —
    the plagiarism/near-dup detection workhorse.  The
    text_winnowing_fingerprints DuckDB oracle spells the same math.

    A kernel rather than a Catalyst HOF chain for the same reason as
    dedup.hashed_sig_docs: the HOF spelling evaluates one lambda call per
    k-gram plus one per window, interpreted, which makes the hash stream
    the entire cost of the operator; the kernel dict-caches md5 per
    distinct k-gram and takes sliding-window minima with numpy strides.
    """
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"doc_id {id_type}, fp bigint"

    def batches(it):
        import numpy as np

        # Distinct-k-gram memo, capped like dedup's kernels: templated
        # corpora repeat k-grams (the win); high-entropy corpora would
        # otherwise grow the dict unboundedly over a task's batches —
        # two-generation eviction keeps hot keys flat across the cap.
        from mrsboraetl_spark.operators.dedup import _memo_md5

        gram_hash = _memo_md5()

        for pdf in it:
            ids, fps = [], []
            for doc, t in zip(pdf[id_col], pdf[text_col]):
                n = max(len(t) - (k - 1), 1)
                h = np.fromiter(
                    (gram_hash(t[i : i + k]) for i in range(n)),
                    dtype=np.int64,
                    count=n,
                )
                if len(h) <= w:
                    mins = np.array([h.min()], dtype=np.int64)
                else:
                    mins = np.lib.stride_tricks.sliding_window_view(
                        h, w
                    ).min(axis=1)
                for fp in np.unique(mins):
                    ids.append(doc)
                    fps.append(int(fp))
            yield pd.DataFrame({"doc_id": ids, "fp": fps})

    n_parts = df.sparkSession.sparkContext.defaultParallelism
    return (
        # NULL text dropped JVM-side: the kernel slices the string, and the
        # oracle's unnest emits no rows for a null doc.
        df.select(id_col, text_col)
        .filter(F.col(text_col).isNotNull())
        .repartition(n_parts)
        .mapInPandas(batches, out_schema)
    )
