"""Repeated-span removal: drop token windows that recur across the corpus.

The C4 / RefinedWeb-style curation step the near-dup layer does NOT cover:
boilerplate passages (license headers, navigation chrome, templated
disclaimers) repeat verbatim inside otherwise-distinct documents, so
document-level dedup keeps every copy.  The published fix is sub-document:
split each document into fixed-size token spans, count each span's exact
occurrences across the whole corpus, and delete spans that occur more than
``max_freq`` times — the document survives with the boilerplate cut out.

Spark-first shape (and why it holds at 100 TB):

* span generation is a codegen'd ``transform`` over non-overlapping token
  windows + one ``posexplode`` — row growth is the output's inherent size
  (``n_tokens / span_tokens`` rows/doc), no Python workers;
* the frequency count is one hash aggregation keyed by span text with
  map-side partial combine — the shuffled volume is DISTINCT spans per
  partition, far below corpus size on the templated corpora this step
  targets;
* over-frequent spans are a tiny relation (boilerplate is by definition
  few distinct strings with many copies), so the deletion is a BROADCAST
  left-anti join against that set — the corpus-side span stream never
  shuffles for it;
* reassembly is one aggregation keyed by doc id: ``array_sort`` on
  (pos, span) structs + ``array_join`` — the same ordered-collect shape
  as the engine's signature obs-blob pack (functions/obsmap.py), bounded
  per group by the largest single document.

Documents whose spans are ALL over-frequent vanish from the output (pure
boilerplate) — by design, and identically in the oracle spelling.

Tokenization is WHITESPACE splitting (not the gram layer's lowercase
alnum rule): the operator rewrites documents from their spans, so the
tokens must preserve the original token forms — casing, punctuation,
redaction placeholders like ``<EMAIL>`` — and whitespace splitting is
lossless up to whitespace normalization.  Boilerplate recurs verbatim,
so the frequency key is simply the exact span text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_WS_RE = r"\s+"


def _tokens(text_col: str):
    return F.filter(
        F.split(F.col(text_col), _WS_RE), lambda t: t != F.lit("")
    )


def doc_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 10,
) -> DataFrame:
    """(id, pos, span): non-overlapping ``span_tokens``-token windows in
    document order; the trailing window keeps its partial remainder; an
    empty/NULL-token document yields one empty span so the doc keeps a
    row (and can be reassembled to its empty self)."""
    s = span_tokens
    if s < 1:
        raise ValueError(f"span_tokens must be >= 1, got {s}")
    toks = _tokens(text_col)
    n_spans = F.greatest(
        F.ceil(F.size(toks) / F.lit(float(s))).cast("bigint"), F.lit(1)
    )
    spans = F.transform(
        F.sequence(F.lit(0).cast("bigint"), n_spans - 1),
        lambda i: F.array_join(
            F.slice(toks, (i * s + 1).cast("int"), F.lit(s)), " "
        ),
    )
    return df.select(
        F.col(id_col).alias("id"), F.posexplode(spans).alias("pos", "span")
    ).withColumn("pos", F.col("pos").cast("bigint"))


def over_frequent_spans(
    spans: DataFrame, max_freq: int = 2
) -> DataFrame:
    """(span, freq) for spans occurring more than ``max_freq`` times
    corpus-wide.  One hash agg (map-side combine); output is the small
    boilerplate relation."""
    return (
        spans.groupBy("span")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") > max_freq)
    )


def clean_spans(spans: DataFrame, bad: DataFrame) -> DataFrame:
    """(id, clean_text, n_kept): reassemble documents from their (id,
    pos, span) rows after anti-joining away the ``bad`` (span) set,
    which is broadcast (boilerplate sets are small)."""
    kept = spans.join(F.broadcast(bad.select("span")), "span", "left_anti")
    return kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "span"))),
                lambda x: x["span"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )


def remove_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 10,
    max_freq: int = 2,
) -> DataFrame:
    """(id, clean_text, n_kept): documents with over-frequent spans
    deleted (one-shot batch spelling; see operators/span_index.py for
    the continuously-ingesting equivalent).

    The span stream feeds BOTH the frequency count and the cleaning
    join; pinning it runs the span generation once instead of twice
    (measured 2.6s -> 1.2s warm at sf0.1 — the same single-spanning
    rule the span index applies at ingest)."""
    spans = doc_spans(df, id_col, text_col, span_tokens).localCheckpoint()
    bad = over_frequent_spans(spans, max_freq)
    return clean_spans(spans, bad)


def repeated_spans_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    span_tokens: int = 10,
    max_freq: int = 2,
) -> str:
    """DuckDB spelling of remove_repeated_spans — identical tokenization
    (whitespace split, empties dropped), window math, frequency rule, and
    ordered reassembly, so the driver's value-hash comparison is exact."""
    s = span_tokens
    return f"""
    WITH toks AS (
      SELECT {id_col} AS id,
             list_filter(string_split_regex(text, '\\s+'),
                         t -> t <> '') AS ts
      FROM {table}
    ), span_lists AS (
      SELECT id,
             [array_to_string(
                list_slice(ts, CAST((i - 1) * {s} + 1 AS INT),
                           CAST((i - 1) * {s} + {s} AS INT)), ' ')
              FOR i IN range(
                1, greatest(CAST(ceil(len(ts) / {s}.0) AS BIGINT), 1) + 1)]
               AS sps
      FROM toks
    ), spans AS (
      SELECT id, CAST(generate_subscripts(sps, 1) - 1 AS BIGINT) AS pos,
             unnest(sps) AS span
      FROM span_lists
    ), bad AS (
      SELECT span FROM spans GROUP BY span HAVING count(*) > {max_freq}
    ), kept AS (
      SELECT sp.id, sp.pos, sp.span
      FROM spans sp LEFT JOIN bad b USING (span)
      WHERE b.span IS NULL
    )
    SELECT id, string_agg(span, ' ' ORDER BY pos) AS clean_text,
           count(*) AS n_kept
    FROM kept GROUP BY id
    """
