"""Dataset-curation operators for training-data pipelines: deterministic
split assignment and repetition (quality) metrics.

Both are pure-built-in column plans — no UDFs, no Python workers — so
they stay inside whole-stage codegen and scale as ordinary scans/aggs.

* ``split_assign`` — hash-based train/val/test assignment.  The split is
  a pure function of (id, salt): stable under repartitioning, appends,
  reshuffles, and cluster size, which is the property that matters at
  100 TB — re-running the pipeline after ingesting new data never moves
  an existing document across splits (md5 is used for engine-portable
  oracle parity; swap xxhash64 for raw speed, same plan shape).

* ``repetition_metrics`` — per-document token-repetition signals of the
  kind used for corpus quality filtering (duplicate-token fraction,
  most-frequent-token fraction, most-frequent-bigram fraction; cf. the
  published Gopher/C4 data-quality heuristics).  Implemented as
  explode -> two key-partitioned aggregations (token counts per doc,
  then per-doc maxima).  The shuffle key is (doc_id, token), so the
  worst partition is bounded by the largest single document's token
  count — no corpus-level skew is possible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _hash_bucket(id_col: str, salt: str, buckets: int):
    """Deterministic bucket from (id, salt).  Deliberately built with
    null-PROPAGATING concat (not concat_ws, which skips nulls): a NULL id
    yields a NULL bucket, which behaves identically in Spark and the
    ANSI-SQL oracle spelling (``id::VARCHAR || ':salt'``) — every
    comparison against a NULL bucket is false, so NULL ids fall to the
    otherwise/ELSE branch in split_assign and are dropped by
    sample_by_source's filter in both engines."""
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(buckets),
    )


def split_assign(
    df: DataFrame,
    id_col: str,
    salt: str = "v1",
    train_pct: int = 80,
    val_pct: int = 10,
    buckets: int = 100,
) -> DataFrame:
    """Append (bucket, split) columns: deterministic hash split.

    bucket = first 8 md5 hex digits of "<id>:<salt>" mod ``buckets``;
    split  = train/val/test by cumulative percentage.  Changing ``salt``
    re-rolls the assignment; everything else (row order, partitioning,
    corpus growth) leaves it fixed.
    """
    if not 0 < train_pct + val_pct <= 100:
        raise ValueError("train_pct + val_pct must be in (0, 100]")
    bucket = _hash_bucket(id_col, salt, buckets)
    train_hi = buckets * train_pct // 100
    val_hi = buckets * (train_pct + val_pct) // 100
    return df.withColumn("bucket", bucket).withColumn(
        "split",
        F.when(F.col("bucket") < train_hi, F.lit("train"))
        .when(F.col("bucket") < val_hi, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def sample_by_source(
    df: DataFrame,
    id_col: str,
    source_col: str,
    rates: dict[str, float],
    salt: str = "mix1",
    default_rate: float = 0.0,
    buckets: int = 1_000_000,
) -> DataFrame:
    """Deterministic corpus mixing: keep each row with its source's
    sampling rate, decided by hash(id, salt) — the distributed spelling
    of "sample 30% of crawl, 100% of books".

    Like :func:`split_assign`, the keep/drop decision is a pure function
    of (id, salt): re-runs, repartitions, and corpus growth reproduce
    the exact same subset (unlike ``df.sample``, whose output depends on
    partitioning), so downstream dedup/metrics stay comparable across
    pipeline runs.  One codegen'd filter, no shuffle.
    """
    for s, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {s!r} must be in [0, 1], got {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0, 1], got {default_rate}")
    bucket = _hash_bucket(id_col, salt, buckets)
    thresh = F.lit(int(default_rate * buckets))
    for s, r in sorted(rates.items()):
        thresh = F.when(F.col(source_col) == s, F.lit(int(r * buckets))).otherwise(
            thresh
        )
    return df.filter(bucket < thresh)


def temperature_rates(
    df: DataFrame,
    source_col: str,
    weight_col: str | None = None,
    alpha: float = 0.7,
) -> dict[str, float]:
    """Per-source epoch rates from temperature sampling: source s gets
    probability p_s ∝ n_s^alpha (n_s = rows, or summed ``weight_col``
    e.g. tokens), and the rate that realizes p_s over one pass of the
    data is r_s = p_s * N / n_s — the published recipe for upweighting
    small high-quality sources (alpha < 1 flattens the distribution;
    alpha = 1 is proportional, i.e. every rate 1.0).

    Rates are returned normalized so max(r) == 1.0 (no source repeats
    within a single epoch; multiply by target epochs and feed
    :func:`oversample_by_source` to realize them).  One bounded
    aggregate action (n_sources rows, the watermark precedent)."""
    if not 0 < alpha:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    agg = (
        F.count(F.lit(1)) if weight_col is None else F.sum(weight_col)
    ).alias("n")
    sizes = {
        r[source_col]: float(r["n"])
        for r in df.groupBy(source_col).agg(agg).collect()
    }
    if not sizes:
        return {}
    total = sum(sizes.values())
    probs = {s: n**alpha for s, n in sizes.items()}
    z = sum(probs.values())
    rates = {s: (probs[s] / z) * total / sizes[s] for s in sizes}
    peak = max(rates.values())
    return {s: r / peak for s, r in rates.items()}


def oversample_by_source(
    df: DataFrame,
    id_col: str,
    source_col: str,
    rates: dict[str, float],
    salt: str = "epoch-mix1",
    default_rate: float = 1.0,
    buckets: int = 1_000_000,
) -> DataFrame:
    """Deterministic temperature/epoch mixing with rates ABOVE 1: each
    row is emitted ``floor(rate)`` times plus one more when
    ``hash(id, salt)`` falls under the fractional part — the
    distributed spelling of "2 epochs of books, 0.3 epochs of crawl"
    (the published high-quality-source upweighting recipe).  Output is
    (input columns..., copy) with copy = 1..n_copies; a rate of 0 drops
    the source.

    The copy count is a pure function of (id, salt), so re-runs
    reproduce the exact multiset, and the fractional threshold is an
    integer bucket compare (the token-budget-mix rule) so Spark and the
    SQL oracle can never disagree on a float boundary.  One codegen'd
    projection + explode — no shuffle; the explode's row growth IS the
    requested epoch multiple.  Downstream ``epoch_shuffle`` of
    (id, copy) spreads the copies uniformly through the training order.
    """
    for s, r in rates.items():
        if r < 0:
            raise ValueError(f"rate for {s!r} must be >= 0, got {r}")
    if default_rate < 0:
        raise ValueError(f"default_rate must be >= 0, got {default_rate}")
    bucket = _hash_bucket(id_col, salt, buckets)

    def n_copies(rate: float):
        base = int(rate)
        frac_ppm = round((rate - base) * buckets)
        return F.lit(base) + (bucket < F.lit(frac_ppm)).cast("int")

    n = n_copies(default_rate)
    for s, r in sorted(rates.items()):
        n = F.when(F.col(source_col) == s, n_copies(r)).otherwise(n)
    copies = F.when(
        n > 0, F.sequence(F.lit(1), n)
    ).otherwise(F.array().cast("array<int>"))
    return df.withColumn("copy", F.explode(copies))


def oversample_oracle_sql(
    source_sql: str,
    id_col: str,
    source_col: str,
    rates: dict[str, float],
    salt: str = "epoch-mix1",
    default_rate: float = 1.0,
    buckets: int = 1_000_000,
) -> str:
    """DuckDB spelling of oversample_by_source over ``source_sql`` —
    same md5 bucket, same integer fractional threshold, same 1-based
    copy index."""
    bucket = (
        f"(('0x' || substr(md5({id_col}::VARCHAR || ':{salt}'), 1, 8))"
        f"::BIGINT % {buckets})"
    )

    def n_copies(rate: float) -> str:
        base = int(rate)
        frac_ppm = round((rate - base) * buckets)
        return f"({base} + CASE WHEN {bucket} < {frac_ppm} THEN 1 ELSE 0 END)"

    branches = "".join(
        f" WHEN {source_col} = '{s}' THEN {n_copies(r)}"
        for s, r in sorted(rates.items())
    )
    n = f"(CASE{branches} ELSE {n_copies(default_rate)} END)"
    return f"""
    SELECT {id_col}, {source_col}, CAST(u.copy AS INT) AS copy
    FROM {source_sql}, unnest(range(1, {n} + 1)) u(copy)
    """


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """(id, chunk_idx, chunk_text, n_chunk_tokens) — split each document
    into fixed-token-budget windows with overlap: the context-window
    chunking step of an embedding / training pipeline.

    Chunk i covers tokens [i*stride, i*stride + chunk_tokens) with
    stride = chunk_tokens - overlap; the final chunk may be short but
    every token is covered exactly (docs at or under the budget yield
    one chunk).  Pure built-ins — the token array is computed once per
    row and sliced per chunk in the same projection, so the only row
    growth is the explode itself (sum of chunk counts, the output's
    inherent size).  NULL text yields no rows, matching explode-of-null.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = df.select(
        F.col(id_col).alias("id"),
        F.split(
            F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " "
        ).alias("ts"),
    ).where(F.col("ts").isNotNull())
    n_chunks = F.when(F.size("ts") <= chunk_tokens, F.lit(1)).otherwise(
        F.ceil((F.size("ts") - F.lit(overlap)) / F.lit(stride)).cast("int")
    )
    return (
        toks.select(
            "id",
            "ts",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        )
        .select(
            "id",
            "chunk_idx",
            F.array_join(
                F.slice(
                    "ts", F.col("chunk_idx") * stride + 1, F.lit(chunk_tokens)
                ),
                " ",
            ).alias("chunk_text"),
            F.size(
                F.slice(
                    "ts", F.col("chunk_idx") * stride + 1, F.lit(chunk_tokens)
                )
            ).alias("n_chunk_tokens"),
        )
    )


def quality_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 10,
    max_dup_token_frac: float = 0.9,
    max_top_token_frac: float = 0.5,
    max_top_bigram_frac: float = 0.5,
    langs: tuple[str, ...] | None = None,
) -> DataFrame:
    """Every input row with a ``keep`` verdict and the reasons it failed
    (array of rule names, empty when kept) — the composed corpus quality
    gate (published C4/Gopher-style rule filtering) over this package's
    own signals: token count and repetition fractions from
    :func:`repetition_metrics`, language from ``functions.text.lang_id``.

    Emitting verdict+reasons instead of dropping rows is deliberate: at
    100 TB the audit question is "WHY did 4% of the crawl disappear",
    so the filter is a projection and the drop is the caller's
    ``filter(size(reasons) == 0)`` — same scan either way.  Thresholds
    are monotone: relaxing any of them can only shrink reasons/keep
    more (pytest-pinned)."""
    from mrsboraetl_spark.functions.text import with_lang_id

    rep = repetition_metrics(df, id_col, text_col)
    # with_lang_id (r13, guide §1.2): one tokenize per row instead of
    # the ~8 the single-expression lang_id pays — identical formulas.
    base = (
        with_lang_id(df, text_col, "_lang")
        .select(F.col(id_col).alias("id"), "_lang")
        .join(rep, "id", "left")
    )

    rules = [
        ("too_short", F.coalesce(F.col("n_tokens"), F.lit(0)) < min_tokens),
        (
            "dup_tokens",
            F.coalesce(F.col("dup_token_frac"), F.lit(1.0))
            > max_dup_token_frac,
        ),
        (
            "top_token",
            F.coalesce(F.col("top_token_frac"), F.lit(1.0))
            > max_top_token_frac,
        ),
        (
            "top_bigram",
            F.coalesce(F.col("top_bigram_frac"), F.lit(1.0))
            > max_top_bigram_frac,
        ),
    ]
    if langs is not None:
        rules.append(("lang", ~F.col("_lang").isin(*langs)))
    reasons = F.filter(
        F.array(
            *[F.when(cond, F.lit(name)) for name, cond in rules]
        ),
        lambda x: x.isNotNull(),
    )
    return base.select(
        "id",
        reasons.alias("reasons"),
        (F.size(reasons) == 0).alias("keep"),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    budget: int = 256,
    n_streams: int = 32,
    salt: str = "pack1",
) -> DataFrame:
    """(id, stream, seq_idx, tok_offset, n_tokens) — deterministic
    training-order shuffle + contiguous fixed-budget sequence packing
    (GPT-style "concatenate then cut every ``budget`` tokens").

    Each document lands in a hash stream (= an independent packing
    lane), is ordered within the stream by a salted md5 of its id (the
    deterministic stand-in for epoch shuffling), and is assigned the
    sequence index where its first token falls:
    seq_idx = (running token count before this doc) div budget,
    tok_offset = the same mod budget.  A document longer than the
    remaining room simply spans into the next sequence, exactly like
    the concat-and-cut packing it models.

    Scale shape: ONE shuffle on the stream key, then an in-partition
    window sum — no global ordering anywhere; lanes pack in parallel
    and adding streams adds parallelism without changing any lane's
    content (the lane a doc lands in is a pure function of (id, salt)).
    Re-runs over a grown corpus re-pack only because new docs interleave
    in hash order — the ordering KEY of existing docs never changes.
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("id"),
        F.size(
            F.split(
                F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " "
            )
        ).alias("n_tokens"),
    ).where(F.col("n_tokens").isNotNull())
    keyed = toks.select(
        "id",
        "n_tokens",
        _hash_bucket("id", salt, n_streams).alias("stream"),
        F.md5(F.concat(F.col("id").cast("string"), F.lit(":" + salt))).alias(
            "ord_key"
        ),
    )
    w = (
        Window.partitionBy("stream")
        .orderBy("ord_key", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = keyed.withColumn(
        "before", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return packed.select(
        "id",
        "stream",
        # integer div, not float: exact however large the lane's running
        # token count grows
        F.expr(f"before div {budget}").alias("seq_idx"),
        F.pmod(F.col("before"), F.lit(budget)).alias("tok_offset"),
        "n_tokens",
    )


def doc_features(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """One wide per-document feature row for training a quality
    classifier (the fastText-classifier-features step of the published
    curation recipes): every signal this package computes, joined on id.

    Columns: the one-pass scalars (n_chars, n_tokens, punct_ratio,
    stop_ratio, mean_word_len, quality_score, lang, fingerprint) from
    functions/text — a single codegen'd projection — plus the three
    shuffle-borne corpus-relative signals: repetition fractions
    (dup_token_frac, top_token_frac, top_bigram_frac), oov_frac, and
    the unigram nll.  Each contributor is oracle-checked on its own;
    the composition is pinned by an agreement test.  Plan shape: one
    scan feeds four branches, each a key-partitioned agg, re-joined on
    the id key — at 100 TB the joins co-locate if the corpus is
    bucketed by id (sources/bucketing.py)."""
    from mrsboraetl_spark.functions.text import (
        LANG_PRIORITY,
        STOPWORDS,
        fingerprint,
        tokens,
    )

    # Layered projections (r13, guide §1.2 — the text_doc_metrics fix):
    # the single-Project spelling evaluated tokens(text) once per metric
    # that mentions it (~12x per row across quality_features + lang_id,
    # since Project shares no subexpressions under CodegenFallback HOFs).
    # Aliasing each shared non-cheap subtree in its own Project runs the
    # tokenize once and each stopword filter once; every formula below
    # is byte-for-byte the quality_features / lang_id spelling (the en
    # stopword-hit count serves both stop_ratio and the language vote).
    toks_l = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("_text"),
        tokens(F.col(text_col)).alias("_toks"),
    )
    t, text = F.col("_toks"), F.col("_text")
    counted = toks_l.select(
        "id",
        "_text",
        F.length(text).alias("n_chars"),
        F.size(t).alias("_nt"),
        (
            F.length(text)
            - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
        ).alias("_np"),
        F.aggregate(
            t, F.lit(0.0).cast("double"), lambda a, x: a + F.length(x)
        ).alias("_mw"),
        *[
            F.size(
                F.filter(t, lambda x: x.isin(*STOPWORDS[lang]))
            ).alias(f"_h_{lang}")
            for lang in LANG_PRIORITY
        ],
    )
    nt, nc = F.col("_nt"), F.col("n_chars")
    hits = {lang: F.col(f"_h_{lang}") for lang in LANG_PRIORITY}
    best = F.greatest(*hits.values())
    lang_expr = F.lit("und")
    for lang in reversed(LANG_PRIORITY):
        lang_expr = F.when(
            (hits[lang] == best) & (best > 0), lang
        ).otherwise(lang_expr)
    ratios = counted.select(
        "id",
        "_text",
        "n_chars",
        nt.alias("n_tokens"),
        F.when(nc > 0, F.round(F.col("_np").cast("double") / nc, 4))
        .otherwise(F.lit(0.0))
        .alias("punct_ratio"),
        F.when(nt > 0, F.round(F.col("_h_en").cast("double") / nt, 4))
        .otherwise(F.lit(0.0))
        .alias("stop_ratio"),
        F.when(nt > 0, F.round(F.col("_mw") / nt, 4))
        .otherwise(F.lit(0.0))
        .alias("mean_word_len"),
        lang_expr.alias("lang"),
    )
    score = F.round(
        F.least(F.col("n_tokens").cast("double") / 100.0, F.lit(1.0)) * 0.4
        + F.col("stop_ratio") * 0.4
        + (1.0 - F.col("punct_ratio")) * 0.2,
        4,
    )
    base = ratios.select(
        "id",
        "n_chars",
        "n_tokens",
        "punct_ratio",
        "stop_ratio",
        "mean_word_len",
        score.alias("quality_score"),
        "lang",
        fingerprint(F.col("_text")).alias("fingerprint"),
    )
    rep = repetition_metrics(df, id_col, text_col).select(
        "id", "dup_token_frac", "top_token_frac", "top_bigram_frac"
    )
    oov = oov_fraction(df, id_col, text_col).select("id", "oov_frac")
    nll = unigram_logprob(df, id_col, text_col).select("id", "nll")
    return base.join(rep, "id", "left").join(oov, "id", "left").join(
        nll, "id", "left"
    )


def materialize_sequences(
    packed: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    budget: int,
) -> DataFrame:
    """(stream, seq_idx, seq_text, seq_tokens, boundaries): the ACTUAL
    training sequences for a :func:`pack_sequences` assignment — every
    sequence exactly ``budget`` tokens except each lane's final partial
    one, with ``boundaries`` the ordered (id, start, len) document
    fragments inside the sequence (the mask a trainer uses to stop
    attention crossing document joints).

    The packing model is concatenate-then-cut, so a document can span
    sequences; this materializer reconstructs the exact cut from the
    assignment alone (``before = seq_idx * budget + tok_offset``),
    explodes each document into its per-sequence token fragments (a
    codegen'd sequence/slice — a doc touches ceil(n/budget)+1 sequences
    at most), and reassembles each sequence with the engine's standard
    ordered-collect.  One shuffle on (stream, seq_idx); fragment order
    inside a sequence is (before, id) — the same total order packing
    used, so reassembly is deterministic."""
    # The SAME token rule pack_sequences counted with (unfiltered split
    # after whitespace normalization) — the slice arithmetic depends on
    # size(_ts) == the assignment's n_tokens.
    toks = F.split(
        F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " "
    )
    joined = packed.join(
        docs.select(F.col(id_col).alias("id"), toks.alias("_ts")), "id"
    ).withColumn(
        "_before",
        F.col("seq_idx") * budget + F.col("tok_offset"),
    )
    last_seq = F.expr(f"(_before + n_tokens - 1) div {budget}")
    frags = joined.select(
        "id",
        "stream",
        "_before",
        "_ts",
        F.explode(F.sequence(F.col("seq_idx"), last_seq)).alias("s"),
    ).select(
        "id",
        "stream",
        "_before",
        F.col("s").alias("seq_idx"),
        F.slice(
            "_ts",
            (F.greatest(F.col("s") * budget, F.col("_before"))
             - F.col("_before") + 1).cast("int"),
            (F.least((F.col("s") + 1) * budget,
                     F.col("_before") + F.size("_ts"))
             - F.greatest(F.col("s") * budget, F.col("_before"))).cast("int"),
        ).alias("_frag"),
    )
    sorted_frags = F.array_sort(
        F.collect_list(
            F.struct(
                "_before",
                "id",
                "_frag",
                (
                    F.greatest(
                        F.col("seq_idx") * budget, F.col("_before")
                    )
                    - F.col("seq_idx") * budget
                ).cast("int").alias("_start"),
            )
        )
    )
    return (
        frags.groupBy("stream", "seq_idx")
        .agg(
            F.array_join(
                F.flatten(
                    F.transform(sorted_frags, lambda x: x["_frag"])
                ),
                " ",
            ).alias("seq_text"),
            F.sum(F.size("_frag")).alias("seq_tokens"),
            # per-document boundaries inside the sequence — the mask a
            # trainer needs to stop attention crossing document joints:
            # (id, start token offset, fragment token length)
            F.transform(
                sorted_frags,
                lambda x: F.struct(
                    x["id"].alias("id"),
                    x["_start"].alias("start"),
                    F.size(x["_frag"]).alias("len"),
                ),
            ).alias("boundaries"),
        )
    )


def sample_to_token_budget(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    budgets: dict[str, int],
    salt: str = "budget1",
    buckets: int = 1_000_000,
) -> DataFrame:
    """Deterministic down-sampling of each source to a TOKEN budget:
    "give me ~2M tokens of crawl, ~500k of forums" — the budget-driven
    sibling of :func:`sample_by_source` (which takes rates).

    Per source, the implied rate is budget / actual_tokens, but the
    keep decision is made in INTEGER arithmetic —
    ``bucket * actual_tokens < budget * buckets`` — so it is exact and
    bit-identical in any engine (a floating-point rate * buckets
    threshold can flip on an ulp at the boundary).  Sources missing
    from ``budgets`` are dropped; a budget at or above the source's
    actual token count keeps it whole.  Expected kept tokens per source
    ≈ min(budget, actual): the hash is uniform over documents, so the
    kept token count concentrates around the budget for corpora whose
    doc lengths are not adversarially correlated with the hash (they
    cannot be — the hash ignores the text).

    Shape: one aggregate for per-source token totals (source-count
    rows, broadcast), then a single codegen'd filter over the corpus —
    the corpus itself never shuffles.
    """
    for s, b in budgets.items():
        if b < 0:
            raise ValueError(f"budget for {s!r} must be >= 0, got {b}")
    n_tok = F.size(
        F.split(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " ")
    )
    with_tok = df.withColumn("_nt", n_tok)
    totals = with_tok.groupBy(source_col).agg(
        F.sum("_nt").alias("_actual")
    )
    bucket = _hash_bucket(id_col, salt, buckets)
    budget_expr = F.lit(None).cast("long")
    for s, b in sorted(budgets.items()):
        budget_expr = F.when(F.col(source_col) == s, F.lit(b)).otherwise(
            budget_expr
        )
    return (
        with_tok.join(F.broadcast(totals), source_col)
        .withColumn("_budget", budget_expr)
        # integer-exact keep rule: bucket/buckets < budget/actual.
        # decimal(38,0) keeps the cross-products exact past the ~9e12
        # source-token count where bucket * actual would overflow a long.
        .filter(
            F.col("_budget").isNotNull()
            & (
                bucket.cast("decimal(38,0)") * F.col("_actual")
                < F.col("_budget").cast("decimal(38,0)") * F.lit(buckets)
            )
        )
        .drop("_nt", "_actual", "_budget")
    )


def oov_fraction(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab_size: int = 1000,
) -> DataFrame:
    """(id, n_tokens, oov_frac) — fraction of each document's tokens
    that fall outside the corpus's top-``vocab_size`` vocabulary (the
    CCNet-style out-of-vocabulary quality signal: high OOV marks
    boilerplate, codes, or wrong-language text relative to the corpus).

    Shape: explode -> per-token counts (vocabulary-sized, not
    corpus-sized) -> deterministic top-V via orderBy+limit, which
    Catalyst plans as TakeOrderedAndProject (per-partition partial
    top-V + a V-row merge — no global sort, no single-partition
    window).  The per-doc OOV count is then IN-ROW (r13, guide §2.4):
    the top-V vocabulary is a bounded driver-side list (the
    seed-centroid / watermark-scalar precedent), so each document
    counts its own out-of-vocabulary tokens with one codegen'd array
    filter against the InSet — the previous spelling re-exploded the
    whole corpus a second time and shuffled every (doc, token) row
    through a broadcast join + per-doc aggregation just to compute a
    per-document statistic.  Plan: 2 corpus explodes + join + 2 aggs ->
    1 explode (the vocab count) + 1 zero-exchange projection; values
    identical (same token multiset per doc, same membership rule).
    Tokenization mirrors functions.text.tokens for oracle parity.
    """
    from mrsboraetl_spark.functions.text import tokens

    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("t")
    )
    counts = toks.groupBy("t").agg(F.count("*").alias("c"))
    # deterministic top-V: count desc, token asc tiebreak; bounded
    # vocab_size-row driver action
    vset = [
        r["t"]
        for r in counts.orderBy(F.desc("c"), F.col("t"))
        .limit(vocab_size)
        .collect()
    ]
    # One tokenize per row: a plain where(size(toks) > 0) would push
    # below the projection and evaluate tokens() a second time (Filter
    # and Project share no subexpressions); exploding the singleton
    # [toks] filtered on emptiness evaluates tokens() once inside the
    # Generate and drops zero-token / NULL-text docs exactly like the
    # old explode spelling did (they had no rows to aggregate).
    base = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.filter(
                F.array(tokens(F.col(text_col))), lambda a: F.size(a) > 0
            )
        ).alias("_toks"),
    )
    n_oov = (
        F.size(F.filter("_toks", lambda x: ~x.isin(*vset)))
        if vset
        else F.size("_toks")
    )
    return base.select(
        "id",
        F.size("_toks").cast("bigint").alias("n_tokens"),
        F.round(
            n_oov / F.size("_toks"), 6
        ).alias("oov_frac"),
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_doc_tokens: int | None = None,
    materialize_tokens: bool = False,
) -> DataFrame:
    """(id, n_tokens, nll) — each document's mean negative log-likelihood
    under the corpus's OWN unigram language model (p(t) = corpus count /
    corpus total).  The CCNet-family quality signal one step up from
    ``oov_fraction``: instead of a hard in/out-of-vocabulary cut, every
    token contributes its corpus surprisal, so documents full of rare or
    off-distribution tokens score high and templated mainstream text
    scores low — with no external model needed.

    Shape: explode -> one token-keyed count aggregation (vocabulary-
    sized after map-side combine) -> tokens re-join their count on the
    token key.  The corpus total S never joins at all: since
    -ln(c/S) = ln(S) - ln(c), the per-doc score is
    ``ln(S) - avg(ln c)`` with ln(S) a scalar — fetched with one
    bounded 1-row action (the watermark-store precedent) instead of a
    1-row nested-loop cross join, keeping the package NLJ-free.  The
    count join is a plain shuffle equi-join — the full vocabulary at
    100 TB is far past broadcast range; per-key work is 1:1 with token
    occurrences, so the worst partition is bounded by the hottest
    token's occurrence count, which AQE's skew splitting handles (the
    count side is one row per token, never skewed).  ``nll`` is
    rounded to 4 decimals so double summation order can't flip the
    oracle hash (the same rule the BM25 oracle uses).
    ``max_doc_tokens`` caps the per-document explode at the first N
    tokens — the guard against a single crawler-artifact monster doc
    concentrating its whole token stream in one task (the LM's counts
    then see the same truncated stream; see repetition_metrics)."""
    import math

    from mrsboraetl_spark.functions.text import tokens

    ts = tokens(F.col(text_col))
    if max_doc_tokens is not None:
        ts = F.slice(ts, 1, max_doc_tokens)
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(ts).alias("t"),
    )
    # ``materialize_tokens`` (r14, guide §1.2 / VERDICT r13 item 8):
    # the exploded token stream is consumed twice — once into the count
    # aggregation, once by the count re-join — so by default the corpus
    # is tokenized twice.  Opt-in checkpointing tokenizes ONCE at the
    # cost of storing the exploded (id, token) stream, the right trade
    # only while that stream fits local/cluster scratch (it is
    # corpus-sized; at 100 TB leave it off and pay the second scan).
    # Lazy: it materializes immediately under the eager counts
    # checkpoint on the next line (no separate job), then the re-join
    # reuses the pinned partitions.
    if materialize_tokens:
        toks = toks.localCheckpoint(eager=False)
    # Pin the vocabulary counts BEFORE taking the scalar total: the
    # 1-row action below and the token re-join both consume this
    # subtree, and without the pin the full explode+groupBy corpus scan
    # runs twice (the span/LSH stages' established pattern).
    counts = (
        toks.groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    row = counts.agg(F.sum("c").alias("s")).first()
    if row is None or row["s"] is None:
        raise ValueError("empty corpus: no tokens to model")
    ln_s = math.log(row["s"])
    return (
        toks.join(counts, "t")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.lit(ln_s) - F.avg(F.log("c")), 4).alias("nll"),
        )
    )


def _repetition_counts_kernel(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_doc_tokens: int | None = None,
) -> DataFrame:
    """(id, n_tokens, n_distinct, top_c, n_bigrams, top_bg_c) — the five
    INTEGER ingredients of repetition_metrics from one Arrow map pass.

    Why a kernel (r13, guide §2.4 + §4.2): every statistic here is a
    function of ONE document, yet the explode spelling pushed the
    corpus's whole token AND bigram streams through four hash
    aggregations (two exchanges each after partial combine) plus a
    final join — per-doc state needs no shuffle at all.  The kernel is
    embarrassingly parallel: tokenize + two Counter passes per doc,
    zero exchanges (plan: 4 Exchange + 1 join -> 0,
    plans/r13/curation_repetition_metrics_{before,after}.txt).

    Exact parity is kept by emitting ONLY integers — the divisions and
    roundings stay in JVM columns, byte-identical to the oracle's SQL
    arithmetic (edge rows pinned in tests/test_llmdata.py).  The
    tokenizer mirrors the SQL one exactly: re.ASCII makes Python's
    ``\\s`` the same 6-char class as Java's default, the normalize-
    then-split-on-single-space sequence matches regexp_replace + trim +
    split (Spark's trim strips spaces only — after normalization that
    is all that remains at the edges), and an empty normalized string
    yields the same singleton [''] token list as the SQL split.
    """
    import re

    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    ws = re.compile(r"\s+", re.ASCII)
    out_schema = (
        f"id {id_type}, n_tokens bigint, n_distinct bigint, "
        "top_c bigint, n_bigrams bigint, top_bg_c bigint"
    )

    def batches(it):
        from collections import Counter

        for pdf in it:
            ids, nts, nds, tcs, nbs, tbs = [], [], [], [], [], []
            for doc, t in zip(pdf[id_col], pdf[text_col]):
                ts = ws.sub(" ", t).strip(" ").split(" ")
                if max_doc_tokens is not None:
                    ts = ts[:max_doc_tokens]
                tc = Counter(ts)
                ids.append(doc)
                nts.append(len(ts))
                nds.append(len(tc))
                tcs.append(max(tc.values()))
                if len(ts) >= 2:
                    bc = Counter(
                        a + " " + b for a, b in zip(ts, ts[1:])
                    )
                    nbs.append(len(ts) - 1)
                    tbs.append(max(bc.values()))
                else:
                    nbs.append(0)
                    tbs.append(0)
            yield pd.DataFrame(
                {
                    "id": ids,
                    "n_tokens": nts,
                    "n_distinct": nds,
                    "top_c": tcs,
                    "n_bigrams": nbs,
                    "top_bg_c": tbs,
                }
            )

    n_parts = df.sparkSession.sparkContext.defaultParallelism
    return (
        # NULL text dropped JVM-side: a null document gets no metrics
        # row (the oracle filters ``text IS NOT NULL`` the same way).
        df.select(id_col, text_col)
        .filter(F.col(text_col).isNotNull())
        .repartition(n_parts)
        .mapInPandas(batches, out_schema)
    )


def repetition_metrics(
    df: DataFrame, id_col: str, text_col: str,
    max_doc_tokens: int | None = None,
) -> DataFrame:
    """(id, n_tokens, n_distinct, dup_token_frac, top_token_frac,
    top_bigram_frac) per document.

    Tokenization is single-space split after whitespace normalization —
    chosen because it is bit-identical across Spark and ANSI-SQL oracles.
    ``dup_token_frac`` = 1 - distinct/total (the mass of repeated
    tokens), ``top_token_frac``/``top_bigram_frac`` = share of the most
    frequent token/bigram — high values mark degenerate/templated text.
    Documents with fewer than 2 tokens get ``top_bigram_frac`` 0.0, not
    null, so downstream threshold filters need no null guard.

    Cost is bounded by (and ~linear in, modulo GC) the LARGEST document:
    its token and bigram Counters are built inside the one task that owns
    the doc (PERF.md "Round 6: adversarial-document probe" drove a
    16M-token doc).
    ``max_doc_tokens`` caps that bound: the metrics are computed over
    each document's FIRST max_doc_tokens tokens (a documented
    approximation — a crawler artifact that long is degenerate and will
    score as such on any prefix), and ``n_tokens`` then reflects the
    truncated count.

    The integer ingredients come from the zero-shuffle Arrow pass
    (:func:`_repetition_counts_kernel`, r13) and only the divisions and
    roundings below run in the JVM, so the fractions match the
    curation_repetition_metrics oracle's SQL arithmetic exactly."""
    counts = _repetition_counts_kernel(df, id_col, text_col, max_doc_tokens)
    return counts.select(
        "id",
        "n_tokens",
        "n_distinct",
        F.round(1.0 - F.col("n_distinct") / F.col("n_tokens"), 6).alias(
            "dup_token_frac"
        ),
        F.round(F.col("top_c") / F.col("n_tokens"), 6).alias(
            "top_token_frac"
        ),
        F.when(
            F.col("n_bigrams") > 0,
            F.round(F.col("top_bg_c") / F.col("n_bigrams"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
    )


def stratified_sample_exact(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    n_per_stratum: int,
    salt: str = "strat1",
    prefilter_slack: float = 2.0,
) -> DataFrame:
    """EXACTLY ``n_per_stratum`` rows from every stratum (all rows when a
    stratum is smaller), chosen as the n smallest ``md5(id:salt)`` values
    — a deterministic uniform quota sample (``sampleBy`` is Bernoulli:
    approximate counts only), stable under repartitioning and corpus
    growth of OTHER strata, exactly like the pipeline's split/mix
    hashing.

    Scale shape: the naive spelling is one window over each stratum —
    the whole stratum sorts in a single task (the giant-stratum hazard).
    Instead: per-stratum counts (tiny agg) set a HASH-THRESHOLD
    prefilter — md5 is uniform on [0, 16^8), so the n-th smallest hash
    of a stratum of size s concentrates near (n/s) * 16^8; keeping
    hashes below ``slack`` x that expectation passes ~slack * n rows
    per stratum (never losing a winner requires slack-sized headroom:
    with slack=2 the n-th order statistic exceeds twice its expectation
    with probability exp(-Theta(n)); the guard below FALLS BACK to the
    unfiltered stratum if the prefilter ever under-delivers, so the
    result is exact regardless).  The final window then ranks only
    ~slack*n survivors per stratum — bounded work per stratum no matter
    how large the stratum is."""
    from pyspark.sql.window import Window

    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    hashed = df.withColumn("_h", h)
    # Per-stratum thresholds as a broadcast RELATION, not a driver dict
    # + chained CASE WHEN: a high-cardinality strata column (per-domain,
    # per-source-shard) would blow driver memory and Catalyst codegen
    # depth with the literal spelling, while a broadcast hash join takes
    # millions of strata in stride.  NULL is a stratum like any other —
    # the join is on eqNullSafe (<=>), still a hash join.
    space = float(16 ** 8)
    counts = hashed.groupBy(F.col(strata_col).alias("_s")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    thr_df = counts.select(
        "_s",
        "_c",
        F.when(F.col("_c") <= n_per_stratum, F.lit(space))  # whole stratum
        .otherwise(
            F.least(
                F.lit(space),
                F.lit(float(prefilter_slack * n_per_stratum))
                / F.col("_c")
                * F.lit(space),
            )
        )
        .alias("_thr"),
    )
    joined = hashed.join(
        F.broadcast(thr_df),
        F.col(strata_col).eqNullSafe(F.col("_s")),
    )
    survivors = joined.filter(F.col("_h") < F.col("_thr"))
    # Exactness guard: a stratum whose prefilter passed fewer than n
    # rows (possible only at exponentially small probability) falls
    # back to its full population.  LEFT join + coalesce: a stratum
    # whose prefilter passed NOTHING has no survivor-count row at all.
    surv_counts = survivors.groupBy(F.col(strata_col).alias("_s2")).agg(
        F.count(F.lit(1)).alias("_sc")
    )
    short = (
        thr_df.join(
            surv_counts, F.col("_s").eqNullSafe(F.col("_s2")), "left"
        )
        .filter(
            (F.col("_c") > n_per_stratum)
            & (F.coalesce(F.col("_sc"), F.lit(0)) < n_per_stratum)
        )
        .select(F.col("_s").alias("_short_s"), F.lit(True).alias("_short"))
    )
    kept = (
        joined.join(
            F.broadcast(short),
            F.col(strata_col).eqNullSafe(F.col("_short_s")),
            "left",
        )
        # short stratum: every row survives; otherwise the prefilter
        .filter(
            F.coalesce(F.col("_short"), F.lit(False))
            | (F.col("_h") < F.col("_thr"))
        )
    )
    w = Window.partitionBy(strata_col).orderBy("_h", id_col)
    return (
        kept.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_per_stratum)
        .drop("_h", "_rn", "_s", "_c", "_thr", "_short_s", "_short")
    )
