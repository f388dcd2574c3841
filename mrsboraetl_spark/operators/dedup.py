"""Deduplication operators for large-scale training-data pipelines.

Four families, all deterministic and shuffle-conscious:

* exact       — md5-hash groupBy (one shuffle on the hash);
* MinHash+LSH — shingle -> per-seed minhash computed *inside the row* by
  an Arrow kernel (no explode, no shuffle), then a band-bucket self-join so
  candidate generation is an equi-join, not an O(n^2) cross join;
* SimHash     — 32-bit fingerprint from the high bit of each md5 nibble,
  portable across engines (no 64-bit int parsing required);
* n-gram Jaccard — exact pairwise similarity via an inverted shingle index
  (explode + equi-join on shingle), the verification stage after LSH.

Hash choice: md5 — available and bit-identical in Spark, DuckDB and MySQL,
so every step is oracle-checkable.  At 100 TB you'd swap xxhash64 for speed;
the plan shape is unchanged.

Composition at scale: run exact_dedup FIRST and near-dedup the survivors.
Pair enumeration is inherently quadratic inside duplicate clusters — a
probe with every doc in a 10-copy exact-dup cluster (50k docs) produced
250k verified pairs in ~120s where the organic corpus takes ~3s at 5k
docs; removing exact dups first collapses those clusters to one
representative each before LSH ever runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: one row per distinct text hash, keeper = min id."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keeper"),
            F.count("*").alias("n_copies"),
        )
    )


# Prime just above 2^32 — the affine rehash modulus.
MINHASH_MOD = 4294967311
# Per-task cap on the kernels' distinct-shingle md5 memo dicts (entries).
_KERNEL_CACHE_MAX = 4_000_000


def _memo_md5(cap: int = _KERNEL_CACHE_MAX):
    """Bounded md5-memo: returns a ``str -> int32`` lookup callable with
    TWO-GENERATION (segmented) eviction.

    A full ``clear()`` at the cap is pathological when the distinct-key
    population sits just above it: every wraparound throws away the whole
    working set and re-hashes it (rehash storm); a FIFO half-evict is no
    better, because under any scan-like access order the oldest-inserted
    keys are exactly the ones coming back next (measured: both collapse
    ~7x at 1.05x cap, PERF.md "Round 6: kernel memo eviction").  The
    segmented scheme is the O(1)-per-op fix: lookups hit the ``hot``
    dict, then the ``cold`` (previous generation, re-promoted on hit);
    when ``hot`` reaches cap/2 it BECOMES the new cold and a fresh hot
    starts.  A key is only ever re-hashed after going untouched for a
    full generation, so hot-set throughput stays flat across the cap
    boundary while total memory stays <= cap entries."""
    import hashlib

    half = max(cap // 2, 1)
    hot: dict[str, int] = {}
    cold: dict[str, int] = {}

    def lookup(s: str) -> int:
        nonlocal hot, cold
        v = hot.get(s)
        if v is None:
            v = cold.get(s)
            if v is None:
                v = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)
            if len(hot) >= half:
                cold, hot = hot, {}
            hot[s] = v
        return v

    return lookup
# Fixed odd 30-bit multipliers/offsets for the Carter-Wegman family
# h_s = (A[s]*h + B[s]) mod MINHASH_MOD.  They MUST be large and unrelated:
# a first cut used a_s = 2s+1, making seed 0 the identity map — every pair
# of docs sharing their globally-minimal shingle (common English 5-grams)
# then agreed on whole bands, and candidates exploded to 189k pairs at
# sf0.1.  30-bit constants keep a*h < 2^62 (no signed-64 overflow in Spark
# OR DuckDB, which errors on overflow rather than wrapping).
MINHASH_A = [
    1005864719, 674525783, 893899541, 259345993,
    977310769, 369319303, 804811447, 538180357,
]
MINHASH_B = [
    433024223, 941500009, 319847137, 728145131,
    53923643, 882239371, 167938193, 651984839,
]


def hashed_sig_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    num_hashes: int = 8,
    include_hashes: bool = True,
) -> DataFrame:
    """(doc, hs, sig): shingle-hash set AND minhash signature in ONE
    Arrow-batched pass (mapInPandas).

    Shingle hash = the first 8 hex chars of md5 over each DISTINCT
    character k-shingle, parsed base-16 (bit-identical to the DuckDB
    oracles' ``('0x' || substr(md5(s), 1, 8))::BIGINT``); signature row s
    = min over the shingle hashes of the Carter-Wegman rehash
    (MINHASH_A[s]*h + MINHASH_B[s]) mod MINHASH_MOD.  The operator is a
    kernel rather than a Catalyst higher-order-function chain because
    Catalyst evaluates HOF lambdas interpreted, per element: that
    spelling cost ~23 ms/doc on 300-char docs (sequence -> substring ->
    array_distinct -> md5 -> 8 affine rehashes, each a Column-tree walk
    per shingle), which at 100 TB makes the hashing stage the whole job.
    The kernel does a per-partition dict-cached hashlib.md5 per DISTINCT
    shingle (templated corpora repeat shingles heavily across docs) and
    one numpy broadcast for all num_hashes signature rows — measured
    ~40x less CPU on the sf0.1 corpus (115 s -> ~3 s of core-time).

    Scale shape: embarrassingly parallel, no shuffle beyond the spreading
    repartition; Arrow batches bound worker memory.

    ``hs`` is array<int>: each 32-bit shingle hash reinterpreted as a
    signed int32 (two's-complement wrap).  The wrap is a BIJECTION on
    [0, 2^32), so set sizes and intersection sizes — all any verify
    consumer reads — equal those of the unsigned values, while the widest
    column is half the bytes of an int64 array in the Arrow transfer, the
    localCheckpoint, and the verify joins' exchanges.  Signatures are
    computed from the unsigned values (band keys match the oracles).

    ``include_hashes=False`` omits ``hs`` from the Arrow output (r13,
    guide §4.1: ship only the columns the CALLER needs).  The shingle-hash
    set is by far the widest column (~one int per distinct shingle vs
    the fixed 8-element signature); candidate-only consumers
    (minhash_lsh_pairs) never read it, so emitting it paid Arrow transfer
    plus localCheckpoint serialization for dead weight.  The signature
    values are computed identically either way."""
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"doc {id_type}, hs array<int>, sig array<bigint>"
        if include_hashes
        else f"doc {id_type}, sig array<bigint>"
    )
    a = list(MINHASH_A[:num_hashes])
    b = list(MINHASH_B[:num_hashes])

    def batches(it):
        import numpy as np

        av = np.array(a, dtype=np.int64)[:, None]
        bv = np.array(b, dtype=np.int64)[:, None]
        # Per-task memo over DISTINCT shingles.  Bounded: templated corpora
        # repeat shingles heavily (the win), but a high-entropy corpus
        # grows the memo with every new shingle, so it's capped at ~4M
        # entries (~400 MB) with two-generation eviction (_memo_md5) —
        # Arrow batches bound the ROW memory, the cap bounds the CACHE
        # memory, and hot keys survive the cap boundary.
        shingle_hash = _memo_md5()

        for pdf in it:
            ids = pdf[id_col]
            hs_col, sig_col = [], []
            for t in pdf[text_col]:
                n = max(len(t) - (k - 1), 1)
                hs = [
                    shingle_hash(s)
                    for s in dict.fromkeys(t[i : i + k] for i in range(n))
                ]
                hv = np.array(hs, dtype=np.int64)[None, :]
                sig = ((av * hv + bv) % MINHASH_MOD).min(axis=1)
                if include_hashes:
                    hs_col.append(
                        hv[0].astype(np.uint32).view(np.int32).tolist()
                    )
                sig_col.append(sig.tolist())
            out = {"doc": ids}
            if include_hashes:
                out["hs"] = hs_col
            out["sig"] = sig_col
            yield pd.DataFrame(out)

    n_parts = df.sparkSession.sparkContext.defaultParallelism
    return (
        # NULL text is dropped JVM-side: the kernel indexes/slices the
        # string, and a null doc has no shingles, so it could yield no
        # band row or verify input anyway (the oracles' unnest of a null
        # list emits nothing either).
        df.select(F.col(id_col), F.col(text_col))
        .filter(F.col(text_col).isNotNull())
        .repartition(n_parts)
        .mapInPandas(batches, out_schema)
    )


def bands_from_sig(
    sigged: DataFrame,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    carry_keys: bool = False,
) -> DataFrame:
    """(doc, band, bk) from a materialized ``sig`` column: band key =
    '|'-joined slice of the signature (slicing an 8-element array, no
    shingle recompute).

    ``carry_keys=True`` (r14, guide §2.4) additionally carries the FULL
    band-key array as ``bks`` on every band row, which lets
    :func:`candidate_pairs` emit each pair exactly once (at its first
    shared band) in the self-join condition itself — deleting the
    post-join distinct and its whole candidate-pair Exchange.  Cost: the
    band rows widen by n_bands-1 short strings each, which rides the
    already-shuffled/broadcast band table; the removed exchange scales
    with the CANDIDATE multiset instead."""
    n_bands = num_hashes // rows_per_band
    keys = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda i: F.concat_ws(
            "|",
            F.slice(
                F.col("sig"), i * rows_per_band + 1, rows_per_band
            ).cast("array<string>"),
        ),
    )
    if not carry_keys:
        return sigged.select("doc", F.posexplode(keys).alias("band", "bk"))
    return sigged.select("doc", keys.alias("bks")).select(
        "doc", "bks", F.posexplode("bks").alias("band", "bk")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    k: int = 5,
    rows_per_band: int = 2,
    max_band_freq: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH: a pair is a candidate iff
    some band's entire signature row-group matches, so candidate generation
    is an equi-join on (band, key) — a shuffle, never a cross join.
    ``max_band_freq`` caps hot bands (see candidate_pairs).

    The (doc, hs, sig) base is computed once by the vectorized kernel and
    EAGERLY localCheckpoint'ed: the band self-join would otherwise evaluate
    the hashing for both sides (and projection collapse would inline it into
    every derived expression — ~10x recompute, measured 30s vs 4s at sf0.1
    on the old SQL path).  Eager, not lazy: a lazy checkpoint materializes
    under whatever query runs first, capturing SQL metric accumulators the
    Python side may have GC'd by then — the DAGScheduler then logs hundreds
    of accumulator errors and its event loop crawls (measured 33s vs 8s).
    Deriving band keys from the 8-element sig is cheap enough to recompute
    per join side, so only ONE materialization remains.  On a real cluster
    the equivalent is a materialized table between pipeline steps.

    Candidates never read the shingle-hash set, so the kernel is asked
    for (doc, sig) only (r13): the checkpoint then stores the 8-element
    signature instead of the ~|distinct shingles|-element hash array —
    the widest column by far — and the Arrow boundary ships that much
    less.
    """
    sigged = hashed_sig_docs(
        df, id_col, text_col, k, num_hashes, include_hashes=False
    ).localCheckpoint()
    bands = bands_from_sig(
        sigged, num_hashes, rows_per_band, carry_keys=max_band_freq is None
    )
    return candidate_pairs(bands, max_band_freq)


def candidate_pairs(
    bands: DataFrame, max_band_freq: int | None = None
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing a band key — the LSH
    candidate self-join.  ``bands`` must already be materialized
    (checkpoint/table): a self-join evaluates the plan for both sides.

    ``max_band_freq`` drops (band, key) buckets shared by more than that
    many docs BEFORE the self-join — the hot-band analogue of
    ngram_jaccard_pairs' ``max_doc_freq``.  A single degenerate band
    shared by d docs yields a d^2 join partition, the one remaining
    quadratic at 100 TB on templated corpora (near-identical boilerplate
    that exact-dedup does NOT collapse).  The cap bounds the worst
    partition at max_band_freq^2 rows.  Recall trade-off: a pair whose
    ONLY shared band is over-full is lost — docs in a mega-band are
    near-dups of thousands of others, so at production scale they are
    better handled by the exact-then-near composition or flagged
    wholesale; pairs sharing any non-hot band are unaffected.
    """
    if max_band_freq is not None:
        keep = (
            bands.groupBy("band", "bk")
            .agg(F.count("*").alias("band_freq"))
            .filter(F.col("band_freq") <= max_band_freq)
            .select("band", "bk")
        )
        bands = bands.select("doc", "band", "bk").join(keep, ["band", "bk"])
    a, b = bands.alias("a"), bands.alias("b")
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bk") == F.col("b.bk"))
        & (F.col("a.doc") < F.col("b.doc"))
    )
    if max_band_freq is None and "bks" in bands.columns:
        # In-join dedup (r14, guide §2.4 "a distinct on data that is
        # already unique"): emit a pair only at its FIRST shared band —
        # suppress the match when any earlier band's keys also agree.
        # Each qualifying pair then appears exactly once by construction
        # and the post-join distinct (a full Exchange of the candidate
        # multiset) is deleted.  Set-equal to the distinct spelling:
        # every pair sharing >= 1 band has a unique smallest shared band.
        # Only legal when no bands were dropped: with a hot-band cap the
        # first shared band may be a FILTERED one, and the suppression
        # would then lose the pair — the capped path keeps the distinct.
        earlier_match = F.exists(
            F.zip_with(
                F.slice(F.col("a.bks"), F.lit(1), F.col("a.band")),
                F.slice(F.col("b.bks"), F.lit(1), F.col("b.band")),
                lambda x, y: x == y,
            ),
            lambda v: v,
        )
        return a.join(b, cond & ~earlier_match).select(
            F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b")
        )
    return (
        a.join(b, cond)
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def simhash_bits(hash_col: Column, num_bits: int = 32) -> Column:
    """SimHash as a ``num_bits``-char '0'/'1' string, from a materialized
    array<string> column of per-token md5 hashes (see token_hashes()).

    Bit i = sign of sum over tokens of (2*b - 1) where b is the high bit of
    the i-th nibble of md5(token).  Using the nibble high bit keeps the
    computation pure string/arithmetic SQL — portable to any engine, no
    64-bit hex parsing.

    Shape: ONE fold over the tokens carrying a ``num_bits``-wide vote
    accumulator (zip_with inside aggregate), not one aggregate per bit —
    a single pass over the array and a far smaller generated method (the
    32-aggregate spelling was both ~32x the scanning and big enough to JIT
    erratically).  ``hash_col`` must be a column reference, not an inline
    expression (lambda bodies don't share subexpressions).
    """
    votes = F.aggregate(
        hash_col,
        F.array_repeat(F.lit(0), num_bits),
        lambda acc, h: F.zip_with(
            acc,
            F.sequence(F.lit(1), F.lit(num_bits)),
            lambda a, i: a
            + F.when(
                h.substr(i, F.lit(1)).isin(
                    "8", "9", "a", "b", "c", "d", "e", "f"
                ),
                1,
            ).otherwise(-1),
        ),
    )
    return F.array_join(
        F.transform(votes, lambda v: F.when(v >= 0, "1").otherwise("0")), ""
    )


def token_hashes(text: Column) -> Column:
    """Distinct lowercase tokens -> md5 hash array (simhash input)."""
    tokens = F.array_distinct(
        F.filter(F.split(F.lower(text), r"[^a-z0-9]+"), lambda t: t != "")
    )
    return F.transform(tokens, lambda t: F.md5(t))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_bits: int = 32,
    n_bands: int = 4,
    max_hamming: int = 3,
    max_band_freq: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, banded for scale.

    Pigeonhole guarantee: split the ``num_bits`` fingerprint into
    ``n_bands`` equal bands; any pair with Hamming distance <= n_bands-1
    agrees on at least one whole band, so generating candidates with a
    band equi-join (shuffle on the band key, never an all-pairs join)
    has FULL recall for ``max_hamming <= n_bands - 1``.  Candidates are
    then verified with the exact bit-count — the same candidates+verify
    shape as lsh_verified_pairs, which is what survives at 100 TB.
    ``max_band_freq`` caps hot bands exactly like candidate_pairs
    (documented recall trade-off there); the pigeonhole guarantee then
    holds only for pairs retaining a non-hot shared band.

    Output: (doc_a, doc_b, hamming) with hamming <= max_hamming.
    """
    if max_hamming > n_bands - 1:
        raise ValueError(
            "banded pigeonhole recall requires max_hamming <= n_bands - 1"
        )
    if num_bits % n_bands:
        # With band_w = num_bits // n_bands the trailing num_bits % n_bands
        # bits would fall in NO band: a pair differing only there is never
        # a candidate and the full-recall guarantee silently breaks.
        raise ValueError(
            "num_bits must be divisible by n_bands: trailing bits would be "
            "uncovered by every band and break the pigeonhole guarantee"
        )
    band_w = num_bits // n_bands
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    fp = (
        df.repartition(n_parts)
        .select(F.col(id_col).alias("doc"), token_hashes(F.col(text_col)).alias("th"))
        .select("doc", simhash_bits(F.col("th"), num_bits).alias("sh"))
        .localCheckpoint()
    )
    band_keys = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda i: F.col("sh").substr(i * band_w + 1, F.lit(band_w)),
    )
    if max_band_freq is None:
        # carry bks so candidate_pairs dedups in the join condition
        # (first shared band) instead of a post-join distinct exchange.
        bands = fp.select("doc", band_keys.alias("bks")).select(
            "doc", "bks", F.posexplode("bks").alias("band", "bk")
        )
    else:
        bands = fp.select(
            "doc", F.posexplode(band_keys).alias("band", "bk")
        )
    cands = candidate_pairs(bands, max_band_freq)
    joined = (
        cands.join(fp.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a")
        .join(fp.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
    )
    sa, sb = F.col("sh_a"), F.col("sh_b")
    hamming = F.size(
        F.filter(
            F.sequence(F.lit(1), F.lit(num_bits)),
            lambda i: sa.substr(i, F.lit(1)) != sb.substr(i, F.lit(1)),
        )
    )
    # Lazy for the same single-consumer reason as lsh_verified_pairs'
    # scored table: the barrier (no hamming-expr inlining) is the
    # LogicalRDD itself; eagerness only added a job boundary.
    scored = joined.select(
        "doc_a", "doc_b", hamming.alias("hamming")
    ).localCheckpoint(eager=False)
    return scored.filter(F.col("hamming") <= max_hamming)


def lsh_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    k: int = 5,
    rows_per_band: int = 2,
    threshold: float = 0.2,
    max_band_freq: int | None = None,
) -> DataFrame:
    """The scale-path near-dup pipeline: banded-LSH candidate generation,
    then Jaccard verification computed in-row via array_intersect over the
    32-bit shingle-hash sets (no second explode join; hash collisions
    perturb Jaccard by < 1e-4 and identically in the oracle).  Only
    candidate pairs ever materialize, so cost is O(candidates), not O(n^2)
    — this is the operator you run at 100 TB; ngram_jaccard_pairs is the
    exhaustive baseline.  ``max_band_freq`` caps hot bands (see
    candidate_pairs).
    """
    sigged = hashed_sig_docs(
        df, id_col, text_col, k, num_hashes
    ).localCheckpoint()
    bands = bands_from_sig(
        sigged, num_hashes, rows_per_band, carry_keys=max_band_freq is None
    )
    cands = candidate_pairs(bands, max_band_freq)
    hashed = sigged.select("doc", "hs")
    joined = (
        cands.join(
            hashed.select(F.col("doc").alias("doc_a"), F.col("hs").alias("sh_a")),
            "doc_a",
        )
        .join(
            hashed.select(F.col("doc").alias("doc_b"), F.col("hs").alias("sh_b")),
            "doc_b",
        )
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("sz_a", F.size("sh_a"))
        .withColumn("sz_b", F.size("sh_b"))
    )
    jac = F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
    # Score into a TINY checkpointed table (3 scalar columns, |candidates|
    # rows), THEN filter.  Filtering the live plan instead lets Catalyst
    # push round(jac)>=t into the join condition, inlining the
    # size(array_intersect(...)) subtree THREE times per candidate row (the
    # jaccard formula references n_common three times) plus once more in
    # the projection — measured 4x the intersect work.  The materialized
    # score table is also the production shape: store pair scores once,
    # filter at consumption time.
    # LAZY checkpoint (r14): unlike the self-joined sigged table above
    # (eager for the double-evaluation + accumulator-GC reasons its
    # comment documents), scored has exactly ONE consumer — the filter
    # below — so materializing it under the caller's first action merges
    # the filter's job into the scoring job (one job boundary fewer)
    # while the LogicalRDD barrier still blocks the filter from being
    # pushed into (and inlined throughout) the join.  Interleaved A/B at
    # sf0.1: 1.947 -> 1.514 min-of-4, identical rows.
    scored = (
        joined.withColumn("jaccard", F.round(jac, 4))
        .select("doc_a", "doc_b", "jaccard")
        .localCheckpoint(eager=False)
    )
    return scored.filter(F.col("jaccard") >= threshold)


def exact_then_near(df: DataFrame, id_col: str, text_col: str, near_fn) -> DataFrame:
    """The 100 TB dedup composition, generic over the near-dup family:
    exact dedup FIRST, run ``near_fn(representative_rows)`` on the
    keepers only, then attach both clusters' copy counts.

    Pair enumeration is inherently quadratic inside duplicate clusters
    (every doc in a c-copy cluster contributes c*(c-1)/2 pairs through
    every LSH/simhash band), and web-scale corpora are full of exact
    dups.  Collapsing each exact cluster to its keeper before the
    near-dup pass makes its cost a function of DISTINCT content, not raw
    rows; the carried copy counts make total affected-row multiplicity
    (copies_a * copies_b) recoverable without ever materializing the
    within-cluster quadratic.

    ``near_fn`` takes the representative-row DataFrame (same schema as
    ``df``) and must return pairs with ``doc_a``/``doc_b`` columns; its
    score columns (jaccard, hamming, ...) pass through unchanged.
    """
    reps = exact_dedup(df, id_col, text_col).localCheckpoint()
    rep_rows = df.join(
        reps.select(F.col("keeper").alias(id_col)), id_col, "left_semi"
    )
    near = near_fn(rep_rows)
    sizes = reps.select("keeper", "n_copies")
    return (
        near.join(
            sizes.select(
                F.col("keeper").alias("doc_a"),
                F.col("n_copies").alias("copies_a"),
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col("keeper").alias("doc_b"),
                F.col("n_copies").alias("copies_b"),
            ),
            "doc_b",
        )
    )


def exact_then_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    k: int = 5,
    rows_per_band: int = 2,
    threshold: float = 0.2,
    max_band_freq: int | None = None,
) -> DataFrame:
    """exact_then_near with the MinHash-LSH+Jaccard-verify near path.

    Measured (50k docs, every doc in a 10-copy exact cluster, threshold
    0.2): direct lsh_verified_pairs = ~122s; this composition = 14.4s
    end-to-end (one hash groupBy + the 5k-representative near-dedup + two
    size joins) — and the gap widens with cluster size, since the direct
    path is quadratic in copies and the composed path constant.
    """
    return exact_then_near(
        df,
        id_col,
        text_col,
        lambda rep_rows: lsh_verified_pairs(
            rep_rows, id_col, text_col, num_hashes, k, rows_per_band,
            threshold, max_band_freq,
        ),
    ).select("doc_a", "doc_b", "jaccard", "copies_a", "copies_b")


def exact_then_near_simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_bits: int = 32,
    n_bands: int = 4,
    max_hamming: int = 3,
    max_band_freq: int | None = None,
) -> DataFrame:
    """exact_then_near with the banded-SimHash near path: exact clusters
    collapse to keepers before fingerprinting, so a 10-copy boilerplate
    cluster contributes ONE row to every band bucket instead of ten
    (the same within-cluster-quadratic win measured for the minhash
    path).  Output: (doc_a, doc_b, hamming, copies_a, copies_b)."""
    return exact_then_near(
        df,
        id_col,
        text_col,
        lambda rep_rows: simhash_near_pairs(
            rep_rows, id_col, text_col, num_bits, n_bands, max_hamming,
            max_band_freq,
        ),
    ).select("doc_a", "doc_b", "hamming", "copies_a", "copies_b")


def shingle_docs_exploded(
    df: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """(doc, s) — one row per DISTINCT k-shingle per doc, emitted by an
    Arrow-batched kernel (the DuckDB oracles' ``unnest(list_distinct(
    [substr(text, i, k) ...]))``), vectorized for the same reason as
    hashed_sig_docs: Catalyst evaluates the sequence->substring->
    array_distinct lambdas interpreted per element, and the inverted-index
    consumers below re-evaluate the un-materialized explode several times.
    """
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()

    def batches(it):
        for pdf in it:
            ids, ss = [], []
            for doc, t in zip(pdf[id_col], pdf[text_col]):
                n = max(len(t) - (k - 1), 1)
                for s in dict.fromkeys(t[i : i + k] for i in range(n)):
                    ids.append(doc)
                    ss.append(s)
            yield pd.DataFrame({"doc": ids, "s": ss})

    n_parts = df.sparkSession.sparkContext.defaultParallelism
    return (
        # NULL text filtered JVM-side — exactly explode-of-null semantics
        # (no rows), which is what the oracles' unnest emits.
        df.select(id_col, text_col)
        .filter(F.col(text_col).isNotNull())
        .repartition(n_parts)
        .mapInPandas(batches, f"doc {id_type}, s string")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact pairwise Jaccard over distinct k-shingles, via an inverted
    index: explode shingles, equi-join on shingle, count intersections, then
    |A∪B| = |A| + |B| - |A∩B|.  Pairs below ``threshold`` never materialize
    beyond the per-shingle join.

    ``max_doc_freq`` drops shingles that occur in more than that many
    documents BEFORE the self-join (Jaccard is then over the filtered
    shingle universe; doc sizes are recomputed post-filter so the metric
    stays internally consistent).  Without it, one ubiquitous shingle
    (" the ") produces a quadratic join partition — a single hot shingle in
    d docs yields d^2 join rows, which is what kills this operator at
    100 TB.  The cap bounds the worst partition at max_doc_freq^2 rows and
    barely moves the metric: a shingle shared by half the corpus carries no
    dedup signal.
    """
    exploded = shingle_docs_exploded(df, id_col, text_col, k).localCheckpoint()
    sizes = exploded.groupBy("doc").agg(F.count("*").alias("sz"))
    inv = exploded.join(sizes, "doc").select("doc", "sz", "s")
    if max_doc_freq is not None:
        keep = (
            exploded.groupBy("s")
            .agg(F.count("*").alias("doc_freq"))
            .filter(F.col("doc_freq") <= max_doc_freq)
            .select("s")
        )
        filtered = exploded.join(keep, "s")
        resized = filtered.groupBy("doc").agg(F.count("*").alias("sz"))
        inv = filtered.join(resized, "doc").select("doc", "sz", "s")
    a, b = inv.alias("a"), inv.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
    return (
        common.withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
    stats_reset_every: int = 4,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, label) — connected components of the undirected pair graph,
    label = minimum node id in the component: the cluster assignment that
    turns near-dup PAIRS into dedup DECISIONS (keep label, drop the rest).

    Min-label propagation WITH pointer-doubling: each round every node
    takes the min of (its own label, its neighbors' labels, its label's
    label).  The third term is the union-find path-halving shortcut: label
    values are always in-component node ids, so labels form a forest, and
    jumping to the grandparent halves the remaining depth every round —
    convergence in O(log diameter) rounds instead of O(diameter) (see the
    chain/lattice probe table in PERF.md).  Dense near-dup clusters
    (LSH emits most intra-cluster pairs) still converge in 2-4 rounds.
    Cost per round: three key-partitioned shuffles (neighbor join + groupBy
    + label-of-label self-join); each round's labels are
    localCheckpoint'ed — iterative lineage otherwise grows the plan
    exponentially and re-evaluates every prior round.  This replaces the
    previously-documented large-star/small-star upgrade path: same
    asymptotic round count, one fewer pass per round, and the edge set is
    never rewritten.

    **Stats reset (``stats_reset_every``, measured — see PERF.md round 5):**
    ``localCheckpoint`` truncates the *lineage* but PRESERVES the origin
    Dataset's size-in-bytes estimate, and the non-CBO stats visitor
    estimates an inner join as the PRODUCT of its children's sizes.  With
    three references to ``labels`` per round the preserved estimate
    compounds as ~3^round, and by round ~12 Catalyst's broadcast-size
    check is multiplying BigIntegers with millions of digits of pure
    driver CPU: measured per-round wall on a 10k chain went 0.3s -> 2.3s
    -> 11s -> 40s -> 224s (rounds 10-14) with executors idle.  Every
    ``stats_reset_every`` rounds the labels table is therefore written to
    parquet and re-read — a scan with real (small) file stats, resetting
    the estimate — bounding inter-reset growth at 3^k.  At cluster scale
    pass ``checkpoint_dir`` on shared storage (the parquet round-trip is
    the standard durable checkpoint for iterative state anyway); locally
    a temp dir is used and removed on exit.

    Correctness of the fixpoint: at convergence each node's label is <=
    every neighbor's label AND vice versa (symmetry), so all labels in a
    component are equal; label values never leave the component and
    label(min) == min, hence every label is the component minimum.

    The convergence test is a driver-side scalar ``count()`` per round —
    a bounded action, not a collect; at cluster scale you would fold the
    changed-count into an accumulator inside the label job (or check
    every k rounds) to save one job submission per round.

    Raises if ``max_iter`` rounds don't converge — silent partial labels
    would silently under-merge clusters.
    """
    import shutil
    import tempfile

    if stats_reset_every < 1:
        raise ValueError("stats_reset_every must be >= 1")
    spark = edges.sparkSession
    own_dir = checkpoint_dir is None
    ckpt_root = checkpoint_dir or tempfile.mkdtemp(prefix="cc_labels_")
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    labels = nodes.select("node", F.col("node").alias("label")).localCheckpoint()
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint()
    )
    for rnd in range(max_iter):
        nbr_min = (
            sym.join(
                labels.select(F.col("node").alias("v"), "label"), "v"
            )
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
            .select(F.col("u").alias("node"), "nbr_label")
        )
        # Pointer doubling: label-of-label.  Every label value is itself a
        # node (labels start as self and only ever take existing ids), so
        # this inner self-join matches exactly one row per node.
        grand = (
            labels.join(
                labels.select(
                    F.col("node").alias("label"), F.col("label").alias("glabel")
                ),
                "label",
            )
            .select("node", "glabel")
        )
        # Carry the round's OLD label through the projection (r14, guide
        # §2.4): the convergence check below then reads the materialized
        # (label, _old) pair directly instead of re-joining new labels
        # against old — one join (both sides unpartitioned checkpoint
        # RDDs, i.e. two exchanges) and its scan deleted per round.
        new_plus = (
            labels.join(nbr_min, "node", "left")
            .join(grand, "node")
            .select(
                "node",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nbr_label"), F.col("label")),
                    F.col("glabel"),
                ).alias("label"),
                F.col("label").alias("_old"),
            )
        )
        parquet_round = (rnd + 1) % stats_reset_every == 0
        if parquet_round:
            path = f"{ckpt_root}/round_{rnd}"
            new_plus.write.mode("overwrite").parquet(path)
            new_plus = spark.read.parquet(path)
        else:
            new_plus = new_plus.localCheckpoint()
        changed = new_plus.filter(F.col("label") != F.col("_old")).count()
        new_labels = new_plus.select("node", "label")
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            global _LAST_CC_ROUNDS
            _LAST_CC_ROUNDS = rnd + 1
            if own_dir:
                if parquet_round:
                    # The result would otherwise read from the temp dir
                    # we are about to remove.
                    labels = labels.localCheckpoint()
                shutil.rmtree(ckpt_root, ignore_errors=True)
            return labels
    if own_dir:
        shutil.rmtree(ckpt_root, ignore_errors=True)
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


# Diagnostics only (read by tests/test_llmdata.py::
# test_connected_components_stats_stay_bounded): rounds taken by the most
# recent connected_components call on this driver.  Not part of the API.
_LAST_CC_ROUNDS = 0


def dedup_cluster_keepers(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "doc_a",
    dst: str = "doc_b",
    **cc_kwargs,
) -> DataFrame:
    """(id, cluster, is_keeper) for EVERY row of ``df``: docs absent from
    the pair graph are their own singleton cluster; the keeper of each
    cluster is its minimum id (matching exact_dedup's keeper rule).
    ``cc_kwargs`` (max_iter, checkpoint_dir, ...) pass through to
    :func:`connected_components`."""
    comps = connected_components(pairs, src, dst, **cc_kwargs)
    return (
        df.select(F.col(id_col).alias("id"))
        .join(comps.select(F.col("node").alias("id"), "label"), "id", "left")
        .select(
            "id",
            F.coalesce(F.col("label"), F.col("id")).alias("cluster"),
        )
        .withColumn("is_keeper", (F.col("id") == F.col("cluster")))
    )


def dedup_cluster_keepers_by_priority(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    priority_col: str,
    src: str = "doc_a",
    dst: str = "doc_b",
    **cc_kwargs,
) -> DataFrame:
    """(id, cluster, keeper_id, is_keeper) for every row of ``df``:
    like :func:`dedup_cluster_keepers` but the keeper of each cluster is
    the row with the HIGHEST ``priority_col`` (min id as the
    deterministic tie-break) — the policy real curation needs when the
    same document was crawled from several sources of unequal quality
    (keep the books copy, drop the crawl copies); min-id keeping would
    choose by accident of ingestion order.

    Shape: connected components assign clusters (O(log d) pointer-
    doubling rounds); one window over the cluster key ranks candidates.
    The window partition is the CLUSTER — bounded by the largest
    near-dup cluster, which exact-first composition
    (:func:`exact_then_near_pairs`) keeps small."""
    from pyspark.sql.window import Window

    comps = connected_components(pairs, src, dst, **cc_kwargs)
    clustered = (
        df.select(F.col(id_col).alias("id"), F.col(priority_col).alias("_p"))
        .join(comps.select(F.col("node").alias("id"), "label"), "id", "left")
        .select(
            "id",
            "_p",
            F.coalesce(F.col("label"), F.col("id")).alias("cluster"),
        )
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("_p").desc(), F.col("id").asc()
    )
    return (
        clustered.withColumn(
            "keeper_id", F.first("id").over(w)
        )
        .select(
            "id",
            "cluster",
            "keeper_id",
            (F.col("id") == F.col("keeper_id")).alias("is_keeper"),
        )
    )


def fuzzy_text_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_text: str,
    right_id: str,
    right_text: str,
    threshold: float = 0.5,
    num_hashes: int = 8,
    k: int = 5,
    rows_per_band: int = 2,
    max_band_freq: int | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard): fuzzy JOIN of two DIFFERENT tables on text
    similarity — record linkage / entity resolution, the join Spark has
    no native operator for (the naive spelling is a cartesian product
    with a similarity predicate, i.e. a nested-loop join that cannot run
    at scale).

    Same candidates+verify shape as lsh_verified_pairs, but the band
    equi-join is BETWEEN the two relations: each side is shingled and
    minhash-signed once (the Arrow kernel), band keys meet on a
    shuffle keyed by (band, bk), and only candidate pairs ever
    materialize for the exact in-row Jaccard verification.  A pair's
    shared band exists regardless of which table each row sits in, so
    recall matches the self-join operator at the same geometry.
    ``max_band_freq`` caps hot bands by the COMBINED frequency across
    both sides (a band degenerate in either table floods the join the
    same way)."""
    sl = hashed_sig_docs(
        left, left_id, left_text, k, num_hashes
    ).localCheckpoint()
    sr = hashed_sig_docs(
        right, right_id, right_text, k, num_hashes
    ).localCheckpoint()
    carry = max_band_freq is None
    bl = bands_from_sig(sl, num_hashes, rows_per_band, carry_keys=carry)
    br = bands_from_sig(sr, num_hashes, rows_per_band, carry_keys=carry)
    if max_band_freq is not None:
        freqs = (
            bl.select("band", "bk")
            .unionAll(br.select("band", "bk"))
            .groupBy("band", "bk")
            .agg(F.count(F.lit(1)).alias("f"))
            .filter(F.col("f") <= max_band_freq)
            .select("band", "bk")
        )
        bl = bl.join(freqs, ["band", "bk"])
        br = br.join(freqs, ["band", "bk"])
    if carry:
        # In-join dedup, cross-table flavour (r14 — same first-shared-
        # band rule as candidate_pairs, minus the doc< self-pair guard):
        # a (left, right) pair is emitted only at its smallest shared
        # band, so the candidate set is unique by construction and the
        # post-join distinct exchange is deleted.  Capped path keeps the
        # distinct for the same dropped-band reason as candidate_pairs.
        a = bl.select(
            F.col("doc").alias("id_a"),
            F.col("bks").alias("bks_a"),
            "band",
            "bk",
        ).alias("a")
        b = br.select(
            F.col("doc").alias("id_b"),
            F.col("bks").alias("bks_b"),
            "band",
            "bk",
        ).alias("b")
        earlier = F.exists(
            F.zip_with(
                F.slice(F.col("a.bks_a"), F.lit(1), F.col("a.band")),
                F.slice(F.col("b.bks_b"), F.lit(1), F.col("b.band")),
                lambda x, y: x == y,
            ),
            lambda v: v,
        )
        cands = a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bk") == F.col("b.bk"))
            & ~earlier,
        ).select("id_a", "id_b")
    else:
        cands = (
            bl.select(F.col("doc").alias("id_a"), "band", "bk")
            .join(
                br.select(F.col("doc").alias("id_b"), "band", "bk"),
                ["band", "bk"],
            )
            .select("id_a", "id_b")
            .distinct()
        )
    joined = cands.join(
        sl.select(F.col("doc").alias("id_a"), F.col("hs").alias("hs_a")),
        "id_a",
    ).join(
        sr.select(F.col("doc").alias("id_b"), F.col("hs").alias("hs_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    jac = F.round(
        inter
        / (F.size("hs_a") + F.size("hs_b") - inter).cast("double"),
        4,
    )
    # Lazy: single consumer (see lsh_verified_pairs' scored comment).
    scored = joined.select(
        "id_a", "id_b", jac.alias("jaccard")
    ).localCheckpoint(eager=False)
    return scored.filter(F.col("jaccard") >= threshold)
