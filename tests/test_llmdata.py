"""LLM-data operator tests that the oracle registry can't cover: the
k-means IVF quantizer (iterative fit, no SQL equivalent) is checked by a
recall-vs-brute-force assertion instead.  The deterministic seed-centroid
IVF variant IS in the registry (ann_ivf_topk) and hash-checked there."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mrsboraetl_spark.operators.similarity import brute_force_topk, ivf_topk
from mrsboraetl_spark.queries import table


def _queries(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_ivf_kmeans_recall(spark, sf_dir):
    """Sample-fit k-means IVF must recover a sane fraction of the exact
    top-3 at nprobe=4 on the 500-vector corpus, and never emit a neighbor
    the brute-force scorer would rank below its own cosine."""
    emb = table(spark, sf_dir, "embeddings")
    q = _queries(spark, sf_dir)
    exact = {
        (r.query_id, r.neighbor)
        for r in brute_force_topk(emb, q, k=3).collect()
    }
    approx = ivf_topk(
        emb, q, k=3, n_centroids=16, nprobe=4, sample_fraction=0.5
    ).collect()
    approx_pairs = {(r.query_id, r.neighbor) for r in approx}
    recall = len(exact & approx_pairs) / len(exact)
    assert recall >= 0.3, f"recall@3 collapsed: {recall}"
    # IVF output is always a subset of true cosine scores: re-ranking the
    # returned neighbors exactly must agree with the reported cosine.
    emb_rows = {r.vec_id: r.embedding for r in emb.collect()}
    qmap = {r.query_id: r.query_vec for r in q.collect()}
    import math

    for r in approx:
        a, b = qmap[r.query_id], emb_rows[r.neighbor]
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        assert abs(round(dot / (na * nb), 4) - r.cosine) <= 1e-4


def test_cosine_pairs_lsh_subset_and_recall(spark, sf_dir):
    """LSH pair candidates must be a subset of the brute-force pairs with
    identical cosines, and recall at a low threshold must be non-trivial
    on the uniform-random corpus (high-cosine pairs nearly share sign
    patterns, so real near-dups recall far better)."""
    from mrsboraetl_spark.operators.similarity import (
        cosine_pairs_above,
        cosine_pairs_lsh,
    )

    emb = table(spark, sf_dir, "embeddings")
    thr = 0.3
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in cosine_pairs_above(emb, thr).collect()
    }
    # SRP recall on UNIFORM vectors at cosine 0.3 (angle ~72deg):
    # P(bucket match) = (1 - theta/pi)^bits = 0.597^4 ~ 0.127 per table,
    # 1-(1-0.127)^8 ~ 0.66 over 8 tables — so >= 0.4 is a safe floor.
    # Real near-dup corpora sit at cosine >= 0.9 (theta ~ 26deg, 0.857^b)
    # where far wider buckets still recall ~1; the uniform corpus is the
    # worst case.
    approx = {
        (r.id_a, r.id_b): r.cosine
        for r in cosine_pairs_lsh(emb, thr, bits=4, n_tables=8).collect()
    }
    assert set(approx) <= set(exact)
    for k, v in approx.items():
        assert v == exact[k]
    assert exact, "threshold too high — vacuous test"
    assert len(approx) / len(exact) >= 0.4, (len(approx), len(exact))


def test_exact_then_near_composition(spark, sf_dir):
    """On a corpus where every doc has 3 exact copies, the composition's
    pairs must equal direct LSH over the distinct texts, with copy counts
    carrying the collapsed multiplicity."""
    from mrsboraetl_spark.operators.dedup import (
        exact_then_near_pairs,
        lsh_verified_pairs,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text").limit(200)
    n = 200
    tripled = docs
    for i in (1, 2):
        tripled = tripled.unionByName(
            docs.select((F.col("doc_id") + i * n * 10).alias("doc_id"), "text")
        )
    composed = exact_then_near_pairs(
        tripled, "doc_id", "text", threshold=0.2
    ).collect()
    direct = lsh_verified_pairs(docs, "doc_id", "text", threshold=0.2).collect()
    assert {(r.doc_a, r.doc_b, r.jaccard) for r in composed} == {
        (r.doc_a, r.doc_b, r.jaccard) for r in direct
    }
    assert all(r.copies_a == 3 and r.copies_b == 3 for r in composed)
    assert len(composed) > 0


def test_ivf_seed_centroids_deterministic(spark, sf_dir):
    """The seed-centroid variant (what ann_ivf_topk registers) is fully
    deterministic: two runs yield identical rows."""
    emb = table(spark, sf_dir, "embeddings")
    q = _queries(spark, sf_dir)
    seeds = emb.filter(F.col("vec_id") < 16).select("vec_id", "embedding").collect()
    centroids = [(r.vec_id, list(r.embedding)) for r in seeds]

    def run():
        return sorted(
            map(
                tuple,
                ivf_topk(emb, q, k=3, nprobe=4, centroids=centroids).collect(),
            )
        )

    assert run() == run()


def _md5_32(s):
    """First 8 hex chars of md5, base-16 — the shingle/k-gram hash."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)


# Literal edge docs for the kernel references: empty, shorter than k,
# exactly k, repeated shingles, non-ASCII, and one NULL (no output row).
_KERNEL_DOCS = [
    (1, ""),
    (2, "abc"),
    (3, "abcde"),
    (4, "aaaaaaaaaa"),
    (5, "the quick brown fox jumps over the lazy dog"),
    (6, "héllo wörld — ünïcode"),
    (7, None),
]


def test_minhash_kernel_matches_python_reference(spark):
    """hashed_sig_docs against a pure-Python reference: hs = md5[:8] of
    each DISTINCT 5-shingle in first-occurrence order, wrapped to a
    signed int32; sig[s] = min over the unsigned hashes of
    (MINHASH_A[s]*h + MINHASH_B[s]) mod MINHASH_MOD.  The wrap is a
    bijection, so per-doc set sizes (hence every verify jaccard) match
    the unsigned values; dedup_minhash_lsh / dedup_lsh_verified pin the
    end-to-end pairs against their DuckDB oracles."""
    from mrsboraetl_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_MOD,
        hashed_sig_docs,
    )

    def ref(t, k=5):
        grams = dict.fromkeys(
            t[i : i + k] for i in range(max(len(t) - (k - 1), 1))
        )
        hs = [_md5_32(g) for g in grams]
        sig = [
            min((a * h + b) % MINHASH_MOD for h in hs)
            for a, b in zip(MINHASH_A, MINHASH_B)
        ]
        hs32 = [h - (1 << 32) if h >= (1 << 31) else h for h in hs]
        assert len(set(hs32)) == len(hs)
        return hs32, sig

    df = spark.createDataFrame(_KERNEL_DOCS, "doc_id long, text string")
    out = hashed_sig_docs(df, "doc_id", "text", 5, 8)
    assert dict(out.dtypes)["hs"] == "array<int>"
    got = {r["doc"]: (list(r["hs"]), list(r["sig"])) for r in out.collect()}
    want = {d: ref(t) for d, t in _KERNEL_DOCS if t is not None}
    assert got == want
    assert any(h < 0 for hs, _ in want.values() for h in hs), (
        "no hash >= 2^31: the int32 wrap went unexercised"
    )

    sig_only = hashed_sig_docs(
        df, "doc_id", "text", 5, 8, include_hashes=False
    )
    assert sig_only.columns == ["doc", "sig"]
    assert {r["doc"]: list(r["sig"]) for r in sig_only.collect()} == {
        d: sig for d, (_, sig) in want.items()
    }


def _sql_hashed_sig_docs(df, id_col, text_col, k=5, num_hashes=8):
    """The JVM-only (SQL function) spelling of minhash, kept here as a
    reference for the Arrow kernel: distinct k-shingles, each hashed once
    to the unsigned 32-bit md5[:8] value (``hs`` stays array<bigint>),
    then sig[s] = min over hs of (MINHASH_A[s]*h + MINHASH_B[s]) mod
    MINHASH_MOD as higher-order array functions."""
    from mrsboraetl_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_MOD,
    )

    text = F.col(text_col)
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(text) - (k - 1), F.lit(1))),
            lambda i: F.substring(text, i, k),
        )
    )
    hs = F.array_distinct(
        F.transform(
            shingles,
            lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
        )
    )
    a_arr = F.array(*[F.lit(a) for a in MINHASH_A[:num_hashes]])
    b_arr = F.array(*[F.lit(b) for b in MINHASH_B[:num_hashes]])
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda seed: F.array_min(
            F.transform(
                F.col("hs"),
                lambda h: (
                    F.element_at(a_arr, seed + 1).cast("long") * h
                    + F.element_at(b_arr, seed + 1)
                )
                % F.lit(MINHASH_MOD),
            )
        ),
    )
    return (
        df.filter(text.isNotNull())
        .select(F.col(id_col).alias("doc"), hs.alias("hs"))
        .localCheckpoint()
        .withColumn("sig", sig)
    )


def _wrap_int32(h):
    return h - (1 << 32) if h >= (1 << 31) else h


def test_vectorized_minhash_kernel_matches_sql_spelling(spark, sf_dir):
    """hashed_sig_docs (Arrow kernel) must agree bit for bit with the SQL
    spelling of minhash (_sql_hashed_sig_docs) on the whole corpus: the
    same signatures, and shingle hashes equal up to the int32 wrap the
    kernel applies.  The kernel exists for speed, never for different
    math; the DuckDB oracles encode the SQL spelling."""
    from mrsboraetl_spark.operators.dedup import hashed_sig_docs

    docs = table(spark, sf_dir, "documents")
    sql_side = {
        r["doc"]: ([_wrap_int32(h) for h in r["hs"]], list(r["sig"]))
        for r in _sql_hashed_sig_docs(docs, "doc_id", "text").collect()
    }
    vec_side = {
        r["doc"]: (list(r["hs"]), list(r["sig"]))
        for r in hashed_sig_docs(docs, "doc_id", "text", 5, 8).collect()
    }
    assert sql_side == vec_side


def test_compact_hashes_bijection_preserves_pairs(spark, sf_dir):
    """The kernel's int32 ``hs`` reinterprets each unsigned 32-bit shingle
    hash as a signed int32 — a bijection on [0, 2^32), so per-doc set
    sizes and pairwise intersection sizes (hence every jaccard the verify
    path emits) must be EXACTLY those of the unsigned int64 hashes.  Pins
    both the elementwise wrap and the end-to-end pair output."""
    from mrsboraetl_spark.operators.dedup import (
        bands_from_sig,
        candidate_pairs,
        hashed_sig_docs,
        lsh_verified_pairs,
    )

    docs = table(spark, sf_dir, "documents")
    wide_df = _sql_hashed_sig_docs(docs, "doc_id", "text").localCheckpoint()
    assert dict(wide_df.dtypes)["hs"] == "array<bigint>"
    wide = {r["doc"]: list(r["hs"]) for r in wide_df.collect()}
    narrow_df = hashed_sig_docs(docs, "doc_id", "text", 5, 8)
    assert dict(narrow_df.dtypes)["hs"] == "array<int>"
    narrow = {r["doc"]: list(r["hs"]) for r in narrow_df.collect()}
    assert set(wide) == set(narrow)
    for d, hs64 in wide.items():
        assert narrow[d] == [_wrap_int32(h) for h in hs64]
        assert len(set(narrow[d])) == len(set(hs64))

    # End to end: the int32 verify path (what lsh_verified_pairs runs)
    # must emit the same (pair, jaccard) set as an int64 verify built
    # from the unsigned hashes.
    cands = candidate_pairs(bands_from_sig(wide_df, 8, 4))
    hashed = wide_df.select("doc", "hs")
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
    wide_pairs = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in joined.withColumn("jaccard", F.round(jac, 4))
        .select("doc_a", "doc_b", "jaccard")
        .filter(F.col("jaccard") >= 0.5)
        .collect()
    }
    compact_pairs = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in lsh_verified_pairs(
            docs, "doc_id", "text", 8, 5, 4, 0.5
        ).collect()
    }
    assert compact_pairs == wide_pairs
    assert compact_pairs, "probe needs a non-empty pair set"


def test_winnowing_kernel_matches_python_reference(spark):
    """winnowing_fingerprint_rows against a pure-Python reference: the
    document-order md5[:8] k-gram stream (duplicates kept), windows of w
    consecutive hashes (one whole-stream window when the text has at most
    k+w-1 chars), distinct window minima."""
    from mrsboraetl_spark.functions.text import winnowing_fingerprint_rows

    def ref(t, k=5, w=4):
        h = [_md5_32(t[i : i + k]) for i in range(max(len(t) - (k - 1), 1))]
        return {min(h[i : i + w]) for i in range(max(len(h) - (w - 1), 1))}

    df = spark.createDataFrame(_KERNEL_DOCS, "doc_id long, text string")
    got = sorted(
        map(tuple, winnowing_fingerprint_rows(df, "doc_id", "text", 5, 4).collect())
    )
    want = sorted(
        (d, fp) for d, t in _KERNEL_DOCS if t is not None for fp in ref(t)
    )
    assert got == want
    # "abcde" (k chars) and "abc" (< k) are one-window docs; the pangram
    # has many windows and more than one distinct minimum.
    assert sum(1 for d, _ in got if d == 5) > 1


def _union_find_components(edges):
    """Independent Python oracle: classic union-find with path compression."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_matches_union_find(spark, sf_dir):
    """Min-label propagation over the REAL lsh_verified pair graph must
    equal union-find run on the same edges."""
    from mrsboraetl_spark.operators.dedup import (
        connected_components,
        lsh_verified_pairs,
    )

    docs = table(spark, sf_dir, "documents")
    pairs = lsh_verified_pairs(docs, "doc_id", "text", 8, 5, 2, 0.2)
    edges = [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]
    assert edges, "probe needs a non-empty pair graph"
    want = _union_find_components(edges)
    got = {
        r["node"]: r["label"]
        for r in connected_components(pairs).collect()
    }
    assert got == want


def test_connected_components_chain_diameter(spark):
    """A path graph exercises the iteration bound: diameter D needs ~D
    rounds, and an insufficient max_iter must raise, not under-merge."""
    import pytest as _pytest

    from mrsboraetl_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "doc_a long, doc_b long"
    )
    got = {
        r["node"]: r["label"] for r in connected_components(chain).collect()
    }
    assert got == {i: 1 for i in range(1, 13)}
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)


def test_connected_components_stats_stay_bounded(spark):
    """Regression pin for the round-5 finding: localCheckpoint PRESERVES
    the origin Dataset's size-in-bytes estimate (Spark 3.4+), and the
    non-CBO join estimate is the product of its children — an iterative
    self-join loop therefore compounds the estimate ~3^round until the
    driver spends minutes multiplying million-digit BigIntegers inside
    broadcast-size checks (measured: 224s for round 14 alone on a 10k
    chain).  The parquet stats reset (stats_reset_every) bounds it; this
    asserts the returned plan's estimate is sane after enough rounds to
    have exploded without the reset.  The rounds are also bounded
    above: pointer jumping converges on the 600-node chain in
    O(log n) rounds, where plain label propagation needs ~600 (PERF.md
    "Round 5: connected-components probe")."""
    import math

    from mrsboraetl_spark.operators.dedup import (
        _LAST_CC_ROUNDS,  # noqa: F401 - imported to assert it exists
        connected_components,
    )
    from mrsboraetl_spark.operators import dedup

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 600)], "doc_a long, doc_b long"
    )
    labels = connected_components(chain, max_iter=30)
    assert dedup._LAST_CC_ROUNDS >= 10  # enough rounds to compound 3^r
    assert dedup._LAST_CC_ROUNDS <= 2 * math.ceil(math.log2(600))
    size = int(
        labels._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    # Without the reset this is a ~3^rounds product (>10^40 by round 10).
    assert size < 10**15, f"stats estimate exploded: {size}"


def test_ivf_pq_recall(spark, sf_dir):
    """IVF-PQ at the defaults (trained cells + codebooks, exact
    refinement) must recover a solid fraction of the exact top-3 — the
    measured ceiling is the coarse stage's cell-recall (0.87 at
    nprobe=8/16 cells), and PQ+refine reaches it; assert a floor robust
    to k-means sampling variation.  With refinement the reported cosine
    must be the exact one."""
    import math

    from mrsboraetl_spark.operators.similarity import ivf_pq_topk

    emb = table(spark, sf_dir, "embeddings")
    q = _queries(spark, sf_dir)
    exact = {
        (r.query_id, r.neighbor)
        for r in brute_force_topk(emb, q, k=3).collect()
    }
    approx = ivf_pq_topk(emb, q, k=3).collect()
    approx_pairs = {(r.query_id, r.neighbor) for r in approx}
    recall = len(exact & approx_pairs) / len(exact)
    assert recall >= 0.6, f"recall@3 collapsed: {recall}"
    emb_rows = {r.vec_id: r.embedding for r in emb.collect()}
    qmap = {r.query_id: r.query_vec for r in q.collect()}
    for r in approx:
        a, b = qmap[r.query_id], emb_rows[r.neighbor]
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        assert abs(round(dot / (na * nb), 4) - r.cosine) <= 1e-4


def test_ivf_pq_codes_and_norefine_shape(spark, sf_dir):
    """Without refinement the operator emits pq_dist ascending per query
    with exactly k rows; the approximate distance is non-negative and
    bounded by 4 (max squared L2 between unit vectors is 4)."""
    from mrsboraetl_spark.operators.similarity import ivf_pq_topk

    emb = table(spark, sf_dir, "embeddings")
    q = _queries(spark, sf_dir)
    out = ivf_pq_topk(emb, q, k=3, refine=None).toPandas()
    assert set(out.columns) == {"query_id", "neighbor", "pq_dist", "rk"}
    assert (out.groupby("query_id")["rk"].count() == 3).all()
    assert ((out["pq_dist"] >= 0) & (out["pq_dist"] <= 4.0001)).all()
    for _, g in out.groupby("query_id"):
        assert list(g.sort_values("rk")["pq_dist"]) == sorted(g["pq_dist"])


def _pairs_set(df):
    return {(r["doc_a"], r["doc_b"]) for r in df.collect()}


def test_lsh_index_incremental_equals_batch(spark, sf_dir, tmp_path):
    """Ingesting the corpus in batches must produce, across all ingests,
    exactly the batch operator's pair set on the full corpus — the
    incremental index never re-hashes indexed docs yet misses nothing."""
    from mrsboraetl_spark.operators.dedup import minhash_lsh_pairs
    from mrsboraetl_spark.operators.lsh_index import LshBandIndex

    docs = table(spark, sf_dir, "documents")
    b1 = docs.filter(F.col("doc_id") % 3 != 0)
    b2 = docs.filter(F.col("doc_id") % 3 == 0)

    idx = LshBandIndex(str(tmp_path / "idx"))
    got = _pairs_set(idx.ingest(b1, "doc_id", "text"))
    got |= _pairs_set(idx.ingest(b2, "doc_id", "text"))
    want = _pairs_set(minhash_lsh_pairs(docs, "doc_id", "text"))
    assert got == want

    # capped path: equivalence on the final frequencies (both sides see
    # the full corpus's band counts once everything is ingested)
    idx2 = LshBandIndex(str(tmp_path / "idx2"))
    got2 = _pairs_set(idx2.ingest(docs, "doc_id", "text", max_band_freq=10))
    want2 = _pairs_set(
        minhash_lsh_pairs(docs, "doc_id", "text", max_band_freq=10)
    )
    assert got2 == want2


def test_lsh_index_param_mismatch_rejected(spark, sf_dir, tmp_path):
    from mrsboraetl_spark.operators.lsh_index import LshBandIndex

    docs = table(spark, sf_dir, "documents").limit(10)
    idx = LshBandIndex(str(tmp_path / "idx"), rows_per_band=2)
    idx.ingest(docs, "doc_id", "text")
    with pytest.raises(ValueError, match="built with"):
        LshBandIndex(str(tmp_path / "idx"), rows_per_band=4)


def test_lsh_index_second_ingest_probes_without_rehashing(spark, sf_dir, tmp_path):
    """The second ingest's pair set includes cross-batch pairs, and the
    accumulated band table holds every ingested doc exactly once per
    band (no re-append of indexed docs)."""
    from mrsboraetl_spark.operators.lsh_index import LshBandIndex

    docs = table(spark, sf_dir, "documents")
    b1 = docs.filter(F.col("doc_id") < 250)
    b2 = docs.filter(F.col("doc_id") >= 250)
    idx = LshBandIndex(str(tmp_path / "idx"))
    idx.ingest(b1, "doc_id", "text")
    p2 = idx.ingest(b2, "doc_id", "text")
    cross = {
        (a, b) for a, b in _pairs_set(p2) if (a < 250) != (b < 250)
    }
    assert cross, "self-similar corpus must yield cross-batch candidates"
    # every pair from ingest 2 involves a new doc
    assert all(a >= 250 or b >= 250 for a, b in _pairs_set(p2))
    bands = idx.bands(spark)
    n_bands_per_doc = 8 // 2  # num_hashes / rows_per_band
    assert bands.count() == docs.count() * n_bands_per_doc
    assert bands.groupBy("doc", "band").count().filter(
        F.col("count") > 1
    ).count() == 0


def test_quality_filter_covers_all_docs_and_is_monotone(spark, sf_dir):
    """Every doc gets a verdict; keep == no reasons; relaxing every
    threshold keeps a superset; null text fails too_short, not the job."""
    from mrsboraetl_spark.operators.curation import quality_filter

    docs = table(spark, sf_dir, "documents")
    out = quality_filter(docs, "doc_id", "text", langs=("en",)).toPandas()
    assert len(out) == docs.count()
    assert (out["keep"] == (out["reasons"].str.len() == 0)).all()
    kept = set(out[out["keep"]]["id"])
    relaxed = quality_filter(
        docs, "doc_id", "text",
        min_tokens=1, max_dup_token_frac=1.0, max_top_token_frac=1.0,
        max_top_bigram_frac=1.0,
    ).toPandas()
    kept_relaxed = set(relaxed[relaxed["keep"]]["id"])
    assert kept <= kept_relaxed
    null_doc = spark.createDataFrame([(1, None)], "doc_id long, text string")
    r = quality_filter(null_doc, "doc_id", "text").collect()[0]
    assert not r["keep"] and "too_short" in r["reasons"]


def test_curation_hash_null_id_matches_sql_semantics(spark):
    """The bucket hash is built with null-PROPAGATING concat so a NULL id
    behaves identically in Spark and the ANSI oracle spelling: NULL
    bucket -> every comparison false -> ELSE branch ('test') in
    split_assign, dropped by sample_by_source even at rate 1.0."""
    from mrsboraetl_spark.operators.curation import (
        sample_by_source,
        split_assign,
    )

    df = spark.createDataFrame(
        [(1, "a"), (None, "a"), (3, "b")], "id long, src string"
    )
    got = {r["id"]: r["split"] for r in split_assign(df, "id").collect()}
    assert got[None] == "test"
    kept = [
        r["id"]
        for r in sample_by_source(
            df, "id", "src", {"a": 1.0, "b": 1.0}
        ).collect()
    ]
    assert None not in kept and sorted(kept) == [1, 3]


def test_chunk_documents_reconstructs_text(spark, sf_dir):
    """Dropping each chunk's leading overlap (except chunk 0) and
    concatenating in chunk order must reproduce the normalized document
    exactly — i.e. chunks cover every token once with the declared
    overlap and nothing else."""
    from mrsboraetl_spark.operators.curation import chunk_documents

    docs = table(spark, sf_dir, "documents")
    chunk_tokens, overlap = 32, 4
    out = chunk_documents(docs, "doc_id", "text", chunk_tokens, overlap)
    pdf = out.toPandas().sort_values(["id", "chunk_idx"])
    rebuilt = {}
    for _, r in pdf.iterrows():
        toks = r["chunk_text"].split(" ")
        if r["chunk_idx"] > 0:
            toks = toks[overlap:]
        rebuilt.setdefault(r["id"], []).extend(toks)
    import re

    for rr in docs.select("doc_id", "text").collect():
        want = re.sub(r"\s+", " ", rr["text"]).strip().split(" ")
        assert rebuilt[rr["doc_id"]] == want, rr["doc_id"]
    # every chunk except the last per doc is exactly the budget
    last = pdf.groupby("id")["chunk_idx"].transform("max")
    full = pdf[pdf["chunk_idx"] != last]
    assert (full["n_chunk_tokens"] == chunk_tokens).all()


def test_dedup_cluster_keepers_covers_all_docs(spark, sf_dir):
    """Every doc gets exactly one cluster row; keepers are the cluster
    minima; docs outside the pair graph are their own singleton."""
    from mrsboraetl_spark.operators.dedup import (
        dedup_cluster_keepers,
        lsh_verified_pairs,
    )

    docs = table(spark, sf_dir, "documents")
    pairs = lsh_verified_pairs(docs, "doc_id", "text", 8, 5, 2, 0.2)
    out = dedup_cluster_keepers(docs, pairs, "doc_id").toPandas()
    assert len(out) == docs.count()
    assert out["id"].is_unique
    keepers = out[out["is_keeper"]]
    assert (keepers["id"] == keepers["cluster"]).all()
    mins = out.groupby("cluster")["id"].min()
    assert (mins.index == mins.values).all()


def test_band_cap_recall_tradeoff(spark, sf_dir):
    """max_band_freq: a cap above every band's frequency is a no-op; a
    tight cap yields a SUBSET (hot-band pairs dropped, nothing invented),
    on both the minhash and simhash candidate paths."""
    from mrsboraetl_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_near_pairs,
    )

    docs = table(spark, sf_dir, "documents")
    base = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    assert base, "probe needs candidates"
    uncapped_eq = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", max_band_freq=10**9
        ).collect()
    }
    assert uncapped_eq == base
    capped = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", max_band_freq=2
        ).collect()
    }
    assert capped <= base
    sim_base = {
        (r.doc_a, r.doc_b)
        for r in simhash_near_pairs(
            docs, "doc_id", "text", 32, 2, 1
        ).collect()
    }
    sim_capped = {
        (r.doc_a, r.doc_b)
        for r in simhash_near_pairs(
            docs, "doc_id", "text", 32, 2, 1, max_band_freq=3
        ).collect()
    }
    assert sim_capped <= sim_base


def test_simhash_band_width_must_divide(spark, sf_dir):
    """num_bits % n_bands != 0 leaves trailing bits in no band — the
    pigeonhole recall guarantee breaks silently, so it must raise."""
    import pytest as _pytest

    from mrsboraetl_spark.operators.dedup import simhash_near_pairs

    docs = table(spark, sf_dir, "documents")
    with _pytest.raises(ValueError, match="divisible"):
        simhash_near_pairs(docs, "doc_id", "text", 32, 3, 1)


def test_kernels_skip_null_text(spark):
    """NULL text must not crash the Arrow kernels; the null doc simply
    emits nothing (explode-of-null semantics)."""
    from mrsboraetl_spark.functions.text import winnowing_fingerprint_rows
    from mrsboraetl_spark.operators.dedup import (
        hashed_sig_docs,
        shingle_docs_exploded,
    )

    df = spark.createDataFrame(
        [(1, "hello world of text"), (2, None), (3, "more text here")],
        "doc_id long, text string",
    )
    sig_docs = {r.doc for r in hashed_sig_docs(df, "doc_id", "text").collect()}
    assert sig_docs == {1, 3}
    exp_docs = {
        r.doc for r in shingle_docs_exploded(df, "doc_id", "text").collect()
    }
    assert exp_docs == {1, 3}
    win_docs = {
        r.doc_id
        for r in winnowing_fingerprint_rows(df, "doc_id", "text").collect()
    }
    assert win_docs == {1, 3}


def test_exact_then_near_simhash_matches_direct(spark, sf_dir):
    """The generic exact-then-near wrapper with the simhash near path must
    produce exactly the pairs the direct operator finds on the exact-dup
    representatives, with correct copy counts attached."""
    from mrsboraetl_spark.operators.dedup import (
        exact_dedup,
        exact_then_near_simhash,
        simhash_near_pairs,
    )

    docs = table(spark, sf_dir, "documents")
    reps = exact_dedup(docs, "doc_id", "text")
    rep_rows = docs.join(
        reps.select(F.col("keeper").alias("doc_id")), "doc_id", "left_semi"
    )
    direct = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_near_pairs(
            rep_rows, "doc_id", "text", 32, 2, 1
        ).collect()
    }
    composed_rows = exact_then_near_simhash(
        docs, "doc_id", "text", 32, 2, 1
    ).collect()
    composed = {(r.doc_a, r.doc_b, r.hamming) for r in composed_rows}
    assert composed == direct
    copies = {r.keeper: r.n_copies for r in reps.collect()}
    for r in composed_rows:
        assert r.copies_a == copies[r.doc_a]
        assert r.copies_b == copies[r.doc_b]


def test_unigram_logprob_orders_rare_above_common(spark):
    """A document of corpus-rare tokens must score a higher mean
    surprisal than one of corpus-common tokens; scores are finite and
    n_tokens is exact."""
    from mrsboraetl_spark.operators.curation import unigram_logprob

    rows = [(i, "the cat sat on the mat") for i in range(10)]
    rows.append((100, "zyx qwv jkl pqr"))  # each token occurs once
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.id: r for r in unigram_logprob(df, "doc_id", "text").collect()}
    assert out[100].nll > out[0].nll
    assert out[0].n_tokens == 6 and out[100].n_tokens == 4
    common = out[0].nll
    assert all(out[i].nll == common for i in range(10))


def test_oversample_rates_and_determinism(spark):
    """rate 2.5 -> every doc emits 2 or 3 copies with the fraction
    deterministic in (id, salt); rate 0 drops the source entirely;
    copies are 1..n."""
    from mrsboraetl_spark.operators.curation import oversample_by_source

    rows = [(i, "s_hi") for i in range(200)] + [
        (1000 + i, "s_zero") for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id int, source string")
    out = oversample_by_source(
        df, "doc_id", "source", {"s_hi": 2.5, "s_zero": 0.0}
    )
    per_doc = {
        r.doc_id: r.n
        for r in out.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    assert all(per_doc[i] in (2, 3) for i in range(200))
    n_extra = sum(1 for i in range(200) if per_doc[i] == 3)
    assert 60 <= n_extra <= 140  # ~50% of 200, hash-fraction tolerance
    assert not any(d >= 1000 for d in per_doc)  # rate 0 drops
    copies = {(r.doc_id, r.copy) for r in out.collect()}
    for i in range(200):
        for c in range(1, per_doc[i] + 1):
            assert (i, c) in copies
    out2 = oversample_by_source(
        df.repartition(7), "doc_id", "source", {"s_hi": 2.5, "s_zero": 0.0}
    )
    assert {(r.doc_id, r.copy) for r in out2.collect()} == copies


def test_materialize_sequences_exact_budget_cut(spark):
    """Every materialized sequence except each lane's last carries
    exactly `budget` tokens, documents spanning a cut contribute the
    right fragments in order, and the concatenation of a lane's
    sequences equals the lane's packed document stream."""
    from mrsboraetl_spark.operators.curation import (
        materialize_sequences,
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"d{i}t{j}" for j in range(5 + i % 7)))
         for i in range(60)],
        "doc_id int, text string",
    )
    budget = 16
    packed = pack_sequences(docs, "doc_id", "text", budget=budget, n_streams=4)
    seqs = materialize_sequences(packed, docs, "doc_id", "text", budget)
    rows = seqs.collect()
    last_per_stream = {}
    for r in rows:
        last_per_stream[r.stream] = max(
            last_per_stream.get(r.stream, -1), r.seq_idx
        )
    for r in rows:
        n = len(r.seq_text.split(" "))
        assert n == r.seq_tokens
        if r.seq_idx < last_per_stream[r.stream]:
            assert n == budget, (r.stream, r.seq_idx, n)
        else:
            assert 1 <= n <= budget
    # lane reconstruction: concatenating a stream's sequences in order
    # yields each of its docs' tokens contiguously, in packing order
    texts = {r.doc_id: r.text for r in docs.collect()}
    by_stream = {}
    for r in sorted(rows, key=lambda r: (r.stream, r.seq_idx)):
        by_stream.setdefault(r.stream, []).append(r.seq_text)
    assignment = {
        (r.id): (r.stream, r.seq_idx, r.tok_offset)
        for r in packed.collect()
    }
    for doc_id, (stream, _, _) in assignment.items():
        lane = " ".join(by_stream[stream])
        assert texts[doc_id] in lane, (doc_id, stream)
    # totals conserved
    assert sum(r.seq_tokens for r in rows) == sum(
        len(t.split(" ")) for t in texts.values()
    )


def test_doc_features_agrees_with_contributors(spark):
    from mrsboraetl_spark.operators.curation import (
        doc_features,
        oov_fraction,
        repetition_metrics,
        unigram_logprob,
    )

    rows = [
        (1, "the cat sat on the mat and the cat sat again"),
        (2, "uno dos tres cuatro cinco seis siete ocho"),
        (3, "zz zz zz zz zz zz"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    feats = {r.id: r for r in doc_features(df, "doc_id", "text").collect()}
    assert set(feats) == {1, 2, 3}
    cols = set(doc_features(df, "doc_id", "text").columns)
    assert {
        "id", "n_chars", "n_tokens", "punct_ratio", "stop_ratio",
        "mean_word_len", "quality_score", "lang", "fingerprint",
        "dup_token_frac", "top_token_frac", "top_bigram_frac",
        "oov_frac", "nll",
    } <= cols
    rep = {r.id: r for r in repetition_metrics(df, "doc_id", "text").collect()}
    oov = {r.id: r for r in oov_fraction(df, "doc_id", "text").collect()}
    nll = {r.id: r for r in unigram_logprob(df, "doc_id", "text").collect()}
    for i in (1, 2, 3):
        assert feats[i].dup_token_frac == rep[i].dup_token_frac
        assert feats[i].oov_frac == oov[i].oov_frac
        assert feats[i].nll == nll[i].nll
    assert feats[3].dup_token_frac == rep[3].dup_token_frac > 0.8


def test_temperature_rates_flatten_distribution(spark):
    from mrsboraetl_spark.operators.curation import temperature_rates

    rows = (
        [(i, "big") for i in range(900)]
        + [(1000 + i, "small") for i in range(100)]
    )
    df = spark.createDataFrame(rows, "id int, source string")
    # alpha=1: proportional -> all rates 1.0 (no reweighting)
    r1 = temperature_rates(df, "source", alpha=1.0)
    assert r1 == {"big": 1.0, "small": 1.0}
    # alpha<1 flattens: the small source is upweighted relative to big,
    # so it holds the normalized peak rate of 1.0
    r = temperature_rates(df, "source", alpha=0.5)
    assert r["small"] == 1.0
    assert 0 < r["big"] < 1.0
    assert r["small"] / r["big"] == pytest.approx((900 / 100) ** 0.5)
    # realized token share under the rates matches p ∝ n^alpha
    share_small = (100 * r["small"]) / (100 * r["small"] + 900 * r["big"])
    p_small = 100**0.5 / (100**0.5 + 900**0.5)
    assert share_small == pytest.approx(p_small)


def test_sequence_boundaries_tile_and_attribute(spark):
    """boundaries: ordered (id, start, len) fragments tile each sequence
    exactly (start runs 0..seq_tokens with no gaps) and reattach every
    token to its source document."""
    from mrsboraetl_spark.operators.curation import (
        materialize_sequences,
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"d{i}t{j}" for j in range(5 + i % 7)))
         for i in range(40)],
        "doc_id int, text string",
    )
    budget = 16
    packed = pack_sequences(docs, "doc_id", "text", budget=budget, n_streams=3)
    for r in materialize_sequences(
        packed, docs, "doc_id", "text", budget
    ).collect():
        pos = 0
        toks = r.seq_text.split(" ")
        for b in r.boundaries:
            assert b.start == pos
            # every token in the fragment belongs to the boundary's doc
            for t in toks[b.start : b.start + b.len]:
                assert t.startswith(f"d{b.id}t"), (t, b)
            pos += b.len
        assert pos == r.seq_tokens == len(toks)


def test_max_doc_tokens_guard_truncates_monster_docs(spark):
    """max_doc_tokens (VERDICT r5 item 5): metrics for an over-long doc
    equal the metrics of its prefix, other docs unchanged, default off."""
    from mrsboraetl_spark.operators.curation import (
        repetition_metrics,
        unigram_logprob,
    )

    long_text = " ".join(
        "spam" if i % 2 == 0 else "ham" for i in range(1000)
    )
    prefix = " ".join(long_text.split(" ")[:100])
    df = spark.createDataFrame(
        [(1, long_text), (2, "a small normal document here")],
        "doc_id int, text string",
    )
    df_pref = spark.createDataFrame(
        [(1, prefix), (2, "a small normal document here")],
        "doc_id int, text string",
    )

    got = {
        r.id: r
        for r in repetition_metrics(
            df, "doc_id", "text", max_doc_tokens=100
        ).collect()
    }
    want = {
        r.id: r
        for r in repetition_metrics(df_pref, "doc_id", "text").collect()
    }
    assert got == want
    assert got[1].n_tokens == 100 and got[2].n_tokens == 5

    lp = {
        r.id: r
        for r in unigram_logprob(
            df, "doc_id", "text", max_doc_tokens=100
        ).collect()
    }
    lp_want = {
        r.id: r for r in unigram_logprob(df_pref, "doc_id", "text").collect()
    }
    assert lp == lp_want and lp[1].n_tokens == 100

    # Default (no cap) is byte-identical to before.
    full = {
        r.id: r.n_tokens
        for r in repetition_metrics(df, "doc_id", "text").collect()
    }
    assert full[1] == 1000


def test_stratified_sample_exact_quota_and_fallback(spark):
    """stratified_sample_exact: exactly min(n, |stratum|) rows per
    stratum, equal to the naive full-window selection, deterministic
    under repartitioning, and still exact when the prefilter is forced
    to under-deliver (slack < 1 exercises the fallback)."""
    from pyspark.sql.window import Window

    from mrsboraetl_spark.operators.curation import stratified_sample_exact

    rows = [(i, "big") for i in range(500)] + [(1000 + i, "tiny") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id int, source string")

    got = stratified_sample_exact(df, "source", "doc_id", 10)
    counts = {r.source: r.c for r in got.groupBy("source").agg(F.count("*").alias("c")).collect()}
    assert counts == {"big": 10, "tiny": 3}

    # Equal to the naive spelling (n smallest salted hashes per stratum).
    h = F.conv(F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":strat1"))), 1, 8), 16, 10).cast("bigint")
    w = Window.partitionBy("source").orderBy(h, "doc_id")
    want = {
        (r.doc_id, r.source)
        for r in df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 10).collect()
    }
    assert {(r.doc_id, r.source) for r in got.collect()} == want

    # Deterministic under repartitioning.
    got2 = stratified_sample_exact(df.repartition(13), "source", "doc_id", 10)
    assert {(r.doc_id, r.source) for r in got2.collect()} == want

    # Fallback path: slack too small to pass 10 rows -> full-stratum
    # fallback keeps the result exact.
    got3 = stratified_sample_exact(df, "source", "doc_id", 10, prefilter_slack=0.01)
    assert {(r.doc_id, r.source) for r in got3.collect()} == want


def test_stratified_sample_null_stratum_is_a_stratum(spark):
    """NULL strata must be sampled like any other partition (the window
    oracle treats NULL as its own group), not silently dropped by the
    null-propagating equality in the threshold chain (review finding
    r6) — including on the prefilter-fallback path."""
    from mrsboraetl_spark.operators.curation import stratified_sample_exact

    rows = [(i, "a") for i in range(50)] + [(100 + i, None) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id int, source string")
    got = stratified_sample_exact(df, "source", "doc_id", 5)
    counts = {
        r.source: r.c
        for r in got.groupBy("source").agg(F.count("*").alias("c")).collect()
    }
    assert counts == {"a": 5, None: 5}, counts
    # Fallback path with a NULL stratum forced short.
    got2 = stratified_sample_exact(
        df, "source", "doc_id", 5, prefilter_slack=0.01
    )
    counts2 = {
        r.source: r.c
        for r in got2.groupBy("source").agg(F.count("*").alias("c")).collect()
    }
    assert counts2 == {"a": 5, None: 5}, counts2


def test_cluster_keepers_by_priority_picks_best_not_min(spark):
    """Priority keeper: within a cluster the HIGHEST-priority doc wins
    even when it has the largest id (min-id would pick wrong); ties
    break on min id; singletons keep themselves."""
    from mrsboraetl_spark.operators.dedup import (
        dedup_cluster_keepers_by_priority,
    )

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 99), (7, 5)],
        "doc_id int, quality int",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a int, doc_b int"
    )
    out = {
        r.id: (r.cluster, r.keeper_id, r.is_keeper)
        for r in dedup_cluster_keepers_by_priority(
            docs, pairs, "doc_id", "quality"
        ).collect()
    }
    # Cluster {1,2,3}: priorities 10/99/99 -> keeper 2 (99, min id).
    assert out[1] == (1, 2, False)
    assert out[2] == (1, 2, True)
    assert out[3] == (1, 2, False)
    # Singleton keeps itself.
    assert out[7] == (7, 7, True)


def test_nearest_cells_kernel_matches_expr(spark):
    """r13 pin: the Arrow assignment kernel and the SQL expr spelling pick
    IDENTICAL cell ids — including exact distance ties (rows equidistant
    to several centers must break to the SMALLEST cell id under both),
    arbitrary center-id order, and n > 1 probe lists."""
    from mrsboraetl_spark.operators.similarity import (
        _nearest_cells_expr,
        nearest_cells_kernel,
    )

    # centers deliberately OUT of id order; c7 == c2 duplicated so every
    # vector ties exactly between ids 2 and 7 -> must pick 2 first.
    centers = [
        (7, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0]),
        (0, [0.0, 1.0, 0.0]),
        (5, [0.25, -3.5, 1e-7]),
    ]
    import random

    rng = random.Random(13)
    rows = [([rng.uniform(-2, 2) for _ in range(3)],) for _ in range(500)]
    rows += [([1.0, 0.0, 0.0],), ([0.0, 0.0, 0.0],), ([-0.0, 1.0, 0.0],)]
    df = spark.createDataFrame(rows, "v array<double>")

    for n in (1, 3):
        expr_out = [
            tuple(r["c"])
            for r in df.select(
                _nearest_cells_expr(centers, "v", n).alias("c")
            ).collect()
        ]
        kern_out = [
            tuple(r["_cells"])
            for r in nearest_cells_kernel(df, "v", centers, n).select(
                "_cells"
            ).collect()
        ]
        assert expr_out == kern_out, (n, expr_out[:5], kern_out[:5])
    # the duplicated-center tie must resolve to the smaller id
    tied = nearest_cells_kernel(
        spark.createDataFrame([([1.0, 0.0, 0.0],)], "v array<double>"),
        "v", centers, 2,
    ).collect()[0]["_cells"]
    assert list(tied) == [2, 7], tied


def test_pq_codes_kernel_matches_expr(spark):
    """r13 pin: the one-pass PQ encoding kernel (cell + m codes) equals
    the m+1 `_nearest_cells_expr` projections it replaced — including a
    duplicated codebook entry (exact tie -> smaller code id)."""
    from pyspark.sql import functions as F

    from mrsboraetl_spark.operators.similarity import (
        _nearest_cells_expr,
        pq_codes_kernel,
    )

    import random

    rng = random.Random(7)
    dim, m, K = 8, 2, 4
    sub = dim // m
    centers = [(3, [rng.uniform(-1, 1) for _ in range(dim)]),
               (0, [rng.uniform(-1, 1) for _ in range(dim)])]
    codebooks = []
    for s in range(m):
        cb = [[rng.uniform(-1, 1) for _ in range(sub)] for _ in range(K)]
        cb[2] = list(cb[0])  # exact tie: entries 0 and 2 identical
        codebooks.append(cb)
    rows = [([rng.uniform(-1, 1) for _ in range(dim)],) for _ in range(300)]
    # rows placed exactly ON the duplicated entry in subspace 0
    rows += [(codebooks[0][0] + [0.0] * sub,)]
    df = spark.createDataFrame(rows, "v array<double>")

    expr_out = df.select(
        _nearest_cells_expr(centers, "v", 1).getItem(0).alias("cell"),
        F.array(*[
            _nearest_cells_expr(
                list(enumerate(codebooks[s])), "v", 1,
                offset=s * sub, width=sub,
            ).getItem(0)
            for s in range(m)
        ]).alias("codes"),
    ).collect()
    kern_out = pq_codes_kernel(df, "v", centers, codebooks).select(
        "cell", "codes"
    ).collect()
    assert [(r["cell"], list(r["codes"])) for r in expr_out] == [
        (r["cell"], list(r["codes"])) for r in kern_out
    ]
    # the tied row must code to entry 0, not 2
    assert list(kern_out[-1]["codes"])[0] == 0


def test_bm25_single_pass_matches_multi_pass_spelling(spark, sf_dir):
    """The r13 single-corpus-pass bm25 (compact materialized (id, dl,
    matched-terms) table) must score identically to the original
    three-subtree spelling — same tf rows, same df_t, same corpus
    scalars, same doubles."""
    from mrsboraetl_spark.functions.text import tokens as _tokens
    from mrsboraetl_spark.operators.search import bm25_scores

    terms = ("window", "merge", "stream")
    docs = table(spark, sf_dir, "documents")

    # reference: the original multi-subtree spelling, inline
    toks = docs.select(F.col("doc_id"), _tokens(F.col("text")).alias("toks"))
    lengths = toks.select("doc_id", F.size("toks").alias("dl"))
    tf = (
        toks.select(
            "doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term")
        )
        .filter(F.col("term").isin(*terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.max("dl").alias("dl"))
    )
    corpus = lengths.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df_t"))
    consts = df_t.join(
        corpus.select(
            F.explode(F.array(*[F.lit(t) for t in terms])).alias("term"), "*"
        ),
        "term",
    )
    k1, b = 1.2, 0.75
    ref = (
        tf.join(F.broadcast(consts), "term")
        .withColumn(
            "idf",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
            ),
        )
        .withColumn(
            "part",
            F.col("idf") * F.col("tf") * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("doc_id")
        .agg(F.sum("part").alias("score"))
    )
    want = {(r["doc_id"], r["score"]) for r in ref.collect()}
    got = {
        (r["doc_id"], r["score"])
        for r in bm25_scores(docs, terms, "doc_id", "text", k1, b).collect()
    }
    assert got == want
    assert got, "probe needs non-empty scores"


def test_repetition_metrics_edge_rows(spark):
    """repetition_metrics on hand-computed edge rows: the empty string
    (one '' token), NULL text (no row), the 6-char ASCII whitespace
    class, and max_doc_tokens truncation.  Tuples are (id, n_tokens,
    n_distinct, dup_token_frac, top_token_frac, top_bigram_frac); the
    full corpus is pinned by the curation_repetition_metrics oracle."""
    from mrsboraetl_spark.operators.curation import repetition_metrics

    edge = spark.createDataFrame(
        [
            (1, "x"),
            (2, ""),
            (3, None),
            (4, "a a a b b"),
            (5, " a\tb\nc  d\x0be\ff "),
            (6, "t t t t t t"),
        ],
        "doc_id long, text string",
    )
    want = {
        None: [
            (1, 1, 1, 0.0, 1.0, 0.0),
            (2, 1, 1, 0.0, 1.0, 0.0),
            (4, 5, 2, 0.6, 0.6, 0.5),
            (5, 6, 6, 0.0, 0.166667, 0.2),
            (6, 6, 1, 0.833333, 1.0, 1.0),
        ],
        3: [
            (1, 1, 1, 0.0, 1.0, 0.0),
            (2, 1, 1, 0.0, 1.0, 0.0),
            (4, 3, 1, 0.666667, 1.0, 1.0),
            (5, 3, 3, 0.0, 0.333333, 0.5),
            (6, 3, 1, 0.666667, 1.0, 1.0),
        ],
    }
    for cap, rows in want.items():
        got = sorted(
            map(
                tuple,
                repetition_metrics(
                    edge, "doc_id", "text", max_doc_tokens=cap
                ).collect(),
            )
        )
        assert got == rows, f"cap={cap}"


def test_candidate_pairs_injoin_dedup_exactly_once(spark):
    """r14: with carry_keys band rows, candidate_pairs dedups pairs in
    the self-join condition (emit at the FIRST shared band only) instead
    of a post-join distinct.  Pins: (a) every pair appears exactly once
    even when docs share ALL bands (identical texts), (b) the pair SET
    equals the distinct spelling's, (c) the distinct's HashAggregate is
    gone from the plan."""
    import io
    from contextlib import redirect_stdout

    from mrsboraetl_spark.operators.dedup import (
        bands_from_sig,
        candidate_pairs,
        hashed_sig_docs,
    )

    # 7 groups of identical docs: in-group pairs share BOTH bands (the
    # worst case for duplicate emission); cross-group pairs share none.
    rows = [
        (i, f"the quick brown fox jumps over the lazy dog {i % 7}")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigged = hashed_sig_docs(df, "doc_id", "text", 5, 8).localCheckpoint()
    new = candidate_pairs(bands_from_sig(sigged, 8, 4, carry_keys=True), None)
    old = candidate_pairs(bands_from_sig(sigged, 8, 4), None)
    new_rows = [(r["doc_a"], r["doc_b"]) for r in new.collect()]
    assert len(new_rows) == len(set(new_rows)), "pair emitted twice"
    assert set(new_rows) == {
        (r["doc_a"], r["doc_b"]) for r in old.collect()
    }
    # every in-group pair is a candidate (identical docs share all
    # bands, so the exactly-once assertion above really was exercised
    # by multi-band matches); near-identical cross-group docs may band-
    # match too, hence >=.
    assert len(new_rows) >= sum(
        n * (n - 1) // 2
        for n in [len([i for i in range(40) if i % 7 == g]) for g in range(7)]
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        new.explain("formatted")
    plan = buf.getvalue()
    assert "HashAggregate" not in plan, plan


def test_connected_components_output_schema_and_inline_convergence(spark):
    """r14: the convergence check reads the (label, _old) pair carried
    through the round's own projection instead of re-joining new labels
    against old.  Pins that the helper column never leaks into the
    returned schema and that labels stay exact on a graph that needs
    BOTH propagation terms (a chain long enough to exercise pointer
    doubling plus a separate triangle)."""
    from mrsboraetl_spark.operators.dedup import connected_components

    edges = [(i, i + 1) for i in range(10, 19)] + [(1, 2), (2, 3), (1, 3)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out = connected_components(df, max_iter=20)
    assert out.columns == ["node", "label"]
    got = {r["node"]: r["label"] for r in out.collect()}
    assert got == {**{i: 10 for i in range(10, 20)}, 1: 1, 2: 1, 3: 1}


def test_fuzzy_join_injoin_dedup_exactly_once(spark):
    """r14: fuzzy_text_join's cross-table candidate join dedups in the
    join condition (first shared band) when no hot-band cap is set.
    Pins exactly-once emission with docs sharing ALL bands across the
    two tables, pair-set equality against the capped path run with a
    cap high enough to keep every band, and identical jaccard output."""
    from mrsboraetl_spark.operators.dedup import fuzzy_text_join

    rows = [
        (i, f"the quick brown fox jumps over the lazy dog {i % 5}")
        for i in range(20)
    ]
    left = spark.createDataFrame(rows, "lid long, text string")
    right = spark.createDataFrame(
        [(i + 100, t) for i, t in rows], "rid long, text string"
    )
    uncapped = fuzzy_text_join(
        left, right, "lid", "text", "rid", "text", threshold=0.2
    ).collect()
    pairs = [(r["id_a"], r["id_b"]) for r in uncapped]
    assert len(pairs) == len(set(pairs)), "pair emitted twice"
    # capped path (distinct spelling) with a no-op cap: same output set
    capped = fuzzy_text_join(
        left, right, "lid", "text", "rid", "text",
        threshold=0.2, max_band_freq=10_000,
    ).collect()
    assert {(r["id_a"], r["id_b"], r["jaccard"]) for r in uncapped} == {
        (r["id_a"], r["id_b"], r["jaccard"]) for r in capped
    }
    # identical texts across the tables guarantee all-bands-shared pairs
    assert {(i, i + 100) for i in range(20)} <= set(pairs)
