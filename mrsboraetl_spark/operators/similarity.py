"""Similarity search over embedding columns (array<float>).

Two paths:

* brute-force cosine top-k — the exactness baseline: broadcast the (small)
  query set, JVM-side dot products via zip_with/aggregate (no Python in the
  loop), window top-k.  O(n_queries * n_vectors) but embarrassingly
  parallel: at 100 TB the scan partitions by vector shard and the broadcast
  keeps the join shuffle-free.
* sign-bucket LSH — the scale path: bucket every vector by the sign bits of
  its leading dimensions (a coordinate-hyperplane SRP family), equi-join
  query buckets to vector buckets, rank within bucket.  Recall < 1 by
  design; bucket width trades recall for fan-out.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v
        )
    )


def cosine(a: Column, b: Column) -> Column:
    a = a.cast("array<double>")
    b = b.cast("array<double>")
    return dot(a, b) / (norm(a) * norm(b))


def sign_bucket(vec: Column, bits: int = 8) -> Column:
    """Coordinate-hyperplane LSH bucket: '1'/'0' per leading dim sign."""
    return F.array_join(
        F.transform(
            F.slice(vec, 1, bits),
            lambda v: F.when(v >= 0, "1").otherwise("0"),
        ),
        "",
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbours per query (self-matches excluded).

    ``queries`` must have columns (query_id, query_vec); it is broadcast.

    Norms are precomputed per ROW, not per pair (r11 — the trick
    cosine_pairs_above measured at ~3x on the n^2 path): the per-pair
    ``cosine()`` spelling re-evaluates each side's 64-step norm
    aggregate n_queries (resp. n_vectors) times.  The formula stays
    dot/(nq*nv) over the same cast arrays — the identical double
    operations in the identical order, so results (and the driver's
    4-dp oracle hash) are bit-for-bit unchanged.
    """
    qv = F.col("query_vec").cast("array<double>")
    vv = F.col(vec_col).cast("array<double>")
    qn = queries.select(
        "query_id", qv.alias("query_vec"), norm(qv).alias("_qn")
    )
    vn = vectors.select(
        F.col(id_col), vv.alias(vec_col), norm(vv).alias("_vn")
    )
    sim = F.round(
        dot(F.col("query_vec"), F.col(vec_col))
        / (F.col("_qn") * F.col("_vn")),
        4,
    )
    scored = (
        vn.join(F.broadcast(qn))
        .filter(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor"),
            sim.alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor", "cosine", "rk")
    )


def cosine_pairs_above(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine >= threshold (embedding near-dup detection).

    Brute force n^2/2 — correct baseline; LSH below is the scale path.
    Norms are precomputed per ROW, not per pair (the per-pair spelling
    recomputes each norm n-1 times: measured 49s -> 17s at 10k vectors);
    the formula stays dot/(na*nb), bit-identical to computing both norms
    inline, so the oracle's list_cosine_similarity still hash-matches.
    """
    sized = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        norm(F.col(vec_col).cast("array<double>")).alias("nrm"),
    )
    a = sized.select(
        F.col("id").alias("id_a"), F.col("vec").alias("vec_a"),
        F.col("nrm").alias("na"),
    )
    b = sized.select(
        F.col("id").alias("id_b"), F.col("vec").alias("vec_b"),
        F.col("nrm").alias("nb"),
    )
    sim = F.round(
        dot(F.col("vec_a"), F.col("vec_b")) / (F.col("na") * F.col("nb")), 4
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def cosine_pairs_lsh(
    vectors: DataFrame,
    threshold: float,
    bits: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale path for embedding near-dup: candidate pairs share a sign
    bucket in at least one of ``n_tables`` hash tables (table t uses
    dimensions [t*bits, (t+1)*bits)), verified by exact cosine.

    Replaces the n^2/2 cross join with n_tables equi-joins on bucket
    keys; recall < 1 by construction (a pair straddling every table's
    hyperplanes is missed) and rises with n_tables — the standard
    SRP-LSH recall/fan-out trade.  Output is a SUBSET of
    cosine_pairs_above(threshold) with identical cosine values, which is
    what the recall test asserts.
    """
    sized = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        norm(F.col(vec_col).cast("array<double>")).alias("nrm"),
    ).localCheckpoint()  # self-joined below; avoid double scan
    tables = []
    for t in range(n_tables):
        bucketed = sized.select(
            "id", "vec", "nrm",
            F.lit(t).alias("tbl"),
            F.array_join(
                F.transform(
                    F.slice(F.col("vec"), t * bits + 1, bits),
                    lambda v: F.when(v >= 0, "1").otherwise("0"),
                ),
                "",
            ).alias("bucket"),
        )
        tables.append(bucketed)
    allb = tables[0]
    for t in tables[1:]:
        allb = allb.unionByName(t)
    a, b = allb.alias("a"), allb.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.vec").alias("vec_a"), F.col("b.vec").alias("vec_b"),
            F.col("a.nrm").alias("na"), F.col("b.nrm").alias("nb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sim = F.round(
        dot(F.col("vec_a"), F.col("vec_b")) / (F.col("na") * F.col("nb")), 4
    )
    return cand.select("id_a", "id_b", sim.alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


def _nearest_cells_expr(
    centers: list[tuple[int, list[float]]],
    col_name: str,
    n: int,
    offset: int = 0,
    width: int | None = None,
) -> Column:
    """Ids of the n nearest centers (squared L2; ties break on the smaller
    id) for ``col_name`` — or for its subvector [offset+1, offset+width]
    when ``width`` is given — as array<int>.

    Built as ONE SQL string parsed JVM-side: composing this from nested
    pyspark.sql.functions calls costs n_centers * dim py4j round-trips
    for the literals alone (~1.4s of driver time per invocation at
    16x64 — measured); one expr() parse is ~nothing.
    """
    src = f"cast(`{col_name}` as array<double>)"
    if width is not None:
        src = f"slice({src}, {offset + 1}, {width})"
    structs = ", ".join(
        "named_struct('d', aggregate(zip_with("
        f"{src}, "
        "array({vals}), (x, y) -> (x - y) * (x - y)), "
        "0.0D, (acc, v) -> acc + v), 'cell', {cell})".format(
            vals=", ".join(f"{x!r}D" for x in c), cell=cell
        )
        for cell, c in centers
    )
    return F.expr(
        f"transform(slice(array_sort(array({structs})), 1, {n}),"
        " s -> s.cell)"
    )


def nearest_cells_kernel(
    df: DataFrame,
    vec_col: str,
    centers: list[tuple[int, list[float]]],
    n: int = 1,
    out_col: str = "_cells",
) -> DataFrame:
    """Pass ``df`` through an Arrow batch kernel that appends ``out_col``:
    array<int> of the ``n`` nearest center ids (squared L2; ties break on
    the smaller id) for ``vec_col`` — the vectorized twin of
    :func:`_nearest_cells_expr`.

    Bit-identical selection (pinned kernel-vs-expr in
    tests/test_llmdata.py): distances accumulate one dimension at a
    time in ascending dim order with float64 ops — the same sequential
    ``acc + (x-y)^2`` fold the SQL ``aggregate`` performs element by
    element — and ties sort by (distance, cell id) exactly like
    ``array_sort`` over (d, cell) structs.  ``vec_col`` must be non-null
    (ivf callers scan a non-null embedding column; the SQL spelling's
    behavior on NULL — an arbitrary cell with NULL distances — carries no
    information anyway).

    Why (r13, guide §4.1/§4.2 + §7.3, measured at 16 centers x 64 dims):
    the expr spelling bills twice per invocation — the driver
    analyzes/optimizes an n_centers x dim literal tree (~0.45s
    single-threaded; 84 KB formatted plan for ann_ivf_topk), and the
    executors evaluate the zip_with/aggregate lambdas INTERPRETED per
    element (n_centers * dim steps per row).  The kernel is one small
    MapInPandas node (plan shrinks to ~4 KB) and a numpy loop that is
    vectorized across the batch.
    """
    import numpy as np
    import pandas as pd  # noqa: F401 - mapInPandas contract

    ordered = sorted((int(c), list(map(float, v))) for c, v in centers)
    ids = np.array([c for c, _ in ordered], dtype=np.int64)
    cmat = np.array([v for _, v in ordered], dtype=np.float64)  # (K, D)

    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", `{out_col}` array<int>"

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                pdf[out_col] = []
                yield pdf
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)  # (B, D)
            acc = np.zeros((v.shape[0], cmat.shape[0]), dtype=np.float64)
            # dim-at-a-time accumulation == the SQL fold's float64 op
            # order, so every distance is bit-identical to the expr path
            for d in range(cmat.shape[1]):
                diff = v[:, d, None] - cmat[None, :, d]
                acc += diff * diff
            order = np.argsort(acc, axis=1, kind="stable")[:, :n]
            pdf[out_col] = [row.tolist() for row in ids[order]]
            yield pdf

    return df.mapInPandas(batches, out_schema)


def pq_codes_kernel(
    df: DataFrame,
    vec_col: str,
    centers: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """Append ``cell`` (int, nearest coarse center) AND ``codes``
    (array<int>, per-subspace nearest codebook entry) in ONE Arrow pass —
    the index-side encoding of IVF-PQ (the kernel twin of the m+1
    `_nearest_cells_expr` projections it replaces).

    Bit-identical ids: each subspace's distances accumulate over its own
    dims in ascending order with float64 ops (matching the SQL fold over
    ``slice(vec, s*sub+1, sub)``), and ties break to the smaller
    center/entry id exactly like ``array_sort`` over (d, id) structs
    (codebook entries are id-ordered by construction; centers are sorted
    here).  ``vec_col`` must be non-null, as in nearest_cells_kernel.
    """
    import numpy as np
    import pandas as pd  # noqa: F401 - mapInPandas contract

    ordered = sorted((int(c), list(map(float, v))) for c, v in centers)
    cid = np.array([c for c, _ in ordered], dtype=np.int64)
    cmat = np.array([v for _, v in ordered], dtype=np.float64)
    books = [
        np.array([list(map(float, e)) for e in cb], dtype=np.float64)
        for cb in codebooks
    ]
    sub = books[0].shape[1]

    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", `cell` int, `codes` array<int>"

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                pdf["cell"] = []
                pdf["codes"] = []
                yield pdf
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            acc = np.zeros((v.shape[0], cmat.shape[0]), dtype=np.float64)
            for d in range(cmat.shape[1]):
                diff = v[:, d, None] - cmat[None, :, d]
                acc += diff * diff
            pdf["cell"] = cid[np.argmin(acc, axis=1)]
            codes = np.empty((v.shape[0], len(books)), dtype=np.int64)
            for s, cb in enumerate(books):
                accs = np.zeros((v.shape[0], cb.shape[0]), dtype=np.float64)
                for d in range(sub):
                    diff = v[:, s * sub + d, None] - cb[None, :, d]
                    accs += diff * diff
                codes[:, s] = np.argmin(accs, axis=1)
            pdf["codes"] = [row.tolist() for row in codes]
            yield pdf

    return df.mapInPandas(batches, out_schema)


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_centroids: int = 16,
    nprobe: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
    sample_fraction: float = 0.25,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a coarse quantizer partitions
    the corpus into cells; each query probes its ``nprobe`` nearest cells
    and ranks candidates by exact cosine.

    Quantizer options:

    * ``centroids`` given — a list of (cell_id, vector) seed centroids (the
      deterministic variant; a fixed-rule seed selection is SQL-expressible,
      so the registered query is hash-checked against a DuckDB oracle).
    * ``centroids`` None — k-means fit on a ``sample_fraction`` sample,
      never the full corpus (the 100 TB path: the only full-corpus work is
      the single broadcast-centroid assignment pass; the centroid-count
      clamp derives from the sample count, no full count() action).

    Scale shape: assignment is one broadcast-centroid pass over the corpus;
    the probe join is an equi-join on cell id against a corpus
    hash-partitioned (or bucketed) by cell — each query touches nprobe
    cells, not the whole scan.  Recall is tunable via nprobe.
    """
    if centroids is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        sample = vectors.sample(fraction=sample_fraction, seed=seed)
        # Keep cells populated: more centroids than ~n/8 vectors leaves so
        # few candidates per probe that recall collapses on small corpora.
        n_sample = sample.count()
        n_centroids = max(2, min(n_centroids, max(2, n_sample // 8)))
        train = sample.select(
            array_to_vector(F.col(vec_col).cast("array<double>")).alias(
                "features"
            )
        )
        model = KMeans(k=n_centroids, seed=seed, maxIter=10).fit(train)
        centers = [
            (i, [float(x) for x in c])
            for i, c in enumerate(model.clusterCenters())
        ]
    else:
        centers = [(int(cell), [float(x) for x in c]) for cell, c in centroids]

    # per-ROW norms (r11, same bit-identical trick as brute_force_topk):
    # the candidate join re-evaluated both sides' norm aggregates per
    # PAIR; the probe side also gets column-pruned before broadcast
    qv = F.col("query_vec").cast("array<double>")
    vv = F.col(vec_col).cast("array<double>")
    # r13: cell assignment through the Arrow kernel (see
    # nearest_cells_kernel) — bit-identical ids, one small plan node
    # instead of the n_centers x dim literal tree on both sides.
    # The norm stays a JVM fold over the SAME casted array (the
    # kernel passes float64 through Arrow losslessly), so every
    # downstream value is unchanged.
    cells = nearest_cells_kernel(
        vectors.select(F.col(id_col), vv.alias(vec_col)),
        vec_col, centers, 1,
    ).select(
        F.col(id_col),
        F.col(vec_col),
        norm(F.col(vec_col)).alias("_vn"),
        F.col("_cells").getItem(0).alias("cell"),
    )
    probes = nearest_cells_kernel(
        queries.select("query_id", qv.alias("query_vec")),
        "query_vec", centers, nprobe,
    ).select(
        "query_id",
        F.col("query_vec"),
        norm(F.col("query_vec")).alias("_qn"),
        F.explode("_cells").alias("cell"),
    )
    sim = F.round(
        dot(F.col("query_vec"), F.col(vec_col))
        / (F.col("_qn") * F.col("_vn")),
        4,
    )
    scored = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col(id_col))
        .select("query_id", F.col(id_col).alias("neighbor"), sim.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor", "cosine", "rk")
    )


def unit(a: Column) -> Column:
    """L2-normalized copy of an embedding: on unit vectors squared L2 is
    2 - 2*cosine, so an L2-ranked search equals a cosine-ranked one."""
    a = a.cast("array<double>")
    n = norm(a)
    return F.transform(a, lambda x: x / n)


def pq_seed_codebooks(
    vectors: DataFrame,
    m: int = 4,
    codebook_size: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks: the first
    ``codebook_size`` corpus rows (by id, L2-normalized), sliced into
    ``m`` subvectors — the same fixed-seed-rows rule as the IVF
    registered quantizer, so PQ codes are reproducible across runs.
    Bounded collect of codebook_size rows (the only driver-side data).
    Cheap but crude: arbitrary rows are poor subspace representatives
    (measured recall ablation in ivf_pq_topk's docstring); prefer
    pq_kmeans_codebooks except where bit-level run-to-run determinism
    matters more than recall.  Every downstream plan is identical —
    codebooks are literals either way.  Returns [m][codebook_size][dim/m]."""
    rows = (
        vectors.orderBy(id_col)
        .limit(codebook_size)
        .select(unit(F.col(vec_col)).alias("v"))
        .collect()
    )
    vecs = [[float(x) for x in r["v"]] for r in rows]
    dim = len(vecs[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return [[v[s * sub : (s + 1) * sub] for v in vecs] for s in range(m)]


def pq_kmeans_codebooks(
    vectors: DataFrame,
    m: int = 4,
    codebook_size: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float = 0.5,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Trained product-quantization codebooks: per-subspace k-means on a
    normalized SAMPLE (never the full corpus — the 100 TB path), the
    standard PQ training.  ``m`` independent fits of dim/m-dimensional
    data; deterministic given ``seed``.  Returns [m][<=codebook_size][dim/m]."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    sample = (
        vectors.sample(fraction=sample_fraction, seed=seed)
        .select(unit(F.col(vec_col)).alias("v"))
        .localCheckpoint()
    )
    dim = len(sample.first()["v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    n_sample = sample.count()
    k = max(2, min(codebook_size, n_sample))
    books = []
    for s in range(m):
        train = sample.select(
            array_to_vector(
                F.slice("v", s * sub + 1, sub).cast("array<double>")
            ).alias("features")
        )
        model = KMeans(k=k, seed=seed + s, maxIter=10).fit(train)
        books.append(
            [[float(x) for x in c] for c in model.clusterCenters()]
        )
    return books


def ivf_pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_centroids: int = 16,
    nprobe: int = 8,
    m: int = 16,
    codebook_size: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | str = "kmeans",
    refine: int | None = 8,
    train_cells: bool = True,
) -> DataFrame:
    """IVF-PQ approximate top-k: coarse cells prune the corpus, product-
    quantization codes rank the candidates — the memory-compression
    architecture for embedding search at 100 TB.

    Index side (one pass, no shuffle): every vector is L2-normalized,
    assigned to its nearest coarse cell, and encoded as ``m`` small
    codes (nearest codebook entry per subvector) — ``m`` bytes standing
    in for dim*4; at scale the (cell, codes) table is what lives hot
    while raw vectors stay cold on storage.  Query side: each query
    probes its ``nprobe`` nearest cells (equi-join on cell — the same
    plan shape as ivf_topk, never a scan) and ranks candidates by
    ASYMMETRIC distance: the query precomputes, per subspace, its exact
    distance to each codebook entry (an array of ``codebook_size``
    doubles riding on the broadcast query row), and a candidate's score
    is ``m`` array lookups + adds — no vector arithmetic per candidate
    at all.  On unit vectors the summed squared-L2 ranks identically to
    cosine up to quantization error; ``pq_dist`` is that approximate
    distance (recall floor pytest-pinned against brute force, same
    protocol as the k-means IVF variant).

    ``codebooks``: "kmeans" (default — trained per subspace on a sample,
    the standard PQ), "seed" (deterministic first-rows, crude), or a
    precomputed [m][K][dim/m] list (train once, reuse across query
    batches — the production shape).  ``refine``: re-rank the top
    ``k*refine`` PQ candidates by EXACT cosine (one equi-join back to
    the raw vectors for just those ids) — the standard IVF-PQ+refine
    tail that recovers quantization-error losses while still reading
    only ~k*refine raw vectors per query instead of every candidate.

    Measured recall@3 on the 500x64 corpus (brute-force ground truth;
    see test_ivf_pq_recall): the coarse stage's CEILING — the fraction
    of true neighbors in any probed cell — is 0.67 at nprobe=4 and 0.87
    at nprobe=8 with 16 trained cells; at the defaults (m=16, K=32,
    refine=8, nprobe=8) the full pipeline hits that 0.87 ceiling, i.e.
    PQ ranking + exact refinement recover everything the cells admit.
    Ablations, each measured: seed codebooks + seed cells + no refine
    0.20; trained codebooks alone 0.33 (PQ top-k is noisy); + refine
    0.60; + trained cells and wider codebooks 0.87.  Compression at the
    defaults: 16 one-byte codes stand in for 64 floats (16x); scale
    recall via nprobe against the cell count, exactly as in ivf_topk.

    Coarse centroids are sample-k-means on the normalized vectors by
    default (``train_cells=False`` falls back to the deterministic
    seed-rows rule, same trade as the codebooks).
    """
    if codebooks == "kmeans":
        codebooks = pq_kmeans_codebooks(
            vectors, m, codebook_size, id_col, vec_col
        )
    elif codebooks == "seed":
        codebooks = pq_seed_codebooks(
            vectors, m, codebook_size, id_col, vec_col
        )
    sub = len(codebooks[0][0])
    if train_cells:
        # Coarse cells from sample k-means on the NORMALIZED vectors —
        # seed-row cells are unbalanced enough to dominate the recall
        # loss (measured: 0.60 -> 0.87 at identical PQ settings).
        coarse = pq_kmeans_codebooks(
            vectors, 1, n_centroids, id_col, vec_col
        )[0]
        centers = [(i, c) for i, c in enumerate(coarse)]
    else:
        centers_rows = (
            vectors.orderBy(id_col)
            .limit(n_centroids)
            .select(unit(F.col(vec_col)).alias("v"))
            .collect()
        )
        centers = [
            (i, [float(x) for x in r["v"]])
            for i, r in enumerate(centers_rows)
        ]

    nvec = vectors.select(
        F.col(id_col), unit(F.col(vec_col)).alias("_nv")
    )
    # r13: the index-side pass (coarse cell + all m subspace codes) runs
    # in ONE Arrow kernel instead of m+1 literal expression trees — the
    # same planning-size + interpreted-lambda motivation as ivf_topk's
    # nearest_cells_kernel, and the full-corpus pass is exactly where it
    # bills at scale.  Ids bit-identical (same sequential float64 fold
    # per subspace, ties to the smaller id; pinned kernel-vs-expr in
    # tests/test_llmdata.py).
    coded = pq_codes_kernel(nvec, "_nv", centers, codebooks).select(
        F.col(id_col), "cell", "codes"
    )

    nq = queries.select(
        "query_id", unit(F.col("query_vec")).alias("_nq")
    )
    # Per-subspace asymmetric distance tables: exact squared L2 from the
    # query subvector to EVERY codebook entry, as array<double> literals
    # on the broadcast row.
    def dt_expr(s: int) -> Column:
        entries = ", ".join(
            "aggregate(zip_with(slice(cast(`_nq` as array<double>), "
            f"{s * sub + 1}, {sub}), "
            "array({vals}), (x, y) -> (x - y) * (x - y)), "
            "0.0D, (acc, v) -> acc + v)".format(
                vals=", ".join(f"{x!r}D" for x in e)
            )
            for e in codebooks[s]
        )
        return F.expr(f"array({entries})")

    probes = nq.select(
        "query_id",
        F.explode(_nearest_cells_expr(centers, "_nq", nprobe)).alias("cell"),
        *[dt_expr(s).alias(f"_dt{s}") for s in range(m)],
    )

    pq_dist = F.round(
        sum(
            F.element_at(F.col(f"_dt{s}"), F.col("codes").getItem(s) + 1)
            for s in range(m)
        ),
        4,
    )
    scored = (
        coded.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor"),
            pq_dist.alias("pq_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("pq_dist").asc(), F.col("neighbor")
    )
    if refine is None:
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("query_id", "neighbor", "pq_dist", "rk")
        )
    shortlist = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k * refine)
        .select("query_id", "neighbor", "pq_dist")
    )
    # Exact re-rank of the shortlist: equi-joins on neighbor/query ids
    # touch only k*refine raw vectors per query.
    rescored = (
        shortlist.join(
            vectors.select(
                F.col(id_col).alias("neighbor"), F.col(vec_col).alias("_v")
            ),
            "neighbor",
        )
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "neighbor",
            F.round(cosine(F.col("query_vec"), F.col("_v")), 4).alias(
                "cosine"
            ),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor")
    )
    return (
        rescored.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor", "cosine", "rk")
    )


def lsh_bucketed_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share the query's sign bucket.

    The bucket equi-join replaces the cross join — at scale the vector side
    is hash-partitioned by bucket, so each query probes one partition.
    """
    # per-ROW norms (r11): see brute_force_topk — bit-identical values,
    # each side's norm aggregate evaluated once per row, not per pair.
    # sign_bucket reads the raw column BEFORE the double cast (identical
    # signs; the cast commutes with >= 0).
    qv = F.col("query_vec").cast("array<double>")
    vv = F.col(vec_col).cast("array<double>")
    bucketed = vectors.select(
        F.col(id_col),
        vv.alias(vec_col),
        norm(vv).alias("_vn"),
        sign_bucket(F.col(vec_col), bits).alias("bucket"),
    )
    qb = queries.select(
        "query_id",
        qv.alias("query_vec"),
        norm(qv).alias("_qn"),
        sign_bucket(F.col("query_vec"), bits).alias("bucket"),
    )
    sim = F.round(
        dot(F.col("query_vec"), F.col(vec_col))
        / (F.col("_qn") * F.col("_vn")),
        4,
    )
    scored = (
        bucketed.join(F.broadcast(qb), "bucket")
        .filter(F.col("query_id") != F.col(id_col))
        .select("query_id", F.col(id_col).alias("neighbor"), sim.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor", "cosine", "rk")
    )


def ivf_cell_join(
    left: DataFrame,
    right: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int = 2,
    threshold: float = 0.8,
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_freq: int | None = None,
) -> DataFrame:
    """(id_a, id_b, cosine): all cross-corpus pairs with cosine >=
    threshold found through the IVF coarse quantizer — the SET-TO-SET
    similarity join (cross-dataset embedding dedup, retrieval pairing,
    hard-negative mining), where neither side is small enough to
    broadcast as queries.

    Shape: the right side assigns to its single nearest cell; the left
    side explodes to its ``nprobe`` nearest cells; they meet on a cell
    equi-join — shuffle keyed by cell id on both sides, never a
    cartesian.  Because the right side holds exactly ONE cell per
    vector, each (left, right) pair can meet at most once: no distinct
    pass is needed.  Recall is governed by nprobe exactly as in
    ``ivf_topk``; nprobe = n_centroids degrades gracefully to the exact
    cross join of every same-space pair (the pytest equality bound).
    At scale, pre-assign the bigger side once (IvfIndex in
    operators/ann_index.py persists exactly this table) and bucket the
    stored layout by cell so the join co-locates.

    ``max_cell_freq`` caps hot cells by the COMBINED occupancy across
    both sides (counting the left's nprobe replicas), mirroring
    fuzzy_text_join's band cap: an unbalanced coarse quantizer — e.g.
    seed-row centroids over a corpus with a dense mode, or many
    zero/near-identical vectors — can put a large fraction of BOTH
    corpora in one cell, whose join cost is |left cell| x |right cell|
    (the quadratic the cell join exists to avoid).  Cells past the cap
    are dropped entirely (bounded worst partition = cap^2 forever, at a
    recall cost on dropped cells); the right fix for a skewed quantizer
    is retraining centroids on a corpus sample — ``cell_occupancy``
    is the probe that tells you."""
    centers = [(int(c), [float(x) for x in v]) for c, v in centroids]
    # r13: both sides' cell assignment through the Arrow kernel — the
    # full-corpus pass on each side was the expr spelling's interpreted
    # n_centers x dim per-row loop (see nearest_cells_kernel; ids
    # bit-identical, pinned kernel-vs-expr in tests/test_llmdata.py).
    la = nearest_cells_kernel(
        left.select(
            F.col(left_id).alias("id_a"),
            F.col(vec_col).cast("array<double>").alias("vec_a"),
        ),
        "vec_a", centers, nprobe,
    ).select(
        "id_a",
        "vec_a",
        norm(F.col("vec_a")).alias("na"),
        F.explode("_cells").alias("cell"),
    )
    rb = nearest_cells_kernel(
        right.select(
            F.col(right_id).alias("id_b"),
            F.col(vec_col).cast("array<double>").alias("vec_b"),
        ),
        "vec_b", centers, 1,
    ).select(
        "id_b",
        "vec_b",
        norm(F.col("vec_b")).alias("nb"),
        F.col("_cells").getItem(0).alias("cell"),
    )
    if max_cell_freq is not None:
        keep = (
            la.select("cell")
            .unionAll(rb.select("cell"))
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("f"))
            .filter(F.col("f") <= max_cell_freq)
            .select("cell")
        )
        la = la.join(F.broadcast(keep), "cell")
        rb = rb.join(F.broadcast(keep), "cell")
    # per-ROW norms (r11): bit-identical to the per-pair cosine()
    sim = F.round(
        dot(F.col("vec_a"), F.col("vec_b")) / (F.col("na") * F.col("nb")),
        4,
    )
    return (
        la.join(rb, "cell")
        .select("id_a", "id_b", sim.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def cell_occupancy(
    vectors: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """(cell, n) — the coarse quantizer's occupancy histogram over
    ``vectors``, the accounting behind ``max_cell_freq``: a cell
    carrying a large fraction of the corpus means the quantizer is
    unbalanced and every cell-keyed join has a quadratic hot partition.
    Bounded output (one row per centroid); run it before choosing
    nprobe/cap or deciding to retrain."""
    centers = [(int(c), [float(x) for x in v]) for c, v in centroids]
    return (
        vectors.select(
            _nearest_cells_expr(centers, vec_col, 1)
            .getItem(0)
            .alias("cell")
        )
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
