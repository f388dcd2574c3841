"""Persistent incremental IVF index (operators/ann_index.py): exact
batch-split equivalence under pinned centroids, topk parity with the
batch operator, centroid pinning, and cell-clustered compaction."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mrsboraetl_spark.operators.ann_index import IvfIndex
from mrsboraetl_spark.queries import table
from mrsboraetl_spark.sources import snapshot


def _centroids(spark, sf_dir, n=16):
    emb = table(spark, sf_dir, "embeddings")
    seeds = (
        emb.filter(F.col("vec_id") < n)
        .select("vec_id", "embedding")
        .collect()
    )
    return [(r.vec_id, list(r.embedding)) for r in seeds]


def _queries(spark, sf_dir, n=3):
    emb = table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )


def test_batch_split_assignment_is_exact(spark, sf_dir, tmp_path):
    emb = table(spark, sf_dir, "embeddings")
    cents = _centroids(spark, sf_dir)
    idx = IvfIndex(str(tmp_path / "ivf"), cents)
    for part in range(3):
        idx.ingest(emb.filter(F.col("vec_id") % 3 == part))
    got = {
        r.vec_id: r.cell for r in idx.cells(spark).collect()
    }
    want = {
        r.vec_id: r.cell for r in idx.assign_cells(emb).collect()
    }
    assert got == want
    assert len(got) == emb.count()


def test_topk_matches_batch_ivf_on_same_centroids(spark, sf_dir, tmp_path):
    from mrsboraetl_spark.operators.similarity import ivf_topk

    emb = table(spark, sf_dir, "embeddings")
    cents = _centroids(spark, sf_dir)
    idx = IvfIndex(str(tmp_path / "ivf"), cents)
    for part in range(3):
        idx.ingest(emb.filter(F.col("vec_id") % 3 == part))
    q = _queries(spark, sf_dir)
    got = {
        (r.query_id, r.rk): (r.neighbor, r.cosine)
        for r in idx.topk(q, k=3, nprobe=4).collect()
    }
    want = {
        (r.query_id, r.rk): (r.neighbor, r.cosine)
        for r in ivf_topk(
            emb, q, k=3, nprobe=4, centroids=cents
        ).collect()
    }
    assert got == want and got


def test_centroids_are_pinned(spark, sf_dir, tmp_path):
    cents = _centroids(spark, sf_dir)
    idx = IvfIndex(str(tmp_path / "ivf"), cents)
    idx.ingest(table(spark, sf_dir, "embeddings").limit(10))
    # reopening without centroids loads the pinned set
    again = IvfIndex(str(tmp_path / "ivf"))
    assert again.centroids == idx.centroids
    # a different quantizer is refused
    other = [(c, [v + 1.0 for v in vec]) for c, vec in cents]
    with pytest.raises(ValueError, match="pinned centroids"):
        IvfIndex(str(tmp_path / "ivf"), other)


def test_compact_preserves_results_and_clusters_cells(
    spark, sf_dir, tmp_path
):
    emb = table(spark, sf_dir, "embeddings")
    cents = _centroids(spark, sf_dir)
    idx = IvfIndex(str(tmp_path / "ivf"), cents)
    for part in range(4):
        idx.ingest(emb.filter(F.col("vec_id") % 4 == part))
    q = _queries(spark, sf_dir)
    before = {
        (r.query_id, r.rk, r.neighbor)
        for r in idx.topk(q, k=3, nprobe=4).collect()
    }
    n_files_before = sum(
        f.endswith(".parquet") for f in snapshot.files(idx.cells_path)
    )
    idx.compact(spark, n_files=2)
    after = {
        (r.query_id, r.rk, r.neighbor)
        for r in idx.topk(q, k=3, nprobe=4).collect()
    }
    files = [
        f for f in snapshot.files(idx.cells_path) if f.endswith(".parquet")
    ]
    assert after == before
    assert len(files) < n_files_before
    assert not os.path.exists(idx.cells_path + ".old")
    # cell-clustered: no cell spans two files
    cell_sets = [
        {
            r.cell
            for r in spark.read.parquet(f).collect()
        }
        for f in files
    ]
    for i in range(len(cell_sets)):
        for j in range(i + 1, len(cell_sets)):
            assert not (cell_sets[i] & cell_sets[j])


def test_streaming_ingest_equals_batch(spark, sf_dir, tmp_path):
    """Vectors arriving as a file stream drain into the index; the
    resulting cell table and top-k equal one-shot ingestion exactly
    (pinned centroids make assignment order-independent)."""
    from mrsboraetl_spark.streaming.ann import streaming_ingest_vectors
    from mrsboraetl_spark.streaming.dedup import stream_documents

    emb = table(spark, sf_dir, "embeddings")
    src = str(tmp_path / "vec_stream")
    emb.repartition(3).write.parquet(src)

    cents = _centroids(spark, sf_dir)
    idx = IvfIndex(str(tmp_path / "ivf_s"), cents)
    q = streaming_ingest_vectors(
        stream_documents(spark, src), idx, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    one_shot = IvfIndex(str(tmp_path / "ivf_b"), cents)
    one_shot.ingest(emb)
    got = {(r.vec_id, r.cell) for r in idx.cells(spark).collect()}
    want = {(r.vec_id, r.cell) for r in one_shot.cells(spark).collect()}
    assert got == want
    qs = _queries(spark, sf_dir)
    assert {
        tuple(r) for r in idx.topk(qs, k=3, nprobe=4).collect()
    } == {tuple(r) for r in one_shot.topk(qs, k=3, nprobe=4).collect()}
    assert len(os.listdir(os.path.join(idx.path, "_done"))) == 3


def test_ivf_cell_join_subset_and_limit_recall(spark, sf_dir):
    """The cell join's pairs are a subset of brute force at low nprobe
    and EQUAL brute force at nprobe=n_centroids (every left vector
    probes every cell); no nested-loop node in the plan."""
    import io
    from contextlib import redirect_stdout

    from mrsboraetl_spark.operators.similarity import ivf_cell_join

    emb = table(spark, sf_dir, "embeddings")
    cents = _centroids(spark, sf_dir, n=8)
    left = emb.filter(F.col("vec_id") % 2 == 0)
    right = emb.filter(F.col("vec_id") % 2 == 1)

    def pairs(nprobe):
        return {
            (r.id_a, r.id_b, r.cosine)
            for r in ivf_cell_join(
                left, right, cents, nprobe=nprobe, threshold=0.3
            ).collect()
        }

    # brute force over the cross product (small here)
    lc = [(r.vec_id, list(r.embedding)) for r in left.collect()]
    rc = [(r.vec_id, list(r.embedding)) for r in right.collect()]

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return round(num / (na * nb), 4)

    brute = {
        (i, j, cos(a, b))
        for i, a in lc
        for j, b in rc
        if cos(a, b) >= 0.3
    }
    low = pairs(nprobe=2)
    assert low <= brute
    full = pairs(nprobe=8)
    assert full == brute and brute

    buf = io.StringIO()
    with redirect_stdout(buf):
        ivf_cell_join(left, right, cents, nprobe=2).explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pairs_above_screens_batch_against_corpus(spark, sf_dir, tmp_path):
    """Near-dup screening of a new batch against the stored corpus:
    subset of brute force at low nprobe, equal at nprobe=n_centroids."""
    emb = table(spark, sf_dir, "embeddings")
    cents = _centroids(spark, sf_dir, n=8)
    stored_side = emb.filter(F.col("vec_id") % 2 == 1)
    batch = emb.filter(F.col("vec_id") % 2 == 0)
    idx = IvfIndex(str(tmp_path / "ivf"), cents)
    idx.ingest(stored_side)

    def pairs(nprobe):
        return {
            (r.id_a, r.id_b, r.cosine)
            for r in idx.pairs_above(batch, 0.3, nprobe=nprobe).collect()
        }

    bc = [(r.vec_id, list(r.embedding)) for r in batch.collect()]
    sc = [(r.vec_id, list(r.embedding)) for r in stored_side.collect()]

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return round(
            num
            / (sum(x * x for x in a) ** 0.5 * sum(x * x for x in b) ** 0.5),
            4,
        )

    brute = {
        (i, j, cos(a, b)) for i, a in bc for j, b in sc if cos(a, b) >= 0.3
    }
    assert pairs(2) <= brute
    assert pairs(8) == brute and brute


def test_ivf_cell_join_hot_cell_cap(spark, sf_dir):
    """max_cell_freq (VERDICT r5 item 2): a degenerate quantizer that
    funnels both corpora into one cell recreates the quadratic the cell
    join exists to avoid; the combined-occupancy cap must drop that
    cell (and ONLY that cell) while cells under the cap are untouched,
    and the capped plan must stay nested-loop-free."""
    import io
    from contextlib import redirect_stdout

    from mrsboraetl_spark.operators.similarity import (
        cell_occupancy,
        ivf_cell_join,
    )

    # Two far-apart centroids; 20 vectors piled on centroid 0 ("the
    # dense mode"), 4 spread on centroid 1.
    c0, c1 = [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]
    cents = [(0, c0), (1, c1)]
    rows = [(i, [1.0, 0.001 * i, 0.0, 0.0]) for i in range(20)]
    rows += [(100 + i, [0.001 * i, 1.0, 0.0, 0.0]) for i in range(4)]
    emb = spark.createDataFrame(
        rows, "vec_id int, embedding array<double>"
    )
    left = emb.filter(F.col("vec_id") % 2 == 0)
    right = emb.filter(F.col("vec_id") % 2 == 1)

    occ = {r.cell: r.n for r in cell_occupancy(emb, cents).collect()}
    assert occ[0] == 20 and occ[1] == 4

    uncapped = ivf_cell_join(
        left, right, cents, nprobe=1, threshold=0.9
    ).collect()
    capped = ivf_cell_join(
        left, right, cents, nprobe=1, threshold=0.9, max_cell_freq=10
    ).collect()
    hot_ids = {i for i, _ in rows[:20]}
    # Everything surviving the cap comes from the small cell only.
    assert {r.id_a for r in capped} <= {100 + i for i in range(4)}
    assert {r.id_a for r in capped}  # small cell's pairs retained
    # The uncapped join did produce hot-cell pairs the cap dropped.
    assert any(r.id_a in hot_ids for r in uncapped)

    buf = io.StringIO()
    with redirect_stdout(buf):
        ivf_cell_join(
            left, right, cents, nprobe=1, max_cell_freq=10
        ).explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_index_pairs_above_cap_and_occupancy(spark, tmp_path):
    """The persisted index carries the same accounting: cell_occupancy
    reports the stored histogram; pairs_above's combined cap screens
    out the hot cell."""
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    rows = [(i, [1.0, 0.001 * i, 0.0, 0.0]) for i in range(20)]
    rows += [(100 + i, [0.001 * i, 1.0, 0.0, 0.0]) for i in range(4)]
    emb = spark.createDataFrame(
        rows, "vec_id int, embedding array<double>"
    )
    idx = IvfIndex(str(tmp_path / "ivf"), centroids=cents)
    idx.ingest(emb)
    occ = {r.cell: r.n for r in idx.cell_occupancy(spark).collect()}
    assert occ == {0: 20, 1: 4}

    batch = spark.createDataFrame(
        [(500, [1.0, 0.0005, 0.0, 0.0]), (501, [0.0005, 1.0, 0.0, 0.0])],
        "vec_id int, embedding array<double>",
    )
    full = idx.pairs_above(batch, threshold=0.9, nprobe=1).collect()
    capped = idx.pairs_above(
        batch, threshold=0.9, nprobe=1, max_cell_freq=10
    ).collect()
    assert any(r.id_a == 500 for r in full)
    assert all(r.id_a == 501 for r in capped) and capped


def test_retrain_flattens_skew_and_keeps_contracts(spark, sf_dir, tmp_path):
    """IvfIndex.retrain (VERDICT r6 item 5): a degenerate quantizer
    (all 16 centroids nearly identical -> one cell hogs the corpus)
    gets a deterministic k-means refresh — occupancy flattens, no
    vector is lost, recall against brute force holds, the new epoch is
    pinned in the manifest, and batch-split ingestion stays exact
    against the NEW centroids."""
    from mrsboraetl_spark.operators.similarity import brute_force_topk

    emb = table(spark, sf_dir, "embeddings")
    base = _centroids(spark, sf_dir, 1)[0][1]
    degenerate = [
        (i, [v + i * 1e-6 for v in base]) for i in range(16)
    ]
    idx = IvfIndex(str(tmp_path / "ivf"), degenerate)
    for part in range(3):
        idx.ingest(emb.filter(F.col("vec_id") % 3 == part))
    occ0 = {r.cell: r.n for r in idx.cell_occupancy(spark).collect()}
    total = sum(occ0.values())
    assert max(occ0.values()) / total > 0.5, occ0  # skew premise

    assert idx.retrain(spark, sample_frac=0.5) == 1
    occ1 = {r.cell: r.n for r in idx.cell_occupancy(spark).collect()}
    assert sum(occ1.values()) == total  # reassignment loses nothing
    assert max(occ1.values()) < max(occ0.values()) / 2  # flattened
    assert len(occ1) > len(occ0)  # more cells actually used

    # Recall floor vs exact brute force at nprobe=6/16.
    q = _queries(spark, sf_dir, n=5)
    got = {
        (r.query_id, r.neighbor)
        for r in idx.topk(q, k=3, nprobe=6).collect()
    }
    want = {
        (r.query_id, r.neighbor)
        for r in brute_force_topk(emb, q, k=3).collect()
    }
    assert len(got & want) / len(want) >= 0.4, (got, want)

    # The manifest is the commit point: reopening sees the new epoch
    # with MATCHING centroids, and a stale-centroid open is refused.
    again = IvfIndex(str(tmp_path / "ivf"))
    assert again.epoch == 1
    assert again.centroids == idx.centroids
    with pytest.raises(ValueError, match="pinned centroids"):
        IvfIndex(str(tmp_path / "ivf"), degenerate)

    # Batch-split determinism against the NEW epoch: fresh ids ingested
    # in splits match the one-shot assignment bit-for-bit.
    fresh = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    for part in range(2):
        again.ingest(fresh.filter(F.col("vec_id") % 2 == part))
    got_cells = {
        r.vec_id: r.cell
        for r in again.cells(spark)
        .filter(F.col("vec_id") >= 1_000_000)
        .collect()
    }
    want_cells = {
        r.vec_id: r.cell for r in again.assign_cells(fresh).collect()
    }
    assert got_cells == want_cells and got_cells


def test_streaming_skew_triggers_exactly_one_retrain(spark, sf_dir, tmp_path):
    """r8 (VERDICT r7 item 6): the streaming drain heals a skewed
    quantizer itself — the first wave under degenerate centroids trips
    the occupancy trigger and retrains ONCE; the second wave lands in
    the new epoch without re-triggering (flat occupancy keeps the
    trigger quiet).  The drained index equals an imperative batch loop
    ingesting the same waves with the same trigger policy — the
    stream-equals-batch pin extended through retraining."""
    import glob
    import shutil

    from mrsboraetl_spark.streaming.ann import streaming_ingest_vectors
    from mrsboraetl_spark.streaming.dedup import stream_documents

    emb = table(spark, sf_dir, "embeddings")
    waves = [
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
    ]

    # One parquet FILE per wave with strictly increasing mtimes, so the
    # maxFilesPerTrigger=1 source replays them in wave order.
    src = str(tmp_path / "vec_stream")
    os.makedirs(src)
    for i, w in enumerate(waves):
        staged = str(tmp_path / f"stage{i}")
        w.coalesce(1).write.parquet(staged)
        part = glob.glob(os.path.join(staged, "part-*.parquet"))[0]
        dst = os.path.join(src, f"wave{i}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_600_000_000 + i * 1000,) * 2)

    base = _centroids(spark, sf_dir, 1)[0][1]
    degenerate = [(i, [v + i * 1e-6 for v in base]) for i in range(16)]
    threshold = 8.0

    idx = IvfIndex(str(tmp_path / "ivf_s"), degenerate)
    q = streaming_ingest_vectors(
        stream_documents(spark, src), idx, str(tmp_path / "ckpt"),
        retrain_skew_threshold=threshold, retrain_sample_frac=0.5,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # Exactly one retrain: wave 1 tripped it, wave 2 (flat occupancy
    # under the new centroids) did not.
    assert idx.epoch == 1, idx.epoch
    assert idx.skew_ratio(spark) < threshold

    # Batch replica: same waves, same order, same policy.
    bat = IvfIndex(str(tmp_path / "ivf_b"), degenerate)
    retrains = 0
    for w in waves:
        bat.ingest(w)
        retrains += bat.retrain_if_skewed(
            spark, threshold, sample_frac=0.5
        )
    assert retrains == 1 and bat.epoch == 1

    got = {(r.vec_id, r.cell) for r in idx.cells(spark).collect()}
    want = {(r.vec_id, r.cell) for r in bat.cells(spark).collect()}
    assert got == want and len(got) == emb.count()
    qs = _queries(spark, sf_dir)
    assert {
        tuple(r) for r in idx.topk(qs, k=3, nprobe=4).collect()
    } == {tuple(r) for r in bat.topk(qs, k=3, nprobe=4).collect()}
