"""Z-order layout: clustering quality is pinned through the parquet
footers — for a range predicate on EITHER z-order column, the fraction
of files whose [min, max] envelope intersects the predicate must drop
far below the round-robin control layout (whose every file spans the
full domain).  That envelope is exactly what parquet row-group pruning
consumes, so this pins the mechanism without depending on engine scan
metrics."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from mrsboraetl_spark.queries import table
from mrsboraetl_spark.sources.layout import write_zordered, zorder_key

N_FILES = 16


def _envelopes(path: str, col: str) -> list[tuple[float, float]]:
    out = []
    for fp in glob.glob(f"{path}/*.parquet"):
        f = pq.ParquetFile(fp)
        idx = f.schema_arrow.get_field_index(col)
        for rg in range(f.metadata.num_row_groups):
            st = f.metadata.row_group(rg).column(idx).statistics
            out.append((st.min, st.max))
    return out


def _hit_fraction(envs, lo, hi) -> float:
    hits = sum(1 for mn, mx in envs if mx >= lo and mn <= hi)
    return hits / len(envs)


def test_zorder_tightens_envelopes_on_both_columns(spark, sf_dir, tmp_path):
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    zpath, cpath = str(tmp_path / "z"), str(tmp_path / "c")
    write_zordered(ev, zpath, ["user_id", "value"], n_files=N_FILES)
    ev.repartition(N_FILES).write.mode("overwrite").parquet(cpath)

    stats = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("value"), F.max("value")
    ).collect()[0]
    u_lo, u_hi, v_lo, v_hi = stats

    for col, lo, hi in (
        ("user_id", u_lo, u_hi),
        ("value", v_lo, v_hi),
    ):
        span = hi - lo
        q_lo, q_hi = lo + 0.45 * span, lo + 0.55 * span  # 10% range query
        z_frac = _hit_fraction(_envelopes(zpath, col), q_lo, q_hi)
        c_frac = _hit_fraction(_envelopes(cpath, col), q_lo, q_hi)
        # round-robin control: most files span ~the full domain (at the
        # tiny test SF a 60-row file can miss a 10% range by chance, so
        # this is a majority bound, not =1.0)
        assert c_frac > 0.5, (col, c_frac)
        assert z_frac <= 0.6 * c_frac, (col, z_frac, c_frac)


def test_zorder_roundtrip_preserves_rows(spark, sf_dir, tmp_path):
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    path = str(tmp_path / "z2")
    write_zordered(ev, path, ["user_id", "value"], n_files=8)
    back = spark.read.parquet(path)
    assert sorted(c for c in back.columns) == sorted(ev.columns)
    assert back.count() == ev.count()
    a = {r.event_id for r in ev.select("event_id").collect()}
    b = {r.event_id for r in back.select("event_id").collect()}
    assert a == b


def test_zorder_explicit_ranges_skip_the_minmax_scan(spark, sf_dir, tmp_path):
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    path = str(tmp_path / "z3")
    # wrong-but-valid explicit ranges must still produce a lossless write
    write_zordered(
        ev, path, ["user_id", "value"], n_files=4,
        ranges={"user_id": (0.0, 10.0), "value": (0.0, 1.0)},
    )
    assert spark.read.parquet(path).count() == ev.count()


def test_zorder_key_bit_budget_enforced(spark):
    import pytest

    with pytest.raises(ValueError):
        zorder_key([F.lit(1).cast("long")] * 4, bits=16)


def test_compact_parquet_reduces_files_and_preserves_rows(spark, sf_dir, tmp_path):
    from mrsboraetl_spark.sources.layout import compact_parquet

    ev = table(spark, sf_dir, "events").select("event_id", "user_id")
    path = str(tmp_path / "many")
    ev.repartition(40).write.parquet(path)
    before = len(glob.glob(f"{path}/*.parquet"))
    assert before == 40
    # huge target -> one file
    n = compact_parquet(spark, path, target_bytes=1 << 30)
    after = len(glob.glob(f"{path}/*.parquet"))
    assert n == 1 and after == 1
    back = spark.read.parquet(path)
    assert back.count() == ev.count()
    assert {r.event_id for r in back.collect()} == {
        r.event_id for r in ev.collect()
    }
    import os
    assert not os.path.exists(path + ".old")
    assert not os.path.exists(path + ".tmp")


def test_compact_parquet_restores_old_on_failed_promote(
    spark, tmp_path, monkeypatch
):
    """compact_parquet's rename-aside swap: a stale `.old` is dropped
    first, and a promote that fails puts the compacted directory's
    previous files back at the path (the staged `.tmp` is kept) before
    re-raising; the next compaction then succeeds."""
    import os

    import pytest

    from mrsboraetl_spark.sources.layout import compact_parquet

    path = str(tmp_path / "data")
    spark.range(40).repartition(4).write.parquet(path)
    before = sorted(os.listdir(path))
    os.makedirs(path + ".old")
    open(os.path.join(path + ".old", "stale"), "w").close()

    real_replace = os.replace

    def failing_promote(src, dst):
        if src == path + ".tmp":
            raise OSError("injected promote failure")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", failing_promote)
    with pytest.raises(OSError, match="injected"):
        compact_parquet(spark, path, target_bytes=1 << 30)
    monkeypatch.setattr(os, "replace", real_replace)
    assert sorted(os.listdir(path)) == before
    assert not os.path.exists(path + ".old")
    assert glob.glob(f"{path}.tmp/*.parquet")

    assert compact_parquet(spark, path, target_bytes=1 << 30) == 1
    assert len(glob.glob(f"{path}/*.parquet")) == 1
    assert spark.read.parquet(path).count() == 40
    assert not os.path.exists(path + ".tmp")
    assert not os.path.exists(path + ".old")


def test_compact_parquet_respects_target_size(spark, sf_dir, tmp_path):
    from mrsboraetl_spark.sources.layout import compact_parquet

    ev = table(spark, sf_dir, "events")
    path = str(tmp_path / "sized")
    ev.repartition(20).write.parquet(path)
    import glob as g
    import os
    total = sum(
        os.path.getsize(p) for p in g.glob(f"{path}/*.parquet")
    )
    n = compact_parquet(spark, path, target_bytes=max(total // 4, 1))
    assert 3 <= n <= 6  # ceil(total/target) with the pre-compaction bytes
    assert len(g.glob(f"{path}/*.parquet")) == n


def test_compact_with_zorder_restores_clustering(spark, sf_dir, tmp_path):
    """Round-robin compaction destroys clustering; the zorder_cols mode
    must restore the tight per-file envelopes while compacting."""
    from mrsboraetl_spark.sources.layout import compact_parquet

    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    path = str(tmp_path / "zc")
    ev.repartition(40).write.parquet(path)
    n = compact_parquet(
        spark, path, target_bytes=1, zorder_cols=["user_id", "value"]
    )
    # target_bytes=1 -> n_files = total bytes, clamped by repartitionByRange
    # to the actual row spread; just require multiple clustered files
    files = glob.glob(f"{path}/*.parquet")
    assert len(files) > 1 and n >= len(files)
    stats = ev.agg(F.min("value"), F.max("value")).collect()[0]
    lo, hi = stats
    span = hi - lo
    frac = _hit_fraction(
        _envelopes(path, "value"), lo + 0.45 * span, lo + 0.55 * span
    )
    assert frac < 0.5  # clustered: most files don't intersect a 10% range
    assert spark.read.parquet(path).count() == ev.count()


def test_zorder_key_interleaves_correctly(spark):
    # x=0b11, y=0b01 with 2 bits -> key bits (y1 x1 y0 x0) = 0b0111
    df = spark.range(1).select(
        zorder_key(
            [F.lit(3).cast("long"), F.lit(1).cast("long")], bits=2
        ).alias("z")
    )
    assert df.collect()[0].z == 0b0111
