"""Per-month key-bounds sidecar (engine._BOUNDS_COLS): the sync's
phase-1 retraction probe must open only candidate months —
read I/O scaling with the delta — while the bounds stay a strict
superset of reality across every crash window (a missed month would be
a silently-unretracted row forever): each snapshot names the sidecar
staged with its own data."""

from __future__ import annotations

import datetime as dt
import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mrsboraetl_spark.engine import PipelineRunner
from mrsboraetl_spark.sources import snapshot
from tests.fixtures import make_sources, to_spark
from tests.test_file_level_writes import _live_sidecar, _live_with_month


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    pdfs = make_sources(n_persons=25, seed=11)
    obs_pdf, enc_pdf = pdfs["obs"].copy(), pdfs["encounter"].copy()
    wm = obs_pdf["date_created"].max()
    # Clamp date_changed stragglers so the sync delta below is ONLY the
    # new obs (same discipline as test_sync_rewrites_only_affected_months).
    late = enc_pdf["date_changed"].notna() & (enc_pdf["date_changed"] > wm)
    enc_pdf.loc[late, "date_changed"] = wm
    pdfs = dict(pdfs, obs=obs_pdf, encounter=enc_pdf)
    dfs = to_spark(spark, pdfs)
    root = str(tmp_path_factory.mktemp("bounds") / "store")
    runner = PipelineRunner(spark, root, partitioned=True)
    runner.run(dfs, mode="rebuild")
    return dict(runner=runner, pdfs=pdfs, dfs=dfs, wm=wm)


@pytest.fixture(scope="module")
def built_plain(spark, built, tmp_path_factory):
    """``built``'s sources on the plain layout through a rebuild and a
    no-op sync, with the Spark jobs each run took."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    root = str(tmp_path_factory.mktemp("bounds_plain") / "store")
    runner = PipelineRunner(spark, root)
    jobs = {}
    for mode in ("rebuild", "sync"):
        j0 = int(dag.numTotalJobs())
        runner.run(built["dfs"], mode=mode)
        jobs[mode] = int(dag.numTotalJobs()) - j0
    return dict(runner=runner, jobs=jobs)


def test_bounds_sidecar_exact_after_rebuild(spark, built):
    from mrsboraetl_spark.config import SYNTHETIC_ENCOUNTER_OFFSET

    runner = built["runner"]
    bounds = _live_sidecar(runner, "flat_obs")
    assert bounds, "rebuild must write the bounds sidecar"
    # encounter bounds cover the REAL population only (synthetic ids at
    # SYNTHETIC_ENCOUNTER_OFFSET+ would stretch the range over every
    # probe key); person bounds have no synthetic class.
    real_enc = F.when(
        F.col("encounter_id") < SYNTHETIC_ENCOUNTER_OFFSET,
        F.col("encounter_id"),
    )
    actual = (
        _live_with_month(runner, "flat_obs")
        .groupBy("p_month")
        .agg(
            F.min(real_enc).alias("elo"),
            F.max(real_enc).alias("ehi"),
            F.min("person_id").alias("plo"),
            F.max("person_id").alias("phi"),
        )
        .collect()
    )
    assert {r["p_month"] for r in actual} == set(bounds)
    for r in actual:
        ent = bounds[r["p_month"]]
        if r["elo"] is None:
            assert "encounter_id" not in ent  # synthetic-only month
        else:
            assert ent["encounter_id"] == [r["elo"], r["ehi"]]
        assert ent["person_id"] == [r["plo"], r["phi"]]


def test_probe_reader_prunes_to_candidate_months(spark, built, monkeypatch):
    runner = built["runner"]
    reader = runner._make_probe_reader("flat_obs")
    assert reader is not None
    bounds = _live_sidecar(runner, "flat_obs")
    # A key inside exactly one month's range must prune to month(s)
    # whose range contains it; a key beyond every range reads nothing.
    from mrsboraetl_spark.config import SYNTHETIC_ENCOUNTER_OFFSET

    target = _live_with_month(runner, "flat_obs")
    row = (
        target.filter(F.col("encounter_id") < SYNTHETIC_ENCOUNTER_OFFSET)
        .select("encounter_id", "p_month")
        .first()
    )
    keys = spark.createDataFrame(
        [(int(row["encounter_id"]),)], "encounter_id long"
    )
    hit = reader(keys, "encounter_id")
    # Candidate set = months whose real-population range contains the
    # key, plus synthetic-only months that omit the column from the
    # sidecar (unconditional candidates in the reader).
    got_months = {
        m for m, ent in bounds.items()
        if "encounter_id" not in ent
        or ent["encounter_id"][0] <= row["encounter_id"] <= ent["encounter_id"][1]
    }
    assert got_months  # at least the row's own month
    assert hit.count() > 0
    # A key beyond every recorded range (but BELOW the synthetic
    # sentinel, so the conservative path stays off) reads only the
    # unconditional synthetic-only months, if any.
    beyond = max(
        ent["encounter_id"][1]
        for ent in bounds.values()
        if "encounter_id" in ent
    ) + 10_000
    assert beyond < SYNTHETIC_ENCOUNTER_OFFSET
    # Directory-level: only the unconditional synthetic-only months are
    # even opened (spied — the In pushdown below would mask a month-
    # pruning regression if we only counted rows).  Row-level (r8): the
    # small-delta In filter then reduces the probed content to exactly
    # the probed key — absent from those months, so zero rows.
    opened: list = []
    orig_rtm = type(runner).read_target_months

    def spy_rtm(self, table, months, **kw):
        opened.append(tuple(months))
        return orig_rtm(self, table, months, **kw)

    monkeypatch.setattr(type(runner), "read_target_months", spy_rtm)
    miss = reader(
        spark.createDataFrame([(beyond,)], "encounter_id long"),
        "encounter_id",
    )
    monkeypatch.undo()
    uncond = sorted(
        m for m, ent in bounds.items() if "encounter_id" not in ent
    )
    assert opened == [tuple(uncond)], (opened, uncond)
    assert miss.count() == 0


def test_probe_driver_transfer_is_month_bounded(spark, built, monkeypatch):
    """A many-key delta must NOT collect one row per key: the probe
    aggregates Spark-side (collect_set of matched months + one
    above-sentinel flag) and transfers a single row to the driver —
    the only O(delta) driver action flagged in round 7."""
    # PySpark 4 dispatches to the classic DataFrame subclass, which
    # overrides collect — patch the concrete class, not the facade.
    try:
        import pyspark.sql.classic.dataframe as _dfmod
    except ImportError:  # pragma: no cover - pyspark < 4
        import pyspark.sql.dataframe as _dfmod

    runner = built["runner"]
    reader = runner._make_probe_reader("flat_obs")
    assert reader is not None
    # 5,000 distinct probe keys — a catch-up-sized delta relative to
    # this fixture; pre-fix the probe collected 5,000 rows here.
    keys = spark.range(0, 5000).select(F.col("id").alias("encounter_id"))
    sizes: list[int] = []
    orig = _dfmod.DataFrame.collect

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(_dfmod.DataFrame, "collect", spy)
    hit = reader(keys, "encounter_id")
    assert hit is not None
    assert sizes, "probe must run at least one collect"
    n_months = len(_live_sidecar(runner, "flat_obs"))
    assert max(sizes) <= 1 + n_months, (
        f"probe collected {max(sizes)} rows for a 5,000-key delta — "
        "driver transfer must be month-bounded, not key-bounded"
    )


def test_probe_reader_unbounded_column_returns_none(built):
    reader = built["runner"]._make_probe_reader("flat_obs")
    assert reader(None, "not_a_bounds_col") is None


def test_probe_reader_synthetic_key_defeats_pruning(spark, built):
    """A probe key at/above the synthetic-id sentinel lies outside every
    recorded (real-population) range — the reader must go conservative
    and read every month, never prune on bounds that exclude it."""
    from mrsboraetl_spark.config import SYNTHETIC_ENCOUNTER_OFFSET

    runner = built["runner"]
    reader = runner._make_probe_reader("flat_obs")
    keys = spark.createDataFrame(
        [(SYNTHETIC_ENCOUNTER_OFFSET + 5,)], "encounter_id long"
    )
    res = reader(keys, "encounter_id")
    full = runner.read_target("flat_obs").count()
    assert res.count() == full


def test_sync_probe_reads_scale_with_delta(
    spark, built, tmp_path, monkeypatch
):
    """A one-month-localized delta must probe (and rewrite) only a small
    month subset; a no-op sync must probe ZERO month directories.  Runs
    on a copy of ``built``'s store, so the shared fixture keeps its
    state."""
    import shutil

    root = str(tmp_path / "store")
    shutil.copytree(built["runner"].root, root)
    runner = PipelineRunner(spark, root, partitioned=True)
    pdfs = built["pdfs"]
    obs_pdf, enc_pdf = pdfs["obs"], pdfs["encounter"]
    wm = built["wm"]

    month = enc_pdf["encounter_datetime"].dt.strftime("%Y-%m")
    modal = month.mode().iloc[0]
    cand = (
        obs_pdf[
            (obs_pdf["voided"] == 0)
            & obs_pdf["encounter_id"].isin(
                set(enc_pdf[month == modal]["encounter_id"])
            )
        ]
        .drop_duplicates("encounter_id")
        .head(3)
    )
    new_rows = []
    next_id = int(obs_pdf["obs_id"].max()) + 1
    for _, r in cand.iterrows():
        d = r.to_dict()
        d.update(
            obs_id=next_id, concept_id=5089, value_coded=None,
            value_numeric=1.25, date_created=wm + dt.timedelta(days=1),
        )
        new_rows.append(d)
        next_id += 1
    dfs2 = to_spark(
        spark,
        dict(pdfs, obs=pd.concat(
            [obs_pdf, pd.DataFrame(new_rows)], ignore_index=True
        )),
    )

    probed: list[tuple[str, tuple]] = []
    orig = PipelineRunner.read_target_months

    def spy(self, table, months, **kw):
        probed.append((table, tuple(months)))
        return orig(self, table, months, **kw)

    monkeypatch.setattr(PipelineRunner, "read_target_months", spy)

    n_months_obs = len(snapshot.load(runner._path("flat_obs"))["months"])
    runner.run(dfs2, mode="sync")
    obs_probe_months = {
        m for t, ms in probed if t == "flat_obs" for m in ms
    }
    # Localized delta: the flat_obs probe+write path touches far fewer
    # months than exist (the fixture spans ~13); visit_summary recomputes
    # whole person histories so it may legitimately touch more.
    assert len(obs_probe_months) < n_months_obs / 2, (
        obs_probe_months, n_months_obs
    )

    # No-op sync: nothing changed since the watermark -> every probe's
    # candidate set is empty -> zero months read.
    probed.clear()
    runner.run(dfs2, mode="sync")
    assert all(ms == () for _t, ms in probed), probed


def test_interrupted_month_swap_keeps_bounds_superset(spark, built):
    """Crash AT the snapshot flip of a month-scoped write: the old
    snapshot stays live with exactly the sidecar it names (the staged
    one was never published), and the next write converges."""
    runner = built["runner"]
    table = "flat_obs"
    pre = _live_sidecar(runner, table)
    epoch0 = snapshot.load(runner._path(table))["epoch"]
    target = _live_with_month(runner, table)
    n_before = target.count()
    months = sorted(snapshot.load(runner._path(table))["months"])[:2]
    delta = (
        target.filter(F.col("p_month").isin(months))
        # shift every key so the staged bounds differ from the old ones
        .withColumn(
            "encounter_id", (F.col("encounter_id") + F.lit(7)).cast("long")
        )
        # pin: the engine always stages from SOURCE data, never from the
        # files it is about to replace — reading the target lazily
        # across its own GC would re-open deleted files (the documented
        # write-over-read hazard); the checkpoint mimics the engine's
        # source-derived input.
        .localCheckpoint()
    )

    orig_replace = os.replace

    def exploding_replace(src, dst):
        if os.path.basename(dst) == snapshot.SNAPSHOT_FILE:
            raise RuntimeError("injected crash at the snapshot flip")
        return orig_replace(src, dst)

    os.replace = exploding_replace
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            runner._write(delta, table, months=months)
    finally:
        os.replace = orig_replace

    # The flip never happened: the old snapshot is still the table,
    # and its sidecar is exactly the one it had.
    assert _live_sidecar(runner, table) == pre
    assert snapshot.load(runner._path(table))["epoch"] == epoch0
    restored = runner.read_target(table)
    assert restored.count() == n_before
    restored = restored.localCheckpoint()  # same hazard for the cleanup
    # A clean rewrite of the same months lands exact bounds again.
    runner._write(delta, table, months=months)
    post = _live_sidecar(runner, table)
    for m in months:
        old_lo, old_hi = pre[m]["encounter_id"]
        assert post[m]["encounter_id"] == [old_lo + 7, old_hi + 7]
    # cleanup for module-scoped fixture users: restore original content
    runner._write(
        restored, table
    )
    final = _live_sidecar(runner, table)
    assert set(final) >= set(pre)


def test_bounds_file_invisible_to_spark(spark, built):
    """The underscore-prefixed sidecar lives in an epoch directory,
    named by the live snapshot's ``aux`` and never by its file list; no
    sidecar file is left at the table root, and a raw read of the table
    root still finds no data file at all."""
    runner = built["runner"]
    path = runner._path("flat_obs")
    man = snapshot.load(path)
    files = snapshot.files(path, man=man)
    assert files and all(f.endswith(".parquet") for f in files)
    for name in ("bounds", "blooms"):
        p = snapshot.aux(path, name, man)
        assert p is not None and os.path.isfile(p), name
        assert os.path.dirname(p) != path and p not in files
    assert not [
        e for e in os.listdir(path)
        if e.startswith((runner._BOUNDS_FILE, runner._BLOOMS_FILE))
    ]
    with pytest.raises(Exception, match="UNABLE_TO_INFER_SCHEMA"):
        spark.read.parquet(path).count()
    assert runner.read_target("flat_obs").count() > 0


def test_missing_bounds_falls_back_to_full_probe(built, monkeypatch):
    """A snapshot naming no sidecar, or naming one that cannot be read,
    gives no probe reader: the full-target probe, never a wrong prune."""
    runner = built["runner"]
    real_load = snapshot.load
    aux = real_load(runner._path("flat_obs"))["aux"]
    for swap in ({}, {**aux, "bounds": aux["bounds"] + ".missing"}):
        monkeypatch.setattr(
            snapshot, "load",
            lambda d, swap=swap: {**real_load(d), "aux": swap},
        )
        assert runner._make_probe_reader("flat_obs") is None, swap
    monkeypatch.undo()
    assert runner._make_probe_reader("flat_obs") is not None


def test_widen_bounds_missing_column_is_unprunable():
    cols = ("encounter_id", "person_id")
    a = {"encounter_id": [5, 9], "person_id": [1, 3]}
    b = {"encounter_id": [7, 20]}  # person bounds unknown on one side
    w = PipelineRunner._widen_bounds(a, b, cols)
    assert w["encounter_id"] == [5, 20]
    assert "person_id" not in w  # absent = cannot prune, never 'empty'
    assert PipelineRunner._widen_bounds(None, b, cols) == b


@pytest.mark.parametrize("key", ["person_id", "encounter_id"])
def test_bloom_sidecar_prunes_person_probe(spark, built, key):
    """r8 (VERDICT r7 item 3): per-month [min,max] on person_id prunes
    ~nothing by construction (person ids are uniform across months);
    the per-month Bloom sidecar lets person-keyed probes open only the
    months actually holding a probed person — superset-exact (every
    row of the probed person is in the pruned read) and genuinely
    pruning (exactly the months that hold the key, plus any month
    whose sidecar records no real key of the column: with nothing
    recorded there is nothing to prune by).  r11 (PERF.md "Round 11:
    encounter-key Bloom"): the same holds for encounter_id, whose
    ranges alone cannot prune either — the fixture spreads each
    person's encounters over the year out of id order, so the month
    ranges cover the whole encounter id space."""
    from mrsboraetl_spark.config import SYNTHETIC_ENCOUNTER_OFFSET

    runner = built["runner"]
    bounds = _live_sidecar(runner, "flat_obs")
    ent = next(iter(bounds.values()))
    assert f"bloom:{key}" in ent, sorted(ent)
    b = ent[f"bloom:{key}"]
    # r9: raw bytes from the binary sidecar (m bits / 8), not hex-JSON
    assert isinstance(b["w"], bytes)
    assert b["m"] % 64 == 0 and len(b["w"]) == b["m"] // 8
    # and the JSON sidecar itself carries no bloom payload any more
    with open(snapshot.aux(runner._path("flat_obs"), "bounds")) as f:
        assert "bloom:" not in f.read()

    tgt = _live_with_month(runner, "flat_obs")
    # below the synthetic-encounter sentinel (person ids never reach it)
    real = tgt.filter(F.col(key) < SYNTHETIC_ENCOUNTER_OFFSET)
    ids = sorted(r[key] for r in real.select(key).distinct().collect())
    victim = ids[len(ids) // 2]  # mid-range: most month ranges hold it
    mine = tgt.filter(F.col(key) == victim)
    true_rows = mine.count()
    true_months = {r["p_month"] for r in mine.select("p_month").collect()}
    assert len(true_months) < len(bounds)  # premise: key is month-local
    unrecorded = {m for m, e in bounds.items() if key not in e}

    reader = runner._make_probe_reader("flat_obs")
    keys = spark.createDataFrame([(victim,)], f"{key} long")
    hit = reader(keys, key)
    assert hit.filter(F.col(key) == victim).count() == true_rows
    opened = {
        p.split("p_month=")[1].split("/")[0] for p in hit.inputFiles()
    }
    assert opened == true_months | unrecorded, (
        sorted(opened), sorted(true_months), sorted(unrecorded)
    )

    # A key the corpus never saw: every blooming month is pruned.
    miss = reader(
        spark.createDataFrame([(99_999_999,)], f"{key} long"), key
    )
    assert miss.count() == 0


def _set_bits(w: bytes) -> set[int]:
    """Bit positions set in a filter of 64-bit big-endian words: bit p
    lives in word p // 64, byte 7 - (p % 64) // 8 of it, bit p % 8."""
    return {
        (i // 8) * 64 + (7 - i % 8) * 8 + b
        for i, byte in enumerate(w)
        if byte
        for b in range(8)
        if byte >> b & 1
    }


def _sparse_filter(m: int, seed: int, n_bits: int = 40) -> bytes:
    import random

    rng = random.Random(seed)
    w = bytearray(m // 8)
    for p in rng.sample(range(m), n_bits):
        w[(p // 64) * 8 + 7 - (p % 64) // 8] |= 1 << (p % 8)
    return bytes(w)


def test_bloom_widen_is_exact_union_or_omission():
    """Widen-before-swap for Blooms: equal (m, j) => bitwise OR (the
    EXACT set union, so no key of either side can test negative).
    Power-of-two filters of different sizes FOLD onto the smaller m
    (position p at m bits, taken mod m', is the position at m' bits),
    so the union keeps a filter at m = min holding every bit of both
    folded inputs and nothing else.  A j mismatch, or an m that is not
    a power of two, cannot be merged => the entry is omitted, leaving
    the month unprunable (conservative) until the exact pass."""
    w = PipelineRunner._widen_bounds
    a = {"bloom:person_id": {"m": 1024, "j": 7, "w": b"\x0f" + b"\x00" * 127}}
    b = {"bloom:person_id": {"m": 1024, "j": 7, "w": b"\xf0" + b"\x00" * 127}}
    merged = w(a, b, {})
    assert merged["bloom:person_id"]["w"] == b"\xff" + b"\x00" * 127

    def fold_union(small_m, big_m, seed):
        x = {"m": small_m, "j": 7, "w": _sparse_filter(small_m, seed)}
        y = {"m": big_m, "j": 7, "w": _sparse_filter(big_m, seed + 1)}
        want = {p % small_m for e in (x, y) for p in _set_bits(e["w"])}
        for old, new in ((x, y), (y, x)):  # either side may be larger
            got = w({"bloom:person_id": old}, {"bloom:person_id": new}, {})
            e = got["bloom:person_id"]
            assert (e["m"], e["j"]) == (small_m, 7)
            assert len(e["w"]) == small_m // 8
            assert _set_bits(e["w"]) == want

    fold_union(1024, 2048, 1)
    fold_union(1024, 1 << 14, 3)
    # r9 resize boundary (VERDICT r8 item 3): a month whose filter was
    # re-sized across the old 2^17 cap and the new 2^23 cap folds too
    fold_union(1 << 17, 1 << 23, 5)
    # j mismatch: omit, never guess
    c = {"bloom:person_id": {"m": 2048, "j": 5, "w": b"\xff" + b"\x00" * 255}}
    assert "bloom:person_id" not in w(a, c, {})
    # an m that is not a power of two does not fold: omit
    d = {"bloom:person_id": {"m": 1536, "j": 7, "w": b"\xff" + b"\x00" * 191}}
    assert "bloom:person_id" not in w(a, d, {})
    assert "bloom:person_id" not in w(d, a, {})
    # one-sided: omit
    assert "bloom:person_id" not in w(a, {}, {})
    # old None: the staged entry stands alone
    assert w(None, b, {}) is b


def _stage(spark, tmp_path, rows, schema: str):
    """A staged epoch directory of a flat_obs-shaped table under a
    fresh table directory: (table dir, epoch dir)."""
    base = str(tmp_path / "table")
    edir = os.path.join(base, "_e00000001_test")
    spark.createDataFrame(rows, schema).write.partitionBy(
        "p_month"
    ).parquet(edir)
    return base, edir


def _build(runner, table, base, edir, rows=None):
    """_build_sidecar over every staged file, sized from the footer row
    counts unless ``rows`` ({month: n}) says otherwise."""
    stats = runner._staged_file_stats(edir, runner._CLUSTER_BY[table][0])
    n = {m: sum(v[2] for v in fent.values()) for m, fent in stats.items()}
    return runner._build_sidecar(table, base, stats, rows or n)


def test_bloom_fold_equals_smaller_build(spark, tmp_path):
    """The fold is exact against the builder itself: the same keys
    built at m and at m/4 — the m-bit filter folded onto m/4 bits (a
    union with an empty m/4 filter) is the m/4 build byte for byte."""
    from mrsboraetl_spark.config import SYNTHETIC_ENCOUNTER_OFFSET

    rows = [
        ("2024-01", pid, 1000 + 3 * pid) for pid in range(-40, 150)
    ] + [("2024-01", 7, SYNTHETIC_ENCOUNTER_OFFSET + 5)]
    r = PipelineRunner(spark, str(tmp_path / "store"), partitioned=True)
    base, edir = _stage(
        spark, tmp_path, rows,
        "p_month string, person_id long, encounter_id long",
    )
    big = _build(r, "flat_obs", base, edir, rows={"2024-01": 256})
    small = _build(r, "flat_obs", base, edir, rows={"2024-01": 64})
    for c in ("person_id", "encounter_id"):
        eb, es = big["2024-01"][f"bloom:{c}"], small["2024-01"][f"bloom:{c}"]
        assert (eb["m"], es["m"]) == (4096, 1024)
        empty = {"m": 1024, "j": es["j"], "w": bytes(128)}
        folded = PipelineRunner._widen_bounds(
            {f"bloom:{c}": eb}, {f"bloom:{c}": empty}, {}
        )[f"bloom:{c}"]
        assert folded == es, c


def test_bloom_build_matches_python_reference_and_transfer(
    spark, tmp_path, monkeypatch
):
    """The one sidecar build against a pure-Python reference: the
    (month, position) pairs of the real keys — non-null, below the
    sentinel — from the shared _bloom_pos_expr, packed as 64-bit
    big-endian words with struct.pack_into('>Q'), must equal the
    built filter byte for byte at the same m, and the ranges must be
    the real keys' min/max.  The driver receives at most one row per
    (month, Bloom column): the filters arrive packed, never as word
    rows."""
    import struct

    from mrsboraetl_spark.config import SYNTHETIC_ENCOUNTER_OFFSET as S

    rows = [
        (f"2024-{m:02d}", pid, None if pid % 11 == 0 else 10 * pid + m)
        for m in (1, 2, 3)
        for pid in range(1, 200 + m * 37)
    ] + [("2024-02", 5, S + 3), ("2024-03", 6, S)]  # synthetic: excluded
    schema = "p_month string, person_id long, encounter_id long"
    r = PipelineRunner(spark, str(tmp_path / "store"), partitioned=True)
    base, edir = _stage(spark, tmp_path, rows, schema)

    cls = type(spark.range(1))  # the CONCRETE DataFrame class
    received = {"rows": 0}
    real_collect, real_arrow = cls.collect, cls.toArrow

    def counting_collect(self):
        out = real_collect(self)
        received["rows"] += len(out)
        return out

    def counting_arrow(self):
        out = real_arrow(self)
        received["rows"] += out.num_rows
        return out

    monkeypatch.setattr(cls, "collect", counting_collect)
    monkeypatch.setattr(cls, "toArrow", counting_arrow)
    built = _build(r, "flat_obs", base, edir)
    monkeypatch.undo()
    assert 0 < received["rows"] <= 3 * 2, received

    cols = r._BOUNDS_COLS["flat_obs"]
    real = {
        c: [
            (row[0], row[i])
            for row in rows
            if row[i] is not None and (cols[c] is None or row[i] < cols[c])
        ]
        for c, i in (("person_id", 1), ("encounter_id", 2))
    }
    for c, keys in real.items():
        m_of = {mo: built[mo][f"bloom:{c}"]["m"] for mo, _k in keys}
        pos = (
            spark.createDataFrame(
                [(mo, k, m_of[mo]) for mo, k in keys],
                "p_month string, _k long, _m long",
            )
            .withColumn("_i", F.explode(F.sequence(F.lit(0), F.lit(6))))
            .select("p_month", r._bloom_pos_expr().alias("_pos"))
            .collect()
        )
        want = {mo: bytearray(m // 8) for mo, m in m_of.items()}
        for row in pos:
            buf, p = want[row["p_month"]], int(row["_pos"])
            word = struct.unpack_from(">Q", buf, (p // 64) * 8)[0]
            struct.pack_into(">Q", buf, (p // 64) * 8, word | 1 << (p % 64))
        for mo, m in m_of.items():
            e = built[mo][f"bloom:{c}"]
            assert e["j"] == 7 and e["m"] == m
            assert e["w"] == bytes(want[mo]), (mo, c)
            ks = [k for mo2, k in keys if mo2 == mo]
            assert built[mo][c] == [min(ks), max(ks)], (mo, c)


def test_sidecar_config_precondition_is_checked(monkeypatch):
    """The builder takes a range without a Bloom only from the per-file
    pk entries, which is exact only for a sentinel-free pk: any other
    bounds column without a Bloom raises instead of being skipped."""
    r = PipelineRunner.__new__(PipelineRunner)
    for bad in (
        {"person_id": None, "test_datetime": None},  # not the pk
        {"person_id": 100},  # the pk, but with a sentinel
    ):
        monkeypatch.setitem(PipelineRunner._BOUNDS_COLS, "flat_lab_obs", bad)
        with pytest.raises(ValueError, match="flat_lab_obs"):
            r._build_sidecar("flat_lab_obs", "/nonexistent", {}, {})
    monkeypatch.setitem(
        PipelineRunner._BLOOM_COLS, "flat_obs", ("person_id",)
    )
    with pytest.raises(ValueError, match="flat_obs.encounter_id"):
        r._build_sidecar("flat_obs", "/nonexistent", {}, {})


def test_rebuild_sidecar_job_budget(spark, built, tmp_path, monkeypatch):
    """Job budget of the one sidecar pass in a partitioned rebuild:
    at most 3 Spark jobs per Bloom-table write (two shuffle map stages
    and the result), none for flat_lab_obs (its only range is footer
    metadata), and no staging directory written anywhere.  The whole
    rebuild takes at most 55 jobs (66-68 while target reads inferred
    their schema with a job, flat_log's watermark read was a Spark
    aggregate and versioned commits counted their rows with one)."""
    from pyspark.sql.readwriter import DataFrameWriter

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    jobs: dict[str, list[int]] = {}
    real_build = PipelineRunner._build_sidecar

    def counting_build(self, table, *a, **kw):
        j0 = int(dag.numTotalJobs())
        out = real_build(self, table, *a, **kw)
        jobs.setdefault(table, []).append(int(dag.numTotalJobs()) - j0)
        return out

    written: list[str] = []
    real_parquet = DataFrameWriter.parquet

    def recording_parquet(self, path, *a, **kw):
        written.append(str(path))
        return real_parquet(self, path, *a, **kw)

    monkeypatch.setattr(PipelineRunner, "_build_sidecar", counting_build)
    monkeypatch.setattr(DataFrameWriter, "parquet", recording_parquet)
    runner = PipelineRunner(spark, str(tmp_path / "store"), partitioned=True)
    j0 = int(dag.numTotalJobs())
    runner.run(built["dfs"], mode="rebuild")
    assert int(dag.numTotalJobs()) - j0 <= 55

    assert sorted(jobs) == sorted(PipelineRunner._BOUNDS_COLS), jobs
    for table, per_write in jobs.items():
        cap = 3 if table in PipelineRunner._BLOOM_COLS else 0
        assert per_write and max(per_write) <= cap, (table, per_write)
    assert written and not [p for p in written if "_bloom_agg_tmp_" in p]
    assert not [
        e for e in os.listdir(runner.root) if e.startswith("_bloom_agg_tmp_")
    ]


def test_plain_rebuild_and_noop_sync_job_budget(built_plain):
    """Committing every plain-layout target through the snapshot
    protocol costs no Spark job over the whole-directory swap it
    replaced: that layout took 42-43 jobs for this rebuild and 8 for
    the no-op sync (its target reads inferred their schema with a
    job; the one-group commits take their file stats from footers)."""
    assert built_plain["jobs"]["rebuild"] <= 42, built_plain["jobs"]
    assert built_plain["jobs"]["sync"] <= 8, built_plain["jobs"]


def test_delta_attempt_loads_one_snapshot_and_one_sidecar(
    spark, built, tmp_path, monkeypatch
):
    """One partitioned delta stage attempt plans from ONE snapshot of
    its table: the target read, the probe reader and its month list,
    the touched-file plan, the phase-2 read, the month universe and the
    writer's new month map all come from a single ``snapshot.load`` of
    the table directory, and the sidecar that snapshot names is read
    once.  A commit landing between two separate loads would otherwise
    give the attempt a mixed view (saved only by the CAS, at the cost
    of a spurious retry).  Runs on a copy of ``built``'s store, so the
    shared fixture keeps its state."""
    import builtins
    import shutil

    import mrsboraetl_spark.engine as engine_mod
    from tests.test_file_level_writes import _small_delta

    root = str(tmp_path / "store")
    shutil.copytree(built["runner"].root, root)
    runner = PipelineRunner(spark, root, partitioned=True)

    loads: list[str] = []
    real_load = snapshot.load

    def counting_load(table_dir):
        loads.append(os.path.normpath(table_dir))
        return real_load(table_dir)

    reads: list[str] = []

    def counting_open(file, mode="r", *a, **kw):
        if "r" in mode:
            reads.append(os.path.normpath(str(file)))
        return builtins.open(file, mode, *a, **kw)

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    writes: list[tuple[str, bool]] = []
    write_jobs = [0]
    real_write = PipelineRunner._write

    def spy_write(self, df, table, *a, **kw):
        writes.append((table, kw.get("months") is not None))
        j0 = int(dag.numTotalJobs())
        try:
            return real_write(self, df, table, *a, **kw)
        finally:
            write_jobs[0] += int(dag.numTotalJobs()) - j0

    attempts: list[tuple[str, list, list, list, tuple[int, int]]] = []
    real_attempt = PipelineRunner._stage_attempt

    def spy_attempt(self, table, *a, **kw):
        n_l, n_r, n_w = len(loads), len(reads), len(writes)
        j0, w0 = int(dag.numTotalJobs()), write_jobs[0]
        try:
            return real_attempt(self, table, *a, **kw)
        finally:
            jobs = int(dag.numTotalJobs()) - j0
            attempts.append((
                table, loads[n_l:], reads[n_r:], writes[n_w:],
                (jobs - (write_jobs[0] - w0), jobs),
            ))

    monkeypatch.setattr(snapshot, "load", counting_load)
    monkeypatch.setattr(engine_mod, "open", counting_open, raising=False)
    monkeypatch.setattr(PipelineRunner, "_write", spy_write)
    monkeypatch.setattr(PipelineRunner, "_stage_attempt", spy_attempt)
    runner.run(to_spark(spark, _small_delta(built["pdfs"])), mode="sync")

    by_table = {t: (ls, rs, ws) for t, ls, rs, ws, _j in attempts}
    assert "flat_obs" in by_table, attempts
    for table, (ls, rs, ws) in by_table.items():
        if table not in PipelineRunner._PARTITION_SRC:
            continue
        path = os.path.normpath(runner._path(table))
        assert ls.count(path) == 1, (table, ls)
        sidecar_reads = [
            os.path.basename(f) for f in rs if f.startswith(path + os.sep)
        ]
        assert sidecar_reads.count(runner._BOUNDS_FILE) == 1, (
            table, sidecar_reads,
        )
        assert sidecar_reads.count(runner._BLOOMS_FILE) == (
            1 if table in runner._BLOOM_COLS else 0
        ), (table, sidecar_reads)
    # the pin is about the delta path: flat_obs took it
    assert ("flat_obs", True) in by_table["flat_obs"][2], by_table
    # Spark jobs of each attempt outside its write (the plan phase:
    # pins, probes, the month collect, the touched-file plan), pinned
    # at their measured values.  The write's own AQE stage jobs vary
    # between identical runs (flat_obs 17-19), so a whole-attempt count
    # (flat_obs 52-54) cannot be pinned exactly.
    budget = {"flat_obs": 35, "flat_lab_obs": 2, "flat_visit_summary": 46}
    plan_jobs = {t: j for t, *_r, (j, _all) in attempts}
    assert set(plan_jobs) <= set(budget), plan_jobs
    for table, n in plan_jobs.items():
        assert n <= budget[table], (table, plan_jobs)


def test_target_reads_take_schema_from_one_footer(
    spark, built, built_plain
):
    """Every frame the engine builds over its own snapshot files — each
    pipeline table and the latest table, under both layouts — has the
    schema Spark infers from the same files, nullability included, and
    building it runs no Spark job: the schema comes from one footer,
    not an inference job.  The plain runner's last run was a no-op
    sync, so its pipeline map still names the rebuild's cut: the live
    epochs."""
    from mrsboraetl_spark.sources.footer_stats import footer_schema

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    for runner, table in (
        (r, t) for r in (built["runner"], built_plain["runner"])
        for t in PipelineRunner._CLUSTER_BY
    ):
        path = runner._path(table)
        files = snapshot.files(path)
        assert files, table
        inferred = spark.read.parquet(*files).schema
        assert footer_schema(files[0]) == inferred, table
        j0 = int(dag.numTotalJobs())
        frames = [
            runner.read_target(table),
            runner.read_target_at(table, runner.snapshots(table)[-1]),
        ]
        if not runner.partitioned:
            live = runner.snapshots(table)[-1]
            assert runner.pipeline_snapshot()["tables"][table] == live
            frames.append(runner.read_pipeline(table))
        if runner.partitioned and table in PipelineRunner._PARTITION_SRC:
            m = sorted(snapshot.load(path)["months"])[0]
            frames += [
                runner.read_target_months(table, [m]),
                runner.read_target_months(table, []),
                runner._read_target_files(table, {m: None}),
            ]
        else:
            frames.append(runner._versioned(table).read(spark))
        for df in frames:
            assert df.schema == inferred, table
        assert int(dag.numTotalJobs()) == j0, table


def test_bloom_probe_driver_transfer_is_month_bounded(
    spark, built, monkeypatch
):
    """The Bloom hit test transfers ONE row to the driver (surviving
    month set + over flag) regardless of how many keys are probed —
    the same contract the range probe was held to this round."""
    try:
        import pyspark.sql.classic.dataframe as _dfmod
    except ImportError:  # pragma: no cover - pyspark < 4
        import pyspark.sql.dataframe as _dfmod

    runner = built["runner"]
    bounds = _live_sidecar(runner, "flat_obs")
    blooms = {
        m: e["bloom:person_id"]
        for m, e in bounds.items()
        if "bloom:person_id" in e
    }
    assert blooms
    kdf = (
        spark.range(0, 3000)
        .select(F.col("id").cast("long").alias("_k"))
        .distinct()
    )
    sizes: list[int] = []
    orig = _dfmod.DataFrame.collect

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(_dfmod.DataFrame, "collect", spy)
    keep = runner._bloom_hit_months(kdf, None, blooms)
    assert keep is not None
    assert sizes and max(sizes) == 1, sizes


def test_bloom_synthetic_key_abandons_pruning(spark, built):
    """A probed key at/above the synthetic sentinel was excluded from
    the filters at build time — the hit test must refuse to prune."""
    from mrsboraetl_spark.config import SYNTHETIC_ENCOUNTER_OFFSET

    runner = built["runner"]
    bounds = _live_sidecar(runner, "flat_obs")
    blooms = {
        m: e["bloom:person_id"]
        for m, e in bounds.items()
        if "bloom:person_id" in e
    }
    kdf = spark.createDataFrame(
        [(SYNTHETIC_ENCOUNTER_OFFSET + 5,)], "_k long"
    )
    assert (
        runner._bloom_hit_months(
            kdf, SYNTHETIC_ENCOUNTER_OFFSET, blooms
        )
        is None
    )


def test_bloom_hash_survives_ansi_overflow_keys(spark):
    """r8 review finding: `xxhash64(k) + i*step` overflows a long for
    keys whose xxhash64 lands near Long.MAX (person_id 887018216 →
    9223372033475171967) and Spark 4's default ANSI mode turns that
    into ARITHMETIC_OVERFLOW — a permanent sync-killer at production
    id scale.  The position expression reduces both terms mod m before
    the addition (identical value by modular identity, every
    intermediate < 2^21)."""
    df = spark.createDataFrame(
        [(887018216, i) for i in range(7)], "_k long, _i int"
    ).withColumn("_m", F.lit(1 << 17).cast("long"))
    rows = df.select(
        "_i", PipelineRunner._bloom_pos_expr().alias("pos")
    ).collect()
    assert len(rows) == 7
    assert all(0 <= r["pos"] < (1 << 17) for r in rows)
    # the stride must stay odd (full cycle of the power-of-two table):
    # 7 rounds of the same key hit 7 distinct positions
    assert len({r["pos"] for r in rows}) == 7


def test_small_delta_probe_pushes_isin_to_scan(spark, built):
    """r8 (PERF.md 'isin file skipping' item): a probe for a handful of
    keys pushes the key set into the parquet scan as an In filter, so
    PK-sorted row-group statistics skip inside the candidate months'
    files — and the probe result is EXACTLY the probed keys'
    rows (the filter is semantics-preserving: probe consumers look up
    exactly these keys)."""
    runner = built["runner"]
    reader = runner._make_probe_reader("flat_obs")
    tgt = runner.read_target("flat_obs")
    victims = [
        int(r["person_id"])
        for r in tgt.select("person_id").distinct().limit(3).collect()
    ]
    keys = spark.createDataFrame([(v,) for v in victims], "person_id long")
    hit = reader(keys, "person_id")
    want = tgt.filter(F.col("person_id").isin(victims)).count()
    assert hit.count() == want
    assert (
        hit.filter(~F.col("person_id").isin(victims)).count() == 0
    ), "small-delta probe must return only probed-key rows"
    plan = hit._jdf.queryExecution().sparkPlan().toString()
    assert "PushedFilters: [In(person_id" in plan, plan[:2000]

    # Past the gate, the probe keeps the join-only path (no driver
    # collect of the key set, no giant In expression).
    many = spark.range(0, runner._PROBE_ISIN_MAX * 10).select(
        F.col("id").alias("person_id")
    )
    wide = reader(many, "person_id")
    plan = wide._jdf.queryExecution().sparkPlan().toString()
    assert "In(person_id" not in plan


def test_probe_with_null_keys_neither_crashes_nor_misses(spark, built):
    """r8 review finding: orders.encounter_id is nullable and
    flat_orders' affected-key frame carries the nulls through, so a
    routine small delta can contain a NULL probe key.  A null matches
    no target row (probe consumers equi-join on the key); it must be
    dropped by the reader's normalization — not crash the isin
    collect's int(), and not defeat the valid keys' pruning."""
    runner = built["runner"]
    reader = runner._make_probe_reader("flat_obs")
    tgt = runner.read_target("flat_obs")
    victim = int(tgt.select("person_id").first()["person_id"])
    keys = spark.createDataFrame(
        [(None,), (victim,)], "person_id long"
    )
    hit = reader(keys, "person_id")
    want = tgt.filter(F.col("person_id") == victim).count()
    assert hit.count() == want and want > 0
    # all-null delta: nothing to probe, nothing read
    only_null = spark.createDataFrame([(None,)], "person_id long")
    assert reader(only_null, "person_id").count() == 0


def test_bloom_prunes_at_production_month_cardinality(spark, tmp_path):
    """r9 (VERDICT r8 item 3 done-bar): a month holding >=100k distinct
    persons must still prune person-keyed probes.  Under the old 2^17
    cap such a month saturated toward all-ones and pruned nothing
    (conservative but useless at the 100x target); the binary sidecar
    carries filters up to 2^23 bits (~500k keys at 16 bits/key)."""
    runner = PipelineRunner(spark, str(tmp_path / "store"), partitioned=True)
    n = 120_000
    big = spark.range(0, n).select(
        F.lit("2024-01").alias("p_month"),
        F.col("id").cast("long").alias("person_id"),
        F.col("id").cast("long").alias("encounter_id"),
    )
    small = spark.range(n, n + 500).select(
        F.lit("2024-02").alias("p_month"),
        F.col("id").cast("long").alias("person_id"),
        F.col("id").cast("long").alias("encounter_id"),
    )
    base = str(tmp_path / "table")
    edir = os.path.join(base, "_e00000001_test")
    big.unionByName(small).write.partitionBy("p_month").parquet(edir)

    side = _build(runner, "flat_obs", base, edir)
    blooms = {m: e["bloom:person_id"] for m, e in side.items()}
    m_big = blooms["2024-01"]["m"]
    assert m_big > (1 << 17), "big month must outgrow the old cap"
    assert m_big <= runner._BLOOM_MAX_BITS

    # Probe 5 keys that live ONLY in the small month: the 120k-person
    # month must be pruned (it would have been kept by a saturated
    # filter), the small month kept.
    kdf = spark.createDataFrame(
        [(n + i,) for i in range(5)], "_k long"
    )
    keep = runner._bloom_hit_months(kdf, None, blooms)
    assert keep == {"2024-02"}, keep

    # And keys in the big month are still found (no false negatives).
    kdf2 = spark.createDataFrame([(77,), (99_000,)], "_k long")
    keep2 = runner._bloom_hit_months(kdf2, None, blooms)
    assert "2024-01" in keep2, keep2


def test_delta_write_stages_months_in_the_live_column_order(spark, built):
    """A sync's merged months reach the delta writer in the plan's
    column order, which need not be the rebuild files' order (a
    flat_visit_summary sync and its rebuild list the same columns in
    two orders; here the month comes back reversed).  The writer
    stages them in the live files' footer order, so every pipeline
    table keeps ONE footer column order — ``read_files`` takes its
    schema from the first file, which is then the schema Spark infers
    over all of them, whichever file sorts first.  Rewrites one month
    with its own rows, so the shared fixture's content is unchanged."""
    import pyarrow.parquet as pq

    runner = built["runner"]
    table = "flat_visit_summary"
    path = runner._path(table)
    before = snapshot.load(path)
    m = sorted(before["months"])[0]
    rows = runner.read_target_months(table, [m])
    runner._write(rows.select(*reversed(rows.columns)), table, months=[m])
    assert snapshot.load(path)["months"][m] != before["months"][m]
    for t in PipelineRunner._CLUSTER_BY:
        orders = {
            tuple(pq.read_schema(f).names)
            for f in snapshot.files(runner._path(t))
        }
        assert len(orders) == 1, (t, orders)
