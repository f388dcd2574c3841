"""Multi-dimensional data layout: z-order (Morton-curve) clustering.

Month partitioning (engine.py ``partitioned=True``) prunes on ONE
column; bucketing (sources/bucketing.py) co-locates ONE join
key.  When queries filter on TWO independent columns (user AND time,
tenant AND day), clustering the stored files along a space-filling
curve gives every file/row-group a tight min/max envelope on BOTH
columns, so the engine's ordinary stats-based pruning (parquet
row-group skipping via pushed predicates — free, no catalog needed)
cuts the scan on either dimension or both.

Spark-first spelling: the z-key is a pure codegen'd bit-interleave
expression; the layout is ``repartitionByRange(z)`` +
``sortWithinPartitions(z)`` + plain parquet — one range shuffle at
write time, standard files at read time (readers need no special
support; the key column itself is dropped).  This is the same
mechanism Delta/Iceberg OPTIMIZE ZORDER applies, expressed with stock
DataFrame ops.

Scale note: per-column [min, max] for normalization comes from one
1-row scalar aggregate collected at WRITE time (bounded driver action,
mirroring the documented 16-row seed collect in queries/llmdata) — or
pass ``ranges`` explicitly when the caller already knows the domain
(e.g. a fixed tenant-id space), which drops the extra scan entirely.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_ZKEY = "__zkey"


def _normalize(
    col: Column, lo: float, hi: float, bits: int
) -> Column:
    """Linear-bin a numeric column into [0, 2**bits) as a long; the
    degenerate lo == hi domain maps everything to 0."""
    n_bins = (1 << bits) - 1
    if hi <= lo:
        return F.lit(0).cast("long")
    scaled = (col.cast("double") - F.lit(float(lo))) / F.lit(
        float(hi) - float(lo)
    )
    clamped = F.least(F.greatest(scaled, F.lit(0.0)), F.lit(1.0))
    return F.round(clamped * n_bins).cast("long")


def zorder_key(
    cols: Sequence[Column], bits: int = 16
) -> Column:
    """Interleave the low ``bits`` bits of the given (already
    normalized, non-negative long) columns into one Morton key.

    Bit layout: key bit (i * n_cols + j) = bit i of cols[j], so equal
    prefixes of the key correspond to hypercubes of the domain — the
    property that gives every contiguous key range a tight per-column
    envelope.  Pure shiftleft/shiftright/bitwise-and composition:
    whole-stage codegen, no UDFs.
    """
    n = len(cols)
    if not 1 <= n * bits <= 62:
        raise ValueError(f"{n} cols x {bits} bits exceeds a signed long")
    key = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftright(c, i).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, i * n + j))
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    n_files: int = 32,
    bits: int = 16,
    ranges: dict[str, tuple[float, float]] | None = None,
) -> None:
    """Write ``df`` as plain parquet clustered along the z-order curve
    of ``cols``.

    ``ranges`` maps column -> (lo, hi) normalization domain; columns not
    given are scanned once for min/max (1-row collect, write-time only).
    """
    need = [c for c in cols if ranges is None or c not in ranges]
    got = dict(ranges or {})
    if need:
        row = df.agg(
            *[F.min(c).cast("double").alias(f"lo_{c}") for c in need],
            *[F.max(c).cast("double").alias(f"hi_{c}") for c in need],
        ).collect()[0]
        for c in need:
            got[c] = (row[f"lo_{c}"], row[f"hi_{c}"])
    z = _build_zkey(df, cols, bits, got)
    (
        df.withColumn(_ZKEY, z)
        .repartitionByRange(n_files, _ZKEY)
        .sortWithinPartitions(_ZKEY)
        .drop(_ZKEY)
        .write.mode("overwrite")
        .parquet(path)
    )


def _build_zkey(df, cols, bits, got):
    return zorder_key(
        [
            _normalize(F.col(c), got[c][0], got[c][1], bits)
            for c in cols
        ],
        bits,
    )


def compact_parquet(
    spark,
    path: str,
    target_bytes: int = 256 * 1024 * 1024,
    zorder_cols: Sequence[str] | None = None,
    bits: int = 16,
) -> int:
    """Rewrite a flat parquet directory into files of roughly
    ``target_bytes`` each; returns the new file count.

    The small-files problem is the classic 100 TB operational failure
    mode (per-file open/footer/task overhead dominating the scan); this
    is the stock compaction: size the output from the ACTUAL on-disk
    bytes, one repartition, then promote with a rename-aside swap
    (write to `.tmp`, demote current to `.old`, promote, drop `.old`)
    so readers never observe a partial directory.  The output stays a
    plain parquet directory any ``spark.read.parquet(path)`` reads —
    the one contract here a snapshot pointer would break.  A promote
    that fails restores `.old` and re-raises (the staged `.tmp` is
    kept); a process killed between the two renames leaves the
    previous data intact at `.old` for the operator to move back.

    ``zorder_cols`` re-clusters along the Morton curve while compacting
    (the OPTIMIZE-ZORDER composition — plain round-robin compaction
    would destroy an existing clustering); plain compaction otherwise.
    Hive-partitioned directories are out of scope: compact each leaf
    partition directory instead (the partition columns would otherwise
    be folded into the data files).
    """
    import math
    import os
    import shutil

    if target_bytes < 1:
        raise ValueError(f"target_bytes must be >= 1, got {target_bytes}")
    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_bytes))
    tmp = path + ".tmp"
    df = spark.read.parquet(path)
    if zorder_cols:
        write_zordered(df, tmp, zorder_cols, n_files=n_files, bits=bits)
    else:
        df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    old = path + ".old"
    shutil.rmtree(old, ignore_errors=True)  # leftover of a prior crash
    os.replace(path, old)
    try:
        os.replace(tmp, path)
    except OSError:
        os.replace(old, path)
        raise
    shutil.rmtree(old, ignore_errors=True)
    return n_files
