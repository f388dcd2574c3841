"""Training-shard export: deterministic globally-shuffled parquet shards.

The last mile of a curation pipeline: the kept/packed corpus has to land
on disk as N shards a trainer can stream, where (a) the global read order
is a seeded pseudo-random permutation (no source/time locality leaking
into batch composition), (b) shard sizes are balanced to within one row,
and (c) the whole layout is reproducible — same corpus + same seed ⇒
byte-identical shard membership and order, on any cluster.

Spelling: ``epoch_shuffle`` (operators/order.py — deterministic md5-prefix
buckets, no sampled range partitioner) gives every row a stable 0-based
``pos``; ``shard = pos % n_shards`` round-robins the permutation across
shards, which yields both the ±1 row balance and the property that EVERY
shard is itself an unbiased uniform subsample of the corpus (a prefix of
the shard list is a valid smaller corpus — useful for scaling-law runs).
The write is ``repartition(n_shards, shard)`` + ``sortWithinPartitions
(pos)`` + hive-style ``partitionBy(shard)``: one hash shuffle, each task
writes exactly one shard directory, rows inside a shard are pos-ascending
so a trainer interleaving shards round-robin reconstructs the exact
global permutation.

``weight_col`` switches to WEIGHT-balanced sharding (e.g. tokens):
shards become contiguous ranges of the permutation cut at equal
cumulative weight via the two-phase global prefix sum — balanced to
within one document's weight, still uniform subsamples (contiguous
ranges of a random permutation), though no longer round-robin
interleavable (concatenating shards in order reconstructs the
permutation instead).

The manifest (one tiny JSON, written last) records seed, shard count and
per-shard row counts (plus per-shard weight when weighted) — the commit
marker the reader checks, written last like a snapshot pointer
(sources/snapshot.py): a crashed export leaves no manifest and is
invisible.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mrsboraetl_spark.operators.order import epoch_shuffle
from mrsboraetl_spark.sources import snapshot

MANIFEST = "_shard_manifest.json"


def write_training_shards(
    df: DataFrame,
    id_col: str,
    path: str,
    n_shards: int,
    seed: str,
    weight_col: str | None = None,
    data_format: str = "parquet",
) -> dict:
    """Export ``df`` as ``n_shards`` deterministic shard directories under
    ``path`` (``shard=K/``), globally shuffled by ``md5(seed:id)``.
    Returns the manifest dict.

    Default sharding is ``pos % n_shards`` round-robin (row balance ±1).
    With ``weight_col`` (e.g. a token count), shards are instead
    contiguous WEIGHT-balanced ranges of the permutation:
    ``shard = floor(prefix_weight * n / total_weight)`` using the
    exclusive global running weight — each shard carries total/n weight
    to within one document, and because the order is a seeded random
    permutation, contiguous ranges are still unbiased uniform
    subsamples.  The total enters as a literal from one bounded 1-row
    aggregate (the watermark-store precedent).

    ``data_format``: "parquet" (default) or any Spark sink format —
    "json" gives trainer-facing JSONL shards (one JSON object per
    line; schema is inferred on read-back, so keep shard columns to
    plain scalars).  The format is recorded in the manifest and
    honored by read_training_shards."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if weight_col is None:
        ordered = epoch_shuffle(df, id_col, seed)
        shard = (F.col("pos") % n_shards).cast("int")
    else:
        ordered = epoch_shuffle(df, id_col, seed, weight_col=weight_col)
        row = df.agg(F.sum(weight_col).alias("s")).first()
        total = row["s"] if row else None
        if not total or total <= 0:
            raise ValueError(f"total {weight_col} must be positive: {total}")
        shard = F.least(
            F.floor(F.col("prefix") * n_shards / F.lit(int(total))),
            F.lit(n_shards - 1),
        ).cast("int")
    sharded = ordered.withColumn("shard", shard)
    if weight_col is not None:
        # The running-weight prefix is an internal artifact of the shard
        # assignment; trainers read back (input columns + pos, shard).
        sharded = sharded.drop("prefix")
    (
        sharded.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .format(data_format)
        .save(path)
    )
    # Bounded driver action: n_shards rows.
    aggs = [F.count(F.lit(1)).alias("n")]
    if weight_col is not None:
        aggs.append(F.sum(weight_col).alias("w"))
    stats = {
        int(r["shard"]): r
        for r in sharded.groupBy("shard").agg(*aggs).collect()
    }
    counts = {k: int(r["n"]) for k, r in stats.items()}
    manifest = {
        "seed": seed,
        "n_shards": n_shards,
        "format": data_format,
        "rows": sum(counts.values()),
        "shard_rows": [counts.get(i, 0) for i in range(n_shards)],
    }
    if weight_col is not None:
        manifest["weight_col"] = weight_col
        manifest["shard_weight"] = [
            int(stats[i]["w"]) if i in stats else 0 for i in range(n_shards)
        ]
    snapshot.write_json(os.path.join(path, MANIFEST), manifest)
    return manifest


def read_manifest(path: str) -> dict:
    with open(os.path.join(path, MANIFEST)) as f:
        return json.load(f)


def read_training_shards(
    spark: SparkSession, path: str, shards: list[int] | None = None
) -> DataFrame:
    """Read back an export (optionally a subset of shards — each shard is
    a uniform subsample by construction), verified against the manifest.
    Rows carry (pos, shard); ordering by pos reproduces the global
    permutation."""
    manifest = read_manifest(path)
    df = spark.read.format(manifest.get("format", "parquet")).load(path)
    if shards is not None:
        bad = [s for s in shards if not 0 <= s < manifest["n_shards"]]
        if bad:
            raise ValueError(f"unknown shards {bad}")
        df = df.filter(F.col("shard").isin(shards))
    return df
