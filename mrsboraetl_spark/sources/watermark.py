"""Watermark store — the engine form of ``flat_log`` (I1).

Reference protocol (flat_obs_v1.0.sql:61-70):
  1. ``@last_update = max(date_updated) from flat_log where table_name = @v``
  2. fallback: max source timestamp already present in the target
     (the "takes about 10 seconds" join-max, flat_obs_v1.0.sql:63-67)
  3. fallback: '1900-01-01' -> full rebuild.

Implemented as a tiny append-only parquet table read/written by the driver
(it is a handful of rows per year; no scale concern).  The three-level
coalesce is preserved exactly.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mrsboraetl_spark.config import WATERMARK_EPOCH
from mrsboraetl_spark.schemas import FLAT_LOG_SCHEMA
from mrsboraetl_spark.sources import snapshot
from mrsboraetl_spark.sources.footer_stats import _parquet_files, _to_naive_utc

EPOCH = dt.datetime.fromisoformat(WATERMARK_EPOCH)


class WatermarkStore:
    """flat_log over parquet: ``(date_created, date_updated, table_name,
    seconds_to_complete)`` (flat_log_v1.0.sql:2)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _read(self) -> DataFrame | None:
        if not os.path.exists(self.path):
            return None
        return self.spark.read.schema(FLAT_LOG_SCHEMA).parquet(self.path)

    def last_update(
        self, table_name: str, fallback: DataFrame | None = None,
        fallback_col: str = "max_date_created",
    ) -> dt.datetime:
        """Three-level watermark coalesce (flat_obs_v1.0.sql:61-70).
        The log leg reads flat_log with pyarrow on the driver: it is a
        few rows per run, and a Spark aggregate over it cost two jobs
        per stage."""
        wm = self._logged_max(table_name)
        if wm is not None:
            return wm
        if fallback is not None:
            row = fallback.agg(F.max(fallback_col).alias("wm")).first()
            if row and row["wm"] is not None:
                return row["wm"]
        return EPOCH

    def _logged_max(self, table_name: str) -> dt.datetime | None:
        """max(date_updated) over ``table_name``'s rows, as naive UTC
        (the form a UTC-pinned Spark session collects); None when the
        log is absent or holds no non-NULL value for the table."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        best = None
        for f in _parquet_files(self.path):
            t = pq.read_table(f, columns=["date_updated", "table_name"])
            # legacy Spark-written files may hold INT96 (read as naive
            # nanoseconds, UTC-based): truncate to micros as Spark does
            ts = pc.cast(
                t["date_updated"], pa.timestamp("us", tz="UTC"), safe=False
            )
            mx = _to_naive_utc(
                pc.max(ts.filter(pc.equal(t["table_name"], table_name)))
                .as_py()
            )
            if mx is not None and (best is None or mx > best):
                best = mx
        return best

    def log_run(
        self,
        table_name: str,
        started: dt.datetime,
        data_watermark: dt.datetime | None = None,
        finished: dt.datetime | None = None,
    ) -> None:
        """Append a run row (flat_obs_v1.0.sql:344-346).

        ``date_updated`` is the DATA watermark — the max source
        ``date_created`` captured at run start (@last_date_created,
        flat_obs_v1.0.sql:26-28) — NOT wall-clock time; the next sync resumes
        from it, so late-arriving history is only safe because each run
        re-snapshots the source max.  An empty source logs NULL (like the
        reference's NULL @last_date_created): substituting wall-clock time
        would over-advance the watermark past data backfilled later with
        earlier timestamps.  ``last_update``'s max() ignores NULLs, so the
        next run falls through to the target-max/epoch coalesce — the safe
        direction.
        """
        finished = finished or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        seconds = int((finished - started).total_seconds())
        # Driver-side single-file append, NOT a Spark write (r13): the
        # log row is one tuple, and Spark's FileOutputCommitter stages
        # every append under ONE shared ``_temporary/0`` inside the
        # output path — two CONCURRENT runs appending their run rows
        # raced on it and crashed (the whole-pipeline race pin), and
        # each append paid a full Spark job for four fields.  A
        # uuid-named file written whole and os.replace'd in is atomic,
        # concurrent-safe (writers never share a name), and free of
        # Spark fixed cost; pyarrow writes UTC-adjusted timestamps so
        # the bytes read back identically under the engine's UTC-pinned
        # session, mixed with Spark-written legacy files.
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(self.path, exist_ok=True)
        ts = pa.timestamp("us", tz="UTC")

        def enc(v):
            return (
                None if v is None
                else v.replace(tzinfo=dt.timezone.utc)
            )

        table = pa.table({
            "date_created": pa.array([enc(started)], type=ts),
            "date_updated": pa.array([enc(data_watermark)], type=ts),
            "table_name": pa.array([table_name], type=pa.string()),
            "seconds_to_complete": pa.array(
                [seconds], type=pa.int32()
            ),
        })
        name = f"part-{uuid.uuid4().hex}-wmlog.parquet"
        tmp = os.path.join(self.path, f".{name}.tmp")
        pq.write_table(table, tmp)
        # durable before it is visible: a torn part file would make
        # every later _logged_max raise
        snapshot._fsync_path(tmp)
        os.replace(tmp, os.path.join(self.path, name))
        snapshot._fsync_path(self.path)
