"""Seeded benchmark inputs, landed as parquet with pyarrow.

Pipeline sources come from ``tests.fixtures.make_sources`` and are written
one file per table (``<dir>/<table>/part-00000.parquet``), so the engine
reads them as parquet *paths* and can use its footer change signal.  A
wave appends one more file to one table.  Timestamps are written as
``timestamp("us", tz="UTC")``: naive ones would read back as
TIMESTAMP_NTZ under the engine's UTC session.

The curation corpus is generated here, in the shape of the test data's
``documents.parquet`` (doc_id, text, lang, source, n_chars), with planted
near-duplicates, short documents and evaluation copies so every curation
disposition occurs.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("obs", "encounter", "orders", "person")


def _arrow_schema(struct) -> pa.Schema:
    from pyspark.sql import types as T

    def conv(dtype):
        if isinstance(dtype, T.LongType):
            return pa.int64()
        if isinstance(dtype, T.IntegerType):
            return pa.int32()
        if isinstance(dtype, T.DoubleType):
            return pa.float64()
        if isinstance(dtype, T.StringType):
            return pa.string()
        if isinstance(dtype, T.TimestampType):
            return pa.timestamp("us", tz="UTC")
        raise TypeError(f"no arrow type for {dtype}")

    return pa.schema(
        [pa.field(f.name, conv(f.dataType), f.nullable) for f in struct.fields]
    )


def source_schemas() -> dict[str, pa.Schema]:
    from mrsboraetl_spark.schemas import (
        ENCOUNTER_SCHEMA,
        OBS_SCHEMA,
        ORDERS_SCHEMA,
        PERSON_SCHEMA,
    )

    return {
        "obs": _arrow_schema(OBS_SCHEMA),
        "encounter": _arrow_schema(ENCOUNTER_SCHEMA),
        "orders": _arrow_schema(ORDERS_SCHEMA),
        "person": _arrow_schema(PERSON_SCHEMA),
    }


def _utc(v):
    if v is None:
        return None
    if hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
    if isinstance(v, float) or v != v:  # NaN / NaT
        return None
    return v.replace(tzinfo=dt.timezone.utc)


def _to_arrow(records: list[dict], schema: pa.Schema) -> pa.Table:
    cols = {}
    for f in schema:
        vals = [r.get(f.name) for r in records]
        if pa.types.is_timestamp(f.type):
            vals = [_utc(v) for v in vals]
        elif pa.types.is_integer(f.type):
            vals = [None if v is None or v != v else int(v) for v in vals]
        elif pa.types.is_floating(f.type):
            vals = [None if v is None or v != v else float(v) for v in vals]
        else:
            vals = [None if v is None or (isinstance(v, float) and v != v)
                    else v for v in vals]
        cols[f.name] = pa.array(vals, type=f.type)
    return pa.table(cols, schema=schema)


class PipelineSources:
    """The four source tables of one benchmark run, on disk.

    ``paths`` is the ``{table: directory}`` mapping handed to
    ``PipelineRunner.run``.  ``orders_wave`` appends a new orders file of
    rows dated after everything already landed."""

    def __init__(self, root: str, n_persons: int, seed: int):
        from tests.fixtures import make_sources

        self.root = root
        self.rng = random.Random(seed ^ 0x5EED)
        self.schemas = source_schemas()
        pdfs = make_sources(n_persons=n_persons, seed=seed)
        recs = {k: pdfs[k].to_dict("records") for k in TABLES}
        # Encounter edits dated after the last obs would be re-queued by
        # every sync (the engine's watermark is the obs/encounter max of
        # date_created); clamp them so a no-op sync really is one.
        self.wm = max(
            max(r["date_created"] for r in recs["obs"]),
            max(r["date_created"] for r in recs["orders"]),
        ).to_pydatetime()
        for r in recs["encounter"]:
            dc = r["date_changed"]
            if dc is not None and dc == dc and dc.to_pydatetime() > self.wm:
                r["date_changed"] = self.wm
        self.next_order_id = max(r["order_id"] for r in recs["orders"]) + 1
        # Wave targets: live persons whose live encounters are all
        # clinical and all in one month, so a wave touches exactly one
        # month of the partitioned target and its write volume does not
        # hinge on the persons drawn.
        from mrsboraetl_spark.config import CLINICAL_ENCOUNTER_TYPES

        excluded = {r["person_id"] for r in recs["person"] if r["voided"]}
        months: dict[int, set] = {}
        encs: dict[int, list] = {}
        for r in recs["encounter"]:
            pid = r["patient_id"]
            months.setdefault(pid, set()).add(
                r["encounter_datetime"].strftime("%Y-%m")
            )
            if r["encounter_type"] not in CLINICAL_ENCOUNTER_TYPES:
                excluded.add(pid)
            if not r["voided"]:
                encs.setdefault(pid, []).append(r)
        self.by_month: dict[str, list[int]] = {}
        for pid, ms in months.items():
            if len(ms) == 1 and pid not in excluded and pid in encs:
                self.by_month.setdefault(next(iter(ms)), []).append(pid)
        self.encounters = encs
        self.months = sorted(set().union(*months.values()))
        self.paths = {k: os.path.join(root, k) for k in TABLES}
        self.rows = {k: len(recs[k]) for k in TABLES}
        self.files = {k: 0 for k in TABLES}
        for k in TABLES:
            os.makedirs(self.paths[k], exist_ok=True)
            self._append(k, recs[k])
        self.waves = 0

    def _append(self, table: str, records: list[dict]) -> None:
        name = f"part-{self.files[table]:05d}.parquet"
        tmp = os.path.join(self.root, f".{table}.{name}.tmp")
        pq.write_table(_to_arrow(records, self.schemas[table]), tmp)
        os.replace(tmp, os.path.join(self.paths[table], name))
        self.files[table] += 1
        if self.files[table] > 1:
            self.rows[table] += len(records)

    def _wave_encounters(self, n_persons: int) -> list[dict]:
        """The encounters of ``n_persons`` wave-target persons of one
        month, both chosen by the seed."""
        month = self.rng.choice(sorted(
            m for m, pids in self.by_month.items() if len(pids) >= n_persons
        ))
        pids = self.rng.sample(sorted(self.by_month[month]), n_persons)
        return [e for pid in pids for e in self.encounters[pid]]

    def _next_created(self) -> dt.datetime:
        self.waves += 1
        return self.wm + dt.timedelta(days=self.waves)

    def orders_wave(self, n_rows: int = 10, n_persons: int = 2):
        """Land the wave; returns (date_created, encounter ids)."""
        created = self._next_created()
        encs = self._wave_encounters(n_persons)
        rows = []
        for i in range(n_rows):
            e = encs[i % len(encs)]
            rows.append(dict(
                order_id=self.next_order_id, patient_id=e["patient_id"],
                encounter_id=e["encounter_id"],
                concept_id=self.rng.choice([5497, 21, 1569, 1883, 856]),
                location_id=self.rng.choice([1, 2, 3]),
                date_activated=e["encounter_datetime"], voided=0,
                date_created=created,
            ))
            self.next_order_id += 1
        self._append("orders", rows)
        return created, {r["encounter_id"] for r in rows}

    def bytes_on_disk(self) -> int:
        return tree_bytes(self.root)


VOCAB = (
    "a the data row column table key value join group order sort merge "
    "hash scan filter agg window stream batch spark query part line "
    "customer small big fast slow vector"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def _doc_texts(rng: random.Random, n_docs: int, earlier: list[str]):
    """``n_docs`` texts: about 5% near-copies (one word changed) of a
    text in ``earlier`` or of one generated before it, 3% too short for
    the quality gate, the rest 12-90 words."""
    texts: list[str] = []
    for _ in range(n_docs):
        roll = rng.random()
        pool = earlier or texts
        if roll < 0.05 and pool:
            words = rng.choice(pool).split()
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
        elif roll < 0.08:
            words = rng.choices(VOCAB, k=rng.randint(2, 6))
        else:
            words = rng.choices(VOCAB, k=rng.randint(12, 90))
        texts.append(" ".join(words))
    return texts


class Corpus:
    """A ``documents.parquet``-shaped corpus (doc_id, text, lang, source,
    n_chars) plus an evaluation set, on disk.

    The documents are a directory of parquet files (``docs_path``); the
    evaluation set is 30 documents the seed picks out of the first file
    (so decontamination has hits).  ``wave`` appends a file of new
    documents, some of them near-copies of documents already landed."""

    def __init__(self, root: str, n_docs: int, seed: int):
        self.rng = random.Random(seed)
        self.docs_path = os.path.join(root, "documents")
        self.eval_path = os.path.join(root, "eval.parquet")
        os.makedirs(self.docs_path, exist_ok=True)
        self.texts: list[str] = []
        self.files = 0
        table = self._append(n_docs)
        eval_ids = sorted(self.rng.sample(range(n_docs), min(30, n_docs)))
        pq.write_table(
            table.take(pa.array(eval_ids)).select(["doc_id", "text"]),
            self.eval_path,
        )
        self.counts = {"docs": n_docs, "eval_docs": len(eval_ids)}

    def _append(self, n_docs: int) -> pa.Table:
        first = len(self.texts)
        texts = _doc_texts(self.rng, n_docs, self.texts)
        self.texts.extend(texts)
        table = pa.table({
            "doc_id": pa.array(range(first, first + n_docs), type=pa.int64()),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array([self.rng.choice(LANGS) for _ in texts]),
            "source": pa.array(
                [f"src{i % 4}" for i in range(first, first + n_docs)]
            ),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        })
        pq.write_table(table, os.path.join(
            self.docs_path, f"part-{self.files:05d}.parquet"
        ))
        self.files += 1
        return table

    def wave(self, n_docs: int) -> None:
        self._append(n_docs)
        self.counts["docs"] += n_docs

    def bytes_on_disk(self) -> int:
        return tree_bytes(self.docs_path) + os.path.getsize(self.eval_path)


def tree_bytes(root: str) -> int:
    total = 0
    for d, _dirs, names in os.walk(root):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(d, n))
            except OSError:
                pass
    return total
