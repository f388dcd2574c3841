"""Change signals from parquet FOOTER statistics — no data scan.

The engine's stage-level no-op skip needs max(date_created) /
max(date_voided) per source every sync.  Computing those with a
column scan means a sync whose delta is 4 rows still reads every
value of 2 columns of every source — the reference pays an indexed
MySQL MAX instead ("takes about 10 seconds" on the full table,
flat_obs_v1.0.sql:63, because it walks an index, not the rows).  The
parquet equivalent of that index is the footer: every row group
already carries min/max/null_count per column, so the true column max
is the max over row-group maxes — a metadata-only read of each file's
footer (a few KB per file), never the pages.

Correctness contract: a column's footer-derived max is returned ONLY
when every row group of every file PROVES its contribution — exact
min/max statistics present, or a provable all-null chunk
(null_count == num_values, contributing nothing).  Any file missing
the column, or any chunk without usable statistics, withdraws the
column entirely and the caller falls back to the scan — slower, never
wrong.  Timestamps are normalized to naive UTC, matching what a
UTC-pinned Spark session's scan-derived max collects (the engine
compares and stores signals in that form).

The JDBC half of the same cost model lives in
``jdbc_column_maxes``: MAX pushed down as a one-row dbtable subquery,
so the source database walks its PK/secondary index instead of
shipping the table.
"""

from __future__ import annotations

import datetime as dt
import os


def _to_naive_utc(v):
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return v


def _parquet_files(path: str) -> list[str]:
    """Data files under ``path`` (recursing through partition dirs),
    skipping underscore/dot-prefixed sidecars and staging dirs the
    same way Spark's file discovery does."""
    out: list[str] = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [
            d for d in dirs
            if not d.startswith(("_", "."))
            and not d.endswith((".tmp", ".old"))
        ]
        out += [
            os.path.join(root, n)
            for n in names
            if n.endswith(".parquet") and not n.startswith(("_", "."))
        ]
    return out


_NULLABLE_KEYS = ("nullable", "containsNull", "valueContainsNull")


def _as_nullable(j):
    if isinstance(j, list):
        return [_as_nullable(v) for v in j]
    if isinstance(j, dict):
        return {
            k: True if k in _NULLABLE_KEYS else _as_nullable(v)
            for k, v in j.items()
        }
    return j


def footer_schema(file: str, cols=None):
    """The schema Spark reads one parquet file (or its ``cols``) with,
    from its footer alone: zero Spark jobs.  Spark reads every file
    source as nullable at every nesting level, so the footer's
    required fields are relaxed the same way."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import StructType

    s = pq.read_schema(file)
    if cols is not None:
        s = pa.schema([s.field(c) for c in cols])
    return StructType.fromJson(_as_nullable(from_arrow_schema(s).jsonValue()))


def read_files(spark, files):
    """``spark.read.parquet(*files)`` for files the engine wrote itself
    (one schema per table), with the schema taken from the first file's
    footer: an explicit schema spares Spark its schema-inference job,
    which runs even with mergeSchema off.  Not for external sources,
    whose footers may carry types Spark reads differently
    (TIMESTAMP(NANOS) under nanosAsLong)."""
    return spark.read.schema(footer_schema(files[0])).parquet(*files)


def parquet_row_count(path: str, files=None) -> int | None:
    """Exact row count of the parquet files under ``path`` from footer
    metadata alone (sum of per-file num_rows — the same number Spark's
    metadata-only COUNT(*) reads), or None when any footer is
    unreadable (caller falls back to a scan).  One footer read per
    file, zero Spark jobs — the freshly-staged JDBC delta's emptiness
    probe (VERDICT r12 item 3: the separate pushed isEmpty query and
    the post-merge count job were two of the fixed per-sync jobs that
    made a small delta sync slower on wall than a full copy)."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow is baked in
        return None
    files = _parquet_files(path) if files is None else list(files)
    total = 0
    for f in files:
        try:
            total += pq.ParquetFile(f).metadata.num_rows
        except Exception:
            return None
    return total


def parquet_key_stats(files, key: str) -> dict | None:
    """{file: [lo, hi, n_rows]} of the integer column ``key`` per data
    file, from FOOTER metadata alone — no data pages read, zero Spark
    jobs; keyed by the strings given.  The same entries a grouped
    min/max/count pass over the files yields: a zero-row file gets no
    entry.  Integer statistics are exact and never truncated, unlike
    strings; any file whose footer cannot prove its range (key absent,
    a key whose statistics are not plain integers, no statistics, an
    all-null chunk) returns None and the caller falls back to that
    pass."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow is baked in
        return None
    out: dict = {}
    for f in files:
        try:
            md = pq.ParquetFile(f).metadata
        except Exception:
            return None
        lo = hi = None
        for rg_i in range(md.num_row_groups):
            rg = md.row_group(rg_i)
            idx = {
                rg.column(i).path_in_schema: i
                for i in range(rg.num_columns)
            }
            if key not in idx:
                return None
            col = rg.column(idx[key])
            if col.num_values == 0 and rg.num_rows == 0:
                # zero-row chunk: contributes nothing — same rule as
                # parquet_column_maxes
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                return None
            if not all(type(v) is int for v in (st.min, st.max)):
                return None  # not a plain integer (DATE, TIMESTAMP, ...)
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if lo is not None:
            out[f] = [int(lo), int(hi), int(md.num_rows)]
    return out


def parquet_column_maxes(path: str, cols, files=None) -> dict:
    """{col: max-or-None} for every column of ``cols`` whose maximum is
    PROVABLE from footer statistics alone; columns that are not are
    simply absent (caller falls back to a scan).  A present column
    mapped to None is a proven all-null column — the same signal a
    scan would return.  Cost: one footer read per file.

    ``files``: explicit file list to read footers from — pass the
    consuming DataFrame's OWN pinned listing (``df.inputFiles()``) when
    the signal must cover exactly what the stages will process: a
    fresh directory walk could see a part-file that landed after the
    DataFrame pinned its index, and a signal covering unprocessed rows
    makes every later sync skip them forever (the snapshot-before-
    stage ordering the engine documents).  String/binary columns are
    never answered from footers: parquet writers TRUNCATE their
    statistics (the recorded max can exceed the true max), which would
    overstate a signal and skip a real change."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow is baked in
        return {}
    files = _parquet_files(path) if files is None else list(files)
    if not files:
        return {}
    out = {c: None for c in cols}
    usable = set(cols)
    for f in files:
        if not usable:
            break
        try:
            md = pq.ParquetFile(f).metadata
        except Exception:
            return {}
        for rg_i in range(md.num_row_groups):
            rg = md.row_group(rg_i)
            idx = {
                rg.column(i).path_in_schema: i
                for i in range(rg.num_columns)
            }
            for c in list(usable):
                if c not in idx:
                    usable.discard(c)
                    continue
                col = rg.column(idx[c])
                if col.num_values == 0 and rg.num_rows == 0:
                    # zero-row chunk (empty file / empty row group from
                    # another writer): provably contributes nothing —
                    # no statistics needed to know that
                    continue
                if col.physical_type in (
                    "BYTE_ARRAY",
                    "FIXED_LEN_BYTE_ARRAY",
                ):
                    # truncatable statistics: max may be an upper
                    # bound, not a value — never provable
                    usable.discard(c)
                    continue
                st = col.statistics
                if st is not None and st.has_min_max:
                    mx = _to_naive_utc(st.max)
                    if out[c] is None or mx > out[c]:
                        out[c] = mx
                elif (
                    st is not None
                    and st.null_count is not None
                    and st.null_count == col.num_values
                ):
                    # provably all-null chunk: contributes nothing
                    continue
                else:
                    usable.discard(c)
    return {c: out[c] for c in usable}


def jdbc_column_maxes(
    spark,
    url: str,
    table: str,
    cols,
    properties: dict | None = None,
    dialect: str = "ansi",
) -> dict:
    """{col: max-or-None} via a pushed-down one-row aggregate — the
    source database answers MAX from its indexes instead of shipping
    the table through the JDBC pipe (the reference's indexed-MAX cost
    model, flat_obs_v1.0.sql:63).  Identifiers are quoted per dialect
    (ANSI double quotes; MySQL's default sql_mode needs backticks —
    the same hazard sources/readers.jdbc_pushdown_subquery documents).
    ``table`` passes through VERBATIM (quote it yourself if its stored
    name needs case preservation — Spark's own JDBC writer leaves the
    table name unquoted, so a Derby table written as ``obs`` lives as
    ``OBS`` with quoted-lowercase columns)."""
    q = '"{}"'.format if dialect == "ansi" else "`{}`".format
    select = ", ".join(f"MAX({q(c)}) AS {q(c)}" for c in cols)
    sub = f"(SELECT {select} FROM {table}) signal_probe"
    row = _one_row(spark, url, sub, properties)
    # Same naive-UTC form the engine's scan-derived signals use, so a
    # deployment can switch source forms without a signal mismatch.
    return {c: _to_naive_utc(row[c]) for c in cols}


# Modulus for the portable person-void fingerprint: both the Spark-side
# aggregate (engine._person_void_state) and the pushed-down SQL below
# compute sum(mod(id*id, VOID_FP_MOD)), so a deployment can switch
# between DataFrame/path/JDBC source forms without the fingerprint
# spuriously changing (a mismatch only costs one conservative re-sync).
# Chosen < 2^31 so id^2 mod m sums stay far from BIGINT overflow even
# over billions of voided rows, and expressible in ANSI SQL + MySQL +
# Spark with identical semantics for the non-negative ids sources use.
VOID_FP_MOD = 2_147_483_647


def jdbc_row_count(
    spark, url: str, table: str, properties: dict | None = None
) -> int:
    """Exact source row count via ONE pushed-down one-row aggregate —
    the reconcile probe for watermark-scoped snapshot staging (r12):
    a hard-deleted source row moves no change column, so only a count
    mismatch can reveal it.  Cost note: COUNT(*) is an index walk on
    InnoDB (not O(1)), which is why reconciliation is OPT-IN per
    source (JdbcSource.reconcile) rather than a per-sync default."""
    sub = f"(SELECT COUNT(*) AS n FROM {table}) count_probe"
    row = _one_row(spark, url, sub, properties)
    # positional: an unquoted alias round-trips case-folded on some
    # engines (Derby stores it as N), and the one-column shape is fixed
    return int(row[0])


def _one_row(spark, url: str, dbtable: str, properties: dict | None):
    reader = spark.read.format("jdbc").option("url", url).option(
        "dbtable", dbtable
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load().collect()[0]


def jdbc_column_exists(
    spark,
    url: str,
    table: str,
    col: str,
    properties: dict | None = None,
    dialect: str = "ansi",
) -> bool | None:
    """Whether ``col`` exists on the source table — one zero-row schema
    probe (WHERE 1=0, never executed against data).  Used to decide if
    a failed column-dependent pushdown was a MISSING COLUMN (cache the
    dateless form) or a transient error (retry next sync): memoizing on
    the bare exception would permanently degrade the signal after one
    network blip (r9 review finding).

    Returns True / False / None for exists / proven absent / UNKNOWN.
    False requires PROOF the probe reached the database: when the
    column probe fails, a control probe of the same table WITHOUT the
    column (SELECT 1 ... WHERE 1=0) must succeed — a connectivity or
    table-level failure fails both and yields None, so a single blip
    in which the void probe AND this probe both die can never pin the
    degraded form for the runner's lifetime (ADVICE r9: callers only
    memoize on a definite False)."""
    q = '"{}"'.format if dialect == "ansi" else "`{}`".format

    def _probe(select: str) -> bool:
        sub = f"(SELECT {select} FROM {table} WHERE 1=0) col_probe"
        reader = spark.read.format("jdbc").option("url", url).option(
            "dbtable", sub
        )
        for k, v in (properties or {}).items():
            reader = reader.option(k, v)
        reader.load().schema
        return True

    try:
        return _probe(q(col))
    except Exception:
        pass
    try:
        _probe("1 AS one")
    except Exception:
        return None  # database/table unreachable: column state unknown
    return False


def jdbc_person_void_state(
    spark,
    url: str,
    table: str,
    properties: dict | None = None,
    dialect: str = "ansi",
    with_date: bool = True,
):
    """(max date_voided | None, fingerprint) of the voided-person set,
    answered by ONE pushed-down one-row aggregate — the JDBC half of
    the engine's undated-void defense (engine._person_void_state), so a
    steady-state sync against the replica never ships the person table.
    The fingerprint {n, s1, s2} is order-independent (count, sum of
    ids, sum of squared ids mod VOID_FP_MOD) and computed identically
    by the Spark-side scan, so the two source forms interoperate on the
    same stored state.  ``with_date=False`` omits the MAX(date_voided)
    column for sources without it (caller retries on error — a missing
    column fails the whole probe loudly, never silently)."""
    q = '"{}"'.format if dialect == "ansi" else "`{}`".format
    big = "BIGINT" if dialect == "ansi" else "SIGNED"
    pid = q("person_id")
    parts = [
        'COUNT(*) AS "n"' if dialect == "ansi" else "COUNT(*) AS `n`",
        f'SUM({pid}) AS {q("s1")}',
        f"SUM(MOD(CAST({pid} AS {big}) * {pid}, {VOID_FP_MOD}))"
        f' AS {q("s2")}',
    ]
    if with_date:
        parts.append(f'MAX({q("date_voided")}) AS {q("dv")}')
    sub = (
        f"(SELECT {', '.join(parts)} FROM {table}"
        f' WHERE {q("voided")} = 1) void_probe'
    )
    row = _one_row(spark, url, sub, properties)
    fp = {
        "n": int(row["n"] or 0),
        "s1": int(row["s1"] or 0),
        "s2": int(row["s2"] or 0),
    }
    dv = _to_naive_utc(row["dv"]) if with_date else None
    return dv, fp
