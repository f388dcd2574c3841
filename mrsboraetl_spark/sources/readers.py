"""Table readers.

The reference scans a replicated MySQL ``openmrs`` database
(flat_obs_v1.0.sql:147-149).  The engine reads the same logical tables from
either:

* parquet directories (tests / lakehouse layout) — columnar, predicate +
  projection pushdown for free; or
* JDBC (production parity) — partitioned reads so a 1000-executor cluster
  doesn't funnel a 100 TB scan through one connection.  ``partition_column``
  /``num_partitions`` map to Spark's JDBC range partitioning, and watermark
  predicates are passed in the pushed-down ``WHERE`` so MySQL's index on
  date_created keeps serving the incremental scans the reference relied on.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame, SparkSession


@dataclasses.dataclass(frozen=True)
class JdbcSource:
    """A JDBC-resident source table, accepted by ``PipelineRunner.run``
    wherever a DataFrame or parquet path is — the reference's actual
    deployment shape: a replicated MySQL ``openmrs`` database
    (flat_obs_v1.0.sql:147-149).

    Declaring the source (rather than handing run() a pre-loaded
    DataFrame) unlocks two things a 100 TB deployment needs:

    * the per-sync change signal is answered by a PUSHED-DOWN one-row
      MAX aggregate (sources/footer_stats.jdbc_column_maxes) — the
      source database walks its date_created/date_voided indexes
      instead of shipping the table through the JDBC pipe, the exact
      indexed-MAX cost model the reference relies on ("takes about 10
      seconds ... it's indexed", flat_obs_v1.0.sql:63);
    * resolution is LAZY: a sync whose every stage skips never opens a
      table read at all — not even the schema probe — so a steady-state
      no-op tick against the replica costs a handful of one-row index
      queries (pinned in tests/test_jdbc_pipeline.py).

    Snapshot model: signals are read BEFORE any stage executes, so a
    row arriving mid-run is above the stored signal and is re-processed
    by the next sync (idempotent), never skipped.  Like the reference's
    own refresh-then-run protocol (flat_obs_v1.0.sql:60), a run should
    read a CONSISTENT replica state: rows updated between two Spark
    evaluations of the same lazy scan within one run can tear — point
    the source at a paused replica or snapshot view for strict
    consistency, exactly as the reference does — or set
    ``snapshot=True``.

    ``partition_column``/``num_partitions``/bounds map to Spark's JDBC
    range partitioning so the big tables fan out over many connections.

    ``snapshot`` controls staging to local parquet on first resolution
    (one partitioned JDBC scan + write), after which every stage reads
    the staging copy.  Motivated by measurement
    (PERF.md "Round 10: JDBC at scale"): Spark re-executes a lazy
    JDBC scan per ACTION, and one delta sync's five stages drove ~14
    full scans of ``obs`` over the pipe — a replica-killer at scale.
    With a snapshot the pipe is crossed exactly once per CHANGED table
    per run (skipped stages still resolve nothing), later reads are
    local columnar with footer statistics, and the mid-run tearing
    caveat above disappears: all stages see one frozen state, the exact
    semantics of the reference's paused-replica protocol.

    The default ``snapshot=None`` means AUTO: ``PipelineRunner.run``
    stages every JDBC table it actually resolves — inside the runner a
    resolved table always feeds multiple Spark actions (stage writes,
    sidecar scans, watermark snapshots), so the measured multi-scan
    cost applies to every consumer and staging is the right default,
    not a per-consumer-count decision.  ``snapshot=False`` opts out
    (plain lazy scans, the pre-r10 behavior, kept for A/B probes and
    sources that are themselves frozen views); direct ``.load()``
    calls are unaffected by the flag either way."""

    url: str
    table: str
    properties: tuple[tuple[str, str], ...] | dict | None = None
    dialect: str = "ansi"
    partition_column: str | None = None
    num_partitions: int = 16
    lower_bound: int | str | None = None
    upper_bound: int | str | None = None
    snapshot: bool | None = None
    # Watermark-scoped staging (r12, VERDICT r11 item 3): with BOTH
    # fields declared, the runner's snapshot staging fetches only rows
    # whose change columns passed the previous snapshot's recorded
    # maxes (filter pushed down to the source's indexes — the
    # reference's own watermark shape, flat_obs_v1.0.sql:77,206) and
    # upserts them into a versioned local snapshot by ``delta_key`` —
    # the JDBC pipe carries O(delta) instead of a full table copy per
    # changed table per run.  ``delta_cols`` must name EVERY column a
    # change can advance (created AND voided/changed): same
    # no-backdating assumption as the engine's watermark protocol.
    # Leave undeclared for tables whose rows can mutate without any
    # dated column moving (OpenMRS ``person``: voided can flip with
    # date_voided left NULL) — those keep the full-copy staging, and
    # the engine's person-void fingerprint stays the change detector.
    # Hard-deleted source rows are NOT reflected incrementally (the
    # reference's protocol has the same exposure — OpenMRS voids, it
    # does not delete); a rebuild restages from scratch.
    delta_key: str | None = None
    delta_cols: tuple[str, ...] = ()
    # Opt-in drift detector for the watermark-scoped staging above: a
    # HARD-deleted source row moves no change column, so the
    # incremental snapshot would keep it forever.  With
    # ``reconcile=True`` every delta staging also issues ONE
    # pushed-down COUNT(*) and full-restages on any mismatch with the
    # snapshot's recorded row count.  Opt-in because COUNT(*) is an
    # index walk on InnoDB — per-sync cost proportional to the table,
    # worth paying only for sources that actually hard-delete
    # (OpenMRS voids instead).  Blind spot (ADVICE r12): the probe is
    # COUNT-based, so a deletion offset by an EQUAL number of inserts
    # between two syncs (the inserts arrive through the delta filter,
    # the counts match) leaves the deleted row in the snapshot until
    # some later sync's counts diverge — or a rebuild.  Sources where
    # compensating churn is plausible and deletions must be exact
    # should schedule periodic ``mode='rebuild'`` runs rather than
    # rely on reconcile alone.
    reconcile: bool = False

    def props(self) -> dict:
        return dict(self.properties or {})

    def load(self, spark: SparkSession) -> DataFrame:
        return read_jdbc_table(
            spark,
            self.url,
            self.table,
            partition_column=self.partition_column,
            num_partitions=self.num_partitions,
            lower_bound=self.lower_bound,
            upper_bound=self.upper_bound,
            properties=self.props(),
            dialect=self.dialect,
        )


def jdbc_pushdown_subquery(
    table: str, predicate: str | None = None, dialect: str = "ansi"
) -> str:
    """The ``dbtable`` string read_jdbc_table hands the JDBC source:
    the whole predicate lands inside a subquery the SOURCE database
    plans (index-backed watermark scans, the reference's own shape).
    Pure function so the generated SQL is unit-testable without a
    server.

    ``dialect='mysql'`` validates against MySQL's DEFAULT sql_mode
    (ANSI_QUOTES off), where a double-quoted token is a STRING
    LITERAL, not an identifier: a predicate written for Derby/ANSI —
    ``"voided" = 0`` — silently becomes the constant comparison
    ``'voided' = 0`` on MySQL (string cast to 0, true for every row)
    and the watermark filter stops filtering.  That failure mode is
    silent data corruption, so it is rejected loudly here; MySQL
    identifiers needing quoting use backticks, which pass through
    verbatim."""
    if predicate and dialect == "mysql":
        # Only double quotes OUTSIDE single-quoted string literals are
        # the hazard; "said ""stop""" inside '...' is just characters.
        # Strip '...' literals before checking — under MySQL's default
        # sql_mode a quote inside a literal can be escaped BOTH as ''
        # and as \' (NO_BACKSLASH_ESCAPES off), so the stripper must
        # consume backslash escapes too or it pairs quotes wrongly and
        # the guard turns both unsound and over-strict.
        import re

        stripped = re.sub(r"'(?:[^'\\]|\\.|'')*'", "", predicate)
        if '"' in stripped:
            raise ValueError(
                "double-quoted tokens are string literals under MySQL's "
                "default sql_mode, not identifiers — use backticks: "
                + predicate
            )
    return f"(select * from {table} where {predicate}) t" if predicate else table


def read_jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    predicate: str | None = None,
    partition_column: str | None = None,
    num_partitions: int = 16,
    lower_bound: int | str | None = None,
    upper_bound: int | str | None = None,
    properties: dict[str, str] | None = None,
    dialect: str = "ansi",
) -> DataFrame:
    """Partitioned JDBC scan with an optional pushed-down predicate.

    ``predicate`` lands inside the generated subquery, so e.g. the watermark
    range (date_created > wm) is evaluated by the source database against
    its own indexes — the same plan shape the reference hand-wrote.
    ``dialect='mysql'`` turns on the MySQL quoting validation
    (jdbc_pushdown_subquery) for the reference's actual source engine.
    """
    dbtable = jdbc_pushdown_subquery(table, predicate, dialect)
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", dbtable)
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def read_csv_table(
    spark: SparkSession,
    path: str,
    schema=None,
    header: bool = True,
    delimiter: str = ",",
    timestamp_format: str | None = None,
) -> DataFrame:
    """CSV ingest (extract-file interchange).  ALWAYS pass an explicit
    schema at scale: inferSchema is a second full scan of the data, and a
    drifting inferred type silently changes downstream plans.  With a
    schema the reader is a single streaming pass and malformed rows land
    in the PERMISSIVE-mode corrupt-record column instead of failing the
    job."""
    reader = (
        spark.read.option("header", str(header).lower())
        .option("delimiter", delimiter)
        .option("mode", "PERMISSIVE")
    )
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json_table(
    spark: SparkSession, path: str, schema=None, multiline: bool = False
) -> DataFrame:
    """JSON-lines ingest.  Same schema rule as CSV: explicit schema = one
    pass + stable types; ndjson (multiline=False) splits across executors,
    a single multiline document cannot."""
    reader = spark.read.option("multiLine", str(multiline).lower())
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)

