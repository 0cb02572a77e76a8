"""Iceberg-backed sink + upsert layer — the production table format the
north rule names (reference analog: the UNLOGGED-staging + atomic-RENAME
publish, DatabaseManager.java:255-332, and the ON CONFLICT upserts,
DatabaseManager.java:404-458).

This sandbox ships no ``iceberg-spark-runtime`` jar and has no network,
so the parquet ``MultiSinkWriter`` (rename-promote protocol,
sinks.py) is the stand-in: semantically equivalent atomic publish,
minus snapshot isolation for concurrent readers. Everything here is the
REAL adapter — with the jar on the classpath and a catalog configured::

    spark-submit \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.11.0 \
      --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.lake.type=hadoop \
      --conf spark.sql.catalog.lake.warehouse=s3://bucket/warehouse \
      ...

it creates/commits/rolls back actual Iceberg snapshots; without it,
constructors raise a clear error naming the missing piece. The SQL
builders (``create_table_sql``, ``merge_into_sql``) are pure functions
so their output is pinned by tests even in this sandbox.

Mapping to the parquet stand-in:

===========================  ==========================================
Iceberg                      sandbox stand-in (sinks.py / upsert.py)
===========================  ==========================================
snapshot commit per chunk    staging dir + per-file atomic rename
PARTITIONED BY               partitionBy(category, day) directory tree
  (category, days(time))
snapshot id in manifest      chunk id + input-file list in manifest
rollback_to_snapshot         remove_chunk (delete chunk-prefixed files)
MERGE INTO (DO NOTHING)      upsert_ignore (left-anti + append)
MERGE INTO (DO UPDATE)       upsert_replace (union + keep-latest)
rewrite_data_files           compact.compact_sinks (bin-pack rewrite +
  (compaction)                 footer-verified swap + manifest record)
===========================  ==========================================
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ICEBERG_CATALOG_CLASS = "org.apache.iceberg.spark.SparkCatalog"
SNAPSHOT_CHUNK_PROP = "pipeline.chunk-id"

# Identifiers interpolated into SQL strings are validated, not escaped:
# chunk ids are machine-generated (chunk-00042) and table names are
# catalog.namespace.table paths — anything outside this alphabet is a
# bug or an injection attempt, and failing loudly beats quoting.
import re as _re

# \Z, not $: $ also matches before a trailing newline, so
# 'chunk-00042\n' would slip an embedded newline into interpolated SQL
_SAFE_ID_RX = _re.compile(r"[A-Za-z0-9_\-.]+\Z")


def _check_sql_identifier(value: str, what: str) -> str:
    if not _SAFE_ID_RX.fullmatch(value or ""):
        raise ValueError(
            f"{what} {value!r} contains characters outside [A-Za-z0-9_-.] "
            "and cannot be safely interpolated into SQL"
        )
    return value


def iceberg_available(spark: SparkSession) -> bool:
    """True iff an Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(ICEBERG_CATALOG_CLASS)  # noqa: SLF001
        return True
    except Exception:
        return False


def create_table_sql(table: str, schema_ddl: str) -> str:
    """DDL for the routed-sink table: one logical table, per-category
    sinks as partition subtrees, day granularity via the ``days``
    transform (no materialized day column needed)."""
    return (
        f"CREATE TABLE IF NOT EXISTS {table} ({schema_ddl}) "
        "USING iceberg "
        "PARTITIONED BY (category, days(time)) "
        "TBLPROPERTIES ("
        "'write.distribution-mode' = 'none', "  # direct task writes — same
        # no-pre-shuffle strategy the parquet writer measured faster
        "'write.parquet.compression-codec' = 'zstd', "  # faster AND smaller
        # than snappy on the token payload (measured, sinks.py)
        "'write.target-file-size-bytes' = '536870912')"
    )


def rewrite_data_files_sql(
    catalog: str,
    table: str,
    target_file_bytes: int = 512 << 20,
    min_input_files: int = 2,
    where: str | None = None,
) -> str:
    """The compaction call (reference analog: index rebuild after load,
    LogFileParser.java:727-821; sandbox stand-in:
    ``compact.compact_sinks``). Bin-pack strategy — same policy as the
    stand-in: rewrite any partition whose data sits in more files than
    ceil(bytes / target). ``where`` scopes the pass (e.g. one day's
    partitions after a daily load) so maintenance cost tracks the
    delta, not the table."""
    _check_sql_identifier(catalog, "catalog")
    _check_sql_identifier(table, "table")
    opts = (
        f"'target-file-size-bytes', '{int(target_file_bytes)}', "
        f"'min-input-files', '{int(min_input_files)}'"
    )
    args = [f"table => '{table}'", "strategy => 'binpack'", f"options => map({opts})"]
    if where is not None:
        # backslash matters too: with default escapedStringLiterals a
        # trailing \ escapes the closing quote and breaks out of the
        # literal (failing loudly beats quoting, same policy as the
        # identifier guard)
        if "'" in where or "\\" in where:
            raise ValueError(
                "where clause must not contain single quotes or backslashes"
            )
        args.append(f"where => '{where}'")
    return f"CALL {catalog}.system.rewrite_data_files({', '.join(args)})"


def merge_into_sql(
    target: str,
    source_view: str,
    keys: list[str],
    non_key_cols: list[str],
    mode: str = "ignore",
) -> str:
    """The two ON CONFLICT shapes as one MERGE INTO statement.

    mode='ignore'  -> INSERT .. ON CONFLICT DO NOTHING
    mode='replace' -> INSERT .. ON CONFLICT DO UPDATE
    """
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    sql = f"MERGE INTO {target} t USING {source_view} s ON {on}"
    if mode == "replace":
        if non_key_cols:
            sets = ", ".join(f"t.{c} = s.{c}" for c in non_key_cols)
            sql += f" WHEN MATCHED THEN UPDATE SET {sets}"
    elif mode != "ignore":
        raise ValueError(f"mode must be 'ignore' or 'replace', got {mode!r}")
    return sql + " WHEN NOT MATCHED THEN INSERT *"


class IcebergMultiSinkWriter:
    """``MultiSinkWriter``'s counterpart over a real Iceberg table: one
    atomic snapshot commit per chunk; readers never see partial data
    and resume rollback is a metadata operation.

    Matches MultiSinkWriter's contract (``write_chunk`` /
    ``remove_chunk``). The manifest's lineage record gains the snapshot
    id (``last_snapshot_id`` after each write). ``run_pipeline`` and
    ``plans.pipeline.load_chunk`` do not take it yet: they build each
    chunk's summary state from the parquet sink layout under the
    pipeline's root, where this writer puts no file, so they refuse it
    before writing (``parquet_sink_layout``).
    """

    # the rows live in the catalog table, not in <root>/data
    parquet_sink_layout = False

    def __init__(self, spark: SparkSession, table: str):
        _check_sql_identifier(table, "table")
        if not iceberg_available(spark):
            raise NotImplementedError(
                "Iceberg runtime not on the classpath — add "
                "org.apache.iceberg:iceberg-spark-runtime and configure a "
                f"catalog ({ICEBERG_CATALOG_CLASS}); in this sandbox use "
                "sinks.MultiSinkWriter (rename-promote stand-in) instead"
            )
        self.spark = spark
        self.table = table
        self._snapshots: dict[str, int] = {}

    def _ensure_table(self, df: DataFrame) -> None:
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )
        self.spark.sql(create_table_sql(self.table, ddl))

    def write_chunk(self, df: DataFrame, chunk_id: str) -> int:
        """Append one chunk in ONE snapshot; returns the snapshot id.

        Rows tagged with the chunk id support exact remove_chunk via a
        metadata-only overwrite (and make per-chunk lineage queryable).
        """
        _check_sql_identifier(chunk_id, "chunk_id")
        out = df.withColumn("_chunk_id", F.lit(chunk_id))
        self._ensure_table(out)
        # Tag the commit itself with the chunk id (snapshot property):
        # the id is then recovered by matching the tag, NOT by a
        # latest-snapshot probe that reads the wrong commit whenever a
        # concurrent writer lands between append() and the query (or two
        # commits share a committed_at millisecond).
        (
            out.writeTo(self.table)
            .option("fanout-enabled", "true")
            .option(f"snapshot-property.{SNAPSHOT_CHUNK_PROP}", chunk_id)
            .append()
        )
        snap = (
            self.spark.sql(
                f"SELECT snapshot_id FROM {self.table}.snapshots "
                f"WHERE summary['{SNAPSHOT_CHUNK_PROP}'] = '{chunk_id}' "
                "ORDER BY committed_at DESC, snapshot_id DESC LIMIT 1"
            ).first()[0]
        )
        self._snapshots[chunk_id] = snap
        return snap

    def remove_chunk(self, chunk_id: str) -> None:
        """Undo a crashed chunk: a single transactional DELETE (Iceberg
        rewrites only affected files; with a recorded snapshot id,
        rollback_to_snapshot is the pure-metadata alternative).

        Idempotent like the parquet writer's remove_chunk — including on
        a fresh run where the table doesn't exist yet (run_pipeline
        calls this BEFORE the first write of every new chunk)."""
        _check_sql_identifier(chunk_id, "chunk_id")
        if not self.spark.catalog.tableExists(self.table):
            return
        self.spark.sql(
            f"DELETE FROM {self.table} WHERE _chunk_id = '{chunk_id}'"
        )

    def exact_chunk_counts(self, chunk_id: str) -> tuple[int, dict[str, int]]:
        """Exact counts for one chunk from the table itself (the chunk
        tag prunes to the chunk's files; Iceberg answers COUNT from
        manifests where possible)."""
        _check_sql_identifier(chunk_id, "chunk_id")
        rows = self.spark.sql(
            f"SELECT category, COUNT(*) AS n FROM {self.table} "
            f"WHERE _chunk_id = '{chunk_id}' GROUP BY category"
        ).collect()
        per_cat = {r["category"]: r["n"] for r in rows}
        return sum(per_cat.values()), per_cat

    def last_snapshot_id(self, chunk_id: str) -> int | None:
        return self._snapshots.get(chunk_id)

    def compact(
        self,
        target_file_bytes: int = 512 << 20,
        min_input_files: int = 2,
        where: str | None = None,
    ):
        """Post-load compaction: one rewrite_data_files snapshot (the
        Iceberg-native form of ``compact.compact_sinks``). Scope with
        ``where`` after an incremental load so the pass touches only
        the partitions the load fragmented."""
        catalog, _, rest = self.table.partition(".")
        if not rest:
            raise ValueError(
                f"table {self.table!r} must be catalog-qualified for CALL"
            )
        return self.spark.sql(
            rewrite_data_files_sql(
                catalog, rest, target_file_bytes, min_input_files, where
            )
        )


def merge_upsert(
    spark: SparkSession,
    target_table: str,
    new: DataFrame,
    keys: list[str],
    mode: str = "ignore",
) -> None:
    """Run the MERGE INTO form of upsert_ignore/upsert_replace against a
    real Iceberg table (single atomic commit, no read-modify-write)."""
    _check_sql_identifier(target_table, "target_table")
    for c in new.columns:
        _check_sql_identifier(c, "column")
    for k in keys:
        if k not in new.columns:
            raise ValueError(f"merge key {k!r} is not a column of the source frame")
    if not iceberg_available(spark):
        raise NotImplementedError(
            "MERGE INTO needs the Iceberg runtime; use operators.upsert."
            "upsert_ignore/upsert_replace (anti-join/window equivalents)"
        )
    # unique per-call view: two concurrent merges in one SparkSession
    # must not clobber each other's source view
    import uuid

    view = f"_merge_src_{uuid.uuid4().hex}"
    new.createOrReplaceTempView(view)
    try:
        non_key = [c for c in new.columns if c not in keys]
        spark.sql(merge_into_sql(target_table, view, keys, non_key, mode=mode))
    finally:
        spark.catalog.dropTempView(view)
