"""Partition-pruned multi-sink writer with atomic per-chunk publish.

Reference analog: the UNLOGGED-staging + atomic-RENAME publish
(DatabaseManager.java:255-332) — readers never observe partial data.
Here each chunk is written to a private staging directory, then its
files are renamed into the final partition tree (one atomic rename per
file, unique chunk-prefixed names), and only then is the chunk recorded
in the checkpoint manifest. A crash mid-chunk leaves only staging
garbage that the next run overwrites.

Sink layout (one logical table, five logical sinks):

    <root>/data/category=<c>/day=<yyyy-MM-dd>/<chunk>-part-*.parquet
    <root>/state/<chunk>.parquet      (the chunk's summary state,
                                       operators.summary_state)
    <root>/state/_folded.parquet      (the states of many committed
                                       chunks folded into one, written
                                       by the publish)
    <root>/summary/<name>.parquet     (one published summary table,
                                       plans.pipeline.run_aggregates)

Every file under ``state/`` and ``summary/`` is written whole to
``<path>.tmp`` and renamed over ``<path>`` (``replace_parquet``): a
reader opens the old file or the new one, never a partial one and never
none, and the facts a reader needs about it (the fold's chunk ids, a
summary's ``exhaustive`` flag) ride in its footer's key-value metadata.

Routing by ``category`` is a *partition column*, so "one sink table per
category" is realized as partition subtrees: a single write pass fans
out all sinks (no per-sink re-scan), and readers of one sink get
partition pruning for free. On a real cluster this maps 1:1 to an
Iceberg table partitioned by (category, days(time)) with snapshot
commits replacing the rename step.

Write strategy (measured, BENCH.md): rows are written DIRECTLY from
the parse tasks with ``partitionBy`` — no pre-write shuffle of the
full payload. Each task writes one file per (category, day) it holds,
so the file count is bounded by tasks x live partition dirs (small:
~5 categories x days-per-chunk), and ``maxRecordsPerFile`` bounds file
size. At 100 TB the avoided shuffle is the single biggest
cost in the job; this measured ~25% faster at 8 cores and ~60% faster
at 32 (the shuffle serializes on exchange I/O).

Measured and REJECTED: packing ``tokens`` as a binary blob before the
write (12.4s of a 20.2s chunk write is the list<int32> column) — the
blob compresses worse than the dictionary-encoded int32 leaf (635 MB vs
493 MB: codepoints dict-encode to ~1 byte/elem) and the repack costs a
full-payload Python round-trip. The list<int32> layout stays.

A sink read far more often than written gets the clustered layout
(fewer, larger files per directory) from compaction
(``sources.compact``), after the fact, without taxing the load path.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

SINK_PARTITION_COLS = ["category", "day"]

# Chunk ids become filename prefixes AND glob patterns (promote,
# rollback, footer counts): glob metacharacters would silently match
# nothing (remove_chunk deleting zero files after a crash = duplicate
# rows on resume), so reject them loudly. Note the ids must also not be
# '-'-prefix of one another ("a" vs "a-b" — "a-*" would match both);
# the pipeline's fixed-width zero-padded ids guarantee that.
_SAFE_CHUNK_RX = re.compile(r"[A-Za-z0-9_.\-]+")


def _check_chunk_id(chunk_id: str) -> str:
    if not _SAFE_CHUNK_RX.fullmatch(chunk_id):
        raise ValueError(
            f"chunk_id {chunk_id!r} must match [A-Za-z0-9_.-]+ "
            "(it is used as a filename prefix and a glob pattern)"
        )
    return chunk_id


def day_expr(time_col: str = "time"):
    """The UTC ``day`` partition key, session-timezone-PROOF: pure
    epoch arithmetic instead of date_format(), which honors
    spark.sql.session.timeZone — an unpinned consumer session must not
    split one UTC day's rows across two partition directories of the
    same sink."""
    # floor division (div truncates toward zero): pre-epoch timestamps
    # must land in their own UTC day, not roll up into 1970-01-01
    return F.expr(
        f"cast(date_add(date '1970-01-01', "
        f"cast((unix_timestamp({time_col}) - pmod(unix_timestamp({time_col}),"
        f" 86400)) div 86400 as int)) as string)"
    )


# zstd measured BOTH faster and smaller than the snappy default on this
# token-heavy payload (10M rows, local[32]: 15.5s/488MB vs 21.7s/672MB):
# the extra compute is cheaper than the extra bytes through the page
# cache — and at 100 TB the 27% smaller footprint also cuts every
# downstream scan. Level 1 (not the codec-default 3) for the LOAD path:
# measured interleaved best-of-3 at 10M rows/local[32]: 15.5s/515MB vs
# 18.6s/493MB — ~17% faster ingest for +4.5% bytes.
SINK_COMPRESSION = "zstd"
SINK_ZSTD_LEVEL = 1
# bounds file size on a hot (category, day) directory
MAX_RECORDS_PER_FILE = 2_000_000


def chunk_files(root: str, chunk_id: str) -> list[str]:
    """The promoted data files of chunk ``chunk_id`` under sink ``root``."""
    _check_chunk_id(chunk_id)
    return glob.glob(
        os.path.join(root, "data", "**", f"{chunk_id}-*.parquet"), recursive=True
    )


def state_path(root: str, chunk_id: str) -> str:
    """Where chunk ``chunk_id``'s summary state lives under sink ``root``."""
    return os.path.join(root, "state", f"{_check_chunk_id(chunk_id)}.parquet")


def fold_path(root: str) -> str:
    """Where the publish keeps its fold of committed chunks' states."""
    return os.path.join(root, "state", "_folded.parquet")


def summary_path(root: str, name: str) -> str:
    """Where the publish puts summary table ``name`` under sink ``root``."""
    return os.path.join(root, "summary", f"{name}.parquet")


def replace_parquet(path: str, table: pa.Table, **facts) -> None:
    """Write ``table`` as the one parquet file at ``path``: whole to
    ``<path>.tmp``, then renamed over ``path``, so a reader opens the
    old file or the new one, never a partial one. Each of ``facts`` is
    stored JSON-encoded in the file's schema key-value metadata (read it
    back with ``json.loads(schema_arrow.metadata[key])``). A crash
    before the rename leaves at most the ``.tmp`` file, which the next
    write overwrites."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = table.replace_schema_metadata({k: json.dumps(v) for k, v in facts.items()})
    pq.write_table(table, path + ".tmp")
    os.replace(path + ".tmp", path)


class MultiSinkWriter:
    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.staging_root = os.path.join(root, "_staging")

    def write_chunk(self, df: DataFrame, chunk_id: str) -> list[str]:
        """Write one chunk of routed rows; returns the paths of the files
        promoted, so the caller's footer walk and state build need no
        glob of the data tree. Row counts come from the footers
        (``footer_metrics``), because task-side counters can overcount
        on stage reattempts.

        df must carry ``category`` and ``time`` columns; ``day`` is
        derived here so the partition expression lives in one place.
        """
        _check_chunk_id(chunk_id)
        staged = os.path.join(self.staging_root, chunk_id)
        if os.path.exists(staged):
            shutil.rmtree(staged)  # leftover from a crashed attempt

        (
            df.withColumn("day", day_expr("time"))
            .write.mode("overwrite")
            .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
            .option("compression", SINK_COMPRESSION)
            .option("parquet.compression.codec.zstd.level", str(SINK_ZSTD_LEVEL))
            .partitionBy(*SINK_PARTITION_COLS)
            .parquet(staged)
        )

        moved = self._promote(staged, chunk_id)
        shutil.rmtree(staged, ignore_errors=True)
        return moved

    def _promote(self, staged: str, chunk_id: str) -> list[str]:
        """Atomically rename staged files into the final tree; returns
        their final paths."""
        moved = []
        for src in glob.glob(os.path.join(staged, "**", "*.parquet"), recursive=True):
            rel = os.path.relpath(src, staged)
            part_dir = os.path.dirname(rel)
            dst_dir = os.path.join(self.data_dir, part_dir)
            os.makedirs(dst_dir, exist_ok=True)
            dst = os.path.join(dst_dir, f"{chunk_id}-{os.path.basename(src)}")
            os.replace(src, dst)
            moved.append(dst)
        return moved

    def exact_chunk_counts(self, chunk_id: str) -> tuple[int, dict[str, int]]:
        """Exact (total, per-category) row counts of a promoted chunk,
        from its parquet footers: the count source of record, as
        Observation accumulators can overcount (speculation, stage
        reattempts)."""
        return category_counts(self.partition_metrics(chunk_id))

    def partition_metrics(self, chunk_id: str) -> dict[str, dict]:
        """``footer_metrics`` of the promoted files of ``chunk_id``,
        found by a glob of the data tree."""
        return self.footer_metrics(chunk_files(self.root, chunk_id))

    def footer_metrics(self, files: list[str]) -> dict[str, dict]:
        """Per-partition-directory (rows, bytes, files, watermark) of
        one chunk's data ``files`` — footer/stat metadata only, no data
        pages read.
        Recorded into the chunk's manifest entry as the per-partition
        lineage the north star asks for: the row/byte counts feed skew
        diagnostics (a partition dir with 100x the rows of its siblings
        is a routing hot key), and ``watermark`` is the partition's max
        event time (ISO-8601 UTC) from the parquet column statistics —
        the freshness cursor an incremental consumer resumes from."""
        out: dict[str, dict] = {}
        keys: dict[str, tuple] = {}  # partition -> comparison key of its max
        for f in files:
            part = os.path.dirname(os.path.relpath(f, self.data_dir))
            rec = out.setdefault(
                part, {"rows": 0, "bytes": 0, "files": 0, "watermark": None}
            )
            rows, wm = _footer_stats(f, "time")
            rec["rows"] += rows
            rec["bytes"] += os.path.getsize(f)
            rec["files"] += 1
            if wm is not None:
                # compare on the EPOCH key, not the ISO rendering:
                # lexicographic ISO comparison is wrong the moment a
                # foreign writer mixes naive and tz-aware (or
                # different-precision) renderings in one partition —
                # exactly the case _footer_stats anticipates. Stats the
                # key can't order (non-timestamp strings) sort behind
                # every real timestamp, lexicographically among
                # themselves (kind=0 vs 1 below).
                key, iso = wm
                k = (1, key, "") if key is not None else (0, 0.0, iso)
                if part not in keys or k > keys[part]:
                    keys[part] = k
                    rec["watermark"] = iso
        return out

    def remove_chunk(self, chunk_id: str) -> None:
        """Idempotent undo (re-run of a chunk that crashed mid-promote, or
        after its summary state was written): its data files and state."""
        for f in chunk_files(self.root, chunk_id):
            os.remove(f)
        with contextlib.suppress(FileNotFoundError):
            os.remove(state_path(self.root, chunk_id))


def category_counts(parts: dict[str, dict]) -> tuple[int, dict[str, int]]:
    """(total, per-category) rows of a chunk's ``footer_metrics``."""
    per_cat: dict[str, int] = {}
    for name, rec in parts.items():
        cat = next(
            (p.split("=", 1)[1] for p in name.split(os.sep) if p.startswith("category=")),
            "unknown",
        )
        per_cat[cat] = per_cat.get(cat, 0) + rec["rows"]
    return sum(per_cat.values()), per_cat


def footer_row_count(paths) -> int:
    """Sum parquet footer row counts — exact, metadata-only, no Spark
    job. The one shared implementation behind every footer-count use
    (compaction's row check)."""
    return sum(pq.ParquetFile(f).metadata.num_rows for f in paths)


def _footer_stats(path: str, time_col: str) -> tuple[int, tuple | None]:
    """(row count, watermark) of one parquet file from footer metadata
    alone — one footer read serves both. The watermark is the max of
    ``time_col``, returned as ``(epoch_seconds | None, iso_string)``:
    the epoch key is what callers COMPARE on (naive datetimes are
    pinned to UTC — this writer's own convention — so mixing naive and
    tz-aware files orders correctly), the ISO string is what they
    RENDER. None when the column is absent or its statistics were not
    written (stats are on by default for timestamp leaves, but a
    foreign writer may omit them — a missing watermark must degrade to
    "unknown", never to a wrong time)."""
    import datetime as _dt

    md = pq.ParquetFile(path).metadata
    # column paths from the first row group, not ``md.schema``: that
    # builds a FileMetaData <-> ParquetSchema reference cycle per file,
    # which only the cyclic GC frees (a pause in some later request)
    idx = next(
        (
            i
            for i in range(md.num_columns if md.num_row_groups else 0)
            if md.row_group(0).column(i).path_in_schema == time_col
        ),
        None,
    )
    wm = None
    wm_key = None
    for rg in range(md.num_row_groups) if idx is not None else ():
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            continue
        v = st.max
        if isinstance(v, _dt.datetime):
            key = (
                v.replace(tzinfo=_dt.timezone.utc) if v.tzinfo is None else v
            ).timestamp()
        else:
            key = None
        cand = (1, key, "") if key is not None else (0, 0.0, str(v))
        if wm is None or cand > wm:
            wm = cand
            wm_key = (key, v.isoformat() if hasattr(v, "isoformat") else str(v))
    return md.num_rows, wm_key


def footer_schema(path: str) -> StructType:
    """Spark data schema of one parquet file, from its footer alone —
    no Spark job. Handing it to ``spark.read.schema`` skips the
    schema-inference job Spark otherwise runs on every read (~60-110 ms
    at local scale). The one shared implementation behind every
    footer-schema use (``read_sink``, compaction rewrites).
    ``ParquetFile.schema_arrow`` leaves no cyclic garbage behind, unlike
    ``pq.read_schema``."""
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(pq.ParquetFile(path).schema_arrow)


def read_sink(
    spark: SparkSession, root: str, category: str | None = None
) -> DataFrame:
    """Read the routed table; a category filter prunes to one sink's
    partition subtree (verify with .explain → PartitionFilters).

    The data schema is pinned from one data file's footer (every file
    of the sink comes from the same writer, and Spark's own inference
    without mergeSchema also reads a single footer), so planning runs
    no Spark job. Spark still discovers the ``category``/``day``
    partition columns from the directory names, with the same types.
    With no data file at all the call is the unpinned one, so a
    missing or empty sink raises exactly as before."""
    data = os.path.join(root, "data")
    reader = spark.read.option("basePath", data)
    # lazy glob over the fixed category=*/day=* layout: stops at one file
    first = next(glob.iglob(os.path.join(data, "*", "*", "*.parquet")), None)
    if first is not None:
        try:
            reader = reader.schema(footer_schema(first))
        except FileNotFoundError:
            pass  # removed by a concurrent compaction: let Spark infer
    df = reader.parquet(data)
    if category:
        df = df.filter(F.col("category") == category)
    return df
