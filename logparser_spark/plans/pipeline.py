"""The end-to-end DAG: read → decode+parse → enrich → route → write →
aggregate. SURVEY.md §7.1; replaces the reference's 11-stage threaded
load (§3.1) with one declarative plan per chunk plus a summary job.

Stage fusion: scan → parse UDF → enrichment joins → routing projection
all pipeline inside one shuffle-free stage per task (the parse UDF is
an Arrow exchange inside the stage; broadcast joins add no shuffle).
The write goes straight from those tasks (``partitionBy``, no shuffle),
so the only wide operations are the aggregate groupBys — minimal
shuffle count by construction.

Per-row invariant: ``tokens`` (and doc_id/n_tok/source) pass through
untouched into every sink row — token-array equality, tested.
"""

from __future__ import annotations

import contextlib
import math
import time as _time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from logparser_spark.cache import invalidate_registered
from logparser_spark.functions.classify import category_expr
from logparser_spark.functions.parse import with_parsed
from logparser_spark.operators import aggregates as agg
from logparser_spark.operators.enrich import enrich, load_dims
from logparser_spark.plans.checkpoint import Manifest
from logparser_spark.sources.sequences import read_raw_sequences
from logparser_spark.sources.sinks import MultiSinkWriter, read_sink


def build_routed(spark: SparkSession, raw: DataFrame) -> DataFrame:
    """raw sequences -> parsed + enriched + categorized rows."""
    parsed = with_parsed(raw)  # adds parse struct cols + time
    enriched = enrich(parsed, load_dims(spark))
    return enriched.withColumn(
        "category",
        category_expr(F.col("valid"), F.coalesce(F.col("action"), F.lit("")), F.col("status_code")),
    )


def load_chunk(
    spark: SparkSession,
    raw: DataFrame,
    chunk_id: str,
    writer,
    manifest: Manifest,
    lineage: dict,
) -> int:
    """Load one chunk of raw sequences and commit it; returns its exact
    row count. The one commit path of every load: ``run_pipeline``'s
    file chunks and ``streaming.stream_pipeline``'s micro-batches.

    Any partial output of a crashed earlier attempt under ``chunk_id``
    is rolled back first, so re-running an id the manifest does not hold
    is idempotent. ``lineage`` names the input in the manifest record
    (``input_files`` of a batch chunk, ``batch_id`` of a micro-batch).
    """
    writer.remove_chunk(chunk_id)
    t0 = _time.monotonic()
    routed = build_routed(spark, raw)

    # Counts: the WRITER's exact source (parquet footers / Iceberg
    # chunk-tag metadata — no data pages read) is the source of record.
    # Observation accumulators ride the write job for free but OVERCOUNT
    # under speculative execution AND ordinary stage reattempts (e.g.
    # fetch-failure retries — which happen on real clusters without
    # speculation), so they are only the cross-check: a disagreement is
    # recorded in the manifest as reattempt-inflation lineage.
    obs = Observation(chunk_id)
    writer.write_chunk(routed.observe(obs, F.count(F.lit(1)).alias("_rows")), chunk_id)

    observed_rows = obs.get["_rows"]
    rows, cat_counts = writer.exact_chunk_counts(chunk_id)
    dt = _time.monotonic() - t0
    # lineage: Iceberg-backed writers expose the committed snapshot
    snapshot_id = (
        writer.last_snapshot_id(chunk_id)
        if hasattr(writer, "last_snapshot_id")
        else None
    )
    partitions = (
        writer.partition_metrics(chunk_id)
        if hasattr(writer, "partition_metrics")
        else None
    )
    manifest.commit_chunk(
        {
            "chunk_id": chunk_id,
            **lineage,
            **({"snapshot_id": snapshot_id} if snapshot_id is not None else {}),
            "rows": rows,
            "rows_per_category": cat_counts,
            # cross-check trail: observed != exact means duplicate
            # successful task attempts inflated the accumulators
            **({"observed_rows": observed_rows} if observed_rows != rows else {}),
            "wall_sec": round(dt, 3),
            "rows_per_sec": round(rows / dt, 1) if dt > 0 else None,
            # per-partition lineage + throughput: rows/bytes/files per
            # (category, day) dir this chunk produced, and the chunk
            # rate attributed per partition by row share
            **({"partitions": partitions} if partitions else {}),
        }
    )
    # C4 from the loader, like the reference (LogFileParser.java:
    # 714-719): data changed, so every live response cache is stale
    invalidate_registered()
    return rows


def _chunk_files(files: list[str], n_chunks: int) -> list[list[str]]:
    if n_chunks <= 1:
        return [files]
    per = math.ceil(len(files) / n_chunks)
    return [files[i : i + per] for i in range(0, len(files), per)]


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    out_root: str,
    n_chunks: int = 1,
    fail_after_chunk: int | None = None,
    writer=None,
    progress: bool = False,
    job_group: str | None = None,
    compact_after: bool = False,
) -> dict:
    """Chunked, resumable parse→route load. Returns run metrics.

    ``compact_after=True`` runs the small-file compaction pass once all
    chunks are committed (reference analog: the automatic index rebuild
    after every load, LogFileParser.java:727-821) — each oversized
    (category, day) partition is bin-packed and the rewrite recorded in
    the same manifest. Off by default: a write-heavy ingest schedule
    compacts on its own cadence instead of per load.

    ``fail_after_chunk`` is a test hook simulating a crash between a
    chunk's sink commit and nothing else (the manifest records it, so
    resume continues with the next chunk).

    ``writer`` swaps the sink format — anything with the
    write_chunk/remove_chunk/exact_chunk_counts contract, e.g.
    ``sources.iceberg.IcebergMultiSinkWriter`` for snapshot commits
    when the Iceberg runtime is on the classpath (the default parquet
    writer's rename-promote protocol is the sandbox stand-in).

    ``progress=True`` samples live per-stage task progress into
    ``<out_root>/progress.jsonl`` and runs every job under a job group
    (``job_group`` or a name derived from ``out_root``) so the run can
    be cancelled mid-flight with ``progress.cancel_job_group`` — the
    reference's live-status + cancel surface (LogParsingService.java:
    83-166,520-595).
    """
    if progress:
        from logparser_spark.plans.progress import ProgressReporter

        reporting = ProgressReporter(spark, out_root, job_group=job_group)
    else:
        reporting = contextlib.nullcontext()
    with reporting:
        return _run_pipeline_inner(
            spark, input_path, out_root, n_chunks, fail_after_chunk, writer,
            compact_after,
        )


def _run_pipeline_inner(
    spark: SparkSession,
    input_path: str,
    out_root: str,
    n_chunks: int = 1,
    fail_after_chunk: int | None = None,
    writer=None,
    compact_after: bool = False,
) -> dict:
    import glob as _glob
    import os as _os

    manifest = Manifest(out_root)
    if writer is None:
        writer = MultiSinkWriter(out_root)
    done = manifest.completed_chunks()

    files = sorted(_glob.glob(_os.path.join(input_path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet files under {input_path}")
    chunks = _chunk_files(files, n_chunks)

    total_rows = 0
    t_all = _time.monotonic()
    for i, chunk_files in enumerate(chunks):
        chunk_id = f"chunk-{i:05d}"
        if chunk_id in done:
            # chunk ids are positional — refuse to resume if the file
            # set behind a completed chunk changed (a new input file or
            # different n_chunks shifts the mapping and would silently
            # skip or double-process data)
            recorded = done[chunk_id].get("input_files")
            if recorded is not None and recorded != chunk_files:
                raise RuntimeError(
                    f"resume mismatch for {chunk_id}: manifest records "
                    f"{len(recorded)} input files {recorded[:2]}..., this run "
                    f"chunks to {len(chunk_files)} files {chunk_files[:2]}...; "
                    "input set or n_chunks changed — use a fresh out_root"
                )
            continue
        raw = read_raw_sequences(spark, chunk_files)
        total_rows += load_chunk(
            spark, raw, chunk_id, writer, manifest, {"input_files": chunk_files}
        )
        if fail_after_chunk is not None and i >= fail_after_chunk:
            raise RuntimeError(f"injected failure after {chunk_id}")

    out = {
        "chunks": len(chunks),
        "rows_this_run": total_rows,
        "wall_sec": round(_time.monotonic() - t_all, 3),
    }
    if compact_after:
        # post-load maintenance (reference: automatic index rebuild).
        # Dispatch on the writer contract — silently skipping would let
        # small files accumulate while the caller believes it ran.
        if hasattr(writer, "compact"):
            # table-format writers own compaction (Iceberg:
            # one rewrite_data_files snapshot)
            writer.compact()
            out["compaction"] = {"kind": "rewrite_data_files"}
        elif hasattr(writer, "data_dir"):
            from logparser_spark.sources.compact import compact_sinks

            c = compact_sinks(spark, out_root)
            out["compaction"] = {
                "chunk_id": c["chunk_id"],
                "partitions_rewritten": c["partitions_rewritten"],
            }
        else:
            raise ValueError(
                "compact_after=True but the writer exposes neither "
                "compact() nor the parquet sink layout (data_dir)"
            )
    return out


def run_aggregates(spark: SparkSession, out_root: str) -> dict[str, int]:
    """The post-load aggregate stage (C2/C3 analog): seven summary
    tables computed from the routed sinks and published under
    <root>/summary/<name>/. Returns each table's published row count.

    Every table is bounded, and the stage runs three Spark queries over
    the sink, submitted together from driver threads:

    - ``agg.bounded_summaries``: one GROUPING SETS scan and aggregate for
      the five tables whose keys are bounded by vocabularies
      (``agg_sink_totals``, ``agg_status_hist``, ``agg_hourly_hist``,
      ``dim_statuses``, ``dim_actions``). Its few hundred rows are
      collected with one ``toArrow()`` and split on the driver by
      ``agg.split_bounded``, which emits each table in its operator's
      canonical order and with its operator's Arrow schema;
    - ``agg.top_urls`` and ``agg.top_users``: their url and username key
      sets grow with the data, so ranking them stays a distributed
      aggregate (one exchange) ending in TakeOrderedAndProject; only the
      top k rows (the caps below) reach the driver.

    Each table is written by pyarrow as exactly ONE parquet file holding
    its rows in that order. That is the contract the API fast path
    relies on: it reads the file back with pyarrow and serves it as a
    local relation — no Spark job, no re-sort. The username x status x
    day ``agg.daily_rollup`` is not published: no endpoint serves it.
    """
    import json
    import os
    import shutil as _shutil
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    df = read_sink(spark, out_root)
    queries = {
        "bounded": agg.bounded_summaries(df),
        "top_urls": agg.top_urls(df),
        "top_users": agg.top_users(df),
    }
    with ThreadPoolExecutor(max_workers=len(queries)) as pool:
        tables = dict(zip(queries, pool.map(lambda q: q.toArrow(), queries.values())))
    tables.update(agg.split_bounded(tables.pop("bounded")))

    # truncation caps of the top-K summaries (run above with defaults):
    # a result SHORTER than its cap saw every distinct key, so the API
    # fast path can serve ANY k from it ("exhaustive")
    k_caps = {"top_urls": 100, "top_users": 10}

    def publish(name: str, table) -> int:
        """Publish one summary ATOMICALLY: write to a _tmp_ dir, put
        the row-count/commit marker (_meta.json) INSIDE it, then swap
        via rename. A crash mid-write leaves either the old committed
        dir or no dir (API falls back to live aggregation) — never a
        partial dir a fast path would serve silently-wrong results
        from."""
        tmp = os.path.join(out_root, "summary", f"_tmp_{name}")
        final = os.path.join(out_root, "summary", name)
        _shutil.rmtree(tmp, ignore_errors=True)  # crashed attempt's leftover
        os.makedirs(tmp)
        pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))
        cap = k_caps.get(name)
        meta = {"rows": table.num_rows, "exhaustive": cap is None or table.num_rows < cap}
        with open(os.path.join(tmp, "_meta.json"), "w") as fh:
            json.dump(meta, fh)
        _shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
        return table.num_rows

    rows = {name: publish(name, table) for name, table in tables.items()}
    # C4: summaries republished — evict live response caches
    invalidate_registered()
    return rows
