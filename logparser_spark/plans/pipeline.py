"""The end-to-end DAG: read → decode+parse → enrich → route → write →
summary state, and a publish that merges the states. SURVEY.md §7.1;
replaces the reference's 11-stage threaded load (§3.1) with one
declarative plan per chunk.

Stage fusion: scan → parse UDF → enrichment joins → routing projection
all pipeline inside one shuffle-free stage per task (the parse UDF is
an Arrow exchange inside the stage; broadcast joins add no shuffle).
The write goes straight from those tasks (``partitionBy``, no shuffle),
and the summaries are built on the driver with pyarrow from each
chunk's own files, so a load runs no shuffle at all and the publish no
Spark job.

Per-row invariant: ``tokens`` (and doc_id/n_tok/source) pass through
untouched into every sink row — token-array equality, tested.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import time as _time

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from logparser_spark.cache import invalidate_registered
from logparser_spark.functions.classify import category_expr
from logparser_spark.functions.parse import with_parsed
from logparser_spark.operators import summary_state
from logparser_spark.operators.enrich import enrich, load_dims
from logparser_spark.plans.checkpoint import Manifest
from logparser_spark.sources.sequences import read_raw_sequences
from logparser_spark.sources.sinks import (
    MultiSinkWriter,
    category_counts,
    chunk_files,
    fold_path,
    state_path,
)


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
    manifest: Manifest,
    lineage: dict,
) -> int:
    """Load one chunk of raw sequences into the sink at the manifest's
    root and commit it; returns its exact row count. The one commit
    path of every load: ``run_pipeline``'s file chunks and
    ``streaming.stream_pipeline``'s micro-batches.

    Any partial output of a crashed earlier attempt under ``chunk_id``
    is rolled back first, so re-running an id the manifest does not hold
    is idempotent. ``lineage`` names the input in the manifest record
    (``input_files`` of a batch chunk, ``batch_id`` of a micro-batch).

    Before the manifest commit, the chunk's summary state
    (``summary_state.chunk_state`` over only this chunk's promoted
    files) is written to ``<root>/state/<chunk_id>.parquet`` by temp
    file and rename, so every committed chunk has one;
    ``run_aggregates`` merges them. A crash between the two leaves a
    state the rollback removes.
    """
    writer = MultiSinkWriter(manifest.root)
    writer.remove_chunk(chunk_id)
    t0 = _time.monotonic()
    routed = build_routed(spark, raw)

    # Counts: the parquet footers (no data pages read) are the source of
    # record. Observation accumulators ride the write job for free but
    # OVERCOUNT under speculative execution AND ordinary stage
    # reattempts (e.g. fetch-failure retries — which happen on real
    # clusters without speculation), so they are only the cross-check: a
    # disagreement is recorded in the manifest as reattempt-inflation
    # lineage. One footer walk serves the counts and the per-partition
    # lineage.
    obs = Observation(chunk_id)
    writer.write_chunk(routed.observe(obs, F.count(F.lit(1)).alias("_rows")), chunk_id)

    observed_rows = obs.get["_rows"]
    partitions = writer.partition_metrics(chunk_id)
    rows, cat_counts = category_counts(partitions)
    dt = _time.monotonic() - t0
    t_state = _time.monotonic()
    state = summary_state.chunk_state(chunk_files(manifest.root, chunk_id))
    covered = summary_state.rows_covered(state)
    if covered != rows:
        # the state must cover exactly the rows committed for the
        # chunk, or the published summaries would silently disagree
        # with the sink
        raise RuntimeError(
            f"summary state of {chunk_id} covers {covered} rows of the "
            f"{rows} its footers count"
        )
    path = state_path(manifest.root, chunk_id)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(state, path + ".tmp")
    os.replace(path + ".tmp", path)
    state_sec = _time.monotonic() - t_state
    manifest.commit_chunk(
        {
            "chunk_id": chunk_id,
            **lineage,
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
            # the summary state's size (it grows with the chunk's
            # distinct url and username-ip pairs) and build + write time
            "state_rows": state.num_rows,
            "state_sec": round(state_sec, 3),
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
    progress: bool = False,
    job_group: str | None = None,
    compact_after: bool = False,
) -> dict:
    """Chunked, resumable parse→route load into the sink at
    ``out_root``, one ``load_chunk`` per chunk. Returns run metrics.

    ``compact_after=True`` runs the small-file compaction pass
    (``compact.compact_sinks``) once all chunks are committed (reference
    analog: the automatic index rebuild after every load,
    LogFileParser.java:727-821) — each oversized (category, day)
    partition is bin-packed and the rewrite recorded in the same
    manifest. Off by default: a write-heavy ingest schedule compacts on
    its own cadence instead of per load.

    ``fail_after_chunk`` is a test hook simulating a crash between a
    chunk's sink commit and nothing else (the manifest records it, so
    resume continues with the next chunk).

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
        manifest = Manifest(out_root)
        done = manifest.completed_chunks()

        files = sorted(glob.glob(os.path.join(input_path, "*.parquet")))
        if not files:
            raise FileNotFoundError(f"no parquet files under {input_path}")
        chunks = _chunk_files(files, n_chunks)

        total_rows = 0
        t_all = _time.monotonic()
        for i, inputs in enumerate(chunks):
            chunk_id = f"chunk-{i:05d}"
            if chunk_id in done:
                # chunk ids are positional — refuse to resume if the file
                # set behind a completed chunk changed (a new input file or
                # different n_chunks shifts the mapping and would silently
                # skip or double-process data)
                recorded = done[chunk_id].get("input_files")
                if recorded is not None and recorded != inputs:
                    raise RuntimeError(
                        f"resume mismatch for {chunk_id}: manifest records "
                        f"{len(recorded)} input files {recorded[:2]}..., this run "
                        f"chunks to {len(inputs)} files {inputs[:2]}...; "
                        "input set or n_chunks changed — use a fresh out_root"
                    )
                continue
            raw = read_raw_sequences(spark, inputs)
            total_rows += load_chunk(
                spark, raw, chunk_id, manifest, {"input_files": inputs}
            )
            if fail_after_chunk is not None and i >= fail_after_chunk:
                raise RuntimeError(f"injected failure after {chunk_id}")

        out = {
            "chunks": len(chunks),
            "rows_this_run": total_rows,
            "wall_sec": round(_time.monotonic() - t_all, 3),
        }
        if compact_after:
            # post-load maintenance (reference: automatic index rebuild)
            from logparser_spark.sources.compact import compact_sinks

            c = compact_sinks(spark, out_root)
            out["compaction"] = {
                "chunk_id": c["chunk_id"],
                "partitions_rewritten": c["partitions_rewritten"],
            }
        return out


def _state(out_root: str, chunk_id: str):
    path = state_path(out_root, chunk_id)
    if not os.path.exists(path):
        raise FileNotFoundError(f"committed chunk {chunk_id} has no summary state at {path}")
    return pq.ParquetFile(path).read(use_threads=False)


def _fold(out_root: str, committed: list[str]):
    """The publish's fold of chunk states and the set of chunk ids it
    covers; ``(None, set())`` when there is none, or when it covers a
    chunk ``committed`` lacks (the chunks' own states are merged
    instead)."""
    path = fold_path(out_root)
    if not os.path.exists(path):
        return None, set()
    f = pq.ParquetFile(path)
    covered = set(json.loads(f.schema_arrow.metadata[b"chunks"]))
    if not covered <= set(committed):
        return None, set()
    return f.read(use_threads=False).replace_schema_metadata(None), covered


def run_aggregates(spark: SparkSession, out_root: str) -> dict[str, int]:
    """The post-load aggregate stage (C2/C3 analog): seven summary
    tables published under <root>/summary/<name>/. Returns each table's
    published row count.

    The tables are ``summary_state.merge_states`` of the states that
    ``load_chunk`` wrote for the committed load chunks, merged with
    pyarrow on the driver: no Spark job, no read of the sink's data
    files (``spark`` is unused). Compaction records carry no state, as
    compaction changes no row. A committed load chunk without a state
    raises. The live operators (``operators.aggregates``) answer the
    same questions for filtered requests; tests hold the two equal.

    The merge's cost grows with the states it reads, so once
    ``summary_state.FOLD_EVERY`` chunks are not yet folded, they are
    folded with the previous fold into ``<root>/state/_folded.parquet``
    (temp file and rename; the chunk ids it covers are in its schema
    metadata), and later publishes read that fold plus the chunks after
    it. The chunks' own states stay, so a fold that names a chunk the
    manifest does not hold is ignored and their states are merged
    instead.

    Each table is written by pyarrow as exactly ONE parquet file holding
    its rows in its operator's canonical order. That is the contract the
    API fast path relies on: it reads the file back with pyarrow and
    serves it as a local relation — no Spark job, no re-sort. The
    username x status x day ``aggregates.daily_rollup`` is not published: no
    endpoint serves it.
    """
    import shutil as _shutil

    done = Manifest(out_root).completed_chunks()
    loads = [c for c, rec in done.items() if rec.get("kind") != "compaction"]
    folded, covered = _fold(out_root, loads)
    fresh = [c for c in loads if c not in covered]
    states = ([] if folded is None else [folded]) + [_state(out_root, c) for c in fresh]
    if len(fresh) >= summary_state.FOLD_EVERY:
        # the new fold covers every committed load chunk
        states = [summary_state.fold_states(states)]
        path = fold_path(out_root)
        meta = {"chunks": json.dumps(loads)}
        pq.write_table(states[0].replace_schema_metadata(meta), path + ".tmp")
        os.replace(path + ".tmp", path)
    tables = summary_state.merge_states(states)

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
        # a top list SHORTER than its cap saw every distinct key, so the
        # API fast path can serve ANY k from it ("exhaustive")
        cap = summary_state.K_CAPS.get(name)
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
