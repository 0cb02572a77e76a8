"""Structured Streaming load: each micro-batch is one more chunk.

The reference is strictly batch (SURVEY.md §2.8 — its only 'stream' is
an in-process pipe), so this module is an extension, not parity. It
adds no second sink layout: ``foreachBatch`` hands every micro-batch to
``plans.pipeline.load_chunk``, the commit path batch loads run, so a
batch lands as ``stream-NNNNN``-prefixed files in the same
``<root>/data`` tree and one manifest record. Readers, compaction,
rollback and the published summaries see streamed and batch rows alike.

Resume is the batch contract: Spark's checkpoint (``<root>/_checkpoint``)
replays a batch whose commit it did not log, under the same batch id; an
id the manifest already holds is skipped, and any other is rolled back
by ``load_chunk`` and loaded again. A query drains the files present
at its start (``availableNow``) and stops; ``maxFilesPerTrigger``
bounds the size of a micro-batch. Publishing the summaries stays the caller's job,
as after ``run_pipeline``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from logparser_spark.plans.checkpoint import Manifest
from logparser_spark.plans.pipeline import load_chunk
from logparser_spark.sources.sequences import RAW_SCHEMA
from logparser_spark.sources.sinks import MultiSinkWriter


def read_sequence_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(RAW_SCHEMA)
    if max_files_per_trigger is not None:
        # an explicit 0 must fail loudly, not silently ingest every
        # available file in one unbounded micro-batch (the exact OOM
        # this throttle exists to prevent)
        if max_files_per_trigger < 1:
            raise ValueError(
                f"max_files_per_trigger must be >= 1, got {max_files_per_trigger}"
            )
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def start_stream_load(
    spark: SparkSession,
    input_path: str,
    out_root: str,
    max_files_per_trigger: int | None = None,
):
    """Start draining the raw sequence files under ``input_path`` into
    the sink at ``out_root`` (an ``availableNow`` trigger), one chunk
    ``stream-{batch_id:05d}`` per micro-batch. Returns the running
    ``StreamingQuery``."""
    writer = MultiSinkWriter(out_root)
    manifest = Manifest(out_root)
    # Read once per query run: Spark replays at most one batch, the first
    # of the run, so only ids committed before the start can recur.
    committed = set(manifest.completed_chunks())

    def load_batch(raw: DataFrame, batch_id: int) -> None:
        chunk_id = f"stream-{batch_id:05d}"
        if chunk_id in committed:
            return  # a replay of a batch committed before a crash
        load_chunk(raw.sparkSession, raw, chunk_id, writer, manifest, {"batch_id": batch_id})

    return (
        read_sequence_stream(spark, input_path, max_files_per_trigger)
        .writeStream.foreachBatch(load_batch)
        .option("checkpointLocation", os.path.join(out_root, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
