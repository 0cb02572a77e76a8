"""Structured Streaming load: an availableNow drain of the fixture
directory lands each micro-batch as one more chunk of the batch sink,
so it routes exactly the batch row set, resumes like a batch load, and
shares one root, one compaction and one publish with batch chunks."""

import glob
import os
from collections import Counter

import pyarrow.parquet as pq
import pytest
from pyspark.errors import StreamingQueryException

from logparser_spark.fixtures import SEED, write_raw_sequences
from logparser_spark.plans import pipeline
from logparser_spark.plans.checkpoint import Manifest
from logparser_spark.plans.pipeline import build_routed, run_aggregates, run_pipeline
from logparser_spark.sources.compact import compact_sinks
from logparser_spark.sources.sequences import read_raw_sequences
from logparser_spark.sources.sinks import footer_row_count, read_sink, summary_path
from logparser_spark.streaming.stream_pipeline import (
    read_sequence_stream,
    start_stream_load,
)


def _drain(spark, input_path, out, max_files_per_trigger=3):
    q = start_stream_load(spark, input_path, out, max_files_per_trigger=max_files_per_trigger)
    q.awaitTermination(300)
    return q


def _pairs(df):
    return Counter((r.doc_id, r.category) for r in df.select("doc_id", "category").collect())


def _data_files(out):
    return glob.glob(os.path.join(out, "data", "**", "*.parquet"), recursive=True)


@pytest.fixture(scope="module")
def stream_out(spark, tiny_input, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("stream"))
    _drain(spark, tiny_input, out)
    return out


def test_stream_routes_same_rows_as_batch(spark, tiny_input, stream_out):
    got = _pairs(read_sink(spark, stream_out))
    want = _pairs(build_routed(spark, read_raw_sequences(spark, tiny_input)))
    assert got == want
    # 8 files at 3 a trigger: three micro-batches, one chunk each
    assert sorted(Manifest(stream_out).completed_chunks()) == [
        "stream-00000",
        "stream-00001",
        "stream-00002",
    ]


def test_stream_restart_is_idempotent(spark, tiny_input, stream_out):
    """Restarting the drained availableNow query adds no chunk and no
    row: the checkpoint has no new batch to run."""
    records = Manifest(stream_out).completed_chunks()
    n_before = read_sink(spark, stream_out).count()
    _drain(spark, tiny_input, stream_out)
    assert Manifest(stream_out).completed_chunks() == records
    assert read_sink(spark, stream_out).count() == n_before


def test_stream_publishes_batch_summaries(spark, tiny_input, stream_out, tmp_path):
    """The summaries published over a streamed root equal those over a
    batch root loaded from the same input."""
    batch_out = str(tmp_path / "batch")
    run_pipeline(spark, tiny_input, batch_out)
    run_aggregates(spark, batch_out)
    run_aggregates(spark, stream_out)
    for name in ("agg_hourly_hist", "agg_sink_totals"):
        got, want = (
            pq.read_table(summary_path(root, name))
            for root in (stream_out, batch_out)
        )
        assert got.num_rows > 0, name
        assert got.to_pylist() == want.to_pylist(), name


def test_stream_and_batch_chunks_share_one_root(spark, tiny_input, tmp_path):
    """Batch chunks and streamed micro-batches are read, counted and
    compacted as one table."""
    stream_in = write_raw_sequences(str(tmp_path / "arrivals"), 3_000, seed=SEED + 1, files=6)
    out = str(tmp_path / "sink")
    run_pipeline(spark, tiny_input, out, n_chunks=2)
    _drain(spark, stream_in, out)

    inputs = sum(read_raw_sequences(spark, p).count() for p in (tiny_input, stream_in))
    assert read_sink(spark, out).count() == footer_row_count(_data_files(out)) == inputs
    assert not glob.glob(os.path.join(out, "data", "**", "_spark_metadata"), recursive=True)

    before = _pairs(read_sink(spark, out))
    summary = compact_sinks(spark, out)
    assert read_sink(spark, out).count() == inputs
    assert _pairs(read_sink(spark, out)) == before
    sources = [os.path.basename(f) for f in summary["old_files"]]
    assert any(f.startswith("stream-") for f in sources), sources


def test_crash_before_commit_leaves_no_duplicates(spark, tiny_input, tmp_path, monkeypatch):
    """A micro-batch written but not committed (the manifest commit
    fails once) is rolled back and loaded again when the stream
    restarts. One committed to the manifest but not to Spark's commit
    log (a failure right after the manifest commit) is skipped when
    Spark replays it, even once compaction has folded its files. Either
    way the sink then holds each input row once."""
    n_input = read_raw_sequences(spark, tiny_input).count()

    def assert_each_row_once(out):
        rows = read_sink(spark, out).select("doc_id").collect()
        assert len(rows) == n_input
        assert len({r.doc_id for r in rows}) == len(rows)

    # before the manifest commit: the first batch's files are left behind
    out = str(tmp_path / "crash")
    commit = Manifest.commit_chunk
    failed = []

    def commit_fails_once(self, record):
        if not failed:
            failed.append(record["chunk_id"])
            raise RuntimeError("injected failure before the manifest commit")
        return commit(self, record)

    monkeypatch.setattr(Manifest, "commit_chunk", commit_fails_once)
    q = start_stream_load(spark, tiny_input, out, max_files_per_trigger=3)
    with pytest.raises(StreamingQueryException, match="injected failure"):
        q.awaitTermination(300)
    assert failed == ["stream-00000"]
    assert Manifest(out).completed_chunks() == {}
    assert glob.glob(os.path.join(out, "data", "**", "stream-00000-*.parquet"), recursive=True)

    _drain(spark, tiny_input, out)
    assert_each_row_once(out)
    assert "stream-00000" in Manifest(out).completed_chunks()
    monkeypatch.undo()

    # after the manifest commit: the second batch is committed, then
    # compacted away before Spark replays it
    out = str(tmp_path / "crash_after_commit")
    invalidate = pipeline.invalidate_registered
    failed = []

    def invalidate_fails_once():
        if len(Manifest(out).completed_chunks()) == 2 and not failed:
            failed.append(True)
            raise RuntimeError("injected failure after the manifest commit")
        return invalidate()

    monkeypatch.setattr(pipeline, "invalidate_registered", invalidate_fails_once)
    q = start_stream_load(spark, tiny_input, out, max_files_per_trigger=3)
    with pytest.raises(StreamingQueryException, match="injected failure"):
        q.awaitTermination(300)
    assert sorted(Manifest(out).completed_chunks()) == ["stream-00000", "stream-00001"]
    sources = [os.path.basename(f) for f in compact_sinks(spark, out)["old_files"]]
    assert any(f.startswith("stream-00001-") for f in sources), sources

    _drain(spark, tiny_input, out)
    assert_each_row_once(out)
    assert "stream-00002" in Manifest(out).completed_chunks()


def test_zero_files_per_trigger_rejected(spark, tiny_input):
    """0 must fail loudly — silently dropping the option would ingest
    every available file in one unbounded micro-batch, the exact OOM
    the throttle exists to prevent."""
    with pytest.raises(ValueError, match="max_files_per_trigger"):
        read_sequence_stream(spark, tiny_input, max_files_per_trigger=0)
