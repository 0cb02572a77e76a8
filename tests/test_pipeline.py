"""End-to-end pipeline correctness vs the independent oracle
(SURVEY.md §5 invariants 1-3, 5): token-array equality per routed row,
routed-row set equality per sink, per-sink aggregate equality, top-K
equality with pinned tie-breaks, and kill/resume idempotence."""

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from logparser_spark import oracle
from logparser_spark.operators import aggregates as agg
from logparser_spark.operators import summary_state
from logparser_spark.plans.pipeline import run_aggregates, run_pipeline, build_routed
from logparser_spark.sources.sequences import read_raw_sequences
from logparser_spark.sources.sinks import chunk_files, fold_path, read_sink, state_path

# the checkout holding these tests (conftest puts it first on sys.path)
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_package_under_test_is_this_checkout():
    """Another checkout of the repo (a parent-vs-change pair, a CI
    workspace) must test its own code: the imported package lies under
    the checkout that holds these tests, not under some fixed path."""
    import logparser_spark

    pkg = os.path.realpath(logparser_spark.__file__)
    assert os.path.commonpath([pkg, os.path.realpath(REPO_ROOT)]) == os.path.realpath(REPO_ROOT)


@pytest.fixture(scope="module")
def pipeline_out(spark, tiny_input, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe"))
    run_pipeline(spark, tiny_input, out, n_chunks=2)
    return out


@pytest.fixture(scope="module")
def oracle_parsed(tiny_lines):
    parsed = oracle.parse_frame(tiny_lines["line"])
    parsed["doc_id"] = tiny_lines["doc_id"].values
    parsed["source"] = tiny_lines["source"].values
    return parsed


def test_routed_row_set_equality(spark, pipeline_out, oracle_parsed):
    got = {
        (r.category, r.doc_id)
        for r in read_sink(spark, pipeline_out).select("category", "doc_id").collect()
    }
    want = set(zip(oracle_parsed["category"], oracle_parsed["doc_id"]))
    assert got == want


def test_token_array_equality(spark, pipeline_out, tiny_input):
    """Every routed row carries its original tokens byte-identical."""
    inp = {
        r.doc_id: r.tokens
        for r in read_raw_sequences(spark, tiny_input).collect()
    }
    rows = read_sink(spark, pipeline_out).select("doc_id", "tokens", "n_tok").collect()
    assert len(rows) == len(inp)
    for r in rows:
        assert r.tokens == inp[r.doc_id], r.doc_id
        assert r.n_tok == len(r.tokens)


def test_sink_totals_equality(spark, pipeline_out, oracle_parsed):
    got = agg.sink_totals(read_sink(spark, pipeline_out)).toPandas()
    want = oracle.aggregate_sinks(oracle_parsed)
    got = got.sort_values("category").reset_index(drop=True)
    for col in ["row_count", "error_count", "unique_ips", "bytes_total", "avg_response_time_ms"]:
        assert list(got[col]) == list(want[col]), col


def test_sink_totals_approx_distinct_within_tolerance(spark, pipeline_out, oracle_parsed):
    """The documented 10^12-scale knob: HLL++ distinct within 10% of
    exact (default rsd is 5%)."""
    got = (
        agg.sink_totals(read_sink(spark, pipeline_out), approx_distinct=True)
        .toPandas()
        .sort_values("category")
        .reset_index(drop=True)
    )
    want = oracle.aggregate_sinks(oracle_parsed)
    assert list(got["row_count"]) == list(want["row_count"])  # only distinct is approx
    for g, w in zip(got["unique_ips"], want["unique_ips"]):
        assert abs(g - w) <= max(2, 0.1 * w)


def test_status_hist_equality(spark, pipeline_out, oracle_parsed):
    got = (
        agg.status_hist(read_sink(spark, pipeline_out))
        .toPandas()
        .sort_values(["category", "status_class"])
        .reset_index(drop=True)
    )
    want = oracle.status_hist(oracle_parsed)
    pd.testing.assert_frame_equal(
        got.astype({"row_count": "int64"}), want.astype({"row_count": "int64"})
    )


def test_hourly_hist_equality(spark, pipeline_out, oracle_parsed):
    got = (
        agg.hourly_hist(read_sink(spark, pipeline_out))
        .toPandas()
        .sort_values(["category", "hour"])
        .reset_index(drop=True)
    )
    want = oracle.hourly_hist(oracle_parsed)
    assert got.shape == want.shape  # dense 24 x categories
    pd.testing.assert_frame_equal(
        got.astype({"hour": "int64", "row_count": "int64"}),
        want.astype({"hour": "int64", "row_count": "int64"}),
    )


def test_top_urls_equality(spark, pipeline_out, oracle_parsed):
    got = agg.top_urls(read_sink(spark, pipeline_out), k=100).toPandas()
    want = oracle.top_urls(oracle_parsed, k=100)
    assert list(got["url"]) == list(want["url"])
    for col in ["request_count", "avg_response_time", "total_bytes", "last_access_us"]:
        assert list(got[col].astype("int64")) == list(want[col].astype("int64")), col


def test_top_users_equality(spark, pipeline_out, oracle_parsed):
    got = agg.top_users(read_sink(spark, pipeline_out), k=10).toPandas()
    want = oracle.top_users(oracle_parsed, k=10)
    assert list(got["username"]) == list(want["username"])
    for col in ["min_ip", "request_count", "unique_ips", "avg_response_time",
                "total_bytes", "first_seen_us", "last_seen_us"]:
        assert list(got[col]) == list(want[col]), col


def test_enrichment_null_handling(spark, pipeline_out):
    """Unseen dim keys get defaults; seen keys carry dim attributes."""
    df = read_sink(spark, pipeline_out).select("action", "action_family", "ip_class")
    fams = {r.action: r.action_family for r in df.distinct().collect() if r.action}
    assert fams["TCP_MISS"] == "MISS"
    assert fams["TCP_DENIED"] == "DENIED"
    assert fams["NONE"] == "OTHER"


def test_quarantine_has_reject_reason(spark, pipeline_out):
    q = read_sink(spark, pipeline_out, category="quarantine")
    reasons = {r.reject_reason for r in q.select("reject_reason").distinct().collect()}
    assert "regex_mismatch" in reasons
    assert "invalid_username" in reasons
    assert q.filter("valid = 1").count() == 0


def test_resume_after_injected_failure(spark, tiny_input, tmp_path_factory):
    """Kill after chunk 1 of 4, restart, final state == uninterrupted run."""
    out_a = str(tmp_path_factory.mktemp("resume_a"))
    out_b = str(tmp_path_factory.mktemp("resume_b"))

    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(spark, tiny_input, out_a, n_chunks=4, fail_after_chunk=1)
    res = run_pipeline(spark, tiny_input, out_a, n_chunks=4)  # resume
    assert res["chunks"] == 4

    run_pipeline(spark, tiny_input, out_b, n_chunks=4)  # uninterrupted

    a = {(r.doc_id, r.category) for r in read_sink(spark, out_a).select("doc_id", "category").collect()}
    b = {(r.doc_id, r.category) for r in read_sink(spark, out_b).select("doc_id", "category").collect()}
    assert a == b
    # no duplicated doc_ids after resume
    assert len(a) == read_sink(spark, out_a).count()


def test_manifest_metrics(spark, tiny_input, tmp_path_factory):
    from logparser_spark.plans.checkpoint import Manifest

    out = str(tmp_path_factory.mktemp("metrics"))
    run_pipeline(spark, tiny_input, out, n_chunks=2)
    recs = Manifest(out).completed_chunks()
    assert len(recs) == 2
    for rec in recs.values():
        assert rec["rows"] > 0
        assert rec["rows_per_sec"] > 0
        assert set(rec["rows_per_category"]) <= {"quarantine", "denied", "error", "success", "other"}


def test_manifest_counts_match_data_and_observation(spark, tiny_input, tmp_path_factory):
    """Manifest counts come from the writer's exact footer walk (the
    source of record — Observation accumulators overcount on stage
    reattempts); they must equal an INDEPENDENT Spark read-back count
    per category, and on a clean run (no reattempts) the Observation
    cross-check must have agreed (no observed_rows divergence record)."""
    from logparser_spark.plans.checkpoint import Manifest

    out = str(tmp_path_factory.mktemp("footers"))
    run_pipeline(spark, tiny_input, out, n_chunks=2)
    readback = {
        r["category"]: r["n"]
        for r in read_sink(spark, out).groupBy("category").agg(F.count("*").alias("n")).collect()
    }
    total = 0
    merged: dict[str, int] = {}
    for rec in Manifest(out).completed_chunks().values():
        assert "observed_rows" not in rec  # clean run: cross-check agreed
        total += rec["rows"]
        for c, n in rec["rows_per_category"].items():
            merged[c] = merged.get(c, 0) + n
    assert merged == readback
    assert total == sum(readback.values())


def test_manifest_partition_metrics(spark, tiny_input, tmp_path_factory):
    """Each chunk record carries per-partition-dir lineage (rows, bytes,
    files) whose totals reconcile with the chunk counts."""
    from logparser_spark.plans.checkpoint import Manifest

    out = str(tmp_path_factory.mktemp("partmetrics"))
    run_pipeline(spark, tiny_input, out, n_chunks=1)
    for rec in Manifest(out).completed_chunks().values():
        parts = rec["partitions"]
        assert parts and all(p.startswith("category=") for p in parts)
        assert sum(p["rows"] for p in parts.values()) == rec["rows"]
        assert all(p["bytes"] > 0 and p["files"] >= 1 for p in parts.values())
        per_cat = {}
        for name, p in parts.items():
            cat = name.split("/")[0].split("=", 1)[1]
            per_cat[cat] = per_cat.get(cat, 0) + p["rows"]
        assert per_cat == rec["rows_per_category"]


def test_manifest_partition_watermarks(spark, tiny_input, tmp_path_factory):
    """Each partition-dir record carries the partition's max event time
    (the north rule's per-partition watermark), sourced from parquet
    footer column statistics and equal to an independent Spark
    max(time) read-back per (category, day)."""
    from datetime import datetime

    from logparser_spark.plans.checkpoint import Manifest

    out = str(tmp_path_factory.mktemp("watermarks"))
    run_pipeline(spark, tiny_input, out, n_chunks=1)
    want = {
        (r["category"], r["day"]): r["wm"]
        for r in read_sink(spark, out)
        # partition discovery may infer day as DATE; compare as string
        .groupBy("category", F.col("day").cast("string").alias("day"))
        .agg(F.max("time").alias("wm"))
        .collect()
    }
    seen = 0
    for rec in Manifest(out).completed_chunks().values():
        for name, p in rec["partitions"].items():
            cat = name.split("/")[0].split("=", 1)[1]
            day = name.split("/")[1].split("=", 1)[1]
            if day == "__HIVE_DEFAULT_PARTITION__":
                # null-time rows (timestamp rejects routed to
                # quarantine): no event time, so no watermark — it must
                # be absent, never a fabricated time
                assert p["watermark"] is None, name
                continue
            assert p["watermark"] is not None, name
            got = datetime.fromisoformat(p["watermark"])
            exp = want[(cat, day)]
            # footer stats are tz-aware UTC; Spark collect under the
            # pinned UTC session returns naive UTC datetimes
            assert got.replace(tzinfo=None) == exp, name
            seen += 1
    assert seen > 0


# summaries bounded by categories x classes/hours, k caps or vocabulary
BOUNDED_SUMMARIES = {
    "agg_sink_totals": agg.sink_totals,
    "agg_status_hist": agg.status_hist,
    "agg_hourly_hist": agg.hourly_hist,
    "top_urls": agg.top_urls,
    "top_users": agg.top_users,
    "dim_statuses": lambda df: agg.distinct_dims(df)[0],
    "dim_actions": lambda df: agg.distinct_dims(df)[1],
}


def test_summary_tables_written(spark, pipeline_out):
    """The publish contract the API fast path relies on: each bounded
    summary dir holds exactly one parquet file whose rows are the
    operator's output in its canonical order (the fast path serves
    them without re-sorting). The unserved daily rollup is no longer
    published."""
    import glob

    import pyarrow.parquet as pq

    run_aggregates(spark, pipeline_out)
    df = read_sink(spark, pipeline_out)
    for name, op in BOUNDED_SUMMARIES.items():
        files = glob.glob(os.path.join(pipeline_out, "summary", name, "*.parquet"))
        assert len(files) == 1, (name, files)
        got = [tuple(r.values()) for r in pq.read_table(files[0]).to_pylist()]
        assert got and got == [tuple(r) for r in op(df).collect()], name
    assert not os.path.exists(os.path.join(pipeline_out, "summary", "agg_daily_rollup"))


def test_publish_runs_zero_spark_jobs(spark, pipeline_out, spark_jobs):
    """The publish merges the chunks' summary states with pyarrow on the
    driver: no Spark job."""
    _, jobs = spark_jobs(lambda: run_aggregates(spark, pipeline_out))
    assert jobs == 0


def test_one_chunk_load_runs_four_spark_jobs(spark, tiny_input, pipeline_out, tmp_path, spark_jobs):
    """A one-chunk load through the shared per-chunk commit path runs 4
    Spark jobs on this fixture (``pipeline_out`` warms the session), and
    its manifest record carries the batch lineage keys and the size and
    build time of the chunk's summary state."""
    from logparser_spark.plans.checkpoint import Manifest

    out = str(tmp_path / "one")
    _, jobs = spark_jobs(lambda: run_pipeline(spark, tiny_input, out))
    assert jobs == 4
    rec = Manifest(out).completed_chunks()["chunk-00000"]
    assert set(rec) == {
        "chunk_id", "input_files", "rows", "rows_per_category",
        "wall_sec", "rows_per_sec", "partitions", "state_rows", "state_sec",
    }
    assert rec["state_rows"] == pq.ParquetFile(state_path(out, "chunk-00000")).metadata.num_rows > 0


def _without_data(src: str, dst: str) -> str:
    """A copy of sink ``src`` at ``dst`` holding only its manifest and
    summary states: no data file."""
    import shutil

    os.makedirs(dst)
    shutil.copy(os.path.join(src, "manifest.jsonl"), dst)
    shutil.copytree(os.path.join(src, "state"), os.path.join(dst, "state"))
    return dst


def _published(root: str) -> dict[str, bytes]:
    """Every published summary file under ``root``, by relative path."""
    import glob

    out = {}
    for f in sorted(glob.glob(os.path.join(root, "summary", "*", "*"))):
        with open(f, "rb") as fh:
            out[os.path.relpath(f, root)] = fh.read()
    return out


def test_publish_reads_no_data_file(spark, pipeline_out, tmp_path):
    """The publish reads only the manifest and the states: a copy of the
    sink without its ``data/`` tree publishes the same files."""
    run_aggregates(spark, pipeline_out)
    copy = _without_data(pipeline_out, str(tmp_path / "copy"))
    run_aggregates(spark, copy)
    assert _published(copy) == _published(pipeline_out) != {}


def test_load_fails_before_commit_when_the_state_misses_a_file(
    spark, tiny_input, pipeline_out, tmp_path, monkeypatch
):
    """A chunk's state must cover exactly the rows committed for it: a
    state build that sees one file fewer fails the load, naming the
    chunk, before its manifest commit. A rerun rolls the chunk back and
    commits the counts a clean load does."""
    from logparser_spark.plans import pipeline
    from logparser_spark.plans.checkpoint import Manifest

    out = str(tmp_path / "sink")
    monkeypatch.setattr(pipeline, "chunk_files", lambda root, c: chunk_files(root, c)[1:])
    with pytest.raises(RuntimeError, match="chunk-00000"):
        run_pipeline(spark, tiny_input, out, n_chunks=2)
    assert Manifest(out).completed_chunks() == {}
    assert chunk_files(out, "chunk-00000")  # promoted, not committed

    monkeypatch.undo()
    run_pipeline(spark, tiny_input, out, n_chunks=2)
    got, want = Manifest(out).completed_chunks(), Manifest(pipeline_out).completed_chunks()
    assert got.keys() == want.keys()
    for c in want:
        for key in ("rows", "rows_per_category", "state_rows"):
            assert got[c][key] == want[c][key], (c, key)
    assert read_sink(spark, out).count() == sum(r["rows"] for r in got.values())


def test_load_walks_each_footer_once(spark, tiny_input, tmp_path, monkeypatch):
    """One footer walk per load serves both the counts and the
    per-partition lineage: one footer read per promoted file."""
    import glob

    from logparser_spark.plans import pipeline
    from logparser_spark.plans.checkpoint import Manifest
    from logparser_spark.sources import sinks

    root = str(tmp_path / "sink")
    seen = []
    footer_stats = sinks._footer_stats
    monkeypatch.setattr(
        sinks, "_footer_stats", lambda path, col: seen.append(path) or footer_stats(path, col)
    )
    raw = read_raw_sequences(spark, sorted(glob.glob(os.path.join(tiny_input, "*.parquet"))))
    rows = pipeline.load_chunk(spark, raw, "chunk-00000", Manifest(root), {})
    files = chunk_files(root, "chunk-00000")
    assert rows == 10_000 and files
    assert sorted(seen) == sorted(files)


def test_publish_raises_on_a_committed_chunk_without_state(spark, pipeline_out, tmp_path):
    """A committed load chunk with no state is an error naming the chunk,
    never a silent gap in the summaries."""
    copy = _without_data(pipeline_out, str(tmp_path / "copy"))
    os.remove(state_path(copy, "chunk-00001"))
    with pytest.raises(FileNotFoundError, match="chunk-00001"):
        run_aggregates(spark, copy)


def test_publish_folds_states_and_ignores_a_stale_fold(spark, pipeline_out, tmp_path, monkeypatch):
    """Once ``FOLD_EVERY`` chunks are unfolded, the publish folds their
    states into one file naming the chunks, and later publishes read the
    fold instead of those states; a fold naming a chunk the manifest
    lacks is ignored. The published files never change."""
    from logparser_spark.plans.checkpoint import Manifest

    run_aggregates(spark, pipeline_out)
    want = _published(pipeline_out)
    copy = _without_data(pipeline_out, str(tmp_path / "copy"))
    chunks = list(Manifest(copy).completed_chunks())
    monkeypatch.setattr(summary_state, "FOLD_EVERY", len(chunks))
    run_aggregates(spark, copy)
    fold = pq.ParquetFile(fold_path(copy))
    assert fold.schema_arrow.metadata[b"chunks"] == json.dumps(chunks).encode()
    assert _published(copy) == want
    # the fold stands in for the states it covers
    states = {c: pq.read_table(state_path(copy, c)) for c in chunks}
    for c in chunks:
        os.remove(state_path(copy, c))
    run_aggregates(spark, copy)
    assert _published(copy) == want
    # a fold naming an uncommitted chunk is not read
    stale = fold.read().replace_schema_metadata({"chunks": json.dumps([*chunks, "chunk-09999"])})
    pq.write_table(stale, fold_path(copy))
    with pytest.raises(FileNotFoundError, match=chunks[0]):
        run_aggregates(spark, copy)
    for c, t in states.items():
        pq.write_table(t, state_path(copy, c))
    run_aggregates(spark, copy)
    assert _published(copy) == want


def _assert_published_equal_operators(spark, root):
    """Each published table equals its live operator over ``read_sink``:
    same rows, same order, same Arrow schema."""
    df = read_sink(spark, root)
    got = {}
    for name, op in BOUNDED_SUMMARIES.items():
        got[name] = pq.read_table(os.path.join(root, "summary", name, "part-00000.parquet"))
        want = op(df).toArrow()
        assert got[name].schema == want.schema, name
        assert got[name].to_pylist() == want.to_pylist(), name
    return got


def test_state_merge_equals_operators_on_edge_cases(spark, tmp_path, monkeypatch):
    """Edge rows, loaded as three chunks through ``load_chunk`` (routing
    bypassed: the rows are already routed), publish tables that each
    equal their operator's ``toArrow()`` over the sink — rows, order and
    Arrow schema. The columns are those the summaries read, with the
    sink's types."""
    from datetime import datetime

    from logparser_spark.plans import pipeline
    from logparser_spark.plans.checkpoint import Manifest

    schema = (
        "category string, valid int, status_code int, action string, ip string,"
        " response_size_bytes bigint, response_time_ms int, time timestamp,"
        " epoch_us bigint, url string, domain string, username string"
    )
    t = datetime(2024, 3, 5, 10, 15)
    web = ("http://a/", "a")
    rows = [
        # a category with quarantine (invalid) rows only
        ("quarantine", 0, None, None, None, None, None, None, None, None, None, None),
        ("quarantine", 0, 0, "-", "10.0.0.9", 7, -1, t, 9, *web, "u_x"),
        # a category whose valid rows all fall in one hour
        ("denied", 1, 403, "TCP_DENIED", "10.0.0.1", 10, 5, t, 1, *web, "u_a"),
        ("denied", 1, 407, "TCP_DENIED", "10.0.0.2", 20, 7, datetime(2024, 3, 6, 10, 59),
         5, "http://b/", None, "u_a"),
        ("denied", 0, 403, "TCP_DENIED", "10.0.0.2", 1, 1, datetime(2024, 3, 6, 3), 2, *web, "u_a"),
        # status codes null, 0 and negative; actions null and '-';
        # response times all <= 0; bytes null throughout; urls and
        # usernames null and '-'; a pre-epoch row
        ("other", 1, None, None, "10.0.0.3", None, 0, datetime(2024, 3, 5, 23, 30),
         3, None, None, None),
        ("other", 1, 0, "-", "10.0.0.3", None, -3, datetime(1969, 12, 31, 22, 30),
         -5_400_000_000, "-", None, "-"),
        ("other", 1, -5, "NONE", None, None, -1, t, 4, "http://c/", "c", "u_b"),
        # an ordinary category: one null byte count among the rest, a
        # user with a null ip, a url with a null response time
        ("success", 1, 200, "TCP_HIT", "10.0.0.4", 100, 30, t, 6, *web, "u_b"),
        ("success", 1, 304, "TCP_MISS", "10.0.0.5", None, 12, datetime(2024, 3, 5, 0, 1),
         7, "http://b/", None, "u_b"),
        ("success", 1, 200, "TCP_MISS", "10.0.0.4", 50, None, datetime(2024, 3, 5, 13),
         8, "http://c/", "c", "u_c"),
        ("success", 1, 200, "TCP_MISS", None, 50, 9, t, 10, "http://d/", "d", "u_c"),
        ("error", 1, 503, "TCP_MISS", "10.0.0.6", 0, 1000, t, 11, *web, "u_a"),
        # a null category sorts first, as the operators' orderBy puts it
        (None, 1, 200, "TCP_HIT", "10.0.0.7", 1, 1, t, 12, "http://d/", "d", "u_d"),
    ]
    root = str(tmp_path / "sink")
    manifest = Manifest(root)
    monkeypatch.setattr(pipeline, "build_routed", lambda spark, raw: raw)
    for i in range(3):
        part = spark.createDataFrame(rows[i::3], schema)
        pipeline.load_chunk(spark, part, f"chunk-{i:05d}", manifest, {})
    run_aggregates(spark, root)
    got = _assert_published_equal_operators(spark, root)
    # the same files when each state is built from two-row batches with
    # partials folded in pairs, and the publish folds every two chunks
    published = _published(root)
    seen = []
    rows_state = summary_state._rows_state
    monkeypatch.setattr(summary_state, "_rows_state", lambda t: seen.append(t.num_rows) or rows_state(t))
    monkeypatch.setattr(summary_state, "BATCH_ROWS", 2)
    monkeypatch.setattr(summary_state, "FOLD_EVERY", 2)
    for i in range(3):
        state = summary_state.chunk_state(chunk_files(root, f"chunk-{i:05d}"))
        pq.write_table(state, state_path(root, f"chunk-{i:05d}"))
    run_aggregates(spark, root)
    assert os.path.exists(fold_path(root))
    assert _published(root) == published
    assert len(seen) >= 6 and max(seen) < 2 * 2
    # the cases above are really present in the tables compared
    hourly = got["agg_hourly_hist"].to_pylist()
    assert {r["category"] for r in hourly} == {None, "denied", "error", "other", "success"}
    assert [r["hour"] for r in hourly if r["category"] == "denied" and r["row_count"]] == [10]
    assert [r["hour"] for r in hourly if r["category"] == "other" and r["row_count"]] == [10, 22, 23]
    assert [r["status_code"] for r in got["dim_statuses"].to_pylist()] == [200, 304, 403, 407, 503]
    assert "-" not in [r["action"] for r in got["dim_actions"].to_pylist()]
    users = {r["username"]: r for r in got["top_users"].to_pylist()}
    assert users["u_c"]["unique_ips"] == 1 and users["u_c"]["min_ip"] == "10.0.0.4"
    assert users["u_a"]["unique_ips"] == 3 and users["u_a"]["request_count"] == 3
    urls = {r["url"]: r for r in got["top_urls"].to_pylist()}
    assert urls["http://a/"]["request_count"] == 3 and "-" not in urls


def test_resume_after_crash_between_state_and_commit(spark, tiny_input, tmp_path, monkeypatch):
    """A crash after a chunk's state is written but before its manifest
    commit leaves a state the resume replaces: the published summaries
    then equal the operators over the sink."""
    from logparser_spark.plans.checkpoint import Manifest

    out = str(tmp_path / "sink")
    commit = Manifest.commit_chunk

    def crash_on_second(self, record):
        if record["chunk_id"] == "chunk-00001":
            raise RuntimeError("injected crash before commit")
        commit(self, record)

    monkeypatch.setattr(Manifest, "commit_chunk", crash_on_second)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_pipeline(spark, tiny_input, out, n_chunks=2)
    assert os.path.exists(state_path(out, "chunk-00001"))
    assert set(Manifest(out).completed_chunks()) == {"chunk-00000"}
    monkeypatch.setattr(Manifest, "commit_chunk", commit)
    run_pipeline(spark, tiny_input, out, n_chunks=2)
    run_aggregates(spark, out)
    _assert_published_equal_operators(spark, out)
    assert read_sink(spark, out).count() == 10_000


def test_compaction_leaves_published_files_unchanged(spark, tiny_input, tmp_path):
    """Compaction changes no row, so it changes no state and the files a
    publish writes after it are byte-identical to those before it."""
    from logparser_spark.sources.compact import compact_sinks

    out = str(tmp_path / "sink")
    run_pipeline(spark, tiny_input, out, n_chunks=3)
    run_aggregates(spark, out)
    before = _published(out)
    assert compact_sinks(spark, out)["partitions_rewritten"] > 0
    run_aggregates(spark, out)
    assert _published(out) == before


def test_footer_reads_leave_no_cyclic_garbage(pipeline_out):
    """The footer helpers build no reference cycles: with the cyclic
    collector off, repeated calls leave nothing for it to free (a
    collection would otherwise land in some later request)."""
    import gc
    import glob

    from logparser_spark.sources.sinks import _footer_stats, footer_schema

    files = sorted(glob.glob(os.path.join(pipeline_out, "data", "*", "*", "*.parquet")))[:5]
    for helper in (lambda f: _footer_stats(f, "time"), footer_schema):
        helper(files[0])  # first-call imports and caches
        gc.collect()
        gc.disable()
        try:
            for f in files * 4:
                helper(f)
            assert gc.collect() == 0
        finally:
            gc.enable()


def test_read_sink_pins_inferred_schema_without_a_job(spark, pipeline_out, spark_jobs):
    """read_sink's footer-pinned schema is exactly what inference
    yields — same data columns in the same order, then the discovered
    ``category`` (string) and ``day`` (date) partition columns — and
    planning it runs no Spark job, where inference runs at least one."""
    data = os.path.join(pipeline_out, "data")
    inferred, infer_jobs = spark_jobs(
        lambda: spark.read.option("basePath", data).parquet(data)
    )
    pinned, jobs = spark_jobs(lambda: read_sink(spark, pipeline_out))
    assert jobs == 0 and infer_jobs >= 1
    assert pinned.schema == inferred.schema
    assert [(f.name, f.dataType.simpleString()) for f in pinned.schema[-2:]] == [
        ("category", "string"),
        ("day", "date"),
    ]
    _, jobs = spark_jobs(lambda: read_sink(spark, pipeline_out, category="success"))
    assert jobs == 0


def test_read_sink_without_data_raises_as_before(spark, tmp_path):
    """No data file -> read_sink makes the unpinned call, so a missing
    data dir and an empty one raise the same errors as plain inference."""
    from pyspark.errors import AnalysisException

    data = tmp_path / "data"
    for condition in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
        with pytest.raises(AnalysisException) as plain:
            spark.read.option("basePath", str(data)).parquet(str(data))
        with pytest.raises(AnalysisException) as got:
            read_sink(spark, str(tmp_path))
        assert got.value.getCondition() == plain.value.getCondition() == condition
        data.mkdir(exist_ok=True)  # next round: the dir exists, holds no file


def test_parse_clean_across_spark_context_restart():
    """with_parsed and simhash in a second SparkContext of the same
    process (a long-lived host that restarts Spark) run without errors:
    a UDF object shared across contexts keeps the first context's Python
    accumulator on its JVM side, and every task of the next context then
    logs "Failed to update accumulator"."""
    import subprocess
    import sys

    line = "1709251200.123 250 10.0.3.17 TCP_MISS/200 5120 GET http://x/ u_a_b D t"
    code = f"""
import sys
sys.path.insert(0, {REPO_ROOT!r})
from logparser_spark.functions.parse import with_parsed
from logparser_spark.operators.dedup import simhash
from logparser_spark.session import build_session
for _ in range(2):
    spark = build_session(app_name="restart-test", master="local[2]", shuffle_partitions=2)
    raw = spark.createDataFrame(
        [("d1", {[ord(c) for c in line]!r})], "doc_id string, tokens array<int>"
    )
    print(with_parsed(raw).select("valid").collect()[0].valid)
    docs = spark.createDataFrame([("d1", "a b c"), ("d2", "a b d")], "doc_id string, text string")
    print(len(simhash(docs).collect()))
    spark.stop()
"""
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.split() == ["1", "2", "1", "2"]
    assert "Failed to update accumulator" not in proc.stderr, proc.stderr[-3000:]


def test_counts_exact_under_speculation(tiny_input, tmp_path_factory):
    """End-to-end run with spark.speculation=true (a fresh JVM — the
    conf is per-SparkContext): speculative duplicate attempts may
    inflate Observation accumulators, but manifest counts must stay
    exact because the writer's footer walk is the source of record."""
    import json
    import subprocess
    import sys

    out = str(tmp_path_factory.mktemp("spec"))
    code = f"""
import sys, json
sys.path.insert(0, {REPO_ROOT!r})
from logparser_spark.session import build_session
from logparser_spark.plans.pipeline import run_pipeline
from logparser_spark.plans.checkpoint import Manifest
from logparser_spark.sources.sinks import read_sink
spark = build_session(
    app_name="spec-test", master="local[4]", shuffle_partitions=8,
    extra_conf={{
        "spark.speculation": "true",
        "spark.speculation.interval": "50ms",
        "spark.speculation.multiplier": "1.0",
        "spark.speculation.quantile": "0.1",
    }},
)
run_pipeline(spark, {tiny_input!r}, {out!r}, n_chunks=2)
recs = Manifest({out!r}).completed_chunks()
actual = read_sink(spark, {out!r}).count()
print(json.dumps({{
    "manifest_rows": sum(r["rows"] for r in recs.values()),
    "actual_rows": actual,
}}))
"""
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    rec = json.loads(proc.stdout.strip().splitlines()[-1])
    assert rec["manifest_rows"] == rec["actual_rows"] == 10_000


def test_manifest_commit_is_append_and_torn_tail_tolerated(tmp_path):
    """Commits are O(1) appends; a torn final line (crash mid-commit)
    reads as 'not committed' and can never splice into the NEXT commit's
    record."""
    from logparser_spark.plans.checkpoint import Manifest

    m = Manifest(str(tmp_path))
    m.commit_chunk({"chunk_id": "chunk-00000", "rows": 1})
    size_one = os.path.getsize(m.path)
    m.commit_chunk({"chunk_id": "chunk-00001", "rows": 2})
    # append-only: the first record's bytes are a prefix, untouched
    assert os.path.getsize(m.path) > size_one
    with open(m.path, "rb") as fh:
        assert fh.read(size_one).decode().splitlines()[0].startswith("{")

    # simulate a crash mid-append: torn fragment, no trailing newline
    with open(m.path, "ab") as fh:
        fh.write(b'{"chunk_id": "chunk-000')
    done = m.completed_chunks()
    assert set(done) == {"chunk-00000", "chunk-00001"}  # torn = not committed

    # the next commit must drop the fragment, not splice into it
    m.commit_chunk({"chunk_id": "chunk-00002", "rows": 3})
    done = m.completed_chunks()
    assert set(done) == {"chunk-00000", "chunk-00001", "chunk-00002"}
    assert done["chunk-00002"]["rows"] == 3
    with open(m.path, "rb") as fh:
        raw = fh.read()
    assert b'"chunk_id": "chunk-000\n' not in raw  # fragment truncated
    assert all(ln.startswith(b"{") and ln.endswith(b"}") for ln in raw.splitlines())


def test_manifest_corrupted_committed_record_refuses_resume(tmp_path):
    """Damage to a COMMITTED (newline-terminated / interior) record must
    raise, not silently mark the chunk un-committed: after compaction the
    rollback-by-prefix deletes nothing and a re-run would duplicate every
    row of the chunk."""
    from logparser_spark.plans.checkpoint import Manifest

    m = Manifest(str(tmp_path))
    m.commit_chunk({"chunk_id": "chunk-00000", "rows": 1})
    m.commit_chunk({"chunk_id": "chunk-00001", "rows": 2})
    with open(m.path, "rb") as fh:
        lines = fh.read().splitlines(keepends=True)
    # bit-rot the FIRST (interior) record
    lines[0] = b"\x00" + lines[0][1:]
    with open(m.path, "wb") as fh:
        fh.writelines(lines)
    with pytest.raises(ValueError, match="corrupted"):
        m.completed_chunks()

    # newline-terminated final record damaged -> also corruption
    m2 = Manifest(str(tmp_path / "m2"))
    m2.commit_chunk({"chunk_id": "chunk-00000", "rows": 1})
    with open(m2.path, "rb") as fh:
        raw = fh.read()
    with open(m2.path, "wb") as fh:
        fh.write(b"garbage" + raw[7:])
    with pytest.raises(ValueError, match="corrupted"):
        m2.completed_chunks()


def test_status_class_boundaries_match_the_oracle(spark):
    """The Spark expression and the state build's pyarrow classifier
    both read ``classify.STATUS_CLASS_RANGES``; every range boundary is
    checked against the oracle's own ranges, so the shared table cannot
    drift unseen."""
    from logparser_spark.functions.classify import STATUS_CLASS_LABELS, status_class_expr

    codes = [None, -1, 0, 199, 200, 299, 300, 399, 400, 499, 500, 599, 999]
    want = [STATUS_CLASS_LABELS["other"] if c is None else oracle.status_class(c) for c in codes]
    df = spark.createDataFrame([(c,) for c in codes], "s int")
    assert [r[0] for r in df.select(status_class_expr(F.col("s"))).collect()] == want
    assert summary_state._status_class(pa.chunked_array([codes], pa.int32())).to_pylist() == want


def test_day_and_hour_buckets_are_session_timezone_proof(spark):
    """hour/day derivations must be UTC by construction (epoch
    arithmetic), not via hour()/date_format()/date_trunc() which honor
    spark.sql.session.timeZone — an unpinned consumer session must
    bucket identically to the pinned one."""
    import datetime as dt

    from logparser_spark.sources.sinks import day_expr

    # 2024-01-02T03:00:00Z: in America/New_York this is 22:00 on Jan 1
    ts = dt.datetime(2024, 1, 2, 3, 0, 0)
    df = spark.createDataFrame(
        [("u", 200, ts, "ok", 1)],
        "username string, status_code int, time timestamp, category string, valid int",
    )
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        d = df.select(day_expr("time").alias("day")).collect()[0].day
        assert d == "2024-01-02"  # not 2024-01-01
        h = agg.hourly_hist(df).filter(F.col("row_count") > 0).collect()
        assert [r.hour for r in h] == [3]  # not 22
        day = agg.daily_rollup(df).collect()[0].day
        assert (day.day, day.hour) == (2, 0) or str(day).startswith("2024-01-02")
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_utc_bucketing_pre_epoch_floors(spark):
    """The epoch div arithmetic truncates toward zero; pre-1970 rows
    must FLOOR instead — 1969-12-31T23:30Z is hour 23 of 1969-12-31,
    not hour 0 of 1970-01-01 (hourly_hist would silently drop a
    negative slot from its dense 0..23 grid). The pipeline's own parse
    admits only unsigned epochs, but the operators are generic."""
    import datetime as dt

    from logparser_spark.sources.sinks import day_expr

    rows = [
        ("u", 200, dt.datetime(1969, 12, 31, 23, 30), "ok", 1),  # hour 23
        ("u", 200, dt.datetime(1969, 12, 31, 1, 30), "ok", 1),  # hour 1
        ("u", 200, dt.datetime(1970, 1, 1, 5, 0), "ok", 1),  # hour 5
    ]
    df = spark.createDataFrame(
        rows,
        "username string, status_code int, time timestamp, category string, valid int",
    )
    h = agg.hourly_hist(df).filter(F.col("row_count") > 0).collect()
    assert sorted(r.hour for r in h) == [1, 5, 23]
    days = [r.day for r in df.select(day_expr("time").alias("day")).collect()]
    assert days == ["1969-12-31", "1969-12-31", "1970-01-01"]
    roll = {str(r.day): r.request_count for r in agg.daily_rollup(df).collect()}
    assert roll == {"1969-12-31 00:00:00": 2, "1970-01-01 00:00:00": 1}


def test_chunk_id_with_glob_metacharacters_rejected(spark, tmp_path):
    """Chunk ids become filename prefixes AND glob patterns; a
    metacharacter id would make remove_chunk silently delete nothing
    (duplicate rows after resume), so it must fail loudly."""
    from logparser_spark.sources.sinks import MultiSinkWriter

    w = MultiSinkWriter(str(tmp_path))
    for bad in ("run[1]", "a*b", "x?y", "a/b", ""):
        with pytest.raises(ValueError, match="chunk_id"):
            w.remove_chunk(bad)
    w.remove_chunk("chunk-00001")  # valid id on empty sink: no-op, no error
