"""The sink writer on its own: MultiSinkWriter's stage -> rename-promote
publish, its footer-only metrics and its rollback, plus the layout and
footer helpers the pipeline, the publish and the API share. The
end-to-end pipeline tests drive the same code through run_pipeline;
these pin each piece against rows the test wrote itself."""

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from logparser_spark.sources.sinks import (
    MultiSinkWriter,
    _footer_stats,
    category_counts,
    chunk_files,
    fold_path,
    footer_row_count,
    state_path,
)

ROWS = [
    ("d1", "success", dt.datetime(2024, 1, 1, 9, 0)),
    ("d2", "success", dt.datetime(2024, 1, 1, 23, 59)),
    ("d3", "success", dt.datetime(2024, 1, 2, 0, 1)),
    ("d4", "failure", dt.datetime(2024, 1, 2, 12, 0)),
    ("d5", "quarantine", None),
]
# (category, day) -> rows; a null time lands in Spark's default partition
WANT_PARTS = {
    ("success", "2024-01-01"): 2,
    ("success", "2024-01-02"): 1,
    ("failure", "2024-01-02"): 1,
    ("quarantine", "__HIVE_DEFAULT_PARTITION__"): 1,
}


def _frame(spark):
    return spark.createDataFrame(ROWS, "doc_id string, category string, time timestamp")


def _part_key(name):
    cat, day = name.split(os.sep)
    return cat.split("=", 1)[1], day.split("=", 1)[1]


@pytest.fixture(scope="module")
def written(spark, tmp_path_factory):
    """A sink holding two chunks of the same rows."""
    w = MultiSinkWriter(str(tmp_path_factory.mktemp("sink")))
    moved = {c: w.write_chunk(_frame(spark), c) for c in ("chunk-00000", "chunk-00001")}
    return w, moved


def test_write_chunk_promotes_every_file_under_its_chunk_prefix(written):
    w, moved = written
    for c, n in moved.items():
        files = chunk_files(w.root, c)
        assert n == len(files) > 0
        for f in files:
            assert os.path.basename(f).startswith(f"{c}-part-")
            rel = os.path.relpath(f, w.data_dir).split(os.sep)
            assert rel[0].startswith("category=") and rel[1].startswith("day=")


def test_write_chunk_leaves_no_staging_behind(written):
    w, _ = written
    assert not os.listdir(w.staging_root)


def test_write_chunk_discards_a_crashed_attempts_staging(spark, tmp_path):
    """Staged files of an earlier attempt at the same chunk are never
    promoted: the rerun starts from an empty staging directory."""
    w = MultiSinkWriter(str(tmp_path))
    stale = os.path.join(w.staging_root, "chunk-00000", "category=success", "day=2024-01-01")
    os.makedirs(stale)
    pq.write_table(pa.table({"doc_id": ["stale"]}), os.path.join(stale, "part-stale.parquet"))

    n = w.write_chunk(_frame(spark), "chunk-00000")
    files = chunk_files(w.root, "chunk-00000")
    assert n == len(files)
    assert not any("stale" in f for f in files)
    assert footer_row_count(files) == len(ROWS)


def test_partition_metrics_rows_match_the_written_rows(written):
    w, _ = written
    for c in ("chunk-00000", "chunk-00001"):
        parts = w.partition_metrics(c)
        assert {_part_key(p): rec["rows"] for p, rec in parts.items()} == WANT_PARTS
        for rec in parts.values():
            assert rec["files"] >= 1 and rec["bytes"] > 0


def test_partition_metrics_watermark_is_the_partitions_max_time(written):
    w, _ = written
    wms = {_part_key(p): rec["watermark"] for p, rec in w.partition_metrics("chunk-00000").items()}
    assert wms[("quarantine", "__HIVE_DEFAULT_PARTITION__")] is None
    got = {
        k: dt.datetime.fromisoformat(v).replace(tzinfo=None)
        for k, v in wms.items()
        if v is not None
    }
    assert got == {
        ("success", "2024-01-01"): dt.datetime(2024, 1, 1, 23, 59),
        ("success", "2024-01-02"): dt.datetime(2024, 1, 2, 0, 1),
        ("failure", "2024-01-02"): dt.datetime(2024, 1, 2, 12, 0),
    }


def test_exact_chunk_counts_fold_partition_metrics(written):
    w, _ = written
    total, per_cat = w.exact_chunk_counts("chunk-00001")
    assert (total, per_cat) == category_counts(w.partition_metrics("chunk-00001"))
    assert total == len(ROWS)
    assert per_cat == {"success": 3, "failure": 1, "quarantine": 1}


def test_remove_chunk_deletes_only_its_own_files_and_state(spark, tmp_path):
    w = MultiSinkWriter(str(tmp_path))
    for c in ("chunk-00000", "chunk-00001"):
        w.write_chunk(_frame(spark), c)
        os.makedirs(os.path.dirname(state_path(w.root, c)), exist_ok=True)
        pq.write_table(pa.table({"x": [1]}), state_path(w.root, c))
    keep = sorted(chunk_files(w.root, "chunk-00001"))

    w.remove_chunk("chunk-00000")
    assert chunk_files(w.root, "chunk-00000") == []
    assert not os.path.exists(state_path(w.root, "chunk-00000"))
    assert sorted(chunk_files(w.root, "chunk-00001")) == keep
    assert os.path.exists(state_path(w.root, "chunk-00001"))

    w.remove_chunk("chunk-00000")  # the undo is idempotent
    assert sorted(chunk_files(w.root, "chunk-00001")) == keep


def test_run_pipeline_writes_through_one_writer_on_the_sink_root(spark, tiny_input, tmp_path):
    """run_pipeline builds its writer on the sink root: every committed
    chunk's partition lineage is what a MultiSinkWriter on that root
    reads back, and no staging is left behind."""
    from logparser_spark.plans.checkpoint import Manifest
    from logparser_spark.plans.pipeline import run_pipeline

    out = str(tmp_path / "sink")
    run_pipeline(spark, tiny_input, out, n_chunks=2)
    recs = Manifest(out).completed_chunks()
    w = MultiSinkWriter(out)
    assert sorted(recs) == ["chunk-00000", "chunk-00001"]
    for c, rec in recs.items():
        parts = w.partition_metrics(c)
        assert rec["partitions"] == parts
        assert (rec["rows"], rec["rows_per_category"]) == category_counts(parts)
        assert os.path.exists(state_path(out, c))
    assert not os.listdir(w.staging_root)


# ---------------------------------------------------------------------
# footer and layout helpers, on parquet files written with pyarrow
# ---------------------------------------------------------------------


def _write(path, table, **kw):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, **kw)
    return path


def _times(*values, tz=None):
    return pa.table({"time": pa.array(list(values), pa.timestamp("us", tz=tz))})


def test_category_counts_sums_days_per_category():
    parts = {
        os.path.join("category=success", "day=2024-01-01"): {"rows": 3},
        os.path.join("category=success", "day=2024-01-02"): {"rows": 4},
        os.path.join("category=failure", "day=2024-01-01"): {"rows": 2},
        os.path.join("elsewhere", "day=2024-01-01"): {"rows": 1},
    }
    assert category_counts(parts) == (10, {"success": 7, "failure": 2, "unknown": 1})


def test_category_counts_of_no_partitions_is_zero():
    assert category_counts({}) == (0, {})


def test_footer_stats_pins_naive_times_to_utc(tmp_path):
    naive = _write(str(tmp_path / "n.parquet"), _times(dt.datetime(2024, 1, 1, 10)))
    aware = _write(
        str(tmp_path / "a.parquet"),
        _times(dt.datetime(2024, 1, 1, 10, tzinfo=dt.timezone.utc), tz="UTC"),
    )
    (rows_n, (key_n, iso_n)), (rows_a, (key_a, iso_a)) = (
        _footer_stats(naive, "time"),
        _footer_stats(aware, "time"),
    )
    assert rows_n == rows_a == 1
    assert key_n == key_a == dt.datetime(2024, 1, 1, 10, tzinfo=dt.timezone.utc).timestamp()
    assert iso_n == "2024-01-01T10:00:00"
    assert iso_a == "2024-01-01T10:00:00+00:00"


def test_footer_stats_without_time_column_or_statistics_has_no_watermark(tmp_path):
    no_col = _write(str(tmp_path / "c.parquet"), pa.table({"x": [1, 2, 3]}))
    no_stats = _write(
        str(tmp_path / "s.parquet"),
        _times(dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)),
        write_statistics=False,
    )
    assert _footer_stats(no_col, "time") == (3, None)
    assert _footer_stats(no_stats, "time") == (2, None)


def test_partition_metrics_orders_watermarks_by_epoch_not_text(tmp_path):
    """A partition mixing naive and tz-aware files, and a file whose
    time statistics are not timestamps at all: the watermark is the
    latest real instant, whatever the renderings sort as text."""
    root = str(tmp_path)
    part = os.path.join(root, "data", "category=success", "day=2024-01-01")
    _write(os.path.join(part, "chunk-00000-part-0.parquet"), _times(dt.datetime(2024, 1, 1, 10)))
    _write(
        os.path.join(part, "chunk-00000-part-1.parquet"),
        _times(dt.datetime(2024, 1, 1, 14, tzinfo=dt.timezone.utc), tz="UTC"),
    )
    _write(os.path.join(part, "chunk-00000-part-2.parquet"), pa.table({"time": ["zzz"]}))

    parts = MultiSinkWriter(root).partition_metrics("chunk-00000")
    assert list(parts) == [os.path.join("category=success", "day=2024-01-01")]
    (rec,) = parts.values()
    assert rec["rows"] == 3 and rec["files"] == 3
    assert rec["watermark"] == "2024-01-01T14:00:00+00:00"


def test_partition_metrics_skips_files_without_statistics(tmp_path):
    root = str(tmp_path)
    with_stats = os.path.join(root, "data", "category=success", "day=2024-01-01")
    only_bare = os.path.join(root, "data", "category=failure", "day=2024-01-01")
    _write(os.path.join(with_stats, "chunk-00000-a.parquet"), _times(dt.datetime(2024, 1, 1, 8)))
    for d in (with_stats, only_bare):
        _write(
            os.path.join(d, "chunk-00000-b.parquet"),
            _times(dt.datetime(2024, 1, 1, 20)),
            write_statistics=False,
        )

    parts = MultiSinkWriter(root).partition_metrics("chunk-00000")
    wms = {_part_key(p): rec["watermark"] for p, rec in parts.items()}
    assert wms == {
        ("success", "2024-01-01"): "2024-01-01T08:00:00",
        ("failure", "2024-01-01"): None,
    }
    assert {_part_key(p): rec["rows"] for p, rec in parts.items()} == {
        ("success", "2024-01-01"): 2,
        ("failure", "2024-01-01"): 1,
    }


def test_chunk_files_matches_only_its_own_chunk(tmp_path):
    root = str(tmp_path)
    part = os.path.join(root, "data", "category=success", "day=2024-01-01")
    t = pa.table({"x": [1]})
    mine = _write(os.path.join(part, "chunk-00001-part-0.parquet"), t)
    _write(os.path.join(part, "chunk-00010-part-0.parquet"), t)
    _write(os.path.join(part, "chunk-00001-part-0.crc"), t)
    _write(state_path(root, "chunk-00001"), t)
    assert chunk_files(root, "chunk-00001") == [mine]
    assert chunk_files(root, "chunk-00002") == []


def test_state_and_fold_paths(tmp_path):
    root = str(tmp_path)
    assert state_path(root, "stream-00003") == os.path.join(root, "state", "stream-00003.parquet")
    assert fold_path(root) == os.path.join(root, "state", "_folded.parquet")
    with pytest.raises(ValueError, match="chunk_id"):
        state_path(root, "../escape")


def test_footer_row_count_sums_files(tmp_path):
    paths = [
        _write(str(tmp_path / f"{i}.parquet"), pa.table({"x": list(range(n))}))
        for i, n in enumerate((0, 3, 7))
    ]
    assert footer_row_count(paths) == 10
    assert footer_row_count([]) == 0
