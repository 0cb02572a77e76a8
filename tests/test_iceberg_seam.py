"""The Iceberg adapter seam: SQL builders pinned, graceful degradation
when the runtime jar is absent (as in this sandbox), and the pluggable
writer contract on run_pipeline."""

import pytest

from logparser_spark.sources import iceberg as ice


def test_runtime_absent_here(spark):
    assert ice.iceberg_available(spark) is False


def test_writer_raises_clear_error_without_runtime(spark):
    with pytest.raises(NotImplementedError, match="iceberg-spark-runtime"):
        ice.IcebergMultiSinkWriter(spark, "lake.db.routed")


def test_merge_upsert_raises_without_runtime(spark):
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    with pytest.raises(NotImplementedError, match="MERGE INTO"):
        ice.merge_upsert(spark, "lake.db.dim", df, ["k"])


def test_create_table_sql_partitioning():
    sql = ice.create_table_sql("lake.db.routed", "doc_id string, time timestamp")
    assert "USING iceberg" in sql
    assert "PARTITIONED BY (category, days(time))" in sql
    assert "write.distribution-mode' = 'none" in sql  # direct task writes


def test_merge_into_sql_ignore_shape():
    sql = ice.merge_into_sql("t.dim", "src", ["k1", "k2"], ["v"], mode="ignore")
    assert sql == (
        "MERGE INTO t.dim t USING src s ON t.k1 = s.k1 AND t.k2 = s.k2"
        " WHEN NOT MATCHED THEN INSERT *"
    )


def test_merge_into_sql_replace_shape():
    sql = ice.merge_into_sql("t.dim", "src", ["k"], ["a", "b"], mode="replace")
    assert sql == (
        "MERGE INTO t.dim t USING src s ON t.k = s.k"
        " WHEN MATCHED THEN UPDATE SET t.a = s.a, t.b = s.b"
        " WHEN NOT MATCHED THEN INSERT *"
    )
    with pytest.raises(ValueError):
        ice.merge_into_sql("t", "s", ["k"], [], mode="nope")


def test_run_pipeline_accepts_custom_writer(spark, tiny_input, tmp_path_factory):
    """The writer seam: any write_chunk/remove_chunk object slots in,
    and a last_snapshot_id attribute lands in the manifest lineage."""
    from logparser_spark.plans.checkpoint import Manifest
    from logparser_spark.plans.pipeline import run_pipeline
    from logparser_spark.sources.sinks import MultiSinkWriter

    out = str(tmp_path_factory.mktemp("seam"))

    class RecordingWriter(MultiSinkWriter):
        def __init__(self, root):
            super().__init__(root)
            self.chunks = []

        def write_chunk(self, df, chunk_id):
            self.chunks.append(chunk_id)
            return super().write_chunk(df, chunk_id)

        def last_snapshot_id(self, chunk_id):
            return 1000 + self.chunks.index(chunk_id)

    w = RecordingWriter(out)
    run_pipeline(spark, tiny_input, out, n_chunks=2, writer=w)
    recs = Manifest(out).completed_chunks()
    assert len(recs) == 2 and w.chunks == sorted(recs)
    assert [recs[c]["snapshot_id"] for c in sorted(recs)] == [1000, 1001]


# ---------------------------------------------------------------------
# Commit-protocol pins via a recording catalog stand-in: no Iceberg jar
# exists in this sandbox, so the full write_chunk/remove_chunk/merge
# statement sequence is regression-locked here instead of against a
# live catalog (reference analog: the staging+rename atomic publish,
# DatabaseManager.java:255-332).
# ---------------------------------------------------------------------


class _Recorder:
    """DataFrameWriterV2 stand-in recording option()/append() calls."""

    def __init__(self, log, table):
        self.log = log
        self.table = table
        self.opts = {}

    def option(self, k, v):
        self.opts[k] = v
        return self

    def append(self):
        self.log.append(("append", self.table, dict(self.opts)))


class _ProxySpark:
    """Records every SQL statement; delegates temp-view catalog calls."""

    def __init__(self, real):
        self._real = real
        self.sql_log = []
        self.table_exists = True

    def sql(self, q):
        self.sql_log.append(q)

        class R:
            def first(_self):
                return [4242]

            def collect(_self):
                return []

        return R()

    @property
    def catalog(self):
        proxy = self

        class C:
            def tableExists(_self, t):
                return proxy.table_exists

            def dropTempView(_self, v):
                return proxy._real.catalog.dropTempView(v)

        return C()


@pytest.fixture()
def proxy(spark, monkeypatch):
    monkeypatch.setattr(ice, "iceberg_available", lambda s: True)
    return _ProxySpark(spark)


def test_write_chunk_protocol_pinned(spark, proxy, monkeypatch):
    """One chunk == exactly: CREATE IF NOT EXISTS -> tagged append in a
    single snapshot -> snapshot-id recovery by tag (never a
    latest-snapshot probe)."""
    writes = []
    w = ice.IcebergMultiSinkWriter(proxy, "lake.db.routed")
    df = spark.createDataFrame([("d1", "success")], "doc_id string, category string")
    # patch the CONCRETE class (pyspark 4's classic DataFrame overrides
    # writeTo, so patching the abstract base is a no-op)
    monkeypatch.setattr(
        type(df), "writeTo", lambda df, t: _Recorder(writes, t), raising=True
    )
    snap = w.write_chunk(df, "chunk-00007")

    assert snap == 4242 and w.last_snapshot_id("chunk-00007") == 4242
    create, select = proxy.sql_log
    assert create.startswith("CREATE TABLE IF NOT EXISTS lake.db.routed (")
    assert "PARTITIONED BY (category, days(time))" in create
    assert "_chunk_id string" in create  # tag column rides the schema
    assert [t for t, *_ in writes] == ["append"]
    _, table, opts = writes[0]
    assert table == "lake.db.routed"
    assert opts == {
        "fanout-enabled": "true",
        f"snapshot-property.{ice.SNAPSHOT_CHUNK_PROP}": "chunk-00007",
    }
    assert (
        f"WHERE summary['{ice.SNAPSHOT_CHUNK_PROP}'] = 'chunk-00007'" in select
    )


def test_run_pipeline_refuses_iceberg_writer_before_writing(spark, proxy, tiny_input, tmp_path):
    """The pipeline builds each chunk's summary state from the parquet
    sink layout, which this writer does not produce: it is refused
    before any catalog call, and nothing is committed."""
    from logparser_spark.plans.checkpoint import Manifest
    from logparser_spark.plans.pipeline import run_pipeline

    w = ice.IcebergMultiSinkWriter(proxy, "lake.db.routed")
    out = str(tmp_path / "sink")
    with pytest.raises(ValueError, match="parquet sink layout"):
        run_pipeline(spark, tiny_input, out, writer=w)
    assert proxy.sql_log == [] and Manifest(out).completed_chunks() == {}


def test_remove_chunk_protocol_pinned(proxy):
    w = ice.IcebergMultiSinkWriter(proxy, "lake.db.routed")
    w.remove_chunk("chunk-00003")
    assert proxy.sql_log == [
        "DELETE FROM lake.db.routed WHERE _chunk_id = 'chunk-00003'"
    ]
    # fresh run, table absent: remove must be a silent no-op
    proxy.sql_log.clear()
    proxy.table_exists = False
    w.remove_chunk("chunk-00003")
    assert proxy.sql_log == []


def test_merge_upsert_unique_view_and_cleanup(spark, proxy):
    """Concurrent merges must not clobber each other's source view:
    per-call unique view name, dropped afterwards even on success."""
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    ice.merge_upsert(proxy, "lake.db.dim", df, ["k"], mode="replace")
    ice.merge_upsert(proxy, "lake.db.dim", df, ["k"], mode="replace")
    merges = [q for q in proxy.sql_log if q.startswith("MERGE INTO")]
    views = [q.split(" USING ")[1].split(" s ON ")[0] for q in merges]
    assert len(set(views)) == 2  # unique per call
    for v in views:
        assert v.startswith("_merge_src_")
        assert spark.catalog.tableExists(v) is False  # dropped


def test_sql_identifier_guard():
    with pytest.raises(ValueError, match="cannot be safely interpolated"):
        ice._check_sql_identifier("chunk'; DROP TABLE x;--", "chunk_id")
    assert ice._check_sql_identifier("chunk-00042", "chunk_id") == "chunk-00042"


def test_rewrite_data_files_sql_shape():
    sql = ice.rewrite_data_files_sql(
        "lake", "db.routed", target_file_bytes=256 << 20, min_input_files=3
    )
    assert sql == (
        "CALL lake.system.rewrite_data_files(table => 'db.routed', "
        "strategy => 'binpack', options => map("
        "'target-file-size-bytes', '268435456', 'min-input-files', '3'))"
    )
    scoped = ice.rewrite_data_files_sql("lake", "db.routed", where="day = DATE_X")
    assert scoped.endswith("where => 'day = DATE_X')")
    with pytest.raises(ValueError):
        ice.rewrite_data_files_sql("lake", "db.routed", where="x = 'inject'")
    with pytest.raises(ValueError, match="cannot be safely interpolated"):
        ice.rewrite_data_files_sql("lake; DROP", "db.routed")


def test_compact_protocol_pinned(proxy):
    """Post-load compaction issues exactly one rewrite_data_files CALL
    against the writer's own table (the Iceberg-native twin of
    compact.compact_sinks)."""
    w = ice.IcebergMultiSinkWriter(proxy, "lake.db.routed")
    w.compact(target_file_bytes=128 << 20, where="category = X")
    assert proxy.sql_log == [
        "CALL lake.system.rewrite_data_files(table => 'db.routed', "
        "strategy => 'binpack', options => map("
        "'target-file-size-bytes', '134217728', 'min-input-files', '2'), "
        "where => 'category = X')"
    ]
