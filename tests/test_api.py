"""The user-facing facade: page query, filter builder, precomputed
fast path vs live aggregation equivalence."""

import pytest
from pyspark.sql import functions as F

from logparser_spark.api import LogFilter, LogPipelineAPI
from logparser_spark.plans.pipeline import run_aggregates, run_pipeline


@pytest.fixture(scope="module")
def api(spark, tiny_input, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("api_sink"))
    run_pipeline(spark, tiny_input, out, n_chunks=1)
    run_aggregates(spark, out)
    return LogPipelineAPI(spark, out)


def test_page_query_ordered_and_sliced(api):
    p1 = api.get_logs(page=1, size=20).collect()
    p2 = api.get_logs(page=2, size=20).collect()
    assert len(p1) == 20 and len(p2) == 20
    times = [r.time for r in p1 + p2]
    assert times == sorted(times, reverse=True)
    assert {r.doc_id for r in p1}.isdisjoint({r.doc_id for r in p2})


def test_keyset_pagination_equals_offset_sweep(api):
    """get_logs_after (keyset) must reproduce OFFSET paging exactly:
    walk the full result in pages, feeding each page's last row back as
    the next cursor — every page identical to its offset twin."""
    size = 400  # ~6 pages over the tiny fixture: full sweep, bounded jobs
    cursor = None
    page = 1
    seen = 0
    while True:
        offset_rows = api.get_logs(page=page, size=size).collect()
        if cursor is None:
            keyset_rows = offset_rows  # page 1 IS get_logs
        else:
            keyset_rows = api.get_logs_after(cursor[0], cursor[1], size=size).collect()
        assert [(r.doc_id, r.time) for r in keyset_rows] == [
            (r.doc_id, r.time) for r in offset_rows
        ], f"page {page}"
        if not offset_rows:
            break
        seen += len(offset_rows)
        last = offset_rows[-1]
        cursor = (last.time, last.doc_id)
        page += 1
        if len(offset_rows) < size:
            # final partial page: one more loop proves both are empty
            assert api.get_logs_after(cursor[0], cursor[1], size=size).count() == 0
            break
    assert seen == api._facts(None).count()  # swept everything


def test_keyset_pagination_respects_filters(api):
    flt = LogFilter(action="TCP_DENIED")
    p1 = api.get_logs(flt, page=1, size=10).collect()
    assert len(p1) == 10
    last = p1[-1]
    p2 = api.get_logs_after(last.time, last.doc_id, flt, size=10).collect()
    assert p2 == api.get_logs(flt, page=2, size=10).collect()
    assert all(r.action == "TCP_DENIED" for r in p2)


def test_filtered_page(api):
    flt = LogFilter(action="TCP_DENIED")
    rows = api.get_logs(flt, size=500).collect()
    assert len(rows) > 0
    assert all(r.action == "TCP_DENIED" for r in rows)


def test_search_filter_matches_url_or_domain(api):
    flt = LogFilter(search="d01.example.com")
    rows = api.get_logs(flt, size=500).collect()
    assert len(rows) > 0
    assert all("d01.example.com" in (r.url or "") or "d01.example.com" in (r.domain or "") for r in rows)


def test_unfiltered_stats_uses_summary_and_matches_live(api):
    fast = {r.category: r.row_count for r in api.get_statistics().collect()}
    live = {
        r.category: r.row_count
        for r in api.get_statistics(LogFilter(search=None, ip=None)).collect()
    }
    assert fast == live  # empty filter routes to summary; same numbers


def test_top_urls_fast_path_equals_live(api):
    fast = [(r.url, r.request_count) for r in api.get_top_urls(k=10).collect()]
    live = [(r.url, r.request_count) for r in api.get_top_urls(LogFilter(), k=10).collect()]
    # LogFilter() is empty -> also fast path; force live with a no-op-ish filter
    live2 = [
        (r.url, r.request_count)
        for r in api.get_top_urls(LogFilter(status_code=None, time_from="2000-01-01 00:00:00"), k=10).collect()
    ]
    assert fast == live == live2


def test_count_pages(api):
    n = api.count_pages(size=1000)
    assert n >= 1


def test_dims_nonempty(api):
    assert api.get_statuses().count() > 0
    assert api.get_actions().count() > 0


def test_combined_tops_matches_individual_endpoints(api):
    both = api.get_combined_tops(k_urls=10, k_users=5)
    urls = [(r.url, r.request_count) for r in both["topUrls"].collect()]
    users = [(r.username, r.request_count) for r in both["topUsers"].collect()]
    assert urls == [(r.url, r.request_count) for r in api.get_top_urls(k=10).collect()]
    assert users == [
        (r.username, r.request_count) for r in api.get_top_users(k=5).collect()
    ]


def test_summary_rows_recorded_no_spark_count(api, spark_jobs):
    """Fast-path eligibility reads the row count the aggregate stage
    recorded in the summary file's footer, not a per-call Spark count():
    a k up to the footer's count is served, one above it (on this
    truncated top list) is not, and no job runs."""
    from logparser_spark.sources.sinks import footer_row_count, summary_path

    rows = footer_row_count([summary_path(api.root, "top_urls")])
    assert rows > 0
    served, jobs = spark_jobs(lambda: api._summary_table("top_urls", k=rows))
    assert jobs == 0
    assert served.num_rows == rows
    beyond, jobs = spark_jobs(lambda: api._summary_table("top_urls", k=rows + 1))
    assert jobs == 0
    assert beyond is None


def test_empty_string_filter_keeps_fast_path(api):
    """'' (an HTTP layer's absent query param) must count as empty —
    is_empty and apply share one truthiness rule, so the call takes the
    precomputed path instead of a full live scan for identical rows."""
    assert LogFilter(search="", ip="", action="", time_from="").is_empty()
    assert LogFilter(search="x").is_empty() is False
    assert LogFilter(status_code=0).is_empty() is False  # explicit 0 filters


def test_top_k_fast_path_serves_any_k_when_exhaustive(spark, tiny_input, tmp_path, monkeypatch):
    """A top-K summary holding FEWER rows than its cap saw every
    distinct key — it is the complete ranking and stays valid for any
    requested k (no permanent live-scan penalty on small vocabularies).
    The cap is raised above the fixture's url count so the published
    ``top_urls`` is exhaustive."""
    import pyarrow.parquet as pq

    from logparser_spark.operators import aggregates as agg
    from logparser_spark.operators import summary_state
    from logparser_spark.sources.sinks import summary_path

    monkeypatch.setitem(summary_state.K_CAPS, "top_urls", 1000)
    out = str(tmp_path / "sink")
    run_pipeline(spark, tiny_input, out, n_chunks=1)
    run_aggregates(spark, out)
    api = LogPipelineAPI(spark, out)
    published = pq.ParquetFile(summary_path(out, "top_urls"))
    assert published.schema_arrow.metadata[b"exhaustive"] == b"true"
    assert api._summary_table("top_urls", k=10**6) is not None
    fast = [tuple(r) for r in api.get_top_urls(k=10**6).collect()]
    live = [tuple(r) for r in agg.top_urls(api._facts(None), k=10**6).collect()]
    assert fast == live and len(fast) == published.metadata.num_rows


def test_partial_summary_dir_falls_back_to_live(api):
    """A crashed publish leaves at most a partial ``.tmp`` file beside
    the summary's path: with no committed file at the path, the
    summary is absent and the call falls back to live aggregation, never
    serves the partial table."""
    import os
    import shutil

    from logparser_spark.sources.sinks import summary_path

    path = summary_path(api.root, "top_users")
    with open(path, "rb") as fh:
        data = fh.read()
    bak = path + ".bak"
    shutil.move(path, bak)
    try:
        with open(path + ".tmp", "wb") as fh:
            fh.write(data[: len(data) // 2])
        assert api._summary_table("top_users") is None
        live = [tuple(r) for r in api.get_top_users(k=10).collect()]
    finally:
        os.remove(path + ".tmp")
        shutil.move(bak, path)
    fast = [tuple(r) for r in api.get_top_users(k=10).collect()]
    assert live == fast


def test_summary_fast_path_eligibility(spark, tmp_path, publish_summary):
    """Deterministic pin of fast-path eligibility: rows (the footer's
    count) >= k OR the summary is exhaustive (never truncated); no
    published file -> ineligible; a file vanishing under the read
    yields live-fallback (None), never a crash."""
    import os

    import pyarrow as pa

    from logparser_spark.sources.sinks import summary_path

    api2 = LogPipelineAPI(spark, str(tmp_path))
    table = pa.table({"url": ["u", "v", "w"], "request_count": pa.array([3, 2, 1], pa.int64())})
    assert api2._summary_table("top_urls", k=1) is None  # nothing published
    publish_summary(tmp_path, "top_urls", table, exhaustive=True)
    assert api2._summary_table("top_urls", k=10**6) is not None
    publish_summary(tmp_path, "top_urls", table, exhaustive=False)
    assert api2._summary_table("top_urls", k=3) is not None
    assert api2._summary_table("top_urls", k=4) is None
    # the file is gone between publishes
    os.remove(summary_path(str(tmp_path), "top_urls"))
    assert api2._summary_table("top_urls", k=1) is None


def test_reader_during_publish_sees_old_or_new_table(api, tmp_path, monkeypatch):
    """A reader that looks up a summary while a publish is under way
    gets the table published before or the one being published, never
    None: at every rename of the publish (the point between a file's
    write and its commit) a read of ``top_urls`` is served. The two
    publishes differ by ``top_urls``' cap, so both versions show."""
    import os
    import shutil

    from logparser_spark.operators import summary_state

    root = str(tmp_path / "sink")
    shutil.copytree(api.root, root)
    reader = LogPipelineAPI(api.spark, root)
    monkeypatch.setitem(summary_state.K_CAPS, "top_urls", 5)
    run_aggregates(api.spark, root)
    old = reader._summary_table("top_urls")
    seen = []
    renames = {name: getattr(os, name) for name in ("replace", "rename")}

    def reading(name):
        def rename(src, dst, *args, **kwargs):
            seen.append(reader._summary_table("top_urls"))
            return renames[name](src, dst, *args, **kwargs)

        return rename

    for name in renames:
        monkeypatch.setattr(os, name, reading(name))
    monkeypatch.setitem(summary_state.K_CAPS, "top_urls", 10)
    run_aggregates(api.spark, root)
    monkeypatch.undo()
    new = reader._summary_table("top_urls")
    assert old.num_rows == 5 and new.num_rows == 10
    assert len(seen) >= 7
    assert all(t is not None for t in seen)
    assert all(t.equals(old) or t.equals(new) for t in seen)
    assert any(t.equals(old) for t in seen)


def test_truncated_summary_falls_back_to_live(api, jvm_calls):
    """A summary file cut short (a torn copy, a full disk) is not
    served: the read returns None and the call goes to live
    aggregation, which returns the rows the whole file holds."""
    from logparser_spark.cache import TTLResultCache
    from logparser_spark.sources.sinks import summary_path

    path = summary_path(api.root, "top_urls")
    published = api.collect_cached("top_urls", k=10)
    with open(path, "rb") as fh:
        data = fh.read()
    try:
        with open(path, "wb") as fh:
            fh.write(data[: len(data) - 16])
        assert api._summary_table("top_urls", k=10) is None
        fresh = LogPipelineAPI(api.spark, api.root, cache=TTLResultCache())
        live, calls = jvm_calls(lambda: fresh.collect_cached("top_urls", k=10))
    finally:
        with open(path, "wb") as fh:
            fh.write(data)
    assert calls > 0
    assert [tuple(r) for r in live] == [tuple(r) for r in published]


# the five summary endpoints and the parameters the fast path serves
SUMMARY_ENDPOINTS = [
    ("statistics", {}),
    ("top_urls", {"k": 10}),
    ("top_users", {"k": 10}),
    ("statuses", {}),
    ("actions", {}),
]


def test_summary_endpoints_run_no_spark_job(api, spark_jobs, jvm_calls):
    """A cache miss on any unfiltered summary endpoint is served from
    the published file alone through collect_cached: zero Spark jobs,
    and not one py4j command reaches the JVM (the rows are built in
    Python). A filtered (live) call through the same counters runs jobs
    and crosses into the JVM, so the zeros are not artifacts of the
    counters."""
    from functools import partial

    from logparser_spark.cache import TTLResultCache

    fresh = LogPipelineAPI(api.spark, api.root, cache=TTLResultCache())
    for endpoint, params in SUMMARY_ENDPOINTS + [("top_urls", {})]:
        (rows, calls), jobs = spark_jobs(
            partial(jvm_calls, partial(fresh.collect_cached, endpoint, **params))
        )
        assert rows and jobs == 0 and calls == 0, (endpoint, params, jobs, calls)
    live = partial(fresh.collect_cached, "statistics", LogFilter(action="TCP_DENIED"))
    (_, calls), jobs = spark_jobs(partial(jvm_calls, live))
    assert jobs > 0 and calls > 0


def test_live_filtered_calls_job_counts(api, spark_jobs, plan_nodes):
    """A live filtered call runs its aggregate's stages and no more:
    statistics 2 Spark jobs (one exchange, the exact distinct being a
    collected ip set, then the result), top_urls and top_users 2 each
    (one exchange, then TakeOrderedAndProject). The statistics filter
    spans several categories, so a range-partitioned sort would show as
    extra jobs; its executed plan holds no RangePartitioning exchange."""
    flt = LogFilter(search="d01")
    want = {"statistics": 2, "top_urls": 2, "top_users": 2}
    for endpoint, n in want.items():
        q = getattr(api, f"get_{endpoint}")(flt)
        rows, jobs = spark_jobs(q.collect)
        assert rows and jobs == n, (endpoint, jobs)
        if endpoint == "statistics":
            assert len(rows) > 1
            partitionings = [
                node.outputPartitioning().getClass().getSimpleName()
                for node in plan_nodes(q._jdf.queryExecution().executedPlan())
                if node.getClass().getSimpleName() == "ShuffleExchangeExec"
            ]
            assert partitionings and "RangePartitioning" not in partitionings


def test_fast_path_rows_equal_live(api):
    """Every fast-path answer equals the live aggregation it stands in
    for, row for row and in order — the published order is the only
    ordering the fast path has (it no longer re-sorts)."""
    from logparser_spark.operators import aggregates as agg
    from logparser_spark.sources.sinks import read_sink

    facts = api._facts(None)
    statuses, actions = agg.distinct_dims(read_sink(api.spark, api.root))
    cap = 100  # top_urls' summary cap
    assert api._summary_table("top_urls", k=cap) is not None  # k=cap is fast too
    cases = {
        "statistics": (api.get_statistics(), agg.sink_totals(facts)),
        "top_urls k=10": (api.get_top_urls(k=10), agg.top_urls(facts, k=10)),
        "top_urls k=cap": (api.get_top_urls(k=cap), agg.top_urls(facts, k=cap)),
        "top_users": (api.get_top_users(k=10), agg.top_users(facts, k=10)),
        "statuses": (api.get_statuses(), statuses),
        "actions": (api.get_actions(), actions),
    }
    for name, (fast, live) in cases.items():
        got = [tuple(r) for r in fast.collect()]
        assert got and got == [tuple(r) for r in live.collect()], name


def test_fast_path_dataframe_survives_republish(spark, tmp_path, spark_jobs, publish_summary):
    """The fast path reads eagerly, so no race window is left once it
    returns: after the summary is republished with other rows,
    collect() on the earlier DataFrame still serves the snapshot it read
    (with no Spark job), and a new call sees the republished rows."""
    import pyarrow as pa

    api2 = LogPipelineAPI(spark, str(tmp_path))

    def publish(rows):
        urls, counts = zip(*rows)
        table = pa.table({"url": list(urls), "request_count": list(counts)})
        publish_summary(tmp_path, "top_urls", table)

    publish([("/a", 3), ("/b", 1)])
    df = api2.get_top_urls(k=10)
    publish([("/c", 9)])
    rows, jobs = spark_jobs(df.collect)
    assert [tuple(r) for r in rows] == [("/a", 3), ("/b", 1)]
    assert jobs == 0
    assert [tuple(r) for r in api2.get_top_urls(k=10).collect()] == [("/c", 9)]


def _assert_same_rows(got, want, name):
    """Rows equal in value, order, field names and Python types."""
    from pyspark.sql import Row

    assert all(isinstance(r, Row) for r in got), name
    assert [tuple(r) for r in got] == [tuple(r) for r in want], name
    assert [list(r.asDict()) for r in got] == [list(r.asDict()) for r in want], name
    assert [[type(v) for v in r] for r in got] == [[type(v) for v in r] for r in want], name


def test_summary_rows_equal_dataframe_collect(api):
    """collect_cached's Python-built rows are the rows the endpoint's
    DataFrame collects — value, order, field names and Python type —
    including k = the top_urls cap and the default k."""
    from logparser_spark.cache import TTLResultCache

    fresh = LogPipelineAPI(api.spark, api.root, cache=TTLResultCache())
    cases = SUMMARY_ENDPOINTS + [("top_urls", {"k": 100}), ("top_users", {})]
    for endpoint, params in cases:
        meth, _ = LogPipelineAPI._CACHEABLE[endpoint]
        want = getattr(api, meth)(**params).collect()
        _assert_same_rows(fresh.collect_cached(endpoint, **params), want, (endpoint, params))


def test_summary_rows_match_spark_semantics_on_edges(spark, tmp_path, jvm_calls, publish_summary):
    """Over hand-published summaries (no sink exists, so live
    aggregation would fail): an agg_sink_totals holding a null and a
    quarantine category serves what Spark's ``category != 'quarantine'``
    keeps, and a k far above top_urls' cap on an exhaustive summary
    serves the whole table — both with no JVM call, and equal to the
    get_* DataFrames' rows."""
    import pyarrow as pa

    totals = pa.table(
        {
            "category": [None, "denied", "quarantine", "web"],
            "row_count": pa.array([1, 2, 3, 4], pa.int64()),
            "error_count": pa.array([0, 2, 0, 1], pa.int64()),
            "unique_ips": pa.array([1, 1, 2, 3], pa.int64()),
            "bytes_total": pa.array([10, 20, 30, 40], pa.int64()),
            "avg_response_time_ms": pa.array([5, 6, 7, 8], pa.int64()),
        }
    )
    urls = pa.table(
        {
            "url": ["/a", "/b", "/c"],
            "domain": ["a.example", None, "c.example"],
            "request_count": pa.array([9, 5, 5], pa.int64()),
            "avg_response_time": pa.array([1, None, 3], pa.int64()),
            "total_bytes": pa.array([100, 50, 40], pa.int64()),
            "last_access_us": pa.array([7, 8, 9], pa.int64()),
        }
    )
    publish_summary(tmp_path, "agg_sink_totals", totals)
    publish_summary(tmp_path, "top_urls", urls)
    api2 = LogPipelineAPI(spark, str(tmp_path))

    stats, calls = jvm_calls(lambda: api2.collect_cached("statistics"))
    assert calls == 0
    spark_kept = spark.createDataFrame(totals).filter(F.col("category") != "quarantine")
    _assert_same_rows(stats, spark_kept.collect(), "statistics")
    assert [r.category for r in stats] == ["denied", "web"]
    _assert_same_rows(stats, api2.get_statistics().collect(), "get_statistics")

    top, calls = jvm_calls(lambda: api2.collect_cached("top_urls", k=500))
    assert calls == 0
    _assert_same_rows(top, spark.createDataFrame(urls).collect(), "top_urls k=500")
    _assert_same_rows(top, api2.get_top_urls(k=500).collect(), "get_top_urls k=500")
    sliced = api2.collect_cached("top_urls", k=2)
    _assert_same_rows(sliced, spark.createDataFrame(urls).limit(2).collect(), "top_urls k=2")


def test_summary_without_data_files_falls_back_to_live(api, jvm_calls):
    """A summary whose file was removed (a sink cleared under the read)
    must not serve an empty or torn answer: the call goes to live
    aggregation, which crosses into the JVM and returns the same rows
    the published file holds."""
    import shutil

    from logparser_spark.cache import TTLResultCache
    from logparser_spark.sources.sinks import summary_path

    path = summary_path(api.root, "top_users")
    published = api.collect_cached("top_users", k=10)
    aside = path + ".aside"
    shutil.move(path, aside)
    try:
        assert api._summary_table("top_users", k=10) is None
        fresh = LogPipelineAPI(api.spark, api.root, cache=TTLResultCache())
        live, calls = jvm_calls(lambda: fresh.collect_cached("top_users", k=10))
    finally:
        shutil.move(aside, path)
    assert calls > 0
    assert [tuple(r) for r in live] == [tuple(r) for r in published]


def test_collect_cached_bounds_rows(api, jvm_calls):
    """The reference's JDBC maxRows (50 000): a request that could
    return more rows — a logs page size or a top-K k above the bound —
    is refused with ValueError before any JVM call; at the bound it is
    served. A negative k, or a logs page or size below 1, is refused
    the same way: on the unfiltered (summary) path a negative k would
    otherwise read as 0 rows, on the filtered (live) path it would reach
    Spark's limit."""
    from logparser_spark.api import MAX_ROWS

    denied = LogFilter(action="TCP_DENIED")
    for endpoint, params, match in [
        ("logs", {"size": MAX_ROWS + 1}, str(MAX_ROWS)),
        ("top_urls", {"k": MAX_ROWS + 1}, str(MAX_ROWS)),
        ("top_users", {"k": MAX_ROWS + 1}, str(MAX_ROWS)),
        ("top_urls", {"k": -1}, "below"),
        ("top_users", {"k": -1}, "below"),
        ("logs", {"page": 0}, "below"),
        ("logs", {"size": 0}, "below"),
    ]:
        for flt in (None, denied):
            def refused():
                with pytest.raises(ValueError, match=match):
                    api.collect_cached(endpoint, flt, **params)

            _, calls = jvm_calls(refused)
            assert calls == 0, (endpoint, params, flt)
    assert len(api.collect_cached("logs", size=MAX_ROWS)) == api._facts(None).count()
    assert api.collect_cached("top_users", k=MAX_ROWS)
    assert api.collect_cached("top_urls", k=0) == []


def test_collect_cached_keys_on_bound_arguments(spark, api, jvm_calls):
    """A call that spells out an endpoint's defaults is the same request
    as one that omits them, and an empty filter (an HTTP layer's absent
    query params) the same as none: the second call of each pair is a
    cache hit that sends nothing to the JVM and adds no entry."""
    fresh = LogPipelineAPI(spark, api.root)
    denied = LogFilter(action="TCP_DENIED")
    for endpoint, first_flt, first_params, second_flt, second_params in [
        ("top_urls", None, {}, None, {"k": 100}),
        ("top_users", None, {"k": 10}, None, {}),
        ("logs", None, {}, None, {"page": 1, "size": 50}),
        ("top_urls", denied, {"k": 100}, denied, {}),
        ("statistics", None, {}, LogFilter(), {}),
        ("statistics", None, {}, LogFilter(ip=""), {}),
    ]:
        first = fresh.collect_cached(endpoint, first_flt, **first_params)
        hits, entries = fresh.cache.hits, len(fresh.cache)
        second, calls = jvm_calls(
            lambda: fresh.collect_cached(endpoint, second_flt, **second_params)
        )
        assert calls == 0, (endpoint, second_flt)
        assert fresh.cache.hits == hits + 1, (endpoint, second_flt)
        assert len(fresh.cache) == entries, (endpoint, second_flt)
        assert second == first
