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
    recorded in the summary's _meta.json, not a per-call Spark count():
    it equals the published file's footer count, and no job runs."""
    import glob
    import json
    import os

    from logparser_spark.sources.sinks import footer_row_count

    d = os.path.join(api.root, "summary", "top_urls")
    rows, jobs = spark_jobs(lambda: api._summary_rows("top_urls"))
    assert jobs == 0
    assert rows == json.load(open(os.path.join(d, "_meta.json")))["rows"]
    assert rows == footer_row_count(glob.glob(os.path.join(d, "*.parquet"))) > 0


def test_empty_string_filter_keeps_fast_path(api):
    """'' (an HTTP layer's absent query param) must count as empty —
    is_empty and apply share one truthiness rule, so the call takes the
    precomputed path instead of a full live scan for identical rows."""
    assert LogFilter(search="", ip="", action="", time_from="").is_empty()
    assert LogFilter(search="x").is_empty() is False
    assert LogFilter(status_code=0).is_empty() is False  # explicit 0 filters


def test_top_k_fast_path_serves_any_k_when_exhaustive(api):
    """A top-K summary holding FEWER rows than its cap saw every
    distinct key — it is the complete ranking and stays valid for any
    requested k (no permanent live-scan penalty on small vocabularies)."""
    meta = api._summary_meta("top_urls")
    assert meta is not None and set(meta) >= {"rows", "exhaustive"}
    if not meta["exhaustive"]:
        pytest.skip("fixture has >= cap distinct urls; exhaustive path not hit")
    assert api._summary_for_k("top_urls", 10**6) is not None
    fast = [tuple(r) for r in api.get_top_urls(k=10**6).collect()]
    from logparser_spark.operators import aggregates as agg

    live = [tuple(r) for r in agg.top_urls(api._facts(None), k=10**6).collect()]
    assert fast == live


def test_partial_summary_dir_falls_back_to_live(api):
    """A summary dir without its commit marker (a crashed aggregate
    stage's partial overwrite) must be treated as absent — the call
    falls back to live aggregation, never serves a partial table."""
    import os
    import shutil

    marker = os.path.join(api.root, "summary", "top_users", "_meta.json")
    bak = marker + ".bak"
    shutil.move(marker, bak)
    try:
        assert api._summary("top_users") is None
        live = [tuple(r) for r in api.get_top_users(k=10).collect()]
    finally:
        shutil.move(bak, marker)
    fast = [tuple(r) for r in api.get_top_users(k=10).collect()]
    assert live == fast


def test_summary_fast_path_eligibility(spark, tmp_path):
    """Deterministic pin of fast-path eligibility: rows >= k OR the
    summary is exhaustive (never truncated); no marker -> ineligible;
    the marker is read ONCE and a dir vanishing under a concurrent
    republish yields live-fallback (None), never a crash."""
    api2 = LogPipelineAPI(spark, str(tmp_path))
    d = tmp_path / "summary" / "top_urls"
    spark.createDataFrame(
        [("u", 1)], "url string, request_count long"
    ).coalesce(1).write.parquet(str(d))
    assert api2._summary_for_k("top_urls", 1) is None  # no marker
    (d / "_meta.json").write_text('{"rows": 60, "exhaustive": true}')
    assert api2._summary_for_k("top_urls", 10**6) is not None
    (d / "_meta.json").write_text('{"rows": 100, "exhaustive": false}')
    assert api2._summary_for_k("top_urls", 100) is not None
    assert api2._summary_for_k("top_urls", 101) is None
    # TOCTOU: marker passes but the data files are gone mid-republish
    for f in d.glob("*.parquet"):
        f.unlink()
    assert api2._summary_for_k("top_urls", 10) is None


# the five summary endpoints and the parameters the fast path serves
SUMMARY_ENDPOINTS = [
    ("statistics", {}),
    ("top_urls", {"k": 10}),
    ("top_users", {"k": 10}),
    ("statuses", {}),
    ("actions", {}),
]


def test_summary_endpoints_run_no_spark_job(api, spark_jobs):
    """A cache miss on any unfiltered summary endpoint is served from
    the published file alone: zero Spark jobs through collect_cached.
    A filtered (live) call through the same counter runs jobs, so the
    zero is not an artifact of the counter."""
    from functools import partial

    from logparser_spark.cache import TTLResultCache

    fresh = LogPipelineAPI(api.spark, api.root, cache=TTLResultCache())
    for endpoint, params in SUMMARY_ENDPOINTS:
        rows, jobs = spark_jobs(partial(fresh.collect_cached, endpoint, **params))
        assert rows and jobs == 0, (endpoint, jobs)
    _, jobs = spark_jobs(
        partial(fresh.collect_cached, "statistics", LogFilter(action="TCP_DENIED"))
    )
    assert jobs > 0


def test_fast_path_rows_equal_live(api):
    """Every fast-path answer equals the live aggregation it stands in
    for, row for row and in order — the published order is the only
    ordering the fast path has (it no longer re-sorts)."""
    from logparser_spark.operators import aggregates as agg
    from logparser_spark.sources.sinks import read_sink

    facts = api._facts(None)
    statuses, actions = agg.distinct_dims(read_sink(api.spark, api.root))
    cap = 100  # top_urls' summary cap
    assert api._summary_for_k("top_urls", cap) is not None  # k=cap is fast too
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


def test_fast_path_dataframe_survives_republish(spark, tmp_path, spark_jobs):
    """The fast path reads eagerly, so no race window is left once it
    returns: after the summary dir is deleted and republished with
    other rows, collect() on the earlier DataFrame still serves the
    snapshot it read (with no Spark job), and a new call sees the
    republished rows."""
    import json
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    api2 = LogPipelineAPI(spark, str(tmp_path))
    d = tmp_path / "summary" / "top_urls"

    def publish(rows):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
        urls, counts = zip(*rows)
        pq.write_table(
            pa.table({"url": list(urls), "request_count": list(counts)}),
            str(d / "part-00000.parquet"),
        )
        (d / "_meta.json").write_text(json.dumps({"rows": len(rows), "exhaustive": True}))

    publish([("/a", 3), ("/b", 1)])
    df = api2.get_top_urls(k=10)
    publish([("/c", 9)])
    rows, jobs = spark_jobs(df.collect)
    assert [tuple(r) for r in rows] == [("/a", 3), ("/b", 1)]
    assert jobs == 0
    assert [tuple(r) for r in api2.get_top_urls(k=10).collect()] == [("/c", 9)]
