"""TTL result cache (C1/C4/C5): expiry tiers, sweep, invalidation,
bounded size — plus the API facade's cached-response path."""

import pytest

from logparser_spark.cache import TTLResultCache


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


@pytest.fixture()
def clocked():
    clk = FakeClock()
    return clk, TTLResultCache(
        default_ttl=1800, filtered_ttl=300, max_entries=3, clock=clk
    )


def test_two_tier_ttl(clocked):
    clk, c = clocked
    c.put("default", [1], filtered=False)
    c.put("filtered", [2], filtered=True)
    clk.t = 299
    assert c.get("default") == [1] and c.get("filtered") == [2]
    clk.t = 300  # filtered tier expires at exactly its TTL
    assert c.get("filtered") is None
    assert c.get("default") == [1]
    clk.t = 1800
    assert c.get("default") is None


def test_expired_entry_evicted_on_touch(clocked):
    clk, c = clocked
    c.put("k", "v", filtered=True)
    clk.t = 1000
    assert c.get("k") is None
    assert len(c) == 0  # evicted, not just hidden


def test_sweep_evicts_only_expired(clocked):
    clk, c = clocked
    c.put("old", 1, filtered=True)   # expires at 300
    clk.t = 200
    c.put("new", 2, filtered=True)   # expires at 500
    clk.t = 350
    assert c.sweep() == 1
    assert len(c) == 1 and c.get("new") == 2


def test_invalidate_all(clocked):
    _, c = clocked
    c.put("a", 1)
    c.put("b", 2)
    assert c.invalidate_all() == 2
    assert c.get("a") is None and len(c) == 0


def test_max_entries_evicts_oldest_inserted(clocked):
    _, c = clocked
    for k in "abcd":  # max_entries=3 -> 'a' falls out
        c.put(k, k)
    assert c.get("a") is None
    assert [c.get(k) for k in "bcd"] == ["b", "c", "d"]


def test_reinsert_refreshes_position_and_ttl(clocked):
    clk, c = clocked
    c.put("a", 1, filtered=True)
    clk.t = 250
    c.put("a", 1, filtered=True)  # re-put: new TTL window
    clk.t = 450  # 200 into the second window
    assert c.get("a") == 1


def test_hit_miss_counters(clocked):
    _, c = clocked
    c.put("a", 1)
    c.get("a")
    c.get("zz")
    assert (c.hits, c.misses) == (1, 1)


def test_rejects_nonpositive_budget():
    with pytest.raises(ValueError):
        TTLResultCache(max_entries=0)


def test_api_collect_cached_and_invalidation(spark, tmp_path, monkeypatch):
    """The facade's C1 path: second call served from cache (builder not
    re-invoked), filter participates in the key, on_data_change (C4)
    forces a rebuild."""
    from logparser_spark import api as api_mod

    clk = FakeClock()
    cache = TTLResultCache(clock=clk)
    api = api_mod.LogPipelineAPI(spark, str(tmp_path), cache=cache)

    calls = {"n": 0}

    def fake_stats(flt=None):
        calls["n"] += 1
        return spark.createDataFrame(
            [("success", 10 + calls["n"])], "category string, row_count long"
        )

    monkeypatch.setattr(api, "get_statistics", fake_stats)

    r1 = api.collect_cached("statistics")
    r2 = api.collect_cached("statistics")
    assert r1 == r2 and calls["n"] == 1

    flt = api_mod.LogFilter(username="user7")
    rf = api.collect_cached("statistics", flt)
    assert calls["n"] == 2 and rf != r1  # distinct key per filter

    # C4: a data change evicts everything -> rebuilds
    assert api.on_data_change() == 2
    api.collect_cached("statistics")
    assert calls["n"] == 3

    # C5 semantics through the facade: filtered entry expires, sweep
    # reclaims it without touching the fresh default entry
    api.collect_cached("statistics", flt)
    clk.t = 301
    assert api.sweep_cache() == 1


def test_invalidate_registered_reaches_live_caches(clocked):
    """C4 from the load side: plans/pipeline calls
    cache.invalidate_registered() after a chunk commits / summaries
    republish — every live cache is evicted without the load path
    holding an API handle; dropped caches fall out of the registry."""
    from logparser_spark import cache as cache_mod

    a = TTLResultCache(clock=FakeClock())
    b = TTLResultCache(clock=FakeClock())
    a.put("k", [1])
    b.put("k", [2])
    b.put("k2", [3], filtered=True)
    assert cache_mod.invalidate_registered() >= 3  # clocked fixture may add one
    assert len(a) == 0 and len(b) == 0
    del b
    import gc

    gc.collect()
    a.put("k", [1])
    assert cache_mod.invalidate_registered() >= 1


def test_load_path_invokes_registered_eviction(monkeypatch):
    """The wiring itself: load_chunk's commit tail and
    run_aggregates' publish tail both call invalidate_registered (the
    reference evicts from the loader, LogFileParser.java:714-719)."""
    import inspect

    from logparser_spark.plans import pipeline as pipeline_mod

    src = inspect.getsource(pipeline_mod)
    assert src.count("invalidate_registered()") >= 2


def test_collect_cached_rejects_filter_on_unfiltered_endpoint(spark, tmp_path):
    """statuses/actions take no filter; silently dropping one would
    cache unfiltered rows under a filtered key — must raise instead."""
    import pytest as _pytest

    from logparser_spark import api as api_mod

    api = api_mod.LogPipelineAPI(spark, str(tmp_path), cache=TTLResultCache())
    with _pytest.raises(ValueError, match="does not take a filter"):
        api.collect_cached("statuses", api_mod.LogFilter(username="u7"))


def test_shared_cache_keyed_by_sink_root(spark, tmp_path, monkeypatch):
    """Two facades sharing one injected cache (the cache= seam) must
    never serve each other's rows — the sink root is part of the key."""
    from logparser_spark import api as api_mod

    cache = TTLResultCache(clock=FakeClock())
    a = api_mod.LogPipelineAPI(spark, str(tmp_path / "prod"), cache=cache)
    b = api_mod.LogPipelineAPI(spark, str(tmp_path / "staging"), cache=cache)
    for facade, tag in ((a, "prod"), (b, "staging")):
        monkeypatch.setattr(
            facade,
            "get_statistics",
            lambda flt=None, t=tag: spark.createDataFrame(
                [(t, 1)], "category string, row_count long"
            ),
        )
    ra = a.collect_cached("statistics")
    rb = b.collect_cached("statistics")
    assert ra[0]["category"] == "prod" and rb[0]["category"] == "staging"


def test_collect_cached_hits_immune_to_caller_mutation(spark, tmp_path, monkeypatch):
    """A caller sorting/appending to the returned list must not poison
    later cache hits (the stored value is immutable; hits are copies)."""
    from logparser_spark import api as api_mod

    api = api_mod.LogPipelineAPI(spark, str(tmp_path), cache=TTLResultCache(clock=FakeClock()))
    monkeypatch.setattr(
        api,
        "get_statistics",
        lambda flt=None: spark.createDataFrame(
            [("success", 1), ("error", 2)], "category string, row_count long"
        ),
    )
    r1 = api.collect_cached("statistics")
    r1.append("garbage")
    r1.reverse()
    r2 = api.collect_cached("statistics")
    assert [r["category"] for r in r2] == ["success", "error"]
