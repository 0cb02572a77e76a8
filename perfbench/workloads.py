"""The workloads and the metrics they report.

Every call into the program is made from here, through the modules'
public functions, inside a span. An untraced run reports the end-to-end
metrics; a traced run turns on Spark's event log and adds the per-layer
probes (the prefix ladder, per-job aggregate timings, manifest and
footer probes) and reports the per-layer metrics.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

import pandas as pd

from logparser_spark.api import LogFilter, LogPipelineAPI
from logparser_spark.cache import TTLResultCache
from logparser_spark.functions.parse import with_parsed
from logparser_spark.operators import aggregates as agg
from logparser_spark.operators.enrich import enrich, load_dims
from logparser_spark.plans.checkpoint import Manifest
from logparser_spark.plans.pipeline import build_routed, run_aggregates, run_pipeline
from logparser_spark.sources.compact import compact_sinks
from logparser_spark.sources.sequences import read_raw_sequences
from logparser_spark.sources.sinks import MultiSinkWriter, read_sink

from perfbench import expect
from perfbench.eventlog import EventLog
from perfbench.harness import (
    Spans, dir_bytes, make_work_dir, median, p90, start_session, stop_session,
    tree_peak_rss_mb,
)

# Input sizes, chosen so that one run of either workload, set-up
# included, takes about a minute or less on a 4-core machine.
BULK_ROWS, BULK_FILES = 40_000, 4
MIX_FILE_ROWS, MIX_ARRIVALS = 6_000, 4
COMPACT_EVERY = 3  # query_mix compacts after every third arrival

SLICE_QUERIES = 25  # query_mix: requests after each arrival; 100 a run, ten beyond p90
MIN_LOADS = 4  # ingest_bulk: loads per run, at least

# The summaries the load publishes; ingest_bulk reads each once after
# every load to check it against the oracle.
SUMMARIES = ("statistics", "top_urls", "top_users", "statuses", "actions")
AGG_JOBS = ("sink_totals", "status_hist", "hourly_hist", "daily_rollup",
            "top_urls", "top_users", "dims")

END_TO_END = {
    "setup_s": "s",
    "ingest_rows_per_s": "rows/s",
    "sink_bytes_per_row": "B/row",
    "query_p50_ms": "ms",
    "query_p90_ms": "ms",
    "freshness_p50_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "scan.s": "s",
    "parse.s": "s",
    "parse.python_run_s": "s",
    "parse.bytes_to_python": "B",
    "parse.bytes_from_python": "B",
    "parse.valid_ratio": "ratio",
    "enrich.s": "s",
    "route.s": "s",
    "write.s": "s",
    "write.files": "count",
    "write.bytes": "B",
    "write.task_skew": "ratio",
    "write.partition_metrics_s": "s",
    "load.gc_s": "s",
    "read_sink.plan_s": "s",
    "manifest.read_s": "s",
    "manifest.commit_s": "s",
    "compact.s": "s",
    "compact.bytes_rewritten": "B",
    "aggregate.s": "s",
    **{f"aggregate.{job}.s": "s" for job in AGG_JOBS},
    "aggregate.shuffle_bytes": "B",
    "aggregate.spill_bytes": "B",
    "aggregate.task_skew": "ratio",
    "aggregate.gc_s": "s",
    "api.summary_ms": "ms",
    "api.live_agg_ms": "ms",
    "api.page_offset_ms": "ms",
    "api.page_keyset_ms": "ms",
    "api.summary_ratio": "ratio",
    "cache.hit_ratio": "ratio",
    "cache.invalidations": "count",
    "trace.overhead_s": "s",
    "trace.layer_gap_ratio": "ratio",
}
LADDER = ("scan", "parse", "enrich", "route", "write")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class CountingCache(TTLResultCache):
    """The API's TTL cache, counting the invalidations the load path
    sends it."""

    def __init__(self):
        super().__init__()
        self.invalidations = 0

    def invalidate_all(self) -> int:
        self.invalidations += 1
        return super().invalidate_all()


class Run:
    """State of one benchmark run: its scratch area, Spark session,
    spans, operation counts and peak memory."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = make_work_dir(workload)
        self.spans = Spans()
        self.spark = None
        self.attempted = self.failed = 0
        self.peak_rss_mb = 0.0
        self.setup: dict[str, float] = {}
        self.rows: dict[str, int] = {}
        self.notes: dict[str, object] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def close(self) -> None:
        try:
            if self.spark is not None:
                stop_session(self.spark)
                self.spark = None
        finally:
            shutil.rmtree(self.work, ignore_errors=True)

    # -- operations ----------------------------------------------------
    def call(self, name: str, fn, expected=None, project=None, **attrs):
        """One operation: time ``fn()`` in a span, then compare
        ``project(value)`` (or the value) with ``expected`` outside the
        timed region. An exception or a wrong answer counts as failed;
        the run goes on. Returns (value, span record)."""
        error = None
        with self.spans.span(name, **attrs) as rec:
            try:
                value = fn()
            except Exception:  # noqa: BLE001 - counted, reported, run continues
                value, error = None, traceback.format_exc()
        if error is None and expected is not None:
            got = project(value) if project else value
            if got != expected:
                error = f"wrong answer: got {str(got)[:300]} expected {str(expected)[:300]}"
        if error is not None:
            rec["failed"] = True
            log(f"FAILED {name} {attrs}: {error}")
        self.attempted += 1
        self.failed += error is not None
        self.peak_rss_mb = max(self.peak_rss_mb, tree_peak_rss_mb())
        return value, rec

    # -- set-up --------------------------------------------------------
    def data_setup(self, fn):
        """Run and time the data set-up (fixture generation and expected
        answers)."""
        t0 = time.perf_counter()
        result = fn()
        self.setup["data_s"] = time.perf_counter() - t0
        return result

    def start_spark(self, event_log: bool) -> None:
        t0 = time.perf_counter()
        self.spark = start_session(self.work, event_log)
        # a traced run restarts Spark in the same JVM; the cold start counts
        self.setup.setdefault("session_s", time.perf_counter() - t0)

    def warm_up(self, src: str) -> None:
        """Load ``src`` into a throwaway sink, publish it twice and read
        every summary once, so that JIT compilation, code generation and
        Python worker start-up are paid, at the size the run measures,
        before anything is measured (the aggregate stage warms more
        slowly than the load)."""
        t0 = time.perf_counter()
        sink = self.path("warmup-sink")
        run_pipeline(self.spark, src, sink)
        run_aggregates(self.spark, sink)
        run_aggregates(self.spark, sink)
        api = LogPipelineAPI(self.spark, sink)
        for q in SUMMARIES:
            api.collect_cached(q)
        shutil.rmtree(sink)
        self.setup["warmup_s"] = self.setup.get("warmup_s", 0.0) + time.perf_counter() - t0

    def setup_s(self) -> float:
        return sum(self.setup.values())


def sink_categories(sink: str) -> dict[str, int]:
    """Rows per category over the committed chunks of a sink's manifest."""
    out: dict[str, int] = {}
    for rec in Manifest(sink).completed_chunks().values():
        for cat, n in rec.get("rows_per_category", {}).items():
            out[cat] = out.get(cat, 0) + n
    return out


# ---------------------------------------------------------------------
# ingest_bulk


def ingest_bulk(run: Run) -> dict:
    src = run.path("bulk-input")

    def data():
        _, frames = expect.write_fixture(src, BULK_ROWS, BULK_FILES, run.seed)
        return expect.oracle_answers(expect.parse_lines(frames))

    exp = run.data_setup(data)
    run.rows = {"input_rows": BULK_ROWS, "input_files": BULK_FILES}
    run.start_spark(event_log=False)
    run.warm_up(src)
    if not run.trace:
        t_end = time.perf_counter() + run.seconds
        iters = []
        while len(iters) < MIN_LOADS or time.perf_counter() < t_end:
            iters.append(_bulk_iteration(run, src, exp, len(iters)))
        run.notes["ingest_s"] = [x["ingest_s"] for x in iters]
        return {
            # identical loads: the median one resists a slow spell of the host
            "ingest_rows_per_s": BULK_ROWS / median(x["ingest_s"] for x in iters),
            "sink_bytes_per_row": median(x["bytes_per_row"] for x in iters),
            "freshness_p50_s": median(x["first_answer_s"] for x in iters),
            **_query_percentiles(run),
        }

    # The tracing overhead, measured A-B-A in one JVM so that warming
    # drift cancels: loads with the event log off, two with it on (a new
    # Spark context), two more with it off (a third). The run's first
    # load is left out, because the JVM is still compiling during it.
    untraced = [_untraced_load(run, src, exp, i) for i in range(2)][1:]
    run.spark.stop()
    run.start_spark(event_log=True)
    run.warm_up(src)
    t_end = time.perf_counter() + run.seconds
    traced = [_bulk_iteration(run, src, exp, f"traced-{i}", keep=True) for i in range(2)]
    sink = run.path("bulk-sink-traced-1")
    layers = {
        **_sink_probes(run, sink, "chunk-00000"),
        **_sink_layers(sink),
        **_aggregate_jobs(run, sink),
        **_api_layers(run),
    }
    files = sorted(os.path.join(src, f) for f in os.listdir(src))
    _ladder(run, files, run.path("ladder-sink"))
    while time.perf_counter() < t_end:
        _ladder(run, files, run.path("ladder-sink"))
    layers.update(_ladder_self_times(run))
    run.spark.stop()
    run.start_spark(event_log=False)
    run.warm_up(src)
    untraced += [_untraced_load(run, src, exp, i) for i in (2, 3)]

    untraced_load_s = median(x["load_s"] for x in untraced)
    layers["trace.overhead_s"] = (median(x["ingest_s"] for x in traced)
                                  - median(x["ingest_s"] for x in untraced))
    # the ladder's layers plus the per-chunk bookkeeping the real load
    # does after its write, against the untraced load
    summed = sum(layers[f"{name}.s"] for name in LADDER) + layers["write.partition_metrics_s"] \
        + layers["manifest.read_s"] + layers["manifest.commit_s"]
    layers["trace.layer_gap_ratio"] = (summed - untraced_load_s) / untraced_load_s
    run.notes.update({
        "untraced_load_s": untraced_load_s,
        "traced_load_s": median(x["load_s"] for x in traced),
        "summed_layer_s": summed,
    })
    return layers


def _untraced_load(run: Run, src: str, exp: dict, i: int) -> dict:
    """Load and publish ``src`` once, keeping the spans out of the trace;
    returns the timings."""
    spans, run.spans = run.spans, Spans()
    sink = run.path(f"bulk-sink-untraced-{i}")
    try:
        t0 = time.perf_counter()
        load = _load_publish(run, src, sink, exp)
        return {"ingest_s": time.perf_counter() - t0, "load_s": load["dur_s"]}
    finally:
        run.spans = spans
        shutil.rmtree(sink, ignore_errors=True)


def _bulk_iteration(run: Run, src: str, exp: dict, i, keep: bool = False) -> dict:
    """Load ``src`` as one chunk into a fresh sink, publish it, then read
    each published summary once and check it against the oracle. Returns
    this load's timings."""
    sink = run.path(f"bulk-sink-{i}")
    t0 = time.perf_counter()
    load = _load_publish(run, src, sink, exp)
    ingest_s = time.perf_counter() - t0
    first_answer = _check_summaries(run, sink, exp)
    _, nbytes = dir_bytes(os.path.join(sink, "data"))
    if not keep:
        shutil.rmtree(sink, ignore_errors=True)
    return {"ingest_s": ingest_s, "first_answer_s": first_answer - t0,
            "bytes_per_row": nbytes / exp["rows"], "load_s": load["dur_s"]}


def _load_publish(run: Run, src: str, sink: str, exp: dict) -> dict:
    """``run_pipeline`` (checked against the oracle's category counts),
    then ``run_aggregates``. Returns the load's span record."""
    _, load = run.call("load", lambda: run_pipeline(run.spark, src, sink),
                       expected=exp["categories"], project=lambda _: sink_categories(sink))
    run.call("publish", lambda: run_aggregates(run.spark, sink))
    return load


def _check_summaries(run: Run, sink: str, exp: dict) -> float:
    """Read every published summary of a fresh load once, through a new
    facade (so each read misses its cache), and check it against the
    oracle. Returns when the first correct answer arrived
    (``perf_counter``; now, if none was correct)."""
    api = LogPipelineAPI(run.spark, sink)
    answered = []
    for q in SUMMARIES:
        _, rec = run.call("query", lambda: api.collect_cached(q), expected=exp[q],
                          project=lambda rows: expect.rows_of(q, rows),
                          endpoint=q, kind="summary")
        if not rec.get("failed"):
            answered.append(time.perf_counter())
    return min(answered, default=time.perf_counter())


# ---------------------------------------------------------------------
# query_mix


def query_mix(run: Run) -> dict:
    staged = run.path("mix-arrivals")

    def data():
        paths, frames = expect.write_fixture(staged, MIX_FILE_ROWS * MIX_ARRIVALS,
                                             MIX_ARRIVALS, run.seed, name="arrival")
        # what the sink must answer after each arrival: the oracle over
        # every file arrived so far
        parsed, prefixes = [], []
        for frame in frames:
            parsed.append(expect.parse_lines([frame]))
            prefixes.append(expect.oracle_answers(pd.concat(parsed, ignore_index=True)))
        return paths, prefixes

    paths, prefixes = run.data_setup(data)
    run.rows = {"file_rows": MIX_FILE_ROWS, "arrivals": MIX_ARRIVALS,
                "sink_rows": MIX_FILE_ROWS * MIX_ARRIVALS}
    run.start_spark(event_log=run.trace)
    warm = run.path("mix-warmup")  # warm up at the size of one arrival
    os.makedirs(warm)
    shutil.copy(paths[0], warm)
    run.warm_up(warm)

    # The sink is built by files arriving one at a time. After each
    # arrival a slice of the request stream runs on the sink as it
    # stands, so loads and reads alternate through the run: a slow spell
    # of the host then shifts every metric a little, not one a lot.
    inbox, sink = run.path("mix-inbox"), run.path("mix-sink")
    os.makedirs(inbox)
    cache = CountingCache()
    api = LogPipelineAPI(run.spark, sink, cache=cache)
    sql = expect.SinkSQL(sink)
    t_end = time.perf_counter() + run.seconds
    arrivals = []
    try:
        for k, path in enumerate(paths):
            arrivals.append(_arrival(run, api, path, inbox, sink, k, prefixes[k]))
            _request_slice(run, api, cache, sql, k)
        slices = len(paths)
        while time.perf_counter() < t_end:  # more requests on the final sink
            _request_slice(run, api, cache, sql, slices)
            slices += 1
    finally:
        sql.close()
    run.rows["cache_hits"] = cache.hits

    if not run.trace:
        return {
            "ingest_rows_per_s": MIX_FILE_ROWS * len(arrivals) / sum(a["ingest_s"] for a in arrivals),
            "sink_bytes_per_row": arrivals[-1]["bytes_per_row"],
            "freshness_p50_s": median(a["first_answer_s"] for a in arrivals),
            **_query_percentiles(run),
        }
    # the prefix ladder over one arrival: per-chunk fixed costs by layer
    _ladder(run, [os.path.join(inbox, os.path.basename(paths[-1]))], run.path("ladder-sink"))
    compact_bytes = 0
    for rec in Manifest(sink).completed_chunks().values():
        if rec.get("kind") == "compaction":
            prefix = rec["chunk_id"] + "-"
            for dirpath, _, names in os.walk(os.path.join(sink, "data")):
                compact_bytes += sum(os.path.getsize(os.path.join(dirpath, n))
                                     for n in names if n.startswith(prefix))
    return {
        **_ladder_self_times(run),
        **_probe_medians(run),
        **_sink_layers(sink),
        **_aggregate_jobs(run, sink),
        **_api_layers(run),
        **_cache_layers(cache),
        "compact.s": median(run.spans.durations("compact")),
        "compact.bytes_rewritten": compact_bytes,
    }


def _arrival(run: Run, api: LogPipelineAPI, path: str, inbox: str, sink: str, k: int,
             exp: dict) -> dict:
    """File ``k`` arrives: ``run_pipeline`` resumes and loads it as the
    next chunk (compacting after every ``COMPACT_EVERY``-th), then
    ``run_aggregates``, then two queries that miss the cache the load
    invalidated and must include the new rows."""
    shutil.copy(path, inbox)
    compact = k % COMPACT_EVERY == COMPACT_EVERY - 1
    t0 = time.perf_counter()
    run.call("load",
             lambda: run_pipeline(run.spark, inbox, sink, n_chunks=k + 1,
                                  compact_after=compact and not run.trace),
             expected=exp["categories"], project=lambda _: sink_categories(sink))
    if compact and run.trace:  # traced: the same compaction, in its own span
        run.call("compact", lambda: compact_sinks(run.spark, sink))
    run.call("publish", lambda: run_aggregates(run.spark, sink))
    ingest_s = time.perf_counter() - t0
    first_answer_s = None
    for q in ("statistics", "top_urls"):
        run.call("arrival_query", lambda: api.collect_cached(q), expected=exp[q],
                 project=lambda rows: expect.rows_of(q, rows), endpoint=q, kind="summary")
        if first_answer_s is None:
            first_answer_s = time.perf_counter() - t0
    if run.trace:
        _sink_probes(run, sink, f"chunk-{k:05d}")
    _, nbytes = dir_bytes(os.path.join(sink, "data"))
    return {"ingest_s": ingest_s, "first_answer_s": first_answer_s,
            "bytes_per_row": nbytes / exp["rows"]}


def _request_slice(run: Run, api: LogPipelineAPI, cache: CountingCache,
                   sql: expect.SinkSQL, k: int) -> None:
    """Slice ``k`` of the seeded request stream, ``SLICE_QUERIES`` long,
    sent by one closed-loop client and checked against DuckDB over the
    sink's parquet files as they stand. Building the slice and its
    answers counts as set-up. Before the first slice, one filtered or
    paged request per endpoint goes through a separate facade and cache,
    so those query plans compile before anything is timed (the arrival
    already ran the summary reads)."""
    t0 = time.perf_counter()
    stream = expect.request_stream(sql.refresh(), (run.seed, k), SLICE_QUERIES,
                                   start=k * SLICE_QUERIES)
    answers = {req: sql.answer(req) for req in dict.fromkeys(stream)}
    if k == 0:
        warm_api = LogPipelineAPI(run.spark, api.root)
        for req in {(r.kind, r.endpoint): r for r in stream if r.kind != "summary"}.values():
            _send(warm_api, req)
    run.setup["stream_s"] = run.setup.get("stream_s", 0.0) + time.perf_counter() - t0
    for req in stream:
        hits = cache.hits
        _, rec = run.call("query", lambda: _send(api, req), expected=answers[req],
                          project=lambda rows: expect.rows_of(req.endpoint, rows),
                          endpoint=req.endpoint, kind=req.kind)
        rec["hit"] = cache.hits > hits


def _send(api: LogPipelineAPI, req: expect.Request):
    flt = LogFilter(**dict(req.flt)) if req.flt else None
    if req.endpoint == "logs_after":  # keyset pages are not cached by the API
        return api.get_logs_after(expect.cursor_time(req.cursor[0]), req.cursor[1], flt).collect()
    if req.endpoint in ("statuses", "actions"):
        return api.collect_cached(req.endpoint)
    params = {"k": req.k} if req.k is not None else {}
    if req.page is not None:
        params["page"] = req.page
    return api.collect_cached(req.endpoint, flt, **params)


# ---------------------------------------------------------------------
# shared metric helpers


def _query_percentiles(run: Run) -> dict:
    lat = [r["dur_s"] * 1000 for r in run.spans.named("query")]
    run.rows["query_samples"] = len(lat)
    return {"query_p50_ms": median(lat), "query_p90_ms": p90(lat)}


def _ladder(run: Run, files: list[str], sink: str) -> None:
    """Cumulative prefixes of the load plan, each forced through Spark's
    ``noop`` sink (the last through the real writer): parse, enrich and
    route fuse into one stage, so a layer's own time is its prefix time
    minus the previous prefix's."""
    spark = run.spark
    raw = read_raw_sequences(spark, files)
    prefixes = {
        "scan": lambda: raw,
        "parse": lambda: with_parsed(raw),
        "enrich": lambda: enrich(with_parsed(raw), load_dims(spark)),
        "route": lambda: build_routed(spark, raw),
    }
    for name, plan in prefixes.items():
        with run.spans.span(f"ladder.{name}"):
            plan().write.format("noop").mode("overwrite").save()
    shutil.rmtree(sink, ignore_errors=True)
    with run.spans.span("ladder.write"):
        MultiSinkWriter(sink).write_chunk(build_routed(spark, raw), "chunk-00000")
    shutil.rmtree(sink, ignore_errors=True)


def _ladder_self_times(run: Run) -> dict:
    prefix = {name: median(run.spans.durations(f"ladder.{name}")) for name in LADDER}
    out, prev = {}, 0.0
    for name in LADDER:
        out[f"{name}.s"] = prefix[name] - prev
        prev = prefix[name]
    return out


def _sink_probes(run: Run, sink: str, chunk_id: str) -> dict:
    """Time the per-chunk bookkeeping calls a load makes around its write
    (footer metrics, manifest read and commit) and the sink read's
    planning, on the sink as it stands. The commit goes to a copy of the
    manifest, so the sink itself is untouched."""
    spark = run.spark
    with run.spans.span("probe.partition_metrics"):
        MultiSinkWriter(sink).partition_metrics(chunk_id)
    with run.spans.span("probe.read_sink_plan"):
        read_sink(spark, sink)
    with run.spans.span("probe.manifest_read"):
        records = Manifest(sink).completed_chunks()
    copy = run.path("manifest-probe")
    shutil.rmtree(copy, ignore_errors=True)
    os.makedirs(copy)
    shutil.copy(os.path.join(sink, "manifest.jsonl"), copy)
    with run.spans.span("probe.manifest_commit"):
        Manifest(copy).commit_chunk(records[chunk_id])
    return _probe_medians(run)


def _probe_medians(run: Run) -> dict:
    return {
        "write.partition_metrics_s": median(run.spans.durations("probe.partition_metrics")),
        "read_sink.plan_s": median(run.spans.durations("probe.read_sink_plan")),
        "manifest.read_s": median(run.spans.durations("probe.manifest_read")),
        "manifest.commit_s": median(run.spans.durations("probe.manifest_commit")),
    }


def _sink_layers(sink: str) -> dict:
    files, nbytes = dir_bytes(os.path.join(sink, "data"))
    cats = sink_categories(sink)
    return {
        "write.files": files,
        "write.bytes": nbytes,
        "parse.valid_ratio": 1 - cats.get("quarantine", 0) / max(1, sum(cats.values())),
    }


def _cache_layers(cache: CountingCache) -> dict:
    return {
        "cache.hit_ratio": cache.hits / max(1, cache.hits + cache.misses),
        "cache.invalidations": cache.invalidations,
    }


def _aggregate_jobs(run: Run, sink: str) -> dict:
    """Each summary job of ``run_aggregates`` on its own, forced into
    ``noop`` one after another (the stage itself runs them concurrently
    and writes parquet)."""
    df = read_sink(run.spark, sink)
    jobs = {
        "sink_totals": lambda: [agg.sink_totals(df)],
        "status_hist": lambda: [agg.status_hist(df)],
        "hourly_hist": lambda: [agg.hourly_hist(df)],
        "daily_rollup": lambda: [agg.daily_rollup(df)],
        "top_urls": lambda: [agg.top_urls(df)],
        "top_users": lambda: [agg.top_users(df)],
        "dims": lambda: list(agg.distinct_dims(df)),
    }
    out = {}
    for name, plans in jobs.items():
        with run.spans.span(f"aggregate.{name}") as rec:
            for plan in plans():
                plan.write.format("noop").mode("overwrite").save()
        out[f"aggregate.{name}.s"] = rec["dur_s"]
    return out


def _kind_latency(run: Run, kind: str) -> float:
    """Median latency (ms) of the requests of one kind that missed the cache."""
    return median(r["dur_s"] * 1000 for r in run.spans.named("query")
                  if r["kind"] == kind and not r.get("hit"))


def _api_layers(run: Run) -> dict:
    queries = [r for r in run.spans.named("query") if not r.get("hit")]
    summary = [r for r in queries if r["kind"] == "summary"]
    return {
        "api.summary_ms": _kind_latency(run, "summary"),
        "api.live_agg_ms": _kind_latency(run, "live"),
        "api.page_offset_ms": _kind_latency(run, "offset"),
        "api.page_keyset_ms": _kind_latency(run, "keyset"),
        "api.summary_ratio": len(summary) / max(1, len(queries)),
    }


def _event_layers(run: Run) -> dict:
    """Per-layer counts from the event log: the load spans give the parse
    UDF's Python time and Arrow bytes and the write stage's skew; the
    publish spans give the aggregate stage's shuffle, spill and skew.
    Medians over the spans of the run. Read after Spark has stopped,
    which closes the log."""
    events = EventLog(run.path("eventlog"))
    loads = [events.window(r["start_ms"], r["end_ms"]) for r in run.spans.named("load")]
    pubs = [events.window(r["start_ms"], r["end_ms"]) for r in run.spans.named("publish")]
    out = {}
    if loads:
        out.update({
            "parse.python_run_s": median(w["python_run_ms"] for w in loads) / 1000,
            "parse.bytes_to_python": median(w["python_sent_bytes"] for w in loads),
            "parse.bytes_from_python": median(w["python_returned_bytes"] for w in loads),
            "write.task_skew": median(w["task_skew"] for w in loads),
            "load.gc_s": median(w["gc_ms"] for w in loads) / 1000,
        })
    if pubs:
        out.update({
            "aggregate.s": median(r["dur_s"] for r in run.spans.named("publish")),
            "aggregate.shuffle_bytes": median(w["shuffle_write_bytes"] for w in pubs),
            "aggregate.spill_bytes": median(w["spill_bytes"] for w in pubs),
            "aggregate.task_skew": median(w["task_skew"] for w in pubs),
            "aggregate.gc_s": median(w["gc_ms"] for w in pubs) / 1000,
        })
    return out


WORKLOADS = {
    "ingest_bulk": ingest_bulk,
    "query_mix": query_mix,
}


def measure(run: Run) -> dict[str, float]:
    """Run the workload; return its end-to-end metrics (untraced) or
    every per-layer metric, zero for layers the workload leaves idle
    (traced)."""
    metrics = WORKLOADS[run.workload](run)
    if not run.trace:
        metrics["setup_s"] = run.setup_s()
        metrics["peak_rss_mb"] = run.peak_rss_mb
        return {name: metrics[name] for name in END_TO_END}
    run.spark.stop()
    layers = {name: 0.0 for name in PER_LAYER}
    layers.update(metrics)
    layers.update(_event_layers(run))
    layers["session.start_s"] = run.setup["session_s"]
    run.notes["largest_layer"] = max(
        LADDER + ("aggregate",), key=lambda n: layers[f"{n}.s"])
    return layers
