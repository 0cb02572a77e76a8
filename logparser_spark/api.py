"""User-facing query facade over the routed sinks + summary tables —
the reference's REST surface (§3.2/§3.3) as DataFrame methods.

Endpoint parity (ParsingController.java):
- GET /api/logs            -> ``LogPipelineAPI.get_logs``   (filtered page + stats)
- GET /api/top-urls        -> ``get_top_urls``              (precomputed fast path when unfiltered)
- GET /api/top-users       -> ``get_top_users``
- GET /api/statistics      -> ``get_statistics``
- GET /api/statuses|actions-> ``get_statuses`` / ``get_actions`` (dim vocabularies)

The reference's routing decision (precomputed summary when no filters,
live aggregation otherwise — StatisticsService.java:23-53) is kept:
unfiltered calls read the summary tables written by the aggregate
stage (merged from per-chunk states); filtered calls run the live
operators with pushed-down predicates. Tests hold the two equal.

The summary fast path makes NO JVM call. The aggregate stage publishes
each bounded summary as one parquet file, ``summary/<name>.parquet``,
already in its canonical order, by renaming a whole new file over the
old one; its row count is the footer's and its ``exhaustive`` flag is
in the footer's key-value metadata. ``_summary_table`` opens that file
once with pyarrow, checks eligibility, reads it, drops the quarantine
category (statistics) or slices to k (top-K) in Arrow, and
``collect_cached`` builds the response's ``Row``s from that table in
Python — no Spark job, no py4j round trip. The ``get_*`` methods wrap
the same table with ``createDataFrame``, so collecting them runs no
Spark job either. Live and paged calls read the sink with its schema
pinned from a parquet footer (``read_sink``), so planning them runs no
job; only their scans and aggregations do.

``collect_cached`` refuses, before any Spark work, a request that could
return more than ``MAX_ROWS`` rows (the reference's JDBC ``maxRows``)
and one with a negative ``k`` or a ``page``/``size`` below 1. It keys
its cache on the bound arguments, so spelling out a default hits the
entry of the call that omitted it.
"""

from __future__ import annotations

import inspect
from dataclasses import astuple, dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from logparser_spark.operators import aggregates as agg
from logparser_spark.sources.sinks import read_sink, summary_path

# The reference's JDBC guard (DatabaseConfig.java:29-34, maxRows 50 000):
# the most rows one cached response may hold.
MAX_ROWS = 50_000
# least legal value of each paging / top-K parameter: a negative k would
# read as 0 rows on the summary path (pyarrow slice) but reach Spark's
# limit on the live path, so it is refused before either runs
_LEAST = {"k": 0, "page": 1, "size": 1}

# endpoint -> the published summary its unfiltered calls are served from
_SUMMARY_OF = {
    "statistics": "agg_sink_totals",
    "top_urls": "top_urls",
    "top_users": "top_users",
    "statuses": "dim_statuses",
    "actions": "dim_actions",
}


@dataclass
class LogFilter:
    """The 7 optional params of the reference's filter builder
    (LogDataRepository.java:35-56) — typed, not string-concatenated."""

    time_from: str | None = None  # ISO timestamp
    time_to: str | None = None
    ip: str | None = None
    username: str | None = None
    status_code: int | None = None
    action: str | None = None
    search: str | None = None  # url OR domain contains

    def is_empty(self) -> bool:
        """True when ``apply`` would add no predicate — the SAME
        truthiness test apply uses, so an empty-string field (an HTTP
        layer's absent query param) keeps the precomputed fast path
        instead of paying a full live scan to return identical rows."""
        return not any(
            (
                self.time_from, self.time_to, self.ip, self.username,
                self.status_code is not None, self.action, self.search,
            )
        )

    def apply(self, df: DataFrame) -> DataFrame:
        if self.time_from:
            df = df.filter(F.col("time") >= F.to_timestamp(F.lit(self.time_from)))
        if self.time_to:
            df = df.filter(F.col("time") <= F.to_timestamp(F.lit(self.time_to)))
        if self.ip:
            df = df.filter(F.col("ip") == self.ip)
        if self.username:
            df = df.filter(F.col("username") == self.username)
        if self.status_code is not None:
            df = df.filter(F.col("status_code") == self.status_code)
        if self.action:
            df = df.filter(F.col("action") == self.action)
        if self.search:
            df = df.filter(
                F.col("url").contains(self.search) | F.col("domain").contains(self.search)
            )
        return df


class LogPipelineAPI:
    def __init__(self, spark: SparkSession, sink_root: str, cache=None):
        from logparser_spark.cache import TTLResultCache

        self.spark = spark
        self.root = sink_root
        # C1: TTL cache of MATERIALIZED responses (FilterCacheService
        # parity — 5 min filtered / 30 min default); see cache.py
        self.cache = cache if cache is not None else TTLResultCache()

    # -- C1/C4/C5: the cached-response surface -------------------------
    # endpoint name -> (builder method, takes a LogFilter first arg)
    _CACHEABLE = {
        "logs": ("get_logs", True),
        "statistics": ("get_statistics", True),
        "top_urls": ("get_top_urls", True),
        "top_users": ("get_top_users", True),
        "statuses": ("get_statuses", False),
        "actions": ("get_actions", False),
    }

    def collect_cached(self, endpoint: str, flt: LogFilter | None = None, **params):
        """C1: the materialized-response path an HTTP layer serves from —
        collect the endpoint's DataFrame once and cache the row list
        under (endpoint, filter fingerprint, params), with the
        reference's two-tier TTL (filtered results expire in 5 min,
        unfiltered defaults in 30). The cached object is the ROWS, not
        the plan: a cached DataFrame would re-execute per read.

        A miss on an unfiltered summary endpoint builds its rows in
        Python from ``_summary_table`` — the same field names, order and
        values ``collect()`` gives — with no JVM call. A request that
        could return more than ``MAX_ROWS`` rows (``size`` for logs,
        ``k`` for the top lists), or with ``k < 0``, ``page < 1`` or
        ``size < 1``, raises ValueError before any Spark work.
        """
        meth, takes_filter = self._CACHEABLE[endpoint]
        if flt is not None and not takes_filter:
            # silently dropping the filter would cache an UNFILTERED
            # result under a filtered key — the caller believes the
            # rows honor the filter. Refuse instead.
            raise ValueError(f"endpoint {endpoint!r} does not take a filter")
        fn = getattr(self, meth)
        args = (flt,) if takes_filter else ()
        # the endpoint method's signature supplies the defaults (page size,
        # k) and rejects unknown params before any Spark work
        call = inspect.signature(fn).bind(*args, **params)
        call.apply_defaults()
        bound = {name: v for name, v in call.arguments.items() if name != "flt"}
        for name, least in _LEAST.items():
            if name in bound and bound[name] < least:
                raise ValueError(f"{name}={bound[name]} is below {least}")
        limit = bound.get("size", bound.get("k"))
        if limit is not None and limit > MAX_ROWS:
            raise ValueError(
                f"endpoint {endpoint!r} could return {limit} rows; the limit is {MAX_ROWS}"
            )
        # Keyed on the BOUND arguments, defaults applied, so a call
        # that spells out a default shares the entry of one that omits
        # it, and an empty filter shares the entry of no filter, as both
        # answer unfiltered. self.root is part of the key: the cache= seam
        # invites sharing one store across facades, and two facades over
        # different sink roots must never serve each other's rows.
        filtered = flt is not None and not flt.is_empty()
        key = (
            self.root,
            endpoint,
            astuple(flt) if filtered else None,
            tuple(sorted(bound.items())),
        )
        hit = self.cache.get(key)
        if hit is not None:
            return list(hit)
        table = None
        if endpoint in _SUMMARY_OF:
            table = self._summary_table(endpoint, flt, call.arguments.get("k"))
        if table is not None:
            make = Row(*table.column_names)
            rows = [make(*vals) for vals in zip(*(c.to_pylist() for c in table.columns))]
        else:
            rows = fn(*args, **params).collect()
        self.cache.put(
            key,
            tuple(rows),  # immutable: caller mutation can't poison hits
            filtered=filtered,
        )
        return rows

    def on_data_change(self) -> int:
        """C4 at the cache tier: evict every cached response after a
        load commits (the summary-table tier already recomputes per
        load — plans/pipeline.run_aggregates). The reference calls the
        eviction from the loader (LogFileParser.java:714-719); here the
        load path does too, without needing this handle — run_pipeline
        / run_aggregates call ``cache.invalidate_registered()``, which
        reaches every live cache including this one. This method stays
        for hosts that drive eviction explicitly. Returns entries
        dropped."""
        return self.cache.invalidate_all()

    def sweep_cache(self) -> int:
        """C5 eviction semantics; the host owns the 60 s cadence (the
        reference uses a Spring @Scheduled — scheduling is not an
        engine concern, expiry correctness is and is tested)."""
        return self.cache.sweep()

    def _facts(self, flt: LogFilter | None) -> DataFrame:
        df = read_sink(self.spark, self.root).filter(F.col("valid") == 1)
        return flt.apply(df) if flt else df

    def _summary_table(
        self, endpoint: str, flt: LogFilter | None = None, k: int | None = None
    ) -> pa.Table | None:
        """The answer to an unfiltered summary request, read from the
        published file by pyarrow alone, or None to send the call to
        live aggregation:

        - only unfiltered calls qualify;
        - the summary's one file (``summary/<name>.parquet``) is opened
          once: a top-K request needs its footer to hold >= k rows or
          its schema metadata to mark it ``exhaustive`` (every distinct
          key, so it IS the complete ranking, valid for any k); then the
          same open file is read. The publish renames a whole new file
          over the old one, so the open file is one version throughout;
        - a missing or torn file (no publish yet, a truncated copy)
          returns None instead of crashing;
        - the aggregate stage publishes the rows in the operator's
          canonical order, so nothing is re-sorted;
        - statistics covers valid (routed) rows only, as a filtered call
          does: quarantine rows never existed in the reference's logs
          table, so its category is dropped, and a null category too, as
          Spark's ``!=`` drops it;
        - a top-K table is sliced to k.

        The read is eager, so nothing read here can change afterwards: a
        later republish does not affect the returned rows."""
        if flt is not None and not flt.is_empty():
            return None
        path = summary_path(self.root, _SUMMARY_OF[endpoint])
        try:
            # ParquetFile.read skips read_table's dataset discovery: a
            # third of the cost on these few-KB files
            with pq.ParquetFile(path) as pf:
                if k is not None and pf.metadata.num_rows < k:
                    facts = pf.schema_arrow.metadata or {}
                    if facts.get(b"exhaustive") != b"true":
                        return None
                table = pf.read().replace_schema_metadata(None)
        except (OSError, pa.ArrowException):
            return None
        if endpoint == "statistics":
            # a null comparison drops the row, as Spark's filter does
            table = table.filter(pc.not_equal(table["category"], "quarantine"))
        return table if k is None else table.slice(0, k)

    def _served(
        self, endpoint: str, flt: LogFilter | None = None, k: int | None = None
    ) -> DataFrame | None:
        """``_summary_table``'s answer as a local relation (collecting it
        runs no Spark job), or None for live aggregation."""
        table = self._summary_table(endpoint, flt, k)
        return None if table is None else self.spark.createDataFrame(table)

    # -- GET /api/logs ------------------------------------------------
    def get_logs(
        self, flt: LogFilter | None = None, page: int = 1, size: int = 50
    ) -> DataFrame:
        """Page of rows, ORDER BY time DESC with pinned doc_id
        tie-break, LIMIT/OFFSET (O1)."""
        return (
            self._facts(flt)
            .select(
                "doc_id", "time", "ip", "username", "url", "domain",
                "status_code", "response_time_ms", "response_size_bytes", "action",
            )
            .orderBy(F.desc("time"), F.asc("doc_id"))
            .offset((page - 1) * size)
            .limit(size)
        )

    def get_logs_after(
        self,
        last_time,
        last_doc_id,
        flt: LogFilter | None = None,
        size: int = 50,
    ) -> DataFrame:
        """Keyset pagination — the at-scale alternative to
        LIMIT/OFFSET (SURVEY §2.6 O1): resume strictly after the cursor
        (last_time, last_doc_id) in (time DESC, doc_id ASC) order.

        OFFSET pagination scans + sorts the full prefix on every page
        (page 10^6 of a 100 TB table reads half the table); the tuple
        predicate here pushes into the scan, so every page costs one
        pruned scan + top-``size``, independent of page depth. Page 1 =
        ``get_logs``; subsequent pages feed the previous page's last row
        back as the cursor. Equality with OFFSET paging over a full
        sweep is pinned in tests.
        """
        df = self._facts(flt)
        after = (F.col("time") < F.lit(last_time)) | (
            (F.col("time") == F.lit(last_time)) & (F.col("doc_id") > last_doc_id)
        )
        return (
            df.filter(after)
            .select(
                "doc_id", "time", "ip", "username", "url", "domain",
                "status_code", "response_time_ms", "response_size_bytes", "action",
            )
            .orderBy(F.desc("time"), F.asc("doc_id"))
            .limit(size)
        )

    def count_pages(self, flt: LogFilter | None = None, size: int = 50) -> int:
        import math

        return math.ceil(self._facts(flt).count() / size)

    # -- GET /api/statistics -----------------------------------------
    # unfiltered -> the published summary (C2/C3 fast path, see
    # _summary_table); filtered -> live aggregation with pushed filters.
    # Both cover the same universe — valid (routed) rows only.
    def get_statistics(self, flt: LogFilter | None = None) -> DataFrame:
        s = self._served("statistics", flt)
        return s if s is not None else agg.sink_totals(self._facts(flt))

    # -- GET /api/top-urls / /api/top-users --------------------------
    # fast path only when the published table can satisfy k (summaries
    # hold top-100/top-10; a larger k on a truncated one goes live)
    def get_top_urls(self, flt: LogFilter | None = None, k: int = 100) -> DataFrame:
        s = self._served("top_urls", flt, k)
        return s if s is not None else agg.top_urls(self._facts(flt), k=k)

    def get_top_users(self, flt: LogFilter | None = None, k: int = 10) -> DataFrame:
        s = self._served("top_users", flt, k)
        return s if s is not None else agg.top_users(self._facts(flt), k=k)

    # -- GET /api/combined-tops ---------------------------------------
    def get_combined_tops(
        self,
        flt: LogFilter | None = None,
        k_urls: int = 100,
        k_users: int = 10,
    ) -> dict[str, DataFrame]:
        """Both top lists in one response (ParsingController.java's
        GET /api/combined-tops): same fast-path/fallback routing as the
        individual endpoints."""
        return {
            "topUrls": self.get_top_urls(flt, k=k_urls),
            "topUsers": self.get_top_users(flt, k=k_users),
        }

    # -- GET /api/statuses / /api/actions ----------------------------
    # precomputed at load time (reference populates dim tables on load);
    # live distinct only when the summary is absent
    def get_statuses(self) -> DataFrame:
        s = self._served("statuses")
        return s if s is not None else agg.distinct_dims(read_sink(self.spark, self.root))[0]

    def get_actions(self) -> DataFrame:
        s = self._served("actions")
        return s if s is not None else agg.distinct_dims(read_sink(self.spark, self.root))[1]
