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
stage; filtered calls run the same plans with pushed-down predicates.

The summary fast path runs NO Spark job. The aggregate stage publishes
each bounded summary as one parquet file already in its canonical
order; a fast-path call reads that file eagerly with pyarrow and hands
it to Spark as a local relation, so the quarantine filter and the
top-K ``limit`` fold into it at planning time and ``collect()`` is a
driver-side copy — no schema-inference job, no re-sort, no shuffle.
Live and paged calls read the sink with its schema pinned from a
parquet footer (``read_sink``), so planning them runs no job either;
only their scans and aggregations do.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logparser_spark.operators import aggregates as agg
from logparser_spark.sources.sinks import read_sink


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
        """
        meth, takes_filter = self._CACHEABLE[endpoint]
        if flt is not None and not takes_filter:
            # silently dropping the filter would cache an UNFILTERED
            # result under a filtered key — the caller believes the
            # rows honor the filter. Refuse instead.
            raise ValueError(f"endpoint {endpoint!r} does not take a filter")
        from dataclasses import astuple

        # self.root is part of the key: the cache= seam invites sharing
        # one store across facades, and two facades over different sink
        # roots must never serve each other's rows.
        key = (
            self.root,
            endpoint,
            astuple(flt) if flt is not None else None,
            tuple(sorted(params.items())),
        )
        hit = self.cache.get(key)
        if hit is not None:
            return list(hit)
        fn = getattr(self, meth)
        df = fn(flt, **params) if takes_filter else fn(**params)
        rows = df.collect()
        self.cache.put(
            key,
            tuple(rows),  # immutable: caller mutation can't poison hits
            filtered=flt is not None and not flt.is_empty(),
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

    def _summary_meta(self, name: str) -> dict | None:
        """The summary's commit marker (written inside the dir before
        the atomic rename publish): {"rows": n, "exhaustive": bool}.
        None = absent or uncommitted (a partial dir from a crashed
        aggregate stage has no marker) -> callers fall back to live
        aggregation, never to silently-partial results."""
        import json

        try:
            with open(os.path.join(self.root, "summary", name, "_meta.json")) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return None

    def _read_summary(self, name: str) -> DataFrame | None:
        """The committed summary's rows as a local relation: its parquet
        files read eagerly by pyarrow in name order (the aggregate stage
        publishes one file in the operator's canonical order) and handed
        to ``createDataFrame``. Neither this call nor the caller's
        collect runs a Spark job. None when the files are gone or torn
        (a republish swapped the dir under this read) -> live fallback."""
        import glob

        import pyarrow as pa
        import pyarrow.parquet as pq

        files = sorted(glob.glob(os.path.join(self.root, "summary", name, "*.parquet")))
        if not files:
            return None
        try:
            table = pa.concat_tables([pq.read_table(f) for f in files])
        except (OSError, pa.ArrowException):
            return None
        return self.spark.createDataFrame(table)

    def _summary(self, name: str) -> DataFrame | None:
        if self._summary_meta(name) is None:
            return None
        return self._read_summary(name)

    def _summary_rows(self, name: str) -> int:
        """Row count of a summary table WITHOUT a Spark job (from the
        commit marker; parquet footers as a defensive fallback)."""
        meta = self._summary_meta(name)
        if meta is not None:
            return meta["rows"]
        import glob

        from logparser_spark.sources.sinks import footer_row_count

        return footer_row_count(
            glob.glob(os.path.join(self.root, "summary", name, "*.parquet"))
        )

    def _summary_for_k(self, name: str, k: int) -> DataFrame | None:
        """The summary table iff its committed marker can serve a
        request for k rows: it holds >= k rows OR it was never truncated
        (fewer distinct keys than its cap — then it IS the complete
        ranking and remains valid for any k). Reads the marker ONCE.

        No race window remains after this returns: the read is eager
        (pyarrow loads the rows into the driver before the DataFrame
        exists), so a republish that deletes or replaces the summary
        files later cannot affect the returned DataFrame — its collect
        serves the snapshot that was read. A read that itself races a
        republish (rmtree+rename) fails inside ``_read_summary``'s try
        and returns None, i.e. falls back to live aggregation instead
        of crashing or serving a torn table."""
        meta = self._summary_meta(name)
        if meta is None or not (meta["rows"] >= k or meta.get("exhaustive", False)):
            return None
        return self._read_summary(name)

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
    def get_statistics(self, flt: LogFilter | None = None) -> DataFrame:
        """Unfiltered -> precomputed summary table (C2 fast path);
        filtered -> live aggregation with pushed filters.

        Both paths cover the same universe — valid (routed) rows only:
        quarantine rows never existed in the reference's logs table, so
        the fast path drops the summary's quarantine category to stay
        consistent with any filtered call."""
        if (flt is None or flt.is_empty()) and (s := self._summary("agg_sink_totals")) is not None:
            return s.filter(F.col("category") != "quarantine")
        return agg.sink_totals(self._facts(flt))

    # -- GET /api/top-urls / /api/top-users --------------------------
    # fast path only when the precomputed table can actually satisfy k
    # (summaries hold top-100/top-10; a larger k falls back to live);
    # the published rows are already ranked, so the slice is a limit

    def get_top_urls(self, flt: LogFilter | None = None, k: int = 100) -> DataFrame:
        if (flt is None or flt.is_empty()) and (
            s := self._summary_for_k("top_urls", k)
        ) is not None:
            return s.limit(k)  # O9 slice
        return agg.top_urls(self._facts(flt), k=k)

    def get_top_users(self, flt: LogFilter | None = None, k: int = 10) -> DataFrame:
        if (flt is None or flt.is_empty()) and (
            s := self._summary_for_k("top_users", k)
        ) is not None:
            return s.limit(k)
        return agg.top_users(self._facts(flt), k=k)

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
        if (s := self._summary("dim_statuses")) is not None:
            return s
        s, _ = agg.distinct_dims(read_sink(self.spark, self.root))
        return s

    def get_actions(self) -> DataFrame:
        if (a := self._summary("dim_actions")) is not None:
            return a
        _, a = agg.distinct_dims(read_sink(self.spark, self.root))
        return a
