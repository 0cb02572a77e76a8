"""Seeded inputs and the independent answers every run is checked against.

Two independent sources of truth, neither of them the Spark code under test:

- ``logparser_spark.oracle``, the per-row pure-Python parser, over the
  generated lines: per-category counts, sink totals, top-K lists and the
  status/action vocabularies of a load;
- DuckDB over the parquet files the load wrote: the answers to filtered
  aggregations and to offset and keyset pages.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timezone

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from logparser_spark import fixtures, oracle

# Column order in which answers are compared, per endpoint.
TOTALS_COLS = ("category", "row_count", "error_count", "unique_ips",
               "bytes_total", "avg_response_time_ms")
URL_COLS = ("url", "domain", "request_count", "avg_response_time",
            "total_bytes", "last_access_us")
USER_COLS = ("username", "min_ip", "request_count", "unique_ips",
             "avg_response_time", "total_bytes", "first_seen_us", "last_seen_us")
PAGE_COLS = ("doc_id", "ip", "username", "url", "domain", "status_code",
             "response_time_ms", "response_size_bytes", "action")
COLS = {
    "statistics": TOTALS_COLS,
    "top_urls": URL_COLS,
    "top_users": USER_COLS,
    "logs": PAGE_COLS,
    "logs_after": PAGE_COLS,
    "statuses": ("status_code",),
    "actions": ("action",),
}
PAGE_SIZE = 50


def write_fixture(dirpath: str, rows: int, files: int, seed: int,
                  name: str = "part") -> tuple[list[str], list[pd.DataFrame]]:
    """Write ``rows`` generated lines as ``files`` raw-sequence parquet
    files named so that their sorted order is their generation order.
    Returns the paths and the generated line frames."""
    os.makedirs(dirpath, exist_ok=True)
    paths, frames = [], []
    for i, pdf in enumerate(fixtures.generate_partitioned_lines(rows, files, seed)):
        path = os.path.join(dirpath, f"{name}-{i:05d}.parquet")
        pq.write_table(fixtures.lines_to_sequences(pdf), path)
        paths.append(path)
        frames.append(pdf)
    return paths, frames


def _py(v):
    if v is None or v is pd.NA:
        return None
    return v.item() if isinstance(v, np.generic) else v


def _tuples(df: pd.DataFrame, cols) -> list[tuple]:
    return [tuple(_py(v) for v in row) for row in df[list(cols)].itertuples(index=False)]


def rows_of(endpoint: str, rows) -> list[tuple]:
    """Spark ``Row``s of one endpoint as plain tuples in ``COLS`` order."""
    return [tuple(r[c] for c in COLS[endpoint]) for r in rows]


def parse_lines(frames: list[pd.DataFrame]) -> pd.DataFrame:
    """The per-row oracle parse of the generated lines."""
    return oracle.parse_frame(pd.concat([f["line"] for f in frames], ignore_index=True))


def oracle_answers(parsed: pd.DataFrame) -> dict:
    """What a load of these lines must produce, from the per-row oracle."""
    valid = parsed[parsed["valid"]]
    totals = oracle.aggregate_sinks(parsed)
    return {
        "rows": len(parsed),
        "categories": {k: int(v) for k, v in parsed["category"].value_counts().items()},
        # the API serves valid (routed) rows only
        "statistics": _tuples(totals[totals["category"] != "quarantine"], TOTALS_COLS),
        "top_urls": _tuples(oracle.top_urls(parsed, 100), URL_COLS),
        "top_users": _tuples(oracle.top_users(parsed, 10), USER_COLS),
        "statuses": [(int(s),) for s in sorted(valid["status_code"].dropna().unique()) if s > 0],
        "actions": [(a,) for a in sorted(valid["action"].dropna().unique()) if a != "-"],
    }


@dataclass(frozen=True)
class Request:
    """One API request of the query stream. ``flt`` holds sorted
    (LogFilter field, value) pairs; ``cursor`` is (epoch_us, doc_id)."""

    kind: str  # summary | live | offset | keyset
    endpoint: str
    flt: tuple = ()
    k: int | None = None
    page: int | None = None
    cursor: tuple | None = None


def cursor_time(epoch_us: int) -> datetime:
    return datetime.fromtimestamp(epoch_us // 1_000_000, tz=timezone.utc).replace(
        microsecond=epoch_us % 1_000_000
    )


def _iso_us(ts: str) -> int:
    return int(datetime.fromisoformat(ts).replace(tzinfo=timezone.utc).timestamp()) * 1_000_000


class SinkSQL:
    """DuckDB over the sink's parquet files: the expected answer of any
    ``Request``. The rows are copied into DuckDB once; ``refresh`` copies
    them again after the sink has changed."""

    def __init__(self, sink_root: str):
        self.con = duckdb.connect(config={"threads": 2})
        self.glob = os.path.join(sink_root, "data", "**", "*.parquet")

    def refresh(self) -> "SinkSQL":
        self.con.execute(
            f"CREATE OR REPLACE TABLE facts AS SELECT * FROM read_parquet('{self.glob}', "
            "hive_partitioning = true, union_by_name = true, "
            "hive_types = {'category': 'VARCHAR', 'day': 'VARCHAR'})"
        )
        return self

    def close(self) -> None:
        self.con.close()

    def _q(self, sql: str, params=()) -> list[tuple]:
        return [tuple(r) for r in self.con.execute(sql, list(params)).fetchall()]

    @staticmethod
    def _where(flt: tuple) -> tuple[str, list]:
        conds, params = ["valid = 1"], []
        for field, value in flt:
            if field == "search":
                conds.append("(contains(url, ?) OR contains(domain, ?))")
                params += [value, value]
            elif field == "time_from":
                conds.append("epoch_us >= ?")
                params.append(_iso_us(value))
            elif field == "time_to":
                conds.append("epoch_us <= ?")
                params.append(_iso_us(value))
            else:  # username, status_code, ip, action: equality
                conds.append(f"{field} = ?")
                params.append(value)
        return " AND ".join(conds), params

    def answer(self, req: Request) -> list[tuple]:
        where, params = self._where(req.flt)
        if req.endpoint == "statistics":
            return self._q(
                "SELECT category, count(*), count(CASE WHEN status_code >= 400 THEN 1 END), "
                "count(DISTINCT ip), coalesce(sum(response_size_bytes), 0), "
                "coalesce(CAST(floor(avg(CASE WHEN response_time_ms > 0 "
                "THEN response_time_ms END) + 0.5) AS BIGINT), 0) "
                f"FROM facts WHERE {where} GROUP BY category ORDER BY category", params)
        if req.endpoint == "top_urls":
            return self._q(
                "SELECT url, domain, count(*) AS c, CAST(floor(sum(response_time_ms) / "
                "count(*) + 0.5) AS BIGINT), sum(response_size_bytes), max(epoch_us) "
                f"FROM facts WHERE {where} AND url IS NOT NULL AND url <> '-' "
                "GROUP BY url, domain ORDER BY c DESC, url ASC LIMIT ?", params + [req.k])
        if req.endpoint == "top_users":
            return self._q(
                "SELECT username, min(ip), count(*) AS c, count(DISTINCT ip), "
                "CAST(floor(sum(response_time_ms) / count(*) + 0.5) AS BIGINT), "
                "sum(response_size_bytes), min(epoch_us), max(epoch_us) "
                f"FROM facts WHERE {where} AND username IS NOT NULL AND username <> '-' "
                "GROUP BY username ORDER BY c DESC, username ASC LIMIT ?", params + [req.k])
        if req.endpoint in ("logs", "logs_after"):
            if req.cursor is not None:
                where += " AND (epoch_us < ? OR (epoch_us = ? AND doc_id > ?))"
                params += [req.cursor[0], req.cursor[0], req.cursor[1]]
            offset = (req.page - 1) * PAGE_SIZE if req.page else 0
            return self._q(
                f"SELECT {', '.join(PAGE_COLS)} FROM facts WHERE {where} "
                "ORDER BY epoch_us DESC, doc_id ASC LIMIT ? OFFSET ?",
                params + [PAGE_SIZE, offset])
        if req.endpoint == "statuses":
            return self._q("SELECT DISTINCT status_code FROM facts WHERE status_code IS NOT "
                           "NULL AND status_code > 0 ORDER BY 1")
        if req.endpoint == "actions":
            return self._q("SELECT DISTINCT action FROM facts WHERE action IS NOT NULL "
                           "AND action <> '-' ORDER BY 1")
        raise ValueError(req.endpoint)

    def page_cursor(self, page: int) -> tuple | None:
        """(epoch_us, doc_id) of the last row of unfiltered ``page``: where
        a keyset request for the next page resumes."""
        rows = self._q(
            "SELECT epoch_us, doc_id FROM facts WHERE valid = 1 "
            "ORDER BY epoch_us DESC, doc_id ASC LIMIT 1 OFFSET ?",
            [page * PAGE_SIZE - 1])
        return rows[0] if rows else None

    def by_frequency(self, col: str) -> list:
        return [r[0] for r in self._q(
            f"SELECT {col} FROM facts WHERE valid = 1 AND {col} IS NOT NULL "
            f"GROUP BY {col} ORDER BY count(*) DESC, {col}")]

    def valid_rows(self) -> int:
        return self._q("SELECT count(*) FROM facts WHERE valid = 1")[0][0]


def _zipf_order(rng: np.random.Generator, n: int, s: float = 1.1) -> list[int]:
    """A random order of ``range(n)`` that draws popular (low) indices
    early: weighted sampling without replacement, weights 1/(i+1)^s."""
    w = 1.0 / np.arange(1, n + 1) ** s
    keys = rng.random(n) ** (1.0 / w)
    return [int(i) for i in np.argsort(-keys)]


# One cycle of the query stream. Four in ten requests repeat an earlier
# one (cache hits); of the six misses, two take the summary fast path,
# two are filtered live aggregations, one is an offset page and one a
# keyset page. Within each kind, endpoints and filter types rotate in a
# fixed order. The mix is therefore the same for every seed; the seed
# draws the filter values, k, pages and which requests repeat. These
# shares are an assumption of this benchmark, not taken from a measured
# request log.
CYCLE = ("summary", "repeat", "live", "offset", "repeat",
         "summary", "repeat", "keyset", "live", "repeat")
FILTER_TYPES = ("username", "status_code", "search", "time")
LIVE_ENDPOINTS = (("statistics", None), ("top_urls", 10), ("top_users", 5))


def _zipf_draws(rng: np.random.Generator, values: list):
    """Endless draws from ``values`` (most popular first): Zipf-weighted
    without replacement, starting over once every value was drawn."""
    while True:
        for i in _zipf_order(rng, len(values)):
            yield values[i]


def request_stream(sql: SinkSQL, seed, length: int, start: int = 0) -> list[Request]:
    """``length`` requests over a loaded sink, from position ``start`` of
    the stream on: kinds, endpoints and filter types rotate on from
    there; repeats draw from this part of the stream only, so ``start``
    must not fall on a repeat. ``seed`` is anything
    ``numpy.random.default_rng`` takes."""
    if CYCLE[start % len(CYCLE)] == "repeat":
        raise ValueError(f"position {start} of the stream is a repeat")
    rng = np.random.default_rng(seed)
    n_pages = max(3, sql.valid_rows() // PAGE_SIZE)
    hours = [f"2024-03-0{1 + h // 24} {h % 24:02d}:00:00" for h in range(72)]
    filters = {
        "username": _zipf_draws(rng, [(("username", u),) for u in sql.by_frequency("username")]),
        "status_code": _zipf_draws(
            rng, [(("status_code", int(s)),) for s in sql.by_frequency("status_code")]),
        "search": _zipf_draws(rng, [(("search", d),) for d in sql.by_frequency("domain")]),
        "time": _zipf_draws(rng, [(("time_from", hours[h]), ("time_to", hours[h + w]))
                                  for h in range(66) for w in (2, 6)]),
    }
    top_urls_k = _zipf_draws(rng, list(range(100, 0, -1)))
    top_users_k = _zipf_draws(rng, list(range(10, 0, -1)))
    pages = _zipf_draws(rng, list(range(2, n_pages)))
    summary_fixed = [Request("summary", ep) for ep in ("statistics", "statuses", "actions")]

    out: list[Request] = []
    cacheable: list[Request] = []
    seen = {kind: start // len(CYCLE) * CYCLE.count(kind)
            + CYCLE[:start % len(CYCLE)].count(kind) for kind in CYCLE}
    for i in range(start, start + length):
        kind = CYCLE[i % len(CYCLE)]
        j = seen[kind]
        seen[kind] += 1
        if kind == "repeat":
            # earlier requests repeat Zipf-wise, the first-issued most
            w = 1.0 / np.arange(1, len(cacheable) + 1) ** 1.1
            out.append(cacheable[rng.choice(len(cacheable), p=w / w.sum())])
            continue
        if kind == "summary":
            if j < len(summary_fixed):
                req = summary_fixed[j]
            elif j % 2:
                req = Request("summary", "top_urls", k=next(top_urls_k))
            else:
                req = Request("summary", "top_users", k=next(top_users_k))
        elif kind == "live":
            endpoint, k = LIVE_ENDPOINTS[j % len(LIVE_ENDPOINTS)]
            ftype = FILTER_TYPES[(j // len(LIVE_ENDPOINTS)) % len(FILTER_TYPES)]
            req = Request("live", endpoint, flt=next(filters[ftype]), k=k)
        elif kind == "offset":
            if j % 2:
                ftype = FILTER_TYPES[(j // 2) % len(FILTER_TYPES)]
                req = Request("offset", "logs", flt=next(filters[ftype]), page=1)
            else:
                req = Request("offset", "logs", page=next(pages))
        else:  # keyset: resume after the last row of a drawn page
            req = Request("keyset", "logs_after", cursor=sql.page_cursor(next(pages) - 1))
        if kind != "keyset":  # the API does not cache keyset pages
            cacheable.append(req)
        out.append(req)
    return out
