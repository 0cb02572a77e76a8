"""Mergeable per-chunk summary states — the published summaries without
a Spark job (SURVEY.md §2.5 C2/C3; the reference computes its default
stats once after each load, ``AggregatedStatsService``).

``chunk_state`` reduces one committed chunk's sink files, read with
pyarrow on the driver ``BATCH_ROWS`` rows at a time, to six small keyed
tables (one parquet table, told apart by ``kind``):

- ``totals``  (category, ip): rows, rows with status >= 400, bytes sum,
  and sum and count of response times > 0 — ``sink_totals``, with an
  exact distinct-ip count;
- ``hist``    (category, status_class, hour), valid rows: count — both
  histograms;
- ``status`` (status_code) and ``action`` (action): presence — the two
  dims;
- ``url``     (url, domain), valid rows with a url: count, response-time
  sum and count, bytes sum, max ``epoch_us`` — ``top_urls``;
- ``user``    (username, ip), valid rows with a username: the same plus
  min ``epoch_us`` — ``top_users``, with an exact distinct-ip count and
  ``min_ip``.

``fold_states`` folds any number of states into one, each kind grouped
on only its own keys: the partial states of a chunk's batches, and the
publish's fold of many chunks. ``merge_states`` turns states into the
seven published tables, each in its live operator's canonical order and
Arrow schema. With ``operators.aggregates`` it shares the status-class
ranges (``classify.STATUS_CLASS_RANGES``) and the hour length; for the
rest the tests hold the two paths equal, edge rows included.

- Hours and status classes follow ``utc_hour_expr`` and
  ``status_class_expr``: floor division (a pre-epoch row buckets to its
  own hour), and a null status is "other".
- Averages are ``floor(sum / count + 0.5)`` in float64, which equals
  Spark's double-sum ``avg`` while sums stay below 2^53.
- A sum over only nulls stays null, as Spark's ``sum`` does.

pyarrow runs with ``use_threads=False``: Spark's ``local[N]`` stays the
one parallelism a run uses. A state's size grows with the distinct
(url, domain) and (username, ip) pairs of its rows, not with the rows;
the driver memory of a build is one batch plus at most ``FOLD_EVERY``
partial states.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from logparser_spark.functions.classify import STATUS_CLASS_LABELS, STATUS_CLASS_RANGES
from logparser_spark.operators.aggregates import SECONDS_PER_HOUR

# the sink columns the summaries read (``tokens`` never is); category
# comes from the partition directory
COLUMNS = [
    "valid", "status_code", "action", "ip", "response_size_bytes",
    "response_time_ms", "time", "epoch_us", "url", "domain", "username",
]

# the hour key of a row without a time. pyarrow 16's hash grouping
# splits equal keys when an integer key column holding nulls is grouped
# together with other keys, so the hour key is never null
NO_HOUR = -1
US_PER_HOUR = SECONDS_PER_HOUR * 1_000_000

# rows read and reduced at a time while building a chunk's state (the
# build's Arrow memory peaked at 94 MB on a 2M-row chunk), and partial
# states held before they are folded into one
BATCH_ROWS = 1 << 18
FOLD_EVERY = 8

STATE_SCHEMA = pa.schema(
    [
        pa.field("kind", pa.string(), nullable=False),
        ("category", pa.string()),
        ("ip", pa.string()),
        ("status_class", pa.string()),
        ("hour", pa.int32()),
        ("status_code", pa.int32()),
        ("action", pa.string()),
        ("url", pa.string()),
        ("domain", pa.string()),
        ("username", pa.string()),
        ("rows", pa.int64()),
        ("errors", pa.int64()),
        ("bytes", pa.int64()),
        ("rt_sum", pa.int64()),
        ("rt_count", pa.int64()),
        ("min_us", pa.int64()),
        ("max_us", pa.int64()),
    ]
)

_I64 = pa.int64()

# the row caps of the published top lists: a list shorter than its cap
# holds every distinct key
K_CAPS = {"top_urls": 100, "top_users": 10}


def _field(name: str, typ: pa.DataType = _I64, nullable: bool = True) -> pa.Field:
    return pa.field(name, typ, nullable=nullable)


# each published table's Arrow schema: its live operator's ``toArrow()``
SCHEMAS = {
    "agg_sink_totals": pa.schema(
        [_field("category", pa.string())]
        + [
            _field(c, nullable=False)
            for c in ("row_count", "error_count", "unique_ips", "bytes_total",
                      "avg_response_time_ms")
        ]
    ),
    "agg_status_hist": pa.schema(
        [
            _field("category", pa.string()),
            _field("status_class", pa.string(), nullable=False),
            _field("row_count", nullable=False),
        ]
    ),
    "agg_hourly_hist": pa.schema(
        [
            _field("category", pa.string()),
            _field("hour", pa.int32(), nullable=False),
            _field("row_count", nullable=False),
        ]
    ),
    "top_urls": pa.schema(
        [
            _field("url", pa.string()),
            _field("domain", pa.string()),
            _field("request_count", nullable=False),
            _field("avg_response_time"),
            _field("total_bytes"),
            _field("last_access_us"),
        ]
    ),
    "top_users": pa.schema(
        [
            _field("username", pa.string()),
            _field("min_ip", pa.string()),
            _field("request_count", nullable=False),
            _field("unique_ips", nullable=False),
            _field("avg_response_time"),
            _field("total_bytes"),
            _field("first_seen_us"),
            _field("last_seen_us"),
        ]
    ),
    "dim_statuses": pa.schema([_field("status_code", pa.int32())]),
    "dim_actions": pa.schema([_field("action", pa.string())]),
}


def _group(t: pa.Table, keys: list[str], aggs: dict[str, tuple]) -> pa.Table:
    """``t`` grouped on ``keys``, with output column ``name`` computed as
    ``aggs[name] = (column, function)`` (column ``[]`` for ``count_all``)."""
    # pyarrow 16 reserves about 2 GB to hash-group an empty table on two
    # or more keys: group one null row instead, and drop its group
    empty = t.num_rows == 0
    if empty:
        t = pa.table([pa.nulls(1, f.type) for f in t.schema],
                     schema=pa.schema([f.with_nullable(True) for f in t.schema]))
    out = t.group_by(keys, use_threads=False).aggregate(list(aggs.values()))
    if empty:
        out = out.slice(0, 0)
    names = {f"{c}_{fn}" if c else fn: name for name, (c, fn) in aggs.items()}
    return out.rename_columns([names.get(c, c) for c in out.column_names])


def _category(path: str) -> str | None:
    """The ``category=<c>`` partition value in ``path`` (null is Hive's
    default partition, as Spark's partition discovery reads it)."""
    for part in path.split(os.sep):
        if part.startswith("category="):
            value = part.split("=", 1)[1]
            return None if value == "__HIVE_DEFAULT_PARTITION__" else value
    raise ValueError(f"{path} lies in no category=<c> partition directory")


def _with_category(batch: pa.RecordBatch, category: str | None) -> pa.Table:
    rows = pa.Table.from_batches([batch])
    return rows.append_column("category", pa.repeat(category, rows.num_rows).cast(pa.string()))


def _status_class(status: pa.ChunkedArray) -> pa.ChunkedArray:
    """The status-class label of each status code (null: "other"), by
    ``classify.STATUS_CLASS_RANGES``."""
    out = pa.repeat(STATUS_CLASS_LABELS["other"], len(status))
    for lo, hi, key in STATUS_CLASS_RANGES:
        hit = pc.greater_equal(status, lo)
        if hi is not None:
            hit = pc.and_(hit, pc.less(status, hi))
        out = pc.if_else(pc.fill_null(hit, False), STATUS_CLASS_LABELS[key], out)
    return out


def _utc_hour(time: pa.ChunkedArray) -> pa.Array:
    """The UTC hour of day of each epoch microsecond, by floor division,
    and ``NO_HOUR`` for a null time."""
    us = pc.cast(pc.cast(time, pa.timestamp("us", "UTC")), _I64)
    hours = np.floor_divide(pc.fill_null(us, 0).to_numpy(), US_PER_HOUR) % 24
    return pc.if_else(pc.is_null(us), NO_HOUR, pa.array(hours.astype(np.int32)))


def _kind(name: str, t: pa.Table) -> pa.Table:
    """``t`` as ``kind`` rows of the state schema."""
    n = t.num_rows
    cols = {"kind": pa.repeat(name, n).cast(pa.string())}
    for f in STATE_SCHEMA:
        if f.name != "kind":
            cols[f.name] = t[f.name].cast(f.type) if f.name in t.column_names else pa.nulls(n, f.type)
    return pa.table(cols, schema=STATE_SCHEMA)


def _not_dash(col: pa.ChunkedArray) -> pa.ChunkedArray:
    return pc.fill_null(pc.not_equal(col, "-"), False)


def _rows_state(t: pa.Table) -> pa.Table:
    """The summary state of the sink rows ``t`` (``COLUMNS`` plus
    category).

    Each kind filters only the columns it groups (a filter copies every
    column it is given), and status codes are classified after grouping,
    on a few hundred rows instead of every row."""
    valid = pc.fill_null(pc.equal(t["valid"], 1), False)

    def rows(mask, *cols: str) -> pa.Table:
        return t.select(list(cols)).filter(mask)

    totals = t.select(["category", "ip", "response_size_bytes"]).append_column(
        "errors", pc.cast(pc.fill_null(pc.greater_equal(t["status_code"], 400), False), _I64)
    ).append_column(
        "rt_pos", pc.if_else(pc.greater(t["response_time_ms"], 0), t["response_time_ms"], None)
    )
    # no integer key may hold a null (see NO_HOUR): a null status is
    # grouped as 0, which classifies as "other" just as null does
    hist = rows(valid, "category", "status_code", "time")
    hist = pa.table({
        "category": hist["category"],
        "status_code": pc.fill_null(hist["status_code"], 0),
        "hour": _utc_hour(hist["time"]),
    })
    hist = _group(hist, ["category", "status_code", "hour"], {"rows": ([], "count_all")})
    hist = hist.append_column("status_class", _status_class(hist["status_code"]))
    measures = {
        "rows": ([], "count_all"),
        "rt_sum": ("response_time_ms", "sum"),
        "rt_count": ("response_time_ms", "count"),
        "bytes": ("response_size_bytes", "sum"),
        "max_us": ("epoch_us", "max"),
    }
    facts = ("response_time_ms", "response_size_bytes", "epoch_us")
    urls = rows(pc.and_(valid, _not_dash(t["url"])), "url", "domain", *facts)
    users = rows(pc.and_(valid, _not_dash(t["username"])), "username", "ip", *facts)
    return pa.concat_tables(
        [
            _kind("totals", _group(totals, ["category", "ip"], {
                "rows": ([], "count_all"),
                "errors": ("errors", "sum"),
                "bytes": ("response_size_bytes", "sum"),
                "rt_sum": ("rt_pos", "sum"),
                "rt_count": ("rt_pos", "count"),
            })),
            _kind("hist", _group(hist, ["category", "status_class", "hour"],
                                 {"rows": ("rows", "sum")})),
            _kind("status", pa.table({"status_code": pc.unique(t["status_code"])})),
            _kind("action", pa.table({"action": pc.unique(t["action"])})),
            _kind("url", _group(urls, ["url", "domain"], measures)),
            _kind("user", _group(users, ["username", "ip"],
                                 {**measures, "min_us": ("epoch_us", "min")})),
        ]
    )


# each kind's keys and how its measures combine across states
_MEASURES = {"rows": "sum", "bytes": "sum", "rt_sum": "sum", "rt_count": "sum"}
_FOLD = {
    "totals": (["category", "ip"], {**_MEASURES, "errors": "sum"}),
    "hist": (["category", "status_class", "hour"], {"rows": "sum"}),
    "status": (["status_code"], {}),
    "action": (["action"], {}),
    "url": (["url", "domain"], {**_MEASURES, "max_us": "max"}),
    "user": (["username", "ip"], {**_MEASURES, "min_us": "min", "max_us": "max"}),
}


def fold_states(states: list[pa.Table]) -> pa.Table:
    """One state equal to ``states`` together: the rows of each kind
    grouped on only that kind's keys (equal keys of different states
    become one row, so counting the ips of the folded (category, ip) or
    (username, ip) rows counts distinct ips). A sum over only nulls
    stays null."""
    state = pa.concat_tables([STATE_SCHEMA.empty_table(), *states])
    return pa.concat_tables(
        [
            _kind(kind, _group(state.filter(pc.equal(state["kind"], kind)), keys,
                               {c: (c, fn) for c, fn in measures.items()}))
            for kind, (keys, measures) in _FOLD.items()
        ]
    )


def chunk_state(files: list[str]) -> pa.Table:
    """The summary state of the sink files ``files`` (one chunk's).

    The files are read ``BATCH_ROWS`` rows at a time; each batch is
    reduced to a partial state, and the partials are folded every
    ``FOLD_EVERY`` batches, so driver memory holds one batch plus the
    partials, however many rows the chunk has."""
    partials, buf, n = [], [], 0
    for f in files:
        category = _category(f)
        for batch in pq.ParquetFile(f).iter_batches(
            batch_size=BATCH_ROWS, columns=COLUMNS, use_threads=False
        ):
            buf.append(_with_category(batch, category))
            n += batch.num_rows
            if n >= BATCH_ROWS:
                partials.append(_rows_state(pa.concat_tables(buf)))
                buf, n = [], 0
                if len(partials) >= FOLD_EVERY:
                    partials = [fold_states(partials)]
    if buf:
        partials.append(_rows_state(pa.concat_tables(buf)))
    if len(partials) == 1:
        return partials[0]
    return fold_states(partials)


def rows_covered(state: pa.Table) -> int:
    """The number of sink rows ``state`` summarises."""
    return pc.sum(state.filter(pc.equal(state["kind"], "totals"))["rows"]).as_py() or 0


def _avg(total: pa.ChunkedArray, count: pa.ChunkedArray) -> pa.ChunkedArray:
    """Java ``Math.round`` of ``total / count`` (null when count is 0)."""
    count = pc.if_else(pc.greater(count, 0), pc.cast(count, pa.float64()), None)
    mean = pc.divide(pc.cast(total, pa.float64()), count)
    return pc.cast(pc.floor(pc.add(mean, 0.5)), _I64)


def _sorted(t: pa.Table, *keys: str | tuple[str, str]) -> pa.Table:
    """``t`` in ``keys`` order (ascending unless given), nulls first."""
    order = [(k, "ascending") if isinstance(k, str) else k for k in keys]
    return t.sort_by(order, null_placement="at_start")


def _top(t: pa.Table, k: int, *keys: str) -> pa.Table:
    """The first ``k`` rows by request count descending, then ``keys``,
    with the average response time of each."""
    t = t.append_column("avg_response_time", _avg(t["rt_sum"], t["rt_count"]))
    return _sorted(t, ("request_count", "descending"), *keys).slice(0, k)


def merge_states(states: list[pa.Table]) -> dict[str, pa.Table]:
    """The seven published summary tables of the chunks whose states
    are ``states``, keyed by published name; the top lists keep their
    ``K_CAPS`` first rows."""
    state = fold_states(states)

    def kind(name: str) -> pa.Table:
        return state.filter(pc.equal(state["kind"], name))

    rt = {"rt_sum": ("rt_sum", "sum"), "rt_count": ("rt_count", "sum")}
    totals = _group(kind("totals"), ["category"], {
        "row_count": ("rows", "sum"),
        "error_count": ("errors", "sum"),
        "unique_ips": ("ip", "count"),
        "bytes": ("bytes", "sum"),
        **rt,
    })
    totals = totals.append_column("bytes_total", pc.fill_null(totals["bytes"], 0)).append_column(
        "avg_response_time_ms", pc.fill_null(_avg(totals["rt_sum"], totals["rt_count"]), 0)
    )

    hist = kind("hist")
    status = _group(hist, ["category", "status_class"], {"row_count": ("rows", "sum")})
    timed = _group(hist.filter(pc.not_equal(hist["hour"], NO_HOUR)), ["category", "hour"],
                   {"rows": ("rows", "sum")})
    counts = dict(zip(zip(timed["category"].to_pylist(), timed["hour"].to_pylist()),
                      timed["rows"].to_pylist()))
    cats = _sorted(pa.table({"category": pc.unique(timed["category"])}), "category")
    cats = cats["category"].to_pylist()
    hourly = pa.table(
        {
            "category": pa.array([c for c in cats for _ in range(24)], pa.string()),
            "hour": [h for _ in cats for h in range(24)],
            "row_count": [counts.get((c, h), 0) for c in cats for h in range(24)],
        }
    )

    statuses = kind("status")["status_code"]
    statuses = statuses.filter(pc.fill_null(pc.greater(statuses, 0), False))
    actions = kind("action")["action"]
    actions = actions.filter(_not_dash(actions))

    urls = kind("url")
    names = {"rows": "request_count", "bytes": "total_bytes", "max_us": "last_access_us"}
    urls = urls.rename_columns([names.get(c, c) for c in urls.column_names])
    users = _group(kind("user"), ["username"], {
        "min_ip": ("ip", "min"),
        "request_count": ("rows", "sum"),
        "unique_ips": ("ip", "count"),
        "total_bytes": ("bytes", "sum"),
        "first_seen_us": ("min_us", "min"),
        "last_seen_us": ("max_us", "max"),
        **rt,
    })
    tables = {
        "agg_sink_totals": _sorted(totals, "category"),
        "agg_status_hist": _sorted(status, "category", "status_class"),
        "agg_hourly_hist": hourly,
        "top_urls": _top(urls, K_CAPS["top_urls"], "url", "domain"),
        "top_users": _top(users, K_CAPS["top_users"], "username"),
        "dim_statuses": pa.table({"status_code": statuses.combine_chunks().sort()}),
        "dim_actions": pa.table({"action": actions.combine_chunks().sort()}),
    }
    return {
        name: t.select(SCHEMAS[name].names).cast(SCHEMAS[name]) for name, t in tables.items()
    }
