"""Aggregate stage — A1-A13 of SURVEY.md §2.5, computed per sink.

All aggregates are single-pass hash aggregations with map-side partial
aggregation, which Spark always plans. That partial aggregate is the
skew handling: a hot key (url/username under Zipf traffic,
category=success) sends at most one partial row per map task to its
reducer, never its raw rows, so no key needs a salt. A test on a
90%-hot url and username pins that bound on the top-K exchange.

The operators add no exchange beyond their aggregates' own. The
bounded results (categories x 24 rows at most) are sorted in one
partition (``_sorted_small``) instead of range-partitioned; the top-K
lists end in TakeOrderedAndProject.

The publish path computes the five vocabulary-bounded summaries in one
GROUPING SETS aggregate (``bounded_summaries`` + ``split_bounded``),
built from the same declarations as the live operators
(``totals_aggs``, ``utc_hour_expr``, ``status_class_expr``), so the
published and live answers cannot drift apart.

Semantics parity (reference):
- totals:       StatisticsService.calculateRealTimeStats (java:75-165)
- status hist:  StatisticsService.java:99-123 (CASE buckets)
- hourly hist:  StatisticsService.java:126-143 (dense int[24])
- top urls:     PrecalculatedTopService.calculateTopUrls (java:102-145)
- top users:    PrecalculatedTopService.calculateTopUsers (java:148-195)
- ROUND(AVG()): Java Math.round == floor(x+0.5) — reproduced exactly
  (Spark's ROUND is HALF_UP which matches for positive averages).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logparser_spark.functions.classify import status_class_expr


def _round_java(c: Column) -> Column:
    """Math.round(double) for positive values: floor(x + 0.5) as long."""
    return F.floor(c + F.lit(0.5)).cast("long")


def utc_hour_expr() -> Column:
    """The event's UTC hour of day (0-23) — the ONE hour bucketing of
    ``hourly_hist`` and of the fused publish (``bounded_summaries``).

    Epoch arithmetic, NOT F.hour(): hour()/date_format() honor
    spark.sql.session.timeZone, so a consumer with an unpinned session
    would bucket the same row differently than the UTC contract (and
    than data written under a pinned session). Floor-division form (div
    truncates toward zero): a pre-epoch timestamp must bucket to 0..23,
    not a negative slot the dense explode(0..23) would silently drop.
    (The pipeline's own parse only admits unsigned epochs, but the
    operator is generic.)"""
    return F.expr(
        "cast(pmod((unix_timestamp(time) - pmod(unix_timestamp(time), 3600))"
        " div 3600, 24) as int)"
    )


def totals_aggs(approx_distinct: bool = False) -> list[Column]:
    """The per-group expressions of ``sink_totals`` — declared once,
    shared by the live operator and the fused publish."""
    distinct_ips = (
        F.approx_count_distinct("ip") if approx_distinct else F.countDistinct("ip")
    )
    return [
        F.count(F.lit(1)).alias("row_count"),
        F.count(F.when(F.col("status_code") >= 400, 1)).alias("error_count"),
        distinct_ips.alias("unique_ips"),
        F.coalesce(F.sum("response_size_bytes"), F.lit(0)).alias("bytes_total"),
        F.coalesce(
            _round_java(F.avg(F.when(F.col("response_time_ms") > 0, F.col("response_time_ms")))),
            F.lit(0),
        ).alias("avg_response_time_ms"),
    ]


def _sorted_small(df: DataFrame, *keys: str) -> DataFrame:
    """``df`` — a bounded aggregate result (at most categories x 24
    rows) — in ``keys`` order, ascending with nulls first, as
    ``orderBy(*keys)`` sorts it, but without ``orderBy``'s range
    partitioning: no boundary-sampling job and no sort exchange. The
    ``coalesce(1)`` sits above the aggregate's exchange, so only that
    final stage runs as one task; the scan and the partial aggregate
    keep their parallelism."""
    return df.coalesce(1).sortWithinPartitions(*keys)


def sink_totals(df: DataFrame, approx_distinct: bool = False) -> DataFrame:
    """Per-category: A1 count, A2 errors, A3 distinct ip, A6 avg rt
    (rt>0 only), A7 bytes sum — one pass, one shuffle on category.

    ``approx_distinct`` swaps exact COUNT(DISTINCT ip) for HyperLogLog++
    (``approx_count_distinct``, default rsd 5%) — the documented knob
    for 10^12-row scale, where the exact distinct forces a per-category
    ip expansion. Tests pin the exact path; the approx path is asserted
    within tolerance."""
    return _sorted_small(df.groupBy("category").agg(*totals_aggs(approx_distinct)), "category")


def status_hist(df: DataFrame) -> DataFrame:
    """A4: category × status_class counts (valid rows)."""
    counts = (
        df.filter(F.col("valid") == 1)
        .groupBy("category", status_class_expr(F.col("status_code")).alias("status_class"))
        .agg(F.count(F.lit(1)).alias("row_count"))
    )
    return _sorted_small(counts, "category", "status_class")


def hourly_hist(df: DataFrame) -> DataFrame:
    """A5: dense 24-slot histogram per category — SINGLE scan.

    The reference densifies app-side into int[24]
    (StatisticsService.java:126-143). A grid-join formulation would
    re-scan the fact to enumerate categories; instead densification
    happens on the (category, hour) aggregate itself: collapse each
    category's sparse counts into a map, then explode hours 0-23 against
    it. The second groupBy shuffles only #categories x 24 rows."""
    counts = (
        df.filter(F.col("valid") == 1)
        .groupBy("category", utc_hour_expr().alias("hour"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dense = counts.groupBy("category").agg(
        F.map_from_entries(F.collect_list(F.struct("hour", "cnt"))).alias("m")
    )
    slots = dense.select(
        "category", "m", F.explode(F.sequence(F.lit(0), F.lit(23))).alias("hour")
    ).select(
        "category",
        F.col("hour").cast("int").alias("hour"),
        F.coalesce(F.try_element_at("m", F.col("hour")), F.lit(0)).alias("row_count"),
    )
    return _sorted_small(slots, "category", "hour")


def top_urls(df: DataFrame, k: int = 100) -> DataFrame:
    """A8 with pinned tie-break (count DESC, url ASC): one aggregate,
    then TakeOrderedAndProject (no global sort)."""
    return (
        df.filter((F.col("valid") == 1) & F.col("url").isNotNull() & (F.col("url") != "-"))
        .groupBy("url", "domain")
        .agg(
            F.count(F.lit(1)).alias("request_count"),
            _round_java(F.avg("response_time_ms")).alias("avg_response_time"),
            F.sum("response_size_bytes").alias("total_bytes"),
            F.max("epoch_us").alias("last_access_us"),
        )
        .orderBy(F.desc("request_count"), F.asc("url"))
        .limit(k)
    )


def top_users(df: DataFrame, k: int = 10) -> DataFrame:
    """A9 with pinned tie-break (count DESC, username ASC): one
    aggregate, then TakeOrderedAndProject.

    COUNT(DISTINCT ip) is exact and, like it, ignores nulls:
    ``size(collect_set(ip))``. Unlike ``countDistinct`` it needs no
    expand-and-regroup, so the plan keeps one exchange; the partial
    aggregate sends each map task's IP set per user, not its rows (set
    sizes are bounded by the ip pool; at true 10^12 scale swap in
    approx_count_distinct)."""
    return (
        df.filter(
            (F.col("valid") == 1)
            & F.col("username").isNotNull()
            & (F.col("username") != "-")
        )
        .groupBy("username")
        .agg(
            F.min("ip").alias("min_ip"),
            F.count(F.lit(1)).alias("request_count"),
            F.size(F.collect_set("ip")).cast("long").alias("unique_ips"),
            _round_java(F.avg("response_time_ms")).alias("avg_response_time"),
            F.sum("response_size_bytes").alias("total_bytes"),
            F.min("epoch_us").alias("first_seen_us"),
            F.max("epoch_us").alias("last_seen_us"),
        )
        .orderBy(F.desc("request_count"), F.asc("username"))
        .limit(k)
    )


def distinct_dims(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """A11: dim tables populated from the fact (DatabaseManager.java:460-492).

    log_statuses: DISTINCT status_code WHERE NOT NULL AND > 0;
    log_actions:  DISTINCT action WHERE action != '-'.
    """
    statuses = (
        df.filter(F.col("status_code").isNotNull() & (F.col("status_code") > 0))
        .select("status_code")
        .distinct()
    )
    actions = (
        df.filter(F.col("action").isNotNull() & (F.col("action") != "-"))
        .select("action")
        .distinct()
    )
    return _sorted_small(statuses, "status_code"), _sorted_small(actions, "action")


# The summaries whose key sets are bounded by vocabularies — categories,
# status classes, hours, HTTP status codes, Squid actions — each with
# its grouping set in ``bounded_summaries``.
_BOUNDED_KEYS = ("category", "status_class", "hour", "status_code", "action")
_BOUNDED_SETS = {
    "agg_sink_totals": ("category",),
    "agg_status_hist": ("category", "status_class"),
    "agg_hourly_hist": ("category", "hour"),
    "dim_statuses": ("status_code",),
    "dim_actions": ("action",),
}


def _set_id(keys: tuple[str, ...]) -> int:
    """``grouping_id()`` of the set grouped by ``keys``: bit i, counted
    from the most significant, is set when _BOUNDED_KEYS[i] is
    aggregated away."""
    n = len(_BOUNDED_KEYS)
    return sum(1 << (n - 1 - i) for i, k in enumerate(_BOUNDED_KEYS) if k not in keys)


def bounded_summaries(df: DataFrame) -> DataFrame:
    """The five ``_BOUNDED_SETS`` summaries from ONE scan and one
    aggregate: GROUPING SETS over (category), (category, status_class),
    (category, hour), (status_code) and (action), each row tagged with
    its set's ``grouping_id()`` in ``_set``. Every set carries
    ``totals_aggs()`` plus ``valid_count`` (rows with valid = 1), so the
    histograms, which count valid rows only, need no filtered pass of
    their own. The result is a few hundred rows at most: collect it with
    ``toArrow()`` and hand it to ``split_bounded``."""
    keyed = df.withColumns(
        {"status_class": status_class_expr(F.col("status_code")), "hour": utc_hour_expr()}
    )
    return keyed.groupingSets(
        [list(keys) for keys in _BOUNDED_SETS.values()], *_BOUNDED_KEYS
    ).agg(
        F.grouping_id().alias("_set"),
        *totals_aggs(),
        F.count(F.when(F.col("valid") == 1, 1)).alias("valid_count"),
    )


def split_bounded(table: pa.Table) -> dict[str, pa.Table]:
    """``bounded_summaries`` rows, collected, as the five summary tables
    keyed by their published names. Each equals its operator's ``toArrow()``
    — same rows, same Arrow schema, same canonical order (ascending keys,
    nulls first, as the operator sorts):

    - ``agg_sink_totals`` (``sink_totals``): the (category) rows;
    - ``agg_status_hist`` (``status_hist``): groups with valid rows,
      counting those;
    - ``agg_hourly_hist`` (``hourly_hist``): likewise, densified to hours
      0-23 for every category with valid rows;
    - ``dim_statuses`` / ``dim_actions`` (``distinct_dims``): the keys,
      minus a null or <= 0 status code and a null or '-' action."""

    def rows(name: str, *cols: str, valid_only: bool = False) -> pa.Table:
        keys = _BOUNDED_SETS[name]
        keep = pc.equal(table["_set"], _set_id(keys))
        if valid_only:
            keep = pc.and_(keep, pc.greater(table["valid_count"], 0))
        return (
            table.filter(keep)
            .sort_by([(k, "ascending") for k in keys], null_placement="at_start")
            .select([*keys, *cols])
        )

    totals = [c for c in table.column_names if c not in (*_BOUNDED_KEYS, "_set", "valid_count")]
    status = rows("agg_status_hist", "valid_count", valid_only=True)
    status_schema = pa.schema(
        [
            status.schema.field("category"),
            status.schema.field("status_class").with_nullable(False),
            pa.field("row_count", pa.int64(), nullable=False),
        ]
    )
    hourly = rows("agg_hourly_hist", "valid_count", valid_only=True)
    hourly_schema = pa.schema(
        [
            hourly.schema.field("category"),
            hourly.schema.field("hour").with_nullable(False),
            pa.field("row_count", pa.int64(), nullable=False),
        ]
    )
    counts = dict(
        zip(
            zip(hourly["category"].to_pylist(), hourly["hour"].to_pylist()),
            hourly["valid_count"].to_pylist(),
        )
    )
    cats = pc.unique(hourly["category"]).to_pylist()  # sorted: first-seen order
    hours = range(24)
    statuses = rows("dim_statuses")
    actions = rows("dim_actions")
    return {
        "agg_sink_totals": rows("agg_sink_totals", *totals),
        "agg_status_hist": status.rename_columns(status_schema.names).cast(status_schema),
        "agg_hourly_hist": pa.table(
            [
                [c for c in cats for _ in hours],
                [h for _ in cats for h in hours],
                [counts.get((c, h), 0) for c in cats for h in hours],
            ],
            schema=hourly_schema,
        ),
        "dim_statuses": statuses.filter(pc.greater(statuses["status_code"], 0)),
        "dim_actions": actions.filter(pc.not_equal(actions["action"], "-")),
    }


def daily_rollup(df: DataFrame) -> DataFrame:
    """A12: the declared matview GROUP BY username, status_code, day
    (schema.sql:40-47)."""
    # UTC midnight via epoch arithmetic (date_trunc honors the session
    # timezone — see utc_hour_expr); floor-division form so pre-epoch
    # rows round DOWN to their own day, not up toward 1970-01-01
    utc_day = F.timestamp_seconds(
        F.expr("unix_timestamp(time) - pmod(unix_timestamp(time), 86400)")
    )
    return (
        df.filter(F.col("valid") == 1)
        .groupBy(
            "username",
            "status_code",
            utc_day.alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("request_count"))
    )


def dataset_period(df: DataFrame) -> DataFrame:
    """A10: MIN/MAX(time) (AggregatedStatsService.java:246-255)."""
    return df.filter(F.col("valid") == 1).agg(
        F.min("epoch_us").alias("min_time_us"), F.max("epoch_us").alias("max_time_us")
    )
