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

These operators answer filtered requests, the driver queries and the
benchmark's traced probes. The published summaries come instead from
per-chunk states merged with pyarrow (``operators.summary_state``),
which share only the status-class ranges and ``SECONDS_PER_HOUR`` with
the operators here: a differential test on edge rows, split across
chunks and batches, holds the two answers equal.

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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logparser_spark.functions.classify import status_class_expr


def _round_java(c: Column) -> Column:
    """Math.round(double) for positive values: floor(x + 0.5) as long."""
    return F.floor(c + F.lit(0.5)).cast("long")


# the hour bucket's length; ``summary_state`` buckets by it too
SECONDS_PER_HOUR = 3600


def utc_hour_expr() -> Column:
    """The event's UTC hour of day (0-23) — the hour bucketing of
    ``hourly_hist`` (``summary_state`` reproduces it for the publish).

    Epoch arithmetic, NOT F.hour(): hour()/date_format() honor
    spark.sql.session.timeZone, so a consumer with an unpinned session
    would bucket the same row differently than the UTC contract (and
    than data written under a pinned session). Floor-division form (div
    truncates toward zero): a pre-epoch timestamp must bucket to 0..23,
    not a negative slot the dense explode(0..23) would silently drop.
    (The pipeline's own parse only admits unsigned epochs, but the
    operator is generic.)"""
    h = SECONDS_PER_HOUR
    return F.expr(
        f"cast(pmod((unix_timestamp(time) - pmod(unix_timestamp(time), {h}))"
        f" div {h}, 24) as int)"
    )


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

    The exact COUNT(DISTINCT ip) is ``size(collect_set(ip))``, as in
    ``top_users``: it ignores nulls like COUNT(DISTINCT) but needs no
    expand-and-regroup, so the plan keeps one exchange (the partial
    aggregate sends each map task's ip set per category). The cost of
    that form: the final aggregate holds each category's WHOLE distinct
    ip set in one task's heap, unspillable, where countDistinct's
    expand spread the (category, ip) pairs over reducers. At roughly
    100 B per set entry (string + hash-set slot; an estimate, not a
    measurement) a 10^6-ip category needs ~100 MB of one task's
    memory, fine; from ~10^7 distinct ips in one category
    ``approx_distinct`` becomes necessary. It swaps the count for
    HyperLogLog++ (``approx_count_distinct``, default rsd 5%), whose
    state is a fixed few KB per group.
    Tests pin the exact path; the approx path is asserted within
    tolerance."""
    distinct_ips = (
        F.approx_count_distinct("ip")
        if approx_distinct
        else F.size(F.collect_set("ip")).cast("long")
    )
    totals = df.groupBy("category").agg(
        F.count(F.lit(1)).alias("row_count"),
        F.count(F.when(F.col("status_code") >= 400, 1)).alias("error_count"),
        distinct_ips.alias("unique_ips"),
        F.coalesce(F.sum("response_size_bytes"), F.lit(0)).alias("bytes_total"),
        F.coalesce(
            _round_java(F.avg(F.when(F.col("response_time_ms") > 0, F.col("response_time_ms")))),
            F.lit(0),
        ).alias("avg_response_time_ms"),
    )
    return _sorted_small(totals, "category")


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
