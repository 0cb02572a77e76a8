"""Aggregate stage — A1-A13 of SURVEY.md §2.5, computed per sink.

All aggregates are single-pass hash aggregations with map-side partial
aggregation (Spark does partial/final automatically). The only special
handling is skew: group keys dominated by hot values (url/username
under Zipf traffic, category=success) go through an explicit two-phase
salted groupBy (see ``salted_topk``) — partials on (key, salt), final
on key — per the north rule.

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


def sink_totals(df: DataFrame, approx_distinct: bool = False) -> DataFrame:
    """Per-category: A1 count, A2 errors, A3 distinct ip, A6 avg rt
    (rt>0 only), A7 bytes sum — one pass, one shuffle on category.

    ``approx_distinct`` swaps exact COUNT(DISTINCT ip) for HyperLogLog++
    (``approx_count_distinct``, default rsd 5%) — the documented knob
    for 10^12-row scale, where the exact distinct forces a per-category
    ip expansion. Tests pin the exact path; the approx path is asserted
    within tolerance."""
    return df.groupBy("category").agg(*totals_aggs(approx_distinct)).orderBy("category")


def status_hist(df: DataFrame) -> DataFrame:
    """A4: category × status_class counts (valid rows)."""
    return (
        df.filter(F.col("valid") == 1)
        .groupBy("category", status_class_expr(F.col("status_code")).alias("status_class"))
        .agg(F.count(F.lit(1)).alias("row_count"))
        .orderBy("category", "status_class")
    )


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
    return (
        dense.select(
            "category", "m", F.explode(F.sequence(F.lit(0), F.lit(23))).alias("hour")
        )
        .select(
            "category",
            F.col("hour").cast("int").alias("hour"),
            F.coalesce(F.try_element_at("m", F.col("hour")), F.lit(0)).alias(
                "row_count"
            ),
        )
        .orderBy("category", "hour")
    )


def salted_topk(
    df: DataFrame,
    keys: list[str],
    aggs: list[Column],
    merge_aggs: list[Column],
    k: int,
    order_key: str,
    salt_buckets: int = 16,
    salt_src: str = "doc_id",
) -> DataFrame:
    """Two-phase salted groupBy + TakeOrderedAndProject.

    Phase 1 aggregates on (keys..., salt) — hot keys spread over
    ``salt_buckets`` reducers; phase 2 merges partials per key (input
    already tiny: #distinct_keys × salt_buckets). The final
    orderBy+limit compiles to TakeOrderedAndProject (no global sort).
    """
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(salt_src), F.lit(salt_buckets)))
    partial = salted.groupBy(*keys, "_salt").agg(*aggs)
    merged = partial.groupBy(*keys).agg(*merge_aggs)
    return merged.orderBy(F.desc("request_count"), F.asc(order_key)).limit(k)


def top_urls(df: DataFrame, k: int = 100, salted: bool = True) -> DataFrame:
    """A8 with pinned tie-break (count DESC, url ASC)."""
    base = df.filter(
        (F.col("valid") == 1) & F.col("url").isNotNull() & (F.col("url") != "-")
    )
    if not salted:
        return (
            base.groupBy("url", "domain")
            .agg(
                F.count(F.lit(1)).alias("request_count"),
                _round_java(F.avg("response_time_ms")).alias("avg_response_time"),
                F.sum("response_size_bytes").alias("total_bytes"),
                F.max("epoch_us").alias("last_access_us"),
            )
            .orderBy(F.desc("request_count"), F.asc("url"))
            .limit(k)
        )
    aggs = [
        F.count(F.lit(1)).alias("c"),
        F.sum("response_time_ms").alias("rt_sum"),
        F.sum("response_size_bytes").alias("b_sum"),
        F.max("epoch_us").alias("la"),
    ]
    merge = [
        F.sum("c").alias("request_count"),
        _round_java(F.sum("rt_sum") / F.sum("c")).alias("avg_response_time"),
        F.sum("b_sum").alias("total_bytes"),
        F.max("la").alias("last_access_us"),
    ]
    return salted_topk(base, ["url", "domain"], aggs, merge, k, "url")


def top_users(df: DataFrame, k: int = 10, salted: bool = True) -> DataFrame:
    """A9 with pinned tie-break (count DESC, username ASC).

    COUNT(DISTINCT ip) is exact: the salted partial keeps per-salt
    distinct ip sets collapsed via collect_set, merged and de-dup'd in
    the final phase (set sizes are bounded by the fixture's ip pool; at
    true 10^12 scale swap in approx_count_distinct — documented knob).
    """
    base = df.filter(
        (F.col("valid") == 1)
        & F.col("username").isNotNull()
        & (F.col("username") != "-")
    )
    if not salted:
        return (
            base.groupBy("username")
            .agg(
                F.min("ip").alias("min_ip"),
                F.count(F.lit(1)).alias("request_count"),
                F.countDistinct("ip").alias("unique_ips"),
                _round_java(F.avg("response_time_ms")).alias("avg_response_time"),
                F.sum("response_size_bytes").alias("total_bytes"),
                F.min("epoch_us").alias("first_seen_us"),
                F.max("epoch_us").alias("last_seen_us"),
            )
            .orderBy(F.desc("request_count"), F.asc("username"))
            .limit(k)
        )
    aggs = [
        F.min("ip").alias("mi"),
        F.count(F.lit(1)).alias("c"),
        F.collect_set("ip").alias("ips"),
        F.sum("response_time_ms").alias("rt_sum"),
        F.sum("response_size_bytes").alias("b_sum"),
        F.min("epoch_us").alias("fs"),
        F.max("epoch_us").alias("ls"),
    ]
    merge = [
        F.min("mi").alias("min_ip"),
        F.sum("c").alias("request_count"),
        F.size(F.array_distinct(F.flatten(F.collect_list("ips")))).cast("long").alias(
            "unique_ips"
        ),
        _round_java(F.sum("rt_sum") / F.sum("c")).alias("avg_response_time"),
        F.sum("b_sum").alias("total_bytes"),
        F.min("fs").alias("first_seen_us"),
        F.max("ls").alias("last_seen_us"),
    ]
    return salted_topk(base, ["username"], aggs, merge, k, "username")


def distinct_dims(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """A11: dim tables populated from the fact (DatabaseManager.java:460-492).

    log_statuses: DISTINCT status_code WHERE NOT NULL AND > 0;
    log_actions:  DISTINCT action WHERE action != '-'.
    """
    statuses = (
        df.filter(F.col("status_code").isNotNull() & (F.col("status_code") > 0))
        .select("status_code")
        .distinct()
        .orderBy("status_code")
    )
    actions = (
        df.filter(F.col("action").isNotNull() & (F.col("action") != "-"))
        .select("action")
        .distinct()
        .orderBy("action")
    )
    return statuses, actions


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
    nulls first, as the operator's ``orderBy`` sorts):

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
