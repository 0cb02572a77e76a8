"""Driver-contract queries: one Spark builder + one DuckDB oracle SQL
per implemented operator (SURVEY.md §2).

The pipeline-family queries derive a deterministic Squid log line from
the driver's ``events`` table (see linegen.py — the identical SQL
template runs in both engines), then the Spark side round-trips the
line through the token encoding (array<int> code points, built with
JVM ``transform(split(...), ascii)``) and the vectorized parse UDF,
while the DuckDB side parses the same line with regexp_extract. Every
compared column is integer/string-typed (timestamps exported as epoch
values, ratios as fixed-point) so value hashes are engine-portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logparser_spark.functions.classify import category_expr
from logparser_spark.functions.parse import with_parsed
from logparser_spark.linegen import duckdb_parsed_cte, line_expr_duckdb, line_expr_spark
from logparser_spark.operators import aggregates as agg
from logparser_spark.operators import packing, tokenstats
from logparser_spark.operators.util import spread
from logparser_spark.operators.sessionize import sessionize_oracle_sql

# ---------------------------------------------------------------------
# shared builders
# ---------------------------------------------------------------------


def events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): the sf* test tables are single small parquet files ->
    # one scan partition, which would serialize the CPU-heavy parse
    # head onto one core. At real scale inputs have thousands of
    # splits and spread() is a no-op (see operators/util.py).
    return spread(spark.read.parquet(f"{sf_dir}/events.parquet"))


def documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def routed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> line -> tokens -> parse UDF -> category. The full
    pipeline head, with event_id standing in for doc_id."""
    return derive_routed(events(spark, sf_dir))


def derive_routed(ev: DataFrame) -> DataFrame:
    """The batch/stream-shared derivation (a streaming frame composes
    through the same stages verbatim — the point of declaring them as
    DataFrame -> DataFrame transforms)."""
    df = ev.select(
        "event_id",
        F.col("event_type").alias("source"),
        F.expr(line_expr_spark()).alias("line"),
    )
    df = df.withColumn(
        "tokens", F.transform(F.split("line", ""), lambda c: F.ascii(c))
    ).drop("line")
    df = df.withColumn("doc_id", F.col("event_id").cast("string"))
    parsed = with_parsed(df)
    return parsed.withColumn(
        "category",
        category_expr(
            F.col("valid"), F.coalesce(F.col("action"), F.lit("")), F.col("status_code")
        ),
    )


def tokenized_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> line -> tokens only (no parse): the input shape of the
    token-payload operators — (doc_id, source, tokens:array<int>)."""
    df = events(spark, sf_dir).select(
        F.col("event_id").alias("doc_id"),
        F.col("event_type").alias("source"),
        F.expr(line_expr_spark()).alias("line"),
    )
    return df.withColumn(
        "tokens", F.transform(F.split("line", ""), lambda c: F.ascii(c))
    ).drop("line")


# ---------------------------------------------------------------------
# pipeline-family queries (events table)
# ---------------------------------------------------------------------


def q_parsed_rows(spark, sf_dir):
    """Row-grain parse + route output — the strongest equality check
    (P1-P8, P6 routing)."""
    return routed_events(spark, sf_dir).select(
        "event_id",
        "category",
        "reject_reason",
        "ip",
        "username",
        "url",
        "domain",
        "status_code",
        "response_time_ms",
        "response_size_bytes",
        "action",
        "epoch_us",
    )


def q_route_counts(spark, sf_dir):
    return (
        routed_events(spark, sf_dir)
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("row_count"))
        .orderBy("category")
    )


def q_sink_totals(spark, sf_dir):
    """A1-A8/P8 per-sink totals, computed from the routed SINKS after a
    real two-chunk load + the post-load compaction pass — so the
    driver's value hash pins compaction result-equality (reference
    analog: index-rebuild-after-load, LogFileParser.java:727-821) in
    the hard per-round signal, not only in tests/test_compact.py.

    The load writes the routed rows as two manifest-committed chunks
    (each chunk's write tasks leave a file in every (category, month)
    dir they hold, so a dir shared by both chunks has two or more),
    compaction bin-packs every dir back to one file and commits its
    rewrite record, and the aggregate reads the compacted
    sink — value-equal to aggregating the in-flight frame, which is
    exactly what the DuckDB oracle computes. ``time`` is coarsened to
    month-start for the temp sink's partition key only (sink_totals
    reads no time column): the compaction protocol is
    partition-count-agnostic and one rewrite job per (category, day)
    dir at 31 days would dominate this query's latency with pure
    job-submit overhead at test scale."""
    import hashlib
    import shutil

    from logparser_spark.plans.checkpoint import Manifest
    from logparser_spark.sources.compact import compact_sinks
    from logparser_spark.sources.sinks import MultiSinkWriter, read_sink

    # cleanup is deliberately START-of-run, not post-aggregate: the
    # returned DataFrame reads the compacted sink LAZILY, so the files
    # must survive until the driver materializes it — the per-sf_dir
    # path caps residue at one sink tree per fixture between runs
    out_root = f"/tmp/driver_sink_totals_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    shutil.rmtree(out_root, ignore_errors=True)
    routed = routed_events(spark, sf_dir).withColumn(
        "time", F.date_trunc("month", F.col("time"))
    )
    writer = MultiSinkWriter(out_root)
    manifest = Manifest(out_root)
    for i in (0, 1):
        chunk_id = f"chunk-{i:05d}"
        writer.write_chunk(routed.where(F.col("event_id") % 2 == i), chunk_id)
        rows, cats = writer.exact_chunk_counts(chunk_id)
        manifest.commit_chunk(
            {"chunk_id": chunk_id, "rows": rows, "rows_per_category": cats}
        )
    summary = compact_sinks(spark, out_root)
    if summary["partitions_rewritten"] == 0:
        raise RuntimeError(
            "sink_totals compaction pass rewrote nothing — the "
            "compaction check was never exercised"
        )
    if summary["chunk_id"] not in Manifest(out_root).completed_chunks():
        raise RuntimeError("compaction record missing from manifest")
    return agg.sink_totals(read_sink(spark, out_root))


def q_top_urls(spark, sf_dir):
    return agg.top_urls(routed_events(spark, sf_dir), k=100)


def q_top_users(spark, sf_dir):
    return agg.top_users(routed_events(spark, sf_dir), k=10)


def q_dims(spark, sf_dir):
    """F7/A11 both dim vocabularies (statuses + actions) under one
    driver row: the two distinct-scans union with a kind tag. Same cost
    as the two separate queries (each branch is its own scan+distinct);
    merged so every SURVEY op fits the driver's 50-row sweep."""
    s, a = agg.distinct_dims(routed_events(spark, sf_dir))
    return s.select(
        F.lit("status").alias("kind"), F.col("status_code").cast("string").alias("value")
    ).unionByName(
        a.select(F.lit("action").alias("kind"), F.col("action").alias("value"))
    )


def q_histograms(spark, sf_dir):
    """A4 (status-class) + A5 (dense hourly) histograms under one
    driver row, union-tagged by kind; bucket is stringly-typed so both
    branches share a schema. Each branch keeps its own single-scan
    plan (the hourly densify is plan-asserted in tests)."""
    sh = agg.status_hist(routed_events(spark, sf_dir))
    hh = agg.hourly_hist(routed_events(spark, sf_dir))
    return sh.select(
        F.lit("status").alias("kind"),
        "category",
        F.col("status_class").alias("bucket"),
        "row_count",
    ).unionByName(
        hh.select(
            F.lit("hour").alias("kind"),
            "category",
            F.col("hour").cast("int").cast("string").alias("bucket"),
            "row_count",
        )
    )


def q_daily_rollup(spark, sf_dir):
    df = routed_events(spark, sf_dir)
    return (
        df.filter(F.col("valid") == 1)
        .groupBy(
            "username",
            "status_code",
            F.date_format("time", "yyyy-MM-dd").alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("request_count"))
        .orderBy("username", "status_code", "day")
    )


# page filter bounds: second half of Jan 2024 (events span the month)
_PAGE_LO = 1705276800_000000  # 2024-01-15 00:00:00 UTC in epoch_us
_PAGE_HI = 1706054400_000000  # 2024-01-24 00:00:00 UTC


def q_page_query(spark, sf_dir):
    """O1 + F1/F2: dynamic conjunctive filter, ORDER BY time DESC with
    pinned tie-break, LIMIT/OFFSET pagination."""
    df = routed_events(spark, sf_dir)
    return (
        df.filter(
            (F.col("valid") == 1)
            & (F.col("epoch_us") >= _PAGE_LO)
            & (F.col("epoch_us") <= _PAGE_HI)
            & (F.col("action") == "TCP_MISS")
        )
        .select("event_id", "epoch_us", "ip", "username", "url", "status_code")
        .orderBy(F.desc("epoch_us"), F.asc("event_id"))
        .offset(100)
        .limit(50)
    )


# keyset cursor: resume strictly after this (epoch_us, event_id) in
# (epoch_us DESC, event_id ASC) order — scale-independent constants
_AFTER_T = 1705708800_000000  # 2024-01-20 00:00:00 UTC
_AFTER_ID = 500


def q_page_after(spark, sf_dir):
    """O1 keyset variant: the tuple predicate replaces OFFSET, so page
    depth never grows the scan (the offset form sorts the full prefix —
    SURVEY §2.6 names this exact upgrade). Predicate pushes to the
    scan; result is one top-k, equality with offset paging pinned in
    tests/test_api.py."""
    df = routed_events(spark, sf_dir)
    after = (F.col("epoch_us") < _AFTER_T) | (
        (F.col("epoch_us") == _AFTER_T) & (F.col("event_id") > _AFTER_ID)
    )
    return (
        df.filter(
            (F.col("valid") == 1)
            & (F.col("epoch_us") >= _PAGE_LO)
            & (F.col("epoch_us") <= _PAGE_HI)
            & (F.col("action") == "TCP_MISS")
            & after
        )
        .select("event_id", "epoch_us", "ip", "username", "url", "status_code")
        .orderBy(F.desc("epoch_us"), F.asc("event_id"))
        .limit(50)
    )


def q_dataset_period(spark, sf_dir):
    return agg.dataset_period(routed_events(spark, sf_dir))


def _driver_dims():
    """Dims for the driver-contract enrichment query (J1/J2).

    ``dim_action``/``dim_ip_class`` come straight from fixtures.dim_tables
    (their keys appear in the derived log lines); ``dim_source`` is keyed on
    the events table's five event_type values plus one absent key, since the
    fixture dim's proxy-NN keys never occur in the driver data. The oracle
    inlines these same frames as VALUES CTEs via _values_cte, so Spark and
    DuckDB enrich against byte-identical lookup tables by construction.
    """
    import pandas as pd

    from logparser_spark.fixtures import dim_tables

    dims = dim_tables()
    kinds = ["click", "error", "purchase", "signup", "view", "stream"]
    dims["dim_source"] = pd.DataFrame(
        {
            "source": kinds,  # 'stream' absent from fact
            "site": [f"site-{i % 3}" for i in range(len(kinds))],
            "tier": ["edge" if i % 2 == 0 else "core" for i in range(len(kinds))],
        }
    )
    return dims


def _values_cte(name: str, pdf, cols: list[str]) -> str:
    """Render a pandas frame as a DuckDB `name(cols) AS (VALUES ...)` CTE."""

    def lit(v):
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(int(v))

    rows = ", ".join(
        "(" + ", ".join(lit(r[c]) for c in cols) + ")" for _, r in pdf.iterrows()
    )
    return f"{name}({', '.join(cols)}) AS (VALUES {rows})"


def q_enriched_rows(spark, sf_dir):
    """J1/J2: broadcast dim→fact left joins with null-key defaults.

    Reference analog: ParsingController.java:383-387 (dim→fact join),
    DatabaseManager.java:460-492 (dim population/enrichment vocabularies).
    Invalid rows carry NULL action/ip → coalesced OTHER/'external';
    every valid row hits dim_source and dim_ip_class.
    """
    from logparser_spark.operators.enrich import enrich

    dims = {
        name: spark.createDataFrame(pdf) for name, pdf in _driver_dims().items()
    }
    df = enrich(routed_events(spark, sf_dir), dims)
    return df.select(
        "event_id",
        "category",
        "action",
        "action_family",
        "site",
        "tier",
        "ip_class",
    )


def _enriched_rows_oracle() -> str:
    dims = _driver_dims()
    return (
        _cte()
        + ", "
        + _values_cte("dim_action", dims["dim_action"], ["action", "action_family"])
        + ", "
        + _values_cte("dim_source", dims["dim_source"], ["source", "site", "tier"])
        + ", "
        + _values_cte("dim_ip_class", dims["dim_ip_class"], ["ip_prefix", "ip_class"])
        + """
SELECT p.event_id, p.category, p.action,
       COALESCE(a.action_family, 'OTHER') AS action_family,
       s.site, s.tier,
       COALESCE(i.ip_class, 'external') AS ip_class
FROM parsed p
LEFT JOIN dim_action a ON p.action = a.action
LEFT JOIN dim_source s ON p.source = s.source
LEFT JOIN dim_ip_class i
  ON (split_part(p.ip, '.', 1) || '.' || split_part(p.ip, '.', 2)) = i.ip_prefix"""
    )


def q_keep_latest(spark, sf_dir):
    """O7: keep-latest-per-key (the library operator, not a reimpl)."""
    from logparser_spark.operators.dedup import keep_latest

    df = routed_events(spark, sf_dir).filter(F.col("valid") == 1)
    return (
        keep_latest(df, ["username"], "epoch_us", "event_id")
        .select("username", "event_id", "epoch_us")
        .orderBy("username")
    )


def q_json_roundtrip(spark, sf_dir):
    """P14: JSON encode/decode at the edge (to_json(struct) ->
    from_json), value-checked by recovering the original columns — the
    serialization itself is engine-specific, the round-trip is not."""
    df = routed_events(spark, sf_dir).filter(F.col("valid") == 1).select(
        "event_id", "ip", "username", "url", "status_code", "response_size_bytes"
    )
    j = df.select(F.to_json(F.struct(*df.columns)).alias("json"))
    back = j.select(F.from_json("json", df.schema).alias("r")).select("r.*")
    return back.orderBy("event_id")


def q_upsert_replace(spark, sf_dir):
    """O5/O6 under the contract: per-username daily request counts where
    a later-half-of-month load REPLACES the first-half row on conflict
    (keep-latest by version). Deterministic, SQL-expressible."""
    from logparser_spark.operators.upsert import upsert_replace

    df = routed_events(spark, sf_dir).filter(F.col("valid") == 1)
    counts = df.groupBy("username").agg(
        F.count(F.lit(1)).alias("request_count"),
        F.max("epoch_us").alias("version"),
    )
    first = df.filter(F.col("epoch_us") < _PAGE_LO).groupBy("username").agg(
        F.count(F.lit(1)).alias("request_count"),
        F.max("epoch_us").alias("version"),
    )
    merged = upsert_replace(first, counts, keys=["username"], version_col="version")
    return merged.orderBy("username")


def q_sessions(spark, sf_dir):
    """Sessionization via native session_window (gap = 30 min), checked
    against the gaps-and-islands SQL formulation."""
    from logparser_spark.operators.sessionize import sessionize

    df = routed_events(spark, sf_dir).filter(F.col("valid") == 1)
    return sessionize(df, key="username", time_col="time", gap="30 minutes").orderBy(
        "username", "session_start_us"
    )


def q_stream_hourly(spark, sf_dir):
    """Structured Streaming under the driver contract: the identical
    parse->route lineage over ``readStream`` (availableNow), windowed
    per-category counts in complete mode — deterministic, so it value-
    matches the same batch SQL oracle. Covers SURVEY §2.8."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the file-stream source needs a directory; glob-filter to the one table
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    routed = derive_routed(raw)
    counts = (
        routed.filter(F.col("valid") == 1)
        .groupBy(F.window("time", "1 hour").alias("w"), "category")
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.sum("response_size_bytes").alias("bytes_total"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "category",
            "row_count",
            "bytes_total",
        )
    )
    name = "stream_hourly_result"
    q = (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).orderBy("window_start_us", "category")


# ---------------------------------------------------------------------
# token-payload queries (tokens:array<int32> — the north-rule payload)
# ---------------------------------------------------------------------

_DUP_K = 20  # corpus-dup window length (tokens)
_REP_K = 4  # within-doc repetition window length


def q_dup_span_report(spark, sf_dir):
    """Corpus-duplicate k-window stats + ExactSubstr removal accounting
    + REWRITE witnesses (kept-token sum, md5 of the kept sequence) from
    ONE detection pass (the separate operators each re-run the
    rolling-hash DAG — the most expensive stage of the old sweep pair).
    The witnesses value-check the actual rewrite materialization
    (tokenstats.dup_span_rewrite), not just the interval-union counts.
    Oracle equivalence: one token per code point, so a k-token window
    == a k-char substring."""
    return tokenstats.dup_span_report(
        tokenized_events(spark, sf_dir), k=_DUP_K, rewrite_witness=True
    )


def q_token_repetition(spark, sf_dir):
    """Within-doc repeated-window excess (Gopher repetition gate) —
    row-local, zero-shuffle map stage."""
    return tokenstats.doc_repetition(tokenized_events(spark, sf_dir), k=_REP_K)


def q_token_len_quantiles(spark, sf_dir):
    """Exact p50/p90/p99 of sequence token counts per source via the
    histogram-quantile operator (domain-bounded state, never row-
    buffering)."""
    df = tokenized_events(spark, sf_dir).select(
        "source", F.size("tokens").alias("n_tok")
    )
    return tokenstats.hist_quantiles(df, "n_tok", ["source"])


_SEQ_LEN = 2048  # packing context-window length (tokens)
_CHUNK_LEN = 64  # sliding-chunk window length
_CHUNK_OVERLAP = 16


def q_pack_chunks(spark, sf_dir):
    """BOTH chunking geometries under one driver row, kind-tagged into
    a shared integer schema (the r3 consolidation pattern — frees a
    slot of the driver's 50-row sweep without losing either oracle):

    - ``kind='pack'``: concat-and-chunk packing stats (distributed
      prefix sum over doc offsets; tokens never shuffle; pure
      length(line) projection, no tokenization) —
      (id1=chunk_id, id2=first_doc, n_tokens, v1=n_docs, v2=0).
    - ``kind='slide'``: sliding-window chunking with overlap (HF
      overflow-token semantics; tok_sum is the exact window token-id
      sum) — (id1=doc_id, id2=chunk_idx, n_tokens, v1=off, v2=tok_sum).

    Each branch keeps its own single-scan plan; the union is free."""
    df = events(spark, sf_dir).select(
        F.col("event_id").alias("doc_id"),
        F.length(F.expr(line_expr_spark())).alias("n"),
    )
    pack = packing.pack_chunk_stats(df, seq_len=_SEQ_LEN, len_col="n").select(
        F.lit("pack").alias("kind"),
        F.col("chunk_id").cast("long").alias("id1"),
        F.col("first_doc").cast("long").alias("id2"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_docs").cast("long").alias("v1"),
        F.lit(0).cast("long").alias("v2"),
    )
    slide = packing.chunk_sliding(
        tokenized_events(spark, sf_dir),
        max_len=_CHUNK_LEN,
        overlap=_CHUNK_OVERLAP,
    ).select(
        F.lit("slide").alias("kind"),
        F.col("doc_id").cast("long").alias("id1"),
        F.col("chunk_idx").cast("long").alias("id2"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("off").cast("long").alias("v1"),
        F.col("tok_sum").cast("long").alias("v2"),
    )
    return pack.unionByName(slide)


def q_pack_sequences(spark, sf_dir):
    """Materialized packed context windows (pack_materialize), reduced
    to engine-portable content witnesses per chunk: token count, token
    sum, first/last token. Witness reduction is a vectorized Pandas UDF
    (not an interpreted HOF — see aggregate()'s interpreted-eval cost)."""
    packed = packing.pack_materialize(tokenized_events(spark, sf_dir), _SEQ_LEN)
    return packed.select(
        "chunk_id",
        "n_tokens",
        packing.array_sum_udf()("tokens").alias("tok_sum"),
        F.element_at("tokens", 1).cast("long").alias("first_tok"),
        F.element_at("tokens", -1).cast("long").alias("last_tok"),
    )


def _pack_sequences_oracle() -> str:
    L = _SEQ_LEN
    return (
        _token_lines_cte()
        + f""",
d AS (SELECT doc_id, line, length(line) AS n FROM lines WHERE length(line) > 0),
o AS (SELECT doc_id, line, n, CAST(SUM(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS s FROM d),
ch AS (
  SELECT s + i - 1 AS g, unicode(substr(line, CAST(i AS INT), 1)) AS c
  FROM (SELECT line, n, s, unnest(range(1, n + 1)) AS i FROM o)
)
SELECT CAST(g // {L} AS BIGINT) AS chunk_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(c) AS BIGINT) AS tok_sum,
       CAST(arg_min(c, g) AS BIGINT) AS first_tok,
       CAST(arg_max(c, g) AS BIGINT) AS last_tok
FROM ch GROUP BY 1"""
    )


def q_asof(spark, sf_dir):
    """Point-in-time enrichment: every event picks up the latest
    snapshot (every-101st event, deduped per (key, time)) at or before
    its timestamp — union + ordered carry-forward; oracle is DuckDB's
    native ASOF LEFT JOIN. Runs ``time_bucket="auto"``: the key-skew
    probe picks the single-window plan here (the hottest of the 8
    synthetic keys holds far under a task's worth of rows at test
    scale) and would flip to the skew-safe two-phase bucketed plan the
    moment a key crosses the task-size threshold — the at-scale
    decision the operator now makes itself. Both plans stay
    oracle-identical; the bucketed path is pinned by the 90%-hot-key
    pytest (tests/test_asof.py) and the auto-switch by its own test."""
    from logparser_spark.operators.asof import asof_join

    ev = events(spark, sf_dir)
    t = F.expr("CAST(CAST(ts AS TIMESTAMP) AS LONG)")
    k = (F.col("user_id") % 8).alias("k")
    left = ev.select("event_id", k, t.alias("t"))
    snaps = (
        ev.where(F.col("event_id") % 101 == 0)
        .select(k, t.alias("t"))
        .distinct()
        .withColumn("snap", (F.col("t") * 31 + F.col("k")) % F.lit(1000003))
    )
    return asof_join(left, snaps, ["k"], "t", ["snap"], time_bucket="auto")


def _asof_oracle() -> str:
    return """
WITH l AS (
  SELECT event_id, user_id % 8 AS k, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events
),
r AS (
  SELECT DISTINCT user_id % 8 AS k, CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events WHERE event_id % 101 = 0
),
s AS (SELECT k, t, (t * 31 + k) % 1000003 AS snap FROM r)
SELECT l.event_id, l.k, l.t, s.snap
FROM l ASOF LEFT JOIN s ON l.k = s.k AND l.t >= s.t"""


def q_interval_join(spark, sf_dir):
    """Events inside derived incident windows (every-89th event opens a
    1-7h window): bucketized range join — equi-join on hour buckets +
    exact BETWEEN confirm, never a nested-loop plan."""
    from logparser_spark.operators.asof import range_join

    ev = events(spark, sf_dir)
    t = F.expr("CAST(CAST(ts AS TIMESTAMP) AS LONG)")
    left = ev.select("event_id", t.alias("t"))
    right = (
        ev.where(F.col("event_id") % 89 == 0)
        .select(F.col("event_id").alias("incident_id"), t.alias("lo"))
        .withColumn("hi", F.col("lo") + (F.col("incident_id") % 7 + 1) * 3600)
    )
    return range_join(left, right, "t", "lo", "hi", bucket=3600).select(
        "event_id", "t", "incident_id"
    )


def _interval_join_oracle() -> str:
    return """
WITH l AS (SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
r AS (
  SELECT event_id AS incident_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS lo,
         CAST(floor(epoch(ts)) AS BIGINT) + (event_id % 7 + 1) * 3600 AS hi
  FROM events WHERE event_id % 89 = 0
)
SELECT l.event_id, l.t, r.incident_id
FROM l JOIN r ON l.t BETWEEN r.lo AND r.hi"""


_DECON_K = 20  # decontamination window length (tokens)

# DSIR driver query: target corpus = every 97th sequence (the same
# "small held-out set vs big raw corpus" split decontaminate uses),
# select the k raw sequences most target-like.
_DSIR_K = 200
_DSIR_TARGET_MOD = 97


def q_dsir_select(spark, sf_dir):
    """DSIR importance resampling (arXiv:2302.03169) under the driver
    contract: hashed unigram+bigram features -> target/raw histograms
    -> per-sequence importance weight -> deterministic top-k. Runs the
    integer-ratio scoring mode (``dsir_select_int``) whose fixed-point
    weights a DuckDB HUGEINT oracle reproduces bit-for-bit — the
    distributed plan (two feature-domain-bounded shuffles + pure-map
    scoring) is identical to the log-weight default, which stays
    differential-pytest-pinned (floats aren't cross-engine hashable)."""
    from logparser_spark.operators import dsir

    toks = tokenized_events(spark, sf_dir)
    target = toks.where(F.col("doc_id") % _DSIR_TARGET_MOD == 0)
    raw = toks.where(F.col("doc_id") % _DSIR_TARGET_MOD != 0)
    return dsir.dsir_select_int(raw, target, k=_DSIR_K)


def _dsir_oracle() -> str:
    """DuckDB twin of q_dsir_select: the numpy uint64 featurization
    (splitmix-style avalanche, dsir._bucket_ids) re-expressed in
    HUGEINT arithmetic — mulmod-by-split for the 64-bit wraparound
    multiplies, a signed-BIGINT two's-complement detour for xor, plain
    ``//`` for logical right shifts. Each CTE step adds one column so
    no sub-expression is ever duplicated."""
    from logparser_spark.operators.dsir import (
        DSIR_BUCKETS,
        DSIR_RATIO_SCALE,
        _MIX1,
        _MIX2,
    )

    B, SCALE = DSIR_BUCKETS, DSIR_RATIO_SCALE
    M1, M2 = int(_MIX1), int(_MIX2)
    T64, T63, T32 = 1 << 64, 1 << 63, 1 << 32
    mod = _DSIR_TARGET_MOD
    alpha = 1

    def to_signed(col: str) -> str:
        return f"CAST({col} - CASE WHEN {col} >= {T63} THEN {T64} ELSE 0 END AS BIGINT)"

    def to_unsigned(col: str) -> str:
        return f"CAST({col} AS HUGEINT) + CASE WHEN {col} < 0 THEN {T64} ELSE 0 END"

    def mulmod(col: str, m: int) -> str:
        # (col * m) mod 2^64 with col < 2^64: split col into 32-bit
        # halves so every HUGEINT product stays below 2^127
        return (
            f"(({col} % {T32}) * {m} + ((({col} // {T32}) * {m}) % {T32}) * {T32}) % {T64}"
        )

    return (
        _token_lines_cte()
        + f""",
chars AS (
  SELECT doc_id, i, CAST(unicode(substr(line, CAST(i AS INT), 1)) AS HUGEINT) AS c
  FROM (SELECT doc_id, line, unnest(range(1, length(line) + 1)) AS i FROM lines)
),
pairs_b AS (
  SELECT doc_id, c AS c1, LEAD(c) OVER (PARTITION BY doc_id ORDER BY i) AS c2
  FROM chars
),
u1 AS (SELECT doc_id, (c * {M1}) % {T64} AS h FROM chars),
u2 AS (SELECT doc_id, xor({to_signed('h')}, {to_signed(f'(h // {1 << 29})')}) AS hs FROM u1),
u3 AS (SELECT doc_id, {to_unsigned('hs')} AS h FROM u2),
u4 AS (SELECT doc_id, {mulmod('h', M2)} AS h FROM u3),
u5 AS (SELECT doc_id, xor({to_signed('h')}, {to_signed(f'(h // {T32})')}) AS hs FROM u4),
u6 AS (SELECT doc_id, {to_unsigned('hs')} AS h FROM u5),
b1 AS (SELECT doc_id, (c1 * {M1}) % {T64} AS ha, (c2 * {M2}) % {T64} AS hb
       FROM pairs_b WHERE c2 IS NOT NULL),
b2 AS (SELECT doc_id, xor({to_signed('ha')}, {to_signed('hb')}) AS hs FROM b1),
b3 AS (SELECT doc_id, {to_unsigned('hs')} AS h FROM b2),
b4 AS (SELECT doc_id, xor({to_signed('h')}, {to_signed(f'(h // {1 << 29})')}) AS hs FROM b3),
b5 AS (SELECT doc_id, {to_unsigned('hs')} AS h FROM b4),
b6 AS (SELECT doc_id, {mulmod('h', M1)} AS h FROM b5),
b7 AS (SELECT doc_id, xor({to_signed('h')}, {to_signed(f'(h // {T32})')}) AS hs FROM b6),
b8 AS (SELECT doc_id, {to_unsigned('hs')} AS h FROM b7),
feats AS (
  SELECT doc_id, h % {B} AS b FROM u6
  UNION ALL
  SELECT doc_id, h % {B} AS b FROM b8
),
cnt AS (SELECT doc_id, b, COUNT(*) AS c FROM feats GROUP BY 1, 2),
tp AS (SELECT b, SUM(c) AS p FROM cnt WHERE doc_id % {mod} = 0 GROUP BY b),
rq AS (SELECT b, SUM(c) AS q FROM cnt WHERE doc_id % {mod} <> 0 GROUP BY b),
tot AS (SELECT
  (SELECT COALESCE(SUM(p), 0) FROM tp) + {alpha * B} AS ps,
  (SELECT COALESCE(SUM(q), 0) FROM rq) + {alpha * B} AS qs),
sc AS (
  SELECT cnt.doc_id,
         SUM(cnt.c) AS n_feat,
         SUM(CAST(cnt.c AS HUGEINT) *
             ((CAST({SCALE} AS HUGEINT) * (COALESCE(tp.p, 0) + {alpha}) * tot.qs)
              // ((COALESCE(rq.q, 0) + {alpha}) * tot.ps))) AS w
  FROM cnt LEFT JOIN tp USING (b) LEFT JOIN rq USING (b) CROSS JOIN tot
  WHERE cnt.doc_id % {mod} <> 0
  GROUP BY cnt.doc_id
)
SELECT doc_id, CAST(n_feat AS BIGINT) AS n_feat, CAST(w AS BIGINT) AS dsir_w
FROM (SELECT *, row_number() OVER (ORDER BY w DESC, doc_id) AS rn FROM sc)
WHERE rn <= {_DSIR_K}"""
    )


# url_canonical: deterministic URL spelling variants (fragment, scheme
# case, query-param order) over a bounded URL population, derived from
# events by the SAME SQL in both engines so the inputs are
# byte-identical by construction. The base-URL residues (mod 30 / 11)
# and the variant selector ((event_id % 7) % 5) are coprime, so every
# base accumulates several distinct spellings — unlike the parsed log
# url, whose site/path residues fix event_id mod 1000 and therefore
# pin the %5 variant (one spelling per URL = nothing for the dedup to
# find). The scheme-less host:port branch covers the CONNECT-target
# form the canonicalizer must not mangle.
_URL_SPELL_SQL = """
CASE (event_id % 7) % 5
  WHEN 0 THEN u
  WHEN 1 THEN u || '#ref'
  WHEN 2 THEN replace(u, 'http://', 'HTTP://')
  WHEN 3 THEN u || '?b=2&a=1'
  ELSE u || '?a=1&b=2'
END""".strip()

_URL_BASE_SQL = """
CASE WHEN event_id % 11 = 0
     THEN 'site-' || CAST(event_id % 10 AS STRING) || '.example.com:443'
     ELSE 'http://site-' || CAST(event_id % 10 AS STRING)
          || '.example.com/p/' || CAST(event_id % 3 AS STRING)
END""".strip()


def q_url_canonical(spark, sf_dir):
    """rfc3986 §6 URL canonicalization + URL-keyed dup groups
    (functions/urlnorm.py) under the driver contract: one row per
    canonical URL spelled more than one way. Zero-shuffle projection +
    one groupBy on the canonical key."""
    from logparser_spark.functions import urlnorm

    spelled = events(spark, sf_dir).select(
        "event_id", F.expr(f"({_URL_BASE_SQL}) AS u")
    ).select(F.expr(_URL_SPELL_SQL).alias("url"))
    return urlnorm.url_dup_groups(spelled, "url")


def _url_canonical_oracle() -> str:
    """DuckDB twin of normalize_url_expr + url_dup_groups: the same
    component grammar (RE2-compatible), the same pass-through guards,
    bytewise param sort via list_sort."""
    from logparser_spark.functions.urlnorm import _C, _DEFAULT_PORTS

    auth_rx = r"^(?:[A-Za-z][A-Za-z0-9+.\-]*://)?([^/?#]*)"
    port_case = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in _DEFAULT_PORTS.items()
    )
    keys = "list_transform(string_split(query, '&'), p -> split_part(p, '=', 1))"
    return (
        f"""
WITH base_u AS (
  SELECT ({_URL_BASE_SQL}) AS u, event_id FROM events
),
spelled AS (
  SELECT {_URL_SPELL_SQL} AS url FROM base_u
),
bare_t AS (SELECT url, regexp_replace(url, '#.*', '') AS bare FROM spelled),
comp AS (
  SELECT url, bare,
    lower(regexp_extract(bare, '{_C}', 1)) AS scheme,
    lower(regexp_extract(bare, '{_C}', 2)) AS host,
    regexp_extract(bare, '{_C}', 3) AS port,
    regexp_extract(bare, '{_C}', 4) AS path,
    regexp_extract(bare, '{_C}', 5) AS query,
    regexp_extract(bare, '{auth_rx}', 1) AS authority
  FROM bare_t
),
norm AS (
  SELECT url,
    CASE WHEN url = '-' OR url = '' OR url IS NULL OR host = ''
         OR starts_with(authority, '[') OR contains(authority, '@')
         OR (path <> '' AND NOT starts_with(path, '/'))
    THEN url
    ELSE
      (CASE WHEN scheme = '' THEN '' ELSE scheme || '://' END)
      || host
      || (CASE WHEN port = '' OR port = COALESCE(CASE scheme {port_case} END, '')
               THEN '' ELSE ':' || port END)
      || (CASE WHEN path = '/' THEN '' ELSE path END)
      || (CASE WHEN query = '' THEN ''
               ELSE '?' || CASE
                 WHEN len(list_distinct({keys})) = len(string_split(query, '&'))
                 THEN array_to_string(list_sort(string_split(query, '&')), '&')
                 ELSE query END
          END)
    END AS url_norm
  FROM comp
)
SELECT url_norm,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_spellings,
       COUNT(*) AS occurrences,
       MIN(url) AS example_raw
FROM norm GROUP BY 1 HAVING COUNT(DISTINCT url) > 1"""
    )


def _bench_filter(df: DataFrame) -> DataFrame:
    """The 'held-out benchmark' stand-in: every 97th sequence. Small by
    construction (~1%), like a real eval suite vs a training corpus."""
    return df.where(F.col("doc_id") % 97 == 0)


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination stats: per training sequence, how many
    of its k-token windows occur in the benchmark window set (broadcast
    semi probe — the corpus side never shuffles its tokens)."""
    toks = tokenized_events(spark, sf_dir)
    return tokenstats.decontaminate_stats(toks, _bench_filter(toks), k=_DECON_K)


def q_token_histogram(spark, sf_dir):
    """Exact corpus unigram table (token, occurrences, docs) via the
    per-batch np.unique fold — shuffle bounded by |vocab|, not corpus
    size."""
    return tokenstats.token_histogram(tokenized_events(spark, sf_dir))


_N_SHARDS = 64


def q_shards(spark, sf_dir):
    """Deterministic corpus shuffle + shard/position assignment (the
    pre-training 'global shuffle into N shard files' step) — two-phase
    distributed rank, narrow projection only."""
    from logparser_spark.operators import sampling

    return sampling.shard_assign(
        events(spark, sf_dir).select(F.col("event_id").alias("doc_id")),
        n_shards=_N_SHARDS,
    )


def _shards_oracle() -> str:
    from logparser_spark.operators.sampling import hex16_decode_sql

    v = hex16_decode_sql("h")  # h = the CTE's precomputed md5 column
    return f"""
WITH b AS (SELECT event_id AS doc_id, md5(CAST(event_id AS VARCHAR)) AS h FROM events),
s AS (SELECT doc_id, h, {v} % {_N_SHARDS} AS shard FROM b)
SELECT doc_id, CAST(shard AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
FROM s"""


def q_rarity(spark, sf_dir):
    """Rare-token density per sequence: global unigram histogram
    (|vocab|-bounded shuffle) broadcast back into a pure-map scoring
    pass — the two-pass corpus-stats quality gate."""
    return tokenstats.rarity_score(tokenized_events(spark, sf_dir))


_LM_SCALE = 10**9
_LM_TRAIN_MOD = 5  # reference slice: doc_id % 5 == 0 (~20% of docs)


def q_lm_score(spark, sf_dir):
    """CCNet-style bigram-LM fluency gate (operators/lmscore.py,
    arXiv:1911.00359): model trained on the ``doc_id % 5 == 0``
    reference slice, every doc scored in integer fixed-point —
    ``(scale*(c(bigram)+1)) // (c(prev)+V)`` per transition, pure
    integer floor division, so the driver row is DuckDB-oracle-exact
    (the float perplexity twin is pytest-differential-pinned).
    Plan: two domain-bounded train aggregates -> one broadcast ->
    zero-shuffle scoring map."""
    from logparser_spark.operators import lmscore

    toks = tokenized_events(spark, sf_dir)
    train = toks.where(F.col("doc_id") % _LM_TRAIN_MOD == 0)
    return lmscore.lm_score(toks, train, scale=_LM_SCALE)


_BPE_MERGES = 24
_BPE_NEW_ID_START = 1 << 20  # far above the byte-ish token domain


def q_bpe(spark, sf_dir):
    """Distributed BPE tokenizer training + full-corpus encode
    (operators/bpe.py, Sennrich et al. 2016, arXiv:1508.07909) as ONE
    driver row: the learned merge-rule table (kind='rule': ordinal,
    left, right, new_id, count) unioned with per-doc encode witnesses
    (kind='doc': piece count, piece sum, last piece, md5 of the full
    piece sequence) from applying that table to the whole corpus.
    Training runs on the ``doc_id % 5 == 0`` slice — the
    train-on-a-sample / encode-everything split that holds at 100 TB
    because ``bpe_apply`` is a zero-shuffle pure map.

    The merge loop is inherently iterative (rule i+1 consumes rule i's
    output ids), so there is no DuckDB oracle; the row is golden-pinned
    at three scales and the trainer is differentially pytest-pinned
    against an independent pure-python BPE model (tests/test_bpe.py)."""
    from logparser_spark.operators import bpe

    toks = tokenized_events(spark, sf_dir)
    train = toks.where(F.col("doc_id") % _LM_TRAIN_MOD == 0)
    merges, _ = bpe.bpe_train(
        train, n_merges=_BPE_MERGES, new_id_start=_BPE_NEW_ID_START
    )
    rules = spark.createDataFrame(
        [(i, le, r, n, c) for i, (le, r, n, c) in enumerate(merges)],
        "id long, a long, b long, n long, cnt long",
    ).select(
        F.lit("rule").alias("kind"),
        "id",
        "a",
        "b",
        "n",
        F.col("cnt").cast("string").alias("h"),
    )
    docs = bpe.bpe_apply(toks, merges).select(
        F.lit("doc").alias("kind"),
        F.col("doc_id").cast("long").alias("id"),
        F.size("tokens").cast("long").alias("a"),
        F.aggregate(
            "tokens", F.lit(0).cast("long"), lambda acc, t: acc + t
        ).alias("b"),
        F.try_element_at("tokens", F.lit(-1)).cast("long").alias("n"),
        F.md5(
            F.concat_ws(",", F.transform("tokens", lambda t: t.cast("string")))
        ).alias("h"),
    )
    return rules.unionByName(docs)


_NOVELTY_SHARDS = 10


def q_novelty(spark, sf_dir):
    """K-gram novelty (diminishing-returns) curve per ingest shard
    (operators/tokenstats.py novelty_curve): how many never-seen k-token
    windows each ordered corpus slice contributes — the dedup-aware
    dataset-sizing diagnostic. One uniform window-hash groupBy carrying
    only min(shard); token payloads cross zero shuffles; output is
    n_shards rows. Same k as dup_span_report (shared kernel)."""
    return tokenstats.novelty_curve(
        tokenized_events(spark, sf_dir), k=_DUP_K, n_shards=_NOVELTY_SHARDS
    )


def _novelty_oracle() -> str:
    n = _NOVELTY_SHARDS
    return (
        _token_wins_cte(_DUP_K)
        + f""",
mx AS (SELECT MAX(doc_id) AS m FROM lines),
sw AS (
  SELECT CAST(LEAST({n - 1}, doc_id * {n} // (mx.m + 1)) AS BIGINT) AS shard, w
  FROM wins CROSS JOIN mx
),
ps AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_positions FROM sw GROUP BY 1),
fs AS (
  SELECT shard, CAST(COUNT(*) AS BIGINT) AS new_windows
  FROM (SELECT w, MIN(shard) AS shard FROM sw GROUP BY 1) GROUP BY 1
)
SELECT p.shard, p.n_positions,
       CAST(COALESCE(f.new_windows, 0) AS BIGINT) AS new_windows,
       CAST(SUM(COALESCE(f.new_windows, 0))
            OVER (ORDER BY p.shard) AS BIGINT) AS cum_new_windows
FROM ps p LEFT JOIN fs f USING (shard)"""
    )


_ALERT_THRESHOLD = 10


def q_stream_alerts(spark, sf_dir):
    """Streaming heavy-hitter threshold alerts
    (streaming/stateful.py streaming_heavy_hitters, Metwally et al.
    2005 space-saving): the parse->route lineage over ``readStream``,
    then a custom stateful operator that alerts ONCE per (category,
    url) the first micro-batch its count reaches the threshold —
    the streaming rate/abuse monitor. Run exact (capacity >> distinct
    urls), so the emitted set is batch-invariant and equals the batch
    SQL "HAVING COUNT(*) >= t" oracle; the sub-capacity sketch mode
    (no false negatives, bounded over-alerts) is pytest-pinned."""
    from logparser_spark.streaming.stateful import streaming_heavy_hitters

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    routed = derive_routed(raw).filter(
        (F.col("valid") == 1)
        & F.col("url").isNotNull()
        & (F.col("url") != "-")
    )
    alerts = streaming_heavy_hitters(
        routed,
        threshold=_ALERT_THRESHOLD,
        capacity=1 << 20,
        group_col="category",
        item_col="url",
    )
    name = "stream_alerts_result"
    q = (
        alerts.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(name)
        .select(F.col("group").alias("category"), F.col("item").alias("url"))
        .orderBy("category", "url")
    )


def _stream_alerts_oracle() -> str:
    return (
        _cte()
        + f"""
SELECT category, url FROM parsed
WHERE valid AND url IS NOT NULL AND url <> '-'
GROUP BY 1, 2
HAVING COUNT(*) >= {_ALERT_THRESHOLD}"""
    )


_COLLOC_MIN_COUNT = 5
_COLLOC_K = 100
_COLLOC_SCALE = 10**6


def q_collocations(spark, sf_dir):
    """Top-100 collocations by fixed-point PMI over the corpus bigram
    table (operators/tokenstats.py collocations, Church & Hanks 1990).
    ONE data-touching job — the packed-bigram mapInPandas fold, shuffle
    bounded by the bigram DOMAIN — then marginals, candidate filter,
    scoring joins, and TakeOrdered all on bounded tables. Integer
    fixed-point ratio (log is monotone), ties pinned, DuckDB-exact."""
    from logparser_spark.operators import tokenstats

    return tokenstats.collocations(
        tokenized_events(spark, sf_dir),
        min_count=_COLLOC_MIN_COUNT,
        k=_COLLOC_K,
        scale=_COLLOC_SCALE,
    )


def _collocations_oracle() -> str:
    return (
        _token_lines_cte()
        + f""",
chars AS (
  SELECT doc_id, unicode(substr(line, CAST(i AS INT), 1)) AS c, i
  FROM (SELECT doc_id, line, unnest(range(1, length(line) + 1)) AS i FROM lines)
),
big AS (
  SELECT x.c AS a, y.c AS b
  FROM chars x JOIN chars y ON x.doc_id = y.doc_id AND y.i = x.i + 1
),
tb AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cab FROM big GROUP BY 1, 2),
tot AS (SELECT SUM(cab) AS n FROM tb),
la AS (SELECT a, SUM(cab) AS ca FROM tb GROUP BY 1),
rb AS (SELECT b, SUM(cab) AS cb FROM tb GROUP BY 1)
SELECT t.a, t.b, t.cab,
       CAST(la.ca AS BIGINT) AS ca, CAST(rb.cb AS BIGINT) AS cb,
       CAST(({_COLLOC_SCALE} * tot.n * t.cab) // (la.ca * rb.cb) AS BIGINT)
         AS pmi_fp
FROM tb t JOIN la USING (a) JOIN rb USING (b) CROSS JOIN tot
WHERE t.cab >= {_COLLOC_MIN_COUNT}
ORDER BY pmi_fp DESC, t.a, t.b
LIMIT {_COLLOC_K}"""
    )


def _lm_score_oracle() -> str:
    return (
        _token_lines_cte()
        + f""",
chars AS (
  SELECT doc_id, unicode(substr(line, CAST(i AS INT), 1)) AS c, i
  FROM (SELECT doc_id, line, unnest(range(1, length(line) + 1)) AS i FROM lines)
),
big AS (
  SELECT a.doc_id, a.c AS prev, b.c AS tok
  FROM chars a JOIN chars b ON a.doc_id = b.doc_id AND b.i = a.i + 1
),
tb AS (SELECT prev, tok, COUNT(*) AS cbg FROM big
       WHERE doc_id % {_LM_TRAIN_MOD} = 0 GROUP BY 1, 2),
tu AS (SELECT prev, SUM(cbg) AS cu FROM tb GROUP BY 1),
v AS (SELECT COUNT(DISTINCT c) AS v FROM chars WHERE doc_id % {_LM_TRAIN_MOD} = 0),
per AS (
  SELECT g.doc_id, COUNT(*) AS n_big,
         SUM(({_LM_SCALE} * (COALESCE(tb.cbg, 0) + 1)) // (COALESCE(tu.cu, 0) + v.v)) AS lm_sum
  FROM big g
  LEFT JOIN tb ON g.prev = tb.prev AND g.tok = tb.tok
  LEFT JOIN tu ON g.prev = tu.prev
  CROSS JOIN v
  GROUP BY 1
)
SELECT l.doc_id,
       CAST(COALESCE(p.n_big, 0) AS BIGINT) AS n_big,
       CAST(COALESCE(p.lm_sum, 0) AS BIGINT) AS lm_sum,
       CAST(COALESCE(p.lm_sum // p.n_big, 0) AS BIGINT) AS lm_mean
FROM lines l LEFT JOIN per p USING (doc_id)"""
    )


def q_redact(spark, sf_dir):
    """PII-style span redaction over the raw log line: per-pattern match
    counts plus md5 of the masked text. Pure narrow map — fuses into the
    scan, nothing shuffles."""
    from logparser_spark.operators import textstats

    df = events(spark, sf_dir).select(
        F.col("event_id").alias("doc_id"),
        F.expr(line_expr_spark()).alias("text"),
    )
    return textstats.redact_pii(df)


def _decontaminate_oracle() -> str:
    t = 0  # threshold_x1000 default: strict any-overlap
    return (
        _token_wins_cte(_DECON_K)
        + f""",
bset AS (SELECT DISTINCT w FROM wins WHERE doc_id % 97 = 0),
per AS (
  SELECT doc_id, COUNT(*) AS n_windows,
         SUM(CASE WHEN b.w IS NOT NULL THEN 1 ELSE 0 END) AS hit_windows
  FROM wins LEFT JOIN bset b USING (w)
  GROUP BY doc_id
)
SELECT l.doc_id,
       CAST(COALESCE(p.n_windows, 0) AS BIGINT) AS n_windows,
       CAST(COALESCE(p.hit_windows, 0) AS BIGINT) AS hit_windows,
       CAST(COALESCE(1000 * p.hit_windows // p.n_windows, 0) AS BIGINT) AS hit_frac_x1000,
       (COALESCE(p.hit_windows, 0) > 0
        AND 1000 * COALESCE(p.hit_windows, 0) >= {t} * p.n_windows) AS contaminated
FROM lines l LEFT JOIN per p USING (doc_id)"""
    )


def _token_histogram_oracle() -> str:
    return (
        _token_lines_cte()
        + """,
chars AS (
  SELECT doc_id, unicode(substr(line, CAST(i AS INT), 1)) AS c
  FROM (SELECT doc_id, line, unnest(range(1, length(line) + 1)) AS i FROM lines)
)
SELECT CAST(c AS INT) AS token,
       CAST(COUNT(*) AS BIGINT) AS occurrences,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docs
FROM chars GROUP BY 1"""
    )


def _rarity_oracle() -> str:
    return (
        _token_lines_cte()
        + """,
chars AS (
  SELECT doc_id, unicode(substr(line, CAST(i AS INT), 1)) AS c
  FROM (SELECT doc_id, line, unnest(range(1, length(line) + 1)) AS i FROM lines)
),
occ AS (SELECT c, COUNT(*) AS occ FROM chars GROUP BY c),
per AS (
  SELECT doc_id, COUNT(*) AS n_tok,
         SUM(1000000 // occ) AS rarity_sum,
         SUM(CASE WHEN occ < 2 THEN 1 ELSE 0 END) AS n_rare
  FROM chars JOIN occ USING (c) GROUP BY doc_id
)
SELECT l.doc_id,
       CAST(COALESCE(p.n_tok, 0) AS BIGINT) AS n_tok,
       CAST(COALESCE(p.rarity_sum, 0) AS BIGINT) AS rarity_sum,
       CAST(COALESCE(p.n_rare, 0) AS BIGINT) AS n_rare
FROM lines l LEFT JOIN per p USING (doc_id)"""
    )


def _redact_oracle() -> str:
    from logparser_spark.operators.textstats import redact_pii_oracle_select

    return (
        _token_lines_cte()
        + f"""
SELECT doc_id, {redact_pii_oracle_select("line")} FROM lines"""
    )


def _pack_chunks_oracle() -> str:
    """Merged oracle of both chunking geometries (kind='pack' |
    'slide'), mirroring q_pack_chunks' shared integer schema."""
    L = _SEQ_LEN
    ml, st = _CHUNK_LEN, _CHUNK_LEN - _CHUNK_OVERLAP
    return (
        _token_lines_cte()
        + f""",
d AS (SELECT doc_id, length(line) AS n FROM lines WHERE length(line) > 0),
o AS (SELECT doc_id, n, CAST(SUM(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS s FROM d),
sp AS (SELECT doc_id, n, s, s + n - 1 AS e FROM o),
ex AS (SELECT doc_id, s, e, unnest(range(s // {L}, e // {L} + 1)) AS chunk_id FROM sp),
psel AS (
  SELECT CAST(chunk_id AS BIGINT) AS id1,
         CAST(MIN(doc_id) AS BIGINT) AS id2,
         CAST(SUM(LEAST(e, (chunk_id + 1) * {L} - 1) - GREATEST(s, chunk_id * {L}) + 1) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS v1
  FROM ex GROUP BY chunk_id
),
meta AS (SELECT doc_id, line, length(line) AS m FROM lines WHERE length(line) > 0),
chars AS (
  SELECT doc_id, i, unicode(substr(line, CAST(i AS INT), 1)) AS c
  FROM (SELECT doc_id, line, unnest(range(1, m + 1)) AS i FROM meta)
),
cum AS (SELECT doc_id, i, SUM(c) OVER (PARTITION BY doc_id ORDER BY i) AS cs FROM chars),
idx AS (
  SELECT doc_id, m,
         unnest(range(0, 1 + (GREATEST(m - {ml}, 0) + {st} - 1) // {st})) AS ci
  FROM meta
),
ch AS (SELECT doc_id, ci, ci * {st} AS off, LEAST({ml}, m - ci * {st}) AS len FROM idx),
ssel AS (
  SELECT c.doc_id AS id1, CAST(c.ci AS BIGINT) AS id2,
         CAST(c.len AS BIGINT) AS n_tokens,
         CAST(c.off AS BIGINT) AS v1,
         CAST(hi.cs - COALESCE(lo.cs, 0) AS BIGINT) AS v2
  FROM ch c
  JOIN cum hi ON hi.doc_id = c.doc_id AND hi.i = c.off + c.len
  LEFT JOIN cum lo ON lo.doc_id = c.doc_id AND lo.i = c.off
)
SELECT 'pack' AS kind, id1, id2, n_tokens, v1, CAST(0 AS BIGINT) AS v2 FROM psel
UNION ALL
SELECT 'slide', id1, id2, n_tokens, v1, v2 FROM ssel"""
    )


def _token_lines_cte() -> str:
    return f"""
WITH lines AS (
  SELECT event_id AS doc_id, event_type AS source, ({line_expr_duckdb()}) AS line
  FROM events
)"""


def _token_wins_cte(k: int) -> str:
    return (
        _token_lines_cte()
        + f""",
pos AS (
  SELECT doc_id, line, unnest(range(1, length(line) - {k} + 2)) AS i FROM lines
),
wins AS (SELECT doc_id, substr(line, CAST(i AS INT), {k}) AS w FROM pos)"""
    )


def _dup_span_report_oracle() -> str:
    k = _DUP_K
    return (
        _token_lines_cte()
        + f""",
pos AS (SELECT doc_id, line, unnest(range(1, length(line) - {k} + 2)) AS i FROM lines),
wins AS (SELECT doc_id, i, substr(line, CAST(i AS INT), {k}) AS w FROM pos),
occ AS (SELECT w, COUNT(*) AS occ FROM wins GROUP BY w),
marked AS (SELECT doc_id, i, occ > 1 AS is_dup FROM wins JOIN occ USING (w)),
per AS (
  SELECT doc_id, COUNT(*) AS n_windows,
         SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS dup_windows
  FROM marked GROUP BY doc_id
),
seg AS (
  SELECT doc_id,
         LEAST(CAST({k} AS BIGINT),
               COALESCE(LEAD(i) OVER (PARTITION BY doc_id ORDER BY i) - i,
                        CAST({k} AS BIGINT))) AS s
  FROM marked WHERE is_dup
),
rem AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS n_removed FROM seg GROUP BY doc_id),
allpos AS (SELECT doc_id, line, unnest(range(1, length(line) + 1)) AS j FROM lines),
chars AS (SELECT doc_id, j, unicode(substr(line, CAST(j AS INT), 1)) AS c FROM allpos),
ds AS (SELECT doc_id, i FROM marked WHERE is_dup),
mask AS (
  SELECT ch.doc_id, ch.j, ch.c,
         MAX(d.i) OVER (PARTITION BY ch.doc_id ORDER BY ch.j) AS ls
  FROM chars ch LEFT JOIN ds d ON d.doc_id = ch.doc_id AND d.i = ch.j
),
kept AS (SELECT doc_id, j, c FROM mask WHERE ls IS NULL OR j >= ls + {k}),
wit AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS kept_sum,
         md5(string_agg(CAST(c AS VARCHAR), ',' ORDER BY j)) AS kept_hash
  FROM kept GROUP BY doc_id
)
SELECT l.doc_id,
       CAST(COALESCE(p.n_windows, 0) AS BIGINT) AS n_windows,
       CAST(COALESCE(p.dup_windows, 0) AS BIGINT) AS dup_windows,
       CAST(COALESCE(1000 * p.dup_windows // p.n_windows, 0) AS BIGINT) AS dup_frac_x1000,
       CAST(length(l.line) AS BIGINT) AS n_tok,
       CAST(COALESCE(r.n_removed, 0) AS BIGINT) AS n_removed,
       CAST(length(l.line) - COALESCE(r.n_removed, 0) AS BIGINT) AS n_kept,
       CAST(COALESCE(w.kept_sum, 0) AS BIGINT) AS kept_sum,
       COALESCE(w.kept_hash, md5('')) AS kept_hash
FROM lines l LEFT JOIN per p USING (doc_id) LEFT JOIN rem r USING (doc_id)
     LEFT JOIN wit w USING (doc_id)"""
    )


def _token_repetition_oracle() -> str:
    return (
        _token_wins_cte(_REP_K)
        + """,
per AS (
  SELECT doc_id, COUNT(*) AS n_windows,
         COUNT(*) - COUNT(DISTINCT w) AS dup_excess
  FROM wins GROUP BY doc_id
)
SELECT l.doc_id,
       CAST(COALESCE(p.n_windows, 0) AS BIGINT) AS n_windows,
       CAST(COALESCE(p.dup_excess, 0) AS BIGINT) AS dup_excess,
       CAST(COALESCE(1000 * p.dup_excess // p.n_windows, 0) AS BIGINT) AS rep_frac_x1000
FROM lines l LEFT JOIN per p USING (doc_id)"""
    )


def _token_len_quantiles_oracle() -> str:
    """Same integer interpolation as tokenstats.hist_quantiles:
    t = q_num*(n-1); result = 1000*v[t//1000] + (t%1000)*(v[t//1000+1]
    - v[t//1000]) — exact BIGINT arithmetic end to end."""
    return (
        _token_lines_cte()
        + """,
hist AS (SELECT source, length(line) AS v, COUNT(*) AS c FROM lines GROUP BY 1, 2),
tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM hist GROUP BY 1),
cum AS (
  SELECT source, v, CAST(SUM(c) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS cum
  FROM hist
),
pts AS (
  SELECT t.source, CAST(q.q_num AS BIGINT) AS q_num,
         q.q_num * (t.n - 1) // 1000 AS lo,
         q.q_num * (t.n - 1) % 1000 AS rem
  FROM tot t CROSS JOIN (SELECT unnest([500, 900, 990]) AS q_num) q
),
vlo AS (
  SELECT p.source, p.q_num, p.rem, MIN(c.v) AS v_lo
  FROM pts p JOIN cum c ON c.source = p.source AND c.cum > p.lo
  GROUP BY 1, 2, 3
),
vhi AS (
  SELECT p.source, p.q_num, MIN(c.v) AS v_hi
  FROM pts p JOIN cum c
    ON c.source = p.source
   AND c.cum > p.lo + CASE WHEN p.rem > 0 THEN 1 ELSE 0 END
  GROUP BY 1, 2
)
SELECT l.source, l.q_num,
       CAST(1000 * l.v_lo + l.rem * (h.v_hi - l.v_lo) AS BIGINT) AS q_x1000
FROM vlo l JOIN vhi h USING (source, q_num)"""
    )


def _cte():
    return duckdb_parsed_cte()


_STATUS_CLASS_SQL = """
CASE WHEN status_code >= 200 AND status_code < 300 THEN '2xx (Успех)'
     WHEN status_code >= 300 AND status_code < 400 THEN '3xx (Перенаправление)'
     WHEN status_code >= 400 AND status_code < 500 THEN '4xx (Ошибка клиента)'
     WHEN status_code >= 500 THEN '5xx (Ошибка сервера)'
     ELSE 'Другие' END
""".strip()

PIPELINE_ORACLES: dict[str, str] = {
    "parsed_rows": _cte()
    + """
SELECT event_id, category, reject_reason, ip, username, url, domain,
       status_code, response_time_ms, response_size_bytes, action, epoch_us
FROM parsed""",
    "route_counts": _cte()
    + "SELECT category, COUNT(*) AS row_count FROM parsed GROUP BY category ORDER BY category",
    "sink_totals": _cte()
    + f"""
SELECT category,
       COUNT(*) AS row_count,
       COUNT(CASE WHEN status_code >= 400 THEN 1 END) AS error_count,
       COUNT(DISTINCT ip) AS unique_ips,
       CAST(COALESCE(SUM(response_size_bytes), 0) AS BIGINT) AS bytes_total,
       COALESCE(CAST(floor(AVG(CASE WHEN response_time_ms > 0 THEN response_time_ms END) + 0.5) AS BIGINT), 0) AS avg_response_time_ms
FROM parsed GROUP BY category ORDER BY category""",
    "histograms": _cte()
    + f"""
, grid AS (
  SELECT c.category, CAST(h.range AS INT) AS hour
  FROM (SELECT DISTINCT category FROM parsed WHERE valid) c, range(24) h
), counts AS (
  SELECT category, CAST(hour("time") AS INT) AS hour, COUNT(*) AS cnt
  FROM parsed WHERE valid GROUP BY 1, 2
)
SELECT 'status' AS kind, category, {_STATUS_CLASS_SQL} AS bucket, COUNT(*) AS row_count
FROM parsed WHERE valid GROUP BY 2, 3
UNION ALL
SELECT 'hour', g.category, CAST(g.hour AS VARCHAR), COALESCE(c.cnt, 0)
FROM grid g LEFT JOIN counts c ON g.category = c.category AND g.hour = c.hour""",
    "top_urls": _cte()
    + """
SELECT url, domain,
       COUNT(*) AS request_count,
       CAST(floor(AVG(response_time_ms) + 0.5) AS BIGINT) AS avg_response_time,
       CAST(SUM(response_size_bytes) AS BIGINT) AS total_bytes,
       MAX(epoch_us) AS last_access_us
FROM parsed
WHERE valid AND url IS NOT NULL AND url <> '-'
GROUP BY url, domain
ORDER BY request_count DESC, url ASC
LIMIT 100""",
    "top_users": _cte()
    + """
SELECT username,
       MIN(ip) AS min_ip,
       COUNT(*) AS request_count,
       COUNT(DISTINCT ip) AS unique_ips,
       CAST(floor(AVG(response_time_ms) + 0.5) AS BIGINT) AS avg_response_time,
       CAST(SUM(response_size_bytes) AS BIGINT) AS total_bytes,
       MIN(epoch_us) AS first_seen_us,
       MAX(epoch_us) AS last_seen_us
FROM parsed
WHERE valid AND username IS NOT NULL AND username <> '-'
GROUP BY username
ORDER BY request_count DESC, username ASC
LIMIT 10""",
    "dims": _cte()
    + """
SELECT 'status' AS kind, CAST(status_code AS VARCHAR) AS value
FROM parsed WHERE status_code IS NOT NULL AND status_code > 0 GROUP BY 2
UNION ALL
SELECT 'action', action
FROM parsed WHERE action IS NOT NULL AND action <> '-' GROUP BY 2""",
    "daily_rollup": _cte()
    + """
SELECT username, status_code, strftime("time", '%Y-%m-%d') AS day, COUNT(*) AS request_count
FROM parsed WHERE valid GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "page_query": _cte()
    + f"""
SELECT event_id, epoch_us, ip, username, url, status_code
FROM parsed
WHERE valid AND epoch_us >= {_PAGE_LO} AND epoch_us <= {_PAGE_HI} AND action = 'TCP_MISS'
ORDER BY epoch_us DESC, event_id ASC
LIMIT 50 OFFSET 100""",
    "page_after": _cte()
    + f"""
SELECT event_id, epoch_us, ip, username, url, status_code
FROM parsed
WHERE valid AND epoch_us >= {_PAGE_LO} AND epoch_us <= {_PAGE_HI} AND action = 'TCP_MISS'
  AND (epoch_us < {_AFTER_T} OR (epoch_us = {_AFTER_T} AND event_id > {_AFTER_ID}))
ORDER BY epoch_us DESC, event_id ASC
LIMIT 50""",
    "dataset_period": _cte()
    + "SELECT MIN(epoch_us) AS min_time_us, MAX(epoch_us) AS max_time_us FROM parsed WHERE valid",
    "enriched_rows": _enriched_rows_oracle(),
    "json_roundtrip": _cte()
    + """
SELECT event_id, ip, username, url, status_code, response_size_bytes
FROM parsed WHERE valid ORDER BY event_id""",
    "upsert_replace": _cte()
    + f"""
, all_c AS (
  SELECT username, COUNT(*) AS request_count, MAX(epoch_us) AS version
  FROM parsed WHERE valid GROUP BY 1
), first_c AS (
  SELECT username, COUNT(*) AS request_count, MAX(epoch_us) AS version
  FROM parsed WHERE valid AND epoch_us < {_PAGE_LO} GROUP BY 1
), u AS (
  SELECT *, 0 AS _src FROM first_c UNION ALL SELECT *, 1 AS _src FROM all_c
)
SELECT username, request_count, version FROM (
  SELECT *, row_number() OVER (PARTITION BY username ORDER BY version DESC, _src DESC) AS rn
  FROM u
) WHERE rn = 1 ORDER BY username""",
    "sessions": _cte() + sessionize_oracle_sql(30 * 60 * 1_000_000),
    "stream_hourly": _cte()
    + """
SELECT CAST(epoch(date_trunc('hour', "time")) AS BIGINT) * 1000000 AS window_start_us,
       category,
       COUNT(*) AS row_count,
       CAST(SUM(response_size_bytes) AS BIGINT) AS bytes_total
FROM parsed WHERE valid
GROUP BY 1, 2 ORDER BY 1, 2""",
    "keep_latest": _cte()
    + """
SELECT username, event_id, epoch_us FROM (
  SELECT username, event_id, epoch_us,
         row_number() OVER (PARTITION BY username ORDER BY epoch_us DESC, event_id DESC) AS rn
  FROM parsed WHERE valid
) WHERE rn = 1 ORDER BY username""",
    "asof_enrich": _asof_oracle(),
    "interval_join": _interval_join_oracle(),
    "dup_span_report": _dup_span_report_oracle(),
    "token_repetition": _token_repetition_oracle(),
    "token_len_quantiles": _token_len_quantiles_oracle(),
    "pack_chunks": _pack_chunks_oracle(),
    "pack_sequences": _pack_sequences_oracle(),
    "decontaminate": _decontaminate_oracle(),
    "dsir_select": _dsir_oracle(),
    "url_canonical": _url_canonical_oracle(),
    "token_histogram": _token_histogram_oracle(),
    "rarity": _rarity_oracle(),
    "lm_score": _lm_score_oracle(),
    "collocations": _collocations_oracle(),
    "stream_alerts": _stream_alerts_oracle(),
    "novelty": _novelty_oracle(),
    "redact": _redact_oracle(),
    "shards": _shards_oracle(),
}

PIPELINE_QUERIES = {
    "parsed_rows": q_parsed_rows,
    "route_counts": q_route_counts,
    "sink_totals": q_sink_totals,
    "histograms": q_histograms,
    "top_urls": q_top_urls,
    "top_users": q_top_users,
    "dims": q_dims,
    "daily_rollup": q_daily_rollup,
    "page_query": q_page_query,
    "page_after": q_page_after,
    "dataset_period": q_dataset_period,
    "enriched_rows": q_enriched_rows,
    "json_roundtrip": q_json_roundtrip,
    "upsert_replace": q_upsert_replace,
    "sessions": q_sessions,
    "stream_hourly": q_stream_hourly,
    "keep_latest": q_keep_latest,
    "asof_enrich": q_asof,
    "interval_join": q_interval_join,
    "dup_span_report": q_dup_span_report,
    "token_repetition": q_token_repetition,
    "token_len_quantiles": q_token_len_quantiles,
    "pack_chunks": q_pack_chunks,
    "pack_sequences": q_pack_sequences,
    "decontaminate": q_decontaminate,
    "dsir_select": q_dsir_select,
    "url_canonical": q_url_canonical,
    "token_histogram": q_token_histogram,
    "rarity": q_rarity,
    "lm_score": q_lm_score,
    "collocations": q_collocations,
    "stream_alerts": q_stream_alerts,
    "novelty": q_novelty,
    "bpe": q_bpe,
    "redact": q_redact,
    "shards": q_shards,
}
