"""Vectorized parse stage: decode token payloads, apply the Squid log
regex, derive every fact column — all in one scalar Arrow UDF.

Semantics re-expressed from the reference (cited for parity, not copied):

- 11-group log pattern:  LogFileParser.java:51-63 (``LOG_PATTERN``)
- accept/reject rules:   LogFileParser.java:1049-1099 (``parseLineToCSV``)
- username validity:     LogParserUtils.java:19-28 (contains "user"
  case-insensitively, or >= 2 underscores)
- domain extraction:     LogParserUtils.java:15-17,30-40
- status fallback:       LogFileParser.java:1127-1145 (DENIED/DENY -> 403,
  MISS/HIT/TUNNEL/REFRESH -> 200, else 0)
- epoch -> timestamp:    LogParserUtils.java:42-57 (we pin UTC instead of
  the host zone — documented deviation)

Everything is batch-vectorized: the tokens arrive as an Arrow ListArray
and decode to a StringArray with no per-row Python when every code
point is ASCII (``_decode_list_array_to_arrow``); one compiled RE2
regex (``pyarrow.compute.extract_regex``) per Arrow batch extracts the
groups, and every derived column is a pyarrow compute kernel.
``parse_lines_pandas`` is the Python-``re`` twin, kept as a test oracle.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Reference LOG_PATTERN (LogFileParser.java:51-63), 11 groups. Group 5
# (status) is optional; groups 7/10/11 are matched but discarded by the
# reference — we keep method for completeness (it costs nothing in a
# columnar layout and is pruned unless selected).
LOG_PATTERN = re.compile(
    r"^"
    r"(\d+\.\d+)\s+"  # 1 timestamp epoch.frac
    r"(\d+)\s+"  # 2 response_time_ms
    r"(\d+\.\d+\.\d+\.\d+)\s+"  # 3 client_ip
    r"([A-Z_]+)(?:/(\d{3}))?\s+"  # 4 action, 5 status (optional)
    r"(\d+)\s+"  # 6 response_size_bytes
    r"(\S+)\s+"  # 7 http_method
    r"(\S+)\s+"  # 8 url
    r"(\S+|-)\s+"  # 9 username
    r"(\S+)\s+"  # 10 hierarchy
    r"(\S+)"  # 11 content_type
)

# LogParserUtils.java:15-17 — note this also handles scheme-less
# host:port, unlike parse_url(url, 'HOST').
DOMAIN_PATTERN = re.compile(r"^(?:https?://)?([^/:]+)(?::\d+)?(?:/.*)?$")

# Output of the parse UDF: one struct per input row; ``valid`` marks
# accepted rows, ``reject_reason`` explains quarantined ones.
PARSED_SCHEMA = StructType(
    [
        StructField("epoch_us", LongType()),  # parsed time as epoch microseconds (UTC)
        StructField("ip", StringType()),
        StructField("username", StringType()),
        StructField("url", StringType()),
        StructField("status_code", IntegerType()),
        StructField("domain", StringType()),
        StructField("response_time_ms", IntegerType()),
        StructField("response_size_bytes", LongType()),
        StructField("action", StringType()),
        StructField("http_method", StringType()),
        StructField("valid", IntegerType()),  # 1 accepted / 0 quarantined
        StructField("reject_reason", StringType()),
    ]
)


def _via_uniques(s: pd.Series, fn, default):
    """Apply ``fn`` (a Series->Series vectorized transform) to the
    UNIQUE values of ``s`` and broadcast results back through the
    factorization codes.

    Log fields are heavily repeated (Zipf urls/usernames, ~dozens of
    actions), so per-batch uniques are orders of magnitude smaller than
    rows: regex/string work drops from O(rows) to O(uniques) with
    identical semantics. NaN rows (code -1) get ``default``.
    """
    codes, uniques = s.factorize()
    if len(uniques) == 0:
        return pd.Series([default] * len(s), index=s.index)
    vals = fn(pd.Series(uniques, dtype=object)).to_numpy()
    out = vals.take(np.clip(codes, 0, None))
    if (codes < 0).any():
        out = np.where(codes >= 0, out, default)
    return pd.Series(out, index=s.index)


def _valid_username_mask(usernames: pd.Series) -> pd.Series:
    """LogParserUtils.isValidUsername, vectorized over unique values.

    The reference trims the username before validating and stores the
    trimmed value (LogFileParser.java:1063,1086) — with \\S+ capture the
    trim is a no-op, kept for fidelity.
    """

    def check(u: pd.Series) -> pd.Series:
        u = u.fillna("")
        nonempty = u != ""
        not_dash = u != "-"
        has_user = u.str.lower().str.contains("user", regex=False)
        two_underscores = u.str.count("_") >= 2
        return nonempty & not_dash & (has_user | two_underscores)

    return _via_uniques(usernames, check, False).astype(bool)


RT_MAX = "2147483647"  # Integer.MAX_VALUE
BYTES_MAX = "9223372036854775807"  # Long.MAX_VALUE
# epoch seconds bound such that secs*1e6 + 999999 fits int64 (our
# TimestampType carrier). The reference (Instant.ofEpochSecond) accepts
# up to ~year 10^9; rejecting beyond year ~294246 is a documented,
# semantics-free deviation.
SECS_MAX = "9223372036853"


def _exceeds(s: pd.Series, bound: str) -> pd.Series:
    """Exact 'digit-string > bound' without numeric conversion (no
    float imprecision, no int64 overflow): strip leading zeros, compare
    by (length, lexicographic)."""
    t = s.fillna("").str.lstrip("0")
    n = t.str.len()
    return (n > len(bound)) | ((n == len(bound)) & (t > bound))


# ---------------------------------------------------------------------
# Arrow-native parse engine (the hot path)
# ---------------------------------------------------------------------
# pyarrow.compute kernels are C++ loops over Arrow buffers (RE2 regex,
# vectorized string ops) — measured ~4x faster than the pandas
# object-dtype implementation below, which pays a Python call per row
# inside every str accessor. RE2's ASCII \d/\s semantics also match the
# reference's Java Pattern defaults (and the DuckDB oracle's RE2)
# EXACTLY, where Python re's Unicode \d would accept e.g. Arabic-Indic
# digits the reference rejects. Within the codec contract (printable
# ASCII) the two engines are value-identical — pinned by
# test_parse_units.test_arrow_engine_equals_pandas_engine.

_RX_NAMED = (
    r"^(?P<g_ts>\d+\.\d+)\s+(?P<g_rt>\d+)\s+(?P<g_ip>\d+\.\d+\.\d+\.\d+)\s+"
    r"(?P<g_action>[A-Z_]+)(?:/(?P<g_status>\d{3}))?\s+"
    r"(?P<g_bytes>\d+)\s+(?P<g_method>\S+)\s+(?P<g_url>\S+)\s+"
    r"(?P<g_user>\S+|-)\s+(?P<g_hier>\S+)\s+(?P<g_ct>\S+)"
)
_DOMAIN_RX_NAMED = r"^(?:https?://)?(?P<d>[^/:]+)(?::\d+)?(?:/.*)?$"
_TS_RX_NAMED = r"^(?P<s>\d+)\.(?P<f>\d+)$"


def _exceeds_arrow(s, bound: str):
    """Arrow twin of ``_exceeds``: digit-string > bound, exactly.
    Null (unmatched row) -> False, like the pandas fillna('')."""
    import pyarrow.compute as pc

    t = pc.utf8_ltrim(s, characters="0")
    n = pc.utf8_length(t)
    over = pc.or_(
        pc.greater(n, len(bound)),
        pc.and_(pc.equal(n, len(bound)), pc.greater(t, bound)),
    )
    return pc.fill_null(over, False)


def parse_lines_arrow(arr) -> dict:
    """Parse an Arrow string array of log lines into a dict of Arrow
    arrays keyed by PARSED_SCHEMA field name (exact target types)."""
    import pyarrow.compute as pc

    st = pc.extract_regex(arr, _RX_NAMED)
    matched = st.is_valid()

    def g(name):
        return pc.struct_field(st, name)

    num_over = pc.or_(
        _exceeds_arrow(g("g_rt"), RT_MAX), _exceeds_arrow(g("g_bytes"), BYTES_MAX)
    )
    sf = pc.extract_regex(g("g_ts"), _TS_RX_NAMED)
    secs_s, frac_s = pc.struct_field(sf, "s"), pc.struct_field(sf, "f")
    sec_ok = pc.invert(_exceeds_arrow(secs_s, SECS_MAX))

    user = g("g_user")
    uname_ok = pc.fill_null(
        pc.and_(
            pc.and_(pc.not_equal(user, ""), pc.not_equal(user, "-")),
            pc.or_(
                pc.match_substring(pc.utf8_lower(user), "user"),
                pc.greater_equal(pc.count_substring(user, "_"), 2),
            ),
        ),
        False,
    )
    valid = pc.and_(pc.and_(matched, pc.invert(num_over)), pc.and_(sec_ok, uname_ok))

    def masked(arr_in, null_type):
        return pc.if_else(valid, arr_in, pa.scalar(None, null_type))

    # integral-microsecond epoch: valid implies sec_ok, so the casts and
    # the multiply cannot overflow int64
    secs = pc.cast(pc.if_else(valid, secs_s, "0"), pa.int64())
    frac6 = pc.cast(
        pc.utf8_slice_codeunits(
            pc.ascii_rpad(pc.if_else(valid, frac_s, "0"), width=6, padding="0"), 0, 6
        ),
        pa.int64(),
    )
    epoch_us = masked(pc.add(pc.multiply(secs, 1_000_000), frac6), pa.int64())

    action = pc.fill_null(g("g_action"), "")
    denied = pc.or_(
        pc.match_substring(action, "DENIED"), pc.match_substring(action, "DENY")
    )
    hit200 = pc.or_(
        pc.or_(pc.match_substring(action, "MISS"), pc.match_substring(action, "HIT")),
        pc.or_(
            pc.match_substring(action, "TUNNEL"), pc.match_substring(action, "REFRESH")
        ),
    )
    fallback = pc.if_else(
        denied, pa.scalar(403, pa.int32()),
        pc.if_else(hit200, pa.scalar(200, pa.int32()), pa.scalar(0, pa.int32())),
    )
    s_str = pc.fill_null(g("g_status"), "")
    has_status = pc.not_equal(s_str, "")
    status = pc.if_else(
        has_status, pc.cast(pc.if_else(has_status, s_str, "0"), pa.int32()), fallback
    )

    url = g("g_url")
    dm = pc.struct_field(pc.extract_regex(url, _DOMAIN_RX_NAMED), "d")
    domain = pc.if_else(pc.equal(url, "-"), "", pc.fill_null(dm, ""))

    # precedence mirrors the reference's code order (see pandas engine)
    null_s = pa.scalar(None, pa.string())
    reason = pc.if_else(
        pc.invert(matched),
        "regex_mismatch",
        pc.if_else(
            num_over,
            "numeric_overflow",
            pc.if_else(
                pc.invert(uname_ok),
                "invalid_username",
                pc.if_else(pc.invert(sec_ok), "bad_timestamp", null_s),
            ),
        ),
    )

    return {
        "epoch_us": epoch_us,
        "ip": masked(g("g_ip"), pa.string()),
        "username": masked(pc.utf8_trim_whitespace(user), pa.string()),
        "url": masked(url, pa.string()),
        "status_code": masked(status, pa.int32()),
        "domain": masked(domain, pa.string()),
        "response_time_ms": masked(
            pc.cast(pc.if_else(valid, g("g_rt"), "0"), pa.int32()), pa.int32()
        ),
        "response_size_bytes": masked(
            pc.cast(pc.if_else(valid, g("g_bytes"), "0"), pa.int64()), pa.int64()
        ),
        "action": masked(action, pa.string()),
        "http_method": masked(g("g_method"), pa.string()),
        "valid": pc.cast(valid, pa.int32()),
        "reject_reason": reason,
    }


_ARROW_TYPE_MAPPER = None


def _parsed_arrow_to_pandas(cols: dict) -> pd.DataFrame:
    """Arrow parse output -> the pandas frame ``parse_lines`` returns,
    with nullable Int32/Int64 (NOT float64 — epoch_us must stay exact)."""
    global _ARROW_TYPE_MAPPER

    if _ARROW_TYPE_MAPPER is None:
        m = {pa.int64(): pd.Int64Dtype(), pa.int32(): pd.Int32Dtype()}
        _ARROW_TYPE_MAPPER = m.get
    return pd.DataFrame(
        {
            name: arr.to_pandas(types_mapper=_ARROW_TYPE_MAPPER)
            for name, arr in cols.items()
        }
    )


# Input contract at the text boundary: lines must be UTF-8
# representable. Lone surrogates (impossible to encode, so they can
# never arrive FROM Spark, but direct pandas callers / fuzzed input can
# carry them) are normalized to U+FFFD — the same permissiveness the
# codec applies to corrupt tokens (codec.decode_tokens) — so one
# malformed string quarantines its row instead of crashing the stage.
_SURROGATE_RX = re.compile("[\ud800-\udfff]")


def sanitize_lines(lines: pd.Series) -> pd.Series:
    """Replace non-UTF-8-encodable code points with U+FFFD (cheap scan
    first; the common all-clean batch pays one vectorized contains)."""
    mask = lines.str.contains(_SURROGATE_RX, na=False)
    if mask.any():
        lines = lines.copy()
        lines[mask] = lines[mask].map(lambda s: _SURROGATE_RX.sub("�", s))
    return lines


def parse_lines(lines: pd.Series) -> pd.DataFrame:
    """Batch-parse decoded log lines into the PARSED_SCHEMA columns
    (Arrow engine; see parse_lines_pandas for the reference twin)."""

    filled = lines.astype(object).where(lines.notna(), "")
    try:
        # explicit string type: an empty/all-null batch must not infer
        # a null-typed array (extract_regex has no null kernel)
        arr = pa.array(filled, type=pa.string())
    except UnicodeEncodeError:
        arr = pa.array(sanitize_lines(filled), type=pa.string())
    return _parsed_arrow_to_pandas(parse_lines_arrow(arr))


def parse_lines_pandas(lines: pd.Series) -> pd.DataFrame:
    """Pandas/Python-re parse engine — the semantic reference twin of
    ``parse_lines_arrow``, kept as a test oracle (and the only engine
    difference is Python re's Unicode \\d/\\s vs RE2/Java's ASCII —
    outside the printable-ASCII codec contract)."""
    lines = sanitize_lines(lines)
    ext = lines.str.extract(LOG_PATTERN)
    matched = ext[0].notna()

    # Integer.parseInt(rt) / Long.parseLong(bytes) overflow throws in
    # the reference -> row rejected (LogFileParser.java:1055,1059 under
    # the catch at :1094). Checked exactly on the digit strings.
    num_over = _exceeds(ext[1], RT_MAX) | _exceeds(ext[5], BYTES_MAX)

    ts_raw = ext[0]
    # convertTimestamp: epoch seconds (+fraction) -> instant. We compute
    # integral microseconds to avoid float drift on the fractional part.
    sec_frac = ts_raw.str.split(".", n=1, expand=True)
    # all-reject batches yield fewer than 2 split columns
    sec_frac = sec_frac.reindex(columns=[0, 1])
    sec_ok = ~_exceeds(sec_frac[0], SECS_MAX)
    with pd.option_context("mode.chained_assignment", None):
        # masked fill keeps dtype int64 (exact) — no NaN-induced float64
        secs = pd.to_numeric(sec_frac[0].where(matched & sec_ok, "0"))
        frac = sec_frac[1].fillna("0").str.pad(6, side="right", fillchar="0").str.slice(0, 6)
        micros = pd.to_numeric(frac, errors="coerce").fillna(0).astype("int64")
    epoch_us = pd.Series(
        secs.astype("int64") * 1_000_000 + micros, index=lines.index
    ).astype("Int64")
    ts_ok = matched & sec_ok

    username = ext[8]
    uname_ok = _valid_username_mask(username)

    valid = matched & ~num_over & ts_ok & uname_ok

    url = ext[7]
    # extractDomain: None for '-' / no-match -> reference stores '' via
    # formatAsCSV's null handling of the domain slot. Urls are Zipf-
    # repeated -> regex runs once per unique url.
    domain = _via_uniques(
        url, lambda u: u.str.extract(DOMAIN_PATTERN)[0], None
    )
    domain = domain.where(url.ne("-"), None).fillna("")

    status_str = ext[4]
    action = ext[3].fillna("")
    # parseStatusCode fallback heuristic (LogFileParser.java:1127-1145);
    # the action vocabulary is tiny -> flags computed once per unique.
    status = pd.to_numeric(status_str, errors="coerce")

    def fallback_of(a: pd.Series) -> pd.Series:
        denied = a.str.contains("DENIED", regex=False) | a.str.contains(
            "DENY", regex=False
        )
        hit200 = (
            a.str.contains("MISS", regex=False)
            | a.str.contains("HIT", regex=False)
            | a.str.contains("TUNNEL", regex=False)
            | a.str.contains("REFRESH", regex=False)
        )
        return pd.Series(
            np.where(denied, 403, np.where(hit200, 200, 0)), index=a.index
        )

    fallback = _via_uniques(action, fallback_of, 0).to_numpy()
    status = status.fillna(pd.Series(fallback, index=status.index)).astype("Int64")

    # Rejection precedence mirrors the reference's code order
    # (LogFileParser.java:1049-1099): regex miss, then numeric-parse
    # throw, then username check (:1063), then timestamp (:1072).
    reason = pd.Series(
        np.select(
            [~matched, num_over, ~uname_ok, ~ts_ok],
            ["regex_mismatch", "numeric_overflow", "invalid_username", "bad_timestamp"],
            default=None,
        ),
        index=lines.index,
        dtype=object,
    )

    out = pd.DataFrame(
        {
            "epoch_us": epoch_us.where(valid),
            "ip": ext[2].where(valid),
            "username": username.str.strip().where(valid),
            "url": url.where(valid),
            "status_code": status.where(valid).astype("Int32"),
            "domain": domain.where(valid),
            # masked fill -> int64 parse stays exact (valid rows are
            # bound-checked above, so the casts cannot overflow)
            "response_time_ms": pd.Series(
                pd.to_numeric(ext[1].where(valid, "0")), index=lines.index
            )
            .astype("Int32")
            .where(valid),
            "response_size_bytes": pd.Series(
                pd.to_numeric(ext[5].where(valid, "0")), index=lines.index
            )
            .astype("Int64")
            .where(valid),
            "action": action.where(valid),
            "http_method": ext[6].where(valid),
            "valid": valid.astype("int32"),
            "reject_reason": reason,
        }
    )
    return out


def _decode_list_array(col) -> list[str]:
    """Zero-copy decode of an arrow list<int32> column of code points:
    ONE utf-32 decode of the flattened values buffer + offset slicing —
    no per-row array materialization (measured 37x faster than the
    Series-of-ndarrays path)."""

    ch = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    off = ch.offsets.to_numpy()
    base = off[0]
    # ch.values is the FULL child array even when ch is a sliced view
    # (offsets stay absolute), so trim to this view's span before
    # rebasing to 0 — otherwise every decoded row shifts by `base`.
    flat = ch.values.to_numpy(zero_copy_only=False)[base : off[-1]]
    try:
        s = flat.astype("<u4").tobytes().decode("utf-32-le")
        out = [s[off[i] - base : off[i + 1] - base] for i in range(len(off) - 1)]
    except (UnicodeDecodeError, ValueError):
        # invalid code points (surrogates, corrupt int32s) — per-row
        # permissive fallback (bad tokens become U+FFFD -> the row
        # quarantines at parse time instead of crashing the stage)
        from logparser_spark.codec import decode_tokens

        out = [
            decode_tokens(flat[off[i] - base : off[i + 1] - base])
            for i in range(len(off) - 1)
        ]
    if ch.null_count:
        mask = ch.is_valid().to_numpy(zero_copy_only=False)
        out = [v if ok else "" for v, ok in zip(out, mask)]
    return out


def _decode_list_array_to_arrow(col):
    """list<int32> code points -> Arrow StringArray, with an all-ASCII
    fast path that never materializes a Python string: the flattened
    values buffer reinterpreted as utf-8 bytes + the list offsets ARE
    the string array (utf-8 == code point for < 128). Non-ASCII or
    null-bearing batches take the utf-32 bulk-decode path."""

    ch = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    if ch.null_count == 0 and len(ch.values) > 0:
        off = ch.offsets.to_numpy()
        # trim the full child values to this view's span (offsets are
        # absolute on sliced views) before rebasing to 0
        flat = ch.values.to_numpy(zero_copy_only=False)[off[0] : off[-1]]
        if len(flat) == 0 or (flat.min() >= 0 and flat.max() < 128):
            offsets = (off - off[0]).astype(np.int32)
            return pa.StringArray.from_buffers(
                len(offsets) - 1,
                pa.py_buffer(offsets.tobytes()),
                pa.py_buffer(flat.astype(np.uint8).tobytes()),
            )
    return pa.array(_decode_list_array(ch), type=pa.string())


def _parse_tokens_arrow(tokens: pa.Array) -> pa.Array:
    """tokens:array<int> -> parsed struct, one Arrow batch at a time —
    the body of the parse UDF (see with_parsed). Tokens arrive as a
    zero-copy ListArray and the parsed struct leaves as a StructArray:
    no pandas on either side."""
    lines = _decode_list_array_to_arrow(tokens)
    cols = parse_lines_arrow(lines)
    return pa.StructArray.from_arrays(
        [cols[f.name] for f in PARSED_SCHEMA.fields],
        names=[f.name for f in PARSED_SCHEMA.fields],
    )


def with_parsed(df):
    """Attach parsed columns + a proper TimestampType ``time`` column.

    The parse runs as ONE scalar Arrow UDF over the tokens column.
    Architecture note (measured both ways, BENCH history): the scalar
    Arrow UDF sends ONLY the tokens column to the Python worker and
    zips the parsed struct back within the stage — the fat payload
    never round-trips through the Arrow socket, which beats a
    ``mapInArrow`` full-batch formulation by ~2x on the write-heavy
    pipeline (mapInArrow must ship every column out AND back). The
    decode inside the UDF reinterprets the tokens buffer as UTF-8 when
    every code point is ASCII, else one utf-32 decode per batch.

    The UDF returns epoch microseconds; the cast to timestamp happens
    JVM-side so Catalyst sees a native TimestampType column (prunable,
    comparable, pushdown-friendly).

    The UDF is marked ``asNondeterministic()`` — not because the parse
    is nondeterministic (it is pure), but to forbid Catalyst from
    duplicating it: a downstream filter on a parsed column (valid,
    status_code, ...) otherwise gets pushed below any exchange between
    the scan and the filter, re-evaluating the WHOLE parse a second
    time just to compute the predicate (measured: a min/max-over-parsed
    query ran the Arrow parse twice, one copy on the pre-exchange
    single scan partition — 3.8 s instead of 0.7 s at sf0.1). The cost
    of the marker is that filters on *passthrough* columns no longer
    push below the parse either — callers filtering on raw columns
    (source, doc_id) should filter BEFORE with_parsed, which is where
    scan-pushdown-eligible predicates belong anyway.
    """
    # The UDF is wrapped per call, not once at import: its JVM twin keeps
    # the Python accumulator of the SparkContext it was first used
    # under, so after that context stops every parse task of a new one
    # logs "Failed to update accumulator" against the dead context.
    parse = arrow_udf(_parse_tokens_arrow, PARSED_SCHEMA).asNondeterministic()
    df = df.withColumn("_p", parse(F.col("tokens")))
    parsed_cols = [F.col(f"_p.{f.name}").alias(f.name) for f in PARSED_SCHEMA.fields]
    df = df.select("*", *parsed_cols).drop("_p")
    return df.withColumn("time", F.timestamp_micros(F.col("epoch_us")))
