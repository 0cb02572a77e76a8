"""Deterministic synthetic input generator (FIXTURES.md).

Produces the pipeline's native input table ``raw_sequences``
(doc_id string, tokens array<int32>, n_tok int, source string) plus the
small enrichment dims — all from a seeded PRNG, no wall clock, so every
run regenerates identical bytes.

The encoded payload is a Squid-native log line (11 whitespace-separated
fields) covering every branch of the reference's parse semantics:
status-less actions (fallback heuristic, LogFileParser.java:1127-1145),
'-' and scheme-less host:port urls (LogParserUtils.java:30-40), invalid
usernames (LogParserUtils.java:19-28), ~3% malformed lines, rt == 0
rows (the AVG gate, StatisticsService.java:146-148).

``source`` is Zipf-skewed (proxy-00 holds ~50% of rows), so aggregates
over it meet a hot key at scale.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
SOURCES = [f"proxy-{i:02d}" for i in range(8)]
# proxy-00 hot (~50%), rest geometric-ish
SOURCE_WEIGHTS = np.array([0.50, 0.20, 0.10, 0.07, 0.05, 0.04, 0.02, 0.02])

# 3-day UTC window (epoch seconds) — spans all 24 hours
T0 = 1709251200  # 2024-03-01 00:00:00 UTC
T1 = T0 + 3 * 86400

ACTIONS_WITH_STATUS = [
    ("TCP_MISS", 200),
    ("TCP_MISS", 404),
    ("TCP_MISS", 500),
    ("TCP_MISS", 503),
    ("TCP_HIT", 200),
    ("TCP_HIT", 304),
    ("TCP_DENIED", 403),
    ("TCP_TUNNEL", 200),
    ("TCP_REFRESH_MODIFIED", 304),
    ("TCP_MISS", 301),
    ("TCP_MISS", 204),
]
ACTIONS_STATUSLESS = ["TCP_DENIED", "TCP_MISS", "TCP_HIT", "NONE", "TCP_TUNNEL"]
METHODS = ["GET", "POST", "CONNECT"]
CONTENT_TYPES = ["text/html", "application/json", "image/png", "-"]


def _urls(rng: np.random.Generator, n_domains: int = 50, n_urls: int = 500) -> list[str]:
    domains = [f"d{i:02d}.example.com" for i in range(n_domains)]
    urls = []
    for i in range(n_urls):
        d = domains[i % n_domains]
        form = i % 9
        if form == 0:
            urls.append(f"https://{d}:8443/p/{i}")
        elif form == 1:
            urls.append(f"{d}:443")
        elif form == 2:
            urls.append(f"{d}/bare/{i}")
        else:
            urls.append(f"http://{d}/p/{i}")
    urls.append("-")
    return urls


def _usernames(rng: np.random.Generator) -> tuple[list[str], list[str]]:
    valid = (
        [f"user{i}" for i in range(40)]
        + [f"USER_{i}" for i in range(10)]
        + [f"svc_acct_{i}" for i in range(10)]
        + ["a_b_c", "x_y_z", "corp_user_admin"]
    )
    invalid = ["-", "admin", "x_y", "root", "guest_1"]
    return valid, invalid


def generate_lines(n: int, seed: int = SEED) -> pd.DataFrame:
    """Vectorized generation of n log lines + ground-truth source column."""
    rng = np.random.default_rng(seed)
    eid = np.arange(n, dtype=np.int64)

    source = np.array(SOURCES)[rng.choice(len(SOURCES), size=n, p=SOURCE_WEIGHTS)]
    secs = rng.integers(T0, T1, size=n)
    ms = rng.integers(0, 1000, size=n)
    rt = np.where(rng.random(n) < 0.1, 0, rng.integers(1, 5000, size=n))
    ip = np.array([f"10.{i // 64}.{(i // 8) % 8}.{i % 250 + 1}" for i in range(200)])[
        rng.integers(0, 200, size=n)
    ]

    has_status = rng.random(n) >= 0.12
    awi = rng.integers(0, len(ACTIONS_WITH_STATUS), size=n)
    asi = rng.integers(0, len(ACTIONS_STATUSLESS), size=n)
    act_s = np.array([f"{a}/{s}" for a, s in ACTIONS_WITH_STATUS])[awi]
    act_n = np.array(ACTIONS_STATUSLESS)[asi]
    action_field = np.where(has_status, act_s, act_n)

    nbytes = np.minimum((rng.lognormal(7.0, 2.0, size=n)).astype(np.int64), 10 * 1024 * 1024)
    method = np.array(METHODS)[rng.integers(0, 3, size=n)]
    urls = np.array(_urls(rng))
    # Zipf-ish url popularity for top-K ties and skew
    upop = rng.zipf(1.3, size=n) % len(urls)
    url = urls[upop]

    vnames, inames = _usernames(rng)
    vz = rng.zipf(1.5, size=n) % len(vnames)
    uname = np.where(
        rng.random(n) < 0.8,
        np.array(vnames)[vz],
        np.array(inames)[rng.integers(0, len(inames), size=n)],
    )
    hierarchy = np.where(rng.random(n) < 0.7, "DIRECT/192.168.0.1", "NONE/-")
    ctype = np.array(CONTENT_TYPES)[rng.integers(0, 4, size=n)]

    pdf = pd.DataFrame(
        {
            "secs": secs,
            "ms": ms,
            "rt": rt,
            "ip": ip,
            "act": action_field,
            "nbytes": nbytes,
            "method": method,
            "url": url,
            "uname": uname,
            "hier": hierarchy,
            "ctype": ctype,
        }
    )
    line = (
        pdf.secs.astype(str)
        + "."
        + pdf.ms.astype(str).str.zfill(3)
        + " "
        + pdf.rt.astype(str)
        + " "
        + pdf.ip
        + " "
        + pdf.act
        + " "
        + pdf.nbytes.astype(str)
        + " "
        + pdf.method
        + " "
        + pdf.url
        + " "
        + pdf.uname
        + " "
        + pdf.hier
        + " "
        + pdf.ctype
    )

    # ~3% malformed: garbage, truncation, non-numeric timestamp
    kind = rng.random(n)
    line = line.mask(pd.Series(kind < 0.01), "GARBAGE line " + pd.Series(eid).astype(str))
    line = line.mask(pd.Series((kind >= 0.01) & (kind < 0.02)), line.str.slice(0, 18))
    line = line.mask(
        pd.Series((kind >= 0.02) & (kind < 0.03)),
        "not_a_ts " + line.str.split(" ", n=1).str[1].fillna(""),
    )

    return pd.DataFrame(
        {
            "doc_id": [f"doc-{i:012d}" for i in eid],
            "line": line,
            "source": source,
        }
    )


def lines_to_sequences(pdf: pd.DataFrame) -> pa.Table:
    """Encode lines as the raw_sequences arrow table (tokens int32).

    Vectorized: one utf-32 encode of the concatenated corpus, then a
    zero-copy ListArray over (offsets, codepoint values) — O(total
    chars) with no per-row Python loop, so 10M-row bench fixtures
    materialize in seconds.
    """
    lines = pdf["line"].tolist()
    lens = np.fromiter((len(s) for s in lines), dtype=np.int64, count=len(lines))
    # offsets accumulate in int64 — int32 would wrap silently past ~2.1e9
    # total chars, only ~2x above the 10M-row bench fixture's ~1e9.
    offsets = np.zeros(len(lines) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    total = int(offsets[-1])
    if total > np.iinfo(np.int32).max:
        raise ValueError(
            f"fixture part too large for list<int32> offsets ({total} chars);"
            " split into more files"
        )
    values = np.frombuffer("".join(lines).encode("utf-32-le"), dtype=np.int32)
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32)), pa.array(values)
    )
    return pa.table(
        {
            "doc_id": pa.array(pdf["doc_id"], type=pa.string()),
            "tokens": tokens.cast(pa.list_(pa.int32())),
            "n_tok": pa.array(lens, type=pa.int32()),
            "source": pa.array(pdf["source"], type=pa.string()),
        }
    )


def generate_partitioned_lines(n: int, files: int, seed: int = SEED):
    """The per-file (derived seed, row count, doc_id) contract behind
    ``write_raw_sequences`` — one frame per output file, yielded lazily
    so fixture size is bounded by ONE file's frame, not the whole
    dataset (a 100M-row fixture would not fit as a list). Shared with
    test oracles so ground truth regenerates identical content without
    duplicating the seeding rules (tests still bypass the parquet
    encode path, which is the independence that matters)."""
    per = n // files
    for f in range(files):
        cnt = per if f < files - 1 else n - per * (files - 1)
        pdf = generate_lines(cnt, seed=seed + f * 1000)
        pdf["doc_id"] = [f"doc-{f:03d}-{i:09d}" for i in range(cnt)]
        yield pdf


def write_raw_sequences(
    out_dir: str, n: int, seed: int = SEED, files: int = 8
) -> str:
    """Write raw_sequences as `files` parquet parts (Spark parallelism).

    Each part is generated with an independent derived seed so content
    is reproducible regardless of `files` partitioning of row ranges.
    """
    path = os.path.join(out_dir, "raw_sequences")
    os.makedirs(path, exist_ok=True)
    for f, pdf in enumerate(generate_partitioned_lines(n, files, seed)):
        tbl = lines_to_sequences(pdf)
        pq.write_table(tbl, os.path.join(path, f"part-{f:04d}.parquet"))
    return path


# ---- enrichment dims (FIXTURES.md §3) --------------------------------


def dim_tables() -> dict[str, pd.DataFrame]:
    """Small broadcastable dims; each includes values absent from the
    fact (and the fact has values absent here) to exercise left-join
    null handling."""
    dim_action = pd.DataFrame(
        {
            "action": [
                "TCP_MISS",
                "TCP_HIT",
                "TCP_DENIED",
                "TCP_TUNNEL",
                "TCP_REFRESH_MODIFIED",
                "NONE",
                "TCP_SWAPFAIL",  # absent from fact
            ],
            "action_family": ["MISS", "HIT", "DENIED", "TUNNEL", "REFRESH", "OTHER", "OTHER"],
            "default_status": [200, 200, 403, 200, 200, 0, 0],
        }
    )
    dim_source = pd.DataFrame(
        {
            "source": SOURCES + ["proxy-99"],  # proxy-99 absent from fact
            "site": [f"site-{i % 3}" for i in range(len(SOURCES) + 1)],
            "tier": ["edge" if i % 2 == 0 else "core" for i in range(len(SOURCES) + 1)],
        }
    )
    dim_ip_class = pd.DataFrame(
        {
            "ip_prefix": [f"10.{i}" for i in range(4)] + ["192.168"],
            "ip_class": ["internal", "internal", "dmz", "external", "internal"],
        }
    )
    return {"dim_action": dim_action, "dim_source": dim_source, "dim_ip_class": dim_ip_class}


# the checkout's gitignored fixtures_cache/, wherever the checkout lives
FIXTURE_BASE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures_cache"
)


def fixture_marker(scale: str, base_dir: str = FIXTURE_BASE_DIR) -> str:
    """Path of the completeness marker for a named fixture scale — the
    single definition of the cache layout (bench.py's budget probe and
    ensure_fixture must agree on it)."""
    return os.path.join(base_dir, f"sf-{scale}", "raw_sequences", "_SUCCESS")


def ensure_fixture(scale: str, base_dir: str = FIXTURE_BASE_DIR) -> str:
    """Idempotently materialize a named scale; returns raw_sequences path."""
    rows = {"tiny": 10_000, "small": 1_000_000, "bench": 10_000_000, "huge": 100_000_000}[scale]
    out = os.path.join(base_dir, f"sf-{scale}")
    marker = fixture_marker(scale, base_dir)
    if not os.path.exists(marker):
        p = write_raw_sequences(out, rows, files=8 if scale == "tiny" else (256 if scale == "huge" else 32))
        open(marker, "w").write("ok")
        return p
    return os.path.join(out, "raw_sequences")
