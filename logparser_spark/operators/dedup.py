"""Deduplication operators over a documents table
(doc_id, text, lang, source, n_chars) — the training-data-pipeline
extensions: exact hash dedup, n-gram Jaccard all-pairs, MinHash+LSH
candidate pruning, SimHash.

Scale notes (the 100 TB story):
- exact: one groupBy on a 128-bit content hash — single shuffle keyed
  on the hash, no skew (hashes are uniform).
- all-pairs n-gram Jaccard is the *correctness baseline*; it is
  quadratic in docs-per-shingle and only run at test scale or as the
  verify step on LSH candidates.
- MinHash+LSH is the scale path: signatures are one groupBy over
  (doc, band) keys; the candidate join is an equi-join on
  (band_id, band_hash) buckets — shuffle proportional to bucket sizes,
  not n². Banding (r=2, b=64) puts the s-curve threshold at
  (1/64)^(1/2) ≈ 0.125, so recall at j >= 0.8 is 1-(1-0.64)^64 ≈ 1-1e-28:
  the verified output provably matches the all-pairs oracle.
- SimHash: 64-bit signature via per-token hash bit-voting; hamming <= 3
  near-dup candidates by pigeonhole banding on 4 x 16-bit chunks.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from logparser_spark.operators.util import spread

NGRAM = 3
JACCARD_THRESHOLD = 0.8
MINHASH_FUNCS = 128
LSH_ROWS = 2  # r
LSH_BANDS = 64  # b = MINHASH_FUNCS / LSH_ROWS


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by md5(text): keeper = min(doc_id)."""
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .orderBy("text_hash")
    )


def soft_dedup_weights(docs: DataFrame, scale: int = 1_000_000) -> DataFrame:
    """Soft deduplication: DOWN-WEIGHT duplicates instead of dropping
    them — each doc gets sampling weight ``scale // dup_count`` of its
    exact-content group, so a page duplicated a million times
    contributes ~once in expectation while unique text keeps full
    weight (the standard reweighting alternative to hard removal when
    duplicates still carry marginal signal). Integer floor division:
    cross-engine exact, so the driver branch is oracle-checkable.

    Output: (doc_id, text_hash, dup_count, weight_fp).

    Scale plan: the group count comes from ``exact_dedup``'s
    map-side-combining groupBy (never a count-over-window, whose
    billion-duplicate group would funnel one partition) joined back on
    the uniform md5 key — two skew-safe shuffles, no payload movement
    (only doc_id + hash travel). NULL texts form one group (md5(NULL)
    is NULL; groupBy and the null-safe join both treat it as a key),
    matching exact_dedup and SQL's PARTITION BY semantics — a plain
    equi-join would silently hard-drop every NULL-text doc from an
    operator whose whole contract is down-weighting instead of
    dropping."""
    hashed = docs.select("doc_id", F.md5("text").alias("text_hash"))
    counts = hashed.groupBy("text_hash").agg(
        F.count(F.lit(1)).alias("dup_count")
    )
    return (
        hashed.alias("d")
        .join(
            counts.alias("c"),
            F.col("d.text_hash").eqNullSafe(F.col("c.text_hash")),
        )
        .select(
            F.col("d.doc_id").alias("doc_id"),
            F.col("d.text_hash").alias("text_hash"),
            "dup_count",
            F.expr(f"{int(scale)} div dup_count").alias("weight_fp"),
        )
    )


def _exact_jaccard_pairs(
    docs: DataFrame, threshold: float, cand: DataFrame | None
) -> DataFrame:
    """Exact n-gram Jaccard >= threshold (doc_a < doc_b): all pairs
    when ``cand`` is None, else restricted to the candidate (doc_a,
    doc_b) pairs. Shared by the brute baseline and the LSH verify so
    the math/tie-break lives once."""
    union_sz = F.col("n_a") + F.col("n_b") - F.col("inter")
    return (
        _pair_overlap(docs, cand)
        .withColumn("jaccard_x1000", F.floor(F.lit(1000.0) * F.col("inter") / union_sz))
        .filter(F.col("inter") / union_sz >= F.lit(threshold))
        # no global sort: output is a pair *set* (downstream compares
        # are order-insensitive; a range-partitioned sort would add a
        # sampling job + full shuffle for nothing)
        .select("doc_a", "doc_b", "inter", "n_a", "n_b", "jaccard_x1000")
    )


def _pair_overlap(docs: DataFrame, cand: DataFrame | None) -> DataFrame:
    """Shared pair-overlap core for the exact Jaccard and containment
    measures: (doc_a < doc_b, inter, n_a, n_b) over distinct word
    n-gram shingles — all pairs when ``cand`` is None, else restricted
    to the candidate pairs. Join strategy is left to AQE: runtime
    stats convert to broadcast joins when a side is small (an explicit
    broadcast() of the candidate subplan measured SLOWER — it forces
    an eager blocking materialization — and would be wrong on
    dup-heavy corpora where candidates aren't small)."""
    if cand is not None:
        # Verify-path prune: shingling + explode only the docs that
        # appear in a candidate pair. Catalyst cannot derive this
        # (the join keys are produced above the expensive projection),
        # and at scale candidates << corpus, so this turns the verify
        # stage's cost from O(all docs) to O(candidate docs).
        cand_docs = (
            cand.select(F.col("doc_a").alias("doc_id"))
            .union(cand.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        docs = docs.join(cand_docs, "doc_id", "left_semi")
    sh_arr = shingle_arrays(docs)
    sh = sh_arr.select("doc_id", F.explode("sh_list").alias("shingle"))
    sizes = sh_arr.select("doc_id", F.size("sh_list").alias("n_sh"))
    a_sh = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b_sh = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    if cand is None:
        inter = (
            sh.alias("a")
            .join(sh.alias("b"), "shingle")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        inter = (
            cand.join(a_sh, "doc_a")
            .join(b_sh, ["doc_b", "shingle"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    # no broadcast hint on sa/sb: in the verify path they are sized by
    # the CANDIDATE doc set, which on a dup-heavy corpus is unbounded —
    # the same reasoning the docstring gives for the candidate subplan.
    # AQE converts these to broadcast joins at runtime when the size
    # stats actually allow it.
    return inter.join(sa, "doc_a").join(sb, "doc_b")


class QuadraticPlanRefused(ValueError):
    """Raised when an all-pairs correctness baseline is asked to run
    over an input too large for its O(n²) plan."""


NGRAM_GUARD_ROWS = 1_000_000


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    guard_rows: int | None = NGRAM_GUARD_ROWS,
) -> DataFrame:
    """All-pairs n-gram Jaccard >= threshold (doc_a < doc_b).

    Exact *correctness baseline*; the shingle self-equi-join is the
    quadratic step. It refuses inputs above ``guard_rows`` (probed with
    a cheap ``limit(n+1).count()``, not a full scan) so the one
    scale-killer reachable from the driver surface cannot run at data
    scale by accident — use ``minhash_lsh_pairs`` there, whose verified
    output equals this baseline at j >= 0.8. Pass ``guard_rows=None``
    to force the quadratic plan anyway.
    """
    if guard_rows is not None and docs.limit(guard_rows + 1).count() > guard_rows:
        raise QuadraticPlanRefused(
            f"ngram_jaccard_pairs is the O(n²) all-pairs baseline and was "
            f"given more than {guard_rows:,} documents; use "
            f"minhash_lsh_pairs (equal verified output at j >= "
            f"{JACCARD_THRESHOLD}) or pass guard_rows=None to override"
        )
    return _exact_jaccard_pairs(docs, threshold, cand=None)


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    guard_rows: int | None = NGRAM_GUARD_ROWS,
    cand: DataFrame | None = None,
) -> DataFrame:
    """N-gram CONTAINMENT pairs — the one-sided near-dup measure
    (Broder 1997's containment, "On the resemblance and containment of
    documents"): ``c(A in B) = |sh(A) ∩ sh(B)| / |sh(A)|``. Catches
    quotes, excerpts, and boilerplate-wrapped copies that symmetric
    Jaccard misses when lengths are asymmetric (a 50-word quote inside
    a 5000-word page has j ~ 0.01 but containment ~ 1.0).

    Output: undirected pair rows (doc_a < doc_b) carrying BOTH
    directional scores, kept when either direction clears
    ``threshold``: (doc_a, doc_b, inter, n_a, n_b, cont_a_in_b_x1000,
    cont_b_in_a_x1000). Docs with no shingles (< n words) can't
    intersect and never appear.

    Same scale posture as ``ngram_jaccard_pairs``: the all-pairs
    shingle self-join is the quadratic correctness baseline, refused
    above ``guard_rows``; at corpus scale restrict it with ``cand``
    (MinHash candidates when the target is also Jaccard-high, or
    posting-list co-occurrence from ``relevance.inverted_index`` for
    true asymmetric containment search).
    """
    if (
        cand is None
        and guard_rows is not None
        and docs.limit(guard_rows + 1).count() > guard_rows
    ):
        # the guard targets the all-pairs self-join; a cand-restricted
        # plan is candidate-sized, not quadratic, so it passes freely
        raise QuadraticPlanRefused(
            f"containment_pairs is the O(n²) all-pairs baseline and was "
            f"given more than {guard_rows:,} documents; restrict with "
            f"cand= or pass guard_rows=None to override"
        )
    ov = _pair_overlap(docs, cand)
    ca = F.floor(F.lit(1000.0) * F.col("inter") / F.col("n_a"))
    cb = F.floor(F.lit(1000.0) * F.col("inter") / F.col("n_b"))
    return (
        ov.withColumn("cont_a_in_b_x1000", ca.cast("long"))
        .withColumn("cont_b_in_a_x1000", cb.cast("long"))
        .filter(
            (F.col("inter") / F.col("n_a") >= F.lit(threshold))
            | (F.col("inter") / F.col("n_b") >= F.lit(threshold))
        )
        .select(
            "doc_a", "doc_b", "inter", "n_a", "n_b",
            "cont_a_in_b_x1000", "cont_b_in_a_x1000",
        )
    )


def shingle_arrays(docs: DataFrame, n: int = NGRAM) -> DataFrame:
    """doc_id -> array of distinct word n-gram shingles (empty array
    for docs shorter than n words).

    The distinct set is computed per row with array ops (no
    explode+distinct shuffle), so signature generation below needs NO
    shuffle at all — it is a pure map stage. The short-doc branch must
    be explicit: ``sequence(0, size-n)`` with size < n would DESCEND
    (Spark sequence reverses when start > stop) and feed slice() an
    invalid 0 index.
    """
    w = docs.select("doc_id", F.split("text", " ").alias("w"))
    return w.select(
        "doc_id",
        F.when(
            F.size("w") >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - n),
                    lambda i: F.concat_ws(" ", F.slice("w", i + 1, n)),
                )
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("sh_list"),
    )


def _minhash_sig_udf(n_funcs: int, ngram: int = NGRAM, seed: int = 42, block: int = 1 << 19):
    """Vectorized MinHash over per-row WORD hashes.

    Input: array<long> of word hashes (one JVM xxhash64 per word — the
    only higher-order function left in the stage). The n-gram shingle
    hash is a numpy window combine of ``ngram`` consecutive word hashes
    (odd-constant multiply + xor — an injective-enough mix; building
    shingle *strings* JVM-side ran interpreted concat_ws/slice per
    element and was ~3x the whole stage's cost). MinHash over the
    window-hash set preserves set-Jaccard modulo 2^-64 collisions:
    duplicates don't affect a min, and both window-hash and
    string-hash sets are images of the same trigram set.

    The n_funcs-member family is h_i(x) = a_i*x + b_i (mod 2^64, odd
    a_i) — an outer product with a segmented min-reduce, processed in
    window-blocks of <= 2^19 so the (windows x n_funcs) intermediate
    stays < ~512 MB regardless of Arrow batch size (a single row
    longer than the block takes a running-min sub-chunk path).
    """
    rng = np.random.default_rng(seed)
    a = (rng.integers(0, 2**63, size=n_funcs, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.integers(0, 2**63, size=n_funcs, dtype=np.uint64)
    mix = (rng.integers(0, 2**63, size=ngram, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)

    @pandas_udf("array<long>")
    def sig(hs: pd.Series) -> pd.Series:
        lens = np.fromiter(
            (0 if x is None else len(x) for x in hs), dtype=np.int64, count=len(hs)
        )
        n = len(lens)
        wlens = np.maximum(lens - (ngram - 1), 0)  # windows per row
        if n == 0 or wlens.sum() == 0:
            return pd.Series([None] * n)
        nz = lens > 0
        flat = np.concatenate(
            [np.asarray(x, dtype=np.int64) for x, m in zip(hs, lens) if m]
        ).astype(np.uint64)
        # window combine over the flat buffer, then drop windows that
        # cross row boundaries
        wind = flat[: len(flat) - ngram + 1] * mix[0]
        for k in range(1, ngram):
            wind = wind ^ (flat[k : len(flat) - ngram + 1 + k] * mix[k])
        row_of = np.repeat(np.arange(int(nz.sum())), lens[nz])
        wind = wind[row_of[: len(wind)] == row_of[ngram - 1 :]]

        has_w = wlens > 0
        starts = np.concatenate(([0], np.cumsum(wlens[has_w])))[:-1]
        rows_w = np.nonzero(has_w)[0]
        out: list = [None] * n
        # block the outer product on segment boundaries (bounded memory)
        seg_lo = 0
        while seg_lo < len(rows_w):
            seg_hi = seg_lo
            while (
                seg_hi < len(rows_w)
                and (seg_hi == seg_lo
                     or starts[seg_hi] + wlens[rows_w[seg_hi]] - starts[seg_lo] <= block)
            ):
                seg_hi += 1
            lo_w = starts[seg_lo]
            seg0 = rows_w[seg_lo]
            if seg_hi == seg_lo + 1 and wlens[seg0] > block:
                # one pathological row longer than the block: running
                # min over sub-chunks so the bound holds per row too
                acc = None
                for off in range(0, int(wlens[seg0]), block):
                    part = (
                        wind[lo_w + off : lo_w + min(off + block, int(wlens[seg0])), None]
                        * a[None, :]
                        + b[None, :]
                    ).min(axis=0)
                    acc = part if acc is None else np.minimum(acc, part)
                out[seg0] = acc.astype(np.int64)
            else:
                hi_w = starts[seg_hi - 1] + wlens[rows_w[seg_hi - 1]]
                fam = wind[lo_w:hi_w, None] * a[None, :] + b[None, :]
                mins = np.minimum.reduceat(fam, starts[seg_lo:seg_hi] - lo_w, axis=0)
                for j, i in enumerate(rows_w[seg_lo:seg_hi]):
                    out[i] = mins[j].astype(np.int64)
            seg_lo = seg_hi
        return pd.Series(out)

    return sig


def minhash_signatures(docs: DataFrame, n_funcs: int = MINHASH_FUNCS) -> DataFrame:
    """doc_id -> array of n_funcs minhash values.

    Pipeline: one JVM xxhash64 per word (row-local, no shuffle), then
    window-combine + per-function mins as numpy matrix ops per Arrow
    batch (see _minhash_sig_udf) — the whole signature stage is a pure
    map stage with a constant-size plan.
    """
    hashed = docs.select(
        "doc_id",
        F.transform(F.split("text", " "), lambda w: F.xxhash64(w)).alias("hs"),
    ).filter(F.size("hs") >= NGRAM)
    return hashed.select(
        "doc_id", _minhash_sig_udf(n_funcs)(F.col("hs")).alias("sig")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    n_funcs: int = MINHASH_FUNCS,
    rows_per_band: int = LSH_ROWS,
) -> DataFrame:
    """MinHash + banded LSH candidate generation, then *exact* Jaccard
    verification of candidates only.

    With r=2, b=64 the probability of missing a pair at j >= 0.8 is
    (1 - 0.8^2)^64 < 1e-28, so the verified output equals the all-pairs
    baseline (the DuckDB oracle) while doing ~linear work at scale.
    """
    docs = spread(docs)
    sig = minhash_signatures(docs, n_funcs)
    n_bands = n_funcs // rows_per_band
    # band_hash = xxhash64 over the band's slice of the signature; one
    # nested expression, not n_bands struct literals (tiny plan).
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.xxhash64(
                    F.slice("sig", b * rows_per_band + 1, rows_per_band)
                ),
            )
        ).alias("band_id", "band_hash"),
    )

    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )

    # exact verify on candidates only (same math/tie-break as the
    # all-pairs baseline — shared helper)
    return _exact_jaccard_pairs(docs, threshold, cand=cand)


def _simhash_fold(hs: pd.Series) -> pd.Series:
    """Vectorized SimHash fold: per-bit +-1 majority vote over a row's
    token hashes, packed into one signed long. One numpy bit-unpack +
    segmented sum per Arrow batch (no per-row Python). Null/empty token
    arrays hash to 0."""
    lens = np.fromiter(
        (0 if x is None else len(x) for x in hs), dtype=np.int64, count=len(hs)
    )
    n = len(lens)
    if n == 0:
        return pd.Series([], dtype="int64")
    if lens.sum() == 0:
        return pd.Series(np.zeros(n, dtype=np.int64))
    flat = np.concatenate(
        [np.asarray(x, dtype=np.int64) for x, m in zip(hs, lens) if m]
    ).astype(np.uint64)
    shifts = np.arange(64, dtype=np.uint64)
    bits = ((flat[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
    contrib = 2 * bits - 1  # (n_tokens, 64) of +-1
    # reduceat over nonempty-segment starts only (a trailing empty
    # segment would index past the end of contrib)
    nz = lens > 0
    starts = np.concatenate(([0], np.cumsum(lens)))[:-1][nz]
    votes_nz = np.add.reduceat(contrib, starts, axis=0)  # (nonempty, 64)
    packed_nz = (
        ((votes_nz > 0).astype(np.uint64) << shifts[None, :]).sum(
            axis=1, dtype=np.uint64
        )
    ).astype(np.int64)
    packed = np.zeros(n, dtype=np.int64)
    packed[nz] = packed_nz
    return pd.Series(packed)


def _simhash_udf(hs):
    """The fold as a pandas UDF over a column of token-hash arrays. It is
    wrapped per call, not once at import: its JVM twin keeps the Python
    accumulator of the SparkContext it was first used under, so after
    that context stops every task of a new one logs "Failed to update
    accumulator" against the dead context."""
    return pandas_udf(_simhash_fold, "long")(hs)


def simhash_col(text_col: str = "text"):
    """The SimHash signature as a composable Column (JVM word-hash
    array -> vectorized bit-vote kernel), for one-pass signature
    profiles that fold several per-doc hashes into one select."""
    hs = F.transform(F.split(text_col, " "), lambda t: F.xxhash64(t))
    return _simhash_udf(hs).alias("simhash")


def simhash(docs: DataFrame, bits: int = 64) -> DataFrame:
    """64-bit SimHash over word tokens (per-bit majority vote of token
    xxhash64 values).

    Pure map stage, no shuffle: tokens hashed once JVM-side into a
    row-local array<long>, then the (tokens x 64) vote and bit packing
    run as one vectorized numpy kernel per Arrow batch. (An explode +
    64-column groupBy shuffles |tokens| rows; an interpreted
    higher-order-function fold is ~30x slower — both rejected.)
    """
    hs = docs.select(
        "doc_id",
        F.transform(F.split("text", " "), lambda t: F.xxhash64(t)).alias("hs"),
    )
    # unordered on purpose: consumers that join on the signature
    # (simhash_near_dup_pairs) must not inherit a useless sort
    return hs.select("doc_id", _simhash_udf("hs").alias("simhash"))


def simhash_near_dup_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with hamming(simhash_a, simhash_b) <= k.

    Pigeonhole banding: split the 64-bit signature into k+1 chunks —
    any pair within hamming k agrees EXACTLY on >= 1 chunk, so the
    candidate join is an equi-join on (chunk_id, chunk_value) buckets
    (shuffle ~ bucket sizes, recall exactly 1 by construction), then
    candidates are verified with a real popcount. No N^2 anywhere.
    """
    n_chunks = max_hamming + 1
    bits_per = 64 // n_chunks
    sig = simhash(docs)

    # chunk i = bits [i*bits_per, (i+1)*bits_per) as a small int; the
    # remainder bits fold into the last chunk
    def chunk_expr(i: int):
        width = bits_per if i < n_chunks - 1 else 64 - bits_per * (n_chunks - 1)
        mask = (1 << width) - 1
        return F.shiftrightunsigned("simhash", i * bits_per).bitwiseAND(
            F.lit(mask)
        )

    chunks = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(*[chunk_expr(i) for i in range(n_chunks)])
        ).alias("chunk_id", "chunk_val"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(b, ["chunk_id", "chunk_val"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.simhash").alias("sig_b"),
        )
    )
    # verify BEFORE deduplicating: the popcount is a few cycles per
    # candidate, so filtering first shrinks the distinct's shuffle to
    # true near-dups (a pair matching in several chunks dedups the
    # same either way). No global sort — output is a pair *set*.
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


def keep_latest(df: DataFrame, keys: list[str], order_col: str, tie_col: str) -> DataFrame:
    """O7 analog: DISTINCT ON (keys) ORDER BY order_col DESC — the
    reference's keep-latest dedup (PrecalculatedTopService.java:256-271).

    Implemented as max_by over a (order, tie) struct rather than a
    window row_number: an aggregate gets map-side partial aggregation,
    so a hot key reduces to one row per task BEFORE the shuffle — a
    window would funnel every row of the hot key through one partition
    (the skew failure mode at 10^12 rows)."""
    payload = [c for c in df.columns if c not in keys]
    agg = df.groupBy(*keys).agg(
        F.max_by(
            F.struct(*[F.col(c) for c in payload]),
            F.struct(F.col(order_col), F.col(tie_col)),
        ).alias("_top")
    )
    out = agg.select(
        *keys, *[F.col(f"_top.{c}").alias(c) for c in payload]
    )
    return out.select(*df.columns)


def _cc_star(edges: DataFrame, max_iters: int) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014): converges in O(log^2 n) rounds *regardless of component
    diameter*, and every round's shuffle volume is bounded by the live
    edge count — a billion-row component or a million-long dup chain
    never funnels through a growing per-node label frontier.

    Input: undirected pair edges ``(src, dst)``. Output: one
    ``(doc_id, label)`` row per NON-ROOT node of a non-singleton
    component, label = component minimum. Roots and singletons are
    labelled by the caller's coalesce-to-self.

    Each round:
    - large-star: every strictly-larger neighbour of u re-points at
      ``min(Γ(u) ∪ {u})`` — emitted edges keep the child>parent
      orientation.
    - small-star: for each child u, all of u's parents (and u itself)
      re-point at u's minimum parent.
    Fixed point = a star forest (each child points at its component
    min). Convergence is exact: same edge count AND empty anti-join —
    never a hash-sum heuristic that could split a component silently.
    """
    e = (
        edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()  # constant-size lineage across rounds
    )
    n_edges = e.count()
    if n_edges == 0:
        return e.select(F.col("src").alias("doc_id"), F.col("dst").alias("label"))
    converged = False
    for _ in range(max_iters):
        # large-star over the symmetric neighbourhood
        sym = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = (
            sym.groupBy("src")
            .agg(F.min("dst").alias("_mn"))
            .select("src", F.least("src", "_mn").alias("m"))
        )
        large = (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )
        # small-star over the child>parent edges
        mins2 = large.groupBy("src").agg(F.min("dst").alias("m"))
        new_e = (
            large.join(mins2, "src")
            .filter(F.col("dst") != F.col("m"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .union(mins2.select("src", F.col("m").alias("dst")))
            .distinct()
            .localCheckpoint()
        )
        new_n = new_e.count()
        if new_n == n_edges and (
            new_e.join(e, ["src", "dst"], "left_anti").limit(1).count() == 0
        ):
            converged = True
            e = new_e
            break
        e, n_edges = new_e, new_n
    if not converged:
        raise RuntimeError(
            f"star connected-components did not converge within {max_iters} "
            "rounds (bound is O(log^2 n)); raise max_iters"
        )
    # fixed point is a star forest: each child has exactly one parent
    # (min(dst) is a defensive no-op there)
    return e.groupBy(F.col("src").alias("doc_id")).agg(
        F.min("dst").alias("label")
    )


def near_dup_clusters(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    threshold: float = JACCARD_THRESHOLD,
    max_iters: int = 25,
    algorithm: str = "star",
) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the verified
    near-dup pair graph, one row per document with
    ``(doc_id, cluster_id, is_keeper)`` — cluster_id = min doc_id of
    the component, keeper = that minimum (the same keeper rule as
    ``exact_dedup``). This is the operator a dedup pipeline actually
    deletes by: pairs alone don't say which rows to keep when dups
    chain (a~b, b~c).

    ``pairs`` defaults to ``minhash_lsh_pairs`` (the scale path, whose
    verified output equals the all-pairs baseline at the threshold).

    ``algorithm`` picks the components plan; both produce identical
    output (pytest-pinned equality):

    - ``"star"`` (default): alternating large-star/small-star (see
      ``_cc_star``) — O(log^2 n) rounds REGARDLESS of component
      diameter, bounded per-round shuffle. Default because diameter is
      a property of the data, not the plan: an incremental crawl where
      dups chain a->b->c->... (or one extreme billion-row component)
      would need diameter-many rounds under label propagation, and the
      operator cannot know the diameter in advance.
    - ``"label_prop"``: distributed min-label propagation — each
      iteration is one join + groupBy over the label table
      (labels(x) <- min(labels(x), min of neighbours' labels)),
      converging in O(component diameter) rounds. Slightly cheaper per
      round (one groupBy vs star's two) — the opt-in for graphs KNOWN
      shallow, e.g. single-snapshot near-dup graphs at thresholds
      >= 0.8. Each iteration is localCheckpoint()ed so the plan/lineage
      stays constant-size across rounds, and convergence is detected
      with a count of changed labels (a small aggregate job on the
      label table, NOT a collect of it).
    """
    if algorithm not in ("label_prop", "star"):
        raise ValueError(
            f"algorithm must be 'label_prop' or 'star', got {algorithm!r}"
        )
    if pairs is None:
        pairs = minhash_lsh_pairs(docs, threshold=threshold)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    if algorithm == "star":
        labels = _cc_star(edges, max_iters)
        return docs.select("doc_id").join(labels, "doc_id", "left").select(
            "doc_id",
            F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster_id"),
            (
                F.coalesce(F.col("label"), F.col("doc_id")) == F.col("doc_id")
            ).alias("is_keeper"),
        )
    # symmetric neighbour list; nodes = every endpoint
    nbrs = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)
    labels = (
        nbrs.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=False)
    )
    converged = False
    for _ in range(max_iters):
        nbr_min = (
            nbrs.join(labels, nbrs.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr_min, labels.doc_id == nbr_min.src, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("_changed"),
            )
            .localCheckpoint()  # constant-size lineage per round
        )
        changed = new_labels.filter(F.col("_changed")).limit(1).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            converged = True
            break
    if not converged:
        # an unconverged label table would assign several cluster_ids
        # (and keepers) to ONE true component — silently wrong dedup.
        raise RuntimeError(
            f"near_dup_clusters did not converge within {max_iters} rounds "
            "(a component's diameter exceeds max_iters); raise max_iters — "
            "rounds are O(diameter), not O(docs) — or use "
            "algorithm='star' (O(log^2 n) rounds regardless of diameter)"
        )
    # singletons (docs in no pair) are their own cluster
    return docs.select("doc_id").join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster_id"),
        (F.coalesce(F.col("label"), F.col("doc_id")) == F.col("doc_id")).alias(
            "is_keeper"
        ),
    )


def paragraph_dedup(
    docs: DataFrame,
    delim: str = "\n",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Paragraph-level exact dedup with document rewrite (the
    RefinedWeb / MassiveText cleaning step): split every document on
    ``delim``, drop every paragraph instance whose exact content
    already occurred earlier in the corpus (global first occurrence —
    ordered by (doc_id, position) — is the keeper), and re-assemble
    each document from its surviving paragraphs in original order.

    Output: (doc_id, n_paras, n_dup_paras, text_clean) where n_paras
    counts the doc's nonblank paragraphs, n_dup_paras the instances
    removed, and text_clean is the rewritten document (empty string
    when nothing survives, including NULL/empty input text).
    Normalization rule (documented, pinned by tests): paragraphs are
    compared AFTER trim(); whitespace-only paragraphs are dropped from
    the rewrite entirely and count in neither column.

    Scale plan: three data-sized exchanges and nothing quadratic —
    (1) keeper election is a groupBy on md5(paragraph) with a
    min(struct(doc_id, pos)) aggregate: partial map-side combine, so a
    boilerplate paragraph duplicated a billion times arrives at its
    reducer as one row per upstream partition (no hot-key funnel);
    (2) the kept/dropped decision joins instances back on the hash —
    build side is one row per DISTINCT paragraph, AQE splits skewed
    probe partitions; (3) re-assembly is a groupBy on doc_id whose
    state is bounded by the document's own kept paragraphs
    (sort_array over positions pins order without a window). The
    expensive payload (paragraph text) moves through shuffles (1) and
    (3) once each — the unavoidable minimum for a global rewrite.
    Reference parity: none (DB-key row dedup only, schema.sql:35);
    §2-extension op per the brief.
    """
    if "\\E" in delim:
        raise ValueError(r"delim may not contain the regex quote-end '\E'")
    paras = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode_outer(
                # \Q..\E: split on the LITERAL delimiter (F.split takes
                # a regex; an unquoted "||" would split every char)
                F.split(
                    F.coalesce(F.col(text_col), F.lit("")),
                    "\\Q" + delim + "\\E",
                )
            ).alias("pos", "para"),
        )
        .withColumn("para", F.trim("para"))
        .where(F.col("para") != "")
    )
    keeper = paras.groupBy(F.md5("para").alias("h")).agg(
        F.min(F.struct("doc_id", "pos")).alias("keeper")
    )
    kept = (
        paras.withColumn("h", F.md5("para"))
        .join(keeper, "h")
        .withColumn(
            "is_kept",
            (F.col("keeper.doc_id") == F.col("doc_id"))
            & (F.col("keeper.pos") == F.col("pos")),
        )
    )
    per_doc = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.count(F.when(~F.col("is_kept"), 1)).alias("n_dup_paras"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("is_kept"), F.struct("pos", "para"))
                    )
                ),
                lambda s: s["para"],
            ),
            delim,
        ).alias("text_clean"),
    )
    # docs whose paragraphs ALL dropped (or NULL/empty text) still get a row
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_paras", F.lit(0)).alias("n_paras"),
            F.coalesce("n_dup_paras", F.lit(0)).alias("n_dup_paras"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


def near_dedup_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    n_funcs: int = MINHASH_FUNCS,
    rows_per_band: int = LSH_ROWS,
) -> DataFrame:
    """Rows of ``new_df`` with NO verified near-duplicate (word-n-gram
    Jaccard >= threshold) in ``corpus_df`` — the fuzzy form of
    ``sampling.dedup_incremental``: yesterday's dumps are already
    deduped, today's crawl is checked against them at NEAR-dup level
    (the cross-dump fuzzy dedup step of CCNet/RefinedWeb-style
    pipelines). Within-batch duplicates are out of scope by design —
    compose with ``near_dup_clusters(new_df)`` for that.

    The two id spaces may overlap (each dump numbers its own docs), so
    this is NOT expressible as minhash_lsh_pairs over a union: sides
    stay separate end to end.

    Plan: minhash signatures are a pure map stage on each side; banded
    candidates come from a new-bands x corpus-bands equi-join on
    (band_id, band_hash) — same recall math as minhash_lsh_pairs
    (miss probability (1 - t^r)^b, < 1e-28 at j >= 0.8 with r=2, b=64,
    so the surviving set equals the exhaustive cross-comparison and the
    all-cross-pairs SQL oracle). Exact verify shingles ONLY docs that
    appear in a candidate pair (candidates << corpus at scale), then
    one left-anti join drops matched new rows. Shuffle budget: band
    exchange on each side, the verify's candidate-bounded shingle join,
    and the anti-join on new-batch ids; corpus text beyond candidate
    docs never moves. For a standing daily pipeline, persist the
    corpus's (band_id, band_hash, doc_id) table once, bucketed by band
    hash: each new dump then joins with zero corpus-side shuffle — the
    fuzzy analog of the bucketed-signature note on dedup_incremental.
    """
    n_bands = n_funcs // rows_per_band

    def bands_of(docs: DataFrame, id_alias: str) -> DataFrame:
        sig = minhash_signatures(docs, n_funcs)
        return sig.select(
            F.col("doc_id").alias(id_alias),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_bands - 1)),
                    lambda b: F.xxhash64(
                        F.slice("sig", b * rows_per_band + 1, rows_per_band)
                    ),
                )
            ).alias("band_id", "band_hash"),
        )

    new_df = spread(new_df)
    cand = (
        bands_of(new_df, "new_id")
        .join(bands_of(corpus_df, "corp_id"), ["band_id", "band_hash"])
        .select("new_id", "corp_id")
        .distinct()
    )

    def cand_shingles(docs: DataFrame, id_alias: str) -> tuple:
        pruned = docs.select(F.col("doc_id").alias(id_alias), "text").join(
            cand.select(id_alias).distinct(), id_alias, "left_semi"
        )
        arr = shingle_arrays(pruned.withColumnRenamed(id_alias, "doc_id"))
        sh = arr.select(
            F.col("doc_id").alias(id_alias), F.explode("sh_list").alias("shingle")
        )
        sz = arr.select(
            F.col("doc_id").alias(id_alias), F.size("sh_list").alias(f"n_{id_alias}")
        )
        return sh, sz

    new_sh, new_sz = cand_shingles(new_df, "new_id")
    corp_sh, corp_sz = cand_shingles(corpus_df, "corp_id")
    inter = (
        cand.join(new_sh, "new_id")
        .join(corp_sh, ["corp_id", "shingle"])
        .groupBy("new_id", "corp_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    union_sz = F.col("n_new_id") + F.col("n_corp_id") - F.col("inter")
    dup_new = (
        inter.join(new_sz, "new_id")
        .join(corp_sz, "corp_id")
        .where(F.col("inter") / union_sz >= threshold)
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
    )
    return new_df.join(dup_new, "doc_id", "left_anti")
