"""Text-analysis operators over the documents table: language ID
(stopword heuristic), quality scoring, token counting, fingerprinting.
All native Catalyst expressions except the rolling-hash fingerprint
(xxhash64 — still JVM-side).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# tiny per-language stopword lists for the n-gram/stopword heuristic;
# ties broken by fixed priority (en > es > de > fr > zh)
LANG_STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "is", "in", "value", "table", "row"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "para"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "zu", "auf"],
    "fr": ["le", "la", "les", "de", "et", "un", "est", "dans", "pour", "que"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "他", "这", "不"],
}
LANG_PRIORITY = ["en", "es", "de", "fr", "zh"]

# corpus_report's whitespace: space, tab, newline, CR, form feed and
# vertical tab, spelled out so that Java regex, RE2 (the DuckDB oracle)
# and Python's re all read the same class (their ``\s`` differ on \v)
WS_CLASS = r"[ \t\n\r\f\x0B]"


def _stopword_count(text_col, words: list[str]):
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.regexp_count(F.lower(text_col), F.lit(pat))


def lang_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    out = df
    for lang, words in LANG_STOPWORDS.items():
        out = out.withColumn(f"score_{lang}", _stopword_count(F.col(text_col), words))
    return out


def _argmax_lang(scores: dict) -> tuple:
    """(predicted_lang, best_score) Columns from per-language score
    Columns — THE argmax-with-fixed-tie-priority, shared by ``lang_id``
    and ``lang_pred_cols`` so the tie rule cannot desynchronize."""
    pred = None
    best = None
    for lang in LANG_PRIORITY:
        s = scores[lang]
        if pred is None:
            pred, best = F.lit(lang), s
        else:
            pred = F.when(s > best, F.lit(lang)).otherwise(pred)
            best = F.when(s > best, s).otherwise(best)
    return pred, best


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Predicted language = argmax stopword hits, fixed tie priority."""
    scored = lang_scores(df, text_col)
    pred, best = _argmax_lang(
        {lang: F.col(f"score_{lang}") for lang in LANG_STOPWORDS}
    )
    return scored.withColumn("predicted_lang", pred).withColumn("best_score", best)


def lang_pred_cols(text_col: str = "text") -> list:
    """(predicted_lang, best_score) as composable Columns — the same
    argmax as ``lang_id`` (shared ``_argmax_lang``), built inline so a
    one-pass profile select needs no score_* intermediate columns."""
    pred, best = _argmax_lang(
        {
            lang: _stopword_count(F.col(text_col), words)
            for lang, words in LANG_STOPWORDS.items()
        }
    )
    return [pred.alias("predicted_lang"), best.alias("best_score")]


def quality_gate_expr(text_col: str = "text"):
    """The boolean quality gate alone (word count in [10, 1000] and
    alpha ratio >= 50%) as a Column, for composition into filters
    (curation funnel) without materializing the feature projection."""
    t = F.col(text_col)
    n_words = F.size(F.split(t, " "))
    n_chars = F.length(t)
    alpha_chars = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    return (
        (n_words >= 10)
        & (n_words <= 1000)
        & (F.floor(F.lit(100.0) * alpha_chars / n_chars) >= 50)
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/word/stopword/punct features + a boolean quality gate.

    Integer-only outputs (x100 fixed-point for ratios) so results are
    engine-portable for the oracle comparison.
    """
    return df.select("doc_id", *quality_feature_cols(text_col))


def quality_feature_cols(text_col: str = "text") -> list:
    """The quality-feature output as composable Columns — the single
    source ``quality_features`` and the merged ``doc_stats`` both build
    from (a future tweak cannot desynchronize them)."""
    t = F.col(text_col)
    n_words = F.size(F.split(t, " "))
    n_chars = F.length(t)
    alpha_chars = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    punct_chars = F.length(F.regexp_replace(t, r"[^.,;:!?]", ""))
    en_stop = _stopword_count(t, LANG_STOPWORDS["en"])
    return [
        n_words.alias("n_words"),
        n_chars.alias("n_chars_calc"),
        F.floor(F.lit(100.0) * alpha_chars / n_chars).cast("long").alias("alpha_ratio_x100"),
        F.floor(F.lit(100.0) * punct_chars / n_chars).cast("long").alias("punct_ratio_x100"),
        F.floor(F.lit(100.0) * en_stop / n_words).cast("long").alias("stopword_ratio_x100"),
        quality_gate_expr(text_col).alias("is_high_quality"),
    ]


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + a BPE-ish estimate.

    The BPE-ish regex splits on word/number/punct boundaries (a crude
    GPT-2-style pre-tokenizer); the estimate column is chars/4 — the
    standard quick sizing heuristic for training-data budgeting.
    """
    return df.select("doc_id", *token_count_cols(text_col))


def token_count_cols(text_col: str = "text") -> list:
    """The token-count output as composable Columns (shared by
    ``token_counts`` and ``doc_stats``)."""
    t = F.col(text_col)
    return [
        F.size(F.split(F.trim(t), r"\s+")).alias("ws_tokens"),
        F.regexp_count(t, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]")).alias(
            "bpe_pieces"
        ),
        F.ceil(F.length(t) / F.lit(4.0)).cast("long").alias("chars_div4"),
    ]


def doc_stats(
    df: DataFrame, text_col: str = "text", carry_cols: tuple[str, ...] = ()
) -> DataFrame:
    """One-pass per-document profile: quality features + token counts +
    language ID in a SINGLE narrow select (zero shuffle; all Catalyst
    expressions fuse into the scan). This is how the three per-doc
    analyses should ship at 100 TB — one read of the corpus, not three:
    the operators stay available individually (``quality_features``,
    ``token_counts``, ``lang_id``) but the driver query runs this
    combined form.

    ``carry_cols``: extra input columns to pass through unchanged (e.g.
    a ground-truth ``lang`` label) — the operator itself requires only
    ``doc_id`` and ``text_col``.
    """
    return df.select(
        "doc_id",
        *carry_cols,
        *quality_feature_cols(text_col),
        *token_count_cols(text_col),
        *lang_pred_cols(text_col),
    )


def fingerprint_cols(text_col: str = "text", window: int = 8) -> list:
    """The fingerprint output as composable Columns (full-text hash +
    min rolling-window hash), so one-pass profile queries can fold the
    fingerprint into a wider select without a join."""
    w = F.split(F.col(text_col), " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(w) - window, F.lit(0))),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(w, i + 1, window))),
    )
    return [
        F.xxhash64(F.col(text_col)).alias("full_hash"),
        F.array_min(grams).alias("min_window_hash"),
    ]


def fingerprint(df: DataFrame, text_col: str = "text", window: int = 8) -> DataFrame:
    """Winnowing-style document fingerprint: min rolling-window hash of
    word n-grams + full-text hash. Deterministic; used for fast
    candidate blocking upstream of exact dedup."""
    return df.select("doc_id", *fingerprint_cols(text_col, window)).orderBy("doc_id")


# PII-style redaction patterns — valid with identical semantics in both
# Java regex (Spark) and RE2 (DuckDB): ASCII classes only, no
# backrefs/lookaround, greedy quantifiers on unambiguous shapes.
REDACT_PATTERNS: list[tuple[str, str, str]] = [
    ("ipv4", r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}", "<ip>"),
    ("longnum", r"\d{9,}", "<num>"),
    ("userid", r"\b(?:user|svc_acct_)\d+", "<user>"),
]


def redact_pii(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Detect-and-mask identifier-like spans (IPv4s, long digit runs
    such as epochs/card-like numbers, user-id handles) in free text —
    the scrubbing pass a training-data pipeline runs before publishing
    a corpus.

    Output: (doc_id, n_<kind> per pattern, redacted_sig). Each count is
    the pattern's matches over the ORIGINAL text, evaluated
    INDEPENDENTLY — detector tallies, not a partition: spans may be
    claimed by more than one counter (e.g. 'user123456789' counts one
    userid AND one longnum). redacted_sig is md5(text after applying
    the replacements sequentially in REDACT_PATTERNS order), so the
    earliest-listed pattern wins contested spans in the masked output
    and a later count may exceed its surviving masks. Both sides of the
    oracle compute the same two definitions, so they hash-match.

    Scale posture: pure narrow map — regexp_count/regexp_replace are
    JVM codegen expressions, the stage fuses into the scan, and NOTHING
    shuffles at any scale (plan-asserted in tests). Reference parity:
    the reference masks nothing; this is a §2-extension op. Patterns
    are restricted to the dialect intersection so the DuckDB oracle
    reproduces byte-identical redacted text.
    """
    t = F.col(text_col)
    cols = [F.col(id_col).alias("doc_id")]
    for name, pat, _ in REDACT_PATTERNS:
        cols.append(F.regexp_count(t, F.lit(pat)).cast("long").alias(f"n_{name}"))
    red = t
    for _, pat, rep in REDACT_PATTERNS:
        red = F.regexp_replace(red, pat, rep)
    cols.append(F.md5(red).alias("redacted_sig"))
    return df.select(*cols)


def redact_pii_oracle_select(text_sql: str) -> str:
    """The DuckDB SELECT-list twin of redact_pii over a text expression."""
    parts = []
    for name, pat, _ in REDACT_PATTERNS:
        parts.append(
            f"CAST(length(regexp_extract_all({text_sql}, '{pat}')) AS BIGINT) AS n_{name}"
        )
    red = text_sql
    for _, pat, rep in REDACT_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{rep}', 'g')"
    parts.append(f"md5({red}) AS redacted_sig")
    return ", ".join(parts)


def ngram_vocab(
    docs: DataFrame, n: int = 3, k: int = 100, text_col: str = "text"
) -> DataFrame:
    """Top-k word n-grams by DOCUMENT frequency (corpus vocabulary /
    contamination analysis: which n-grams appear in the most docs).

    Scale plan: the per-doc distinct n-gram set is a row-local array
    (dedup.shingle_arrays — no explode+distinct shuffle), the count is
    one groupBy with map-side partial aggregation (Zipf-heavy keys
    combine before the shuffle, so no salting needed for a plain
    count), and the final is TakeOrderedAndProject with the tie-break
    pinned (doc_freq DESC, shingle ASC).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def distinct_shingles(words: pd.Series) -> pd.Series:
        # Python loop per row, C-speed join/set inside — measured ~4x
        # faster than the Catalyst higher-order concat_ws/slice
        # formulation, whose per-element lambdas run interpreted
        # (dedup.shingle_arrays keeps that form as the oracle twin).
        return pd.Series(
            [
                []
                if w is None or len(w) < n
                else list({" ".join(w[i : i + n]) for i in range(len(w) - n + 1)})
                for w in words
            ]
        )

    sh = docs.select(
        F.explode(
            distinct_shingles(F.split(F.col(text_col), " "))
        ).alias("shingle")
    )
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("shingle"))
        .limit(k)
    )


def corpus_report(
    df: DataFrame, text_col: str = "text", group_cols: tuple[str, ...] = ("source",)
) -> DataFrame:
    """Per-source corpus composition report — the "dataset card" table a
    training-data pipeline publishes per ingest: document and token
    volume, exact-duplication rate (docs AND the tokens hard dedup would
    reclaim), and quality-gate share, one row per ``group_cols`` value.
    The batch analog of the reference's precomputed statistics tables
    (SURVEY §2.7 C2, ``service/LogFileParser.java`` stats pass), widened
    to the corpus-curation axes.

    Scale plan (100 TB): one scan computes every per-doc feature in the
    projection (md5 content hash, whitespace token count, quality gate —
    all Catalyst expressions, no Python); aggregation is two map-side-
    combining groupBys. Shuffle 1 keys on (group, md5) — uniform by
    construction, a billion-duplicate page pre-aggregates to one partial
    per map task, and only ~50-byte partials travel (the text payload
    never moves). Shuffle 2 is bounded by the distinct-text count, its
    output by the group cardinality. No windows, no joins, no collect.

    Integer/fixed-point outputs (x100 ratios) for engine portability.
    The quality clause ``2*alpha_chars >= n_chars`` is the
    division-free equivalent of ``quality_gate_expr``'s
    ``floor(100*alpha/n_chars) >= 50`` (for n_chars > 0, which the
    clause requires explicitly — empty text is never high-quality).
    NULL text is treated as empty (one content group), matching the
    COALESCE in the DuckDB oracle. Whitespace tokens are counted after
    trimming every ``WS_CLASS`` character from both ends (``F.trim``
    strips spaces only), and a text that trims to empty has 0 tokens.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    n_words = F.size(F.split(t, " "))
    n_chars = F.length(t)
    alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    hq = (
        (n_words >= 10)
        & (n_words <= 1000)
        & (alpha * 2 >= n_chars)
        & (n_chars > 0)
    ).cast("long")
    # \z, not $: Java's $ also matches before a final line terminator
    trimmed = F.regexp_replace(t, rf"^{WS_CLASS}+|{WS_CLASS}+\z", "")
    ws = F.when(trimmed == "", 0).otherwise(F.size(F.split(trimmed, f"{WS_CLASS}+")))
    g = list(group_cols)
    per_text = (
        df.select(*g, F.md5(t).alias("h"), ws.alias("ws"), hq.alias("hq"))
        .groupBy(*g, "h")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            # identical text => identical ws/hq; MIN is the associative
            # way to carry one representative through the combine
            F.min("ws").alias("ws"),
            F.min("hq").alias("hq"),
        )
    )
    n_docs = F.sum("cnt")
    n_distinct = F.count(F.lit(1))
    return (
        per_text.groupBy(*g)
        .agg(
            n_docs.alias("n_docs"),
            n_distinct.alias("n_distinct_texts"),
            (n_docs - n_distinct).alias("n_dup_docs"),
            F.floor(100.0 * (n_docs - n_distinct) / n_docs)
            .cast("long")
            .alias("dup_rate_x100"),
            F.sum((F.col("cnt") - 1) * F.col("ws")).alias("dup_ws_tokens"),
            F.sum(F.col("cnt") * F.col("ws")).alias("total_ws_tokens"),
            F.floor(100.0 * F.sum(F.col("cnt") * F.col("ws")) / n_docs)
            .cast("long")
            .alias("mean_ws_tokens_x100"),
            F.sum(F.col("cnt") * F.col("hq")).alias("n_hq_docs"),
            F.floor(100.0 * F.sum(F.col("cnt") * F.col("hq")) / n_docs)
            .cast("long")
            .alias("hq_rate_x100"),
        )
        .orderBy(*g)
    )
