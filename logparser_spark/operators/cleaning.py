"""C4-style heuristic cleaning (Raffel et al. 2020, "Exploring the
Limits of Transfer Learning", §2.2 — the canonical web-text cleaning
pass): line-level keep rules plus page-level drop rules.

Rules implemented (the syntax-only subset; the paper's remaining steps
map to operators that already exist here — three-sentence-span dedup ->
``tokenstats.dup_span_report``, language filter -> ``textstats.lang_id``,
bad-words list -> a ``mix_sample``-style gate):

- keep a LINE only if it ends in terminal punctuation (. ! ? ")
  and has >= ``min_words_per_line`` words;
- drop a PAGE if fewer than ``min_lines`` lines survive, or it
  contains "lorem ipsum" (boilerplate) or "{" (code).

Scale posture: one pure Catalyst projection — split / filter / size /
array_join higher-order functions, zero shuffle, fuses into the scan.
HOF lambdas evaluate interpreted (not codegen'd), which is fine for a
cleaning pass that runs once per corpus ingest; the per-row cost is
linear in text size with no Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TERMINAL_RX = r'[.!?"]\s*$'


def c4_kept_lines_from(text: Column, min_words_per_line: int = 5) -> Column:
    """array<string> of the lines the C4 line rules keep."""
    lines = F.split(text, r"\n")
    return F.filter(
        lines,
        lambda l: (l.rlike(TERMINAL_RX))
        & (F.size(F.split(F.trim(l), r"\s+")) >= min_words_per_line),
    )


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 5,
    min_lines: int = 3,
) -> DataFrame:
    """Per-document C4 cleaning verdict and cleaned text.

    Output: (doc_id, n_lines, n_lines_kept, is_kept, clean_text) —
    ``clean_text`` is the kept lines rejoined (NULL for dropped pages so
    a downstream writer can't accidentally train on them).
    """
    # NULL text pins to the empty-page case (is_kept FALSE, zero
    # counts), matching the rest of the curation family — a NULL
    # is_kept would silently escape both filter(is_kept) and
    # filter(~is_kept) drop-accounting
    txt = F.coalesce(F.col(text_col), F.lit(""))
    kept = c4_kept_lines_from(txt, min_words_per_line)
    page_ok = (
        (F.size(kept) >= min_lines)
        & ~F.lower(txt).contains("lorem ipsum")
        & ~txt.contains("{")
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.when(F.length(txt) == 0, F.lit(0))
        .otherwise(F.size(F.split(txt, r"\n")))
        .alias("n_lines"),
        F.size(kept).alias("n_lines_kept"),
        page_ok.alias("is_kept"),
        F.when(page_ok, F.array_join(kept, "\n")).alias("clean_text"),
    )
