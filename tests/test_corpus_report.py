"""corpus_report (per-source dataset-card table) vs an independent
pure-python model, including the NULL/empty-text and duplicate-heavy
edges; plus the zero-payload-shuffle plan shape."""

import math
import re

from pyspark.sql import functions as F  # noqa: F401
from pyspark.sql import types as T

from logparser_spark.operators import textstats

HQ_TEXT = "the value of the table row is in the data and more words here"  # 14 words, alpha-heavy
LOW_TEXT = "x 1 2 3"  # too few words
PUNCT_TEXT = ". , ; " * 20 + "end"  # enough words, alpha ratio < 50%

ROWS = [
    # (doc_id, source, text)
    ("d1", "web", HQ_TEXT),
    ("d2", "web", HQ_TEXT),          # exact dup of d1
    ("d3", "web", LOW_TEXT),
    ("d4", "web", None),             # NULL -> treated as empty
    ("d5", "web", ""),               # empty, same content group as d4
    ("d6", "books", HQ_TEXT),        # same text, different source: NOT a dup across groups
    ("d7", "books", PUNCT_TEXT),
    ("d8", "books", PUNCT_TEXT),
    ("d9", "books", PUNCT_TEXT),
    ("d10", "feeds", "\tfoo bar\n"),  # tab/newline padding: 2 tokens, not 4
    ("d11", "feeds", " \n\t\r "),      # whitespace only: 0 tokens, like ""
    ("d12", "feeds", "a\x0bb  c\r\n"),  # vertical tab separates tokens: 3
    ("d13", "feeds", "a \u2028"),       # U+2028 is a token, not whitespace: 2
]


def _ws_tokens(t: str) -> int:
    # maximal runs of non-whitespace (space, tab, newline, CR, form feed,
    # vertical tab); an empty or all-whitespace text has none
    return len(re.findall(r"[^ \t\n\r\f\v]+", t))


def _hq(t: str) -> bool:
    n_words = len(t.split(" "))
    n_chars = len(t)
    alpha = sum(c.isalpha() and ord(c) < 128 and c.lower() in "abcdefghijklmnopqrstuvwxyz" for c in t)
    return 10 <= n_words <= 1000 and 2 * alpha >= n_chars and n_chars > 0


def _model(rows):
    per_source: dict[str, dict] = {}
    groups: dict[tuple, list] = {}
    for _id, src, text in rows:
        t = text if text is not None else ""
        groups.setdefault((src, t), []).append(t)
    for (src, t), members in groups.items():
        s = per_source.setdefault(
            src, {"n_docs": 0, "n_distinct": 0, "dup_ws": 0, "tot_ws": 0, "n_hq": 0}
        )
        cnt, ws, hq = len(members), _ws_tokens(t), _hq(t)
        s["n_docs"] += cnt
        s["n_distinct"] += 1
        s["dup_ws"] += (cnt - 1) * ws
        s["tot_ws"] += cnt * ws
        s["n_hq"] += cnt * int(hq)
    out = {}
    for src, s in per_source.items():
        out[src] = {
            "n_docs": s["n_docs"],
            "n_distinct_texts": s["n_distinct"],
            "n_dup_docs": s["n_docs"] - s["n_distinct"],
            "dup_rate_x100": math.floor(
                100.0 * (s["n_docs"] - s["n_distinct"]) / s["n_docs"]
            ),
            "dup_ws_tokens": s["dup_ws"],
            "total_ws_tokens": s["tot_ws"],
            "mean_ws_tokens_x100": math.floor(100.0 * s["tot_ws"] / s["n_docs"]),
            "n_hq_docs": s["n_hq"],
            "hq_rate_x100": math.floor(100.0 * s["n_hq"] / s["n_docs"]),
        }
    return out


def _docs_df(spark):
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    return spark.createDataFrame(ROWS, schema)


def test_corpus_report_matches_python_model(spark):
    got = {
        r["source"]: {k: r[k] for k in r.asDict() if k != "source"}
        for r in textstats.corpus_report(_docs_df(spark)).collect()
    }
    assert got == _model(ROWS)


def test_corpus_report_dup_edges(spark):
    rep = {r["source"]: r for r in textstats.corpus_report(_docs_df(spark)).collect()}
    web = rep["web"]
    # d1/d2 dup pair + d4/d5 (NULL==empty) dup pair -> 2 dup docs of 5
    assert web["n_docs"] == 5 and web["n_dup_docs"] == 2
    assert web["dup_rate_x100"] == 40
    # the HQ text counts twice (both copies are docs), LOW/empty never HQ
    assert web["n_hq_docs"] == 2
    books = rep["books"]
    # same HQ_TEXT under another source is NOT counted as its dup
    assert books["n_dup_docs"] == 2  # the PUNCT triple only
    assert books["n_hq_docs"] == 1  # d6; punct text fails the alpha clause


def test_corpus_report_whitespace_tokens(spark):
    """Leading/trailing tabs, newlines and CRs are trimmed like spaces,
    an all-whitespace or empty text counts 0 tokens, and a vertical tab
    separates tokens: feeds' texts hold 2 + 0 + 3 + 2 tokens."""
    rep = {r["source"]: r for r in textstats.corpus_report(_docs_df(spark)).collect()}
    assert rep["feeds"]["total_ws_tokens"] == 7
    assert rep["web"]["total_ws_tokens"] == 2 * 14 + 4  # d4/d5 (NULL, "") add 0


def test_corpus_report_plan_shape(spark, plan_nodes):
    """The text payload must not cross a shuffle: no exchange of the
    executed plan carries the text column — they move only the hash/
    group columns of the pre-aggregated partials."""
    df = textstats.corpus_report(_docs_df(spark))
    df.collect()  # the adaptive plan is final once executed
    exchanges = [
        n
        for n in plan_nodes(df._jdf.queryExecution().executedPlan())
        if n.getClass().getSimpleName() == "ShuffleExchangeExec"
    ]
    assert 1 <= len(exchanges) <= 3  # 2 agg exchanges + final range sort
    for ex in exchanges:
        out = ex.output()
        names = {out.apply(i).name() for i in range(out.size())}
        assert "text" not in names, names
