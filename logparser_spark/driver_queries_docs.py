"""Driver-contract queries over documents/embeddings — the
training-data-pipeline operators (dedup, similarity, text analysis)
with DuckDB oracles where SQL-expressible.

Engine-portability rules used throughout: fixed-point integers instead
of raw doubles (floor(x * 10^k)), md5 as the cross-engine content hash,
explicitly pinned tie-breaks on every top-k / argmax.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from logparser_spark.driver_queries import documents, embeddings
from logparser_spark.operators import dedup, multimodal, sampling, similarity, textstats

# ---------------------------------------------------------------------
# Spark builders
# ---------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    """Exact-dedup family under one driver row, kind-tagged (frees a
    slot of the 50-row sweep, loses neither oracle):

    - ``kind='exact'``: the corpus-wide md5-groupBy dedup table —
      (key=text_hash, id=keeper_doc_id, n=dup_count);
    - ``kind='incr'``: incremental dedup of an incoming batch against
      an existing corpus (anti-join on content signatures; at scale the
      corpus signature table is bucketed by hash so a daily delta joins
      with zero corpus-side shuffle) — the surviving batch rows as
      (key=lang|source, id=doc_id, n=1);
    - ``kind='soft'``: soft dedup — per-doc integer sampling weight
      ``10^6 // dup_count`` (down-weighting instead of dropping) as
      (key=text_hash, id=doc_id, n=weight_fp).
    """
    docs = documents(spark, sf_dir)
    exact = dedup.exact_dedup(docs).select(
        F.lit("exact").alias("kind"),
        F.col("text_hash").alias("key"),
        F.col("keeper_doc_id").cast("long").alias("id"),
        F.col("dup_count").cast("long").alias("n"),
    )
    soft = dedup.soft_dedup_weights(docs).select(
        F.lit("soft").alias("kind"),
        F.col("text_hash").alias("key"),
        F.col("doc_id").cast("long").alias("id"),
        F.col("weight_fp").cast("long").alias("n"),
    )
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    corpus = docs.where(bucket < _CORPUS_THR)
    new = docs.where(~(bucket < _CORPUS_THR))
    incr = sampling.dedup_incremental(new, corpus).select(
        F.lit("incr").alias("kind"),
        F.concat_ws("|", "lang", "source").alias("key"),
        F.col("doc_id").cast("long").alias("id"),
        F.lit(1).cast("long").alias("n"),
    )
    return exact.unionByName(incr).unionByName(soft)


def q_minhash_lsh(spark, sf_dir):
    """Both near-dup pair paths under one driver row, method-tagged:
    ``method='exact'`` is the quadratic-guarded all-pairs n-gram
    Jaccard baseline, ``method='lsh'`` the banded MinHash plan — whose
    verified output must EQUAL the baseline at this threshold (recall
    ~1 at j>=0.8 with r=2,b=64 — see dedup.py), so the oracle is the
    same Jaccard SQL selected twice."""
    docs = documents(spark, sf_dir)
    exact = dedup.ngram_jaccard_pairs(docs, threshold=0.8)
    lsh = dedup.minhash_lsh_pairs(docs, threshold=0.8)
    return exact.select(F.lit("exact").alias("method"), "*").unionByName(
        lsh.select(F.lit("lsh").alias("method"), "*")
    )


def q_doc_signatures(spark, sf_dir):
    """SimHash + winnowing fingerprint in ONE narrow select (zero
    shuffle, one corpus read — the per-doc hash family a dedup pipeline
    computes together). No global sort: driver/golden compares are
    order-insensitive. Rows-only check (hash families not in DuckDB);
    golden-pinned at 3 scales."""
    return documents(spark, sf_dir).select(
        "doc_id",
        dedup.simhash_col("text"),
        *textstats.fingerprint_cols("text"),
    )


def q_doc_stats(spark, sf_dir):
    """Quality features + token counts + language ID as one per-doc
    profile row (single narrow select — one corpus read instead of
    three; the individual operators stay available)."""
    return textstats.doc_stats(documents(spark, sf_dir), carry_cols=("lang",))


def q_corpus_report(spark, sf_dir):
    """Per-source corpus composition report (the dataset-card table):
    doc/token volume, exact-dup rate + tokens reclaimable by hard
    dedup, quality-gate share — one scan, two map-side-combining
    groupBys, the text payload never shuffles."""
    return textstats.corpus_report(documents(spark, sf_dir))


def q_near_dedup_incr(spark, sf_dir):
    """Cross-corpus FUZZY incremental dedup (the near-dup analog of
    dedup_exact's 'incr' branch): the corpus is the md5-bucket slice
    already ingested, the new batch is the rest; a new row is dropped
    iff a verified word-trigram Jaccard >= 0.8 match exists in the
    corpus. LSH recall is 1 - (1 - 0.8^2)^64 at the threshold, so the
    surviving set equals the exhaustive cross-comparison oracle."""
    docs = documents(spark, sf_dir)
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    corpus = docs.where(bucket < _CORPUS_THR)
    new = docs.where(~(bucket < _CORPUS_THR))
    return dedup.near_dedup_incremental(new, corpus, threshold=0.8).select(
        "doc_id", "lang", "source"
    )


def q_ngram_vocab(spark, sf_dir):
    return textstats.ngram_vocab(documents(spark, sf_dir), n=3, k=100)


def q_ann_brute(spark, sf_dir):
    return similarity.brute_topk(embeddings(spark, sf_dir), query_ids=list(range(10)), k=5)


def q_ann_approx(spark, sf_dir):
    """The two approximate-ANN paths (data-independent sign-LSH vs
    data-adaptive IVF-flat) under one driver row, union-tagged by
    method. Deterministic (seeded planes/centroids) -> golden-pinned;
    approximate by design, so no SQL oracle (recall vs ann_brute is
    measured in tests)."""
    e = embeddings(spark, sf_dir)
    lsh = similarity.lsh_topk(e, query_ids=list(range(10)), k=5)
    ivf = similarity.ivf_topk(e, query_ids=list(range(10)), k=5)
    return lsh.select(F.lit("lsh").alias("method"), "*").unionByName(
        ivf.select(F.lit("ivf").alias("method"), "*")
    )


def q_embed_near_dup(spark, sf_dir):
    """Exact near-dup pairs via the distributed block-pair path — no
    driver collect / full-matrix broadcast (the old baseline,
    cosine_near_dup_pairs, is now pytest-oracle-only). Exact, so it
    hash-matches the all-pairs SQL oracle."""
    return similarity.cosine_near_dup_blocked(embeddings(spark, sf_dir), threshold=0.35)


def q_embed_near_dup_lsh(spark, sf_dir):
    """Bucketed candidates + exact verify. At this dataset's moderate
    threshold (0.35 — its max pairwise cosine is ~0.5, barely apart
    from the random-pair bulk at ~90°) sign-LSH needs wide buckets for
    recall: 32 tables x 4 bits gives p(candidate) ~0.99 at the
    threshold, i.e. almost no pruning — which is why the exact blocked
    path drives embed_near_dup here. For true near-dup thresholds
    (>= 0.9) the defaults (16 x 8) prune hard at recall ~1."""
    return similarity.cosine_near_dup_lsh(
        embeddings(spark, sf_dir), threshold=0.35, n_tables=32, n_bits=4
    )


def q_simhash_near_dup(spark, sf_dir):
    return dedup.simhash_near_dup_pairs(documents(spark, sf_dir), max_hamming=3)


def q_stream_dedup(spark, sf_dir):
    """Custom stateful streaming operator under the driver contract:
    applyInPandasWithState cross-batch exact dedup (streaming/
    stateful.py), drained with availableNow over the documents table.
    One source file -> one micro-batch, so keeper = global min doc_id
    per hash and the result value-matches the batch arg-min oracle;
    the cross-batch keeper semantics (first SEEN wins, state survives
    restart) are pinned by tests/test_streaming_stateful.py."""
    from logparser_spark.streaming.stateful import streaming_exact_dedup

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    name = "stream_dedup_result"
    q = (
        streaming_exact_dedup(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def q_near_dup_clusters(spark, sf_dir):
    """Connected components over the verified near-dup pair graph —
    (doc_id, cluster_id, is_keeper); the LSH pair set equals the exact
    baseline at this threshold, so the cluster assignment is exactly
    checkable against a recursive-CTE oracle."""
    return dedup.near_dup_clusters(documents(spark, sf_dir), threshold=0.8)


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup over the embeddings table: cluster, dedup within
    cluster, keeper per duplicate component. Deterministic (seeded
    sample/init/iterations) -> golden-pinned; float centroids are not
    SQL-reproducible, so no DuckDB oracle. Threshold matches the
    dataset's near-dup scale (max pairwise cosine ~0.5)."""
    return similarity.semantic_dedup(
        embeddings(spark, sf_dir), threshold=0.35, n_lists=8
    )


def q_media_profile(spark, sf_dir):
    """The multimodal family under one driver row: per-blob stats +
    decode metadata in one payload pass (media_profile — the JVM
    hash/sniff columns ride through the decode kernel, so the blob is
    read once and never joined back), plus the video frame-sampling
    kernel's output as extra rows tagged ``media_type='frame'``
    (frame_idx carried in the n_frames column; every other column
    NULL). Each branch keeps its own plan; the union is free."""
    payload = multimodal.attach_payload(documents(spark, sf_dir))
    prof = multimodal.media_profile(payload)
    frames = multimodal.sample_frames(payload, every_n=30).select(
        "doc_id",
        F.lit("frame").alias("media_type"),
        F.lit(None).cast("long").alias("n_bytes"),
        F.lit(None).cast("string").alias("content_md5"),
        F.lit(None).cast("int").alias("first_char"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("sample_rate"),
        F.col("frame_idx").cast("int").alias("n_frames"),
    )
    return prof.unionByName(frames)


# --- C4 cleaning / paragraph dedup -----------------------------------
# The documents fixture is one line of space-separated words (no
# newlines, no punctuation), so both queries derive a multi-line text
# DETERMINISTICALLY in each engine before running the operator: group
# every 5 words into a line (the same regex replacement runs in Spark
# and DuckDB), and for cleaning first give 'table' a terminal '.' so a
# realistic fraction of lines passes the C4 terminal-punctuation rule,
# then plant the 'lorem ipsum' / '{' page-rule triggers on a sparse
# deterministic doc_id subset.
_PARA_GROUP_RX = r"((?:\S+ ){4}\S+) "


def q_cleaning(spark, sf_dir):
    """C4-style heuristic cleaning (Raffel et al. 2020 §2.2,
    operators/cleaning.py) under the driver contract: line keep rules
    (terminal punctuation + min words) and page drop rules (min kept
    lines, boilerplate, code). One zero-shuffle Catalyst projection."""
    from logparser_spark.operators import cleaning

    txt = F.regexp_replace(F.col("text"), r"\btable\b", "table.")
    txt = F.regexp_replace(txt, _PARA_GROUP_RX, "$1\n")
    txt = (
        F.when(F.col("doc_id") % 37 == 0, F.concat(txt, F.lit("\nlorem ipsum")))
        .when(F.col("doc_id") % 41 == 0, F.concat(txt, F.lit("\nif (x) { return; }")))
        .otherwise(txt)
    )
    docs = documents(spark, sf_dir).select("doc_id", txt.alias("text"))
    return cleaning.c4_clean(docs)


def _cleaning_oracle() -> str:
    return r"""
WITH t0 AS (
  SELECT doc_id,
         regexp_replace(COALESCE(text, ''), '\btable\b', 'table.', 'g') AS x
  FROM documents
),
t1 AS (
  SELECT doc_id,
         regexp_replace(x, '((?:\S+ ){4}\S+) ', '\1' || chr(10), 'g') AS x
  FROM t0
),
t AS (
  SELECT doc_id,
         CASE WHEN doc_id % 37 = 0 THEN x || chr(10) || 'lorem ipsum'
              WHEN doc_id % 41 = 0 THEN x || chr(10) || 'if (x) { return; }'
              ELSE x END AS text
  FROM t1
),
ls AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM t),
l AS (
  SELECT doc_id, i, lines[i] AS line
  FROM (SELECT doc_id, lines, unnest(range(1, len(lines) + 1)) AS i FROM ls)
),
kept AS (
  SELECT doc_id, i, line FROM l
  WHERE regexp_matches(line, '[.!?"]\s*$')
    AND len(string_split_regex(trim(line), '\s+')) >= 5
),
per AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY i) AS clean
  FROM kept GROUP BY doc_id
),
page AS (
  SELECT ls.doc_id,
         CASE WHEN length(ls.text) = 0 THEN 0 ELSE len(ls.lines) END AS n_lines,
         COALESCE(per.n_kept, 0) AS n_lines_kept,
         (COALESCE(per.n_kept, 0) >= 3
          AND NOT contains(lower(ls.text), 'lorem ipsum')
          AND NOT contains(ls.text, '{')) AS is_kept,
         per.clean
  FROM ls LEFT JOIN per USING (doc_id)
)
SELECT doc_id, CAST(n_lines AS INT) AS n_lines,
       CAST(n_lines_kept AS INT) AS n_lines_kept,
       is_kept,
       CASE WHEN is_kept THEN clean END AS clean_text
FROM page"""


def q_paragraph_dedup(spark, sf_dir):
    """Paragraph-level exact dedup with document rewrite
    (RefinedWeb-style, operators/dedup.py:paragraph_dedup): global
    first occurrence keeps each paragraph, every document re-assembled
    from its survivors. ``text_clean`` is the rewrite parity witness —
    the full rewritten document is value-hashed against the oracle, so
    the rewrite (not just the keeper election) is driver-checked."""
    docs = documents(spark, sf_dir).select(
        "doc_id",
        F.regexp_replace(F.col("text"), _PARA_GROUP_RX, "$1\n").alias("text"),
    )
    return dedup.paragraph_dedup(docs)


def _paragraph_dedup_oracle() -> str:
    return r"""
WITH t AS (
  SELECT doc_id,
         regexp_replace(COALESCE(text, ''), '((?:\S+ ){4}\S+) ', '\1' || chr(10), 'g') AS text
  FROM documents
),
ps AS (SELECT doc_id, string_split(text, chr(10)) AS paras FROM t),
p AS (
  SELECT doc_id, i - 1 AS pos, trim(paras[i]) AS para
  FROM (SELECT doc_id, paras, unnest(range(1, len(paras) + 1)) AS i FROM ps)
),
nz AS (SELECT * FROM p WHERE para <> ''),
k AS (
  SELECT *,
         row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) = 1 AS is_kept
  FROM nz
),
per AS (
  SELECT doc_id, COUNT(*) AS n_paras,
         COUNT(*) FILTER (WHERE NOT is_kept) AS n_dup_paras,
         COALESCE(string_agg(para, chr(10) ORDER BY pos) FILTER (WHERE is_kept), '') AS text_clean
  FROM k GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(per.n_paras, 0) AS BIGINT) AS n_paras,
       CAST(COALESCE(per.n_dup_paras, 0) AS BIGINT) AS n_dup_paras,
       COALESCE(per.text_clean, '') AS text_clean
FROM documents d LEFT JOIN per USING (doc_id)"""


# per-lang mixing rates for the mix_sample query (deterministic
# hash-threshold sampling; see operators/sampling.py)
_MIX_RATES = {"en": 0.5, "zh": 1.0, "de": 0.0}
_MIX_DEFAULT = 0.25

# corpus/new split for incremental dedup: ~80% of docs (by id hash)
# form the reference corpus, the rest are the incoming batch
_CORPUS_THR = "cccc"


def q_mix_sample(spark, sf_dir):
    """Language-mix resampling: keep each doc with a per-lang rate via
    a content-hash threshold — deterministic, shuffle-free, stable
    under repartitioning/retries (unlike df.sample)."""
    return sampling.hash_mix_sample(
        documents(spark, sf_dir).select("doc_id", "lang", "source"),
        _MIX_RATES,
        default_rate=_MIX_DEFAULT,
    )


def q_curation(spark, sf_dir):
    """The composed curation funnel: quality gate -> exact dedup
    keeper -> deterministic lang mixing -> per-(lang, source) stats.
    One data-sized shuffle end to end (the dedup groupBy)."""
    return sampling.curation_funnel(
        documents(spark, sf_dir), _MIX_RATES, default_rate=_MIX_DEFAULT
    )


def _curation_oracle() -> str:
    where = sampling.mix_sample_oracle_where(_MIX_RATES, default_rate=_MIX_DEFAULT)
    return f"""
WITH g AS (
  SELECT * FROM documents
  WHERE len(string_split(text, ' ')) BETWEEN 10 AND 1000
    AND floor(100.0 * length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / length(text)) >= 50
),
k AS (SELECT md5(text) AS sig, MIN(doc_id) AS kid FROM g GROUP BY 1),
kd AS (SELECT g.* FROM g JOIN k ON g.doc_id = k.kid),
m AS (SELECT * FROM kd WHERE {where})
SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars_total
FROM m GROUP BY lang, source"""


_STRAT_QUOTA = 40  # exact per-source row budget for stratified_take


def q_stratified(spark, sf_dir):
    """Exact per-group row budget via content-hash order (skew-safe
    salted two-phase rank; final row set independent of the salt)."""
    return sampling.stratified_take(
        documents(spark, sf_dir).select("doc_id", "lang", "source"),
        quota=_STRAT_QUOTA,
        group_col="source",
        id_col="doc_id",
    )


def _stratified_oracle() -> str:
    return f"""
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
) WHERE rn <= {_STRAT_QUOTA}"""


def _mix_sample_oracle() -> str:
    where = sampling.mix_sample_oracle_where(_MIX_RATES, default_rate=_MIX_DEFAULT)
    return f"SELECT doc_id, lang, source FROM documents WHERE {where}"


_SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}
_TOKEN_BUDGET = 2000  # per lang; every sf's langs exceed it, so the
# boundary-bucket path is exercised at all three scales


def q_leakage_split(spark, sf_dir):
    """Leakage-safe train/val/test split: hash the near-dup CLUSTER id
    (star CC over the verified LSH pair graph) against cumulative
    weight boundaries, so near-duplicates can never straddle a split.
    Exactly checkable: the recursive-CTE cluster oracle composed with
    the SAME engine-portable CASE string (``split_case_sql``)."""
    return sampling.leakage_safe_split(
        documents(spark, sf_dir), weights=_SPLIT_WEIGHTS, threshold=0.8
    )


def q_token_budget(spark, sf_dir):
    """Quality-prioritized per-lang selection under a token budget via
    the select-by-threshold plan (token_budget_select: bucket stats +
    one boundary sort, no full-domain window). score = n_chars (prefer
    longer docs), tokens = whitespace tokens; the result row set equals
    a plain window cumsum, which is the oracle."""
    docs = documents(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        F.col("n_chars").alias("score"),
    )
    return sampling.token_budget_select(docs, _TOKEN_BUDGET).select(
        "doc_id", "lang", "n_tokens"
    )


# BM25 seed query: one rare/discriminative term ('dup', df~5%), three
# common ones, one corpus-absent one (pins the df=0 -> contributes-0
# semantics in both engines)
_BM25_TERMS = ["dup", "hash", "scan", "vector", "zzz_absent"]
_BM25_SCALE_IDF = 10**4
_BM25_SCALE_DL = 10**4


def q_bm25(spark, sf_dir):
    """Okapi BM25 relevance of every document against a fixed seed-term
    query (operators/relevance.py, Robertson & Zaragoza 2009) — the
    lexical slice selector of a curation pipeline. The driver row runs
    the integer fixed-point twin (rational idf, k1=6/5 b=3/4 as exact
    rationals, pure integer floor division) so it is DuckDB-oracle-
    exact; the float log-idf production scorer is differential-pytest-
    pinned (tests/test_relevance.py). Plan: ONE bounded stats aggregate
    (N, sum_dl, per-term df — |query|-bounded output), then a
    zero-shuffle whole-stage-codegen projection (tf via array HOFs, no
    explode, no Python)."""
    from logparser_spark.operators import relevance

    return relevance.bm25_score_fp(
        documents(spark, sf_dir),
        _BM25_TERMS,
        scale_idf=_BM25_SCALE_IDF,
        scale_dl=_BM25_SCALE_DL,
    )


def _bm25_oracle() -> str:
    terms = ", ".join(f"('{t}')" for t in _BM25_TERMS)
    si, sd = _BM25_SCALE_IDF, _BM25_SCALE_DL
    return f"""
WITH d AS (
  SELECT doc_id, COALESCE(string_split(text, ' '), []) AS w FROM documents
),
dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, w FROM d),
q(term) AS (VALUES {terms}),
tf AS (
  SELECT doc_id, dl, term,
         CAST(len(list_filter(w, x -> x = term)) AS BIGINT) AS tf
  FROM dl CROSS JOIN q
),
stats AS (SELECT COUNT(*) AS n, SUM(dl) AS sum_dl FROM dl),
dfx AS (SELECT term, SUM(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS dfc
        FROM tf GROUP BY 1),
idf AS (
  SELECT term, ({si} * (2 * (s.n - dfc) + 1)) // (2 * dfc + 1) AS idf_fp
  FROM dfx CROSS JOIN stats s WHERE dfc > 0
),
contrib AS (
  SELECT tf.doc_id, tf.tf,
         (i.idf_fp * {44 * sd} * tf.tf) //
         (20 * {sd} * tf.tf + {6 * sd} +
          18 * (({sd} * tf.dl * s.n) // s.sum_dl)) AS c
  FROM tf JOIN idf i USING (term) CROSS JOIN stats s
)
SELECT dl.doc_id, dl.dl,
       CAST(COALESCE(SUM(c.tf), 0) AS BIGINT) AS tf_sum,
       CAST(COALESCE(SUM(c.c), 0) AS BIGINT) AS score_fp
FROM dl LEFT JOIN contrib c USING (doc_id)
GROUP BY 1, 2"""


_KW_K = 3
_KW_MAX_DF_RATIO = 0.9
_KW_SCALE = 10**4


def q_keywords(spark, sf_dir):
    """Per-document tf-idf keyword extraction (operators/relevance.py
    tfidf_keywords): top-3 salient terms per doc by integer-exact
    tf x rational-idf, stopword-guarded at df > 0.9N, ties pinned
    (score desc, term asc). Plan: one uniform (doc, term) count
    shuffle, one vocab-bounded df shuffle, an AQE-broadcast term join,
    and a per-doc sort_array+slice top-k whose collected list is
    bounded by the doc's own unique-term count."""
    from logparser_spark.operators import relevance

    return relevance.tfidf_keywords(
        documents(spark, sf_dir),
        k=_KW_K,
        scale=_KW_SCALE,
        max_df_ratio=_KW_MAX_DF_RATIO,
    )


def _keywords_oracle() -> str:
    return f"""
WITH d AS (
  SELECT doc_id, COALESCE(string_split(text, ' '), []) AS w FROM documents
),
stats AS (SELECT COUNT(*) AS n FROM d),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(w) AS term FROM d) GROUP BY 1, 2
),
dfx AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
keep AS (
  SELECT term, df FROM dfx CROSS JOIN stats
  WHERE df >= 1 AND df <= CAST(floor({_KW_MAX_DF_RATIO} * n) AS BIGINT)
),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         tf.tf * (({_KW_SCALE} * (2 * (s.n - k.df) + 1)) // (2 * k.df + 1))
           AS score_fp
  FROM tf JOIN keep k USING (term) CROSS JOIN stats s
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score_fp DESC, term ASC) AS rnk
  FROM scored
)
SELECT doc_id, CAST(rnk AS INT) AS rank, term, tf, score_fp
FROM r WHERE rnk <= {_KW_K}"""


_CONTAIN_THR = 0.7


def q_containment(spark, sf_dir):
    """One-sided near-dup pairs by n-gram CONTAINMENT (Broder 1997:
    |sh(A) ∩ sh(B)| / |sh(A)|) — catches quotes/excerpts/boilerplate-
    wrapped copies that symmetric Jaccard misses on asymmetric lengths
    (operators/dedup.py containment_pairs; shares the pair-overlap
    core, and therefore the verify-prune and AQE posture, with the
    Jaccard baseline). All-pairs here (test scale, guard active); at
    corpus scale restrict with cand= (MinHash candidates or posting-
    list co-occurrence from relevance.inverted_index)."""
    from logparser_spark.operators import dedup

    return dedup.containment_pairs(
        documents(spark, sf_dir), threshold=_CONTAIN_THR
    )


def _containment_oracle() -> str:
    return (
        _SHINGLE_CTE
        + f"""
SELECT i.doc_a, i.doc_b, i.inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
       CAST(floor(1000.0 * i.inter / sa.n_sh) AS BIGINT) AS cont_a_in_b_x1000,
       CAST(floor(1000.0 * i.inter / sb.n_sh) AS BIGINT) AS cont_b_in_a_x1000
FROM inter i
JOIN sz sa ON sa.doc_id = i.doc_a
JOIN sz sb ON sb.doc_id = i.doc_b
WHERE 1.0 * i.inter / sa.n_sh >= {_CONTAIN_THR}
   OR 1.0 * i.inter / sb.n_sh >= {_CONTAIN_THR}"""
    )


_POSTINGS_SHARD = 64


def q_postings(spark, sf_dir):
    """Sharded inverted index (operators/relevance.py inverted_index):
    term -> doc_id-sorted posting lists, pre-split into
    ``ceil(df/64)`` shards by ``doc_id % n_shards`` so a stopword's
    corpus-sized posting list can never funnel one reducer. The
    posting arrays are reported as witnesses (count / first / last /
    md5 of the comma-joined sorted ids) — the dup_span_report
    convention — so DuckDB value-checks the actual list content."""
    from logparser_spark.operators import relevance

    idx = relevance.inverted_index(
        documents(spark, sf_dir), shard_size=_POSTINGS_SHARD
    )
    return idx.select(
        "term",
        "shard",
        "n_shards",
        "df",
        F.size("postings").cast("long").alias("n_in"),
        F.element_at("postings", 1).cast("long").alias("first_id"),
        F.element_at("postings", -1).cast("long").alias("last_id"),
        F.md5(
            F.concat_ws(
                ",", F.transform("postings", lambda x: x.cast("string"))
            )
        ).alias("postings_md5"),
    )


def _postings_oracle() -> str:
    return f"""
WITH d AS (
  SELECT doc_id, COALESCE(string_split(text, ' '), []) AS w FROM documents
),
pairs AS (SELECT DISTINCT doc_id, unnest(w) AS term FROM d),
dfx AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM pairs GROUP BY 1),
k AS (
  SELECT term, df,
         (df + {_POSTINGS_SHARD} - 1) // {_POSTINGS_SHARD} AS n_shards
  FROM dfx
),
sh AS (
  SELECT p.doc_id, p.term, k.df, k.n_shards,
         CAST(p.doc_id % k.n_shards AS BIGINT) AS shard
  FROM pairs p JOIN k USING (term)
)
SELECT term, shard, n_shards, df,
       CAST(COUNT(*) AS BIGINT) AS n_in,
       CAST(MIN(doc_id) AS BIGINT) AS first_id,
       CAST(MAX(doc_id) AS BIGINT) AS last_id,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
         AS postings_md5
FROM sh GROUP BY 1, 2, 3, 4"""


def _token_budget_oracle() -> str:
    return f"""
WITH t AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
         SUM(len(string_split(text, ' '))) OVER (
           PARTITION BY lang ORDER BY n_chars DESC NULLS LAST, doc_id ASC
           ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents)
SELECT doc_id, lang, n_tokens FROM t WHERE cum <= {_TOKEN_BUDGET}"""


DOC_QUERIES = {
    "corpus_report": q_corpus_report,
    "stratified_sample": q_stratified,
    "mix_sample": q_mix_sample,
    "curation": q_curation,
    "cleaning": q_cleaning,
    "paragraph_dedup": q_paragraph_dedup,
    "stream_dedup": q_stream_dedup,
    "near_dup_clusters": q_near_dup_clusters,
    "embed_near_dup": q_embed_near_dup,
    "embed_near_dup_lsh": q_embed_near_dup_lsh,  # rows-only (recall < 1 by design)
    "semantic_dedup": q_semantic_dedup,  # rows-only (float centroids not SQL-reproducible)
    "simhash_near_dup": q_simhash_near_dup,  # rows-only (hash family not in DuckDB)
    "ann_approx": q_ann_approx,  # rows-only (approximate by design; golden)
    "media_profile": q_media_profile,
    "dedup_exact": q_dedup_exact,  # kind-tagged: exact + incremental
    "minhash_lsh": q_minhash_lsh,  # method-tagged: exact baseline + LSH
    "doc_signatures": q_doc_signatures,  # rows-only (hash families not in DuckDB)
    "doc_stats": q_doc_stats,
    "ngram_vocab": q_ngram_vocab,
    "ann_brute": q_ann_brute,
    "leakage_split": q_leakage_split,
    "token_budget": q_token_budget,
    "near_dedup_incr": q_near_dedup_incr,
    "bm25": q_bm25,
    "keywords": q_keywords,
    "postings": q_postings,
    "containment": q_containment,
}

# ---------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------

_SHINGLE_CTE = """
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM words),
sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM idx),
sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
"""

_JACCARD_BODY = """
SELECT i.doc_a, i.doc_b, i.inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
       CAST(floor(1000.0 * i.inter / (sa.n_sh + sb.n_sh - i.inter)) AS BIGINT) AS jaccard_x1000
FROM inter i
JOIN sz sa ON sa.doc_id = i.doc_a
JOIN sz sb ON sb.doc_id = i.doc_b
WHERE 1.0 * i.inter / (sa.n_sh + sb.n_sh - i.inter) >= 0.8"""

# method-tagged twin: the exact all-pairs baseline AND the LSH plan
# must both equal this Jaccard relation, so the oracle selects it twice
_JACCARD_SQL = (
    _SHINGLE_CTE
    + ", j AS ("
    + _JACCARD_BODY
    + """)
SELECT 'exact' AS method, * FROM j
UNION ALL
SELECT 'lsh' AS method, * FROM j"""
)


def _lang_scores_sql() -> str:
    cols = []
    for lang, words in textstats.LANG_STOPWORDS.items():
        ascii_only = all(ord(c) < 128 for w in words for c in w)
        alt = "|".join(words)
        pat = rf"\b({alt})\b" if ascii_only else f"({alt})"
        cols.append(
            f"len(regexp_extract_all(lower(text), '{pat}')) AS score_{lang}"
        )
    return ", ".join(cols)


_MEDIA_CTE = """
WITH m AS (
  SELECT doc_id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         encode(text) AS payload,
         octet_length(encode(text)) AS n_bytes
  FROM documents
)
"""

DOC_ORACLES: dict[str, str] = {
    # corpus_report: COALESCE(text,'') mirrors the operator's NULL-as-empty
    # convention; whitespace is textstats.WS_CLASS, trimmed from both ends
    # ('g': DuckDB replaces only the first match without it), and an
    # all-whitespace text has 0 tokens; 2*alpha >= n_chars is the
    # division-free quality clause.
    "corpus_report": r"""
WITH t AS (
  SELECT source, text,
         regexp_replace(COALESCE(text, ''),
                        '^[ \t\n\r\f\x0B]+|[ \t\n\r\f\x0B]+\z', '', 'g') AS trimmed
  FROM documents
),
d AS (
  SELECT source,
         md5(COALESCE(text, '')) AS h,
         CASE WHEN trimmed = '' THEN 0
              ELSE len(string_split_regex(trimmed, '[ \t\n\r\f\x0B]+')) END AS ws,
         CASE WHEN len(string_split(COALESCE(text, ''), ' ')) BETWEEN 10 AND 1000
                   AND 2 * length(regexp_replace(COALESCE(text, ''), '[^A-Za-z]', '', 'g'))
                       >= length(COALESCE(text, ''))
                   AND length(COALESCE(text, '')) > 0
              THEN 1 ELSE 0 END AS hq
  FROM t
),
g AS (
  SELECT source, h, COUNT(*) AS cnt, MIN(ws) AS ws, MIN(hq) AS hq
  FROM d GROUP BY 1, 2
)
SELECT source,
  CAST(SUM(cnt) AS BIGINT) AS n_docs,
  COUNT(*) AS n_distinct_texts,
  CAST(SUM(cnt) - COUNT(*) AS BIGINT) AS n_dup_docs,
  CAST(floor(100.0 * (SUM(cnt) - COUNT(*)) / SUM(cnt)) AS BIGINT) AS dup_rate_x100,
  CAST(SUM((cnt - 1) * ws) AS BIGINT) AS dup_ws_tokens,
  CAST(SUM(cnt * ws) AS BIGINT) AS total_ws_tokens,
  CAST(floor(100.0 * SUM(cnt * ws) / SUM(cnt)) AS BIGINT) AS mean_ws_tokens_x100,
  CAST(SUM(cnt * hq) AS BIGINT) AS n_hq_docs,
  CAST(floor(100.0 * SUM(cnt * hq) / SUM(cnt)) AS BIGINT) AS hq_rate_x100
FROM g GROUP BY source ORDER BY source""",
    "stratified_sample": _stratified_oracle(),
    "bm25": _bm25_oracle(),
    "keywords": _keywords_oracle(),
    "postings": _postings_oracle(),
    "containment": _containment_oracle(),
    "mix_sample": _mix_sample_oracle(),
    "curation": _curation_oracle(),
    "cleaning": _cleaning_oracle(),
    "paragraph_dedup": _paragraph_dedup_oracle(),
    "embed_near_dup": """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
x AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         list_dot_product(a.v, b.v) /
         (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, CAST(floor(cos * 10000) AS BIGINT) AS cosine_x10000
FROM x WHERE cos >= 0.35 ORDER BY vec_a, vec_b""",
    "media_profile": _MEDIA_CTE
    + """
SELECT doc_id, media_type, n_bytes, md5(text) AS content_md5,
       ascii(text) AS first_char,
       CASE WHEN media_type <> 'audio' THEN CAST(64 + n_bytes % 193 AS INT) END AS width,
       CASE WHEN media_type <> 'audio' THEN CAST(64 + (n_bytes * 31) % 129 AS INT) END AS height,
       CASE WHEN media_type <> 'image' THEN CAST(8000 + (n_bytes % 5) * 8000 AS INT) END AS sample_rate,
       CASE WHEN media_type = 'video' THEN CAST(1 + n_bytes % 240 AS INT) END AS n_frames
FROM m JOIN documents USING (doc_id)
UNION ALL
SELECT doc_id, 'frame', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
       CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS INT),
       CAST(NULL AS INT), CAST(u AS INT)
FROM (
  SELECT doc_id, unnest(generate_series(0, CAST(n_bytes % 240 AS BIGINT), 30)) AS u
  FROM m WHERE media_type = 'video'
)""",
    "dedup_exact": f"""
WITH b AS (SELECT *, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h FROM documents)
SELECT 'exact' AS kind, md5(text) AS key,
       CAST(MIN(doc_id) AS BIGINT) AS id, COUNT(*) AS n
FROM documents GROUP BY 2
UNION ALL
SELECT 'incr', n.lang || '|' || n.source, CAST(n.doc_id AS BIGINT), CAST(1 AS BIGINT)
FROM b n WHERE NOT (n.h < '{_CORPUS_THR}')
  AND NOT EXISTS (SELECT 1 FROM b c WHERE c.h < '{_CORPUS_THR}' AND c.text = n.text)
UNION ALL
SELECT 'soft', md5(text), CAST(doc_id AS BIGINT),
       CAST(1000000 // (COUNT(*) OVER (PARTITION BY md5(text))) AS BIGINT)
FROM documents""",
    # keeper row per content hash, arg-min by doc_id (single-batch
    # availableNow drain == batch semantics; see q_stream_dedup)
    "stream_dedup": """
SELECT md5(text) AS text_hash, doc_id, source,
       COALESCE(n_chars, length(text), 0) AS n_chars
FROM (
  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1""",
    # method-tagged: the exact baseline AND the LSH plan, both equal
    # the same Jaccard relation (text equality == md5 equality absent
    # collisions — a collision would surface as a row-set mismatch)
    "minhash_lsh": _JACCARD_SQL,
    # connected components via recursive reachability from each node,
    # component id = min reachable root (same min-label semantics as
    # the Spark propagation loop)
    "near_dup_clusters": _SHINGLE_CTE.replace("WITH words", "WITH RECURSIVE words")
    + """
, pairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sz sa ON sa.doc_id = i.doc_a
  JOIN sz sb ON sb.doc_id = i.doc_b
  WHERE 1.0 * i.inter / (sa.n_sh + sb.n_sh - i.inter) >= 0.8
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(x, root) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
  UNION
  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.x
),
comp AS (SELECT x AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY x)
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       COALESCE(c.cluster_id, d.doc_id) = d.doc_id AS is_keeper
FROM documents d LEFT JOIN comp c USING (doc_id)""",
    # the same recursive-CTE component relation, composed with the SAME
    # engine-portable hash-CASE string the Spark op evaluates
    # (sampling.split_case_sql) — split assignment is exactly checkable
    "leakage_split": _SHINGLE_CTE.replace("WITH words", "WITH RECURSIVE words")
    + """
, pairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sz sa ON sa.doc_id = i.doc_a
  JOIN sz sb ON sb.doc_id = i.doc_b
  WHERE 1.0 * i.inter / (sa.n_sh + sb.n_sh - i.inter) >= 0.8
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(x, root) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
  UNION
  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.x
),
comp AS (SELECT x AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY x)
SELECT doc_id, cluster_id, """
    + sampling.split_case_sql(_SPLIT_WEIGHTS, "cluster_id")
    + """ AS split
FROM (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c USING (doc_id)
)""",
    "token_budget": _token_budget_oracle(),
    # cross-side (new x corpus) fuzzy dedup: both directions matter
    # (a new doc may have a lower id than its corpus match), so the
    # shared one-directional `inter` CTE is bypassed
    "near_dedup_incr": _SHINGLE_CTE
    + f"""
, side AS (
  SELECT doc_id,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{_CORPUS_THR}' AS in_corpus
  FROM documents
),
x AS (
  SELECT a.doc_id AS new_id, b.doc_id AS corp_id, COUNT(*) AS inter
  FROM sh a JOIN side na ON na.doc_id = a.doc_id AND NOT na.in_corpus
       JOIN sh b ON b.shingle = a.shingle
       JOIN side cb ON cb.doc_id = b.doc_id AND cb.in_corpus
  GROUP BY 1, 2
),
dup AS (
  SELECT DISTINCT x.new_id
  FROM x JOIN sz za ON za.doc_id = x.new_id
       JOIN sz zb ON zb.doc_id = x.corp_id
  WHERE 1.0 * x.inter / (za.n_sh + zb.n_sh - x.inter) >= 0.8
)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN side s ON s.doc_id = d.doc_id AND NOT s.in_corpus
WHERE d.doc_id NOT IN (SELECT new_id FROM dup)""",
    # top-k n-grams by document frequency; `sh` in the CTE is already
    # the DISTINCT (doc_id, shingle) set, so COUNT(*) = doc freq.
    # Tie-break pinned to (doc_freq DESC, shingle ASC) in both engines.
    "ngram_vocab": _SHINGLE_CTE
    + """
SELECT shingle, COUNT(*) AS doc_freq
FROM sh GROUP BY shingle
ORDER BY doc_freq DESC, shingle LIMIT 100""",
    "doc_stats": f"""
WITH f AS (
  SELECT doc_id, lang, text,
         len(string_split(text, ' ')) AS n_words,
         length(text) AS n_chars_calc,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct,
         len(regexp_extract_all(lower(text), '\\b(the|a|and|of|to|is|in|value|table|row)\\b')) AS en_stop
  FROM documents
),
s AS (SELECT doc_id, {_lang_scores_sql()} FROM documents)
SELECT f.doc_id, f.lang, n_words, n_chars_calc,
       CAST(floor(100.0 * alpha / n_chars_calc) AS BIGINT) AS alpha_ratio_x100,
       CAST(floor(100.0 * punct / n_chars_calc) AS BIGINT) AS punct_ratio_x100,
       CAST(floor(100.0 * en_stop / n_words) AS BIGINT) AS stopword_ratio_x100,
       (n_words >= 10 AND n_words <= 1000 AND floor(100.0 * alpha / n_chars_calc) >= 50) AS is_high_quality,
       len(string_split_regex(trim(f.text), '\\s+')) AS ws_tokens,
       len(regexp_extract_all(f.text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS bpe_pieces,
       CAST(ceil(length(f.text) / 4.0) AS BIGINT) AS chars_div4,
       CASE WHEN score_zh > greatest(score_en, score_es, score_de, score_fr) THEN 'zh'
            WHEN score_fr > greatest(score_en, score_es, score_de) THEN 'fr'
            WHEN score_de > greatest(score_en, score_es) THEN 'de'
            WHEN score_es > score_en THEN 'es'
            ELSE 'en' END AS predicted_lang,
       greatest(score_en, score_es, score_de, score_fr, score_zh) AS best_score
FROM f JOIN s USING (doc_id) ORDER BY f.doc_id""",
    "ann_brute": """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10
),
x AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_dot_product(q.qv, e.embedding::DOUBLE[]) /
         (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS cos
  FROM q, embeddings e
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, rank, CAST(floor(cos * 10000) AS BIGINT) AS cosine_x10000
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM x
) WHERE rank <= 5
ORDER BY query_id, rank""",
}
