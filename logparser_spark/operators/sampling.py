"""Deterministic hash-based sampling / corpus mixing and incremental
dedup-against-corpus — the remaining training-data-pipeline primitives:

* ``hash_mix_sample`` — per-group sampling rates ("data mixing": keep
  20% of lang=en, 100% of lang=zh, ...) decided by a content-derived
  hash, so the sample is deterministic, reproducible across runs and
  engines, and needs NO shuffle, no RNG state, and no count pre-pass.
* ``dedup_incremental`` — drop new-batch rows whose content already
  exists in a reference corpus (the incremental form of exact dedup:
  yesterday's crawl is already deduped, only today's delta is checked).

Reference parity: the reference has neither (it reloads whole files;
closest is the freshness guard, LogFileParser.java:975-1047); these are
§2-extension ops required by the brief.

Engine-portability: the sampling hash is the first 4 hex chars of
md5(doc_id-as-string) compared LEXICOGRAPHICALLY against a per-group
threshold string — identical semantics in Spark and DuckDB, so the
oracle reproduces the exact row set (rate granularity 1/65536).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_HEX_SPACE = 16**4


def rate_to_hex_threshold(rate: float) -> str | None:
    """Sampling rate -> 4-hex-digit exclusive upper bound, or None for
    keep-everything (rate >= 1)."""
    if rate < 0 or rate > 1:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    t = int(rate * _HEX_SPACE)
    return None if t >= _HEX_SPACE else format(t, "04x")


def hash_mix_sample(
    df: DataFrame,
    rates: dict[str, float],
    group_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Keep each row iff substr(md5(id), 1, 4) < threshold(group).

    A pure narrow filter: Catalyst keeps it in the scan stage, it
    composes with column pruning, and at 10^12 rows it costs one md5
    per row and moves nothing. Unlike df.sample(), the decision is a
    function of the ROW (not of partition+seed), so the sample is
    stable under repartitioning, retries, and speculative execution —
    the property that makes mixing reproducible at cluster scale.
    """
    h = F.substring(F.md5(F.col(id_col).cast("string")), 1, 4)
    pred = None
    grp = F.col(group_col)
    for g, rate in sorted(rates.items()):
        thr = rate_to_hex_threshold(rate)
        keep_g = grp.eqNullSafe(g) if thr is None else (grp.eqNullSafe(g) & (h < thr))
        pred = keep_g if pred is None else (pred | keep_g)
    dthr = rate_to_hex_threshold(default_rate)
    others = ~grp.isin(*rates.keys()) | grp.isNull() if rates else F.lit(True)
    keep_other = others if dthr is None else (others & (h < dthr))
    pred = keep_other if pred is None else (pred | keep_other)
    return df.where(pred)


def mix_sample_oracle_where(
    rates: dict[str, float],
    group_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> str:
    """The WHERE body reproducing hash_mix_sample in DuckDB SQL."""
    h = f"substr(md5(CAST({id_col} AS VARCHAR)), 1, 4)"

    def lit(s: str) -> str:
        # one quoting scheme everywhere: standard SQL single-quote
        # doubling (repr() would emit python-flavored escapes that are
        # not valid SQL for quotes/non-ASCII)
        return "'" + s.replace("'", "''") + "'"

    parts = []
    for g, rate in sorted(rates.items()):
        thr = rate_to_hex_threshold(rate)
        cond = f"{group_col} = {lit(g)}"
        parts.append(cond if thr is None else f"({cond} AND {h} < '{thr}')")
    dthr = rate_to_hex_threshold(default_rate)
    if rates:
        others = f"({group_col} IS NULL OR {group_col} NOT IN ({', '.join(lit(g) for g in sorted(rates))}))"
    else:
        # empty rates: every row is an "other" (hash_mix_sample uses
        # lit(True)); "NOT IN ()" would be a SQL syntax error
        others = "TRUE"
    parts.append(others if dthr is None else f"({others} AND {h} < '{dthr}')")
    return " OR ".join(parts)


def curation_funnel(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """The end-to-end curation pass over a documents table (doc_id,
    text, lang, source, n_chars), composed from the primitive ops:
    quality gate -> exact dedup (keeper = min doc_id per content hash)
    -> deterministic per-lang mixing -> per-(lang, source) corpus
    stats.

    Shuffle budget at any scale: ONE data-sized shuffle (the dedup
    groupBy on md5(text), the keeper row carried as min(struct) so
    there is no join-back) plus a tiny aggregate on the (lang, source)
    domain; the gate and the mix are narrow filters fused into the
    stages around them. Plan note: min over a struct (or string) has
    no primitive-mutable buffer, so Spark compiles this groupBy to
    SortAggregate rather than HashAggregate — measured and accepted:
    the partial sort-agg still combines map-side (the exchange carries
    one row per distinct hash per partition), and the alternative
    (hash-agg min(doc_id), then join rows back by keeper id) costs a
    SECOND data-sized shuffle, which loses at corpus scale where
    shuffle IO, not local sort CPU, is the bottleneck.
    """
    from logparser_spark.operators.textstats import quality_gate_expr

    gated = docs.where(quality_gate_expr("text"))
    keeper = F.min(
        F.struct("doc_id", "lang", "source", "n_chars")
    ).alias("k")
    kept = (
        gated.groupBy(F.md5(F.col("text")).alias("__sig"))
        .agg(keeper)
        .select("k.*")
    )
    mixed = hash_mix_sample(kept, rates, default_rate=default_rate)
    return mixed.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars_total"),
    )


def stratified_take(
    df: DataFrame,
    quota: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    salts: int = 32,
) -> DataFrame:
    """EXACTLY min(quota, |group|) rows per group, chosen
    deterministically: the quota rows with the smallest
    (md5(id), id) — a content-derived order, so the sample is
    reproducible across runs, engines, partitionings, and retries
    (the per-group analog of hash_mix_sample's rate filter, for when
    the spec is an exact row budget rather than a rate).

    Scale plan (skew-safe two-phase): a window has no map-side partial
    step, unlike the aggregates' groupBy, so a single window over
    (group) would funnel each group — and groups are FEW and HUGE in a
    corpus — through one reducer. Instead phase 1 ranks within (group,
    salt) where salt = xxhash64(id) mod S, keeping the quota smallest
    per salt-cell (each reducer sees ~1/S of a group); phase 2 re-ranks
    the survivors (<= S*quota rows per group — bounded regardless of
    corpus size) to the exact global quota. The salt is internal only —
    the final row set depends on nothing but (md5(id), id).
    """
    for internal in ("__h", "__salt", "__rn"):
        if internal in df.columns:  # would be silently replaced+dropped
            raise ValueError(f"reserved column name in input: {internal}")
    h = F.md5(F.col(id_col).cast("string")).alias("__h")
    base = df.withColumn("__h", h).withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(salts))
    )
    from pyspark.sql import Window

    w1 = Window.partitionBy(group_col, "__salt").orderBy("__h", id_col)
    pruned = (
        base.withColumn("__rn", F.row_number().over(w1))
        .where(F.col("__rn") <= quota)
        .drop("__rn", "__salt")
    )
    w2 = Window.partitionBy(group_col).orderBy("__h", id_col)
    return (
        pruned.withColumn("__rn", F.row_number().over(w2))
        .where(F.col("__rn") <= quota)
        .drop("__rn", "__h")
    )


_HEX = "0123456789abcdef"


def hex16_decode_sql(hex_sql: str) -> str:
    """First FOUR hex chars of ``hex_sql`` decoded to an integer in
    [0, 65536) with instr() arithmetic — identical semantics in Spark
    SQL and DuckDB. The single home of the decode idiom: every Spark
    expression and every oracle that needs it composes THIS string, so
    the two engines cannot drift."""
    return "(" + " + ".join(
        f"(instr('{_HEX}', substr({hex_sql}, {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
        for i in range(4)
    ) + ")"


def hash16_sql(key_sql: str) -> str:
    """Engine-portable 16-bit content hash as a SQL expression string:
    ``hex16_decode_sql`` over md5(``key_sql`` cast to string) — the
    idiom the green ``shards`` driver row already pins."""
    return hex16_decode_sql(f"md5(cast({key_sql} as string))")


def content_shard_expr(id_col: str, n_shards: int):
    """Deterministic engine-portable shard id in [0, n_shards): the
    16-bit content hash (``hash16_sql``) mod n_shards. Exactly
    uniform when n_shards divides 65536 (any power of two <= 256);
    otherwise the mod bias is < n_shards/65536 (< 0.4% relative skew)."""
    if not 1 <= n_shards <= 256:
        raise ValueError("n_shards must be in [1, 256]")
    return F.expr(f"cast({hash16_sql(id_col)} % {n_shards} as int)")


def shard_assign(
    df: DataFrame,
    n_shards: int = 64,
    id_col: str = "doc_id",
    n_parts: int | None = None,
) -> DataFrame:
    """Deterministic global corpus shuffle + sharding — the 'shuffle the
    corpus, split into N shard files, fix each row's position' step that
    precedes pretraining. Output: (doc_id, shard, pos) where shard is
    content-derived (16 md5 bits mod N — exactly uniform for N | 65536,
    see ``content_shard_expr``) and
    pos is the row's rank within its shard under (md5(id), id) order —
    a global pseudorandom permutation that is reproducible across runs,
    engines, partitionings, and retries. The mid-frame cache persists
    until the session drops it (cached blocks are LRU-evictable under
    memory pressure, so repeated calls degrade to recompute, not OOM).

    Scale plan: a naive row_number() over each shard funnels N/256th of
    the corpus through one reducer. Instead: range-partition the NARROW
    (doc_id, hash) projection on (shard, hash, id) — hash keys, so the
    ranges are uniform and skew-free — compute local per-shard ranks in
    one mapInPandas pass (vectorized run-length carry), collect per-
    (partition, shard) counts (bounded: <= partitions + shards rows
    because shard ranges are contiguous under the range sort), and
    broadcast the prefix bases back. Same two-phase shape as
    packing._with_global_offsets, generalized to ranks per key.
    """
    import numpy as np
    import pandas as pd
    from pyspark import TaskContext

    narrow = df.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.col(id_col).cast("string")).alias("__h"),
        content_shard_expr(id_col, n_shards).alias("shard"),
    )
    if n_parts is None:
        n_parts = df.sparkSession.sparkContext.defaultParallelism
    ranged = narrow.repartitionByRange(
        n_parts, "shard", "__h", "doc_id"
    ).sortWithinPartitions("shard", "__h", "doc_id")

    def local_ranks(batches):
        pid = TaskContext.get().partitionId()
        run: dict[int, int] = {}
        for pdf in batches:
            sh = pdf["shard"].to_numpy()
            n = len(sh)
            if n == 0:
                continue
            change = np.flatnonzero(np.diff(sh)) + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [n]))
            run_id = np.zeros(n, dtype=np.int64)
            run_id[change] = 1
            np.cumsum(run_id, out=run_id)
            carry = np.fromiter(
                (run.get(int(sh[s]), 0) for s in starts),
                dtype=np.int64,
                count=len(starts),
            )
            local = np.arange(n, dtype=np.int64) - starts[run_id] + carry[run_id]
            for s, e in zip(starts, ends):
                k = int(sh[s])
                run[k] = run.get(k, 0) + int(e - s)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "shard": sh,
                    "pid": np.full(n, pid, dtype=np.int32),
                    "local_rank": local,
                }
            )

    id_t = df.schema[id_col].dataType.simpleString()
    from logparser_spark.operators.util import track_persist

    loc = track_persist(
        ranged.mapInPandas(
            local_ranks, f"doc_id {id_t}, shard int, pid int, local_rank long"
        )
    )
    counts = loc.groupBy("pid", "shard").count().collect()
    by_shard: dict[int, list[tuple[int, int]]] = {}
    for r in counts:
        by_shard.setdefault(r["shard"], []).append((r["pid"], r["count"]))
    bases = []
    for shard, lst in by_shard.items():
        acc = 0
        for pid, cnt in sorted(lst):
            bases.append((pid, shard, acc))
            acc += int(cnt)
    spark = df.sparkSession
    base_df = spark.createDataFrame(
        bases or [(0, 0, 0)], "pid int, shard int, base long"
    )
    return loc.join(F.broadcast(base_df), ["pid", "shard"]).select(
        "doc_id", "shard", (F.col("base") + F.col("local_rank")).alias("pos")
    )


def dedup_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Rows of new_df whose content hash does not appear in corpus_df.

    Plan: project both sides to md5(text) and LEFT ANTI hash-join the
    new batch against the corpus signatures. Scale posture: the corpus
    is the big side, the delta is small, so the shuffle moves mostly
    16-byte signatures; Spark's runtime Bloom-filter join
    (spark.sql.optimizer.runtime.bloomFilter.enabled, on in
    build_session) prunes corpus partitions that cannot match the
    delta before the exchange. For a standing daily pipeline, keep the
    corpus signatures as a table BUCKETED by the hash so each
    incremental batch joins with zero corpus-side shuffle.
    """
    sig = F.md5(F.col(text_col)).alias("__sig")
    corpus_sigs = corpus_df.select(sig).distinct()
    return (
        new_df.withColumn("__sig", F.md5(F.col(text_col)))
        .join(corpus_sigs, "__sig", "left_anti")
        .drop("__sig")
    )


def split_case_sql(weights: dict[str, float], key_sql: str) -> str:
    """Engine-portable CASE expression assigning ``key_sql``'s row to a
    named split by its 16-bit content hash against cumulative weight
    boundaries. The LAST split (insertion order) is the CASE's ELSE, so
    float-rounding residue in the boundaries can never produce an
    unassigned row. Same string runs in Spark SQL and DuckDB."""
    if len(weights) < 2:
        raise ValueError("need at least two splits")
    if any(w < 0 for w in weights.values()):
        raise ValueError(f"split weights must be >= 0, got {weights}")
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    names = list(weights)  # insertion order fixes the boundary order

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"  # SQL quote doubling

    h = hash16_sql(key_sql)
    arms, acc = [], 0.0
    for name in names[:-1]:
        acc += weights[name]
        bound = int(round(acc * _HEX_SPACE))
        arms.append(f"WHEN {h} < {bound} THEN {lit(name)}")
    return "CASE " + " ".join(arms) + f" ELSE {lit(names[-1])} END"


def leakage_safe_split(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    threshold: float = 0.8,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Train/val/test assignment that near-duplicates cannot straddle:
    hash the near-dup CLUSTER id, not the document id, so every member
    of a duplicate cluster lands in the same split. Splitting by doc
    hash leaks paraphrased/boilerplate-shifted copies of training
    documents into the eval split — the contamination vector the
    GPT-3/Llama decontamination appendices call out — and no post-hoc
    doc-level decontamination catches what a cluster-level split
    prevents by construction.

    Output: (doc_id, cluster_id, split). ``weights`` maps split name ->
    fraction (must sum to 1; default 98/1/1 train/val/test); assignment
    is the 16-bit content hash of cluster_id against cumulative
    boundaries (granularity 1/65536), deterministic across runs,
    engines, partitionings, and retries.

    Pass ``clusters`` (doc_id, cluster_id) to reuse an existing
    assignment; otherwise ``near_dup_clusters(docs, threshold)`` runs
    here over (doc_id, text) (star CC — see its scale notes). The split itself adds ZERO
    shuffles on top of clustering: one narrow CASE projection.
    Realized fractions converge to ``weights`` only in #clusters (one
    giant cluster moves the split whole — that is the point).

    Reference parity: none (no corpus-split concept in the reference);
    §2-extension op per the brief. Oracle: the recursive-CTE cluster
    oracle + the SAME ``split_case_sql`` string.
    """
    if weights is None:
        weights = {"train": 0.98, "val": 0.01, "test": 0.01}
    case = split_case_sql(weights, "cluster_id")
    if clusters is None:
        if docs is None:
            raise ValueError("pass docs (to cluster here) or clusters")
        from logparser_spark.operators.dedup import near_dup_clusters

        clusters = near_dup_clusters(docs, threshold=threshold)
    return clusters.select(
        "doc_id", "cluster_id", F.expr(case).alias("split")
    )


def token_budget_select(
    df: DataFrame,
    budget: int,
    domain_col: str = "lang",
    tokens_col: str = "n_tokens",
    score_col: str = "score",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> DataFrame:
    """Quality-prioritized selection under a per-domain token budget:
    within each domain, walk documents in (score DESC NULLS LAST,
    id ASC) order and keep each doc iff the running token total
    INCLUDING it stays <= budget — "take the best docs per language
    until the budget is full", the curation step that turns scored
    corpora into a fixed-size training mix.

    Output: the selected rows as (doc_id, <domain_col>, <tokens_col>,
    <score_col>), values exactly as the input row carried them. NULL
    tokens count 0 toward the budget (but are returned as NULL); a NULL
    domain is a domain of its own (null-safe joins throughout — a plain
    equi-join would silently drop those rows); tokens must be >= 0
    (negative values would break the prefix-monotonicity the plan
    exploits).

    Scale plan — the naive form is a window cumsum per domain, which
    funnels every domain through ONE reducer sorting the full domain.
    Instead, select-by-threshold:
      1. per-domain score min/max (1 row/domain, AQE-broadcast back);
      2. quantize score into ``n_buckets`` DESC-ordered buckets (equal
         scores share a bucket, so bucket order refines score order
         exactly); aggregate sum(tokens) per (domain, bucket) — map-side
         combine, stats bounded by domains x buckets;
      3. running bucket totals (a window over <= n_buckets+1 stat rows
         per domain) reduce to ONE row per domain: the boundary bucket
         b* (the first whose cumulative total exceeds budget) plus the
         token total of the buckets before it. Because the running
         total is monotone in the bucket id, "kept whole" is simply
         ``bucket < b*`` (or the domain has no boundary row at all) —
         the per-bucket stats never join back;
      4. one null-safe LEFT join of the data against that <= 1-row-per-
         domain boundary table decides every row: bucket < b* (or no
         b*) -> kept, no sort — any prefix of the kept-whole region is
         under budget because tokens are nonnegative; bucket == b* ->
         the exact (score DESC, id) window cumsum offset by the
         before-total, over ~1/n_buckets of the domain when scores
         spread (the whole domain only when scores are constant, where
         every plan degenerates to the naive one); bucket > b* ->
         dropped.
    The result row set is exactly the naive window's, so the DuckDB
    oracle is a plain SUM() OVER cumsum.

    Plan audit (AQE-final explain): both per-domain tables (score span,
    boundary) broadcast — kept-whole rows reach the output through
    scan -> broadcast joins -> filter with ZERO data-sized exchanges;
    only boundary-bucket rows cross a window exchange. (An earlier
    shape that joined the full (domain, bucket) stats table back
    compiled to sort-merge joins that shuffled every pre-boundary data
    row — the <= 1-row-per-domain reduction is what keeps the build
    sides in the same boundedness class as the span table.) The two
    union branches each re-derive the narrow projection from the scan
    (Spark re-evaluates the shared DAG): two pruned 4-column scans with
    map-side-combined stat aggregates beat persisting a data-sized
    intermediate.

    Reference parity: none; §2-extension op per the brief.
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    narrow = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(domain_col).alias("__dom"),
        F.col(tokens_col).alias("__tok_orig"),  # returned untouched
        F.col(score_col).alias("__score_orig"),  # returned untouched
        F.coalesce(F.col(tokens_col), F.lit(0)).cast("long").alias("__tok"),
        F.col(score_col).cast("double").alias("__score"),
    )
    spans = narrow.groupBy("__dom").agg(
        F.min("__score").alias("__lo"), F.max("__score").alias("__hi")
    )
    # DESC bucket id: highest score -> bucket 0; NULL score -> last.
    # Equal scores always share a bucket (quantization is a function of
    # the value), so (bucket ASC) refines (score DESC) exactly.
    b = F.when(F.col("__score").isNull(), F.lit(n_buckets)).otherwise(
        F.least(
            F.lit(n_buckets - 1),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col("__hi") - F.col("__score"))
                    / ((F.col("__hi") - F.col("__lo")) + F.lit(1e-300))
                    * n_buckets
                ).cast("int"),
            ),
        )
    )
    # joins on the domain must be NULL-SAFE: a plain equi-join would
    # silently drop every NULL-domain row (groupBy/Window treat NULL as
    # its own group, so only the joins need the <=> form)
    spans = spans.withColumnRenamed("__dom", "__sdom")
    # explicit broadcast on BOTH per-domain tables (spans, boundary):
    # they are domain-bounded (<= 1 row per domain — the same class as
    # the repo's other broadcast stats tables, NOT data-sized candidate
    # sets), and AQE was observed to leave these joins as sort-merge in
    # this DAG shape (the probe-side shuffle materializes before the
    # 3-stage-deep build's size is known), which would hash-exchange
    # every data row on the domain key — the funnel this op avoids
    bucketed = narrow.join(
        F.broadcast(spans), F.col("__dom").eqNullSafe(F.col("__sdom"))
    ).select(
        "doc_id",
        "__dom",
        "__tok_orig",
        "__score_orig",
        "__tok",
        "__score",
        b.alias("__b"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("__dom").orderBy("__b")
    # <= ONE row per domain: the first bucket whose running total
    # exceeds the budget, with the total of the buckets before it.
    # Domains that fit entirely within budget produce NO row (their
    # rows are all kept via the left join's null arm below).
    boundary = (
        bucketed.groupBy("__dom", "__b")
        .agg(F.sum("__tok").alias("__bt"))
        .select(
            "__dom",
            "__b",
            (F.sum("__bt").over(w) - F.col("__bt")).alias("__before"),
            F.sum("__bt").over(w).alias("__through"),
        )
        .where((F.col("__through") > budget) & (F.col("__before") <= budget))
        .groupBy("__dom")
        .agg(F.min("__b").alias("__bstar"), F.min("__before").alias("__before"))
        .withColumnRenamed("__dom", "__tdom")
    )
    tagged = bucketed.join(
        F.broadcast(boundary), F.col("__dom").eqNullSafe(F.col("__tdom")), "left"
    )
    kept_whole = tagged.where(
        F.col("__bstar").isNull() | (F.col("__b") < F.col("__bstar"))
    )
    wb = (
        Window.partitionBy("__dom")
        .orderBy(F.desc_nulls_last("__score"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    kept_boundary = (
        tagged.where(F.col("__b") == F.col("__bstar"))
        .withColumn("__cum", F.col("__before") + F.sum("__tok").over(wb))
        .where(F.col("__cum") <= budget)
        .drop("__cum")
    )
    return (
        kept_whole.unionByName(kept_boundary)
        .select(
            "doc_id",
            F.col("__dom").alias(domain_col),
            F.col("__tok_orig").alias(tokens_col),
            F.col("__score_orig").alias(score_col),
        )
    )
