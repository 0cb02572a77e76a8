"""Physical-plan assertions — locks in the properties that matter at
100 TB so a refactor can't silently regress them:

- enrichment joins broadcast (no shuffle of the fact side)
- category/day filters prune sink partitions at scan time
- predicate pushdown + column pruning reach the parquet scan
- top-K compiles to TakeOrderedAndProject (no global sort), and a hot
  key reaches its reducer as per-task partials, not raw rows
- the parse stage is shuffle-free scan->project
"""

import pytest
from pyspark.sql import functions as F

from logparser_spark.operators import aggregates as agg
from logparser_spark.plans.pipeline import build_routed, run_pipeline
from logparser_spark.sources.sequences import read_raw_sequences
from logparser_spark.sources.sinks import read_sink


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def routed(spark, tiny_input):
    return build_routed(spark, read_raw_sequences(spark, tiny_input))


@pytest.fixture(scope="module")
def sink(spark, tiny_input, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("plan_sink"))
    run_pipeline(spark, tiny_input, out, n_chunks=1)
    return lambda **kw: read_sink(spark, out, **kw)


def test_enrich_joins_are_broadcast(routed):
    plan = plan_of(routed)
    # 3 joins (action, source, ip_class dims); formatted explain names
    # each node twice (tree + detail section)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    # the fact side is never exchanged for the joins: the only exchanges
    # are the broadcast ones
    assert "Exchange hashpartitioning" not in plan


def test_parse_stage_shuffle_free(spark, tiny_input):
    from logparser_spark.functions.parse import with_parsed

    plan = plan_of(with_parsed(read_raw_sequences(spark, tiny_input)))
    assert "Exchange" not in plan
    # the one parse path: a scalar Arrow UDF zipped into the stage —
    # never the full-batch mapInArrow formulation, never row-at-a-time
    assert "ArrowEvalPython" in plan
    assert "MapInArrow" not in plan
    assert "BatchEvalPython" not in plan


def test_parse_never_duplicated_by_filter_pushdown(spark, tiny_input):
    """A filter on a parsed column must not re-evaluate the parse UDF
    below an exchange (Catalyst would otherwise push the predicate
    through a repartition and run the WHOLE parse twice — once on the
    under-split pre-exchange side). Pinned via the nondeterministic
    marker on the UDF; exactly one Python eval node in the plan."""
    from logparser_spark.functions.parse import with_parsed

    df = (
        with_parsed(read_raw_sequences(spark, tiny_input).repartition(8))
        .filter(F.col("valid") == 1)
        .agg(F.min("epoch_us"), F.max("epoch_us"))
    )
    plan = plan_of(df)
    # formatted explain names each node twice (tree line + detail
    # section) -> exactly one Python eval node == at most 2 mentions
    n_evals = (
        plan.count("ArrowEvalPython")
        + plan.count("MapInArrow")
        + plan.count("BatchEvalPython")
    )
    assert n_evals == 2, plan[:2000]


def test_sink_category_filter_prunes_partitions(sink):
    plan = plan_of(sink(category="denied"))
    # partition filter on the directory column, not a data filter
    assert "PartitionFilters: [isnotnull(category" in plan.replace("#", " #").replace(
        "category#", "category #"
    ) or "PartitionFilters" in plan and "category" in plan.split("PartitionFilters")[1].split("]")[0]


def test_sink_predicate_pushdown_and_pruning(sink):
    df = sink().filter(F.col("status_code") >= 400).select("doc_id", "status_code")
    plan = plan_of(df)
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    assert "GreaterThanOrEqual(status_code,400)" in pushed
    schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in schema and "status_code" in schema
    assert "tokens" not in schema  # fat column pruned away
    assert "url" not in schema


def test_topk_is_take_ordered(sink):
    plan = plan_of(agg.top_urls(sink(), k=10))
    assert "TakeOrderedAndProject" in plan


def test_hot_keys_stay_bounded(spark, plan_nodes):
    """One url and one username hold 90% of 20k rows over 4 input
    partitions. The one-phase top-K plans still send the hot key's
    reducer at most one partial row per map task: each plan's only
    shuffle writes at most partitions x distinct keys records, far
    below the 18k hot rows. The answers equal the oracle's."""
    import pandas as pd

    from logparser_spark import oracle

    # 300 cold keys: past the 128 keys at which the partial collect_set
    # aggregate falls back to sorting, so that path is bounded too
    n, parts, cold = 20_000, 4, 300
    hot = F.col("id") % 10 != 0
    key = (F.col("id") / 10).cast("long") % cold
    df = spark.range(0, n, 1, parts).select(
        F.lit(1).alias("valid"),
        F.when(hot, F.lit("http://hot.example.com/"))
        .otherwise(F.format_string("http://c%d.example.com/", key))
        .alias("url"),
        F.when(hot, F.lit("hot.example.com"))
        .otherwise(F.format_string("c%d.example.com", key))
        .alias("domain"),
        F.when(hot, F.lit("hotuser"))
        .otherwise(F.format_string("u%d", key))
        .alias("username"),
        F.format_string("10.0.%d.%d", F.col("id") % 7, F.col("id") % 101).alias("ip"),
        (F.col("id") % 997).cast("int").alias("response_time_ms"),
        (F.col("id") * 13 % 5000).alias("response_size_bytes"),
        (F.lit(1_700_000_000_000_000) + F.col("id") * 1_000_000).alias("epoch_us"),
    )
    parsed = df.toPandas().assign(valid=True)
    for op, want, keys in [
        (agg.top_urls, oracle.top_urls(parsed, k=10), parsed[["url", "domain"]]),
        (agg.top_users, oracle.top_users(parsed, k=10), parsed[["username"]]),
    ]:
        q = op(df, k=10)
        got = q.toPandas()
        pd.testing.assert_frame_equal(
            got.astype(want.dtypes.to_dict()), want[got.columns], check_names=False
        )
        shuffles = [
            node
            for node in plan_nodes(q._jdf.queryExecution().executedPlan())
            if node.getClass().getSimpleName() == "ShuffleExchangeExec"
        ]
        assert len(shuffles) == 1, op.__name__
        written = shuffles[0].metrics().apply("shuffleRecordsWritten").value()
        bound = parts * len(keys.drop_duplicates())
        assert 0 < written <= bound < 0.9 * n, (op.__name__, written, bound)


def test_hourly_hist_single_scan(sink):
    """The densified histogram must not re-scan the fact for the
    category grid: exactly one parquet scan in the plan."""
    import re

    plan = plan_of(agg.hourly_hist(sink()))
    # formatted explain shows each node in tree AND detail; count detail
    # headers "(n) Scan parquet" — exactly one distinct scan node
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_doc_stats_is_single_pass_zero_shuffle(spark):
    """The merged per-doc profile must stay one narrow select: no
    Exchange anywhere, one scan (the whole point of the merge)."""
    from logparser_spark.operators import textstats

    df = spark.createDataFrame(
        [(1, "en", "the quick brown fox")], "doc_id long, lang string, text string"
    )
    plan = plan_of(textstats.doc_stats(df))
    assert "Exchange" not in plan, plan


def test_doc_signatures_zero_shuffle(spark, tmp_path):
    """simhash + fingerprint compose column-wise — one scan, no join,
    no Exchange (vs the naive sig-frame JOIN fp-frame formulation)."""
    from logparser_spark.operators import dedup, textstats

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, "a b c d"), (2, "x y z w")], "doc_id long, text string"
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    out = docs.select(
        "doc_id", dedup.simhash_col("text"), *textstats.fingerprint_cols("text")
    )
    plan = plan_of(out)
    assert "Exchange" not in plan and "Join" not in plan, plan


def test_media_profile_single_payload_pass(spark):
    """The blob is read once: no Join in the plan (the stats ⋈ decode
    formulation would re-scan and shuffle the payload twice)."""
    from logparser_spark.operators import multimodal as mm

    docs = spark.createDataFrame([(1, "hello")], "doc_id long, text string")
    plan = plan_of(mm.media_profile(mm.attach_payload(docs)))
    assert "Join" not in plan, plan
    assert plan.count("ArrowEvalPython") <= 1  # no second kernel pass


def test_lm_score_scoring_pass_zero_shuffle(spark):
    """The model travels as a broadcast; the scoring stage itself must
    be a pure map — no Exchange, no Join in the scored plan."""
    from logparser_spark.operators import lmscore

    df = spark.createDataFrame(
        [(1, [1, 2, 3]), (2, [2, 3, 1])], "doc_id long, tokens array<int>"
    )
    model = lmscore.bigram_model(df)
    plan = plan_of(lmscore.lm_score(df, model=model))
    assert "Exchange" not in plan and "Join" not in plan, plan


def test_bpe_merge_kernel_zero_shuffle(spark):
    """Each BPE iteration's merge step must move no data: applying a
    learned rule table is map-only (train counted on a sample; encode
    runs at corpus scale)."""
    from logparser_spark.operators import bpe

    df = spark.createDataFrame(
        [(1, [1, 2, 1, 2]), (2, [2, 1, 2, 1])], "doc_id long, tokens array<int>"
    )
    plan = plan_of(bpe.bpe_apply(df, [(1, 2, 9, 3)]))
    assert "Exchange" not in plan and "Join" not in plan, plan


def test_token_budget_select_plan_shape(spark):
    """Scale pins for the select-by-threshold plan: every join resolves
    to broadcast at stats size (domain-bounded build sides), nothing
    falls back to sort-merge or a cartesian, and no window partitions
    over the bare domain except the two intended ones (bucket-stat
    cumsum + boundary sort) — i.e. kept-whole rows never cross a
    window."""
    from pyspark.sql import functions as F

    from logparser_spark.operators.sampling import token_budget_select

    df = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("d"), F.pmod(F.xxhash64("id"), F.lit(5))).alias("lang"),
        F.pmod(F.xxhash64(F.col("id") * 3), F.lit(100)).alias("n_tokens"),
        F.pmod(F.xxhash64(F.col("id") * 7), F.lit(999)).cast("double").alias("score"),
    )
    out = token_budget_select(df, budget=5_000)
    # the static plan shows pre-AQE sort-merge joins; the broadcast
    # conversion is a RUNTIME decision, so execute THIS DataFrame's own
    # QueryExecution (collect, not a noop write — a write plans a
    # separate execution) and read the AQE-final plan
    out.collect()
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_near_dedup_incremental_plan_shape(spark):
    """Scale pins for cross-corpus fuzzy dedup: the verify stage is
    candidate-pruned (LeftSemi joins ahead of shingling on BOTH sides),
    the final drop is one LeftAnti join, and nothing goes cartesian."""
    from pyspark.sql import functions as F

    from logparser_spark.operators.dedup import near_dedup_incremental

    docs = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(29)),
                lambda j: F.concat(
                    F.lit("w"),
                    F.pmod(F.xxhash64(F.col("id") * 31 + j), F.lit(900)).cast("string"),
                ),
            ),
        ).alias("text"),
    )
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    out = near_dedup_incremental(new, corpus)
    plan = plan_of(out)
    assert plan.count("LeftSemi") >= 2  # both sides' verify prune
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
