"""Physical-plan shape regressions: freeze the scale-relevant plan
properties the operators were designed around, so a refactor that silently
introduces a cartesian product, drops a broadcast, or loses map-side
partial aggregation fails CI instead of failing at 100 TB.

Assertions are deliberately robust (presence/absence of node types), not
golden-plan strings — Catalyst is free to improve around them."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from dbt_scd2_utils_spark import ScdConfig, scd2_incremental, scd2_initial_load, scd2_join
from dbt_scd2_utils_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
from dbt_scd2_utils_spark.operators.similarity import lsh_ann_topk
from dbt_scd2_utils_spark.operators.text import repetition_stats

BAD_NODES = ("CartesianProduct", "BroadcastNestedLoop")


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def scd_feed(spark):
    return spark.createDataFrame(
        [
            (i, f"v{j}", dt.datetime(2020, 1 + j, 1))
            for i in range(60)
            for j in range(3)
        ],
        "k int, payload string, _updated_at timestamp",
    )


def test_scd2_merge_plan_broadcasts_and_never_nested_loops(spark, scd_feed):
    cfg = ScdConfig(unique_key=("k",))
    split = F.lit("2020-03-01").cast("timestamp")
    state = scd2_initial_load(scd_feed.filter(F.col("_updated_at") < split), cfg)
    state = spark.createDataFrame(state.collect(), state.schema)  # a stored table
    plan = plan_of(scd2_incremental(state, scd_feed.filter(F.col("_updated_at") >= split), cfg))
    for bad in BAD_NODES:
        assert bad not in plan, f"{bad} in merge plan"
    # The batch's distinct keys cut the target with a broadcast LEFT SEMI /
    # LEFT ANTI pair — the target streams against a broadcast, never
    # shuffles for it — and only the touched rows and the batch are
    # shuffled, once, on the key.  Each broadcast sits on the key set's own
    # distinct, one more Exchange in this initial plan (adaptive execution
    # reuses one broadcast for both).  No join-back and no persisted
    # intermediate.
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert "LeftOuter" not in plan, plan
    assert plan.count("BroadcastExchange") == 2, plan
    assert plan.count("Exchange hashpartitioning(k#") == 3, plan
    assert plan.count("Exchange hashpartitioning(") == 3, plan
    assert "InMemoryTableScan" not in plan, plan


def test_scd2_merge_plan_with_predicates_stays_bucket_local(spark, scd_feed):
    """incremental_predicates no longer force a join shape: a bucketed
    slice merges with one Exchange, on ``_scd_bucket``, and no join."""
    from dbt_scd2_utils_spark.plans.build import BUCKET_COL, ScdTable

    cfg = ScdConfig(unique_key=("k",), incremental_predicates=("_is_current = true",))
    split = F.lit("2020-03-01").cast("timestamp")
    state = scd2_initial_load(scd_feed.filter(F.col("_updated_at") < split), cfg)
    state = spark.createDataFrame(state.collect(), state.schema)
    state._scd_bucketing = (
        ScdTable(spark, "unused", cfg, partition_buckets=4)._bucket_expr(state), 4
    )
    plan = plan_of(scd2_incremental(state, scd_feed.filter(F.col("_updated_at") >= split), cfg))
    assert plan.count("Exchange") == 1, plan
    assert f"Exchange hashpartitioning({BUCKET_COL}#" in plan, plan
    assert "Join" not in plan, plan


def test_scd2_join_spine_is_equi_join(spark, scd_feed):
    cfg = ScdConfig(unique_key=("k",))
    a = scd2_initial_load(scd_feed.filter("payload = 'v0' or payload = 'v1'"), cfg).persist()
    b = scd2_initial_load(scd_feed.filter("payload <> 'v0'"), cfg).persist()
    try:
        plan = plan_of(scd2_join([a, b], ["k"]))
        # interval containment must ride on the key equi-join as a filter,
        # never degrade to a nested-loop/cartesian theta join
        for bad in BAD_NODES:
            assert bad not in plan, f"{bad} in temporal join plan"
    finally:
        a.unpersist(), b.unpersist()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, "a b c d e f g h " + str(i % 7)) for i in range(120)],
        "doc_id int, text string",
    )


def test_minhash_band_join_is_equi(spark, docs):
    plan = plan_of(minhash_lsh_pairs(docs))
    for bad in BAD_NODES:
        assert bad not in plan, f"{bad} in minhash LSH plan"


def test_lsh_ann_join_is_equi(spark):
    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(8)), lambda i: (i * F.col("id") % 17).cast("double")).alias("embedding"),
    )
    plan = plan_of(lsh_ann_topk(emb, query_ids=[0, 1], dims=8))
    for bad in BAD_NODES:
        assert bad not in plan, f"{bad} in ANN LSH plan"


def test_dedup_aggregations_combine_map_side(spark, docs):
    # exact dedup: min/count must have a partial (map-side) phase — the
    # hot-key safety argument depends on it
    plan = plan_of(exact_dedup(docs))
    assert "partial_min" in plan and "partial_count" in plan
    # repetition stats: both aggregation levels partial-combine
    plan2 = plan_of(repetition_stats(docs))
    assert "partial_count" in plan2


def test_top_ngrams_takes_ordered_no_full_sort(spark, docs):
    from dbt_scd2_utils_spark.operators.text import top_ngrams

    plan = plan_of(top_ngrams(docs, n=2, k=10))
    assert "TakeOrderedAndProject" in plan  # local-k merge, not a global Sort
    for bad in BAD_NODES:
        assert bad not in plan


def test_asof_union_window_has_no_join(spark):
    from dbt_scd2_utils_spark.operators.asof import asof_join

    l = spark.createDataFrame(
        [(1, 1, dt.datetime(2024, 1, 2))], "event_id long, k long, ts timestamp"
    )
    r = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 9.0)], "k long, vts timestamp, x double"
    )
    plan = plan_of(asof_join(l, r, on="k", left_ts="ts", right_ts="vts"))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_bitmap_prefilter_broadcasts_word_table(spark, docs):
    from dbt_scd2_utils_spark.operators.dedup import ngram_decontaminate_prefiltered

    bench = docs.limit(5)
    plan = plan_of(ngram_decontaminate_prefiltered(docs, bench, n=2))
    assert "BroadcastHashJoin" in plan
    for bad in BAD_NODES:
        assert bad not in plan


def test_salted_join_is_equi_on_key_and_salt(spark):
    from dbt_scd2_utils_spark.functions.skew import salted_join

    l = spark.range(100).select(F.col("id").alias("k"), F.col("id").alias("a"))
    r = spark.range(10).select(F.col("id").alias("k"), F.col("id").alias("b"))
    plan = plan_of(salted_join(l, r, "k", salts=4))
    for bad in BAD_NODES:
        assert bad not in plan
    assert "__salt" in plan  # the salt is part of the join key


def test_quality_filter_single_window_pass(spark):
    from dbt_scd2_utils_spark.operators.text import quality_percentile_filter

    df = spark.createDataFrame(
        [(i, "en", i * 7) for i in range(40)], "doc_id long, lang string, n_chars long"
    )
    plan = plan_of(quality_percentile_filter(df, group_cols=("lang",)))
    assert plan.count("Window") == 1
    for bad in BAD_NODES:
        assert bad not in plan


# ---- round-4 operators -----------------------------------------------------


def test_bm25_plan_broadcasts_queries_no_unbounded_nested_loop(spark):
    """The query-terms side must broadcast (queries ≪ corpus) and the only
    nested-loop join allowed is the 1-row corpus-scalars cross join."""
    from dbt_scd2_utils_spark.operators.search import bm25_topk

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(50)],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame([(1, "alpha")], "query_id long, query_text string")
    plan = plan_of(bm25_topk(docs, qs, k=3))
    assert "CartesianProduct" not in plan
    # scalars ride ONE BroadcastNestedLoopJoin (1-row side); a second one
    # would mean the postings join degenerated.
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "BroadcastHashJoin" in plan  # qterms join


def test_knn_graph_plan_keeps_window_group_limit(spark):
    """The deferred-dedup shape: dense_rank + rank filter must plan a
    WindowGroupLimit (map-side top-k pruning BEFORE the exchange) and no
    aggregate may run on the full candidate-pair stream (the distinct
    runs on the ≤ k·n survivors AFTER the window)."""
    from dbt_scd2_utils_spark.operators.similarity import knn_graph

    emb = spark.createDataFrame(
        [(i, [float(i % 7)] * 64) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    plan = plan_of(knn_graph(emb, k=3, id_col="vec_id", vec_col="embedding"))
    assert "WindowGroupLimit" in plan
    # the dedup HashAggregate must sit ABOVE the Window, not below it
    win = plan.index("Window ") if "Window " in plan else plan.index("Window")
    agg = plan.index("HashAggregate")
    assert agg < win, "pair dedup should run after the rank filter"


def test_lm_score_plan_no_cartesian_and_single_bigram_agg(spark):
    from dbt_scd2_utils_spark.operators.search import ngram_lm_score

    docs = spark.createDataFrame(
        [(i, "a b c d e") for i in range(30)], "doc_id long, text string"
    )
    plan = plan_of(ngram_lm_score(docs))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # 1-row vocab scalar


def test_temperature_mixture_plan_broadcasts_rates(spark):
    """The corpus must NOT shuffle: domain rates arrive via broadcast."""
    from dbt_scd2_utils_spark.operators.sampling import temperature_mixture_sample

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(50)], "doc_id long, source string"
    )
    plan = plan_of(temperature_mixture_sample(docs))
    assert "CartesianProduct" not in plan
    # exactly the 1-row totals scalar may ride a nested-loop cross join
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "BroadcastHashJoin" in plan  # rates reach the corpus broadcast
    # the corpus side of the rate join must be Exchange-free: every
    # Exchange in the plan belongs to the (tiny) sizes aggregation chain,
    # which sits under a BroadcastExchange — so each hash Exchange must
    # appear after the LAST BroadcastExchange in the plan text's
    # depth-first order (the broadcast subtree), never on the probe side.
    probe_region = plan[: plan.index("BroadcastExchange")]
    assert "Exchange hashpartitioning" not in probe_region


# --- round-4b operators ----------------------------------------------------


def test_containment_decontaminate_no_nested_loop(spark, docs):
    from dbt_scd2_utils_spark.operators.dedup import containment_decontaminate

    bench = docs.filter(F.col("doc_id") % 10 == 0)
    plan = plan_of(containment_decontaminate(docs, bench, max_df=50))
    for bad in BAD_NODES:
        assert bad not in plan, f"{bad} in containment plan"
    # the per-pair shared-gram count must combine map-side
    assert "partial_count" in plan


def test_rrf_fusion_aggregates_map_side(spark):
    from dbt_scd2_utils_spark.operators.search import rrf_fuse

    lists = [
        spark.createDataFrame(
            [(1, d, r) for r, d in enumerate(range(5), 1)],
            "query_id long, doc_id long, rank long",
        )
        for _ in range(2)
    ]
    plan = plan_of(rrf_fuse(lists))
    assert "partial_sum" in plan
    for bad in BAD_NODES:
        assert bad not in plan


def test_normalized_dedup_combines_map_side(spark, docs):
    from dbt_scd2_utils_spark.operators.dedup import normalized_exact_dedup

    plan = plan_of(normalized_exact_dedup(docs))
    assert "partial_min" in plan and "partial_count" in plan


def test_pool_embeddings_no_per_group_collect(spark):
    from dbt_scd2_utils_spark.operators.similarity import pool_embeddings

    emb = spark.range(50).select(
        (F.col("id") % 3).cast("int").alias("label"),
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda i: (i * F.col("id") % 13).cast("float"),
        ).alias("embedding"),
    )
    plan = plan_of(pool_embeddings(emb))
    # component sums combine map-side; vectors are never collect_list'd
    # pre-aggregation (the only collect_list runs over the already-
    # aggregated (group, pos) table)
    assert "partial_sum" in plan
    for bad in BAD_NODES:
        assert bad not in plan


def test_random_projection_single_shuffle_map_side(spark):
    from dbt_scd2_utils_spark.operators.similarity import random_projection

    emb = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(16)),
            lambda i: (i * F.col("id") % 13).cast("float"),
        ).alias("embedding"),
    )
    plan = plan_of(random_projection(emb, dim_in=16, dim_out=8))
    # one groupBy(id) shuffle at most (AQE may not have inserted it yet
    # in the printed plan) and map-side partial sums
    assert plan.count("Exchange") <= 1
    assert "partial_sum" in plan
    # the sign matrix must be constant-folded into ONE literal array —
    # the plan prints it as a nested bracket literal, not CreateArray
    assert "[[-1," in plan or "[[1," in plan


def test_quality_classifier_is_narrow(spark, docs):
    from dbt_scd2_utils_spark.operators.text import quality_classifier

    plan = plan_of(quality_classifier(docs))
    assert "Exchange" not in plan  # pure projection, no shuffle


def test_grouped_vocab_partials_and_window(spark, docs):
    from dbt_scd2_utils_spark.operators.text import top_ngrams_by_group

    df = docs.withColumn("lang", (F.col("doc_id") % 2).cast("string"))
    plan = plan_of(top_ngrams_by_group(df, group_col="lang", n=2, k=3))
    assert "partial_count" in plan
    assert "RunningWindowFunction" in plan or "Window" in plan
    for bad in BAD_NODES:
        assert bad not in plan


def test_mixture_report_single_agg_pass(spark, docs):
    from dbt_scd2_utils_spark.operators.sampling import mixture_report

    df = docs.withColumn("lang", F.lit("en")).withColumn(
        "source", (F.col("doc_id") % 3).cast("string")
    )
    plan = plan_of(mixture_report(df))
    assert "partial_count" in plan and "partial_sum" in plan
    # the corpus-total scalar rides a 1-ROW broadcast cross join (the
    # same deliberate pattern as BM25's scalars) — only an unbounded
    # cartesian would be a defect
    assert "CartesianProduct" not in plan


def test_pq_scoring_joins_codes_not_vectors(spark):
    from dbt_scd2_utils_spark.operators.similarity import pq_ann_topk

    emb = spark.range(60).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda i: (i * F.col("id") % 13).cast("float"),
        ).alias("embedding"),
    )
    plan = plan_of(
        pq_ann_topk(emb, emb.filter("vec_id < 4"), dim=8, m=2, ksub=4)
    )
    # codebooks and LUT ride broadcasts; no cartesian anywhere
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_blocklist_is_broadcast_anti(spark, docs):
    from dbt_scd2_utils_spark.operators.text import blocklist_filter

    df = docs.withColumn("source", F.lit("s"))
    bl = spark.createDataFrame([("s", "exact")], "pattern string, kind string")
    plan = plan_of(blocklist_filter(df, bl))
    # theta-match against the broadcast pattern table — LeftAnti and
    # never a shuffled cartesian of the corpus
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_repeated_lines_partials_no_cartesian(spark, docs):
    from dbt_scd2_utils_spark.operators.text import remove_repeated_lines

    plan = plan_of(remove_repeated_lines(docs, line_tokens=4, min_count=2))
    assert "partial_count" in plan
    for bad in BAD_NODES:
        assert bad not in plan


def test_read_keys_plan_broadcast_semi_no_exchange_on_table_side(spark, tmp_path):
    """read_keys: the big (table) side must reach the semi-join without an
    Exchange — the key set broadcasts — and the scan must read ONLY the
    probe keys' bucket files (plan input paths ⊂ table files, checked by
    the pruning test; here the JOIN SHAPE is frozen)."""
    from tests.fixtures.seeds import CUSTOMERS_RAW, CUSTOMERS_SCHEMA

    from dbt_scd2_utils_spark.plans.build import ScdTable

    cfg = ScdConfig(unique_key=("customer_id",), deleted_at_column="deleted_at")
    t = ScdTable(spark, str(tmp_path / "rkplan"), cfg, partition_buckets=8)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))
    out = t.read_keys(spark.createDataFrame([(1,), (2,)], "customer_id int"))
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    for bad in BAD_NODES:
        assert bad not in plan
    # The TABLE side never shuffles: the streamed branch (printed before
    # the BroadcastExchange subtree) is the parquet scan feeding the join
    # directly — any hash Exchange in the plan belongs to the tiny key
    # set's own distinct, below the broadcast.
    streamed = plan.split("BroadcastExchange")[0]
    assert "FileScan parquet" in streamed
    assert "Exchange hashpartitioning" not in streamed


def test_delete_keys_merge_plan_broadcast_anti_no_nested_loop(spark, tmp_path):
    """delete_keys' bucketed rewrite: the affected-bucket slice anti-joins
    a BROADCAST key set — never a shuffled or nested-loop join of the
    table side (the 100-TB shape: O(affected buckets) scan, zero table
    shuffle before the bucket-partitioned write)."""
    from tests.fixtures.seeds import CUSTOMERS_RAW, CUSTOMERS_SCHEMA

    from dbt_scd2_utils_spark.functions.partitioning import key_join
    from dbt_scd2_utils_spark.plans.build import ScdTable

    cfg = ScdConfig(unique_key=("customer_id",), deleted_at_column="deleted_at")
    t = ScdTable(spark, str(tmp_path / "dkplan"), cfg, partition_buckets=8)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))
    files, stale = t._affected_files(t._read_manifest(), list(range(8)))
    slice_df = spark.read.parquet(*files)
    keys = spark.createDataFrame([(1,), (2,)], "customer_id int")
    anti = key_join(slice_df, cfg.unique_key, keys, "left_anti")
    plan = plan_of(anti)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    for bad in BAD_NODES:
        assert bad not in plan
    assert "Exchange hashpartitioning" not in plan
