"""Physical-plan assertions (SURVEY.md §4): pushdown, pruning, join
strategy, codegen. These pin the *plans*, not just the answers — a change
that silently turns a broadcast join into a cartesian product or stops
pushing a filter into the scan fails here before it costs anything at
scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pandas_streaming_spark.catalog import load_table
from pandas_streaming_spark.plans import (
    codegen_stage_count,
    has_pushed_filter,
    join_strategies,
    scan_read_schema,
)
from pandas_streaming_spark.queries import tpch


def test_filter_pushed_into_scan(spark, sf_dir):
    df = tpch.q02_projection_filter(spark, sf_dir)
    assert has_pushed_filter(df, "o_orderstatus")
    assert has_pushed_filter(df, "o_totalprice")


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey").limit(5)
    cols = scan_read_schema(df)
    assert cols == ["l_orderkey"], cols


def test_star_join_broadcasts_dims(spark, sf_dir):
    df = tpch.q04_star_join_revenue(spark, sf_dir)
    strategies = join_strategies(df)
    assert "BroadcastHashJoin" in strategies, strategies
    assert "CartesianProduct" not in strategies


def test_q01_is_codegen(spark, sf_dir):
    assert codegen_stage_count(tpch.q01_pricing_summary(spark, sf_dir)) >= 1


# the headline queries without q81, whose AQE re-plan now and then picks
# another join and compiles a few new classes on a warm pass
_CODEGEN_MIX = (
    "q01_pricing_summary", "q04_star_join_revenue", "q11_asof_join",
    "q14_count_distinct", "q21_topk_per_group", "q27_global_topk",
    "q34_date_trunc_tumbling", "q39_similarity_topk", "q40_top_tokens",
    "q50_lsh_candidate_pairs", "q84_chunk_documents", "q88_salted_hot_key",
    "q94_funnel",
)


def test_warm_query_mix_compiles_nothing(spark, sf_dir):
    """A query shape seen before reuses its generated classes: the mix
    compiles more classes than Spark's default cache of 100 holds, and a
    second pass compiles none."""
    from pandas_streaming_spark.queries import QUERIES

    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    compiles = metrics.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run_pass() -> int:
        before = compiles.getCount()
        for name in _CODEGEN_MIX:
            QUERIES[name](spark, sf_dir).toPandas()
        return compiles.getCount() - before

    assert run_pass() > 100
    assert run_pass() == 0


def test_global_topk_avoids_full_sort(spark, sf_dir):
    from pandas_streaming_spark.plans import physical_plan
    from pandas_streaming_spark.queries.analytic import q27_global_topk

    plan = physical_plan(q27_global_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:800]


def test_media_metadata_query_skips_payload(spark, sf_dir):
    """Column pruning on the multimodal table: a metadata-only projection
    must not read the binary payload column."""
    from pandas_streaming_spark.operators.multimodal import documents_as_media

    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    meta_only = media.select("doc_id")
    assert scan_read_schema(meta_only) == ["doc_id"]


def test_chunking_is_shuffle_free(spark, sf_dir):
    """chunk_documents claims a narrow map+explode — its physical plan
    must contain no Exchange (at 100 TB that means per-split parallelism
    with zero data movement)."""
    from pandas_streaming_spark.operators.text import chunk_documents
    from pandas_streaming_spark.plans import physical_plan

    plan = physical_plan(chunk_documents(load_table(spark, sf_dir, "documents")))
    assert "Exchange" not in plan, plan[:800]


def test_repetition_score_is_shuffle_free(spark, sf_dir):
    """repetition_score claims a pure narrow map — no Exchange anywhere."""
    from pandas_streaming_spark.operators.text import repetition_score
    from pandas_streaming_spark.plans import physical_plan

    plan = physical_plan(repetition_score(load_table(spark, sf_dir, "documents")))
    assert "Exchange" not in plan, plan[:800]


def test_tfidf_broadcasts_both_small_sides(spark, sf_dir):
    """Pins the q81 fix: the 1-row n_docs crossJoin must be BuildRight
    (broadcast the scalar, never the (doc, term) table), and the term
    join must not be a cartesian product."""
    from pandas_streaming_spark.operators.text import tf_idf
    from pandas_streaming_spark.plans import physical_plan

    plan = physical_plan(tf_idf(load_table(spark, sf_dir, "documents")))
    assert "BroadcastNestedLoopJoin BuildLeft" not in plan, plan[:1200]
    assert "CartesianProduct" not in plan


def test_contamination_broadcasts_benchmark(spark, sf_dir):
    """The eval-set gram side must broadcast: the corpus side of the
    decontamination join is never shuffled on gram."""
    from pandas_streaming_spark.operators.text import contamination_check

    docs = load_table(spark, sf_dir, "documents")
    df = contamination_check(docs, docs.filter(F.col("doc_id") % 97 == 0), k=5)
    strategies = join_strategies(df)
    assert "BroadcastHashJoin" in strategies, strategies
    assert "SortMergeJoin" not in strategies, strategies


def test_centroid_assign_broadcasts_centroids(spark, sf_dir):
    from pandas_streaming_spark.operators.similarity import assign_to_centroids

    df = assign_to_centroids(load_table(spark, sf_dir, "embeddings"))
    strategies = join_strategies(df)
    assert "CartesianProduct" not in strategies, strategies


def test_redact_and_quantize_are_shuffle_free(spark, sf_dir):
    """redact_terms and quantize_int8 claim pure narrow maps — no
    Exchange in either plan."""
    from pandas_streaming_spark.operators.similarity import quantize_int8
    from pandas_streaming_spark.operators.text import redact_terms
    from pandas_streaming_spark.plans import physical_plan

    docs = load_table(spark, sf_dir, "documents")
    assert "Exchange" not in physical_plan(redact_terms(docs, r"\b(key)\b"))
    emb = load_table(spark, sf_dir, "embeddings")
    assert "Exchange" not in physical_plan(quantize_int8(emb))


def test_funnel_single_user_shuffle(spark, sf_dir):
    """funnel_counts claims ONE user-keyed shuffle for the whole stage
    chain: the window and the per-user groupBy must share a single
    hashpartitioning(user_id) exchange, with no per-stage join exchanges."""
    from pandas_streaming_spark.operators.funnel import funnel_counts
    from pandas_streaming_spark.plans import physical_plan

    ev = load_table(spark, sf_dir, "events")
    plan = physical_plan(
        funnel_counts(ev, ["signup", "view", "click", "purchase"])
    )
    assert plan.count("hashpartitioning(user_id") == 1, plan[:1200]
    assert "Join" not in plan, plan[:1200]


def test_bloom_probe_stays_in_scan_stage(spark, sf_dir):
    """q134's runtime filter must be a pure filter BEFORE the join (no
    extra shuffle, no Python eval) and the dim join must broadcast."""
    from pandas_streaming_spark.queries.advanced import q134_bloom_prune

    from pandas_streaming_spark.plans import physical_plan

    df = q134_bloom_prune(spark, sf_dir)
    plan = physical_plan(df)
    strategies = join_strategies(df)
    assert "BroadcastHashJoin" in strategies, strategies
    assert "CartesianProduct" not in strategies
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cms_probe_is_broadcast_only(spark, sf_dir):
    """q135's grid probes must all be broadcast joins — the items side
    never shuffles."""
    from pandas_streaming_spark.queries.advanced import q135_cms_heavy_hitters

    strategies = join_strategies(q135_cms_heavy_hitters(spark, sf_dir))
    assert "CartesianProduct" not in strategies
    assert "SortMergeJoin" not in strategies, strategies


def test_graph_queries_avoid_cartesian(spark, sf_dir):
    """Wedge/contribution joins must stay keyed joins; the only
    nested-loop joins allowed are the broadcast 1-row scalar frames."""
    from pandas_streaming_spark.queries.advanced import (
        q137_triangle_count,
        q138_pagerank_nations,
    )

    for df in (q137_triangle_count(spark, sf_dir), q138_pagerank_nations(spark, sf_dir)):
        strategies = join_strategies(df)
        assert "CartesianProduct" not in strategies, strategies
