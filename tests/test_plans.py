"""Plan-quality tests: assert the physical plan SHAPE the engine is designed
to produce — pushdown, pruning, broadcast, partial aggregation. A correct
result with the wrong plan is a 100 TB incident waiting; these tests make
plan regressions fail CI."""

from __future__ import annotations

import pytest

from symat_hbase_tools_spark.operators import relational
from symat_hbase_tools_spark.plans.explain import (
    assert_broadcast_join,
    assert_read_schema_only,
    plan_string,
)
from tests.conftest import SF_DIR


@pytest.fixture(autouse=True)
def _no_cached_plans(spark):
    """Plan-shape asserts must see the REAL scans. Spark's cache manager
    substitutes InMemoryRelation by logical-plan equality, so a `.cache()`
    of a shared `load_table` frame anywhere earlier in the session (the
    conftest table fixtures) would silently replace the parquet scan here
    and break ReadSchema/PushedFilters asserts depending on test order."""
    spark.catalog.clearCache()
    yield


def test_q1_scan_is_pruned_and_pushed(spark):
    df = relational.q1_pricing_summary(spark, SF_DIR)
    plan = plan_string(df)
    # filter reaches the parquet scan
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1].split("\n")[0]
    # only the 7 needed columns of 11 are read
    assert_read_schema_only(
        df,
        {
            "l_returnflag",
            "l_linestatus",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_shipdate",
        },
    )


def test_q1_aggregation_is_partial(spark):
    plan = plan_string(relational.q1_pricing_summary(spark, SF_DIR), "simple")
    # two HashAggregates (partial + final) around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "SortAggregate" not in plan


def test_q3_q5_broadcast_dims(spark):
    assert_broadcast_join(relational.q3_shipping_priority(spark, SF_DIR))
    assert_broadcast_join(relational.q5_local_supplier_volume(spark, SF_DIR))


def test_q5_no_fact_fact_shuffle_explosion(spark):
    """lineitem⋈orders is the only big join; all dims must be broadcast —
    i.e. at most ONE of the joins is a shuffle join."""
    plan = plan_string(relational.q5_local_supplier_volume(spark, SF_DIR), "simple")
    shuffle_joins = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
    assert shuffle_joins <= 1, plan


def test_point_get_pushes_binary_equality(spark, customer, tmp_path):
    from pyspark.sql import functions as F

    from symat_hbase_tools_spark.operators import kv
    from symat_hbase_tools_spark.sources.cells import customer_cells

    path = str(tmp_path / "cells_pg")
    customer_cells(customer).write.parquet(path)
    got = kv.point_get(spark.read.parquet(path), b"cust#00000042")
    plan = plan_string(got)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1].split("\n")[0]
    assert "row" in pushed and ("EqualTo" in pushed or "IsNotNull" in pushed), plan


def test_range_scan_pushes_both_bounds(spark, customer, tmp_path):
    from symat_hbase_tools_spark.operators import kv
    from symat_hbase_tools_spark.sources.cells import customer_cells

    path = str(tmp_path / "cells_rs")
    customer_cells(customer).write.parquet(path)
    got = kv.range_scan(spark.read.parquet(path), b"cust#00000050", b"cust#00000100")
    plan = plan_string(got)
    pushed = plan.split("PushedFilters")[1].split("\n")[0]
    assert "GreaterThanOrEqual(row" in pushed and "LessThan(row" in pushed, plan
    assert got.count() == 50 * 4


def test_latest_cells_partial_agg_no_window(spark, customer):
    """latest-version-wins must be a partially-aggregated agg (map-side
    combine -> one row per key per task on the wire), NOT a window over all
    versions. (Var-width max has no HashAggregate support, so the agg itself
    is a SortAggregate — the partial_ prefix is the scale property.)"""
    from symat_hbase_tools_spark.operators import kv
    from symat_hbase_tools_spark.sources.cells import customer_cells_versioned

    plan = plan_string(kv.latest_cells(customer_cells_versioned(customer)), "simple")
    assert "Window" not in plan
    assert "partial_max" in plan
    assert plan.count("Exchange") == 1


def test_audit_single_aggregation_no_join(spark, customer):
    from symat_hbase_tools_spark.operators.audit import audit
    from symat_hbase_tools_spark.sources.cells import customer_cells

    report, _ = audit(customer_cells(customer, with_corrupt_marker=True))
    plan = plan_string(report, "simple")
    assert "Join" not in plan  # the probe is one aggregation, not a self-join
    assert "HashAggregate" in plan


def test_knn_has_no_cartesian_product(spark):
    from symat_hbase_tools_spark.operators import similarity

    plan = plan_string(similarity.knn_cosine_topk(spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

def test_min_cost_supplier_two_exchanges_no_self_join(spark):
    """Q2 shape: window-min over grouped costs, not a decorrelated self-join —
    exactly two exchanges (fact agg + tiny grouped set), dims broadcast."""
    df = relational.min_cost_supplier(spark, SF_DIR)
    plan = plan_string(df, "simple")
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "SortMergeJoin" not in plan
    assert_broadcast_join(df)


def test_market_share_all_dims_broadcast(spark):
    """Q8 shape: the only shuffle is the final year aggregation; every
    dimension join is a BroadcastHashJoin."""
    df = relational.market_share(spark, SF_DIR)
    plan = plan_string(df, "simple")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 5, plan


def test_repair_diff_reuses_agg_partitioning(spark, customer, tmp_path):
    """Storage-backed repair diff: the visible-view aggregations partition on
    (row, family, qualifier), which the full-outer join consumes directly —
    two exchanges total, none for the join. (On fixture cells with a LITERAL
    family, constant folding narrows the join keys and costs two extra
    exchanges — that shape is a fixture artifact, not the production plan.)"""
    from symat_hbase_tools_spark.operators.repair import repair_changeset
    from symat_hbase_tools_spark.sources.cells import customer_cells

    a_path, r_path = str(tmp_path / "auth"), str(tmp_path / "replica")
    auth = customer_cells(customer)
    auth.write.parquet(a_path)
    auth.write.parquet(r_path)
    cs = repair_changeset(
        spark.read.parquet(a_path), spark.read.parquet(r_path), 999_999
    )
    plan = plan_string(cs, "simple")
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_q19_disjuncts_push_to_both_scans(spark):
    """The OR-of-ANDs predicate must split into per-side conjunct unions
    pushed into BOTH parquet scans (quantity bands on lineitem, brand/size
    bands on part), leaving only the cross-side residual above the join."""
    plan = plan_string(relational.q19_disjunctive_revenue(spark, SF_DIR))
    pushed = [seg.split("\n")[0] for seg in plan.split("PushedFilters: ")[1:]]
    assert any("l_quantity" in p and "Or(" in p for p in pushed), pushed
    assert any("p_brand" in p and "Or(" in p for p in pushed), pushed
    assert_broadcast_join(relational.q19_disjunctive_revenue(spark, SF_DIR))


def test_q4_semi_join_not_inner(spark):
    """EXISTS must stay a semi join (no duplicate-order inflation)."""
    plan = plan_string(relational.q4_order_priority(spark, SF_DIR), "simple")
    assert "LeftSemi" in plan, plan


def test_q17_aggregates_before_join(spark):
    """The correlated AVG decorrelation must partial-aggregate the per-part
    averages BEFORE joining back — no per-row correlated evaluation and the
    brand filter pushed to the part scan."""
    plan = plan_string(relational.q17_small_quantity_revenue(spark, SF_DIR))
    assert "Brand#13" in plan  # pushed predicate visible in scan or filter
    simple = plan_string(relational.q17_small_quantity_revenue(spark, SF_DIR), "simple")
    assert simple.count("HashAggregate") >= 2


def test_money_sum_is_long_typed(spark):
    """money_sum must aggregate longs (codegen fast path), not decimals —
    the DECIMAL accumulator regression costs ~3x per sum."""
    plan = plan_string(relational.q1_pricing_summary(spark, SF_DIR), "simple")
    assert "sum(" in plan
    # no decimal cast feeding an aggregate buffer anywhere in the agg
    import re

    agg_lines = [ln for ln in plan.splitlines() if "HashAggregate" in ln]
    assert agg_lines and not any(re.search(r"sum\([^)]*decimal", ln) for ln in agg_lines), agg_lines


def test_shuffle_assign_single_window_exchange(spark):
    """The global shuffle costs exactly one exchange (the shard window)."""
    from symat_hbase_tools_spark.operators.sampling import shuffle_assign
    from symat_hbase_tools_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    plan = plan_string(shuffle_assign(docs, ["doc_id"]), "simple")
    assert plan.count("Exchange") == 1, plan


def test_q6_all_predicates_pushed_no_join(spark):
    """Q6 is the pushdown litmus: every filter reaches the scan, no join,
    one partial-aggregated exchange."""
    df = relational.q6_forecast_revenue(spark, SF_DIR)
    plan = plan_string(df)
    pushed = plan.split("PushedFilters")[1].split("\n")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed
    simple = plan_string(df, "simple")
    assert "Join" not in simple
    assert simple.count("HashAggregate") >= 2  # partial + final


def test_q9_fact_never_shuffles_before_agg(spark):
    """All three dimensions broadcast: zero shuffle joins in the plan."""
    plan = plan_string(relational.q9_product_profit(spark, SF_DIR), "simple")
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") == 0, plan
    assert plan.count("BroadcastHashJoin") == 3, plan


def test_q21_semi_and_anti_joins(spark):
    """EXISTS -> semi, NOT EXISTS -> anti; no inner-join blowup of the
    correlated subqueries."""
    plan = plan_string(relational.q21_waiting_suppliers(spark, SF_DIR), "simple")
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan


def test_scan_fanout_is_bytes_proportional(spark, tmp_path):
    """Partition right-sizing: tiny file-backed sources collapse to ONE task
    (not 32 near-empty ones); the count scales with bytes and caps at
    cluster parallelism. Uses a dedicated parquet (not the shared fixtures,
    whose .cache() turns the scan into an in-memory relation with no input
    files — that path correctly falls back to full parallelism)."""
    from symat_hbase_tools_spark.plans.partitioning import scan_fanout

    p = str(tmp_path / "tiny")
    spark.range(100).toDF("x").coalesce(1).write.parquet(p)
    tiny = spark.read.parquet(p)
    assert scan_fanout(spark, tiny) == 1
    # non-file-backed input: size unknown -> full parallelism, never guess 1
    mem = spark.range(10).toDF("x")
    assert scan_fanout(spark, mem) == spark.sparkContext.defaultParallelism


def test_fanout_never_coalesces(spark, tmp_path):
    """fanout() fans OUT only. A source that already has more splits than
    the bytes-proportional target (the 100 TB shape: more files than cores)
    must pass through untouched — paying a full shuffle just to shrink the
    task count is the anti-pattern this guards against."""
    from symat_hbase_tools_spark.plans.partitioning import fanout

    p = str(tmp_path / "manysplit")
    # tiny bytes (target will be 1) but many partitions
    spark.range(1000).toDF("x").repartition(8).write.parquet(p)
    many = spark.read.parquet(p).repartition(8)
    out = fanout(spark, many)
    assert out is many, "over-partitioned source must not be repartitioned"
    # and the small-file case still fans out to the target
    single = spark.read.parquet(p).coalesce(1)
    fanned = fanout(spark, single, bytes_per_task=1)
    assert fanned.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_pii_scrub_is_map_only(spark):
    """PII census must stay a pure map stage: no Exchange anywhere in the
    plan (the 100 TB contract for per-row regex audits)."""
    from symat_hbase_tools_spark.operators import text_analysis

    plan = plan_string(text_analysis.pii_scrub(spark, SF_DIR))
    assert "Exchange" not in plan


def test_quantize_int8_is_map_only(spark):
    from symat_hbase_tools_spark.operators import similarity

    plan = plan_string(similarity.embedding_quantize_int8(spark, SF_DIR))
    assert "Exchange" not in plan


def test_cohort_retention_broadcasts_cohort_dim(spark):
    """The join back to first-order months must not shuffle the fact side
    at test scale: AQE or the planner picks a broadcast for the small
    cohort dim."""
    df = relational.orders_cohort_retention(spark, SF_DIR)
    df.count()  # let AQE finalize
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_bpe_pair_stats_one_shuffle_pruned_scan(spark):
    from symat_hbase_tools_spark.operators import text_analysis
    from symat_hbase_tools_spark.plans.explain import count_exchanges

    df = text_analysis.bpe_pair_stats(spark, SF_DIR)
    assert_read_schema_only(df, {"text"})
    assert count_exchanges(df) == 1  # pair groupBy; top-N is TakeOrdered
    assert "TakeOrderedAndProject" in plan_string(df)


def test_tfidf_single_corpus_scan(spark):
    """df-as-window formulation: ONE documents scan feeds tf -> df -> rank
    (a groupBy-on-term df would duplicate the whole explode+tf subtree)."""
    from symat_hbase_tools_spark.operators import text_analysis

    import re

    plan = plan_string(text_analysis.tfidf_topk(spark, SF_DIR))
    # corpus once + the 1-row n_docs count (formatted mode lists each node
    # once in the tree and once in the detail section -> match details only)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_quality_classifier_one_shuffle_no_python(spark):
    from symat_hbase_tools_spark.operators import text_analysis
    from symat_hbase_tools_spark.plans.explain import count_exchanges

    df = text_analysis.quality_classifier(spark, SF_DIR)
    plan = plan_string(df)
    assert count_exchanges(df) == 1  # doc_id groupBy only
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_chunk_census_is_map_only(spark):
    from symat_hbase_tools_spark.operators import text_analysis
    from symat_hbase_tools_spark.plans.explain import count_exchanges

    df = text_analysis.chunk_census(spark, SF_DIR)
    assert count_exchanges(df) == 0
    assert_read_schema_only(df, {"doc_id", "text"})


def test_unimax_broadcasts_domain_cuts(spark):
    """The per-domain cutoff table (domain-sized) must broadcast back; the
    only hash shuffles are the two domain-keyed aggregations."""
    from symat_hbase_tools_spark.entry import doc_unimax_resample

    plan = plan_string(doc_unimax_resample(spark, SF_DIR))
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def _no_single_partition_window(df):
    """Assert no Window/Sort runs over an Exchange SinglePartition — the
    single-task global-sort anti-pattern these operators were rewritten to
    avoid (plans/ranking.py). A SinglePartition exchange is still fine
    under a 1-row global aggregate or a bounded LIMIT result."""
    plan = plan_string(df, "simple")
    for i, line in enumerate(plan.splitlines()):
        if "Window" in line:
            # the window's input must not be a single-partition exchange
            below = "\n".join(plan.splitlines()[i + 1 : i + 4])
            assert not (
                "Exchange SinglePartition" in below and "TakeOrderedAndProject" not in below
                and "Limit" not in below
            ), plan
    return plan


def test_rfm_segments_no_global_sort_window(spark):
    from symat_hbase_tools_spark.operators import timeseries

    plan = _no_single_partition_window(timeseries.users_rfm_segments(spark, SF_DIR))
    # the quintile machinery is range-partitioned, not single-partition
    assert "rangepartitioning" in plan.lower(), plan


def test_balance_distribution_no_global_sort_window(spark):
    plan = _no_single_partition_window(
        relational.customer_balance_distribution(spark, SF_DIR)
    )
    assert "rangepartitioning" in plan.lower(), plan


def test_skew_report_top10_is_take_ordered(spark):
    from symat_hbase_tools_spark.operators import timeseries

    plan = _no_single_partition_window(timeseries.events_skew_report(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_session_paths_topk_is_take_ordered(spark):
    from symat_hbase_tools_spark.operators import timeseries

    plan = plan_string(timeseries.events_session_paths(spark, SF_DIR), "simple")
    assert "TakeOrderedAndProject" in plan, plan


def test_vocab_coverage_topv_is_take_ordered(spark):
    from symat_hbase_tools_spark.operators import text_analysis

    plan = plan_string(text_analysis.vocab_coverage(spark, SF_DIR), "simple")
    assert "TakeOrderedAndProject" in plan, plan


def test_zipf_fit_rank_is_distributed(spark):
    from symat_hbase_tools_spark.operators import text_analysis

    plan = _no_single_partition_window(text_analysis.zipf_fit(spark, SF_DIR))
    assert "rangepartitioning" in plan.lower(), plan


def test_orders_stats_pushdown_is_footer_only(spark):
    """COUNT/MIN/MAX must compile INTO the v2 BatchScan (PushedAggregation)
    — the scan answers from row-group footers, no data pages read — and
    the v2-source conf override must not leak into later reads."""
    df = relational.orders_stats_pushdown(spark, SF_DIR)
    plan = plan_string(df)
    assert "PushedAggregation" in plan, plan
    # the session is back on the v1 source afterwards (bucketed scans
    # elsewhere depend on it)
    later = relational.q1_pricing_summary(spark, SF_DIR)
    assert "Scan parquet" in plan_string(later, "simple")


def test_token_budget_select_no_global_sort_window(spark):
    from symat_hbase_tools_spark.operators import text_analysis

    plan = _no_single_partition_window(
        text_analysis.token_budget_select(spark, SF_DIR)
    )
    # the ordered prefix sum is range-partitioned; the budget and the
    # per-partition offsets join back as broadcasts
    assert "rangepartitioning" in plan.lower(), plan
    assert "BroadcastExchange" in plan, plan


def test_hard_negatives_has_no_cartesian_product(spark):
    from symat_hbase_tools_spark.operators import similarity

    plan = plan_string(
        similarity.embedding_hard_negatives(spark, SF_DIR, k=3), "simple"
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_no_interpreted_hof_reinlined_into_filters(spark):
    """Round-9's hand-found bug class, turned into a mechanical gate:
    Catalyst pushes deterministic filters below projections and re-inlines
    the projected expression into the Filter — for an interpreted HOF
    (the shingle/token lambda expressions) that re-runs the whole per-row
    pass twice (minhash cold 19.3 -> 4.3 s once fixed). Every HOF-bearing
    document/dedup/contamination plan must keep lambdas OUT of Filter
    nodes (and out of scan DataFilters).

    Each plan is built fresh (``__wrapped__``, not the prepared-plan cache)
    after ``clearCache``: a plan built earlier in the session, or a
    persisted subplan an earlier test left behind, can hide a re-inlined
    lambda behind an in-memory relation."""
    from symat_hbase_tools_spark.entry import QUERIES
    from symat_hbase_tools_spark.plans.explain import assert_no_hof_in_filters

    hof_queries = [
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_simhash_portable",
        "dedup_incremental",
        "dedup_prefix_filter",
        "doc_dup_spans",
        "doc_dedup_clusters",
        "doc_contamination",
        "doc_contamination_overlap",
        "doc_contamination_bloom",
        "text_token_stats",
        "boilerplate_shingles",
        "doc_token_budget_select",
        "bpe_tokenize_census",
        "knn_cosine_topk",
        "embedding_quantize_int8",
        # round-10 HOF-bearing additions
        "doc_dsir_select",
        "doc_ccnet_buckets",
        "doc_contamination_fuzzy",
        "doc_ngram_novelty",
        "text_tokenizer_fertility",
        # round-11 HOF-bearing additions (bigram zip / shingle transforms)
        "text_pmi_collocations",
        "text_word_entropy",
        "doc_containment_pairs",
        # round-12: the RRF fusion's zip_with/aggregate dot product
        "doc_hybrid_search_rrf",
        # round-13: window-hash transforms (max/trim spans), the gopher
        # alphabetic-token filter, and the unigram seed's substring HOF
        "doc_max_dup_spans",
        "doc_trim_dup_spans",
        "doc_gopher_quality",
        "unigram_learn_check",
        # round-14: the parameterized span family reuses the same
        # window-hash transform shape
        "doc_max_dup_spans_k8",
        "doc_trim_dup_spans_k8",
        "doc_max_dup_spans_withindoc",
        "doc_dup_span_partners",
    ]
    for name in hof_queries:
        spark.catalog.clearCache()
        assert_no_hof_in_filters(QUERIES[name].__wrapped__(spark, SF_DIR))


def test_range_bucket_join_no_cartesian_pushed_filter(spark):
    """The keyless range join's whole point: the executed plan must be an
    equi-join on the bucket key (hash or broadcast), never a
    CartesianProduct or a BroadcastNestedLoopJoin; the purchase filter
    reaches the parquet scan."""
    from symat_hbase_tools_spark.entry import QUERIES
    from symat_hbase_tools_spark.plans.explain import plan_string

    plan = plan_string(
        QUERIES["events_session_window_hits"](spark, SF_DIR), mode="simple"
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "EqualTo(event_type,purchase)" in plan, plan


def test_concurrency_sweep_no_single_partition_window(spark):
    """The sweep's prefix sum must ride the distributed ordered_prefix_sum
    (range repartition + per-partition window), never a global
    Window.orderBy with no partitioning (the single-reducer smell)."""
    from symat_hbase_tools_spark.entry import QUERIES
    from symat_hbase_tools_spark.plans.explain import plan_string

    plan = plan_string(
        QUERIES["events_concurrency"](spark, SF_DIR), mode="simple"
    )
    assert "CartesianProduct" not in plan, plan
    # the lazy triangular-offset machinery leaves its range partitioning
    assert "rangepartitioning" in plan.lower(), plan


def test_knn_label_vote_no_cartesian(spark):
    from symat_hbase_tools_spark.entry import QUERIES
    from symat_hbase_tools_spark.plans.explain import plan_string

    plan = plan_string(
        QUERIES["embedding_knn_label_vote"](spark, SF_DIR), mode="simple"
    )
    assert "CartesianProduct" not in plan, plan


def test_indexed_incremental_dedup_no_hof_filter_single_batch_pass(spark, tmp_path):
    """incremental_dedup_indexed (round-10 restructure): the batch side's
    empty-shingle guard must be a pushable size(words) predicate — not a
    size(sh) filter that re-inlines the shingle HOF — and the shingle
    projection must appear ONCE in the plan (n1 rides the explode instead
    of a second batch_sizes projection + join)."""
    import os

    from pyspark.sql import functions as F

    from symat_hbase_tools_spark.operators import dedup
    from symat_hbase_tools_spark.plans.explain import (
        assert_no_hof_in_filters,
        plan_string,
    )
    from symat_hbase_tools_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    corpus_dir = str(tmp_path / "csf")
    os.makedirs(corpus_dir, exist_ok=True)
    docs.filter(F.col("doc_id") % 10 != 0).write.mode("overwrite").parquet(
        os.path.join(corpus_dir, "documents.parquet")
    )
    dedup.build_shingle_index(spark, corpus_dir, str(tmp_path / "idx3"))
    out = dedup.incremental_dedup_indexed(
        spark, docs.filter(F.col("doc_id") % 10 == 0)
    )
    assert_no_hof_in_filters(out)
    # one shingle materialization for the whole batch side
    plan = plan_string(out, mode="simple")
    assert plan.count("array_distinct(transform(") == 1, plan


def test_dsir_select_distributed_rank_broadcast_model(spark):
    """DSIR plan shape: the 256-row weight model joins back as a
    BROADCAST; the selection rank is range-partitioned (plans/ranking.py),
    never a single-partition window; no interpreted HOF lands in any
    Filter."""
    from symat_hbase_tools_spark.operators import text_analysis
    from symat_hbase_tools_spark.plans.explain import assert_no_hof_in_filters

    df = text_analysis.dsir_select(spark, SF_DIR)
    plan = _no_single_partition_window(df)
    assert "rangepartitioning" in plan.lower(), plan
    assert "BroadcastExchange" in plan, plan
    assert_no_hof_in_filters(df)


def test_ccnet_buckets_distributed_rank_no_lang_window(spark):
    """CCNet buckets: the per-language rank must come from ONE global
    range-partitioned rank + broadcast per-language offsets — a
    PARTITION BY lang window would funnel each language through a single
    task at corpus scale (language cardinality is tiny)."""
    from symat_hbase_tools_spark.operators import text_analysis
    from symat_hbase_tools_spark.plans.explain import (
        assert_no_hof_in_filters,
        plan_string,
    )

    df = text_analysis.ccnet_buckets(spark, SF_DIR)
    plan = _no_single_partition_window(df)
    assert "rangepartitioning" in plan.lower(), plan
    # no window partitioned on the raw lang column anywhere
    assert "partitionBy=[lang" not in plan_string(df, "formatted"), plan
    assert_no_hof_in_filters(df)


def test_embedding_outlier_flags_broadcast_stats_partial_agg(spark):
    """Outlier flags: the prototype table (labels x dims) and the
    per-label thresholds join back as BROADCASTs; both data-scale
    aggregates are partial (map-side combined — the posexplode fan-out
    collapses before the exchange); no single-partition exchange
    anywhere."""
    from symat_hbase_tools_spark.operators import similarity
    from symat_hbase_tools_spark.plans.explain import plan_string

    df = similarity.embedding_outlier_flags(spark, SF_DIR)
    plan = plan_string(df)
    assert plan.count("BroadcastExchange") >= 2, plan
    assert "CartesianProduct" not in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "partial_" in plan.lower() or "HashAggregate" in plan, plan


def test_fuzzy_contamination_bench_side_broadcasts(spark):
    """doc_contamination_fuzzy: the benchmark side (banded buckets AND
    shingle sets) must BROADCAST — the train side never shuffles for the
    candidate join at 100 TB; and no interpreted HOF lands in a Filter."""
    from symat_hbase_tools_spark.operators.contamination import (
        benchmark_contamination_fuzzy,
    )
    from symat_hbase_tools_spark.plans.explain import (
        assert_no_hof_in_filters,
        plan_string,
    )

    df = benchmark_contamination_fuzzy(spark, SF_DIR)
    plan = plan_string(df)
    assert plan.count("BroadcastExchange") >= 2, plan
    assert "CartesianProduct" not in plan, plan
    assert_no_hof_in_filters(df)
