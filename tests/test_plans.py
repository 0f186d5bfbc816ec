"""Scale-discipline tests — pin PLAN properties, not just results.

The oracle (test_oracle_parity) proves the values; these tests prove the
plan would survive 100 TB: filters reach the parquet scan, projections
prune columns, dimension joins broadcast instead of shuffling the fact
side, top-k never global-sorts, and nothing falls back to a cartesian
product. A regression here is invisible at sf0.01 and fatal at scale.
"""

from __future__ import annotations

import pytest

from data_mastery_pipeline_spark import plans
from data_mastery_pipeline_spark.allqueries import register_all
from data_mastery_pipeline_spark.registry import QUERIES

register_all()  # deterministic registry regardless of which test
# files ran first — a query built below may lazily import a
# registering module, which used to mutate QUERIES mid-iteration when
# this file ran in isolation (-k selection)

from conftest import SF_ORACLE


@pytest.fixture(scope="module")
def q(spark):
    return {name: fn(spark, SF_ORACLE) for name, fn in list(QUERIES.items())}


def test_clean_filter_pushes_predicates_to_scan(q):
    pushed = plans.pushed_filters(q["clean_filter"])
    joined = " ".join(pushed)
    assert "IsNotNull" in joined
    assert "GreaterThanOrEqual(l_quantity" in joined
    assert "LessThanOrEqual(l_quantity" in joined


def test_clean_filter_prunes_columns(q):
    # 16-column lineitem, 4-column query → the scan must read only 4.
    (cols,) = plans.read_schema_columns(q["clean_filter"])
    assert set(cols) == {"l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"}


def test_pricing_summary_scan_is_pruned_and_filtered(q):
    df = q["pricing_summary"]
    (cols,) = plans.read_schema_columns(df)
    assert len(cols) <= 7, cols  # 16-col table, Q1 needs 7
    assert any("l_shipdate" in p for p in plans.pushed_filters(df))


def test_star_revenue_broadcasts_dims_no_cartesian(q):
    df = q["star_revenue"]
    assert plans.broadcast_join_count(df) >= 3  # customer, nation, region
    assert plans.cartesian_product_count(df) == 0


def test_star_revenue_fact_side_never_shuffles_for_joins(q):
    # Broadcast dims mean the only exchanges are for the final aggregate
    # (partial → final) — not one per join.
    assert plans.exchange_count(q["star_revenue"]) <= 2


def test_top10_orders_uses_topk_not_global_sort(q):
    plan = plans.formatted_plan(q["top10_orders"])
    assert "TakeOrderedAndProject" in plan


def test_asof_join_single_shuffle_no_cartesian(q):
    df = q["asof_join_purchases"]
    assert plans.cartesian_product_count(df) == 0
    # union + window → one shuffle on user_id (+1 if AQE inserts a
    # coalesce); must NOT degrade into a per-row range join.
    assert plans.exchange_count(df) <= 2


def test_semi_anti_joins_no_cartesian(q):
    for name in ("semi_join_customers", "anti_join_customers", "idempotent_append"):
        assert plans.cartesian_product_count(q[name]) == 0, name


def test_minhash_no_cartesian(q):
    assert plans.cartesian_product_count(q["minhash_near_dup"]) == 0


def test_range_join_is_bounded_broadcast(q):
    # Non-equi join: acceptable only as a broadcast nested-loop with the
    # SMALL side broadcast — never a cartesian of two large inputs.
    df = q["range_join_late_ships"]
    assert plans.cartesian_product_count(df) == 0
    assert plans.broadcast_join_count(df) >= 1


def test_dedup_latest_single_shuffle(q):
    # row_number() over (partitionBy keys) — exactly one hash exchange.
    assert plans.exchange_count(q["dedup_latest"]) == 1


def test_events_scans_prune_to_used_columns(q):
    for name in ("hourly_agg", "running_total"):
        for cols in plans.read_schema_columns(q[name]):
            assert len(cols) <= 6, (name, cols)


def test_time_bucket_range_join_is_hash_not_nested_loop(q):
    df = q["clicks_near_purchases"]
    assert plans.cartesian_product_count(df) == 0
    plan = plans.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    # the bucket key makes it a proper hash/sort-merge equi join
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_user_sessions_batch_single_window_shuffle(q):
    # lag + running-sum share one window spec → one shuffle on user_id,
    # plus one for the (user_id, session_id) aggregate.
    assert plans.exchange_count(q["user_sessions_batch"]) <= 2


def test_big_orders_aggregates_before_join_and_broadcasts_customer(q):
    df = q["big_orders"]
    assert plans.cartesian_product_count(df) == 0
    assert plans.broadcast_join_count(df) >= 1  # customer dim
    # lineitem scan must read only the two agg columns
    cols_per_scan = plans.read_schema_columns(df)
    assert any(set(c) == {"l_orderkey", "l_quantity"} for c in cols_per_scan)


def test_returned_orders_exists_pushes_returnflag_filter(q):
    df = q["returned_orders_exists"]
    assert any("l_returnflag" in p for p in plans.pushed_filters(df))
    assert "LeftSemi" in plans.formatted_plan(df)


def test_nation_trade_flows_broadcasts_all_dim_roles(q):
    df = q["nation_trade_flows"]
    assert plans.cartesian_product_count(df) == 0
    # customer, supplier, and BOTH nation roles broadcast independently
    assert plans.broadcast_join_count(df) >= 4


# --- round-2 stats/time-series/join-shape batch (queries_stats.py) ---------


def test_promo_revenue_pushes_date_range_and_broadcasts_part(q):
    df = q["promo_revenue"]
    joined = " ".join(plans.pushed_filters(df))
    assert "GreaterThanOrEqual(l_shipdate" in joined
    assert "LessThan(l_shipdate" in joined
    assert plans.broadcast_join_count(df) >= 1
    # conditional agg reduces map-side: single exchange to the final row
    assert plans.exchange_count(df) == 1


def test_brand_size_revenue_cnf_pushes_disjunction_to_both_scans(q):
    # The OR spans both join sides; Catalyst must CNF-extract the
    # per-table residuals and push them into BOTH parquet scans —
    # at 100 TB this is the difference between scanning 3 brands'
    # row groups and scanning the whole fact table.
    df = q["brand_size_revenue"]
    pushed = plans.pushed_filters(df)
    assert any("l_quantity" in p and "Or(" in p for p in pushed)
    assert any("p_brand" in p and "Or(" in p for p in pushed)
    assert plans.broadcast_join_count(df) >= 1
    assert plans.cartesian_product_count(df) == 0


def test_rich_inactive_customers_scalar_stays_in_plan(q):
    # Scalar avg joins as a broadcast 1-row relation (no driver
    # collect), no-orders test is an anti join, nation broadcasts.
    df = q["rich_inactive_customers"]
    assert plans.cartesian_product_count(df) == 0
    assert plans.broadcast_join_count(df) >= 3
    assert "LeftAnti" in plans.formatted_plan(df)


def test_gap_fill_reuses_user_partitioning(q):
    # daily agg, spans agg, join, and ffill window are all keyed by
    # user_id — the shuffle must be reused, not repeated per stage.
    assert plans.exchange_count(q["gap_fill_ffill"]) <= 2
    assert plans.cartesian_product_count(q["gap_fill_ffill"]) == 0


def test_moving_avg_window_runs_over_preaggregated_days(q):
    # one shuffle for the daily agg + one single-partition exchange for
    # the calendar-bounded window — never a shuffle of raw fact rows
    # into the window.
    assert plans.exchange_count(q["moving_avg_7d"]) <= 2


def test_tfidf_no_cartesian_and_broadcast_scalar(q):
    df = q["tfidf_top_terms"]
    assert plans.cartesian_product_count(df) == 0
    assert plans.broadcast_join_count(df) >= 1  # N joins as broadcast 1-row


def test_string_suite_pure_projection_no_shuffle(q):
    df = q["string_suite"]
    assert plans.exchange_count(df) == 0
    (cols,) = plans.read_schema_columns(df)
    assert set(cols) == {"p_partkey", "p_name", "p_brand", "p_type"}


def test_stat_moments_single_shuffle(q):
    # all moment accumulators combine map-side → one exchange
    assert plans.exchange_count(q["stat_moments"]) == 1


def test_ship_priority_topk_broadcast_segment(q):
    df = q["ship_priority"]
    assert "TakeOrderedAndProject" in plans.formatted_plan(df)
    assert plans.broadcast_join_count(df) >= 1  # filtered customer dim
    joined = " ".join(plans.pushed_filters(df))
    assert "o_orderdate" in joined and "l_shipdate" in joined


def test_returned_revenue_pushes_flag_and_broadcasts_dims(q):
    df = q["returned_revenue_by_customer"]
    assert any("l_returnflag" in p for p in plans.pushed_filters(df))
    assert plans.broadcast_join_count(df) >= 2  # customer + nation
    assert "TakeOrderedAndProject" in plans.formatted_plan(df)


def test_embedding_norms_no_hash_shuffle_no_python(q):
    """Norms are one narrow pass — no aggregation/join shuffle and no
    Python. The single allowed exchange is load_table's CPU_HEAVY_TABLES
    round-robin fan-out (a no-op on well-split sources at scale), never
    a hash partitioning."""
    df = q["embedding_norms"]
    assert plans.exchange_count(df) <= 1
    plan = plans.formatted_plan(df)
    assert "hashpartitioning" not in plan.lower()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_runtime_bloom_filter_prunes_shuffle_join_probe_side(spark):
    """Scale path for non-broadcastable dims: runtime bloom-filter join
    pruning (spark.sql.optimizer.runtime.bloomFilter). With broadcast
    disabled (dim 'too big'), Spark must build a bloom filter from the
    selective orders side and apply might_contain on lineitem BEFORE its
    shuffle — at 100 TB that keeps never-joining fact rows off the
    network entirely. Values are pinned against the broadcast-join plan
    of the same query."""
    from pyspark.sql import functions as F

    from data_mastery_pipeline_spark.tables import load_table

    def build():
        # fresh DataFrame per conf regime: a DataFrame pins its
        # QueryExecution on first use, so conf changes after that
        # never re-optimize it
        li = load_table(spark, "lineitem", SF_ORACLE)
        od = load_table(spark, "orders", SF_ORACLE).filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        return (
            li.join(od, li.l_orderkey == od.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("qty"))
        )

    expected = build().collect()  # broadcast plan (default confs)

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        joined = build()
        assert plans.runtime_bloom_filter_present(joined)
        assert joined.collect() == expected
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_round4_analytics_queries_plan_shape(q):
    """The round-4 analytics additions keep the discipline: no
    cartesian products anywhere; the co-occurrence self-join is an
    equi-join on the order key; the LM/KL text models are vocab-bounded
    aggregates, not cross joins of the corpus with itself (their only
    cross join is the broadcast 1-row scalar)."""
    for name in (
        "lm_bigram_quality",
        "source_unigram_drift",
        "funnel_conversion",
        "cohort_retention",
        "part_cooccurrence",
        "daily_revenue_anomalies",
        "rfm_segments",
        "revenue_concentration",
    ):
        assert plans.cartesian_product_count(q[name]) == 0, name


def test_edit_near_dups_lsh_no_cartesian(q):
    # r10 re-scope: candidate generation is MinHash-LSH banding (the
    # sub-quadratic shape), never a cross/cartesian product — the old
    # prefix_edit_near_dups broadcast block-join grew 34× at 10× data
    df = q["edit_near_dups_lsh"]
    assert plans.cartesian_product_count(df) == 0


def test_minhash_signatures_and_simhash_fingerprints_zero_shuffle(spark):
    """The sketch-building stages are pure narrow maps — a regression
    back to explode + per-doc aggregation would re-introduce a
    data-sized shuffle invisible at sf0.01 and dominant at 100 TB."""
    from data_mastery_pipeline_spark.dedup import minhash, simhash
    from data_mastery_pipeline_spark.tables import load_table

    import re

    def non_fanout_exchanges(df):
        # the conditional source fan-out (parallelism.fan_out) is a
        # ROUND-ROBIN repartition — allowed; what this test forbids is a
        # HASH exchange from an explode + per-doc aggregation regression
        plan = plans.formatted_plan(df)
        kinds = re.findall(r"Exchange (\w+)", plan)
        return [k for k in kinds if not k.startswith("RoundRobin")]

    docs = load_table(spark, "documents", SF_ORACLE)
    sigs = minhash.signatures_and_sets(docs, max_set_size=8192)
    assert non_fanout_exchanges(sigs) == []
    assert "HashAggregate" not in plans.formatted_plan(sigs)
    for hash_fn in ("xxhash64", "md5_60"):
        fp = simhash.simhash_fingerprints(docs, hash_fn=hash_fn)
        assert non_fanout_exchanges(fp) == [], hash_fn
        assert "HashAggregate" not in plans.formatted_plan(fp), hash_fn


def test_per_group_topk_uses_window_group_limit(spark):
    """rank()<=k filters compile to WindowGroupLimit (Spark's per-group
    top-k pushdown: each partition keeps k rows BEFORE the sort/window,
    so a billion-row group never materializes its full sorted run) —
    the optimization that makes window top-k viable at scale."""
    df = QUERIES["top_customers_per_segment"](spark, SF_ORACLE)
    assert "WindowGroupLimit" in plans.formatted_plan(df)


def test_knn_graph_topk_pushes_group_limit_no_cartesian(q):
    """The blocked kNN graph (r11 re-scope off the corpus-broadcast
    NLJ): rank()<=k compiles to WindowGroupLimit (per-group top-k cut
    below the sort), the pair expansion is an EQUI-join keyed on the
    sign-LSH cell (never a cartesian of two corpus-sized relations),
    and the only nested-loop joins are the two 1-row count attaches
    that size the dynamic bit width."""
    df = q["knn_graph"]
    plan = plans.formatted_plan(df)
    assert "WindowGroupLimit" in plan
    assert plans.cartesian_product_count(df) == 0
    # the scoring join is keyed on cell (equi-join); the only cross
    # joins are the two single-row broadcasts of the corpus count that
    # size the dynamic bit width
    assert plan.count("Join type: Cross") <= 2
    assert "Left keys [1]: [cell#" in plan


def test_containment_pairs_single_gram_build_no_cartesian(q, spark):
    """Containment dedup (r06 hot-gram-cap form): the df census is a
    window over g, so the gram build + its one data-sized shuffle are
    byte-identical under all three consumers (both self-join sides and
    the sizes aggregate) and ReuseExchange collapses them to ONE scan.
    Asserted with AQE/broadcast off because the adaptive plan performs
    the same dedup invisibly at stage-materialization time."""
    df = q["containment_pairs"]
    assert plans.cartesian_product_count(df) == 0
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        static = QUERIES["containment_pairs"](spark, SF_ORACLE)
        plan = static._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") == 1
        assert plan.count("ReusedExchange") >= 2
    finally:
        spark.conf.unset("spark.sql.adaptive.enabled")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_read_schema_columns_handles_nested_types(spark):
    """Review r6 (8th pass): the old non-greedy regex stopped at the
    first '>' of a nested type, silently dropping every column after an
    array/struct column — the pruning gauge went blind there."""
    from data_mastery_pipeline_spark.plans.inspect import _split_top_level
    from data_mastery_pipeline_spark.tables import load_table

    assert _split_top_level("a:bigint,b:array<float>,c:string") == [
        "a:bigint", "b:array<float>", "c:string"
    ]
    assert _split_top_level(
        "m:map<string,struct<x:int,y:int>>,z:bigint"
    ) == ["m:map<string,struct<x:int,y:int>>", "z:bigint"]

    emb = load_table(spark, "embeddings", SF_ORACLE)
    cols_per_scan = plans.read_schema_columns(emb.select("embedding", "label"))
    assert any(
        {"embedding", "label"} <= set(cols) for cols in cols_per_scan
    ), cols_per_scan


def test_blocked_self_joins_read_one_materialized_base(q, spark):
    """Both sides of the near-dup and kNN-graph blocked self-joins read
    the ONE checkpointed celled base (dedup/cells.celled_base): no join
    side re-scans the corpus or re-runs the simhash vote fold. Without
    the checkpoint the md5 fold runs on both sides of the near-dup edge
    join, several times slower. The final near_dup_clusters plan reads
    connected components' own checkpoint, so the edge relation is
    checked separately."""
    from data_mastery_pipeline_spark.queries_ext import _near_dup_pairs

    for name, df in (
        ("near_dup_clusters", q["near_dup_clusters"]),
        ("near_dup_clusters edges", _near_dup_pairs(spark, SF_ORACLE)),
        ("knn_graph", q["knn_graph"]),
    ):
        plan = plans.formatted_plan(df)
        assert plans.scan_count(df) == 0, name
        assert "shiftleft(1, lambda" not in plan, name
