"""Physical-plan regression tests (SCALING.md): pushdown, pruning,
broadcast choices and true top-k must survive refactors — a correct result
with the wrong plan is a 100 TB regression."""

from __future__ import annotations

import pytest

from census_data_pipeline_spark.plans import QUERIES


def _plan(spark, sf_dir, name: str) -> str:
    return QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushdown_and_column_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruned to the 7 needed columns — no l_orderkey/l_partkey
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema
    assert "l_quantity" in read_schema


def test_q6_all_predicates_pushed(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed to the parquet scan"
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema  # pruned to the 4 needed columns


def test_range_join_is_hash_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "range_join_click_errors")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_linkage_is_hash_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "linkage_edit1_names")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_chunking_is_map_only(spark, sf_dir):
    # fan-out must stay narrow: no Exchange anywhere in the plan
    plan = _plan(spark, sf_dir, "text_chunking")
    assert "Exchange" not in plan


def test_topk_compiles_to_take_ordered(spark, sf_dir):
    assert "TakeOrderedAndProject" in _plan(spark, sf_dir, "top5_customers")


def test_bm25_take_ordered_and_broadcast_stats(spark, sf_dir):
    # global top-k must be a per-partition heap, not a sort or an
    # unpartitioned window; the 1-row stats frame must broadcast
    plan = _plan(spark, sf_dir, "search_bm25")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row crossJoin
    assert "Window" not in plan


def test_dim_lookups_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dim_lookup_customer")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_boundary_join_broadcasts_boundaries(spark, sf_dir):
    plan = _plan(spark, sf_dir, "boundaries_right_join")
    assert "BroadcastHashJoin" in plan


def test_knn_has_no_cartesian_product(spark, sf_dir):
    plan = _plan(spark, sf_dir, "knn_bruteforce")
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan  # query side broadcast


def test_rollup_has_partial_aggregation(spark, sf_dir):
    plan = _plan(spark, sf_dir, "geoid_rollup_county")
    # partial + final HashAggregate pair around a single exchange
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") <= 2


def test_normalize_avoids_single_partition_window(spark, sf_dir):
    # W1-W3 must be agg+crossJoin(broadcast), not Window.partitionBy()
    plan = _plan(spark, sf_dir, "normalize_zscore")
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_core_path_is_udf_free(spark, sf_dir):
    # SURVEY §2.10: the whole reference surface compiles to Catalyst
    # expressions — no Python eval anywhere on these plans.
    for name in (
        "flagship_regional_rollup", "q1_pricing_summary", "rates_zero_policy",
        "geoid_hierarchy_rollup", "change_over_time", "events_session_5m",
        "dedup_minhash_lsh", "knn_bruteforce", "text_token_stats",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_decontam_broadcasts_eval_grams(spark, sf_dir):
    # the eval n-gram set must be the broadcast side; corpus-side explode
    # stays narrow and nothing goes cartesian
    plan = _plan(spark, sf_dir, "decontam_ngram_overlap")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_temperature_sample_is_broadcast_filter(spark, sf_dir):
    # per-stratum thresholds broadcast onto a narrow filter: the corpus
    # itself must not shuffle (only the tiny counts agg exchanges)
    plan = _plan(spark, sf_dir, "sample_temperature")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_epoch_shuffle_has_no_global_window(spark, sf_dir):
    # the full-data window must partition by the range bucket; the only
    # unpartitioned window runs over the n_buckets-row totals frame
    plan = _plan(spark, sf_dir, "shuffle_shard_assign")
    windows = [ln for ln in plan.splitlines() if "Window " in ln or "Window(" in ln]
    assert any("__bkt" in ln for ln in windows), windows


def test_split_and_upsample_are_map_only(spark, sf_dir):
    # hash_split / upsample_by_weight are narrow expressions: a shuffle
    # in either plan means the primitive stopped being free at scale
    for name in ("split_assign_docs", "sample_upweight_rare"):
        plan = _plan(spark, sf_dir, name)
        assert "Exchange" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_knn_ivf_seeded_no_cartesian_and_broadcast_centroids(spark, sf_dir):
    # the only nested-loop joins are the n_centroids-row broadcast cross
    # joins (assignment + probing); candidate scoring stays equi-join
    plan = _plan(spark, sf_dir, "knn_ivf_seeded")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # cell equi-join for scoring


def test_lsh_bucket_expr_not_duplicated_into_join(spark, sf_dir):
    # r3 regression guard: the inferred isnotnull(bucket) constraint must
    # constant-fold away (coalesce wrapper), not re-evaluate the bucket
    # fold inside the coefficient cross join's condition
    plan = _plan(spark, sf_dir, "knn_lsh")
    for line in plan.splitlines():
        if "Join condition" in line:
            assert "array_join" not in line, line


def test_minhash_verify_join_not_hinted(spark, sf_dir):
    # r4 (VERDICT r3 #1): the candidate verify join must NOT carry a
    # forced broadcast hint — candidates grow O(hot-bucket²) on
    # duplicate-heavy corpora and a forced broadcast OOMs the driver.
    # AQE picks broadcast at runtime when the set is actually small.
    opt = (
        QUERIES["dedup_minhash_lsh"](spark, sf_dir)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "strategy=broadcast" not in opt


def test_polygon_overlap_grid_join_shape(spark, sf_dir):
    # overlay must stay a hash equi-join on grid cells with the 25-row
    # diamond side broadcast — no cartesian product, no sort-merge
    plan = _plan(spark, sf_dir, "geo_polygon_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_skyline_no_cartesian_no_quadratic(spark, sf_dir):
    """The two-phase skyline must not plan the quadratic NOT-EXISTS
    shape: no cartesian/nested-loop anywhere except broadcast of the
    1-row bounds frame."""
    plan = _plan(spark, sf_dir, "skyline_parts")
    assert "CartesianProduct" not in plan


def test_semantic_dedup_cell_equijoin(spark, sf_dir):
    """Within-cell pairing must be an equi-join on the cell key (hash or
    sort-merge), never a cartesian over the corpus."""
    plan = _plan(spark, sf_dir, "dedup_semantic")
    assert "CartesianProduct" not in plan


def test_triangles_all_equijoins(spark, sf_dir):
    plan = _plan(spark, sf_dir, "graph_triangles")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_attribution_extracts_equi_key(spark, sf_dir):
    """The lookback predicate must ride on a user-keyed equi-join, not
    degrade the whole join to a nested loop."""
    plan = _plan(spark, sf_dir, "events_attribution")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_profile_is_single_scan(spark, sf_dir):
    """Column profiling contracts ONE pass over the table: a single
    FileScan with the multi-distinct Expand."""
    plan = _plan(spark, sf_dir, "dq_profile_orders")
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan


def test_winsorize_and_outliers_broadcast_stats(spark, sf_dir):
    for name in ("orders_winsorized", "events_robust_outliers"):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_semantic_decontam_broadcasts_eval_side(spark, sf_dir):
    """The eval vectors are the structurally small side — they must
    broadcast; the corpus must not shuffle for scoring."""
    plan = _plan(spark, sf_dir, "decontam_semantic")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_pmi_take_ordered_no_vocab_window(spark, sf_dir):
    """r5: both PMI top-k cuts must be TakeOrderedAndProject — never an
    unpartitioned rank window over the corpus vocabulary — and the
    per-doc self-join must be an equi (hash) join, not a cartesian."""
    plan = _plan(spark, sf_dir, "text_pmi_pairs")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_token_budget_sample_windows_are_bucketed(spark, sf_dir):
    """r5: the per-source running token count must ride the two-phase
    prefix sum — every full-data window partitions by (source, bucket)."""
    plan = _plan(spark, sf_dir, "sample_token_budget")
    windows = [ln for ln in plan.splitlines()
               if "Window " in ln or "Window(" in ln]
    assert any("__bkt" in ln for ln in windows), windows
    assert "CartesianProduct" not in plan


def test_hard_negatives_broadcast_anchors_no_shuffle(spark, sf_dir):
    """r5: the anchor side must broadcast (one corpus scan, no corpus
    shuffle); the label filter lives in the join, not a post-filter of a
    cartesian."""
    plan = _plan(spark, sf_dir, "mine_hard_negatives")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_bpe_segment_corpus_join_no_symbol_strings(spark, sf_dir):
    """r5: the corpus side of the segmentation join carries only
    (doc_id, w) — the double-space symbol strings stay on the
    vocab-sized frame."""
    plan = _plan(spark, sf_dir, "text_bpe_segment")
    assert "CartesianProduct" not in plan
    # replace() (the merge machinery) must not appear in the corpus-side
    # token explode stage; it lives upstream on the checkpointed vocab
    explode_lines = [ln for ln in plan.splitlines() if "Generate explode" in ln]
    assert all("replace" not in ln for ln in explode_lines)


def test_adamic_adar_take_ordered_and_hub_cap_no_cartesian(spark, sf_dir):
    # global top-k must be a per-partition heap; the apex self-join and
    # the existing-edge anti-join must stay equi-joins — a cartesian
    # here means the hub cap / pair keys fell out of the plan
    plan = _plan(spark, sf_dir, "graph_adamic_adar")
    assert "TakeOrderedAndProject" in plan
    assert "NestedLoop" not in plan.replace("BroadcastNestedLoop", "")
    assert "CartesianProduct" not in plan


def test_quantile_bottomk_sample_is_take_ordered(spark, sf_dir):
    # the k-row priority sample must compile to TakeOrderedAndProject —
    # a global Sort here re-introduces the data-scale sort the sketch
    # exists to avoid; the |probs|-row estimate frame broadcasts back
    plan = _plan(spark, sf_dir, "sketch_quantiles_bottomk")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # estimates crossJoin
    sort_lines = [ln for ln in plan.splitlines()
                  if " Sort " in ln and "TakeOrdered" not in ln]
    assert not sort_lines, sort_lines


def test_modularity_broadcasts_grand_total(spark, sf_dir, distributed):
    # the distributed path: the 1-row S total must broadcast back (never
    # a driver collect), and the label joins must be hash equi-joins
    with distributed():
        plan = _plan(spark, sf_dir, "graph_modularity")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_modularity_local_result_is_one_local_scan(spark, sf_dir):
    # under the local-tail cap the result is built on the driver: one
    # local relation, nothing left to shuffle or join
    plan = _plan(spark, sf_dir, "graph_modularity")
    assert "LocalTableScan" in plan
    assert "Exchange" not in plan and "Join" not in plan


def test_pr_auc_single_bounded_window(spark, sf_dir):
    # one window over the bounded score histogram — same discipline the
    # ROC-AUC plan pins; the scoring scan must not shuffle rows twice
    plan = _plan(spark, sf_dir, "quality_pr_auc")
    assert plan.count("Window") == 1


def test_readability_is_map_only(spark, sf_dir):
    # pure codegen row expressions — no Exchange anywhere
    plan = _plan(spark, sf_dir, "text_readability")
    assert "Exchange" not in plan


def test_session_paths_topk_is_take_ordered(spark, sf_dir):
    # the final ranking must compile to TakeOrderedAndProject, never a
    # full sort of the path frame
    plan = _plan(spark, sf_dir, "events_session_paths")
    assert "TakeOrderedAndProject" in plan


def test_gini_broadcasts_range_frame(spark, sf_dir):
    # the per-group (lo, hi, n, tot) frame rides a broadcast join back
    # onto the data scan; no cartesian anywhere
    plan = _plan(spark, sf_dir, "customer_revenue_gini")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_sq8_broadcasts_dim_ranges(spark, sf_dir):
    # d-row dimension ranges broadcast into the error pass; the vector
    # fan-out is a Generate (posexplode), not a join
    plan = _plan(spark, sf_dir, "embedding_quantize_sq8")
    assert "BroadcastHashJoin" in plan and "Generate" in plan
    assert "CartesianProduct" not in plan


def test_anova_reads_only_three_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "lineitem_anova_returns")
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema
    assert "l_quantity" in read_schema and "l_returnflag" in read_schema


def test_bootstrap_pushes_event_type_filter(spark, sf_dir):
    # the purchase filter must reach the parquet scan before the n·B
    # fan-out
    plan = _plan(spark, sf_dir, "ab_test_bootstrap_ci")
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "event_type" in pushed
    assert "CartesianProduct" not in plan


def test_wasserstein_and_ccf_no_cartesian(spark, sf_dir):
    for q in ("drift_wasserstein_click_error",
              "events_ccf_click_purchase", "events_trend_kendall"):
        plan = _plan(spark, sf_dir, q)
        assert "CartesianProduct" not in plan, q


@pytest.mark.parametrize("name", [
    "quality_logreg_train",
    "quality_logreg_calibration",
    "quality_logreg_auc",
    "quality_pr_auc",
    "quality_tree_eval",
    "quality_gbt_holdout",
])
def test_classifier_scoring_joins_nothing(spark, sf_dir, name):
    # a fitted model scores as one literal expression over the cached
    # feature rows: no weight frame or tree frame is joined back in
    assert "Join" not in _plan(spark, sf_dir, name)


def _census_chain(spark):
    """The facade over two injected states: fetch_batch_states → clean →
    rates, plus a boundary frame. Returns (pipeline, attributes,
    boundaries)."""
    from census_data_pipeline_spark.pipeline import CensusSparkPipeline
    from census_data_pipeline_spark.sources import tiger

    def fetch(url):
        state = url.split("state%3A")[1][:2]
        return [
            ["NAME", "B23025_003E", "B23025_005E", "state", "county", "tract"],
            ["a", "100", "-666666666", state, "001", "000100"],
            ["b", " 80 ", "8", state, "001", "000200"],
        ]

    pipe = CensusSparkPipeline(spark, fetch=fetch)
    df = pipe.fetch_batch_states(
        {"B23025_003E": "labor_force", "B23025_005E": "unemployed"},
        "tract", ["06", "48"])
    df = pipe.clean_missing_values(df, ["labor_force", "unemployed"])
    df = pipe.calculate_rates(df, {"rate": ("unemployed", "labor_force")})
    b = tiger.boundaries_from_records(
        spark, [("06001000100", "POINT (1 1)"), ("48001000200", None)])
    return pipe, df, b


def test_census_path_runs_without_python_workers(spark):
    # the parsed responses and boundary records enter as Arrow local
    # relations, so running the chain starts no Python worker: no
    # PythonRDD anywhere in the executed lineage. Checked on the lazy
    # join operator — the facade's join checkpoints this same chain.
    from census_data_pipeline_spark.operators import joins

    _pipe, df, b = _census_chain(spark)
    chain = joins.join_boundaries(df, b)
    lineage = chain._jdf.queryExecution().executedPlan().execute().toDebugString()
    assert "PythonRDD" not in lineage
    assert chain.count() == 4


def test_census_join_is_materialized_once(spark, tmp_path):
    # the facade's joined frame is a checkpoint: a sink plans one scan of
    # it (no dedup shuffle, broadcast, union or local relation re-run)
    # and writes in one Spark job
    pipe, df, b = _census_chain(spark)
    geo = pipe.join_tiger_geometries(df, b)
    plan = geo._jdf.queryExecution().executedPlan().toString()
    for node in ("Exchange", "BroadcastExchange", "Union", "LocalTableScan"):
        assert node not in plan, node
    sc = spark.sparkContext
    group = "census-join-materialized-once"
    sc.setJobGroup(group, group)
    try:
        pipe.export(geo, str(tmp_path / "geo.parquet"), "parquet")
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert spark.read.parquet(str(tmp_path / "geo.parquet")).count() == 4
