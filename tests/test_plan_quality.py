"""Physical-plan regression tests: the optimizations we rely on at
scale must actually appear in the plans — predicate pushdown reaching
the parquet scan, dimension joins broadcast, anti-join broadcast,
window partitioning, and no cartesian products outside the two
intentional broadcast-query cross joins (ANN scoring).

A plan regression (e.g. a refactor that hides a filter behind an
opaque expression, or a join key type mismatch breaking broadcast)
fails here long before it shows up as an sf-scale slowdown.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from bio_lakehouse_spark.suite import REGISTRY


def _plan(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_partitioned_sink_read_prunes_partitions(spark, sf_dir):
    """The day-range predicate must reach the scan as a PARTITION
    filter (directory-level pruning before any footer IO) — the r6
    lpad normalization of the output keys must not capture the raw
    partition column before the filter sees it."""
    plan = _plan(spark, sf_dir, "partitioned_sink_pruned_read")
    assert "PartitionFilters: [isnotnull(day" in plan
    assert "(day" in plan.split("PartitionFilters:")[1].splitlines()[0]


def test_pricing_summary_pushes_filter(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # Aggregate must be partial (map-side combine) before the shuffle.
    assert plan.count("HashAggregate") >= 2


def test_dimension_joins_broadcast(spark, sf_dir):
    for name in ("top_orders", "region_nation_rollup"):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name  # dims must not shuffle


def test_anti_and_semi_join_broadcast(spark, sf_dir):
    assert "BroadcastHashJoin LeftAnti" in _plan(spark, sf_dir, "anti_join_inactive")
    assert "BroadcastHashJoin LeftSemi" in _plan(spark, sf_dir, "semi_join_active")


def test_full_outer_chain_is_sort_merge(spark, sf_dir):
    # FULL OUTER cannot broadcast; the chain must be sort-merge on the
    # coalesced key, not nested-loop.
    plan = _plan(spark, sf_dir, "full_outer_coalesce_chain")
    assert "SortMergeJoin FullOuter" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_windows_are_partitioned(spark, sf_dir):
    # Per-user windows must carry a partition spec — a global window
    # here would single-thread the sort at scale.
    plan = _plan(spark, sf_dir, "rolling_avg_windows")
    assert "Window" in plan
    assert "user_id" in plan


def test_range_join_is_hash_not_nested_loop(spark, sf_dir):
    plan = _plan(spark, sf_dir, "range_join_error_window")
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_asof_join_single_window_no_join(spark, sf_dir):
    # The as-of implementation is union + window — there must be NO
    # join operator at all in the plan.
    plan = _plan(spark, sf_dir, "asof_last_purchase")
    assert "Join" not in plan.replace("joinType", "")
    assert "Window" in plan
    assert "Union" in plan


def test_scan_prunes_columns(spark, sf_dir):
    # A 2-column projection over lineitem must not read all 16 cols.
    plan = _plan(spark, sf_dir, "pricing_summary")
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines, "no ReadSchema in plan"
    assert "l_comment" not in scan_lines[0]


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Co-located bucketed join: both sides bucketed on the key →
    the join plan contains NO shuffle exchange at all."""
    import contextlib
    import io

    from bio_lakehouse_spark.sources.sinks import write_bucketed_table
    from bio_lakehouse_spark.suite.registry import load

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    lineitem = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    bo = write_bucketed_table(
        spark, orders, "bkt_orders", "o_orderkey", 8,
        str(tmp_path / "bkt_orders"),
    )
    bl = write_bucketed_table(
        spark, lineitem, "bkt_lineitem", "l_orderkey", 8,
        str(tmp_path / "bkt_lineitem"),
    )
    # At test scale the planner would broadcast instead (which ALSO
    # avoids the shuffle but hides the bucketing path that matters at
    # fact-fact scale) — force the shuffle-join code path.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bo.join(bl, bo["o_orderkey"] == bl["l_orderkey"])
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        # No shuffle exchange anywhere: bucketing provides the
        # distribution on both sides.
        assert "ShuffleExchange" not in plan and "Exchange hashpartitioning" not in plan
        n = joined.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert n == orders.join(
        lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
    ).count()


def test_weighted_sample_is_takeordered_no_exchange(spark, sf_dir):
    """Weighted top-k must compile to TakeOrderedAndProject (distributed
    per-partition top-k), never a global Sort + Exchange."""
    plan = _plan(spark, sf_dir, "weighted_doc_sample")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_split_sampling_adds_no_shuffle_before_agg(spark, sf_dir):
    """The split label / sample filter is a scan-level expression: the
    only exchange in the plan is the reporting groupBy's."""
    plan = _plan(spark, sf_dir, "train_val_test_split")
    # one exchange for the groupBy(split) agg; countDistinct adds its
    # expand-exchange — but none may appear below the first aggregate.
    before_agg = plan.split("HashAggregate")[0]
    assert "Exchange" not in before_agg


def test_hll_register_build_is_two_stage_agg(spark, sf_dir):
    """HLL: both groupBys (register max-rank, register fold) must have
    map-side partial aggregates — the sketch's whole point is that
    only ≤ m rows per group cross each exchange."""
    plan = _plan(spark, sf_dir, "hll_distinct_custkeys")
    assert plan.count("HashAggregate") >= 4


def test_not_in_compiles_to_broadcast_anti(spark, sf_dir):
    """Q16's NOT IN must become a broadcast LEFT ANTI join, not a
    nested-loop or a shuffled join on the tiny exclusion set."""
    plan = _plan(spark, sf_dir, "parts_supplier_count")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin LeftAnti" not in plan


def test_scalar_max_is_broadcast_not_sort(spark, sf_dir):
    """Q15's max-with-ties: the one-row max side broadcasts; there is
    no global Sort anywhere in the plan."""
    plan = _plan(spark, sf_dir, "top_supplier_revenue")
    assert "BroadcastHashJoin" in plan
    # A global sort would show as Exchange rangepartitioning.
    assert "rangepartitioning" not in plan


def test_q6_pushes_all_three_predicates(spark, sf_dir):
    """Q6 is the pushdown benchmark: date range, discount band and
    quantity cap must ALL reach the parquet scan as PushedFilters so
    row-group stats can skip chunks at scale."""
    plan = _plan(spark, sf_dir, "forecast_revenue_change")
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount,0.04)" in plan
    assert "LessThan(l_quantity,24.0)" in plan
    assert plan.count("HashAggregate") >= 2  # partial agg before exchange


def test_q19_disjunction_factors_to_both_scans(spark, sf_dir):
    """Q19's OR-of-ANDs: Catalyst must derive the per-side residues —
    a quantity envelope on the lineitem scan and a brand/size
    disjunction on the part scan — instead of evaluating the whole
    predicate post-join only."""
    plan = _plan(spark, sf_dir, "disjunctive_brand_revenue")
    assert "LessThanOrEqual(l_quantity,40.0)" in plan  # lineitem residue
    assert "EqualTo(p_brand,Brand#1)" in plan  # part-side residue pushed
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_q21_exists_pair_is_aggregate_rewrite(spark, sf_dir):
    """Q21's EXISTS / NOT EXISTS pair is collapsed into per-pair +
    per-order aggregates + semi joins (see the query docstring) —
    the plan must show the aggregates and hash semi joins, and never
    a cartesian expansion of per-order lines."""
    plan = _plan(spark, sf_dir, "sole_returned_supplier")
    assert "LeftSemi" in plan
    assert "HashAggregate" in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_q18_having_subquery_is_semi_join(spark, sf_dir):
    """Q18's IN (GROUP BY...HAVING) subquery must be an aggregate +
    LEFT SEMI join on orderkey, keeping orders un-multiplied until
    the final rollup."""
    plan = _plan(spark, sf_dir, "large_volume_customers")
    assert "LeftSemi" in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_q5_q7_dims_broadcast_no_cartesian(spark, sf_dir):
    """Q5/Q7 join chains: nation/region/supplier ride in as
    broadcasts; the double-role nation join in Q7 must not become a
    nested loop despite the cross-side disjunctive pair filter."""
    for name in ("regional_nation_revenue", "nation_pair_volume"):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name
        assert "Cartesian" not in plan and "NestedLoop" not in plan, name


def test_q21_single_lineitem_scan_no_expand(spark, sf_dir):
    """The pair-level aggregate rewrite reads lineitem exactly ONCE
    (the textbook EXISTS/NOT-EXISTS form scans it three times) and
    plans no Expand node (the old two-countDistinct form doubled the
    aggregate's input through Expand)."""
    plan = _plan(spark, sf_dir, "sole_returned_supplier")
    assert plan.count("lineitem.parquet") == 1
    assert "Expand" not in plan


def test_ivf_assignment_is_aggregate_not_window(spark, sf_dir):
    """assign_cells' argmax is a max_by aggregate (map-side partial
    collapses corpus×centroid rows to one per vector before the
    exchange), never a row_number window over the scored join."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from bio_lakehouse_spark.operators.similarity import assign_cells
    from bio_lakehouse_spark.suite.registry import load

    emb = load(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    df = assign_cells(emb, cent)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan
    assert "Aggregate" in plan
    assert "BroadcastNestedLoopJoin" in plan or "Cartesian" in plan  # scoring cross join (intentional, broadcast side)


def test_decontamination_broadcasts_eval_grams(spark, sf_dir):
    """The eval corpus's distinct grams must broadcast — the training
    side (the 100 TB side) must never shuffle before its per-doc
    aggregate."""
    plan = _plan(spark, sf_dir, "decontaminate_eval_overlap")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sequence_packing_window_is_sharded(spark, sf_dir):
    """Packing's cumsum window must carry the shard partition spec —
    a global unpartitioned window would single-thread the corpus."""
    plan = _plan(spark, sf_dir, "sequence_packing")
    assert "Window" in plan
    assert "shard" in plan


def test_minhash_signatures_no_exchange(spark, sf_dir):
    """Raw-text → minhash signatures is one narrow projection: no
    exchange other than the small-input spread repartition, no
    window, no aggregate."""
    import contextlib
    import io

    from bio_lakehouse_spark.operators.dedup import minhash_signatures_raw
    from bio_lakehouse_spark.suite.registry import load

    docs = load(spark, sf_dir, "documents")
    df = minhash_signatures_raw(docs, "doc_id", "text")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan
    assert "Aggregate" not in plan


def test_lsh_hot_bucket_cap_no_quadratic_blowup(spark, sf_dir):
    """Adversarial boilerplate corpus: 600 documents with IDENTICAL
    text collide in every band, so every (band, value) bucket holds
    all 600 docs — uncapped, that expands to 16·600·599/2 ≈ 2.9M
    candidate pairs from 600 rows. With the cap the oversized buckets
    are dropped row-wise before any id array or pair is built: the
    query returns no pairs, completes fast, and the stats side
    reports every bucket as dropped."""
    from bio_lakehouse_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.range(600).select(
        F.col("id").alias("doc_id"),
        F.lit(
            "subscribe to our newsletter all rights reserved terms of "
            "service privacy policy copyright twenty twenty five"
        ).alias("text"),
    )
    pairs, stats = minhash_lsh_pairs(
        docs, "doc_id", "text", max_bucket_size=64, return_stats=True
    )
    srows = stats.collect()
    assert srows and all(r["dropped"] and r["size"] == 600 for r in srows)
    assert pairs.count() == 0
    # Mixed corpus: the boilerplate flood is capped away while a real
    # near-dup pair (distinct from the flood) still comes through.
    mixed = docs.union(
        spark.createDataFrame(
            [
                (1000, "the quick brown fox jumps over the lazy dog "
                       "near the quiet river bank at dawn today"),
                (1001, "the quick brown fox jumps over the lazy dog "
                       "near the quiet river bank at dusk today"),
            ],
            schema="doc_id long, text string",
        )
    )
    got = minhash_lsh_pairs(
        mixed, "doc_id", "text", max_bucket_size=64
    ).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in got] == [(1000, 1001)]


def test_lsh_bucket_path_single_exchange_no_self_join(spark, sf_dir):
    """The capped bucket path must stay ONE exchange (the window's
    partitioning is reused by the collect_list groupBy) and must not
    reintroduce a bucket self-join."""
    import contextlib
    import io

    from bio_lakehouse_spark.operators.dedup import minhash_lsh_pairs
    from bio_lakehouse_spark.suite.registry import load

    docs = load(spark, sf_dir, "documents")
    df = minhash_lsh_pairs(
        docs, "doc_id", "text", eager_checkpoint=False
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # One band/value exchange per pipeline copy: the bucket-size
    # Window and the collect_list groupBy share it (without the
    # checkpoint the candidate lineage is replayed once per verify
    # consumer, so the whole pipeline appears ~3×; within each copy
    # the count must be exactly one or the cap added a shuffle).
    n_bucket_exchanges = len(
        re.findall(r"hashpartitioning\(band[^)]*value", plan)
    )
    n_windows = len(re.findall(r"\(\d+\) Window", plan))
    assert n_windows >= 1
    assert n_bucket_exchanges == n_windows, plan


def test_pair_callers_expand_without_flatten(spark, sf_dir):
    """Every in-bucket pair expansion goes through joins.explode_pairs:
    its two-level posexplode → explode must be in each caller's
    optimized plan, and no flatten(transform(...)) that would build a
    bucket's whole C(n,2) pair array as one row value."""
    from bio_lakehouse_spark.operators.dedup import minhash_lsh_pairs
    from bio_lakehouse_spark.suite.registry import load

    frames = {
        name: REGISTRY[name].fn(spark, sf_dir)
        for name in (
            "dedup_simhash_banded",
            "graph_triangle_stats",
            "graph_neighbor_jaccard",
            "cross_source_overlap_matrix",
        )
    }
    # The registry query checkpoints its candidates, which hides the
    # expansion from the final plan; the un-checkpointed form keeps it.
    frames["minhash_lsh_pairs"] = minhash_lsh_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        eager_checkpoint=False,
    )
    for name, df in frames.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "posexplode(" in plan, f"{name}:\n{plan}"
        assert "flatten(" not in plan, f"{name}:\n{plan}"


def test_interval_overlap_join_is_hash_on_bins(spark, sf_dir):
    """The interval-overlap self-join must plan as a hash equi-join on
    the exploded bin key — never a nested-loop over the interval
    cross product."""
    df = REGISTRY["concurrent_sessions"].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "__bin" in plan  # bins are the join key
    assert "Join" in plan


def test_bench_noop_plans_keep_work_nodes(spark, sf_dir):
    """Regression net for the round-1 count() lesson: under the noop
    sink the bench queries' optimized plans must RETAIN their
    Window/Join/Aggregate work nodes — if a future harness change (or
    optimizer conf) lets Catalyst prune the measured work again, this
    fails at plan level instead of silently flattering BENCH_r{N}."""
    EXPECT = {
        "sessionize_gap30": ("Window", "Aggregate"),
        "rolling_avg_windows": ("Window",),
        "lag_lead_deltas": ("Window",),
        "top_orders": ("Join", "Aggregate"),
        "full_outer_coalesce_chain": ("Join",),
        # (localCheckpoint truncates the candidate lineage, so only
        # the verify-join stage is visible in the final plan)
        "dedup_minhash_lsh": ("Join",),
        "interpolate_daily_gaps": ("Window",),
    }
    for name, nodes in EXPECT.items():
        df = REGISTRY[name].fn(spark, sf_dir)
        # queryExecution.optimizedPlan — same plan the noop sink
        # executes (noop adds only WriteFiles-less OverwriteByExpr).
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        for node in nodes:
            assert node in plan, f"{name} lost its {node} node:\n{plan}"


@pytest.mark.heavy  # 168 s full-registry plan sweep
def test_no_unintended_cartesian_anywhere(spark, sf_dir):
    """Suite-wide regression net: no registered query may plan a
    cartesian / broadcast-nested-loop join except the whitelisted
    vector scorers (corpus × broadcast centroids/queries — bounded
    fan-out by construction) and the packing scaffold (one-row span ×
    distinct types). A new query that accidentally cross-joins fails
    here at plan time, long before an sf-scale timeout."""
    ALLOWED_BNLJ = {
        # vector scorers: corpus × broadcast centroid/query set
        "ann_cosine_topk",
        "ann_ivf_topk",
        "ann_ivf_indexed",  # query set × broadcast centroid table
        "embedding_neardup_ivf",
        "ann_ivf_recall",  # both rankings reuse the broadcast scorers
        "pq_adc_topk",  # codes × broadcast query LUTs (ADC scan by design)
        "pq_rerank_topk",  # same ADC prefilter feeding the exact rerank
        "bitext_mining_mutual",  # A × broadcast B cross-score (index at scale)
        "hybrid_rrf_fusion",  # BM25 corpus-stat row + dense scorer inputs
        "mmr_diversified_topk",  # 10-row candidate frame × one-row winner
        "kmeans_ivf_centroids",
        "kmeans_assign_audit",  # corpus × ONE packed-centroid row
        "embedding_neardup",
        # corpus × broadcast centroid set (assign_cells argmax) — the
        # same dim-bounded broadcast pattern as the ann_ivf_* family
        "d4_prototype_prune",
        # scaffolds: one-row span × small literal/dimension side
        "interpolate_daily_gaps",
        "sequence_packing",
        "multimodal_frame_sample",
        # k-NN anchor×point pair table over the DAILY-grain series:
        # n² where n = number of days, bounded whatever the raw-event
        # volume (the aggregation below it is what scales)
        "lowess_daily_trend",
        # isotonic minimax position-pair frame: same days²-bounded
        # class (the j ≥ i range join over the daily-grain frame)
        "isotonic_calibration_daily",
        # scalar-aggregate joins: a ONE-ROW global stat (threshold,
        # corpus stats, bin spec, cohort size, rate table) broadcast
        # back onto the table — no equi-key exists, and the build side
        # is a single row by construction
        "zscore_anomaly_days",
        "threshold_effect_scan",
        "baseline_stats",
        "idle_rich_customers",
        "important_part_share",
        "funnel_view_click_purchase",
        "mann_whitney_groups",
        "vocab_doc_frequency",
        "text_bm25_topk",
        "theta_customer_overlap",
        "quantile_histogram_sketch",
        "quantile_histogram_by_group",
        "balanced_lang_downsample",
        "temperature_mixture_sample",  # counts × ONE-ROW (total, z) stat
        "unigram_lm_quality",  # vocab/scores × ONE-ROW (denom / cutoffs)
        "nb_quality_filter",  # dim-bounded counts × ONE-ROW totals
        "psi_drift_monitor",  # 10-bucket table × ONE-ROW totals
        "tfidf_top_terms",  # per-doc term counts × ONE-ROW corpus size
        "feature_selection_mi",  # daily frame × ONE-ROW min/max bin edges
        "bloom_prune_join",  # fact × ONE-ROW 8 KB packed bloom filter
        "semdedup_verdicts",  # corpus × broadcast centroids (cell scorer)
        "acf_daily_lags",  # daily series × ONE-ROW mean
        "cusum_changepoint",  # daily series × ONE-ROW (mean, sd, n)
        "bootstrap_ci_poisson",  # ONE-ROW point estimate × ONE-ROW CI
        "ntile_rank_quintiles",  # user totals × ONE-ROW corpus count n
        "graph_triangle_stats",  # three ONE-ROW count frames composed
        "graph_neighbor_jaccard",  # pair counts × ONE-ROW mean threshold
        "hard_negative_mining",  # corpus × broadcast query set (ANN scorer)
        "embedding_sign_hamming_audit",  # bounded broadcast pair sample
        "embedding_truncation_fidelity",  # same bounded pair sample
        "conformal_interval_daily",  # test rows × ONE-ROW q_hat
        "embedding_drift_psi",  # corpus × broadcast centroids (cell scorer)
        "association_rules_topk",  # pair counts × ONE-ROW basket total
        "collocations_pmi_topk",  # bigram counts × ONE-ROW unigram/bigram totals
        "referential_integrity_audit",  # orphan count × ONE-ROW child total
        "group_split_no_leakage",  # split stats × ONE-ROW leak count
        "cuped_adjustment",  # per-user frame × ONE-ROW (theta, mean)
        "point_in_time_features",  # union stream × ONE-ROW min-day spine
        "join_size_estimate",  # ONE-ROW prediction × ONE-ROW actual
        "nb_calibration_curve",  # feature counts × ONE-ROW class totals
        "dsir_topk_selection",  # dim-bounded bucket counts × ONE-ROW totals
        "ngram_novelty_curve",  # per-doc counts × ONE-ROW max-doc-id
        # Fold coefs × daily series on a rn BETWEEN t+1 AND t+5 band:
        # BOTH sides are daily-grain (O(days), never O(rows)) and the
        # fold table is the broadcast side — bounded nested loop.
        "walk_forward_cv_daily",
        "gain_lift_by_decile",  # scores × ONE-ROW decile thresholds
        # one-row stringified min/max frame × one-row count/distinct
        # frame (r9: string-buffer aggregates split out of the distinct
        # Expand so neither pass is a SortAggregate over 7× rows)
        "profile_orders_columns",
        "kn_bigram_perplexity",  # bigram stream × ONE-ROW (T, V2, V) stats
        "logistic_gd_audit",  # feature frame × ONE-ROW β per GD step
        "retrieval_eval_ndcg",  # corpus × broadcast query set (ANN scorer)
        "decision_stump_gini",  # scan × ONE-ROW per-feature min/max stats
        "hits_hubs_authorities",  # scores × ONE-ROW L2 norm per iteration
        "ipw_ate_audit",  # per-user frame × ONE-ROW β per GD step
        "roc_auc_audit",  # ONE-ROW rank sum × ONE-ROW class totals
        "silhouette_label_clusters",  # corpus × ONE-ROW packed centroids
        "knn_label_accuracy",  # corpus × broadcast query set (ANN scorer)
        "ctfidf_cluster_terms",  # term counts × ONE-ROW mean-tokens stat
        "cox_ph_newton_audit",  # duration frame × ONE-ROW β per Newton step
        "markov_attribution_removal",  # 4-row effects × ONE-ROW base/total
        "gmm_em_audit",  # scan × ONE-ROW parameter 6-tuple per EM step
        "pca_power_iteration_audit",  # d²/d frames × ONE-ROW mean/n/norm
        "als_rank1_audit",  # ratings × ONE-ROW factor norms
        "aipw_doubly_robust",  # per-user frame × ONE-ROW OLS/β frames
        "gbdt_two_round_audit",  # scan × ONE-ROW stats/split frames
        "uplift_two_model_bins",  # per-user frame × ONE-ROW model/limits
        "mann_kendall_trend",  # daily-grain pair table + ONE-ROW stats
        "kruskal_wallis_groups",  # ONE-ROW group stats × ONE-ROW totals
        "huber_irls_audit",  # daily frame × ONE-ROW (a, b, delta) per step
        "poisson_glm_irls_audit",  # daily frame × ONE-ROW β per Newton step
        "quantile_regression_sgd",  # daily frame × ONE-ROW (a, b) per step
        "fs_em_priors_audit",  # 8-row pattern frame × ONE-ROW EM params
        "heaps_law_audit",  # docs × ONE-ROW (lo, hi) span; ONE-ROW totals
        "community_modularity_audit",  # community frame × ONE-ROW m
        "hbos_outlier_scores",  # scan × ONE-ROW min/max bin edges
        "rmst_churn_audit",  # KM knot frame × ONE-ROW tau
        "mmd_two_sample_daily",  # days² kernel pairs + ONE-ROW stats
        "shapley_linear_audit",  # daily frame × ONE-ROW (β, means, latest)
        "partial_dependence_audit",  # scan × ONE-ROW β × 5-row grid
        "binseg_changepoints",  # days frame × ≤5-row boundary set
        "ece_calibration_audit",  # 10-bucket rollup × ONE-ROW brier
        "mahalanobis_outliers",  # scan × ONE-ROW moment/covariance frame
        "poisson_dispersion_audit",  # days frame × ONE-ROW β
        "gini_concentration_audit",  # customer frame × ONE-ROW totals
        "hill_tail_index",  # top-k frame × ONE-ROW threshold stat
    }
    cartesian, bnlj = [], []
    for name, spec in REGISTRY.items():
        try:
            plan = _plan(spark, sf_dir, name)
        except Exception:  # noqa: BLE001 — plan-only audit
            continue
        if "CartesianProduct" in plan:
            cartesian.append(name)  # shuffle cartesian: never OK
        elif "BroadcastNestedLoopJoin" in plan and name not in ALLOWED_BNLJ:
            bnlj.append(name)
    assert not cartesian, f"shuffle cartesian in: {cartesian}"
    assert not bnlj, f"unwhitelisted nested-loop broadcast in: {bnlj}"


def test_jaccard_join_is_prefix_filtered(spark, sf_dir):
    """dedup_ngram_jaccard's candidate join must be the prefix-token
    equi-join (ptok key), never the within-lang quadratic self-join
    (minutes at sf0.1, corpus-block explosion at 100 TB)."""
    plan = _plan(spark, sf_dir, "dedup_ngram_jaccard")
    assert "ptok" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_pairs_is_banded(spark, sf_dir):
    """dedup_simhash_pairs' candidates must come from the banded
    (lang, band, value) bucket aggregation (the `__sband` explode
    visible in the plan), never the within-lang quadratic sig×sig
    self-join (an 'en' block IS the corpus at 100 TB — the r6
    scale-killer). The quadratic form survives the cartesian net
    because lang equality makes it an equi-join; pin the banded
    marker explicitly."""
    plan = _plan(spark, sf_dir, "dedup_simhash_pairs")
    assert "__sband" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_containment_join_is_prefix_filtered(spark, sf_dir):
    """dedup_containment's candidate join must be the prefix-token
    equi-join (__cptok key visible in the plan), never a within-block
    quadratic self-join on (lang, source) alone — the r5 scale-killer.
    A cartesian/BNLJ anywhere in this query is an outright failure."""
    plan = _plan(spark, sf_dir, "dedup_containment")
    assert "__cptok" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_frequent_lines_broadcasts_hot_set(spark, sf_dir):
    """Line-level dedup's frequent-segment set must come back as a
    broadcast flag join (the corpus side never shuffles for the
    removal decision), with no sort-merge join and no cartesian —
    the segment table pays keyed hash exchanges only."""
    plan = _plan(spark, sf_dir, "dedup_frequent_lines")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Cartesian" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_runtime_bloom_filter_injects_on_shuffle_join(spark, sf_dir):
    """The 100-TB join-prefilter knob: when a selective dimension
    feeds a SHUFFLE join, Spark's InjectRuntimeFilter must plant a
    bloom-filter semi-reduction on the fact side (fact rows that
    can't match are dropped at the scan, before the exchange). The
    rule is size-gated — at production scale the defaults
    (creationSide <= 10 MB, applicationSide >= 10 GB) fire on their
    own; here we lower the application-side threshold to prove the
    plan shape is available and our join keys don't defeat it
    (a type mismatch or expression-wrapped key would silently
    disable the rule)."""
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_app = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "1KB",
    )
    try:
        fact = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        dim = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            "o_orderpriority = '1-URGENT'"
        )
        j = (
            fact.join(dim, fact.l_orderkey == dim.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt, "runtime bloom filter not injected"
        assert "bloom_filter_agg" in opt
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            prev_app,
        )


def test_skyline_plan_has_no_global_window_or_selfjoin(spark, sf_dir):
    """pareto_skyline_parts must keep its scale shape: per-distinct-x
    aggregation + pid-partitioned prefix windows — never a
    whole-relation unpartitioned Window and never a part×part
    self-join (the quadratic definitional form stays oracle-only)."""
    df = REGISTRY["pareto_skyline_parts"].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # every Window sorts within a partition key (__pid or the tiny
    # totals frame) — an unpartitioned window over p_retailprice
    # order would be the sort-scan regression
    assert "partitionColumns=[]" not in plan
    n_scans = plan.count("Scan parquet")
    assert n_scans <= 2, plan  # df + checkpointed g branch only


def test_unigram_encode_plan_is_one_pass_plus_broadcast(spark, sf_dir):
    """unigram_encode_fixed: the corpus is touched via explode scans
    feeding ONE broadcast hash join (distinct-word LUT) — no Python
    eval anywhere in the plan (the Viterbi fold is JVM expressions),
    no shuffle join, no window."""
    df = REGISTRY["unigram_encode_fixed"].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    for python_node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert python_node not in plan, python_node


def test_entity_resolution_blocking_is_keyed_hash_join(spark, sf_dir):
    """entity_resolution_fs (r8 re-block): both Splink-style blocking
    rules must compile to equi-KEYED hash joins (broadcast here, SMJ
    under AQE at scale) on the fine blocking keys — never a nested
    loop — and the pair dedupe is one aggregate exchange. The r7
    version's single nation×2000-wide-bucket key made block size grow
    with N (candidate pairs ∝ N²/150); the fine keys are what this
    test pins."""
    plan = _plan(spark, sf_dir, "entity_resolution_fs")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # two blocking joins, each equi-keyed (only the custkey ordering
    # stays a non-equi condition)
    n_hash_joins = plan.count("BroadcastHashJoin") + plan.count(
        "SortMergeJoin"
    ) + plan.count("ShuffledHashJoin")
    assert n_hash_joins >= 2, plan
    # the fine blocking keys appear as join keys
    assert "bal_band" in plan
    assert "suffix" in plan


def test_dense_ids_core_is_one_range_exchange_no_window(spark, sf_dir):
    """_ranked_by_range (the corpus-scale part of dense_ids, shared by
    gini/hill/ntile/dense_ids_scalable): exactly ONE exchange — the
    range partitioning by the sort key — a partition-LOCAL sort, and
    no Window node at all. The pre-r9 Window.partitionBy(
    spark_partition_id()) formulation made Catalyst insert a second
    full hash-exchange of the entity frame right after the range
    exchange; monotonically_increasing_id's (pid, row-position)
    decode needs neither."""
    from bio_lakehouse_spark.operators.aggregates import _ranked_by_range

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rev = orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("r"))
    df = _ranked_by_range(rev, ["r", "o_custkey"])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "rangepartitioning" in plan
    # the range exchange + the groupBy's hash exchange — nothing else
    assert plan.count(") Exchange") <= 2, plan
    assert "SinglePartition" not in plan
    assert ") Window" not in plan
    # the only Sort is partition-local (global flag false)
    assert "], true, 0" not in plan, plan


def test_gini_hill_rank_windows_are_tiny_frame_only(spark, sf_dir):
    """gini_concentration_audit / hill_tail_index (VERDICT r8 #2): the
    global customer-revenue rank must come from the dense_ids
    partition-offset technique — in the final plan, every Window is
    over the |partitions|-row offsets frame (ordered by __pid) and the
    rank reaches the big frame via a BROADCAST hash join on __pid,
    never a single-task sort of the customer dimension."""
    for name in ("gini_concentration_audit", "hill_tail_index"):
        plan = _plan(spark, sf_dir, name)
        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        assert specs, plan  # the offsets prefix-sum window exists
        for spec in specs:
            assert "__pid" in spec, (name, spec)
        # the rank join back to the entity frame is broadcast
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name
        # no global sort anywhere
        assert "], true, 0" not in plan, name
