"""Physical-plan regression tests: the scale-critical plan properties
(pushdown, pruning, broadcast, top-k, codegen purity) must survive
refactors — a correctness-preserving change that breaks one of these is
a performance regression at 100 TB even when every oracle stays green."""

import pytest

import fmx.queries as Q

ALL = Q.all_queries()


def _plan(spark, sf_dir, name):
    return (ALL[name].fn(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "p6_filter_group")
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,25.0)]" in plan


def test_column_pruning_tpch_q1(spark, sf_dir):
    plan = _plan(spark, sf_dir, "a1_tpch_q1")
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    # 7 of 11 lineitem columns read; keys must not include l_orderkey
    assert "l_returnflag" in scan and "l_orderkey" not in scan


def test_dimension_joins_broadcast(spark, sf_dir):
    for name in ["j1_inner_join_agg", "j7_broadcast_two_dims",
                 "tpch_q5_local_supplier", "tpch_q14_promo_share",
                 "tpch_q7_nation_volume", "tpch_q8_market_share",
                 "tpch_q9_product_profit", "fm_predict"]:
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name


def test_global_topk_uses_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sort_limit_topk")
    assert "TakeOrderedAndProject" in plan
    # vocab building must also top-k via per-partition heaps, not a
    # full sort of the token counts
    assert "TakeOrderedAndProject" in _plan(spark, sf_dir, "text_vocab_topk")


def test_ranked_topk_uses_window_group_limit(spark, sf_dir):
    plan = _plan(spark, sf_dir, "w3_row_number_topk")
    assert "WindowGroupLimit" in plan
    # the per-source cap sampler must take the same per-partition-heap
    # path, not a full per-group sort
    assert "WindowGroupLimit" in _plan(spark, sf_dir, "sample_per_source_cap")
    # incremental dedup's keep-min rides the same rank-1 limit
    assert "WindowGroupLimit" in _plan(spark, sf_dir, "dedup_incremental")


def test_no_python_udfs_in_declared_queries(spark, sf_dir):
    """Every selected registry query except the deliberate mapInPandas
    featurizer must stay fully JVM-side (default tier sweeps the
    headliner + sentinel + hash-sample selection; FMX_FULL_SUITE=1
    sweeps all)."""
    from tests.conftest import registry_selection

    allowed_python = {"multimodal_features"}
    for name in registry_selection():
        if name in allowed_python:
            continue
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_no_cartesian_in_pair_generators(spark, sf_dir):
    """Near-dup pair generation must stay an equi-join on a blocking key
    (segment / LSH bucket / shingle) — a cartesian or nested-loop pair
    join is a scale-killer regardless of correctness (VERDICT r01)."""
    for name in ["dedup_levenshtein_prefix", "dedup_embedding_cosine",
                 "dedup_minhash_lsh_pairs", "dedup_ngram_jaccard"]:
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_semi_anti_join_strategies(spark, sf_dir):
    assert "LeftSemi" in _plan(spark, sf_dir, "j5_semi_join")
    assert "LeftAnti" in _plan(spark, sf_dir, "j6_anti_join")


def test_q5_shapes_agree_and_prereduced_broadcasts(spark, sf_dir):
    """The size-adaptive Q5 must give identical answers in both shapes;
    the cluster-scale shape keeps the dims broadcast and introduces no
    extra exchange on lineitem."""
    from fmx.queries.tpch import tpch_q5_shape

    simple = {(r.n_name, r.revenue) for r in
              tpch_q5_shape(spark, sf_dir, "simple").collect()}
    prered = {(r.n_name, r.revenue) for r in
              tpch_q5_shape(spark, sf_dir, "prereduced").collect()}
    assert simple == prered and simple
    plan = (tpch_q5_shape(spark, sf_dir, "prereduced")
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_asof_join_has_no_join_operator(spark, sf_dir):
    """The as-of join must run as union + carry-forward window — a plan
    with any join node means it regressed to the O(n*m) inequality
    join."""
    plan = _plan(spark, sf_dir, "asof_purchase_last_click")
    assert "Join" not in plan
    assert "Window" in plan


def test_range_join_is_banded_equi_join(spark, sf_dir):
    """The range join must execute as a (broadcast) hash join on the
    bucket key, never a nested-loop over the between-predicate."""
    plan = _plan(spark, sf_dir, "range_join_price_bands")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q21_decorrelated_no_cartesian(spark, sf_dir):
    """Q21's EXISTS/NOT-EXISTS pair must stay decorrelated into the
    (order, supplier) aggregate + order-key window — a correlated
    rewrite shows up as extra lineitem scans or a nested-loop join."""
    plan = _plan(spark, sf_dir, "tpch_q21_waiting_supplier")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("FileScan parquet") <= 3  # lineitem, orders, supplier


def test_partial_aggregation_present(spark, sf_dir):
    # hash agg appears twice: partial (map-side) + final
    plan = _plan(spark, sf_dir, "a1_tpch_q1")
    assert plan.count("HashAggregate") >= 2


def test_pq_plans_broadcast_codebook_no_cartesian(spark, sf_dir):
    """PQ encode must stay an equi-join against the broadcast
    codebook — the corpus side never cross-joins it, and the argmin
    is in-row (no ranking window, no sort).  The SEARCH side (r14
    pivot): the corpus still meets the codebook through a broadcast
    equi-join, and the only nested-loop is the documented broadcast
    QUERY-SET cross (one m x K distance matrix per query — the
    cosine_topk contract), never corpus x corpus."""
    plan = _plan(spark, sf_dir, "ann_pq_codes")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan
    topk = _plan(spark, sf_dir, "ann_pq_topk")
    assert "BroadcastHashJoin" in topk
    assert "CartesianProduct" not in topk
    # exactly ONE nested-loop node: the broadcast query-set cross
    import re

    nlj = len(set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", topk)))
    assert nlj <= 1, nlj


def test_pq_encode_single_shuffle(spark, sf_dir):
    """The r12 fused PQ encode: per-code conditional sums collapse the
    former per-(id, sub, code) agg + argmin agg into ONE hash-agg at
    (id, sub) grain — exactly one exchange between the corpus scan and
    the codes relation, and no lineage cuts (the r11 eager-checkpoint
    regression must not come back)."""
    plan = _plan(spark, sf_dir, "ann_pq_codes")
    shuffles = plan.count("Exchange hashpartitioning")
    assert shuffles == 1, shuffles     # broadcast exchanges excluded
    assert "Checkpoint" not in plan and "ExistingRDD" not in plan


def test_ngram_jaccard_scans_corpus_once(spark, sf_dir):
    """The max_df guard's document-frequency branch and the shingle set
    it filters are one subtree: one stage reads and tokenizes the
    corpus, and exchange reuse serves every other read of it."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    group = "ngram-jaccard-scans"
    sc.setJobGroup(group, "scan stages")
    try:
        (ALL["dedup_ngram_jaccard"].fn(spark, sf_dir)
         .write.mode("overwrite").format("noop").save())
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    store = sc._jsc.sc().statusStore()
    scans = 0
    for job in sc.statusTracker().getJobIdsForGroup(group):
        stage_ids = store.job(job).stageIds()
        for i in range(stage_ids.size()):
            try:
                st = store.lastStageAttempt(stage_ids.apply(i))
            except Py4JJavaError:
                continue    # a stage whose output was reused never ran
            if str(st.status()) != "SKIPPED" and st.inputBytes() > 0:
                scans += 1
    assert scans == 1, scans


def test_span_profile_no_span_self_join(spark, sf_dir):
    """The span-duplication profile is two hash-aggs + one equi-join —
    a span self-join (quadratic in duplicated docs) must never appear:
    exactly one join node, keyed on the shingle."""
    plan = _plan(spark, sf_dir, "dedup_span_profile")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    joins = [l for l in plan.splitlines()
             if "Join" in l and "WholeStageCodegen" not in l]
    assert len(joins) <= 1, joins


def test_zorder_key_is_pure_projection(spark, sf_dir):
    """The Morton key is bit arithmetic over the scan — no join, no
    exchange, no python."""
    plan = _plan(spark, sf_dir, "zorder_layout_key")
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_weighted_sample_uses_window_group_limit(spark, sf_dir):
    assert "WindowGroupLimit" in _plan(spark, sf_dir, "sample_weighted_topk")


def test_negative_sample_anti_join_no_driver_scalar(spark, sf_dir):
    """The item-count scalar must enter as a broadcast join (plan shows
    the anti join + a broadcast exchange), not a collected literal."""
    plan = _plan(spark, sf_dir, "sample_negatives")
    assert "LeftAnti" in plan
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_pairs_confined_to_cells(spark, sf_dir):
    """SemDeDup's quadratic verify must be an equi-join on the cell key
    (the broadcast LEVEL-1 centroid cross-join is the only nested-loop —
    a bounded l1 x dim relation; level-2 centroids are reached through
    an equi-join on the level-1 key)."""
    plan = _plan(spark, sf_dir, "dedup_semantic")
    assert "CartesianProduct" not in plan
    # every nested-loop is the bounded broadcast level-1 table (one per
    # assignment subtree); the PAIR join itself must be an equi-join on
    # the cell key
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "BuildRight" in line
    assert any(("Join" in ln and "cell" in ln and
                "BroadcastNestedLoopJoin" not in ln)
               for ln in plan.splitlines())
    # no centroid relation may pass through the driver: a collected-and-
    # re-parallelized centroid table would appear as a LocalTableScan /
    # parallelized RDD scan (the flat-path shape this test forbids) —
    # at 1B vectors that's a multi-GB driver materialization
    assert "LocalTableScan" not in plan
    assert "Scan ExistingRDD" not in plan


def test_gap_fill_grid_is_generated(spark, sf_dir):
    """The densified grid comes from explode(sequence(...)) over per-key
    bounds — generated, not materialized; the fill is a window, and no
    shuffle exceeds (keys x buckets) cardinality."""
    plan = _plan(spark, sf_dir, "ts_gap_fill")
    assert "Generate" in plan           # explode(sequence)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_inverted_index_postings_cap_uses_window_group_limit(spark, sf_dir):
    """The postings cap must run as WindowGroupLimit (per-map truncation
    to k rows per token before the sort-shuffle) — a hot token never
    sorts its full posting set; the df branch stays sort-free."""
    plan = _plan(spark, sf_dir, "text_inverted_index")
    assert "WindowGroupLimit" in plan


def test_partsupp_tpch_shapes_no_cartesian(spark, sf_dir):
    """The synthesized-partsupp TPC-H shapes must stay broadcast/equi
    joins: the only nested-loop allowed is the 1-row count / scalar
    broadcast (BuildRight), never a data-sized cross."""
    for name in ["tpch_q2_min_cost_supplier", "tpch_q11_important_stock",
                 "tpch_q15_top_supplier", "tpch_q16_supplier_cnt",
                 "tpch_q20_excess_stock"]:
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        for line in plan.splitlines():
            if "BroadcastNestedLoopJoin" in line:
                assert "BuildRight" in line, (name, line)


def test_sessionization_single_exchange(spark, sf_dir):
    """The session-boundary window and the per-session rollup share one
    user_id shuffle — the rollup keys are a superset of the window
    partition key, so exactly ONE Exchange appears in the whole plan."""
    plan = _plan(spark, sf_dir, "event_sessionization")
    n_ex = sum(1 for ln in plan.splitlines()
               if "Exchange hashpartitioning" in ln
               and "Reused" not in ln)
    assert n_ex == 1, plan


def test_url_normalize_is_map_only(spark, sf_dir):
    """URL canonicalization is pure projection: no Exchange, no Join,
    no aggregation — whole-stage codegen end to end."""
    plan = _plan(spark, sf_dir, "web_url_normalize")
    assert "Exchange" not in plan
    assert "Join" not in plan
    # codegen marker: "*(n)" stage prefix in the compact tree string
    assert "WholeStageCodegen" in plan or "*(1)" in plan


def test_domain_cap_uses_window_group_limit(spark, sf_dir):
    """The per-domain cap must run as WindowGroupLimit per-partition
    heaps — a mega-domain never fully sorts."""
    assert "WindowGroupLimit" in _plan(spark, sf_dir, "web_domain_cap")


def test_char_entropy_two_aggs_no_join(spark, sf_dir):
    """Entropy = two chained hash-aggs over (doc, char) then (doc);
    the single-pass fold needs no join back for per-doc totals."""
    plan = _plan(spark, sf_dir, "text_char_entropy")
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2


def test_cross_corpus_no_cartesian(spark, sf_dir):
    """Cross-corpus LSH pairing is an equi-join on (band, band_key);
    neither corpus self-joins and nothing goes nested-loop."""
    plan = _plan(spark, sf_dir, "dedup_cross_corpus")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_robust_scale_broadcasts_stats(spark, sf_dir):
    """The percentile stats join back broadcast — the fact scan itself
    never shuffles."""
    plan = _plan(spark, sf_dir, "profile_robust_scale")
    assert "BroadcastHashJoin" in plan


def test_keep_longest_rides_window_group_limit(spark, sf_dir):
    """The per-cluster keep-best pick must run as WindowGroupLimit
    heaps — a mega-cluster of duplicates never fully sorts."""
    assert "WindowGroupLimit" in _plan(spark, sf_dir, "dedup_keep_longest")


def test_winsorized_mean_broadcasts_stats(spark, sf_dir):
    """The percentile stats join back broadcast; the fact scan never
    shuffles."""
    plan = _plan(spark, sf_dir, "profile_winsorized_mean")
    assert "BroadcastHashJoin" in plan


def test_session_analytics_single_exchange(spark, sf_dir):
    """Session funnel and abandoned-sessions ride sessionize's ONE
    user_id shuffle — boundary window, per-session agg, and rollup/
    filter all share it."""
    for name in ["funnel_within_session", "abandoned_sessions"]:
        plan = _plan(spark, sf_dir, name)
        n_ex = sum(1 for ln in plan.splitlines()
                   if "Exchange hashpartitioning" in ln
                   and "Reused" not in ln)
        assert n_ex == 1, (name, plan)


def test_vocab_kl_no_corpus_cartesian(spark, sf_dir):
    """The only cross in vocab-KL is the tiny groups x top-k densify
    (broadcast); the corpus itself is never nested-loop joined."""
    plan = _plan(spark, sf_dir, "text_vocab_kl_by_source")
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "BroadcastNestedLoopJoin" in ln:
            assert "BuildRight" in ln


def test_ivfpq_no_cartesian_no_collect(spark, sf_dir):
    """IVF-PQ must meet candidates through the (cell) broadcast join
    against the per-query distance tables — no unbounded cartesian;
    the ONLY nested-loop allowed
    is the broadcast cross against the bounded num_cells-row centroid
    table (BuildRight), and both the centroid table and the residual
    codebook must be derived relations (the plan contains only
    parquet scans, no LocalTableScan of driver literals)."""
    plan = _plan(spark, sf_dir, "ann_ivfpq_topk")
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "BroadcastNestedLoopJoin" in ln:
            assert "BuildRight" in ln
    assert "LocalTableScan" not in plan


def test_token_budget_mix_single_shuffle(spark, sf_dir):
    """Token-budget mixing is one shuffle (the per-source cumulative
    window); any join or second Exchange means it regressed."""
    plan = _plan(spark, sf_dir, "sample_token_budget_mix")
    assert "Join" not in plan
    assert plan.count("Exchange") == 1


def test_k_hop_equi_joins_only(spark, sf_dir):
    plan = _plan(spark, sf_dir, "graph_k_hop_2")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_feature_encoders_broadcast_key_table(spark, sf_dir):
    """With broadcast_keys=True both encoders must pin a
    BroadcastHashJoin for the join back on the key (the encoder table
    is dimension-sized here); the registry query threads the hint, and
    the library default (False) leaves the strategy to AQE."""
    from fmx.operators.features import frequency_encode

    plan = _plan(spark, sf_dir, "feat_target_encode_loo")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    from fmx.sources import load_table
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    fplan = (frequency_encode(o, "o_custkey", broadcast_keys=True)
             ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in fplan
    assert "SortMergeJoin" not in fplan


def test_allpairs_prefix_no_cartesian_no_python(spark, sf_dir):
    """The exact-APSS headliner must stay an equi-join pipeline: the
    candidate and verify joins key on shingle / doc id (never a
    cartesian), the per-doc prefix window is partitioned, and nothing
    falls off the codegen path into Python."""
    plan = _plan(spark, sf_dir, "dedup_allpairs_exact")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_allpairs_canonical_same_guarantees(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_allpairs_canonical")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_holt_fold_stays_jvm_side(spark, sf_dir):
    """The Holt recursion is a single aggregate() higher-order fold:
    one hash aggregation (collect_list), no window, no Python."""
    plan = _plan(spark, sf_dir, "ts_holt_linear")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" not in plan


def test_kmv_topk_uses_per_partition_heaps(spark, sf_dir):
    """Each KMV sketch's k smallest hashes must come from
    TakeOrderedAndProject (per-partition heaps), never a global sort."""
    plan = _plan(spark, sf_dir, "sketch_kmv_intersection")
    assert "TakeOrderedAndProject" in plan
    # no standalone global Sort — the registry-wide linter would flag
    # one as global-sort; this pin keeps the failure local to the query
    assert "Sort [h" not in plan


def test_fs_multipass_union_of_equi_joins(spark, sf_dir):
    """The multipass FS candidate topology: a UNION of block
    equi-joins deduplicated at pair grain — never a cartesian, and
    the EM/weights stats stay a 1-row broadcast (the only
    BroadcastNestedLoopJoin allowed is the deliberate 1-row
    stats-onto-patterns cross; pattern rows are <= 2^k)."""
    for name in ("er_fellegi_sunter_multipass", "er_fellegi_sunter_em"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "HashAggregate" in plan, name


def test_holt_winters_fold_stays_jvm_side(spark, sf_dir):
    """The triple-state seasonal recursion is still ONE aggregate()
    fold: one hash aggregation, no window, no Python — the seasonal
    register rides the accumulator array, not a lag window."""
    plan = _plan(spark, sf_dir, "ts_holt_winters")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" not in plan


def test_building_headliners_runs_no_jobs(spark, sf_dir):
    """Building a headliner plans it and runs nothing: after a first
    build of every headliner (which pays for parquet schema inference
    and file listing), a second build schedules no job.  A build-time
    job is hidden execution — a driver action such as a count, or a
    lazy checkpoint, which under AQE runs every upstream shuffle stage
    at the call."""
    sc = spark.sparkContext
    names = sorted(n for n, s in ALL.items() if s.headline)
    assert len(names) == 30
    for name in names:
        ALL[name].fn(spark, sf_dir)
    jobs = {}
    for name in names:
        group = f"build-{name}"
        sc.setJobGroup(group, "build only")
        try:
            ALL[name].fn(spark, sf_dir)
        finally:
            sc._jsc.clearJobGroup()
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs == {n: 0 for n in names}
