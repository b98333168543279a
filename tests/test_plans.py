"""Physical-plan regression tests: the scale-critical plan properties
documented in PLANS.md must survive refactors. These assert on
EXPLAIN FORMATTED output — not timings — so they're stable on any machine."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE


def _plan(spark, name: str) -> str:
    from bayeslite_spark.plans import explain_formatted
    from bayeslite_spark.workload import get_queries

    return explain_formatted(get_queries()[name](spark, SF_SMOKE))


def _shuffles(plan: str) -> int:
    from bayeslite_spark.plans import count_shuffles

    return count_shuffles(plan)


def test_q01_pushdown_and_partial_agg(spark):
    plan = _plan(spark, "q01_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # column pruning: untouched columns never reach the scan
    assert "l_partkey" not in plan.split("ReadSchema")[1].splitlines()[0]
    # partial (map-side) aggregation before the exchange
    assert plan.count("HashAggregate") >= 2


def test_q02_broadcasts_dimension(spark):
    plan = _plan(spark, "q02_nation_revenue")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q44_single_exchange(spark):
    plan = _plan(spark, "q44_window_running")
    # exactly one shuffle: the o_custkey partition for both window frames
    assert _shuffles(plan) == 1


def test_q47_no_nested_loop(spark):
    plan = _plan(spark, "q47_asof_join")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert _shuffles(plan) == 1


def test_q37_broadcast_probe_and_group_limit(spark):
    plan = _plan(spark, "x37_ann_ivf")
    assert "BroadcastHashJoin" in plan
    # rank pushdown prunes per-list candidates before the final window
    assert "WindowGroupLimit" in plan


def test_q46_no_materialized_distinct_sets(spark):
    plan = _plan(spark, "q46_set_ops")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan


def test_q58_similarity_is_equijoin_not_crossjoin(spark):
    """The O(N^2) pairwise-row form must stay a cluster-assignment
    equi-join (SURVEY.md §4): no cartesian product over data rows."""
    from bayeslite_spark.model_queries import engine_for

    eng = engine_for(spark, SF_SMOKE)
    df = eng.execute(
        "ESTIMATE SIMILARITY IN THE CONTEXT OF s_acctbal AS sim "
        "FROM PAIRWISE pop_sim LIMIT 10"
    )
    jvm = spark._jvm
    plan = df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_q31_inverted_index_partial_agg(spark):
    plan = _plan(spark, "q31_ngram_jaccard")
    assert "CartesianProduct" not in plan
    # intersection counting combines map-side before the shuffle
    assert plan.count("HashAggregate") >= 2


def test_bucketed_join_has_no_exchange(spark):
    """Same-bucketed tables join with ZERO shuffles (the pay-once-at-write
    pattern for 100 TB fact-fact joins)."""
    from bayeslite_spark.sources.bucketing import colocated_join, write_bucketed
    from bayeslite_spark.workload import _t

    orders = _t(spark, SF_SMOKE, "orders")
    li = _t(spark, SF_SMOKE, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    write_bucketed(orders, "b_orders", "o_orderkey", 4)
    write_bucketed(li, "b_lineitem", "o_orderkey", 4)
    try:
        df = colocated_join(spark, "b_orders", "b_lineitem", "o_orderkey").groupBy(
            "o_orderstatus"
        ).count()
        jvm = spark._jvm
        plan = df._jdf.queryExecution().explainString(
            jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        # join itself must be exchange-free; the only shuffle allowed is the
        # final small aggregation on o_orderstatus
        assert _shuffles(plan) <= 1
        assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
        assert df.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_audit_workload_no_cartesian_on_data(spark):
    """Sweep the relational/pipeline queries: no Cartesian products on
    data-sized inputs anywhere in the registry (q34's broadcast NLJ is a
    broadcast, not a CartesianProduct)."""
    from bayeslite_spark.plans import audit_workload

    rows = audit_workload(spark, SF_SMOKE, names=[
        "q01_pricing_summary", "q02_nation_revenue", "q07_semijoins",
        "q12_left_join_agg", "q31_ngram_jaccard", "q32_minhash_lsh",
        "q34_cosine_topk", "q44_window_running", "q47_asof_join",
        "r46_revenue_rollup", "r48_range_join", "r51_repeat_loops",
        "r52_embedding_dims", "r56_shipping_priority",
        "r57_local_supplier_volume", "r59_salted_enrich",
        "r61_embedding_covariance", "r64_cohort_ltv",
        "r65_order_reconciliation",
        # round-6 additions (r78's window-bucket crossJoin broadcasts a
        # metadata-sized side; r79/r77 are inverted-index equi-joins)
        "r77_tfidf_cosine", "r79_basket_cooccurrence",
        "r83_scd2_user_tiers", "r84_pit_join",
        "r86_trailing_range_frame", "r87_stl_decompose",
        # wave-8 additions (r93/r96 pair work runs on the calendar-bounded
        # daily series; r94/r95 are key-grouped anti-joins / one-scan aggs)
        "r93_revenue_acf", "r94_referential_integrity",
        "r95_column_profile", "r96_theil_sen_trend", "x100_lm_perplexity",
        # wave-9: r97/r98 are decorrelated agg+join / anti-join shapes,
        # r99 is type-sized min-agg + broadcast 1-row threshold
        "r97_waiting_suppliers", "r98_idle_rich_customers",
        "r99_vocab_growth",
        # wave-10/11: chunking is shuffle-free; fusion joins bounded
        # top-ks; diff/outliers/balance are single-key-shuffle shapes
        "r100_token_chunks", "r101_rrf_fusion", "r102_snapshot_diff",
        "r103_mad_outliers", "r104_clamped_balance",
        "r105_token_drift", "r106_event_pivot",
        "r108_value_histogram", "r109_ab_test",
        "r110_incremental_rollup", "r111_prefix_jaccard",
        "r112_fuzzy_name_pairs", "r113_fully_shipped",
        "r114_date_spine", "r115_activity_feed",
        # round-7 wave 2: TPC-H Q4/Q7/Q10/Q14/Q18/Q20-shape analogs —
        # mixed-condition semi join, role-playing dims, top-k, HAVING-
        # driven join, two-level re-aggregation
        "r116_priority_late_orders", "r117_nation_trade_flows",
        "r118_returned_item_ranking", "r119_promo_revenue_share",
        "r120_large_volume_customers", "r121_supplier_concentration",
        # round-7 wave 3: RFM via three distributed_ntile passes; two
        # user-keyed aggregates/windows feeding bounded rollups
        "r122_rfm_segments", "r123_first_touch_attribution",
        "r124_purchase_gap_histogram",
        # round-7 wave 4: zero-shuffle codegen rule census; window-hash
        # inverted count; per-row integer array fold
        "r125_gopher_quality_rules", "r126_duplicated_windows",
        "r127_embedding_norm_histogram",
        # round-7 wave 7: shared-sort dual-window sessionization rollup;
        # decorrelated per-user min-aggregate funnel chain
        "r128_session_conversion", "r129_bounded_funnel",
        # round-7 wave 8: zero-shuffle class census; two-grain temporal
        # re-aggregation; order-degree histogram
        "r130_charclass_entropy", "r131_seasonality_index",
        "r132_basket_size_distribution",
        # round-9: MJPEG true-pixel frame census (parquet fixture scan +
        # one Arrow decode pass, no shuffle); TPC-H Q6/Q12/Q15/Q19/Q22
        # shapes — pushed-scan agg, conditional counts, decorrelated
        # max join-back, disjunctive pushdown, exact above-avg anti-join
        "x106_mjpeg_frame_census", "r144_forecast_revenue_change",
        "r145_latemode_priority", "r146_top_supplier",
        "r147_brand_disjunction", "r148_prospect_customers",
    ])
    assert all(not r.get("cartesian") for r in rows), rows
    assert all("error" not in r for r in rows), rows


def test_r79_profile_single_okey_shuffle(spark):
    """r79's basket profile (round-9 rewrite): the dedup runs under
    hash(okey) partitioning, so there is NO (okey, pkey) dedup exchange
    and the per-order rank window adds NO exchange of its own — the
    okey repartition is the only data-sized shuffle (the support
    aggregate's exchange carries part-grain counts, not basket rows)."""
    from bayeslite_spark.operators.analytics_queries import _basket_profile
    from bayeslite_spark.plans import explain_formatted

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    plan = explain_formatted(_basket_profile(li, 3))
    assert "hashpartitioning(okey, pkey" not in plan
    # exactly one okey exchange per plan branch (the dedup subtree
    # appears under both the window side and the support side; AQE
    # reuses the exchange at runtime) and none between dedup and window
    window_side = plan.split("Window")[0]
    assert window_side.count("hashpartitioning(okey") <= 1


def test_q28_decontaminate_broadcast_no_self_join(spark):
    """Decontamination must broadcast the benchmark shingle set and stream
    the corpus — one scan-side join, no corpus self-join, no cartesian."""
    plan = _plan(spark, "q28_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_q29_vocab_partial_agg_takeordered(spark):
    """Vocabulary counts partial-aggregate map-side; top-k never global-sorts."""
    plan = _plan(spark, "q29_ngram_vocab")
    assert plan.count("HashAggregate") >= 2
    assert "TakeOrderedAndProject" in plan


def test_q16_source_cap_group_limit(spark):
    """Per-source quota must compile to WindowGroupLimit (rank pushdown):
    a hot source is truncated to K rows per partition before the final
    window sort, so one skewed domain cannot pin an executor."""
    plan = _plan(spark, "q16_source_cap")
    assert "WindowGroupLimit" in plan
    assert _shuffles(plan) == 1


def test_q20_seq_pack_single_shuffle(spark):
    """Packing = one shuffle on source; the running sum and the per-bin
    aggregate both evaluate inside that partitioning (the bin aggregate
    partial-combines map-side)."""
    plan = _plan(spark, "q20_seq_pack")
    assert _shuffles(plan) == 1
    assert plan.count("HashAggregate") >= 2


def test_q03_embed_quant_no_udf(spark):
    """Quantization stays JVM-side: higher-order array functions inside
    codegen, no Arrow/Python evaluation anywhere in the plan."""
    plan = _plan(spark, "q03_embed_quant")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_q37_repetition_zero_shuffle(spark):
    """Repetition signals are per-doc array functions over the scan: ZERO
    exchanges, no Python evaluation — the explode+groupBy formulation
    would shuffle the whole tokenized corpus instead."""
    plan = _plan(spark, "q37_repetition")
    assert _shuffles(plan) == 0
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_q38_train_shuffle_takeordered(spark):
    """Deterministic shuffle top-k must be TakeOrdered (per-partition
    heaps), never a global Sort."""
    plan = _plan(spark, "q38_train_shuffle")
    assert "TakeOrderedAndProject" in plan


def test_q98_broadcasts_ingest_batch(spark):
    """Incremental dedup must broadcast the new-batch side: the corpus
    bucket/signature stream is the 100 TB side and may not shuffle for
    the candidate join."""
    plan = _plan(spark, "q98_incremental_dedup")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_q96_wau_two_level_distinct(spark):
    """Rolling-actives plan: partial aggregation before each exchange and
    no join wider than the broadcast of observed days."""
    plan = _plan(spark, "q96_rolling_active")
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final x (distinct, count)


def _doc_cardinality_hints(df) -> list[str]:
    """Broadcast-hint subtrees that contain an aggregate grouped on a
    doc-id column — i.e. a table with one row per corpus document — with
    no Limit above it (a top-k over a per-doc aggregate is k-bounded and
    therefore safe to broadcast).  A subtree whose ROOT is an UNGROUPED
    (global) aggregate is likewise bounded — exactly one row ships, no
    matter what grain feeds it (r24/r101's corpus stats derive from the
    per-doc tf table since round 10) — recognized by the single-list
    ``Aggregate [exprs]`` form vs the grouped ``Aggregate [keys], [exprs]``."""
    import re

    from bayeslite_spark.plans import broadcast_hint_subtrees

    bad = []
    for sub in broadcast_hint_subtrees(df):
        m = re.search(r"Aggregate \[doc_id", sub)
        if not m or "GlobalLimit" in sub[:m.start()]:
            continue
        lines = sub.lstrip().splitlines()
        root = re.sub(r"^[^A-Za-z]*", "", lines[0]) if lines else ""
        if root.startswith("Aggregate [") and "], [" not in root:
            continue  # global 1-row aggregate at the hint root
        bad.append(sub)
    return bad


def test_jaccard_family_no_doc_cardinality_broadcast(spark):
    """The q31 family may never force-broadcast the per-document shingle
    count table: one row per document means a multi-GB broadcast at corpus
    scale. AQE broadcasts it when (and only when) it is actually small.
    The one allowed hint in these plans is the hot-shingle stop list,
    bounded by the df > MAX_SHINGLE_DF cap."""
    from bayeslite_spark.operators.dedup import ngram_jaccard_prefix
    from bayeslite_spark.workload import _t, get_queries

    qs = get_queries()
    for name in ("q31_ngram_jaccard", "q70_cross_source_leakage",
                 "q95_group_split"):
        df = qs[name](spark, SF_SMOKE)
        bad = _doc_cardinality_hints(df)
        assert not bad, f"{name}: forced broadcast of doc-cardinality input:\n" + bad[0]
    docs = _t(spark, SF_SMOKE, "documents")
    bad = _doc_cardinality_hints(ngram_jaccard_prefix(docs))
    assert not bad, "ngram_jaccard_prefix: doc-cardinality broadcast:\n" + bad[0]


def test_workload_sweep_no_doc_cardinality_broadcast(spark):
    """Whole-registry sweep: no query may hint-broadcast a table grouped
    per-document. Allowlist: q98's hints are on the ingest *batch* side
    (bounded by batch size by construction, asserted in its own test)."""
    from bayeslite_spark.workload import get_queries

    allow = {"q98_incremental_dedup"}
    qs = get_queries()
    offenders = {}
    for name, fn in sorted(qs.items()):
        if name in allow:
            continue
        try:
            df = fn(spark, SF_SMOKE)
        except Exception:
            continue  # engine-setup queries need fixtures; audited elsewhere
        bad = _doc_cardinality_hints(df)
        if bad:
            offenders[name] = bad[0][:200]
    assert not offenders, offenders


def test_runtime_bloom_filter_join_available(spark):
    """The 100 TB join lever: with a selective creation side, Spark
    injects a runtime Bloom filter (might_contain) on the big probe side
    so the shuffle drops non-joining rows at the scan. Local data sits
    under the production 10GB application-side default, so the test
    zeroes that threshold — the point is that our session/config leaves
    the optimization reachable and working."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").filter(
            F.col("o_totalprice") > 450000)
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
        # and the filtered rows still match a plain join
        for k, v in confs.items():
            spark.conf.unset(k)
        plain = li.join(o, li.l_orderkey == o.o_orderkey).count()
        for k, v in confs.items():
            spark.conf.set(k, v)
        assert j.count() == plain
    finally:
        for k, v in old.items():
            (spark.conf.set(k, v) if v is not None else spark.conf.unset(k))


def test_continuation_wave_plan_signatures(spark):
    """Shuffle budgets and join strategies of the round-5 continuation
    queries: the scale-critical shapes documented in PLANS.md pinned as
    regression bounds."""
    sigs = {
        # (max_shuffles, requires_broadcast_join)
        "r56_shipping_priority": (1, True),     # both filters at scans, one fact shuffle
        # dims broadcast by hint; the reduced supplier chain carries NO
        # hint (it grows with SF), so the STATIC plan shuffles it — AQE
        # demotes to broadcast at runtime when measured small
        "r57_local_supplier_volume": (4, True),
        "r59_salted_enrich": (1, True),         # totals broadcast after ONE agg shuffle
        "r61_embedding_covariance": (3, True),  # pair agg + dim agg + partials split; dims broadcast
        "r62_twap": (1, False),                 # window and groupBy SHARE the (type, day) partitioning
        "r65_order_reconciliation": (2, True),  # detail agg + header join
        "r60_hash_sample": (2, False),          # distinct + per-group top-k
        "r72_asof_forward": (1, False),         # ONE shuffle: union-and-carry window
        "r73_asof_tolerance": (1, False),       # same window + null-out predicate
        "r74_deletion_blast_radius": (3, True), # semi-joins broadcast; 3 bounded aggs
    }
    from bayeslite_spark.plans import count_shuffles, explain_formatted
    from bayeslite_spark.workload import get_queries

    qs = get_queries()
    for name, (max_sh, needs_bhj) in sigs.items():
        plan = explain_formatted(qs[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, name
        assert count_shuffles(plan) <= max_sh, (
            name, count_shuffles(plan), max_sh)
        if needs_bhj:
            assert "BroadcastHashJoin" in plan, name
    # r60's per-group top-k must run as a group-limit partial, never a
    # full per-group sort of the distinct table
    assert "WindowGroupLimit" in explain_formatted(
        qs["r60_hash_sample"](spark, SF_SMOKE))


def test_r96_slope_median_runs_on_collected_calendar_series(spark):
    """Theil–Sen's O(days^2) slope median runs on the COLLECTED daily
    series (calendar-bounded metadata): the distributed plan must be
    just the map-combined daily aggregate + a 1-row literal result — no
    pair join, no range shuffle, no Python boundary (round-9
    optimization; the 2.9M-slope enumeration is driver-side numpy)."""
    plan = _plan(spark, "r96_theil_sen_trend")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "RangePartitioning" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan


def test_r94_anti_join_moves_key_cardinality_not_rows(spark):
    """r94's orphan check groups the child FK side BEFORE the anti-join
    (the r05 upgrade): every anti-join input is a HashAggregate output,
    so the shuffle carries key cardinality, not child rows."""
    plan = _plan(spark, "r94_referential_integrity")
    assert "CartesianProduct" not in plan
    # one anti-join per FK edge (formatted plans mention each node twice)
    assert plan.count("LeftAnti") in (7, 14)


def test_assert_scalable_catches_the_three_shapes(spark):
    """The runtime plan guard flags cartesian products, global windows,
    and row-at-a-time Python UDFs — and passes clean plans and the
    allowlist."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from bayeslite_spark.plans import PlanScaleError, assert_scalable, \
        plan_scale_violations
    from bayeslite_spark.workload import _t

    orders = _t(spark, SF_SMOKE, "orders")
    cust = _t(spark, SF_SMOKE, "customer")

    # clean: equi-join + partitioned window
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    clean = (orders.join(cust, orders.o_custkey == cust.c_custkey)
             .withColumn("rk", F.row_number().over(w)))
    assert_scalable(clean)  # no raise

    # cartesian — disable auto-broadcast so the cross join cannot degrade
    # into the (allowed) broadcast NLJ on this tiny test input
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cart = orders.crossJoin(cust.withColumnRenamed("c_custkey", "ck"))
        got = plan_scale_violations(cart)
        assert any(v.startswith("cartesian") for v in got)
        assert plan_scale_violations(cart, allow={"cartesian"}) == []
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # global window
    gw = orders.withColumn(
        "rk", F.row_number().over(Window.orderBy("o_orderdate")))
    with pytest.raises(PlanScaleError, match="global_window"):
        assert_scalable(gw)

    # row-at-a-time Python UDF
    slow = F.udf(lambda x: x + 1, LongType())
    bad = orders.select(slow("o_orderkey").alias("k"))
    with pytest.raises(PlanScaleError, match="python_udf"):
        assert_scalable(bad)

    # partitioned windows must NOT be flagged as global
    assert plan_scale_violations(clean) == []


def test_q34_broadcasts_query_side_not_corpus(spark):
    """The cosine_topk broadcast hint must land on the BOUNDED query
    side (vec_id < N_QUERIES), never the corpus — the data-proportional
    broadcast that OOMs a 100 TB scan (call-order swap caught round 6)."""
    from bayeslite_spark.plans import broadcast_hint_subtrees
    from bayeslite_spark.workload import get_queries

    df = get_queries()["q34_cosine_topk"](spark, SF_SMOKE)
    subtrees = broadcast_hint_subtrees(df)
    assert subtrees, "expected an explicit broadcast hint"
    for sub in subtrees:
        assert "Filter (vec_id" in sub, (
            "broadcast hint not on the filtered query side:\n" + sub[:400])


def test_global_window_guard_balanced_parens_and_topk_bounds(spark):
    """Round-6 ADVICE regression: a global window whose leading ORDER
    item is a call expression (coalesce(a, b) ASC) must be caught — the
    old single non-greedy regex stopped at the first ')' and passed it.
    And Spark's own rank-filter rewrite (row_number <= k compiling to
    TakeOrderedAndProject) must NOT be flagged: the optimizer already
    bounded the window's input."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bayeslite_spark.plans import plan_scale_violations
    from bayeslite_spark.workload import _t

    orders = _t(spark, SF_SMOKE, "orders")

    # call-expression order key, no partition: must flag
    w_call = Window.orderBy(
        F.coalesce(F.col("o_totalprice"), F.col("o_orderkey").cast("double")))
    gw = orders.withColumn("s", F.sum("o_totalprice").over(w_call))
    got = plan_scale_violations(gw)
    assert any(v.startswith("global_window") for v in got), got

    # rank-filtered global top-k: bounded by construction, must pass
    w_rank = Window.orderBy(F.desc("o_totalprice"), "o_orderkey")
    topk = (orders.withColumn("rk", F.row_number().over(w_rank))
            .filter(F.col("rk") <= 10))
    assert plan_scale_violations(topk) == []

    # and a global window fed by an explicit limit is bounded too
    lim = (orders.orderBy("o_orderkey").limit(25)
           .withColumn("rk", F.row_number().over(
               Window.orderBy("o_orderkey"))))
    assert plan_scale_violations(lim) == []


def test_global_window_guard_sees_subquery_trees(spark):
    """A single-partition window hiding inside a scalar subquery's plan
    section must be flagged too — the tree walk covers every
    '===== Subqueries =====' tree, not just the main one."""
    from pyspark.sql import functions as F

    from bayeslite_spark.plans import plan_scale_violations

    spark.range(1000).select(
        "id", F.rand(1).alias("v")).createOrReplaceTempView("t_guard_sub")
    df = spark.sql("""
        SELECT id, v,
               (SELECT max(rk) FROM
                  (SELECT row_number() OVER (ORDER BY v) AS rk
                   FROM t_guard_sub)) AS m
        FROM t_guard_sub""")
    got = plan_scale_violations(df)
    assert any(v.startswith("global_window") for v in got), got


def test_global_window_guard_flags_partially_unparseable_tree():
    """A details section that names global-window node ids the tree walk
    cannot locate (e.g. a future Spark change to node-id printing in the
    tree header) must fail LOUD — flag every global id — not silently
    return [] (ADVICE r7).  Fully parseable plans keep the precise
    guarded/unguarded verdict."""
    from bayeslite_spark.plans.audit import unguarded_global_windows

    details = (
        "(3) Window\n"
        "Arguments: [row_number() windowspecdefinition(x#1 ASC NULLS "
        "FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$())) AS rk#9]\n")

    # tree prints the Window node id in a NEW format the walker misses
    mutated_tree = (
        "Window [id=3]\n"
        "+- Sort [id=2]\n"
        "   +- Scan parquet [id=1]\n\n") + details
    assert unguarded_global_windows(mutated_tree) == [3]

    # control: the same details under a parseable tree with a bounding
    # node below the window is NOT flagged
    guarded_tree = (
        "Window (3)\n"
        "+- Sort (2)\n"
        "   +- TakeOrderedAndProject (1)\n\n") + details
    assert unguarded_global_windows(guarded_tree) == []


def test_broadcast_lint_exempts_local_relations(spark):
    """A broadcast of driver-built rows (a LocalRelation) is bounded by
    construction; a broadcast of a bare base-table scan is still flagged."""
    from pyspark.sql import functions as F

    from bayeslite_spark.plans.audit import unbounded_broadcast_subtrees
    from bayeslite_spark.session import local_frame

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    params = local_frame(spark, [(1, 0.5)], "l_linenumber int, w double")
    assert unbounded_broadcast_subtrees(
        li.join(F.broadcast(params), "l_linenumber")) == []
    assert unbounded_broadcast_subtrees(
        params.join(F.broadcast(li), "l_linenumber"))
