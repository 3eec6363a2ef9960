"""Plan-quality regression tests: the physical plans the engine relies
on for 100TB scale must not silently degrade.

Checks the properties called out in BASELINE.md: predicate pushdown into
parquet scans, column pruning, broadcast joins for small dims, no
single-partition window in scale paths, whole-stage codegen presence."""

from __future__ import annotations

from dbt_omnata_push_spark.queries import load_all

REGISTRY = load_all()


def _formatted_plan(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["pricing_summary"].fn(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # Pruned read schema: no orderkey/partkey/suppkey columns scanned.
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read_schema
    assert "l_quantity" in read_schema
    # Aggregation is partial->final (map-side combine before the shuffle).
    assert plan.count("HashAggregate") >= 2


def test_revenue_by_nation_broadcasts_dims(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["revenue_by_nation"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2  # nation + region at minimum
    # Status filter pushed all the way into the orders scan.
    assert "EqualTo(o_orderstatus,F)" in plan


def test_anti_join_is_a_join_not_subquery_loop(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["customers_without_orders"].fn(spark, sf_dir))
    assert "LeftAnti" in plan


def test_global_top_orders_uses_takeordered(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["global_top_orders"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # top-k, not a full global sort


def test_no_single_partition_window_in_scale_paths(spark, sf_dir):
    """Engine ops never use a null-partition window (SURVEY.md §4.1).
    Partitioned windows are fine; an empty PartitionBy on a big table is
    the failure mode this guards against."""
    for name in ("staging_batches", "dedup_minhash_lsh_pairs", "events_hourly"):
        plan = _formatted_plan(REGISTRY[name].fn(spark, sf_dir))
        assert "Window" not in plan, name


def test_topk_window_is_partitioned(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["top_orders_per_customer"].fn(spark, sf_dir))
    assert "windowspecdefinition(o_custkey" in plan  # partitioned by key
    # rank<=3 pushed below the window as a group-limit (no full rank pass)
    assert "WindowGroupLimit" in plan


def test_asof_join_single_keyed_shuffle_no_nested_loop(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["events_asof_last_error"].fn(spark, sf_dir))
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    # the merge window is partitioned by the join key, never global
    assert "Window" in plan


def test_range_join_is_hash_join(spark, sf_dir):
    plan = _formatted_plan(
        REGISTRY["events_range_join_error_window"].fn(spark, sf_dir)
    )
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_tfidf_broadcasts_doc_frequency(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["text_tfidf_top_terms"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_stratified_sample_window_group_limit(spark, sf_dir):
    plan = _formatted_plan(
        REGISTRY["documents_stratified_sample"].fn(spark, sf_dir)
    )
    # rank<=n is pushed below the sort (WindowGroupLimit), so no stratum
    # is fully sorted just to take its first 20 rows
    assert "WindowGroupLimit" in plan


def test_brand_bracket_pushes_join_key_keeps_or_residual(spark, sf_dir):
    """Q19 shape: the OR'd brackets must not break the broadcast equi-join
    or the partkey pushdown; brand IN-list reaches the part scan."""
    plan = _formatted_plan(REGISTRY["brand_bracket_revenue"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # Catalyst derives per-scan disjunctive pushdowns from the OR'd
    # brackets: brand equalities reach the part scan, quantity ranges
    # reach the lineitem scan.
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("p_brand" in l for l in pushed)
    assert any("l_quantity" in l for l in pushed)


def test_nation_pair_trade_broadcasts_both_roles(spark, sf_dir):
    """Q7 shape: supplier + both nation roles broadcast; facts never
    broadcast."""
    plan = _formatted_plan(REGISTRY["nation_pair_trade"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3


def test_returned_revenue_topk_no_global_sort(spark, sf_dir):
    plan = _formatted_plan(
        REGISTRY["returned_revenue_top_customers"].fn(spark, sf_dir)
    )
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(l_returnflag,R)" in plan  # filter pushed to scan


def test_customer_order_distribution_outer_join_preserved(spark, sf_dir):
    plan = _formatted_plan(
        REGISTRY["customer_order_distribution"].fn(spark, sf_dir)
    )
    assert "LeftOuter" in plan


def _broadcast_hint_subtrees(df) -> list[str]:
    """toString() of every ResolvedHint subtree in the analyzed plan."""
    out = []
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "ResolvedHint":
            out.append(node.toString())
        it = node.children().iterator()
        while it.hasNext():
            stack.append(it.next())
    return out


def test_no_forced_broadcast_on_scale_growing_tables(spark, sf_dir):
    """VERDICT r2: a forced F.broadcast() hint bypasses AQE's size check;
    supplier/part grow linearly with scale factor (~1e9 rows at 100 TB)
    and the token->df vocab grows with the corpus, so no broadcast-hint
    subtree may scan them. Bounded dims (nation, region, 1-row aggregates)
    may keep their hints."""
    import re

    suspect = re.compile(r"/(supplier|part)\.parquet")
    for name in (
        "min_cost_supplier",
        "nation_market_share",
        "product_profit_by_nation_year",
        "important_part_values",
        "supplier_count_by_part",
        "excess_inventory_suppliers",
        "suppliers_waiting_orders",
        "promo_revenue_by_month",
        "brand_bracket_revenue",
        "nation_pair_trade",
        "text_tfidf_top_terms",
        "supplier_regions",
        "top_revenue_supplier",
    ):
        if name not in REGISTRY:
            continue
        for subtree in _broadcast_hint_subtrees(REGISTRY[name].fn(spark, sf_dir)):
            assert not suspect.search(subtree), (
                f"{name}: broadcast hint covers a scale-growing table:\n"
                + subtree[:2000]
            )


def test_decontamination_broadcasts_benchmark_side(spark, sf_dir):
    """The benchmark shingle set must broadcast; corpus shingles must not
    shuffle through a sort-merge join."""
    plan = _formatted_plan(REGISTRY["corpus_decontamination"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_block_dedup_shuffles_on_hash_not_text(spark, sf_dir):
    """Winner election must exchange on the 32-byte md5, never the block
    text (wide keys would inflate the shuffle ~10x)."""
    plan = _formatted_plan(REGISTRY["dedup_block_global"].fn(spark, sf_dir))
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^,]+)", plan):
        assert "block_text" not in m.group(1), m.group(0)
    assert "block_hash" in plan


def test_shard_assignment_no_global_window(spark, sf_dir):
    """Keyed prefix sum: windows partition on (_pid, split) / (split);
    no empty-PartitionBy window anywhere."""
    plan = _formatted_plan(REGISTRY["corpus_shard_assignment"].fn(spark, sf_dir))
    import re

    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert m.group(1).strip(), "unpartitioned window in shard assignment"


def test_semantic_dedup_joins_on_cluster_key(spark, sf_dir):
    """SemDeDup's pair stage must be an equi-join on the cluster label
    (never a cartesian/BNLJ all-pairs)."""
    plan = _formatted_plan(REGISTRY["dedup_semantic_clusters"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hashed_classifier_partial_aggregates(spark, sf_dir):
    """Gram explode -> doc_id aggregation must map-side combine."""
    plan = _formatted_plan(REGISTRY["text_hashed_classifier"].fn(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2


def test_bloom_probe_broadcasts_filter(spark, sf_dir):
    """The sparse bloom word frame is the build side of a broadcast
    join; the probe batch is never shuffled."""
    plan = _formatted_plan(
        REGISTRY["customers_bloom_membership"].fn(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan


def test_split_leakage_gram_join_no_allpairs(spark, sf_dir):
    """Leak detection joins on the gram key; no doc-pair comparison."""
    plan = _formatted_plan(REGISTRY["split_leakage_check"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cdc_diff_is_key_joins_no_cartesian(spark, sf_dir):
    """read_changes = two anti-joins + one digest-inequality inner
    join, all keyed — no nested-loop anywhere."""
    plan = _formatted_plan(REGISTRY["orders_cdc_diff"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ohlc_partial_aggregates(spark, sf_dir):
    """min_by/max_by rollup must map-side combine before the shuffle."""
    plan = _formatted_plan(REGISTRY["events_hourly_ohlc"].fn(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2 or plan.count("SortAggregate") >= 2


def test_fuzzy_join_no_cartesian_and_narrow_shuffle(spark, sf_dir):
    """Candidate generation is a variant equi-join carrying ids, not
    string payload; verify stage rejoins strings afterwards."""
    plan = _formatted_plan(
        REGISTRY["customers_fuzzy_name_pairs"].fn(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_top_revenue_supplier_scans_lineitem_once(spark, sf_dir):
    """Q15 (r6): the persisted revenue view feeds both the scalar max
    and the equality filter — lineitem must be scanned exactly once
    (without the persist both consumers re-derive the view), and the
    supplier dim must broadcast."""
    plan = _formatted_plan(REGISTRY["top_revenue_supplier"].fn(spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1, plan.count("lineitem.parquet")
    assert "InMemoryRelation" in plan or "InMemoryTableScan" in plan
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_idle_customer_balance_anti_join(spark, sf_dir):
    """Q22 (r6): NOT EXISTS compiles to one LeftAnti hash join; the
    scalar average is a broadcast, not a per-row subquery."""
    plan = _formatted_plan(REGISTRY["idle_customer_balance"].fn(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # orders scan prunes to the columns the anti-join needs
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert any(
        "o_custkey" in l and "o_totalprice" not in l for l in read_schemas
    ), read_schemas


def test_boilerplate_removal_plan_no_cartesian(spark, sf_dir):
    """r6: frequency gate + rebuild stay equi-join/groupBy shaped —
    no cartesian, map-side partial aggregation before each exchange."""
    plan = _formatted_plan(
        REGISTRY["corpus_boilerplate_removal"].fn(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # partial -> final


def test_cms_probe_is_broadcast(spark, sf_dir):
    """r6: the CMS estimate pass joins the bounded counter table as a
    broadcast — probing never shuffles the key stream against it."""
    plan = _formatted_plan(REGISTRY["documents_term_cms_topk"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # top-20 is a TakeOrdered, not a global sort of the vocabulary
    assert "TakeOrderedAndProject" in plan


def test_scd2_pointintime_is_equi_join_not_nested_loop(spark, sf_dir):
    """The temporal join must hash on the key with the validity
    interval as a residual filter — a BroadcastNestedLoopJoin here
    would mean the interval predicate became the join condition."""
    plan = _formatted_plan(REGISTRY["orders_scd2_pointintime"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan)


def test_histogram_partial_aggregates_and_broadcast_bounds(spark, sf_dir):
    """Bin counting must combine map-side; the bounds row rides as a
    broadcast, never a shuffle."""
    plan = _formatted_plan(REGISTRY["events_value_histogram"].fn(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2  # partial -> final
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_tw_avg_aggregation_reuses_window_partitioning(spark, sf_dir):
    """groupBy(user_id) directly after a user_id-partitioned window
    must NOT re-exchange — one shuffle total."""
    import re

    plan = _formatted_plan(REGISTRY["events_time_weighted_avg"].fn(spark, sf_dir))
    # formatted mode names each node twice (tree + section); count nodes
    assert len(re.findall(r"\n\(\d+\) Exchange", plan)) == 1
    assert "Window" in plan


def test_substring_spans_shuffles_hashes_not_text(spark, sf_dir):
    """Only (doc_id, md5) pairs may enter an exchange — the span text
    stays map-side."""
    import re

    plan = _formatted_plan(REGISTRY["dedup_substring_spans"].fn(spark, sf_dir))
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]+)\)", plan):
        assert "text" not in m.group(1), m.group(0)


# ------------------------------------------------- round-6c operators


def test_trailing_hour_stats_single_keyed_window_shuffle(spark, sf_dir):
    plan = _formatted_plan(
        REGISTRY["events_trailing_hour_stats"].fn(spark, sf_dir)
    )
    assert "Window" in plan
    # one keyed exchange feeds the RANGE-frame window; no extra
    # shuffles ("Exchange (" counts tree nodes once — the formatted
    # output repeats each node in the details section)
    assert plan.count("Exchange (") == 1


def test_counter_rate_map_side_partial_aggregation(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["events_counter_rate"].fn(spark, sf_dir))
    # lag window (1 exchange on the key) then partial->final aggregate
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange (") <= 2


def test_dsir_distribution_frames_broadcast(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["corpus_dsir_selection"].fn(spark, sf_dir))
    # the <=n_buckets ratio frame rides a broadcast join onto doc feats;
    # nothing in the plan is a cartesian product
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # top-k selection, no full sort


def test_jaccard_prefix_join_all_equi_joins(spark, sf_dir):
    plan = _formatted_plan(
        REGISTRY["dedup_jaccard_prefix_join"].fn(spark, sf_dir)
    )
    # the losslessness proof is the oracle; the scale proof is that no
    # stage degenerates to an all-pairs product
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_entity_resolution_no_cartesian_stage(spark, sf_dir):
    plan = _formatted_plan(
        REGISTRY["customers_entity_resolution"].fn(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan


def test_kmv_sketch_uses_window_group_limit(spark, sf_dir):
    plan = _formatted_plan(
        REGISTRY["events_kmv_distinct_users"].fn(spark, sf_dir)
    )
    # bottom-k per group must push the rank filter below the sort
    assert "WindowGroupLimit" in plan


def test_knn_join_plan_no_cartesian(spark, sf_dir):
    """r7: the blocked KNN self-join must be a block-keyed equi-join,
    never a cartesian/nested-loop over the corpus."""
    from dbt_omnata_push_spark.engine.catalog import load_table
    from dbt_omnata_push_spark.llmops.similarity import knn_join_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    plan = (
        knn_join_blocked(emb, k=3, block_col="label")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hybrid_rrf_plan_is_bounded(spark, sf_dir):
    """r7: the fusion input lists are k-bounded (TakeOrdered /
    WindowGroupLimit retrieval), so the full-outer fuse join touches at
    most 2k rows — no corpus-sized shuffle above the retrieval stages."""
    import re

    from dbt_omnata_push_spark.queries import load_all

    df = load_all()["documents_hybrid_rrf"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_store_partitioned_read_prunes_partitions(spark, tmp_path):
    """r8: a filter on the partition column of a store table must reach
    the scan as a PartitionFilter (directory pruning — at 100 TB the
    difference between reading one partition and reading the table)."""
    from pyspark.sql import functions as F

    from dbt_omnata_push_spark.engine.store import TableStore

    store = TableStore(str(tmp_path / "s"))
    df = spark.range(1000).select(
        "id", (F.col("id") % 10).cast("string").alias("p")
    )
    store.create(spark, "fact", df, partition_by="p")
    read = store.read(spark, "fact").filter(F.col("p") == "3")
    plan = _formatted_plan(read)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "p" in m.group(1), f"no partition filter pushed:\n{plan}"
    # and the partition column filter is NOT a post-scan residual read
    # of all partitions: scanned files come from one directory
    assert read.count() == 100


def test_store_partitioned_join_uses_dynamic_pruning(spark, tmp_path):
    """r8: joining a partitioned store fact to a filtered dim must plan
    dynamic partition pruning (the runtime analogue of static pruning —
    on a cluster this skips whole partition directories based on the
    dim's build side)."""
    from pyspark.sql import functions as F

    from dbt_omnata_push_spark.engine.store import TableStore

    store = TableStore(str(tmp_path / "s2"))
    fact = spark.range(2000).select(
        "id", (F.col("id") % 20).cast("string").alias("p")
    )
    store.create(spark, "fact2", fact, partition_by="p")
    dim = spark.range(20).select(
        F.col("id").cast("string").alias("p"),
        (F.col("id") % 4).alias("grp"),
    )
    joined = (
        store.read(spark, "fact2")
        .join(dim.filter(F.col("grp") == 1), "p")
        .groupBy("p")
        .count()
    )
    plan = _formatted_plan(joined)
    assert (
        "dynamicpruning" in plan.lower() or "DynamicPruning" in plan
    ), f"no dynamic partition pruning in plan:\n{plan}"


def _cdc_engine_with_update(spark, tmp_path):
    from dbt_omnata_push_spark.engine.dag import Engine
    from dbt_omnata_push_spark.engine.store import TableStore

    engine = Engine(spark, TableStore(str(tmp_path / "s")))
    engine.query(
        "create table c as select 1 as k, 10 as v union all select 2, 20"
    )
    engine.query("alter table c add primary key (k)")
    # r11: row manifests are gated — enable tracking so the UPDATE
    # below records one (the fallback test strips it again).
    engine.query("alter table c set change_tracking = true")
    engine.query("update c set v = v + 1 where k = 1")
    return engine


def test_cdc_changes_manifest_path_plans_no_joins(spark, tmp_path):
    """r10+ manifests: when every commit in the window wrote a change
    manifest (the UPDATE above records row events), read_changes composes
    the window from the manifests alone — no version-diff joins at all."""
    engine = _cdc_engine_with_update(spark, tmp_path)
    plan = _formatted_plan(
        engine.store.read_changes(spark, "c", 0, 1, ["k"])
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Join") == 0, (
        f"manifest-covered window should not join versions:\n{plan[:800]}"
    )


def test_cdc_changes_fallback_plan_key_hash_joins_no_cartesian(
    spark, tmp_path
):
    """With the cdc_v=* sidecars removed (e.g. a pre-r10 table), the
    two-version fallback must plan as key-hash joins — two anti-joins +
    one inner on the PK with the map-side digest — never a cartesian,
    never a full-row comparison join."""
    import glob
    import os
    import shutil

    engine = _cdc_engine_with_update(spark, tmp_path)
    for p in glob.glob(str(tmp_path / "s" / "c" / "cdc_v=*")):
        shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    plan = _formatted_plan(
        engine.store.read_changes(spark, "c", 0, 1, ["k"])
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the three joins are all keyed (hash or sort-merge family)
    assert plan.count("Join") >= 3
    for frag in ("LeftAnti", "Inner"):
        assert frag in plan, f"missing {frag} join in CDC plan:\n{plan[:800]}"


def test_asof_sql_join_plan_no_cartesian_one_keyed_window(spark, sf_dir):
    """r13: the SQL-surface ASOF JOIN must keep the operator's shape —
    a union-merge + ONE keyed (partitioned) window, never a range
    cross-join or a single-partition window."""
    df = REGISTRY["events_asof_sql_join"].fn(spark, sf_dir)
    plan = _formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re as _re

    windows = _re.findall(r"(?m)^[\s+:*-]*Window \(\d+\)\s*$", plan)
    assert len(windows) == 1, f"expected one Window op:\n{plan[:2000]}"
    # the window is keyed on the join key, not a global ordering
    assert "partitionBy" not in plan or "user_id" in plan


def test_dynamic_table_skip_commits_nothing(spark, tmp_path):
    """r13: a version-gated SKIPPED refresh is metadata-only — no new
    backing version, no Spark job over the base table."""
    from dbt_omnata_push_spark.engine.dag import Engine
    from dbt_omnata_push_spark.engine.store import TableStore

    from .conftest import job_budget

    eng = Engine(spark, TableStore(str(tmp_path / "s")))
    eng.query("create table b as select 1 as k, 2 as v")
    eng.query(
        "create dynamic table d target_lag = '1 minute' as "
        "select k, v from b"
    )
    v0 = eng.store.current_version("d")
    with job_budget(spark, 0):
        assert eng.refresh_dynamic_table("d") == "skipped"
    assert eng.store.current_version("d") == v0


def test_asof_forward_sql_join_same_shape(spark, sf_dir):
    """r14: the FORWARD-looking SQL ASOF JOIN (l.ts <= r.ts) keeps the
    identical distributed shape — union-merge + ONE keyed window
    (ordered descending), never a range cross-join — and subquery
    operands add projections, not joins."""
    df = REGISTRY["events_asof_next_error"].fn(spark, sf_dir)
    plan = _formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re as _re

    windows = _re.findall(r"(?m)^[\s+:*-]*Window \(\d+\)\s*$", plan)
    assert len(windows) == 1, f"expected one Window op:\n{plan[:2000]}"


def test_mr_sql_define_offload_stays_jvm_side(spark, tmp_path):
    """r14: a LIKE/IN DEFINE term pre-evaluates as a Spark SQL column
    in the plan BEFORE the matcher's shuffle — visible as the
    __mrsql0__ projection feeding the applyInPandas exchange — so the
    predicate runs in codegen, not in Python."""
    from dbt_omnata_push_spark.engine.dag import Engine
    from dbt_omnata_push_spark.engine.store import TableStore

    eng = Engine(spark, TableStore(str(tmp_path / "s")))
    eng.query(
        "create table mt as select 1 as g, 1 as seq, 'err: x' as msg"
    )
    df = eng.query(
        """
        select g, n from mt match_recognize (
            partition by g order by seq
            measures count(*) as n
            pattern (E+)
            define E as msg like 'err%'
        )
        """
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "__mrsql0__" in plan
    assert "LIKE" in plan.upper() or "StartsWith" in plan
