"""Physical-plan quality gates: the optimizations the engine relies on at
100 TB must actually appear in the executed plans — filter pushdown to the
parquet scan, column pruning, broadcast dimension joins, window group-limit
pruning, and exactly one Python evaluation per Jaro-Winkler batch."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod


def _plan(spark, sf_dir, name: str) -> str:
    df = entry_mod.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _unwrap_aqe(node):
    """AdaptiveSparkPlanExec reports no children() — traversals that start
    at the AQE root silently see a single leaf. Descend into the input
    plan (the pre-execution physical tree, which is what the shape gates
    assert on)."""
    if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return node.inputPlan()
    return node


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must not read join keys it doesn't need
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read_schema
    assert "l_returnflag" in read_schema


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(spark, sf_dir, "region_order_stats")
    assert plan.count("BroadcastHashJoin") >= 2  # nation and region at least
    assert "BroadcastExchange" in plan


def test_window_topk_uses_group_limit(spark, sf_dir):
    plan = _plan(spark, sf_dir, "window_topk_orders")
    assert "WindowGroupLimit" in plan  # rk<=3 pruned inside the window sort


def test_matched_pairs_single_python_eval(spark, sf_dir):
    plan = _plan(spark, sf_dir, "matched_pairs")
    assert plan.count("ArrowEvalPython") == 1


def test_semi_anti_join_operators(spark, sf_dir):
    anti = _plan(spark, sf_dir, "customers_without_orders")
    assert "LeftAnti" in anti
    semi = _plan(spark, sf_dir, "customer_nations_with_orders")
    assert "LeftSemi" in semi


def test_exact_dedup_partial_aggregation(spark, sf_dir):
    plan = _plan(spark, sf_dir, "exact_dedup_documents")
    # map-side partial agg before the exchange (HashAggregate twice)
    assert plan.count("HashAggregate") >= 2


def test_band_join_is_not_nested_loop(spark, sf_dir):
    """The banded range join must plan as an equi-join on the band key —
    a NestedLoopJoin here means the band rewrite silently regressed."""
    plan = _plan(spark, sf_dir, "acctbal_close_suppliers")
    assert "NestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("HashJoin" in plan)


def test_embedding_dedup_clusters_no_cartesian(spark, sf_dir):
    """The semantic-dedup composite must generate edges via the LSH bucket
    equi-join, never a cartesian pass — a CartesianProduct or
    BroadcastNestedLoopJoin here means the quadratic reference generator
    leaked back into the scale path."""
    plan = _plan(spark, sf_dir, "embedding_dedup_clusters")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # Absence alone isn't enough: a refactor could degenerate into an
    # effectively-quadratic hash join on a constant key and still pass the
    # two asserts above. Require the positive shape too — on the composite's
    # OWN edge generator (the label-propagation step materializes its inputs,
    # so the LSH stages don't surface in the composite's final plan).
    from datafusion_dedup_ai_spark.queries_similarity import composite_near_pairs
    from datafusion_dedup_ai_spark.sources.readers import load_table

    pairs = composite_near_pairs(load_table(spark, sf_dir, "embeddings"))
    pairs_plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in pairs_plan
    assert "BroadcastNestedLoopJoin" not in pairs_plan
    assert "ArrowEvalPython" in pairs_plan, "lsh_bucketize stage missing"
    assert any(
        j in pairs_plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    ), "bucket equi-join missing from edge-generator plan"
    # Round-11 verify-join strategy: the (id -> vector, self-dot) map fits
    # the broadcast budget at every fixture/probe corpus on this testdata,
    # so BOTH verify joins must be broadcast-hash — candidates never carry
    # a vector payload through an exchange (the 100x probe measured the
    # shuffle form as a 1.59x per-candidate cost growth / ENOSPC at dim
    # 256; see lsh_near_pairs docstring).
    assert pairs_plan.count("BroadcastHashJoin") >= 2, (
        "verify joins are not broadcast — candidate rows would shuffle "
        "full vector payloads"
    )


def test_dedup_clusters_single_block_pass(spark, sf_dir):
    """The dedup pipeline resolves every block in one grouped Python pass
    (clustering.resolve_blocks): scan -> one exchange -> one
    FlatMapGroupsInPandas. Regression gate: exactly one grouped pass, and no
    cogroup, no Jaro-Winkler UDF node and no cached relation — any of them
    means the layered operators or a persist leaked back into the
    pipeline."""
    df = entry_mod.queries()["dedup_clusters"](spark, sf_dir)
    root = _unwrap_aqe(df._jdf.queryExecution().executedPlan())
    names: list[str] = []

    def walk(node) -> None:
        names.append(node.getClass().getSimpleName())
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(root)
    assert names.count("FlatMapGroupsInPandasExec") == 1
    for banned in ("FlatMapCoGroupsInPandas", "ArrowEvalPython", "InMemoryTableScan"):
        assert not [n for n in names if n.startswith(banned)], banned


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Runtime bloom-filter join pruning — the 100 TB pattern where a
    selective dimension filter is pushed into the FACT side as a bloom
    probe before the shuffle, cutting shuffle volume by the filter's
    selectivity. Local testdata sits under the 10 GB application-side
    gate, so the thresholds are lowered to let the optimizer inject the
    filter; at cluster scale the defaults fire on their own."""
    from pyspark.sql import functions as F

    from datafusion_dedup_ai_spark.sources.readers import load_table

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        # bloom injection targets shuffle joins; keep broadcast out of the way
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        orders = load_table(spark, sf_dir, "orders").where(
            F.col("o_totalprice") > 500000
        )
        lineitem = load_table(spark, sf_dir, "lineitem")
        joined = lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey
        ).groupBy("o_orderstatus").agg(F.sum("l_quantity").alias("qty"))
        opt = joined._jdf.queryExecution().optimizedPlan().toString()
        # creation side: bloom built over the filtered dimension keys;
        # application side: might_contain probe above the fact scan
        assert "bloom_filter_agg" in opt, opt[:2000]
        assert "might_contain" in opt, opt[:2000]
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bloom_prefilter_broadcasts_bitset(spark, sf_dir):
    """The packed Bloom bitset must arrive at the probe as broadcast state
    (that is the operator's entire scale claim: 24 KiB regardless of corpus
    size), and no step may degenerate into a cartesian pass."""
    plan = _plan(spark, sf_dir, "bloom_incremental_new_docs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "bit_or" in plan  # the packed-word aggregation survived planning


def test_vocab_oov_broadcasts_vocabulary(spark, sf_dir):
    """The frequency-thresholded vocabulary is language-bounded, so the
    membership join must be a broadcast, not a shuffle of the token
    explode."""
    plan = _plan(spark, sf_dir, "vocab_oov_rate")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_chunk_dedup_no_cartesian_and_single_text_scan_shape(spark, sf_dir):
    """Chunk dedup is explode -> one keep-first window -> one per-doc
    aggregation; any nested-loop join here means a regression."""
    plan = _plan(spark, sf_dir, "chunk_dedup_stats")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_bm25_broadcasts_query_workload(spark, sf_dir):
    """The retrieval workload must join in as a broadcast on BOTH uses
    (the semi-join vocabulary restriction and the scoring join) — a
    shuffled query join would put the fixed 24-row workload on the
    corpus shuffle path. No cartesian products anywhere."""
    plan = _plan(spark, sf_dir, "bm25_retrieval_topk")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_bm25_single_corpus_tokenization(spark, sf_dir):
    """Round-5 verdict #1: the corpus explode+scan subtree executed twice
    (tf and dl were independent aggregations over the raw token stream).
    dl is now derived from the persisted tf, so NO Generate (explode) may
    be reachable in the executed plan without crossing an
    InMemoryTableScan boundary — the tokenize pass runs only while
    populating the cache, exactly once."""
    df = entry_mod.queries()["bm25_retrieval_topk"](spark, sf_dir)
    root = df._jdf.queryExecution().executedPlan()

    def count_uncached_generates(node) -> int:
        name = node.getClass().getSimpleName()
        if name.startswith("InMemoryTableScan"):
            return 0
        n = 1 if name.startswith("Generate") else 0
        children = node.children()
        for i in range(children.size()):
            n += count_uncached_generates(children.apply(i))
        return n

    assert count_uncached_generates(root) == 0
    # and the explode must still exist somewhere (inside the cached relation)
    assert "Generate" in root.toString()


def test_fuzzy_contamination_broadcasts_benchmark_bands(spark, sf_dir):
    """The benchmark side of the cross-set LSH probe is eval-suite-sized;
    it must broadcast so the corpus side stays a map-side probe."""
    plan = _plan(spark, sf_dir, "fuzzy_benchmark_contamination")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_partitioned_global_rank_queries_avoid_group_windows(spark, sf_dir):
    """length_bucket_batches and cluster_balanced_sample rank inside a
    handful of giant groups; the plan must show window partitioning by
    (group, md5-prefix bucket) — i.e. every window sort key list includes
    the _bucket column — and never a window partitioned by the bare group
    column alone (the 16-tasks-for-a-billion-rows collapse)."""
    import re

    for name in ("length_bucket_batches", "cluster_balanced_sample"):
        plan = _plan(spark, sf_dir, name)
        windows = [
            l for l in plan.splitlines() if re.search(r"\bWindow\b", l)
        ]
        assert windows, name
        # the data-sized window is the row_number rank; the offset window
        # (sum over the kilobyte metadata table) may partition by the bare
        # group column — that one is fine.
        rank_windows = [w for w in windows if "row_number()" in w]
        assert rank_windows, name
        for w in rank_windows:
            assert "_bucket" in w, (name, w)


def test_incremental_cluster_update_plan_shape(spark, sf_dir):
    """Round-6 regression gates for the cluster-maintenance capstone:

    - the size router sends both component runs down the single-task
      union-find path (FlatMapGroupsInPandas present);
    - the corpus-side components subtree hides behind the sup_map persist,
      so at most ONE union-find node is reachable without crossing an
      InMemoryTableScan (the contracted delta run — everything upstream of
      the cache executes once);
    - sizes + representative come from a SINGLE Window node (the former
      groupBy + join-back consumed the assembly subtree twice)."""
    df = entry_mod.queries()["incremental_cluster_update"](spark, sf_dir)
    root = _unwrap_aqe(df._jdf.queryExecution().executedPlan())

    def count_uncached(node, needle) -> int:
        name = node.getClass().getSimpleName()
        if name.startswith("InMemoryTableScan"):
            return 0
        n = 1 if needle in name else 0
        children = node.children()
        for i in range(children.size()):
            n += count_uncached(children.apply(i), needle)
        return n

    text = root.toString()
    assert "FlatMapGroupsInPandas" in text, "routed union-find missing"
    assert count_uncached(root, "FlatMapGroupsInPandas") <= 1
    assert count_uncached(root, "Window") == 1, "sizes must be one window"
