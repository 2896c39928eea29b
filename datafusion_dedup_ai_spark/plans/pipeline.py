"""The full dedup dataflow — the reference's 6-stage ``process`` loop
(engine.py:210-369) as a declarative DataFrame plan:

    prepare (N1-N5/B1/J3)  ->  candidate pairs (B2/J1, block equi-join)
    ->  match (J2/J4/C2, JW pandas_udf)  ->  cluster (C1/C3/C4, union-find
    replay, one Python call per shuffle partition)  ->  canonical + size
    (C5/C6, windows)  ->  [optional] enrichment (E1-E6, mapInPandas over
    distinct canonicals)

Stages 1-5 are deterministic and judged; enrichment is pluggable and excluded
from correctness (nondeterministic external I/O in the reference).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datafusion_dedup_ai_spark.config import DedupConfig
from datafusion_dedup_ai_spark.operators.blocking import prepare_names
from datafusion_dedup_ai_spark.operators.canonical import elect_canonical
from datafusion_dedup_ai_spark.operators.clustering import cluster_exact
from datafusion_dedup_ai_spark.operators.matching import group_pair_matches

CLUSTER_COLUMNS = [
    "row_order",
    "original_name",
    "normalized_name",
    "base_name",
    "block_key",
    "cluster_id",
    "cluster_size",
    "canonical_name",
    "confidence",
    "reason",
]


def dedup_pipeline(
    df: DataFrame,
    name_col: str,
    config: DedupConfig | None = None,
    order_col: str | None = None,
    enricher=None,
) -> DataFrame:
    """End-to-end entity resolution over ``df[name_col]``.

    Returns the `clusters` report schema (FIXTURES.md §2). Pass ``order_col``
    (a unique numeric key) to make ``row_order`` deterministic without a global
    sort — mandatory at scale.
    """
    return dedup_pipeline_cached(df, name_col, config, order_col, enricher)[0]


def dedup_pipeline_cached(
    df: DataFrame,
    name_col: str,
    config: DedupConfig | None = None,
    order_col: str | None = None,
    enricher=None,
) -> tuple[DataFrame, tuple[DataFrame, ...]]:
    """``dedup_pipeline`` plus the intermediate frames it persisted, so a
    caller can ``unpersist()`` them once its last action has run."""
    config = config or DedupConfig()
    prepared = prepare_names(df, name_col, config, order_col=order_col)
    # Three consumers read `prepared` (distinct-base matching, block members,
    # the final label join); persisting it both avoids recomputing the
    # normalize subtree three times AND acts as a plan barrier so Catalyst
    # doesn't inline the expensive base-name expression into downstream
    # filters/projections. MEMORY_AND_DISK: spills instead of recomputing at
    # cluster scale.
    prepared = prepared.persist(StorageLevel.MEMORY_AND_DISK)
    # Entity collapse: Jaro-Winkler scores DISTINCT base pairs per block;
    # cluster_exact then replays the reference's full row-pair scan —
    # including the order-dependent C3 confidence updates — from that
    # collapsed input, in one Python call per shuffle partition holding that
    # partition's member and match rows (blocks above mega_block_rows route
    # to cluster_mega_blocks instead). Exactness is pinned by the
    # golden-fixture tests and a full-vs-collapsed equivalence test.
    matches = group_pair_matches(prepared, config)
    link_identical = (1.0 >= config.soft_threshold) or (1.0 >= config.hard_threshold)
    clustered = cluster_exact(
        prepared,
        matches,
        link_identical=link_identical,
        max_block_rows=config.mega_block_rows,
        cc_backend=config.cc_backend,
    )
    # `elect_canonical` consumes its input twice (per-cluster aggregation +
    # the final member join); without a persist the cogrouped replay — the
    # most expensive stage — would execute once per consumer. Persisting
    # here pins the replay to a single execution (tests/test_plans.py asserts
    # exactly one FlatMapCoGroupsInPandas evaluation in the executed plan).
    clustered = clustered.persist(StorageLevel.MEMORY_AND_DISK)
    final = elect_canonical(clustered)
    cols = CLUSTER_COLUMNS
    if enricher is not None:
        final = enricher.enrich(final)
        cols = [*CLUSTER_COLUMNS, "website", "industry"]
    return final.select(*cols), (clustered, prepared)


def golden_mapping(clusters: DataFrame) -> DataFrame:
    """O4: original -> canonical projection (outputs.py:52)."""
    return clusters.select("original_name", "canonical_name")


def high_confidence_review(clusters: DataFrame) -> DataFrame:
    """O5: confidence >= 0.95 AND cluster_size >= 2, by row_order (outputs.py:56-57)."""
    return clusters.where(
        (F.col("confidence") >= 0.95) & (F.col("cluster_size") >= 2)
    ).orderBy("row_order")


def canonical_summary(clusters: DataFrame) -> DataFrame:
    """O2: per-cluster member counts (outputs.py:30)."""
    return clusters.groupBy("cluster_id", "canonical_name").agg(
        F.count("*").alias("count")
    )


def run_stats(clusters: DataFrame) -> DataFrame:
    """O6 single-row stats. ``multi_record_clusters`` counts ROWS in size>=2
    clusters — a reference misnomer preserved for parity (outputs.py:61-66)."""
    return clusters.agg(
        F.count("*").alias("total_rows"),
        F.countDistinct("cluster_id").alias("total_clusters"),
        F.sum(F.when(F.col("cluster_size") >= 2, 1).otherwise(0)).alias(
            "multi_record_clusters"
        ),
        F.sum(
            F.when((F.col("confidence") >= 0.95) & (F.col("cluster_size") >= 2), 1).otherwise(0)
        ).alias("high_confidence_review_rows"),
    )
