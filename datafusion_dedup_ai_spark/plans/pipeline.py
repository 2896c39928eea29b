"""The full dedup dataflow — the reference's 6-stage ``process`` loop
(engine.py:210-369) as a declarative DataFrame plan:

    prepare (N1-N5/B1/J3)  ->  resolve every block in one grouped Python
    pass (J1/J2/J4/C1-C6: distinct-base-pair Jaro-Winkler, union-find
    replay, canonical name and size; clustering.resolve_blocks)  ->
    [optional] enrichment (E1-E6, mapInPandas over distinct canonicals)

The plan is scan -> one exchange -> one Python pass: no join back and
nothing cached. ``cluster_exact`` and its layered operators stay as the
reference the equivalence tests and the traced benchmark compose, and as
the route for blocks above ``DedupConfig.mega_block_rows``.

Stages 1-5 are deterministic and judged; enrichment is pluggable and excluded
from correctness (nondeterministic external I/O in the reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datafusion_dedup_ai_spark.config import DedupConfig
from datafusion_dedup_ai_spark.operators.blocking import prepare_names
from datafusion_dedup_ai_spark.operators.clustering import (
    CLUSTER_COLUMNS,
    resolve_blocks,
)


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
    config = config or DedupConfig()
    prepared = prepare_names(df, name_col, config, order_col=order_col)
    final = resolve_blocks(prepared, config)
    cols = CLUSTER_COLUMNS
    if enricher is not None:
        final = enricher.enrich(final)
        cols = [*CLUSTER_COLUMNS, "website", "industry"]
    return final.select(*cols)


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
