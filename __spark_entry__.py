"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

The catalog itself lives in ``datafusion_dedup_ai_spark.entry_queries``; this
module stays a thin adapter.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from datafusion_dedup_ai_spark import entry_queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the full fuzzy-dedup pipeline
    (normalize -> block -> Jaro-Winkler match -> union-find cluster ->
    canonical election) over deterministic company names."""
    from datafusion_dedup_ai_spark import materialize

    # entry() is the driver's first call; snapshotting here guarantees the
    # O-pack oracle paths (materialize.py) exist regardless of the order the
    # driver later runs query/oracle pairs in.
    materialize.CLUSTERS.materialize(spark, materialize.oracle_sf_dir())
    return entry_queries.q_dedup_clusters(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return entry_queries.queries()


def oracle_sql() -> dict[str, str]:
    return entry_queries.oracle_sql()
