"""Candidate generation for every bucketed similarity tier: MinHash bands,
hyperplane-LSH tables, SimHash chunks and IVF cells all reduce to "rows that
share a bucket key are candidates".

``bucket_pairs`` is that one equi-join. Each site builds its own
``(id, key...)`` incidence frame (``dedup.band_buckets``,
``similarity_search.lsh_bucketize``, ...) and hands it here; the site then
verifies the candidates with its exact measure (every embedding tier with
``similarity_search.verify_cosine``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def bucket_pairs(
    left: DataFrame,
    keys: list[str],
    id_col: str,
    right: DataFrame | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(id_a, id_b): the distinct pairs of rows that agree on every column
    in ``keys``.

    * Self mode (``right`` is None): ``left`` joins itself and only
      ``id_a < id_b`` is kept.
    * Cross mode: ``id_a`` comes from ``left``, ``id_b`` from ``right``, with
      no id predicate (the two sides are separate id spaces). Hints on
      ``right`` such as ``F.broadcast`` carry through to the join.
    * ``max_bucket_size`` drops the key groups of ``left`` holding more rows
      than the cap before the join. It is a recall knob: a pair only needs
      one surviving shared key. The count is a window over ``keys``, so its
      shuffle is the one the join needs anyway.

    A pair sharing several keys (several bands or tables) is emitted once
    per shared key by the join; ``.distinct()`` is the one dedup rule.
    """
    if max_bucket_size is not None:
        left = (
            left.withColumn("_n", F.count("*").over(Window.partitionBy(*keys)))
            .where(F.col("_n") <= max_bucket_size)
            .drop("_n")
        )
    a = left.select(F.col(id_col).alias("id_a"), *keys)
    b = (left if right is None else right).select(
        F.col(id_col).alias("id_b"), *keys
    )
    pairs = a.join(b, keys)
    if right is None:
        pairs = pairs.where(F.col("id_a") < F.col("id_b"))
    return pairs.select("id_a", "id_b").distinct()
