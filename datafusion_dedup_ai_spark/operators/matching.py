"""J2/J4/C2 — pair scoring: Jaro-Winkler + token-sorted match + the link
predicate and confidence tiers.

Reference: engine.py:257-260 (predicate), engine.py:371-375 (tiers).
The Spark forms keep everything except the JW itself a JVM Column
expression; ``block_base_matches`` is the same scoring in plain Python for
the fused block pass (clustering.resolve_blocks).
"""

from __future__ import annotations

from collections import defaultdict

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datafusion_dedup_ai_spark.config import (
    CONF_DEFAULT,
    CONF_HARD,
    CONF_SOFT,
    CONF_TOKEN_AND_HARD,
    REASON_DEFAULT,
    REASON_HARD,
    REASON_SOFT,
    REASON_TOKEN_AND_HARD,
    DedupConfig,
)
from datafusion_dedup_ai_spark.functions.similarity import (
    jaro_winkler,
    jaro_winkler_udf,
)


# C2 tier bounds, fixed in the reference whatever the configured thresholds
# (engine.py:371-375)
_TIER_HARD = 0.90
_TIER_SOFT = 0.85


def score_confidence(ratio: Column, is_token_match: Column) -> tuple[Column, Column]:
    """C2: fixed tiers, independent of configured thresholds (engine.py:371-375)."""
    conf = (
        F.when(is_token_match & (ratio >= _TIER_HARD), F.lit(CONF_TOKEN_AND_HARD))
        .when(ratio >= _TIER_HARD, F.lit(CONF_HARD))
        .when(ratio >= _TIER_SOFT, F.lit(CONF_SOFT))
        .otherwise(F.lit(CONF_DEFAULT))
    )
    reason = (
        F.when(is_token_match & (ratio >= _TIER_HARD), F.lit(REASON_TOKEN_AND_HARD))
        .when(ratio >= _TIER_HARD, F.lit(REASON_HARD))
        .when(ratio >= _TIER_SOFT, F.lit(REASON_SOFT))
        .otherwise(F.lit(REASON_DEFAULT))
    )
    return conf, reason


def confidence_tier(ratio: float, is_token_match: bool) -> tuple[float, str]:
    """``score_confidence`` for one scored pair, in plain Python."""
    if is_token_match and ratio >= _TIER_HARD:
        return CONF_TOKEN_AND_HARD, REASON_TOKEN_AND_HARD
    if ratio >= _TIER_HARD:
        return CONF_HARD, REASON_HARD
    if ratio >= _TIER_SOFT:
        return CONF_SOFT, REASON_SOFT
    return CONF_DEFAULT, REASON_DEFAULT


def match_pairs(pairs: DataFrame, config: DedupConfig | None = None) -> DataFrame:
    """J2+J4: score candidate pairs and keep links.

    Link iff ``(token_match AND jw >= soft) OR (jw >= hard)`` (engine.py:260).
    The token-match leg compares precomputed J3 keys (a join-key-able equality,
    not a per-pair recompute). Output keeps the edge list lean: it is the input
    to connected components, where shuffle volume matters.
    """
    config = config or DedupConfig()
    # Spread pairs before the Python UDF: a single hot block otherwise lands
    # every pair in one hash partition and serializes the JW scoring. The
    # explicit partition count matters — a bare column-repartition of a
    # few-MB shuffle gets coalesced back to ~1 partition by AQE.
    n_parts = pairs.sparkSession.sparkContext.defaultParallelism
    scored = pairs.repartition(n_parts, "row_order_a", "row_order_b").withColumn(
        "jw", jaro_winkler_udf(F.col("base_a"), F.col("base_b"))
    ).withColumn("is_token_match", F.col("token_a") == F.col("token_b"))
    linked = scored.where(
        (F.col("is_token_match") & (F.col("jw") >= F.lit(config.soft_threshold)))
        | (F.col("jw") >= F.lit(config.hard_threshold))
    )
    conf, reason = score_confidence(F.col("jw"), F.col("is_token_match"))
    return linked.select(
        "block_key",
        "row_order_a",
        "row_order_b",
        "jw",
        "is_token_match",
        conf.alias("pair_confidence"),
        reason.alias("pair_reason"),
    )


def group_pair_matches(
    prepared: DataFrame, config: DedupConfig | None = None
) -> DataFrame:
    """Distinct-base-pair match table per block: (block_key, base_a, base_b,
    pair_confidence, pair_reason) for base_a < base_b passing the J4 predicate.

    This is the entity-collapsed input to the layered cluster replay
    (clustering.cluster_exact) and to the mega-block route: Jaro-Winkler runs
    once per DISTINCT base pair per block instead of once per row pair, so
    exact duplicates — the bulk of a 100 TB corpus — never reach the
    quadratic stage. Identical-base matches are implicit (jw = 1.0) and
    handled by the replay itself. ``block_base_matches`` is the same table
    computed inside the fused block pass (clustering.resolve_blocks).
    """
    config = config or DedupConfig()
    g = (
        prepared.where(F.col("base_name") != "")
        .select("block_key", "base_name", "token_key")
        .distinct()
    )
    a = g.alias("a")
    b = g.alias("b")
    pairs = a.join(b, on="block_key").where(F.col("a.base_name") < F.col("b.base_name"))
    # spread before the Python UDF (explicit count — AQE would coalesce a
    # bare column-repartition of a small shuffle back to one partition)
    n_parts = pairs.sparkSession.sparkContext.defaultParallelism
    pairs = pairs.repartition(n_parts, "block_key", "a.base_name", "b.base_name")
    scored = pairs.withColumn(
        "jw", jaro_winkler_udf(F.col("a.base_name"), F.col("b.base_name"))
    ).withColumn("is_token_match", F.col("a.token_key") == F.col("b.token_key"))
    linked = scored.where(
        (F.col("is_token_match") & (F.col("jw") >= F.lit(config.soft_threshold)))
        | (F.col("jw") >= F.lit(config.hard_threshold))
    )
    conf, reason = score_confidence(F.col("jw"), F.col("is_token_match"))
    return linked.select(
        "block_key",
        F.col("a.base_name").alias("base_a"),
        F.col("b.base_name").alias("base_b"),
        conf.alias("pair_confidence"),
        reason.alias("pair_reason"),
    )


def block_base_matches(based: pd.DataFrame, config: DedupConfig) -> pd.DataFrame:
    """``group_pair_matches`` over the rows of one or more blocks held in
    pandas (block_key, base_name, token_key; non-empty bases only), as
    (match_block_key, base_a, base_b, pair_confidence, pair_reason).

    Same pairs, scores and tiers as the Spark form: distinct (base_name,
    token_key) per block, pairs with base_a < base_b in code-point order
    (Spark's UTF-8 binary order), and ``jaro_winkler(base_a, base_b)`` with
    the smaller base first, the argument order of the self-join, so the
    equality does not rest on the greedy Jaro scan being symmetric."""
    per_block: dict[str, set[tuple[str, str]]] = defaultdict(set)
    for bk, base, tok in zip(based["block_key"], based["base_name"], based["token_key"]):
        per_block[bk].add((base, tok))
    rows = []
    for bk, entries in per_block.items():
        entries = sorted(entries)
        for i, (base_a, tok_a) in enumerate(entries):
            for base_b, tok_b in entries[i + 1:]:
                if base_a == base_b:
                    continue
                jw = jaro_winkler(base_a, base_b)
                is_token_match = tok_a == tok_b
                if (is_token_match and jw >= config.soft_threshold) or (
                    jw >= config.hard_threshold
                ):
                    rows.append((bk, base_a, base_b, *confidence_tier(jw, is_token_match)))
    return pd.DataFrame(
        rows,
        columns=["match_block_key", "base_a", "base_b", "pair_confidence", "pair_reason"],
    )
