"""Fuzzy-dedup operator queries (SURVEY.md §2-A: N*, B*, J*, C* ops) with
their DuckDB oracle mirrors."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_dedup_ai_spark import oracles as O
from datafusion_dedup_ai_spark.config import DedupConfig
from datafusion_dedup_ai_spark.functions.normalize import (
    base_name,
    block_key,
    normalize_name,
    token_sort_key,
)
from datafusion_dedup_ai_spark.operators.blocking import candidate_pairs, prepare_names
from datafusion_dedup_ai_spark.operators.matching import match_pairs
from datafusion_dedup_ai_spark import materialize as MZ
from datafusion_dedup_ai_spark.plans.pipeline import (
    canonical_summary,
    dedup_pipeline,
    golden_mapping,
    high_confidence_review,
    run_stats,
)
from datafusion_dedup_ai_spark.sources.readers import load_spread, load_table

from datafusion_dedup_ai_spark.registry import register


# ===========================================================================
# Synthetic company names (shared Spark/SQL construction)
#
# The star-schema name columns carry no legal suffixes, so the N2/N3/N4
# fixpoint logic would never fire on them. Both sides derive the same
# suffix-bearing names deterministically from `part` (country before suffix,
# matching real-world "X India Pvt Ltd" shapes; a few rows overridden with
# acronym-map hits).
# ===========================================================================


def _synthetic_company_col() -> F.Column:
    p = F.col("p_partkey")
    ctry = (
        F.when(p % 3 == 0, " India").when(p % 3 == 1, " Saudi Arabia").otherwise("")
    )
    sfx = (
        F.when(p % 4 == 0, " Pvt Ltd")
        .when(p % 4 == 1, " Inc")
        .when(p % 4 == 2, " Co Ltd")
        .otherwise("")
    )
    name = F.concat(F.col("p_name"), ctry, sfx)
    return (
        F.when(p % 53 == 0, "TCS")
        .when(p % 57 == 0, "IBM India Pvt Ltd")
        .otherwise(name)
    )


_SYNTH_COMPANY_SQL = """
    CASE WHEN p_partkey % 53 = 0 THEN 'TCS'
         WHEN p_partkey % 57 = 0 THEN 'IBM India Pvt Ltd'
         ELSE concat(p_name,
                     CASE WHEN p_partkey % 3 = 0 THEN ' India'
                          WHEN p_partkey % 3 = 1 THEN ' Saudi Arabia'
                          ELSE '' END,
                     CASE WHEN p_partkey % 4 = 0 THEN ' Pvt Ltd'
                          WHEN p_partkey % 4 = 1 THEN ' Inc'
                          WHEN p_partkey % 4 = 2 THEN ' Co Ltd'
                          ELSE '' END)
    END
"""


# ===========================================================================
# N1 — normalize (customer names, plain)
# ===========================================================================


@register(
    "normalize_names",
    f"""
    SELECT c_custkey,
           {O.sql_normalize('c_name')} AS normalized_name
    FROM customer
    """,
)
def q_normalize_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1 (reference engine.py:43-51) as a pure projection over the scan."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey", normalize_name(F.col("c_name")).alias("normalized_name")
    )


# ===========================================================================
# N2-N5 + B1 + J3 — full base-name chain on suffix-bearing synthetic names
# ===========================================================================


@register(
    "company_base_names",
    f"""
    WITH named AS (
        SELECT p_partkey, {_SYNTH_COMPANY_SQL} AS raw_name FROM part
    ), based AS (
        SELECT p_partkey, raw_name,
               {O.sql_normalize('raw_name')} AS normalized_name,
               {O.sql_base_name('raw_name')} AS base_name
        FROM named
    )
    SELECT p_partkey, raw_name, normalized_name, base_name,
           {O.sql_block_key('base_name')} AS block_key,
           {O.sql_token_sort_key('base_name')} AS token_key
    FROM based
    """,
)
def q_company_base_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2 strip fixpoint + N3 fold + N4 alias map + B1 + J3 (engine.py:53-70,
    185-208) over deterministic suffix-bearing names."""
    part = load_spread(spark, sf_dir, "part")
    named = part.select("p_partkey", _synthetic_company_col().alias("raw_name"))
    based = named.select(
        "p_partkey",
        "raw_name",
        normalize_name(F.col("raw_name")).alias("normalized_name"),
        base_name(F.col("raw_name")).alias("base_name"),
    )
    return based.select(
        "p_partkey",
        "raw_name",
        "normalized_name",
        "base_name",
        block_key(F.col("base_name")).alias("block_key"),
        token_sort_key(F.col("base_name")).alias("token_key"),
    )


# ===========================================================================
# B2 + J1 — block grouping & candidate pair generation (supplier)
# ===========================================================================

_SUPPLIER_PREP_SQL = f"""
    norm AS (
        SELECT s_suppkey AS row_order, {O.sql_base_name('s_name')} AS base_name
        FROM supplier
    ), prep AS (
        SELECT row_order, base_name,
               {O.sql_block_key('base_name')} AS block_key,
               {O.sql_token_sort_key('base_name')} AS token_key
        FROM norm
        WHERE base_name <> ''
    )
"""


@register(
    "candidate_pairs",
    f"""
    WITH {_SUPPLIER_PREP_SQL}
    SELECT a.block_key AS block_key,
           a.row_order AS row_order_a, b.row_order AS row_order_b,
           a.base_name AS base_a, b.base_name AS base_b,
           a.token_key AS token_a, b.token_key AS token_b
    FROM prep a JOIN prep b USING (block_key)
    WHERE a.row_order < b.row_order
    """,
)
def q_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: within-block half-matrix self-join (engine.py:251-255). The block
    key is the shuffle key; empty bases filtered before the join."""
    supp = load_table(spark, sf_dir, "supplier")
    prepared = prepare_names(supp, "s_name", DedupConfig(), order_col="s_suppkey")
    return candidate_pairs(prepared)


# ===========================================================================
# J2 + J4 + C2 — scored, linked pairs (supplier)
# ===========================================================================


@register(
    "matched_pairs",
    f"""
    WITH {_SUPPLIER_PREP_SQL}, pairs AS (
        SELECT a.block_key AS block_key,
               a.row_order AS row_order_a, b.row_order AS row_order_b,
               jaro_winkler_similarity(a.base_name, b.base_name) AS jw,
               (a.token_key = b.token_key) AS is_token_match
        FROM prep a JOIN prep b USING (block_key)
        WHERE a.row_order < b.row_order
    )
    SELECT block_key, row_order_a, row_order_b, jw, is_token_match,
           {O.sql_confidence('jw', 'is_token_match')} AS pair_confidence,
           {O.sql_reason('jw', 'is_token_match')} AS pair_reason
    FROM pairs
    WHERE (is_token_match AND jw >= 0.85) OR jw >= 0.90
    """,
)
def q_matched_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 Jaro-Winkler (pandas_udf, bitwise-equal to the DuckDB builtin) +
    J4 link predicate + C2 confidence tiers (engine.py:257-260, 371-375)."""
    supp = load_table(spark, sf_dir, "supplier")
    prepared = prepare_names(supp, "s_name", DedupConfig(), order_col="s_suppkey")
    return match_pairs(candidate_pairs(prepared), DedupConfig())


LEV_SIM_THRESHOLD = 0.8


@register(
    "levenshtein_matched_pairs",
    f"""
    WITH {_SUPPLIER_PREP_SQL}
    SELECT a.block_key AS block_key,
           a.row_order AS row_order_a, b.row_order AS row_order_b,
           CAST(levenshtein(a.base_name, b.base_name) AS BIGINT)
               AS edit_distance,
           1.0 - CAST(levenshtein(a.base_name, b.base_name) AS DOUBLE)
                 / greatest(length(a.base_name), length(b.base_name), 1)
               AS lev_sim
    FROM prep a JOIN prep b USING (block_key)
    WHERE a.row_order < b.row_order
      AND 1.0 - CAST(levenshtein(a.base_name, b.base_name) AS DOUBLE)
                / greatest(length(a.base_name), length(b.base_name), 1)
          >= {LEV_SIM_THRESHOLD}
    """,
)
def q_levenshtein_matched_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alternative distance matcher to J2: length-normalized Levenshtein
    similarity (1 - edits/max_len) over the same blocked candidate pairs.
    Unlike Jaro-Winkler this one is a JVM builtin on BOTH engines, so the
    whole matcher stays inside whole-stage codegen — no Python round-trip —
    and it is the edit-distance option the reference's threshold knobs
    (engine.py:257-260) would pair with for typo-heavy inputs."""
    supp = load_table(spark, sf_dir, "supplier")
    prepared = prepare_names(supp, "s_name", DedupConfig(), order_col="s_suppkey")
    pairs = candidate_pairs(prepared)
    lev = F.levenshtein(F.col("base_a"), F.col("base_b"))
    denom = F.greatest(F.length("base_a"), F.length("base_b"), F.lit(1))
    sim = F.lit(1.0) - lev.cast("double") / denom
    return (
        pairs.select(
            "block_key",
            "row_order_a",
            "row_order_b",
            lev.cast("bigint").alias("edit_distance"),
            sim.alias("lev_sim"),
        )
        .where(F.col("lev_sim") >= LEV_SIM_THRESHOLD)
    )


# ===========================================================================
# Flagship — full dedup pipeline (used by entry(); rows-only check at t2:
# cluster formation is not ANSI-SQL-expressible, SURVEY.md §2 C1/C3)
# ===========================================================================


@register("dedup_clusters", None)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1/C3/C4/C5/C6 end-to-end over synthetic company names derived from
    part (same construction as company_base_names, so fuzzy variants of the
    same part name cluster together)."""
    part = load_spread(spark, sf_dir, "part")
    named = part.select(
        F.col("p_partkey").alias("company_id"),
        _synthetic_company_col().alias("company_name"),
    )
    return dedup_pipeline(
        named, "company_name", DedupConfig(), order_col="company_id"
    )


# Deterministic typo injection for the phonetic tier: partkey%3==1 rows
# carry the vowel-dropped leading token (GOLDENROD -> GLDNRD), %3==2 rows
# the first-letter-doubled one (GGOLDENROD). Both typo classes PRESERVE the
# soundex code (vowels only reset code separation; doubled letters
# collapse) while breaking the prefix block key — the exact inputs phonetic
# blocking exists to catch. The part vocabulary itself is phonetically
# clean (zero natural soundex collisions at sf0.01), so without injection
# the query would be vacuously empty.
_PHONETIC_TOK_SQL = "regexp_extract(upper(p_name), '^[A-Z]+', 0)"
_PHONETIC_NAME_SQL = f"""
    CASE WHEN {_PHONETIC_TOK_SQL} = '' THEN ''
         WHEN p_partkey % 3 = 1 THEN
             substr({_PHONETIC_TOK_SQL}, 1, 1) ||
             regexp_replace(substr({_PHONETIC_TOK_SQL}, 2), '[AEIOU]', '', 'g')
         WHEN p_partkey % 3 = 2 THEN
             substr({_PHONETIC_TOK_SQL}, 1, 1) || {_PHONETIC_TOK_SQL}
         ELSE {_PHONETIC_TOK_SQL} END
"""


def _phonetic_name_col() -> F.Column:
    tok = F.regexp_extract(F.upper(F.col("p_name")), "^[A-Z]+", 0)
    dropped = F.concat(
        F.substring(tok, 1, 1),
        F.regexp_replace(tok.substr(F.lit(2), F.length(tok)), "[AEIOU]", ""),
    )
    doubled = F.concat(F.substring(tok, 1, 1), tok)
    p = F.col("p_partkey")
    return (
        F.when(tok == "", F.lit(""))
        .when(p % 3 == 1, dropped)
        .when(p % 3 == 2, doubled)
        .otherwise(tok)
    )


@register(
    "phonetic_blocked_pairs",
    f"""
    WITH named AS (
        SELECT {_PHONETIC_NAME_SQL} AS tok FROM part
    ), freq AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM named WHERE tok <> '' GROUP BY tok
    ), keyed AS (
        SELECT tok, cnt, {O.sql_soundex('tok')} AS phonetic_key FROM freq
    )
    SELECT a.phonetic_key AS phonetic_key,
           a.tok AS name_a, b.tok AS name_b,
           jaro_winkler_similarity(a.tok, b.tok) AS jw,
           CAST(a.cnt * b.cnt AS BIGINT) AS pair_rows
    FROM keyed a JOIN keyed b
      ON a.phonetic_key = b.phonetic_key AND a.tok < b.tok
    """,
)
def q_phonetic_blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHONETIC blocking tier — the alternative B1 for typo-heavy name
    corpora: candidates are generated where tokens SOUND alike (Spark's
    builtin ``soundex``, US English), catching the vowel-dropped and
    letter-doubled misspellings above that the prefix-based block key
    structurally cannot (its components are the literal first character,
    length bucket, and first token). Entity-collapsed like
    group_pair_matches: the self-join runs on the DISTINCT token
    vocabulary (Heaps-bounded at any corpus size), each pair carrying
    ``pair_rows`` = the row-pair count it represents, so the quadratic
    stays in vocabulary space, never row space — the same collapse that
    keeps the 100 TB J1 feasible.

    Hash-gated end-to-end: the oracle re-implements Spark's soundex as a
    DuckDB list_reduce fold (oracles.sql_soundex — mapping, H/W silence,
    vowel reset, 4-char truncation; classic-vector + cross-engine parity
    in tests/test_normalize.py) and DuckDB's jaro_winkler_similarity
    mirrors the pandas_udf bitwise (matched_pairs pins that)."""
    part = load_spread(spark, sf_dir, "part")
    named = part.select(_phonetic_name_col().alias("tok"))
    freq = (
        named.where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    return phonetic_pairs_from_freq(freq)


def phonetic_pairs_from_freq(
    freq: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """Soundex-blocked candidate pairs over a (tok, cnt) vocabulary frame.

    The self-join is quadratic WITHIN a phonetic code by definition (the
    operator's output is every within-code pair), and soundex has only
    ~9k effective codes — so when the distinct-token vocabulary grows
    (Heaps' law on a growing corpus), per-code vocabulary grows linearly
    and pair volume quadratically. That is an OUTPUT property, not a plan
    defect, but it needs a fuse at scale: ``max_bucket_size`` (off by
    default, same contract as lsh_near_pairs') drops codes whose DISTINCT
    vocabulary exceeds the cap before the join. A code with hundreds of
    distinct tokens is a degenerate block — its pairs are overwhelmingly
    non-matches that downstream JW scoring would reject anyway — so the
    cap trades bounded recall loss on junk-heavy codes for a hard
    quadratic-in-cap cost bound (measured: scale_probe
    phonetic_vocab_pairs@guarded vs @unguarded at a 10x vocabulary).
    The count window shuffles on the same phonetic_key the self-join
    needs, so the exchange is reused, not added."""
    from pyspark.sql import Window

    from datafusion_dedup_ai_spark.functions.similarity import jaro_winkler_udf

    keyed = freq.withColumn("phonetic_key", F.soundex(F.col("tok")))
    if max_bucket_size is not None:
        w = Window.partitionBy("phonetic_key")
        keyed = (
            keyed.withColumn("_n", F.count("*").over(w))
            .where(F.col("_n") <= max_bucket_size)
            .drop("_n")
        )
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.phonetic_key") == F.col("b.phonetic_key"))
            & (F.col("a.tok") < F.col("b.tok")),
        )
        .select(
            F.col("a.phonetic_key").alias("phonetic_key"),
            F.col("a.tok").alias("name_a"),
            F.col("b.tok").alias("name_b"),
            jaro_winkler_udf(F.col("a.tok"), F.col("b.tok")).alias("jw"),
            (F.col("a.cnt") * F.col("b.cnt")).cast("bigint").alias("pair_rows"),
        )
    )


def _dedup_cluster_partition_oracle() -> str:
    """Independent DuckDB replay of the flagship's CLUSTER PARTITION — unlike
    the O-pack oracles (which read the materialized snapshot, verifying only
    the reporting layer), this recomputes the partition from the raw part
    table: N1-N5 base names -> B1 blocking -> J2/J4 Jaro-Winkler link
    predicate (DuckDB's jaro_winkler_similarity is bitwise-equal to the
    pandas_udf; matched_pairs pins that) -> connected components as a
    recursive transitive closure (oracles.sql_connected_components) ->
    C5 canonical election (freq DESC, length ASC, name ASC; all-empty
    fallback = first member's normalized_name) -> C6 sizes. Identical-base
    links are implicit in the self-join (jw = 1.0 clears the hard
    threshold), matching the block pass's link_identical replay
    (clustering.resolve_blocks)."""
    from datafusion_dedup_ai_spark.oracles import sql_connected_components

    cc = sql_connected_components(
        "pairs", "SELECT row_order FROM based", "row_order"
    )
    return f"""
    WITH RECURSIVE named AS (
        SELECT p_partkey AS row_order, {_SYNTH_COMPANY_SQL} AS raw_name
        FROM part
    ), based AS (
        SELECT row_order,
               {O.sql_normalize('raw_name')} AS normalized_name,
               {O.sql_base_name('raw_name')} AS base_name
        FROM named
    ), prep AS (
        SELECT row_order, base_name,
               {O.sql_block_key('base_name')} AS block_key,
               {O.sql_token_sort_key('base_name')} AS token_key
        FROM based WHERE base_name <> ''
    ), scored AS (
        SELECT a.row_order AS id_a, b.row_order AS id_b,
               jaro_winkler_similarity(a.base_name, b.base_name) AS jw,
               (a.token_key = b.token_key) AS tk
        FROM prep a JOIN prep b USING (block_key)
        WHERE a.row_order < b.row_order
    ), pairs AS (
        SELECT id_a, id_b FROM scored
        WHERE (tk AND jw >= 0.85) OR jw >= 0.90
    ),
    {cc},
    votes AS (
        SELECT f.cluster_id, b.base_name, COUNT(*) AS cnt
        FROM fullset f JOIN based b USING (row_order)
        WHERE b.base_name <> ''
        GROUP BY f.cluster_id, b.base_name
    ), elected AS (
        SELECT cluster_id, base_name AS elected_name
        FROM (
            SELECT cluster_id, base_name, ROW_NUMBER() OVER (
                PARTITION BY cluster_id
                ORDER BY cnt DESC, length(base_name) ASC, base_name ASC) AS rn
            FROM votes) WHERE rn = 1
    ), fallback AS (
        SELECT f.cluster_id, arg_min(b.normalized_name, f.row_order)
                   AS fallback_name
        FROM fullset f JOIN based b USING (row_order)
        GROUP BY f.cluster_id
    )
    SELECT f.row_order,
           CAST(f.cluster_id AS BIGINT) AS cluster_id,
           CAST(s.cluster_size AS BIGINT) AS cluster_size,
           COALESCE(e.elected_name, fb.fallback_name) AS canonical_name
    FROM fullset f
    JOIN csize s USING (cluster_id)
    LEFT JOIN elected e ON e.cluster_id = f.cluster_id
    JOIN fallback fb ON fb.cluster_id = f.cluster_id
    """


@register("dedup_cluster_partition", _dedup_cluster_partition_oracle)
def q_dedup_cluster_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship's order-INDEPENDENT projection, hash-gated (round-6
    verdict #2): row_order, cluster_id (= min row_order of the connected
    component, clustering.py's deterministic labeling), cluster_size, and
    the elected canonical_name. This closes the last ungated §2-A composite
    — the oracle re-derives the entire partition from raw data in SQL, so a
    green row proves the pipeline's blocking + JW matching + union-find +
    election end-to-end. Only C3's confidence/reason stay rows-only (their
    values replay the reference's union-order-dependent quirk by design).

    Spark side reads the per-process pipeline snapshot (the same frame
    entry() returns), so the driver row compares REAL pipeline output, not
    a re-derivation."""
    clusters = MZ.CLUSTERS.read(spark, sf_dir)
    return clusters.select(
        "row_order",
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        "canonical_name",
    )


def _named_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_spread(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey").alias("company_id"),
        _synthetic_company_col().alias("company_name"),
    )


# ---------------------------------------------------------------------------
# O-pack (reference outputs.py:30-66): hash-gated via the materialized cluster
# snapshot. The pipeline output is parquet-snapshotted once per process; the
# Spark side applies the report aggregation over the snapshot with DataFrame
# ops and the DuckDB oracle runs equivalent SQL over the SAME parquet — an
# exact check of the reporting layer, independent of C1 (itself pinned by
# tests/test_pipeline_golden.py + test_clustering_equiv.py).
# ---------------------------------------------------------------------------


@register(
    "canonical_mapping",
    lambda: f"""
    SELECT original_name, canonical_name
    FROM '{MZ.CLUSTERS.glob()}'
    """,
)
def q_canonical_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 golden mapping (original -> canonical), outputs.py:52."""
    return golden_mapping(MZ.CLUSTERS.read(spark, sf_dir))


@register(
    "cluster_review",
    lambda: f"""
    SELECT row_order, original_name, normalized_name, base_name, block_key,
           cluster_id, cluster_size, canonical_name, confidence, reason
    FROM '{MZ.CLUSTERS.glob()}'
    WHERE confidence >= 0.95 AND cluster_size >= 2
    """,
)
def q_cluster_review(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 review filter: confidence >= 0.95 AND cluster_size >= 2
    (outputs.py:56-57)."""
    return high_confidence_review(MZ.CLUSTERS.read(spark, sf_dir))


@register(
    "cluster_stats",
    lambda: f"""
    SELECT COUNT(*) AS total_rows,
           COUNT(DISTINCT cluster_id) AS total_clusters,
           CAST(SUM(CASE WHEN cluster_size >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS multi_record_clusters,
           CAST(SUM(CASE WHEN confidence >= 0.95 AND cluster_size >= 2
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS high_confidence_review_rows
    FROM '{MZ.CLUSTERS.glob()}'
    """,
)
def q_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 stats quadruple, incl. the preserved multi_record_clusters
    rows-not-clusters quirk (outputs.py:61-66)."""
    return run_stats(MZ.CLUSTERS.read(spark, sf_dir))


@register(
    "canonical_summary",
    lambda: f"""
    SELECT cluster_id, canonical_name, COUNT(*) AS count
    FROM '{MZ.CLUSTERS.glob()}'
    GROUP BY cluster_id, canonical_name
    """,
)
def q_canonical_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 per-cluster member counts (outputs.py:30)."""
    return canonical_summary(MZ.CLUSTERS.read(spark, sf_dir))


# ===========================================================================
# C5/C6 with an exact oracle: canonical election over token-sorted clusters
# (word-shuffle-invariant EXACT dedup — SQL-expressible, unlike the fuzzy C1
# partition — so the election windows get a hash-gated check too)
# ===========================================================================


@register(
    "token_cluster_canonical",
    f"""
    WITH named AS (
        SELECT p_partkey, {_SYNTH_COMPANY_SQL} AS raw_name FROM part
    ), based AS (
        SELECT p_partkey, {O.sql_base_name('raw_name')} AS base_name FROM named
    ), keyed AS (
        SELECT p_partkey, base_name,
               {O.sql_token_sort_key('base_name')} AS token_key
        FROM based
        WHERE base_name <> ''
    ), freq AS (
        SELECT token_key, base_name, COUNT(*) AS cnt
        FROM keyed GROUP BY token_key, base_name
    ), elected AS (
        SELECT token_key, base_name AS canonical_name
        FROM (
            SELECT token_key, base_name, ROW_NUMBER() OVER (
                PARTITION BY token_key
                ORDER BY cnt DESC, length(base_name) ASC, base_name ASC) AS rn
            FROM freq) WHERE rn = 1
    ), sizes AS (
        SELECT token_key, COUNT(*) AS cluster_size,
               COUNT(DISTINCT base_name) AS n_variants
        FROM keyed GROUP BY token_key
    )
    SELECT e.token_key, e.canonical_name, s.cluster_size, s.n_variants
    FROM elected e JOIN sizes s USING (token_key)
    """,
)
def q_token_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 election (freq desc, length asc, lexicographic asc) + C6 sizes over
    token-sorted-key clusters (engine.py:321-338 semantics with the R4
    tie-break, on an exactly-clusterable key)."""
    from pyspark.sql import Window

    named = _named_parts(spark, sf_dir)
    based = named.select(
        "company_id", base_name(F.col("company_name")).alias("base_name")
    )
    keyed = based.where(F.col("base_name") != "").select(
        "company_id", "base_name", token_sort_key(F.col("base_name")).alias("token_key")
    )
    freq = keyed.groupBy("token_key", "base_name").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("token_key").orderBy(
        F.col("cnt").desc(), F.length("base_name").asc(), F.col("base_name").asc()
    )
    elected = (
        freq.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("token_key", F.col("base_name").alias("canonical_name"))
    )
    sizes = keyed.groupBy("token_key").agg(
        F.count("*").alias("cluster_size"),
        F.countDistinct("base_name").alias("n_variants"),
    )
    return elected.join(sizes, "token_key")


# ===========================================================================
# E3 — keyword industry classification (deterministic part; oracle-gated)
# ===========================================================================

def _industry_sql_case(expr: str) -> str:
    from datafusion_dedup_ai_spark.enrich import INDUSTRY_KEYWORDS, INDUSTRY_FALLBACK, INDUSTRY_UNKNOWN

    whens = []
    for industry, kws in INDUSTRY_KEYWORDS.items():
        cond = " OR ".join(f"contains(upper({expr}), '{k}')" for k in kws)
        whens.append(f"WHEN ({cond}) THEN '{industry}'")
    return (
        f"(CASE WHEN {expr} IS NULL OR {expr} = '' THEN '{INDUSTRY_UNKNOWN}' "
        + " ".join(whens)
        + f" ELSE '{INDUSTRY_FALLBACK}' END)"
    )


_INDUSTRY_INPUT_SQL = """
    concat(p_name, CASE p_partkey % 7
        WHEN 0 THEN ' software'
        WHEN 1 THEN ' bank'
        WHEN 2 THEN ' pharma supplies'
        WHEN 3 THEN ' store'
        WHEN 4 THEN ' engineering systems'
        WHEN 5 THEN ' software bank'
        ELSE '' END)
"""


def _industry_input_col() -> F.Column:
    p = F.col("p_partkey")
    return F.concat(
        F.col("p_name"),
        F.when(p % 7 == 0, " software")
        .when(p % 7 == 1, " bank")
        .when(p % 7 == 2, " pharma supplies")
        .when(p % 7 == 3, " store")
        .when(p % 7 == 4, " engineering systems")
        .when(p % 7 == 5, " software bank")
        .otherwise(""),
    )


@register(
    "industry_classification",
    f"""
    SELECT p_partkey,
           {_INDUSTRY_INPUT_SQL} AS company_desc,
           {_industry_sql_case(_INDUSTRY_INPUT_SQL)} AS industry
    FROM part
    """,
)
def q_industry_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3's deterministic keyword classifier (engine.py:110-126), dict-order
    priority, over names with injected sector keywords (the '... software
    bank' rows pin first-match-wins)."""
    from datafusion_dedup_ai_spark.enrich import classify_industry

    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        _industry_input_col().alias("company_desc"),
        classify_industry(_industry_input_col()).alias("industry"),
    )


_ENRICH_SLUG_SQL = (
    "trim(regexp_replace(lower(coalesce(canonical_name, '')), "
    "'[^a-z0-9]+', '-', 'g'), '-')"
)


@register(
    "enriched_clusters",
    lambda: f"""
    SELECT row_order, original_name, normalized_name, base_name, block_key,
           cluster_id, cluster_size, canonical_name, confidence, reason,
           CASE WHEN {_ENRICH_SLUG_SQL} = '' THEN ''
                ELSE {_ENRICH_SLUG_SQL} || '.example.com' END AS website,
           {_industry_sql_case("canonical_name")} AS industry
    FROM '{MZ.CLUSTERS.glob()}'
    """,
)
def q_enriched_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 shape: enrich once per DISTINCT canonical via the mapInPandas stub
    client, broadcast-join back to all rows (engine.py:340-367). The stub is
    deterministic (slug domain + E3 keyword classifier), so the whole
    topology — distinct, Arrow batch boundary, broadcast join, classifier —
    is hash-gated against a pure-SQL mirror over the cluster snapshot. A live
    web/LLM client plugs into the same seam via dedup_pipeline(enricher=...).
    """
    from datafusion_dedup_ai_spark.enrich import StubEnricher
    from datafusion_dedup_ai_spark.plans.pipeline import CLUSTER_COLUMNS

    clusters = MZ.CLUSTERS.read(spark, sf_dir)
    return StubEnricher().enrich(clusters).select(
        *CLUSTER_COLUMNS, "website", "industry"
    )


@register("block_guard_recall_report", None)
def q_block_guard_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-grading recall report for the max_block_size hash-salt guard
    (round-9 verdict #5, the ann_recall_report pattern): the guard drops
    cross-sub-block fuzzy candidate pairs BY DESIGN, and this query puts a
    number on the approximation an operator reads before enabling the cap.

    Corpus: the sf customer names with 10% rewritten into one planted
    "MEGACORP <custkey>" mega-block (deterministic by c_custkey), the exact
    hot shape the guard targets — the prefix refinement (stage 1) is a no-op
    on it, so only the stage-2 salt splits it. For each cap the candidate
    set is a subset of the unguarded one (both stages only ever SPLIT
    blocks), so recall = n_pairs / n_unguarded exactly; hot-block recall is
    reported separately because singleton blocks are never affected.
    Expected shape: recall_hot ~ 1/ceil(n_hot/cap) for the planted block
    (salting on full base_name spreads distinct names uniformly), while
    exact-duplicate mass (identical base names) always stays co-located.

    Rows-only by nature (self-grading report; values visible to the driver).
    """
    from datafusion_dedup_ai_spark.config import DedupConfig
    from datafusion_dedup_ai_spark.operators.blocking import (
        candidate_pairs,
        prepare_names,
    )

    # Bound the corpus: TPC-H customer names all share the CUSTOMER first
    # token, so the UNGUARDED baseline this report measures against is
    # inherently quadratic in the table — 3k rows keeps the 4 runs cheap at
    # any sf while preserving the hot shape (cap documented in the output
    # via n_unguarded).
    cust = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") <= 3000)
    names = cust.select(
        F.col("c_custkey").cast("bigint").alias("id"),
        F.when(
            F.col("c_custkey") % 10 == 0,
            F.concat(
                F.lit("MEGACORP "), F.lpad(F.col("c_custkey").cast("string"), 8, "0")
            ),
        )
        .otherwise(F.col("c_name"))
        .alias("name"),
    )

    def counts(cap: int | None):
        prepared = prepare_names(
            names, "name", DedupConfig(max_block_size=cap), order_col="id"
        )
        pairs = candidate_pairs(prepared)
        hot = F.sum(
            F.when(F.col("base_a").startswith("MEGACORP"), F.lit(1)).otherwise(
                F.lit(0)
            )
        )
        return pairs.agg(
            F.count("*").alias("n_pairs"), hot.cast("bigint").alias("n_hot_pairs")
        ).collect()[0]

    base = counts(None)
    rows = []
    for cap in (256, 64, 16):
        r = counts(cap)
        rows.append(
            (
                cap,
                int(r["n_pairs"]),
                int(r["n_hot_pairs"]),
                int(base["n_pairs"]),
                int(base["n_hot_pairs"]),
                r["n_pairs"] / max(base["n_pairs"], 1),
                r["n_hot_pairs"] / max(base["n_hot_pairs"], 1),
            )
        )
    return spark.createDataFrame(
        rows,
        "cap BIGINT, n_pairs BIGINT, n_hot_pairs BIGINT, "
        "n_unguarded BIGINT, n_hot_unguarded BIGINT, "
        "recall_all DOUBLE, recall_hot DOUBLE",
    )
