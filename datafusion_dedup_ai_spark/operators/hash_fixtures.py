"""Materialized hash fixtures that upgrade the MinHash/SimHash tiers from
rows-only to hash-gated oracle checks.

The approximate-dedup tiers mix bits with Spark's ``xxhash64``, which DuckDB
cannot evaluate — that made their oracle checks rows-only through round 4.
But xxhash64 is the ONLY non-SQL-expressible step in those pipelines:
everything downstream — the ``(a*x+b) mod (2^61-1)`` MinHash mins, band
grouping, candidate generation, exact-Jaccard verification, SimHash bit
votes, pigeonhole banding, Hamming verification — is integer arithmetic that
DuckDB replays exactly. So we materialize the per-document hash values once
per process (the materialize.py snapshot pattern) and the oracles recompute
the FULL pipelines in SQL from the same parquet fixture. The xxhash64 step
itself is pinned independently against a pure-Python xxHash64 reference in
tests/test_xxhash64_ref.py, closing the loop:

    Python xxHash64 reference == Spark xxhash64   (tests)
    Spark xxhash64 -> parquet fixture             (this module)
    fixture -> SQL replay of the whole pipeline   (queries_dedup_ext oracles)

Residual gap (documented, negligible): Spark compresses each LSH band slice
to a 64-bit bucket via ``xxhash64(slice)`` while the oracle groups on the
slice VALUES, so an xxhash64 collision between different slices could hand
Spark an extra candidate pair — which would still need to pass exact-Jaccard
verification to change the output. Probability ~ n_cross_pairs * 2^-64.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from datafusion_dedup_ai_spark.functions import text as T
from datafusion_dedup_ai_spark.materialize import _REPO_ROOT, sf_cache_key
from datafusion_dedup_ai_spark.sources.readers import load_spread

_MASK32 = (1 << 32) - 1

# Paths written by THIS process — re-materialize once per process even if a
# stale fixture from an earlier round survives on disk.
_written: set[str] = set()


def shingle_hashes_path(sf_dir: str) -> str:
    return os.path.join(
        _REPO_ROOT, ".materialized", sf_cache_key(sf_dir), "shingle_hashes.parquet"
    )


def token_hashes_path(sf_dir: str) -> str:
    return os.path.join(
        _REPO_ROOT, ".materialized", sf_cache_key(sf_dir), "token_hashes.parquet"
    )


def materialize_shingle_hashes(spark: SparkSession, sf_dir: str) -> str:
    """(doc_id, shingle, x): one row per distinct word-bigram shingle per
    document, with ``x = xxhash64(shingle) & 0xFFFFFFFF`` — exactly the value
    operators/dedup.py::minhash_signatures feeds its 64 hash families.
    Shingling MUST stay in lockstep with queries_dedup_ext._shingled_docs
    (same T.distinct_shingles over the same table)."""
    path = shingle_hashes_path(sf_dir)
    if path not in _written:
        d = load_spread(spark, sf_dir, "documents")
        rows = (
            d.select("doc_id", T.distinct_shingles(F.col("text")).alias("shingles"))
            .select("doc_id", F.explode("shingles").alias("shingle"))
            .select(
                "doc_id",
                "shingle",
                F.xxhash64("shingle").bitwiseAND(F.lit(_MASK32)).alias("x"),
            )
        )
        from datafusion_dedup_ai_spark.materialize import (
            atomic_parquet_overwrite,
        )

        atomic_parquet_overwrite(rows, path)
        _written.add(path)
    return path


def materialize_token_hashes(spark: SparkSession, sf_dir: str) -> str:
    """(doc_id, h, cnt): per-document token-hash multiplicities with
    ``h = xxhash64(token)`` (full signed 64-bit) — the vote inputs of
    operators/dedup.py::simhash64 (which explodes tokens WITH duplicates, so
    the fixture carries the multiplicity as a count)."""
    path = token_hashes_path(sf_dir)
    if path not in _written:
        d = load_spread(spark, sf_dir, "documents")
        rows = (
            d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("t"))
            .groupBy("doc_id", F.xxhash64("t").alias("h"))
            .agg(F.count("*").alias("cnt"))
        )
        from datafusion_dedup_ai_spark.materialize import (
            atomic_parquet_overwrite,
        )

        atomic_parquet_overwrite(rows, path)
        _written.add(path)
    return path


def _glob(materializer, path_fn) -> str:
    """Oracle-resolution-time fixture path: (re)materialize the fixture HERE
    so the oracle is valid regardless of whether the driver resolves oracles
    before or after running the Spark query (the queries_multimodal
    ._media_glob contract). Standalone (no-active-session) consumers get a
    session built for them when the fixture is missing on disk — see
    materialize.ensure_fixture_session."""
    from datafusion_dedup_ai_spark.materialize import (
        ensure_fixture_session,
        oracle_sf_dir,
    )

    sf_dir = oracle_sf_dir()
    spark = ensure_fixture_session(path_fn(sf_dir))
    if spark is not None:
        materializer(spark, sf_dir)
    return os.path.join(path_fn(sf_dir), "*.parquet")


def shingle_hashes_glob() -> str:
    return _glob(materialize_shingle_hashes, shingle_hashes_path)


def token_hashes_glob() -> str:
    return _glob(materialize_token_hashes, token_hashes_path)


# ---------------------------------------------------------------------------
# Hyperplane-LSH bucket fixture (embeddings)
# ---------------------------------------------------------------------------


def lsh_buckets_path(sf_dir: str) -> str:
    return os.path.join(
        _REPO_ROOT, ".materialized", sf_cache_key(sf_dir), "lsh_buckets.parquet"
    )


def materialize_lsh_buckets(spark: SparkSession, sf_dir: str) -> str:
    """(vec_id, table, bucket): the sign-bit hyperplane codes of
    operators/similarity_search.lsh_bucketize at FIXED build-time
    parameters (16 tables x 4 bits, seed 7) — the fixture behind the two
    index-shaped oracles (`ann_lsh_topk_gated`, whose query tier is tuned
    once, and `incremental_semantic_matches`, whose persisted vector index
    freezes its hyperplanes at build time; an index's geometry does not
    change as the corpus grows). The ONE non-SQL step (a numpy matmul);
    everything downstream — bucket self-join, exact-cosine verify,
    component labeling — is SQL the oracle replays. The code computation
    itself is pinned against a numpy-free pure-Python reference in
    tests/test_similarity.py. The ad-hoc batch-dedup composite uses the
    corpus-ADAPTIVE twin below instead."""
    path = lsh_buckets_path(sf_dir)
    if path not in _written:
        from datafusion_dedup_ai_spark.operators import similarity_search as S
        from datafusion_dedup_ai_spark.sources.readers import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        from datafusion_dedup_ai_spark.materialize import (
            atomic_parquet_overwrite,
        )

        atomic_parquet_overwrite(
            S.lsh_bucketize(emb, n_tables=16, n_bits=4, seed=7), path
        )
        _written.add(path)
    return path


def lsh_buckets_glob() -> str:
    return _glob(materialize_lsh_buckets, lsh_buckets_path)


def lsh_buckets_adaptive_path(sf_dir: str) -> str:
    return os.path.join(
        _REPO_ROOT,
        ".materialized",
        sf_cache_key(sf_dir),
        "lsh_buckets_adaptive.parquet",
    )


def materialize_lsh_buckets_adaptive(spark: SparkSession, sf_dir: str) -> str:
    """The corpus-size-ADAPTIVE twin of materialize_lsh_buckets, for the
    ad-hoc batch-dedup composite (embedding_dedup_clusters): n_bits =
    lsh_bits_schedule(count) — the SAME count-derived per-table schedule
    composite_near_pairs passes to lsh_near_pairs, so fixture and Spark
    side agree at every sf (uniform, hence hash-identical to the round-6
    lsh_bits_for fixture, at sf0.01/sf0.1). Round-6 probe rationale in
    lsh_bits_for; round-11 dithering rationale in lsh_bits_schedule."""
    path = lsh_buckets_adaptive_path(sf_dir)
    if path not in _written:
        from datafusion_dedup_ai_spark.operators import similarity_search as S
        from datafusion_dedup_ai_spark.sources.readers import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        from datafusion_dedup_ai_spark.materialize import (
            atomic_parquet_overwrite,
        )

        n_bits = S.lsh_bits_schedule(emb.count())
        atomic_parquet_overwrite(
            S.lsh_bucketize(emb, n_tables=16, n_bits=n_bits, seed=7), path
        )
        _written.add(path)
    return path


def lsh_buckets_adaptive_glob() -> str:
    return _glob(materialize_lsh_buckets_adaptive, lsh_buckets_adaptive_path)


def lsh_query_margins_path(sf_dir: str) -> str:
    return os.path.join(
        _REPO_ROOT,
        ".materialized",
        sf_cache_key(sf_dir),
        "lsh_query_margins.parquet",
    )


def materialize_lsh_query_margins(spark: SparkSession, sf_dir: str) -> str:
    """(vec_id, table, bucket, bit, margin) for the ANN query workload
    (vec_id < N_QUERIES) at the fixed 16x4 seed-7 geometry: each query
    vector's base code per table PLUS the per-bit |projection| margins the
    multi-probe ranking sorts. The oracle derives the probe bucket itself —
    ``bucket XOR (1 << arg_min(bit, margin))`` — so the flip selection is
    SQL-verified, not trusted from the code fixture (round-6 verdict #10).
    The only non-SQL step remains the hyperplane matmul, shared with
    materialize_lsh_buckets."""
    path = lsh_query_margins_path(sf_dir)
    if path not in _written:
        from datafusion_dedup_ai_spark.operators import similarity_search as S
        from datafusion_dedup_ai_spark.shared_params import N_QUERIES
        from datafusion_dedup_ai_spark.sources.readers import load_table
        from datafusion_dedup_ai_spark.materialize import (
            atomic_parquet_overwrite,
        )

        emb = load_table(spark, sf_dir, "embeddings").where(
            F.col("vec_id") < N_QUERIES
        )
        atomic_parquet_overwrite(
            S.lsh_code_margins(emb, n_tables=16, n_bits=4, seed=7), path
        )
        _written.add(path)
    return path


def lsh_query_margins_glob() -> str:
    return _glob(materialize_lsh_query_margins, lsh_query_margins_path)


# ---------------------------------------------------------------------------
# BPE piece-vocabulary fixture (tokenizer apply)
# ---------------------------------------------------------------------------


def bpe_pieces_path(sf_dir: str) -> str:
    return os.path.join(
        _REPO_ROOT, ".materialized", sf_cache_key(sf_dir), "bpe_pieces.parquet"
    )


def materialize_bpe_pieces(spark: SparkSession, sf_dir: str) -> str:
    """(piece): the frozen BPE piece vocabulary — corpus characters plus
    operators/tokenizer.N_BPE_MERGES merge products, trained on the
    documents word-frequency table (the same words/word_count statistic
    bpe_pair_counts registers). Training collects the VOCABULARY-sized
    table to the driver (31 rows on the testdata; Heaps-law-small on any
    corpus — the documented driver-side-model exception, like the k-means
    centroids). Fully deterministic (sorted inputs, count-then-lex merge
    tiebreak), so any process rematerializes the identical fixture; both
    the Spark query and the DuckDB oracle APPLY this frozen vocab with the
    same greedy longest-match rule, making the apply step cross-engine
    verified while the trained model is shared — exactly the centroid
    contract of semantic_dedup."""
    path = bpe_pieces_path(sf_dir)
    if path not in _written:
        from datafusion_dedup_ai_spark.operators import tokenizer as TK
        from datafusion_dedup_ai_spark.sources.readers import load_table
        from datafusion_dedup_ai_spark.materialize import (
            atomic_parquet_overwrite,
        )

        d = load_table(spark, sf_dir, "documents")
        wc = (
            d.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
            .where(F.col("tok") != "")
            .groupBy("tok")
            .agg(F.count("*").alias("c"))
            .collect()
        )
        pieces = TK.bpe_vocab_pieces([(r["tok"], r["c"]) for r in wc])
        atomic_parquet_overwrite(
            spark.createDataFrame([(p,) for p in pieces], "piece string"), path
        )
        _written.add(path)
    return path


def bpe_pieces_glob() -> str:
    return _glob(materialize_bpe_pieces, bpe_pieces_path)


def load_bpe_pieces(spark: SparkSession, sf_dir: str) -> list[str]:
    rows = spark.read.parquet(materialize_bpe_pieces(spark, sf_dir)).collect()
    return sorted(r["piece"] for r in rows)

