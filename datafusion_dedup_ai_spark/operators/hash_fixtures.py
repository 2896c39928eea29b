"""Materialized hash fixtures that upgrade the MinHash/SimHash tiers from
rows-only to hash-gated oracle checks.

The approximate-dedup tiers mix bits with Spark's ``xxhash64``, which DuckDB
cannot evaluate — that made their oracle checks rows-only through round 4.
But xxhash64 is the ONLY non-SQL-expressible step in those pipelines:
everything downstream — the ``(a*x+b) mod (2^61-1)`` MinHash mins, band
grouping, candidate generation, exact-Jaccard verification, SimHash bit
votes, pigeonhole banding, Hamming verification — is integer arithmetic that
DuckDB replays exactly. So the per-document hash values are a
``materialize.Fixture`` (written once per process, read by both engines) and
the oracles recompute the FULL pipelines in SQL from the same parquet files. The xxhash64 step
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_dedup_ai_spark.functions import text as T
from datafusion_dedup_ai_spark.materialize import Fixture
from datafusion_dedup_ai_spark.sources.readers import load_spread, load_table

_MASK32 = (1 << 32) - 1


def _shingle_hash_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle, x): one row per distinct word-bigram shingle per
    document, with ``x = xxhash64(shingle) & 0xFFFFFFFF`` — exactly the value
    operators/dedup.py::minhash_signatures feeds its 64 hash families.
    Shingling MUST stay in lockstep with queries_dedup_ext._shingled_docs
    (same T.distinct_shingles over the same table)."""
    d = load_spread(spark, sf_dir, "documents")
    return (
        d.select("doc_id", T.distinct_shingles(F.col("text")).alias("shingles"))
        .select("doc_id", F.explode("shingles").alias("shingle"))
        .select(
            "doc_id",
            "shingle",
            F.xxhash64("shingle").bitwiseAND(F.lit(_MASK32)).alias("x"),
        )
    )


def _token_hash_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h, cnt): per-document token-hash multiplicities with
    ``h = xxhash64(token)`` (full signed 64-bit) — the vote inputs of
    operators/dedup.py::simhash64 (which explodes tokens WITH duplicates, so
    the fixture carries the multiplicity as a count)."""
    d = load_spread(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("t"))
        .groupBy("doc_id", F.xxhash64("t").alias("h"))
        .agg(F.count("*").alias("cnt"))
    )


SHINGLE_HASHES = Fixture("shingle_hashes", _shingle_hash_rows)
TOKEN_HASHES = Fixture("token_hashes", _token_hash_rows)


# ---------------------------------------------------------------------------
# Hyperplane-LSH bucket fixtures (embeddings)
# ---------------------------------------------------------------------------


def _lsh_bucket_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, table, bucket): the sign-bit hyperplane codes of
    operators/similarity_search.lsh_bucketize at FIXED build-time
    parameters (16 tables x 4 bits, seed 7) — the fixture behind the two
    index-shaped oracles (`ann_lsh_topk_gated`, whose query tier is tuned
    once, and `incremental_semantic_matches`, whose persisted
    lsh_index.HYPERPLANE index freezes its hyperplanes at build time; an
    index's geometry does not change as the corpus grows). The ONE non-SQL
    step (a numpy matmul); everything downstream — bucket self-join,
    exact-cosine verify, component labeling — is SQL the oracle replays.
    The code computation
    itself is pinned against a numpy-free pure-Python reference in
    tests/test_similarity.py. The ad-hoc batch-dedup composite uses the
    corpus-ADAPTIVE twin LSH_BUCKETS_ADAPTIVE instead."""
    from datafusion_dedup_ai_spark.operators import similarity_search as S

    emb = load_table(spark, sf_dir, "embeddings")
    return S.lsh_bucketize(emb, n_tables=16, n_bits=4, seed=7)


def _lsh_bucket_adaptive_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-size-ADAPTIVE twin of LSH_BUCKETS, for the ad-hoc
    batch-dedup composite (embedding_dedup_clusters): n_bits =
    lsh_bits_schedule(count) — the SAME count-derived per-table schedule
    composite_near_pairs passes to lsh_near_pairs, so fixture and Spark
    side agree at every sf (uniform, hence hash-identical to the fixed
    lsh_bits_for width, at sf0.01/sf0.1). Width rationale in lsh_bits_for;
    dithering rationale in lsh_bits_schedule."""
    from datafusion_dedup_ai_spark.operators import similarity_search as S

    emb = load_table(spark, sf_dir, "embeddings")
    n_bits = S.lsh_bits_schedule(emb.count())
    return S.lsh_bucketize(emb, n_tables=16, n_bits=n_bits, seed=7)


def _lsh_query_margin_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, table, bucket, bit, margin) for the ANN query workload
    (vec_id < N_QUERIES) at the fixed 16x4 seed-7 geometry: each query
    vector's base code per table PLUS the per-bit |projection| margins the
    multi-probe ranking sorts. The oracle derives the probe bucket itself —
    ``bucket XOR (1 << arg_min(bit, margin))`` — so the flip selection is
    SQL-verified, not trusted from the code fixture. The only non-SQL step
    remains the hyperplane matmul, shared with LSH_BUCKETS."""
    from datafusion_dedup_ai_spark.operators import similarity_search as S
    from datafusion_dedup_ai_spark.shared_params import N_QUERIES

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < N_QUERIES)
    return S.lsh_code_margins(emb, n_tables=16, n_bits=4, seed=7)


LSH_BUCKETS = Fixture("lsh_buckets", _lsh_bucket_rows)
LSH_BUCKETS_ADAPTIVE = Fixture("lsh_buckets_adaptive", _lsh_bucket_adaptive_rows)
LSH_QUERY_MARGINS = Fixture("lsh_query_margins", _lsh_query_margin_rows)


# ---------------------------------------------------------------------------
# BPE piece-vocabulary fixture (tokenizer apply)
# ---------------------------------------------------------------------------


def _bpe_piece_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    from datafusion_dedup_ai_spark.operators import tokenizer as TK

    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
        .collect()
    )
    pieces = TK.bpe_vocab_pieces([(r["tok"], r["c"]) for r in wc])
    return spark.createDataFrame([(p,) for p in pieces], "piece string")


BPE_PIECES = Fixture("bpe_pieces", _bpe_piece_rows)
