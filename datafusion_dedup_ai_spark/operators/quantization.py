"""Int8 embedding quantization — the memory tier for similarity search.

At 100 TB, the embedding column dominates storage and shuffle: a 64-dim
float32 vector is 256 bytes/row; symmetric int8 quantization cuts it to 64
bytes + one float scale, a 4x reduction in scan, cache, and shuffle volume.
The standard serving pattern (FAISS SQ8, ScaNN) is: quantize the corpus
once, generate candidates with cheap integer dot products, then exact
re-rank the survivors against the float vectors.

Everything here is JVM-side Column expressions (transform/zip_with/
aggregate) — no Python in the scan path. The integer dot product is exact
int arithmetic; only the quantization itself is lossy, and the recall loss
is pinned in tests/test_similarity.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datafusion_dedup_ai_spark.operators.similarity_search import (
    rerank_topk,
    top_k,
)

Q_LEVELS = 127  # symmetric int8: codes in [-127, 127]


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str | None = None,
) -> DataFrame:
    """(id, qvec: array<tinyint>, scale: double): per-vector symmetric
    quantization, code = round(x / scale) with scale = max|x| / 127.

    Per-vector (not per-corpus) scales make the operator a pure map — no
    global pass, no shuffle — and dequantized dot products recompose as
    int_dot * scale_a * scale_b."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.greatest(
        F.array_max(F.transform(v, F.abs)) / F.lit(float(Q_LEVELS)),
        F.lit(1e-30),  # all-zero vectors quantize to zeros, not NaNs
    )
    return df.select(
        F.col(id_col).alias(out_id or id_col),
        F.transform(
            v, lambda x: F.round(x / scale).cast("tinyint")
        ).alias("qvec"),
        scale.alias("scale"),
    )


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two int8 code arrays (widened to long;
    64 * 127^2 is far inside int64)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    oversample: int = 4,
) -> DataFrame:
    """Approximate top-k via the SQ8 two-stage pattern: rank ALL corpus
    vectors by approximate (dequantized-int8) cosine, keep k * oversample
    candidates per query, then exact-re-rank only those against the float
    vectors.

    The stage-1 scan touches only the 4x-smaller quantized columns — at
    cluster scale that is the difference between an in-memory scan and a
    spill. Stage 2 joins the tiny candidate set back to the float corpus
    (k * oversample rows per query). Output schema matches the other ANN
    tiers: (query_id, neighbor_id, cosine, rk)."""
    # approx cosine: (int_dot * sa * sb) / (|a| * |b|) with norms also taken
    # from the codes — stage 1 never touches the float column. The code
    # norms are precomputed per side, as verify_cosine does with self-dots.
    qnorm = lambda qv, s: F.sqrt(int_dot(qv, qv).cast("double")) * s  # noqa: E731
    cq = quantize_int8(corpus, id_col, vec_col, out_id="neighbor_id").withColumn(
        "_cn", qnorm(F.col("qvec"), F.col("scale"))
    )
    qq = quantize_int8(queries, id_col, vec_col, out_id="query_id")
    qq = (
        qq.withColumnRenamed("qvec", "q_qvec")
        .withColumnRenamed("scale", "q_scale")
        .withColumn("_qn", qnorm(F.col("q_qvec"), F.col("q_scale")))
    )
    scored = (
        cq.crossJoin(F.broadcast(qq))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "approx_cosine",
            (
                int_dot(F.col("qvec"), F.col("q_qvec")).cast("double")
                * F.col("scale")
                * F.col("q_scale")
            )
            / (F.col("_cn") * F.col("_qn")),
        )
    )
    cand = top_k(scored, k * oversample, score="approx_cosine").select(
        "query_id", "neighbor_id"
    )
    return rerank_topk(cand, queries, corpus, id_col, vec_col, k)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the compressed-domain ANN tier
# ---------------------------------------------------------------------------
#
# PQ (Jegou et al., "Product Quantization for Nearest Neighbor Search",
# TPAMI 2011) splits the vector into M subvectors and vector-quantizes each
# against its own K-entry codebook: a 64-dim float32 vector (256 B) becomes
# M=8 one-byte codes — a 32x compression, vs SQ8's 4x. Candidate scoring is
# ADC (asymmetric distance computation): the float query is compared to
# codebook entries once, then every corpus vector's score is M table
# lookups. This is the FAISS IVFPQ building block and the standard memory
# tier when even int8 codes don't fit.

PQ_M = 8  # subspaces
PQ_K = 16  # codebook entries per subspace (4-bit codes)


def train_pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    k_codes: int = PQ_K,
    n_iter: int = 10,
    sample_size: int = 2048,
    seed: int = 11,
    sample: np.ndarray | None = None,
):
    """Per-subspace k-means codebooks, shape (m, k_codes, dim//m), trained on
    a deterministic driver-side sample of L2-normalized vectors.

    Same scale justification as train_spherical_centroids: the model is
    m * k * dsub floats (a few KB), trained on ~10^4 sampled rows and
    broadcast — the corpus-sized pass is only the assignment map. Pass a
    precollected ``sample`` (similarity_search.sample_normalized_vectors)
    to share one TakeOrdered collect across trainers — identical rows and
    normalization, so the codebooks are bit-identical either way."""
    import random

    from datafusion_dedup_ai_spark.operators.similarity_search import (
        sample_normalized_vectors,
    )

    X = (
        sample
        if sample is not None
        else sample_normalized_vectors(corpus, id_col, vec_col, sample_size)
    )
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = random.Random(seed)
    books = np.zeros((m, k_codes, dsub))
    for sub in range(m):
        Xs = X[:, sub * dsub : (sub + 1) * dsub]
        k = min(k_codes, len(Xs))
        cb = Xs[rng.sample(range(len(Xs)), k)].copy()
        for _ in range(n_iter):
            d2 = ((Xs[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(k):
                members = Xs[assign == c]
                if len(members):  # empty cell keeps its old centroid
                    cb[c] = members.mean(axis=0)
        books[sub, :k] = cb
        if k < k_codes:  # degenerate tiny sample: pad with the first entry
            books[sub, k:] = cb[0]
    return books


def pq_assign_codes(
    df: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str | None = None,
) -> DataFrame:
    """(id, codes: array<long>): nearest-codebook-entry index per subspace.
    One vectorized numpy pass per Arrow batch against the broadcast
    codebooks — a pure map stage, no shuffle."""
    from pyspark.sql.types import ArrayType, LongType

    C = codebooks.astype(np.float64)  # (m, k, dsub)
    m, _, dsub = C.shape

    @F.pandas_udf(ArrayType(LongType()))
    def codes_udf(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy()).astype(np.float64)
        X /= np.linalg.norm(X, axis=1, keepdims=True) + 1e-12
        Xs = X.reshape(len(X), m, dsub)  # (n, m, dsub)
        # (n, m, k) squared distances via ||x||^2 - 2x.c + ||c||^2
        d2 = (
            (Xs**2).sum(axis=2)[:, :, None]
            - 2.0 * np.einsum("nmd,mkd->nmk", Xs, C)
            + (C**2).sum(axis=2)[None, :, :]
        )
        return pd.Series(list(np.argmin(d2, axis=2).astype(np.int64)))

    return df.select(
        F.col(id_col).alias(out_id or id_col),
        codes_udf(F.col(vec_col)).alias("codes"),
    )


def make_adc_udf(codebooks):
    """ADC scorer: pandas_udf (q_vec, codes) -> sum_m LUT[m][code_m], the
    query's dot product with the RECONSTRUCTED corpus vector. The LUT is
    built per Arrow batch from the broadcast codebooks (at cluster scale
    you'd build it once per query per partition — same asymptotics, the
    batch einsum is the local analog)."""
    from pyspark.sql.types import DoubleType

    C = codebooks.astype(np.float64)
    dsub = C.shape[2]

    @F.pandas_udf(DoubleType())
    def adc_udf(q_vecs: pd.Series, code_arrs: pd.Series) -> pd.Series:
        Q = np.stack(q_vecs.to_numpy()).astype(np.float64)
        Q /= np.linalg.norm(Q, axis=1, keepdims=True) + 1e-12
        Qs = Q.reshape(len(Q), C.shape[0], dsub)
        lut = np.einsum("nmd,mkd->nmk", Qs, C)  # (n, m, k)
        codes_m = np.stack(code_arrs.to_numpy()).astype(np.int64)  # (n, m)
        n_idx = np.arange(len(Q))[:, None]
        m_idx = np.arange(C.shape[0])[None, :]
        return pd.Series(lut[n_idx, m_idx, codes_m].sum(axis=1))

    return adc_udf


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = PQ_M,
    k_codes: int = PQ_K,
    oversample: int = 4,
    seed: int = 11,
    codebooks=None,
) -> DataFrame:
    """Approximate top-k via PQ + ADC, then exact re-rank — the same
    two-stage shape as quantized_topk but over 32x-compressed codes.

    Stage 1 scans only (id, 8 longs) per corpus row: the ADC score of a
    corpus vector against a query is sum_m LUT[m][code_m], where the LUT is
    the query's dot products with the codebook entries. Here the LUT is
    built per Arrow batch from the broadcast codebooks (at cluster scale
    you'd build it once per query per partition — same asymptotics, the
    batch einsum is the local analog). Stage 2 exact-re-ranks the
    k * oversample survivors against the float vectors. Output schema
    matches the other ANN tiers: (query_id, neighbor_id, cosine, rk).
    Recall floor vs brute force is pinned in tests/test_similarity.py.
    Pass precomputed ``codebooks`` (train_pq_codebooks) to reuse one model
    across tiers — _ann_tier_frames does, so building the five-tier report
    trains each driver-side model once."""
    books = (
        codebooks
        if codebooks is not None
        else train_pq_codebooks(
            corpus, id_col, vec_col, m=m, k_codes=k_codes, seed=seed
        )
    )
    codes = pq_assign_codes(corpus, books, id_col, vec_col, out_id="neighbor_id")
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    adc_udf = make_adc_udf(books)
    scored = (
        codes.crossJoin(F.broadcast(qv))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc_score", adc_udf(F.col("q_vec"), F.col("codes")))
    )
    cand = top_k(scored, k * oversample, score="adc_score").select(
        "query_id", "neighbor_id"
    )
    return rerank_topk(cand, queries, corpus, id_col, vec_col, k)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    corpus_assign: int = 2,
    m: int = PQ_M,
    k_codes: int = PQ_K,
    oversample: int = 8,
    seed: int = 11,
    codebooks=None,
    centroids=None,
) -> DataFrame:
    """IVF + PQ composite — the FAISS IVFPQ serving shape, and the only
    tier here whose per-query cost stays sublinear in BOTH candidate count
    and bytes-per-candidate: the IVF coarse quantizer prunes the corpus to
    the probed cells' members (|corpus| * nprobe*R/n_cells on average), and
    the ADC fine scorer reads only the M-byte PQ codes of those candidates.
    PQ alone scans every code; IVF-flat reads full float vectors of cell
    members; this composite does neither.

    Two deliberate simplifications vs textbook IVFPQ, both documented
    because they trade recall for reuse: codes quantize the RAW normalized
    vector rather than the cell residual (with few spherical cells the
    residual win is modest; residual encoding is the production refinement),
    and the coarse/fine models train on the same driver-side sample. Exact
    re-rank of the k*oversample ADC survivors restores precision at the
    top. Output schema matches the other ANN tiers; recall floor pinned in
    tests/test_similarity.py. Pass precomputed ``codebooks``/``centroids``
    to reuse one model per process — _ann_tier_frames shares them with the
    pq and ivf tiers so the five-tier report trains each driver-side model
    once."""
    from datafusion_dedup_ai_spark.operators.candidates import bucket_pairs
    from datafusion_dedup_ai_spark.operators.similarity_search import (
        ivf_assign_cells,
        train_spherical_centroids,
    )

    if centroids is None:
        centroids = train_spherical_centroids(
            corpus, id_col, vec_col, n_cells=n_cells, seed=seed
        )
    c_cells = ivf_assign_cells(
        corpus, centroids, id_col, vec_col, nprobe=corpus_assign
    )
    q_cells = ivf_assign_cells(queries, centroids, id_col, vec_col, nprobe=nprobe)
    cand = (
        bucket_pairs(q_cells, ["cell"], id_col, right=c_cells)
        .select(F.col("id_a").alias("query_id"), F.col("id_b").alias("neighbor_id"))
        .where(F.col("query_id") != F.col("neighbor_id"))
    )

    books = (
        codebooks
        if codebooks is not None
        else train_pq_codebooks(
            corpus, id_col, vec_col, m=m, k_codes=k_codes, seed=seed
        )
    )
    codes = pq_assign_codes(corpus, books, id_col, vec_col, out_id="neighbor_id")
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    adc_udf = make_adc_udf(books)
    scored = (
        cand.join(codes, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("adc_score", adc_udf(F.col("q_vec"), F.col("codes")))
    )
    cand = top_k(scored, k * oversample, score="adc_score").select(
        "query_id", "neighbor_id"
    )
    return rerank_topk(cand, queries, corpus, id_col, vec_col, k)
