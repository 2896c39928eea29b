"""Hyperplane-index checks (operators/lsh_index.HYPERPLANE): index path ==
recompute path, the corpus-adaptive width frozen in the sidecar, and the
no-corpus-recompute plan property (single ArrowEvalPython on the batch
side). The contract both index kinds share is in tests/test_lsh_index.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_dedup_ai_spark.operators import similarity_search as S
from datafusion_dedup_ai_spark.operators import lsh_index as LX
from datafusion_dedup_ai_spark.sources.readers import load_table

CORPUS = "vec_id % 10 < 8"
BATCH = "vec_id % 10 >= 8"


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = load_table(spark, sf_dir, "embeddings")
    df.cache()
    return df


def _match_set(df):
    return {
        (r["batch_id"], r["corpus_id"], round(r["cosine"], 12))
        for r in df.collect()
    }


def test_index_matches_equal_recompute(spark, emb, tmp_path):
    """Matching through the persisted index must equal the direct
    (no-index) computation: same codes, same bucket join, same cosine."""
    path = str(tmp_path / "vindex")
    corpus = emb.where(F.expr(CORPUS))
    batch = emb.where(F.expr(BATCH))
    LX.build(LX.HYPERPLANE, corpus, path)
    got = _match_set(LX.match(LX.HYPERPLANE, spark, path, batch, 0.35))

    # recompute at the geometry the build actually chose (adaptive default
    # writes lsh_bits_for(count) to the sidecar)
    bits = LX.read_meta(path)["n_bits"]
    cb = S.lsh_bucketize(corpus, n_tables=16, n_bits=bits, seed=7)
    bb = S.lsh_bucketize(batch, n_tables=16, n_bits=bits, seed=7)
    cands = (
        bb.alias("b")
        .join(
            cb.alias("c"),
            (F.col("b.table") == F.col("c.table"))
            & (F.col("b.bucket") == F.col("c.bucket")),
        )
        .select(
            F.col("b.vec_id").alias("batch_id"),
            F.col("c.vec_id").alias("corpus_id"),
        )
        .distinct()
    )
    bv = batch.select(F.col("vec_id").alias("batch_id"), F.col("embedding").alias("bv"))
    cv = corpus.select(F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("cv"))
    want = _match_set(
        cands.join(bv, "batch_id")
        .join(cv, "corpus_id")
        .withColumn("cosine", S.cosine(F.col("bv"), F.col("cv")))
        .where(F.col("cosine") >= 0.35)
        .select("batch_id", "corpus_id", "cosine")
    )
    assert got == want and len(got) > 0


def test_adaptive_default_width_recorded_in_sidecar(spark, emb, tmp_path):
    """build with default n_bits must record the corpus-adaptive
    lsh_bits_for(count) in the sidecar, and default (sidecar-resolving)
    appends/matches must work against it without the caller knowing the
    width."""
    path = str(tmp_path / "vindex_adaptive")
    corpus = emb.where(F.expr(CORPUS))
    LX.build(LX.HYPERPLANE, corpus, path)
    meta = LX.read_meta(path)
    assert meta["n_bits"] == S.lsh_bits_for(corpus.count())
    # sidecar-resolved append + match round-trip
    batch = emb.where(F.expr(BATCH))
    LX.append(LX.HYPERPLANE, batch, path)
    out = LX.match(LX.HYPERPLANE, spark, path, batch, 0.35)
    assert out.count() > 0  # batch vectors match themselves in the index


def test_match_plan_computes_batch_codes_only(spark, emb, tmp_path):
    """The no-recompute property: the match plan carries exactly ONE
    ArrowEvalPython (the batch's code UDF) — corpus codes come from the
    index parquet, never from a second UDF pass."""
    path = str(tmp_path / "vindex")
    LX.build(LX.HYPERPLANE, emb.where(F.expr(CORPUS)), path)
    df = LX.match(LX.HYPERPLANE, spark, path, emb.where(F.expr(BATCH)), 0.35)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
