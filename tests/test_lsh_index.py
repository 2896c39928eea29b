"""The persisted-LSH-index contract, checked for both kinds (MinHash
signatures over shingle sets, hyperplane codes over embeddings): append ==
rebuild, parameter generations are frozen, an incomplete index does not
exist, compaction changes only the file count, and the sidecar is the
source of truth for parameters the caller leaves out. Kind-specific checks
live with their family: tests/test_dedup_ext.py (MinHash) and
tests/test_vector_index.py (hyperplane)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from datafusion_dedup_ai_spark.functions import text as T
from datafusion_dedup_ai_spark.operators import lsh_index as LX
from datafusion_dedup_ai_spark.sources.layout import parquet_files
from datafusion_dedup_ai_spark.sources.readers import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    sh = d.select("doc_id", T.distinct_shingles(F.col("text")).alias("shingles"))
    sh.cache()
    return sh


@pytest.fixture(scope="module")
def vecs(spark, sf_dir):
    df = load_table(spark, sf_dir, "embeddings")
    df.cache()
    return df


# kind, source fixture, match threshold, a parameter the build did not use,
# and the error text of a generation mismatch
CASES = {
    "minhash": (LX.MINHASH, "docs", 0.2, {"seed": 7}, "signature generations"),
    "hyperplane": (
        LX.HYPERPLANE, "vecs", 0.35, {"n_tables": 8}, "hyperplane generations",
    ),
}


@pytest.fixture(params=sorted(CASES))
def case(request):
    kind, source, threshold, other_params, mismatch = CASES[request.param]
    frame = request.getfixturevalue(source)
    key = F.col(kind.id_col) % 10
    return (
        kind, frame.where(key < 8), frame.where(key >= 8),
        threshold, other_params, mismatch,
    )


def _matches(df) -> set:
    return {
        tuple(round(v, 12) if isinstance(v, float) else v for v in r)
        for r in df.collect()
    }


def _params(path: str, kind) -> dict:
    meta = LX.read_meta(path)
    return {k: meta[k] for k in kind.defaults}


def test_append_equals_rebuild(spark, case, tmp_path):
    """An index grown by appends must match one rebuilt from the union at
    the same parameters — the per-crawl growth path adds rows, never
    changes semantics."""
    kind, corpus, batch, thr, _, _ = case
    parity = F.col(kind.id_col) % 2
    grown, fresh = str(tmp_path / "grown"), str(tmp_path / "fresh")
    LX.build(kind, corpus.where(parity == 0), grown)
    LX.append(kind, corpus.where(parity == 1), grown)
    # pinned to the grown index's parameters: an adaptive default would
    # pick its width from the larger union
    LX.build(kind, corpus, fresh, **_params(grown, kind))
    got = _matches(LX.match(kind, spark, grown, batch, thr))
    assert got == _matches(LX.match(kind, spark, fresh, batch, thr))
    assert got, "expected at least one planted near-dup match"


def test_generation_mismatch_rejected(spark, case, tmp_path):
    """Append and match with a parameter other than the build's must fail
    loudly — mixing generations silently destroys recall."""
    kind, corpus, batch, thr, other_params, mismatch = case
    path = str(tmp_path / "idx")
    LX.build(kind, corpus.limit(20), path)
    with pytest.raises(ValueError, match=mismatch):
        LX.append(kind, batch, path, **other_params)
    with pytest.raises(ValueError, match=mismatch):
        LX.match(kind, spark, path, batch, thr, **other_params)


def test_data_without_sidecar_is_no_index(spark, case, tmp_path):
    """Data whose sidecar is gone (a legacy build, tampering) reads as 'no
    index' for self-healing callers, direct callers get a rebuild
    instruction, and a rebuild repairs the state in place."""
    kind, corpus, _, thr, _, _ = case
    small = corpus.limit(20)
    path = str(tmp_path / "idx")
    LX.build(kind, small, path)
    assert LX.exists(path)
    os.remove(LX.meta_path(path))
    assert not LX.exists(path)
    with pytest.raises(ValueError, match="rebuild"):
        LX.match(kind, spark, path, small, thr)
    with pytest.raises(ValueError, match="rebuild"):
        LX.append(kind, small, path)
    LX.build(kind, small, path)
    assert LX.exists(path)
    # every item matches itself
    assert LX.match(kind, spark, path, small, thr).count() > 0


def test_sidecar_without_data_is_no_index(case, tmp_path):
    """The build writes the sidecar BEFORE the data, so the only state a
    crash inside a build leaves is sidecar-without-data: no index yet."""
    kind, corpus, _, _, _, _ = case
    path = str(tmp_path / "idx")
    assert not LX.exists(path)
    LX.build(kind, corpus.limit(20), path)
    shutil.rmtree(LX.data_path(path))
    assert os.path.isfile(LX.meta_path(path))
    assert not LX.exists(path)


def test_compaction_keeps_content_matches_and_sidecar(spark, case, tmp_path):
    """Simulate streaming decay (many tiny appends), compact, and require
    identical index content, fewer files, an intact sidecar and identical
    matches through the compacted index."""
    kind, corpus, batch, thr, _, _ = case
    path = str(tmp_path / "idx")
    parts = [corpus.where(F.col(kind.id_col) % 4 == i) for i in range(4)]
    LX.build(kind, parts[0].repartition(8), path)
    for p in parts[1:]:
        LX.append(kind, p.repartition(8), path)

    def n_files():
        return len(parquet_files(LX.data_path(path)))

    def content():
        return {
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in LX.read(spark, path).collect()
        }

    before_files, before, meta = n_files(), content(), LX.read_meta(path)
    pre = _matches(LX.match(kind, spark, path, batch, thr))
    n_out = LX.compact(spark, path)
    assert n_out == n_files() < before_files
    assert content() == before
    assert LX.read_meta(path) == meta and LX.exists(path)
    assert _matches(LX.match(kind, spark, path, batch, thr)) == pre


def test_sidecar_parameters_apply_when_caller_omits_them(spark, docs, tmp_path):
    """A MinHash index built at 32 hashes / 8 bands is appended to and
    matched with no parameters: both read the sidecar, so the result equals
    a fresh 32/8 build matched at explicit 32/8."""
    corpus = docs.where(F.expr("doc_id % 10 < 8"))
    batch = docs.where(F.expr("doc_id % 10 >= 8"))
    grown, fresh = str(tmp_path / "grown"), str(tmp_path / "fresh")
    LX.build(LX.MINHASH, corpus.where(F.expr("doc_id % 2 = 0")), grown,
             num_hashes=32, bands=8)
    LX.append(LX.MINHASH, corpus.where(F.expr("doc_id % 2 = 1")), grown)
    LX.build(LX.MINHASH, corpus, fresh, num_hashes=32, bands=8)
    got = _matches(LX.match(LX.MINHASH, spark, grown, batch, 0.2))
    want = _matches(
        LX.match(LX.MINHASH, spark, fresh, batch, 0.2, num_hashes=32, bands=8)
    )
    assert got == want and got
    assert _params(grown, LX.MINHASH) == {"num_hashes": 32, "bands": 8, "seed": 42}
