"""Persisted hyperplane-LSH vector index for incremental semantic dedup.

The embedding twin of operators/minhash_index.py: a production pipeline that
near-dedups each incoming batch against the accumulated corpus must not
re-embed or re-hash the corpus per batch. The dedup state IS the index: a
parquet dataset of ``(vec_id, embedding, codes: array<bigint>)`` built once
and appended per accepted batch. Matching a new batch then costs:

* batch-side code computation only (one Arrow-batched matmul over |batch|);
* a scan of the index's (vec_id, codes) columns for the bucket join — the
  embedding column stays on disk for this scan (parquet column pruning);
* a candidate equi-join on (table, bucket) — |batch| x collision rate rows;
* exact-cosine verification against the index's stored embeddings, touching
  only the candidate vec_ids.

The corpus codes are never recomputed on the batch path — the match plan
carries exactly ONE ArrowEvalPython (the batch's), asserted in
tests/test_vector_index.py.

Like the MinHash index, hash parameters (n_tables, n_bits, dim, seed) are
frozen at build time in a ``_index_meta.json`` sidecar written BEFORE the
data (a crash between the writes leaves meta-without-data, which
``index_exists`` treats as 'no index' so self-healing callers rebuild);
mixing hyperplane generations in one index silently destroys recall, so
append/match validate against the sidecar.

At deployment scale the dataset would be written bucketed by hash(vec_id)
for zero-exchange appends, with the exploded (table, bucket, vec_id) form
optionally materialized sorted by (table, bucket) for join locality — layout
refinements of this exact schema.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_dedup_ai_spark.operators.candidates import bucket_pairs
from datafusion_dedup_ai_spark.operators.similarity_search import (
    explode_codes,
    lsh_codes,
    verify_cosine,
)

_META_FILE = "_index_meta.json"
_DATA_DIR = "data"


def _meta_path(path: str) -> str:
    return os.path.join(path, _META_FILE)


def _data_path(path: str) -> str:
    return os.path.join(path, _DATA_DIR)


def _write_meta(path: str, meta: dict) -> None:
    os.makedirs(path, exist_ok=True)
    with open(_meta_path(path), "w") as f:
        json.dump(meta, f, sort_keys=True)


def read_index_meta(path: str) -> dict:
    """The build-time parameter sidecar, or a diagnostic error when data
    exists without one (hyperplane parameters would be unverifiable)."""
    try:
        with open(_meta_path(path)) as f:
            return json.load(f)
    except FileNotFoundError:
        raise ValueError(
            f"vector index at {path} has data but no {_META_FILE} sidecar — "
            "hyperplane parameters are unverifiable; rebuild with "
            "build_vector_index (index_exists() treats this state as "
            "'no index', so self-healing callers rebuild automatically)"
        ) from None


def _resolve_meta(
    path: str,
    n_tables: int | None,
    n_bits: int | None,
    dim: int | None,
    seed: int | None,
) -> tuple[int, int, int, int]:
    """Fill unspecified (None) geometry params from the sidecar, then
    validate any explicitly-given ones against it. None is the right
    default for append/match callers: the geometry is FROZEN at build time
    (possibly corpus-adaptive), so the sidecar — not a caller-side
    constant — is the source of truth."""
    meta = read_index_meta(path)
    want = {"n_tables": n_tables, "n_bits": n_bits, "dim": dim, "seed": seed}
    # .get, not [k]: a sidecar that parses but lacks a key (older format,
    # manual edit) must land in the diagnostic mismatch branch below, not
    # die with a bare KeyError that names neither path nor remedy.
    explicit = {k: v for k, v in want.items() if v is not None}
    got = {k: meta.get(k) for k in explicit}
    if got != explicit:
        raise ValueError(
            f"vector index at {path} was built with {got}; caller requested "
            f"{explicit} — mixing hyperplane generations destroys recall, "
            "rebuild the index instead"
        )
    resolved = tuple(
        want[k] if want[k] is not None else meta.get(k)
        for k in ("n_tables", "n_bits", "dim", "seed")
    )
    if any(v is None for v in resolved):
        raise ValueError(
            f"vector index sidecar at {path} is missing geometry keys: "
            f"{meta} — rebuild with build_vector_index"
        )
    return resolved  # type: ignore[return-value]


def index_exists(path: str) -> bool:
    """True only when the index is COMPLETE: parquet data AND the parameter
    sidecar."""
    return os.path.isfile(_meta_path(path)) and os.path.isdir(_data_path(path))


def build_vector_index(
    emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 16,
    n_bits: int | None = None,
    dim: int = 64,
    seed: int = 7,
) -> None:
    """Create (overwrite) the index from the current corpus: one code pass
    over the embeddings, stored alongside them. Meta BEFORE data (see module
    docstring).

    ``n_bits=None`` (the default) computes the corpus-ADAPTIVE width
    ``lsh_bits_for(count)`` at build time and records it in the sidecar —
    round-6 verdict #3: the old fixed default (4) gave a 100 TB corpus
    16-bucket tables, the exact geometry the scale probe measured as a
    quadratic (exponent 1.43). Geometry stays frozen thereafter (appends
    and matches resolve it from the sidecar); the one extra count() job at
    build time is noise next to the code pass itself. Pass an explicit
    ``n_bits`` to pin a width (e.g. the oracle-fixture geometry)."""
    from datafusion_dedup_ai_spark.operators.similarity_search import (
        lsh_bits_for,
    )

    if n_bits is None:
        n_bits = lsh_bits_for(emb.count())
    _write_meta(
        path,
        {"n_tables": n_tables, "n_bits": n_bits, "dim": dim, "seed": seed},
    )
    out = lsh_codes(
        emb.select(F.col(id_col), F.col(vec_col)),
        id_col, vec_col, n_tables, n_bits, dim, seed,
        passthrough=True,
    )
    out.select(id_col, vec_col, "codes").write.mode("overwrite").parquet(
        _data_path(path)
    )


def append_vector_index(
    emb_new: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int | None = None,
    n_bits: int | None = None,
    dim: int | None = None,
    seed: int | None = None,
) -> None:
    """Append an accepted batch's codes to the index (the per-crawl growth
    path). Unspecified geometry params resolve from the build-time sidecar
    (the source of truth for a frozen, possibly corpus-adaptive width);
    explicitly-given ones are validated against it."""
    n_tables, n_bits, dim, seed = _resolve_meta(path, n_tables, n_bits, dim, seed)
    out = lsh_codes(
        emb_new.select(F.col(id_col), F.col(vec_col)),
        id_col, vec_col, n_tables, n_bits, dim, seed,
        passthrough=True,
    )
    out.select(id_col, vec_col, "codes").write.mode("append").parquet(
        _data_path(path)
    )


def read_vector_index(spark: SparkSession, path: str) -> DataFrame:
    """(vec_id, embedding, codes) for the whole indexed corpus."""
    return spark.read.parquet(_data_path(path))


def incremental_semantic_matches_indexed(
    spark: SparkSession,
    index_path: str,
    batch_emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    n_tables: int | None = None,
    n_bits: int | None = None,
    dim: int | None = None,
    seed: int | None = None,
) -> DataFrame:
    """(batch_id, corpus_id, cosine): batch vectors within ``threshold``
    cosine of an indexed corpus vector, via the persisted codes — the
    semantic twin of minhash_index.incremental_near_dup_matches_indexed.
    Candidates come from the (table, bucket) equi-join of freshly-computed
    BATCH codes against the index's STORED codes (never recomputed: one
    ArrowEvalPython in the plan, asserted in tests); verification is the
    exact order-pinned cosine against the index's stored embeddings,
    restricted to candidate ids. Unspecified geometry params resolve from
    the sidecar; explicit ones are validated against it."""
    n_tables, n_bits, dim, seed = _resolve_meta(
        index_path, n_tables, n_bits, dim, seed
    )
    idx = read_vector_index(spark, index_path)

    b_codes = lsh_codes(batch_emb, id_col, vec_col, n_tables, n_bits, dim, seed)
    b_buckets = explode_codes(b_codes, id_col, "codes", 0, n_bits)
    c_buckets = explode_codes(
        idx.select(id_col, "codes"), id_col, "codes", 0, n_bits
    )
    cands = bucket_pairs(
        b_buckets, ["table", "bucket"], id_col, right=c_buckets
    ).select(F.col("id_a").alias("batch_id"), F.col("id_b").alias("corpus_id"))
    return verify_cosine(
        cands, batch_emb, id_col, vec_col, threshold,
        right=idx, a="batch_id", b="corpus_id",
    )


def compact_vector_index(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite the vector index's data files into size-targeted ones —
    content, codes, and the parameter sidecar unchanged. Same operational
    motive and crash-safe temp-and-swap as compact_minhash_index (the
    streaming semantic ingest appends one small file per accepted
    micro-batch); sources/layout.py::compact_in_place holds the swap."""
    from datafusion_dedup_ai_spark.sources.layout import compact_in_place

    return compact_in_place(spark, _data_path(path), target_file_bytes)
