"""Persisted LSH index for incremental near-dup matching, for both LSH
families: MinHash signatures over shingle sets and hyperplane codes over
embeddings.

A pipeline that near-dedups each incoming batch against the accumulated
corpus must not re-shingle, re-sign or re-code the corpus per batch. The
dedup state IS the index: a parquet dataset of one row per corpus item —
``(doc_id, sig, shingles)`` for ``MINHASH``, ``(vec_id, embedding, codes)``
for ``HYPERPLANE`` — built once and appended per accepted batch. Matching a
batch then costs:

* batch-side key work only (signatures or codes of |batch| rows);
* a scan of the index's (id, key) columns for the bucket join — parquet
  column pruning keeps the payload (shingles, embedding) on disk for it;
* a candidate equi-join on the bucket columns — |batch| x collision rate
  rows (``candidates.bucket_pairs``);
* exact verification (Jaccard or cosine) against the index's stored
  payload, touching only the candidate ids.

Corpus text is never rescanned and corpus codes are never recomputed on the
match path (both pinned by plan tests).

On disk: ``<path>/_index_meta.json`` (the parameter sidecar) plus
``<path>/data/`` (the parquet rows). The build writes the sidecar BEFORE the
data, so a crash between the two leaves sidecar-without-data, which
``exists`` reports as 'no index' and a rebuild repairs.

Parameter rule: the sidecar is the source of truth. Parameters are frozen
per index generation, because mixing generations in one index silently
destroys recall. On append and match, a parameter left as ``None`` is read
from the sidecar, a given one must equal the sidecar's value, and the family
constants (the MinHash ``modulus``) are always checked.

At deployment scale the data would be written bucketed by a hash of the id
(zero-exchange appends), with the exploded bucket form optionally
materialized sorted by its bucket columns for join locality — layout
refinements of this exact schema.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_dedup_ai_spark.operators.candidates import bucket_pairs
from datafusion_dedup_ai_spark.operators.dedup import (
    MINHASH_P,
    band_buckets,
    minhash_signatures,
    verify_jaccard,
)
from datafusion_dedup_ai_spark.operators.similarity_search import (
    explode_codes,
    lsh_bits_for,
    lsh_codes,
    verify_cosine,
)

_META_FILE = "_index_meta.json"


@dataclass(frozen=True)
class IndexKind:
    """What differs between the two LSH families; everything else in this
    module is shared. ``defaults`` are the build defaults (a callable value
    is computed from the corpus frame); ``constants`` are recorded in the
    sidecar and checked on every append and match. ``rows`` is the stored
    (id, key, payload) form; ``keys`` the batch-side (id, key_col) form;
    ``buckets`` explodes an (id, key_col) frame into (id, *bucket_cols);
    ``verify`` turns (id_a=batch, id_b=corpus) candidates into matches."""

    generations: str
    id_col: str
    payload_col: str
    key_col: str
    bucket_cols: tuple[str, str]
    defaults: dict
    constants: dict
    rows: Callable[[DataFrame, str, str, dict], DataFrame]
    keys: Callable[[DataFrame, str, str, dict], DataFrame]
    buckets: Callable[[DataFrame, str, dict], DataFrame]
    verify: Callable[
        [DataFrame, DataFrame, DataFrame, str, str, float], DataFrame
    ]


def _minhash_rows(shingled: DataFrame, id_col: str, sh_col: str, p: dict) -> DataFrame:
    # one shuffle (the signature groupBy); the join back to the shingle sets
    # is on the already-grouped id
    sigs = _minhash_keys(shingled, id_col, sh_col, p)
    out = shingled.select(F.col(id_col), F.col(sh_col)).join(sigs, id_col)
    return out.select(id_col, "sig", sh_col)


def _minhash_keys(shingled: DataFrame, id_col: str, sh_col: str, p: dict) -> DataFrame:
    return minhash_signatures(shingled, id_col, sh_col, p["num_hashes"], p["seed"])


def _minhash_buckets(sigs: DataFrame, id_col: str, p: dict) -> DataFrame:
    return band_buckets(
        sigs, id_col, "sig", p["bands"], p["num_hashes"] // p["bands"]
    )


def _minhash_verify(cands, batch, idx, id_col, sh_col, threshold) -> DataFrame:
    return verify_jaccard(
        cands, batch, id_col, sh_col, threshold, right=idx
    ).select(
        F.col("id_a").alias("batch_id"),
        F.col("id_b").alias("corpus_id"),
        "n_common",
        "n_union",
        "jaccard",
    )


def _hyperplane_rows(emb: DataFrame, id_col: str, vec_col: str, p: dict) -> DataFrame:
    # passthrough: a single map stage, no recombination join
    out = lsh_codes(
        emb.select(F.col(id_col), F.col(vec_col)),
        id_col, vec_col, p["n_tables"], p["n_bits"], p["dim"], p["seed"],
        passthrough=True,
    )
    return out.select(id_col, vec_col, "codes")


def _hyperplane_keys(emb: DataFrame, id_col: str, vec_col: str, p: dict) -> DataFrame:
    return lsh_codes(
        emb, id_col, vec_col, p["n_tables"], p["n_bits"], p["dim"], p["seed"]
    )


def _hyperplane_buckets(codes: DataFrame, id_col: str, p: dict) -> DataFrame:
    return explode_codes(codes, id_col, "codes", 0, p["n_bits"])


def _hyperplane_verify(cands, batch, idx, id_col, vec_col, threshold) -> DataFrame:
    return verify_cosine(
        cands.select(
            F.col("id_a").alias("batch_id"), F.col("id_b").alias("corpus_id")
        ),
        batch, id_col, vec_col, threshold,
        right=idx, a="batch_id", b="corpus_id",
    )


MINHASH = IndexKind(
    generations="signature generations",
    id_col="doc_id",
    payload_col="shingles",
    key_col="sig",
    bucket_cols=("band", "bucket"),
    defaults={"num_hashes": 64, "bands": 16, "seed": 42},
    # a sidecar without the modulus (an index built with the older 2^61-1
    # family) reads as modulus=None and is rejected: cross-modulus
    # signatures never match each other
    constants={"modulus": MINHASH_P},
    rows=_minhash_rows,
    keys=_minhash_keys,
    buckets=_minhash_buckets,
    verify=_minhash_verify,
)

HYPERPLANE = IndexKind(
    generations="hyperplane generations",
    id_col="vec_id",
    payload_col="embedding",
    key_col="codes",
    bucket_cols=("table", "bucket"),
    # n_bits not given: the corpus-adaptive width lsh_bits_for(count), frozen
    # in the sidecar (a fixed narrow width makes the bucket join quadratic
    # at scale). Pass n_bits to pin a width, e.g. a fixture geometry.
    defaults={
        "n_tables": 16,
        "n_bits": lambda emb: lsh_bits_for(emb.count()),
        "dim": 64,
        "seed": 7,
    },
    constants={},
    rows=_hyperplane_rows,
    keys=_hyperplane_keys,
    buckets=_hyperplane_buckets,
    verify=_hyperplane_verify,
)


def meta_path(path: str) -> str:
    return os.path.join(path, _META_FILE)


def data_path(path: str) -> str:
    return os.path.join(path, "data")


def exists(path: str) -> bool:
    """True only when the index is COMPLETE: parquet data AND the parameter
    sidecar. Either one alone reads as 'no index', so self-healing callers
    rebuild instead of wedging on a missing-sidecar error."""
    return os.path.isfile(meta_path(path)) and os.path.isdir(data_path(path))


def read_meta(path: str) -> dict:
    """The build-time parameter sidecar, or a rebuild instruction when it is
    missing (the parameters of any data there are unverifiable)."""
    try:
        with open(meta_path(path)) as f:
            return json.load(f)
    except FileNotFoundError:
        raise ValueError(
            f"index at {path} has no {_META_FILE} sidecar — its parameters "
            "are unverifiable; rebuild it with lsh_index.build (exists() "
            "treats this state as 'no index', so self-healing callers "
            "rebuild automatically)"
        ) from None


def read(spark: SparkSession, path: str) -> DataFrame:
    """The stored rows of the whole indexed corpus."""
    return spark.read.parquet(data_path(path))


def _resolve(kind: IndexKind, path: str, given: dict) -> dict:
    """The parameter rule (module docstring): ``None`` reads from the
    sidecar, given values and family constants must equal it."""
    meta = read_meta(path)
    want = {k: v for k, v in given.items() if v is not None} | kind.constants
    # .get: a sidecar that lacks a key (older format, manual edit) lands in
    # the mismatch branch, not in a bare KeyError
    got = {k: meta.get(k) for k in want}
    if got != want:
        raise ValueError(
            f"index at {path} was built with {got}; caller requested "
            f"{want} — mixing {kind.generations} destroys recall, rebuild "
            "the index instead"
        )
    params = {k: meta.get(k) for k in kind.defaults}
    if None in params.values():
        raise ValueError(
            f"index sidecar at {path} is missing parameter keys: "
            f"{meta} — rebuild the index"
        )
    return params


def build(
    kind: IndexKind,
    corpus: DataFrame,
    path: str,
    id_col: str | None = None,
    payload_col: str | None = None,
    **params,
) -> None:
    """Create (overwrite) the index from the current corpus. Parameters not
    given take the kind's build defaults; all of them are frozen in the
    sidecar, which is written before the data."""
    unknown = set(params) - set(kind.defaults)
    if unknown:
        raise TypeError(f"unknown index parameters {sorted(unknown)}")
    p = {
        k: params[k] if params.get(k) is not None
        else (v(corpus) if callable(v) else v)
        for k, v in kind.defaults.items()
    }
    os.makedirs(path, exist_ok=True)
    with open(meta_path(path), "w") as f:
        json.dump(p | kind.constants, f, sort_keys=True)
    kind.rows(
        corpus, id_col or kind.id_col, payload_col or kind.payload_col, p
    ).write.mode("overwrite").parquet(data_path(path))


def append(
    kind: IndexKind,
    batch: DataFrame,
    path: str,
    id_col: str | None = None,
    payload_col: str | None = None,
    **params,
) -> None:
    """Append an accepted batch to the index (the per-crawl growth path), at
    the sidecar's parameters."""
    p = _resolve(kind, path, params)
    kind.rows(
        batch, id_col or kind.id_col, payload_col or kind.payload_col, p
    ).write.mode("append").parquet(data_path(path))


def match(
    kind: IndexKind,
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    threshold: float,
    id_col: str | None = None,
    payload_col: str | None = None,
    **params,
) -> DataFrame:
    """(batch_id, corpus_id, <score columns>): batch items within
    ``threshold`` of an indexed corpus item — ``n_common, n_union, jaccard``
    for MINHASH, ``cosine`` for HYPERPLANE. Candidates come from the bucket
    join of freshly computed BATCH keys against the index's STORED keys;
    verification reads the stored payload of candidate ids only. ``batch``
    is consumed twice (keys and verify); a caller whose batch frame is
    expensive persists it."""
    id_col, payload_col = id_col or kind.id_col, payload_col or kind.payload_col
    p = _resolve(kind, path, params)
    idx = read(spark, path)
    cands = bucket_pairs(
        kind.buckets(kind.keys(batch, id_col, payload_col, p), id_col, p),
        list(kind.bucket_cols),
        id_col,
        right=kind.buckets(idx.select(id_col, kind.key_col), id_col, p),
    )
    return kind.verify(cands, batch, idx, id_col, payload_col, threshold)


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite the index's data files into size-targeted ones, keeping the
    content and the sidecar. Returns the output file count. Every accepted
    streaming micro-batch appends at least one small file, and every match
    pays a footer read and a task per file; the crash-safe temp-and-swap is
    ``sources.layout.compact_in_place``."""
    from datafusion_dedup_ai_spark.sources.layout import compact_in_place

    return compact_in_place(spark, data_path(path), target_file_bytes)
