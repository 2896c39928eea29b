"""Persisted MinHash signature index for incremental near-dup dedup.

``operators.dedup.incremental_near_dup_matches`` re-shingles and re-signs the
whole corpus on every batch — correct, but at 100 TB the corpus pass dwarfs
the batch. In production the dedup state IS the index: a parquet dataset of
``(doc_id, sig: array<bigint>, shingles: array<string>)`` built once and
appended per accepted batch. Matching a new batch then costs:

* batch-side shingle + signature work only (|batch|, not |corpus|);
* a scan of the index's (doc_id, sig) columns for band buckets — pure column
  work, no text access (parquet column pruning keeps the shingle bytes on
  disk for this scan);
* a candidate equi-join on (band, bucket) — |batch| x collision rate rows;
* exact-Jaccard verification against the index's stored shingle sets,
  touching only the candidate doc_ids.

The corpus *text* is never rescanned on the batch path —
tests/test_dedup_ext.py asserts the physical plan reads no corpus parquet.

Index layout notes for a real deployment: the dataset should be written
bucketed by a hash of doc_id (zero-exchange growth appends) with the band
buckets optionally materialized as a second narrow dataset sorted by
(band, bucket) for join locality; both are layout refinements of this exact
schema, not a different design. Signature parameters (num_hashes, seed,
shingle function) are frozen at build time — mixing parameter generations in
one index silently destroys recall, so they are recorded in a sidecar
``_index_meta.json`` and validated on append/match.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_dedup_ai_spark.operators.candidates import bucket_pairs
from datafusion_dedup_ai_spark.operators.dedup import (
    MINHASH_P,
    band_buckets,
    minhash_signatures,
    verify_jaccard,
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


def _read_meta(path: str) -> dict:
    with open(_meta_path(path)) as f:
        return json.load(f)


def _check_meta(path: str, num_hashes: int, bands: int, seed: int) -> None:
    try:
        meta = _read_meta(path)
    except FileNotFoundError:
        raise ValueError(
            f"minhash index at {path} has data but no {_META_FILE} sidecar "
            "(interrupted build from a pre-sidecar version, or manual "
            "tampering) — signature parameters are unverifiable; rebuild "
            "with build_minhash_index (index_exists() treats this state as "
            "'no index', so self-healing callers rebuild automatically)"
        ) from None
    want = {
        "num_hashes": num_hashes,
        "bands": bands,
        "seed": seed,
        "modulus": MINHASH_P,
    }
    # .get: a sidecar written before the modulus was recorded (round-9
    # indexes, built with the order-degenerate 2^61-1 family) reads as
    # modulus=None != MINHASH_P — exactly the rebuild-forcing mismatch we
    # want, since cross-modulus signatures never match each other.
    got = {k: meta.get(k) for k in want}
    if got != want:
        raise ValueError(
            f"minhash index at {path} was built with {got}; "
            f"caller requested {want} — mixing signature generations "
            "destroys recall, rebuild the index instead"
        )


def index_exists(path: str) -> bool:
    """True only when the index is COMPLETE: parquet data AND the parameter
    sidecar. A data dir without the sidecar (crash during a legacy build) is
    'no index' — self-healing callers rebuild instead of wedging on a
    missing-meta error."""
    return os.path.isfile(_meta_path(path)) and os.path.isdir(_data_path(path))


def build_minhash_index(
    shingled: DataFrame,
    path: str,
    id_col: str = "doc_id",
    shingles_col: str = "shingles",
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> None:
    """Create (overwrite) the index from the current corpus: one signature
    pass over the shingle sets, stored alongside them. One shuffle (the
    signature groupBy); the join back to shingles is on the already-grouped
    id so AQE keeps it local-ish at any scale."""
    # Meta BEFORE data: a crash between the two writes must never leave data
    # with no sidecar — that state wedges every subsequent _check_meta caller.
    # Meta-without-data is safe (index_exists() is false, callers rebuild and
    # the rebuild overwrites the sidecar).
    _write_meta(
        path,
        {
            "num_hashes": num_hashes,
            "bands": bands,
            "seed": seed,
            "modulus": MINHASH_P,
        },
    )
    sigs = minhash_signatures(shingled, id_col, shingles_col, num_hashes, seed)
    out = shingled.select(F.col(id_col), F.col(shingles_col)).join(sigs, id_col)
    out.select(id_col, "sig", shingles_col).write.mode("overwrite").parquet(
        _data_path(path)
    )


def append_minhash_index(
    shingled_new: DataFrame,
    path: str,
    id_col: str = "doc_id",
    shingles_col: str = "shingles",
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> None:
    """Append an accepted batch's signatures to the index (the per-crawl
    growth path). Parameters are validated against the build-time sidecar."""
    _check_meta(path, num_hashes, bands, seed)
    sigs = minhash_signatures(shingled_new, id_col, shingles_col, num_hashes, seed)
    out = shingled_new.select(F.col(id_col), F.col(shingles_col)).join(sigs, id_col)
    out.select(id_col, "sig", shingles_col).write.mode("append").parquet(
        _data_path(path)
    )


def read_minhash_index(spark: SparkSession, path: str) -> DataFrame:
    """(doc_id, sig, shingles) for the whole indexed corpus."""
    return spark.read.parquet(_data_path(path))


def incremental_near_dup_matches_indexed(
    spark: SparkSession,
    index_path: str,
    batch_shingled: DataFrame,
    id_col: str = "doc_id",
    shingles_col: str = "shingles",
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.2,
    seed: int = 42,
    persist: bool = True,
) -> DataFrame:
    """(batch_id, corpus_id, n_common, n_union, jaccard): same contract and
    same arithmetic as ``dedup.incremental_near_dup_matches`` (pinned equal
    in tests/test_dedup_ext.py), but the corpus side comes from the persisted
    index: signatures are READ (columns doc_id+sig), shingle sets are READ
    (columns doc_id+shingles, candidate ids only), and the corpus text is
    never touched. ``persist=False`` for callers that already cached the
    batch frame and release it themselves (the streaming sink does, per
    micro-batch). The default persist lives for the session — long-running
    batch callers issuing many DISTINCT batch frames should pass
    persist=False and manage the cache, or clear the catalog cache between
    batches (bench.py's pattern), or executor storage grows per call."""
    from pyspark import StorageLevel

    _check_meta(index_path, num_hashes, bands, seed)
    rows_per_band = num_hashes // bands
    idx = read_minhash_index(spark, index_path)

    if persist:
        batch_shingled = batch_shingled.persist(StorageLevel.MEMORY_AND_DISK)
    b_sigs = minhash_signatures(batch_shingled, id_col, shingles_col, num_hashes, seed)

    cands = bucket_pairs(
        band_buckets(b_sigs, id_col, "sig", bands, rows_per_band),
        ["band", "bucket"],
        id_col,
        right=band_buckets(idx, id_col, "sig", bands, rows_per_band),
    )
    return verify_jaccard(
        cands, batch_shingled, id_col, shingles_col, threshold, right=idx
    ).select(
        F.col("id_a").alias("batch_id"),
        F.col("id_b").alias("corpus_id"),
        "n_common",
        "n_union",
        "jaccard",
    )


def compact_minhash_index(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite the index's data files into size-targeted ones, preserving
    content and the parameter sidecar. Returns the output file count.

    Why it exists: every accepted streaming micro-batch appends one (or
    more) small parquet files — after a day of per-crawl ingest the index
    is thousands of KB-sized files, and every match pays a footer read and
    a task per file (the classic small-files decay; see sources/layout.py).
    Crash-safe the same way the build is: the rewrite lands in a temp dir
    next to the index and two renames swap it live — a crash before the
    swap leaves the live index untouched; between the renames the old data
    survives under ``data.old`` (sources/layout.py::compact_in_place holds
    the swap logic)."""
    from datafusion_dedup_ai_spark.sources.layout import compact_in_place

    return compact_in_place(spark, _data_path(path), target_file_bytes)
