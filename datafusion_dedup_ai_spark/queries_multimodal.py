"""Multimodal query pack: payload stats and frame sampling are oracle-gated,
now over a TRUE parquet BINARY column — ``operators.multimodal.MEDIA`` is a
deterministic binary ``materialize.Fixture`` that both the Spark queries and
the DuckDB oracles read. The mapInPandas feature extractor is rows-only
(its arithmetic is pinned in tests/test_multimodal.py).

DuckDB 1.0.0 has no md5(BLOB), so the content-hash column both sides emit is
md5(hex(payload)) — hex() of a BLOB is uppercase VARCHAR in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_dedup_ai_spark.operators import multimodal as M
from datafusion_dedup_ai_spark.registry import register


@register(
    "media_payload_stats",
    lambda: f"""
    SELECT doc_id, media_type,
           CAST(octet_length(payload) AS BIGINT) AS n_bytes,
           md5(hex(payload)) AS payload_md5,
           n_frames
    FROM '{M.MEDIA.glob()}'
    """,
)
def q_media_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary handling: payload byte length + content hash + typed
    metadata, computed on an actual parquet BINARY column."""
    media = M.MEDIA.read(spark, sf_dir)
    return media.select(
        "doc_id",
        "media_type",
        F.octet_length("payload").cast("bigint").alias("n_bytes"),
        F.md5(F.hex("payload")).alias("payload_md5"),
        "n_frames",
    )


@register(
    "media_frame_samples",
    lambda: f"""
    WITH video AS (
        SELECT doc_id, n_frames,
               CAST(octet_length(payload) AS BIGINT) AS n_bytes
        FROM '{M.MEDIA.glob()}'
        WHERE media_type = 'video'
    ), frames AS (
        SELECT doc_id, n_frames, n_bytes,
               unnest(range(0, n_frames)) AS frame_idx
        FROM video
    )
    SELECT doc_id, n_frames, frame_idx,
           CAST(frame_idx * CAST(floor(n_bytes / n_frames) AS BIGINT) AS BIGINT)
               AS byte_offset
    FROM frames
    """,
)
def q_media_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evenly-spaced frame sampling over video payloads (sequence +
    explode)."""
    media = M.MEDIA.read(spark, sf_dir)
    return M.sample_frames(media)


def _media_feature_histograms_oracle() -> str:
    """Hash-gate for the Arrow featurizer (round-10 verdict #8, upgrading
    the last deterministic rows-only row): n_bytes, all 16 high-nibble
    bins, and their JSON rendering are re-derived from the RAW payload in
    SQL (the byte-walk of the media_nibble_histograms oracle — the
    featurizer's ``arr >> 4`` histogram IS the high-nibble count), so the
    featurizer's arithmetic is cross-engine verified bin by bin; only the
    Shannon-entropy double joins in from the materialized fixture (numpy's
    pairwise log2-sum has no ULP-stable SQL replay; its formula is pinned
    in pure Python in tests/test_multimodal.py)."""
    nibbles = "0123456789ABCDEF"
    bins = [
        f"CAST(length(hi) - length(translate(hi, '{c}', '')) AS BIGINT)"
        for c in nibbles
    ]
    json_expr = "'[' || " + " || ',' || ".join(bins) + " || ']'"
    return f"""
    WITH h AS (
        SELECT doc_id, media_type,
               CAST(octet_length(payload) AS BIGINT) AS n_bytes,
               regexp_replace(hex(payload), '(.)(.)', '\\1', 'g') AS hi
        FROM '{M.MEDIA.glob()}'
    )
    SELECT h.doc_id, h.media_type, h.n_bytes,
           f.byte_entropy,
           {json_expr} AS byte_histogram_json
    FROM h JOIN '{M.MEDIA_FEATURES.glob()}' f ON f.doc_id = h.doc_id
    """


@register("media_feature_histograms", _media_feature_histograms_oracle)
def q_media_feature_histograms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas featurization of binary payloads (16-bin
    byte histogram + entropy) — the plumbing a real image/audio featurizer
    drops into, fed by the true-binary parquet scan. Hash-gated since
    round 11: the oracle re-derives n_bytes + all 16 bins + the JSON
    rendering from the raw payload in SQL and joins the entropy from the
    materialized featurizer fixture (see
    _media_feature_histograms_oracle)."""
    media = M.MEDIA.read(spark, sf_dir)
    feats = M.extract_features(media)
    # Serialize the histogram for the contract surface: the driver's rows-only
    # canonicalizer sorts every column and array cells are unhashable in
    # pandas. extract_features keeps the array form for library callers.
    return feats.select(
        "doc_id",
        "media_type",
        "n_bytes",
        "byte_entropy",
        F.to_json("byte_histogram").alias("byte_histogram_json"),
    )
