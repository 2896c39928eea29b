"""Multimodal plumbing: binary schema, Arrow featurizer invariants, frame
sampling bounds, the decode seam, and the parquet-fixture contract."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from datafusion_dedup_ai_spark import materialize as MZ
from datafusion_dedup_ai_spark.operators import hash_fixtures as HF
from datafusion_dedup_ai_spark.operators import multimodal as M
from datafusion_dedup_ai_spark.operators import semantic_dedup as SD
from datafusion_dedup_ai_spark.sources.readers import load_table


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    # the materialized fixture — the true parquet BINARY scan queries use
    df = M.MEDIA.read(spark, sf_dir)
    df.cache()
    return df


def test_payload_is_binary(media):
    assert isinstance(media.schema["payload"].dataType, BinaryType)


def test_fixture_is_true_binary_parquet(spark, sf_dir, media):
    """The fixture must be real binary (not utf8 text round-tripped): parquet
    physical type BYTE_ARRAY with no logical String annotation, and payloads
    that fail utf8 decoding for typical rows."""
    import duckdb

    path = M.MEDIA.path(sf_dir)
    part = [
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    ][0]
    row = duckdb.sql(
        f"SELECT type, logical_type FROM parquet_schema('{part}') "
        "WHERE name = 'payload'"
    ).fetchall()[0]
    assert row[0] == "BYTE_ARRAY" and (row[1] is None or "String" not in str(row[1])), row

    non_utf8 = 0
    for r in media.select("payload").limit(20).collect():
        try:
            bytes(r["payload"]).decode("utf-8")
        except UnicodeDecodeError:
            non_utf8 += 1
    assert non_utf8 > 0, "payloads decode as utf8 — fixture is still text-as-bytes"


def test_fixture_matches_plan_side_derivation(spark, sf_dir, media):
    """Materialized parquet == the deterministic derivation it snapshots."""
    derived = M.media_table(load_table(spark, sf_dir, "documents"))
    a = {
        r["doc_id"]: (bytes(r["payload"]), r["media_type"], r["n_frames"])
        for r in media.collect()
    }
    b = {
        r["doc_id"]: (bytes(r["payload"]), r["media_type"], r["n_frames"])
        for r in derived.collect()
    }
    assert a == b


def test_feature_histogram_invariants(media):
    feats = M.extract_features(media.limit(50)).collect()
    assert len(feats) == 50
    for r in feats:
        assert len(r["byte_histogram"]) == 16
        assert sum(r["byte_histogram"]) == r["n_bytes"]
        assert 0.0 <= r["byte_entropy"] <= 4.0  # 16 buckets -> max 4 bits


def test_frame_samples_within_payload(media):
    frames = M.sample_frames(media).collect()
    assert frames
    sizes = {
        r["doc_id"]: r["n_bytes"]
        for r in media.select(
            "doc_id", F.octet_length("payload").alias("n_bytes")
        ).collect()
    }
    for r in frames:
        assert 0 <= r["frame_idx"] < r["n_frames"]
        assert 0 <= r["byte_offset"] < sizes[r["doc_id"]]


_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_FIXTURES = sorted(
    (
        f
        for mod in (MZ, HF, M, SD)
        for f in vars(mod).values()
        if isinstance(f, MZ.Fixture)
    ),
    key=lambda f: f.name,
)
# The fixture directory names stay fixed: trees already on disk and
# standalone oracle consumers resolve them by name.
_FIXTURE_NAMES = [
    "bpe_pieces",
    "clusters",
    "lsh_buckets",
    "lsh_buckets_adaptive",
    "lsh_query_margins",
    "media",
    "media_features",
    "semantic_cells",
    "shingle_hashes",
    "token_hashes",
]


@pytest.mark.parametrize("fixture", _FIXTURES, ids=lambda f: f.name)
def test_oracle_resolution_materializes_fixture(spark, sf_dir, fixture):
    """The fixture contract, per parquet fixture: (1) it lives at
    ``.materialized/<sf_cache_key(sf_dir)>/<name>.parquet``; (2) execution-
    order independence — resolving its oracle glob (re)materializes it when
    a SparkSession is active, since the driver may run oracles BEFORE the
    Spark query and a stale copy must be refreshed before either side reads
    it; (3) a second materialize in the same process does not rewrite it."""
    assert [f.name for f in _FIXTURES] == _FIXTURE_NAMES
    path = fixture.path(sf_dir)
    assert path == os.path.join(
        _REPO_ROOT, ".materialized", MZ.sf_cache_key(sf_dir), fixture.name + ".parquet"
    )
    shutil.rmtree(path, ignore_errors=True)
    MZ.forget(os.path.basename(path))
    assert fixture.glob() == os.path.join(path, "*.parquet")
    assert os.path.isdir(path), "oracle resolution did not materialize"
    before = os.stat(path)
    assert fixture.materialize(spark, sf_dir) == path
    after = os.stat(path)
    assert (after.st_ino, after.st_mtime_ns) == (before.st_ino, before.st_mtime_ns)


def test_pluggable_decoder_drives_featurizer(media):
    """The decode_fn seam end-to-end through the REAL Arrow featurizer path:
    a fake decoder that 'decodes' a payload to its first 8 bytes repeated 3x
    (deterministic, codec-free) must change n_bytes/histogram to reflect the
    DECODED samples — proving codec-present environments plug in without
    editing the module."""

    def fake_decode(payload: bytes, media_type: str):
        import numpy as np

        head = np.frombuffer(payload[:8], dtype=np.uint8)
        return np.tile(head, 3)

    rows = {
        r["doc_id"]: r
        for r in M.extract_features(media.limit(5), decode_fn=fake_decode).collect()
    }
    raw = {r["doc_id"]: r for r in M.extract_features(media.limit(5)).collect()}
    assert rows, "featurizer yielded no rows"
    for doc_id, r in rows.items():
        assert r["n_bytes"] == 24  # 8 head bytes x 3 — decoded, not raw, length
        assert sum(r["byte_histogram"]) == 24
        assert all(h % 3 == 0 for h in r["byte_histogram"])  # tiled samples
        assert raw[doc_id]["n_bytes"] > 24  # raw path unaffected / distinct


def test_enricher_shape(spark):
    from datafusion_dedup_ai_spark.config import DedupConfig
    from datafusion_dedup_ai_spark.enrich import StubEnricher
    from datafusion_dedup_ai_spark.plans.pipeline import dedup_pipeline

    df = spark.createDataFrame(
        [(0, "Acme Software Pvt Ltd"), (1, "Acme Software"), (2, "Big Bank Inc")],
        ["idx", "name"],
    )
    out = dedup_pipeline(
        df, "name", DedupConfig(), order_col="idx", enricher=StubEnricher()
    ).collect()
    rows = {r["row_order"]: r for r in out}
    assert rows[0]["website"] == "acme-software.example.com"
    assert rows[0]["industry"] == "TECHNOLOGY"
    assert rows[2]["industry"] == "FINANCE"
    # enrichment is per-canonical: members of one cluster share values
    assert rows[0]["website"] == rows[1]["website"]


def test_perceptual_signature_matches_python_reference(spark, sf_dir):
    """Replay the aHash recipe (64 block means vs their median) in pure
    Python/numpy on every payload and require bit-exact signatures."""
    import numpy as np

    media = M.MEDIA.read(spark, sf_dir)
    rows = media.select("doc_id", "payload").collect()
    got = {
        r["doc_id"]: r["psig"]
        for r in M.perceptual_signature(media).collect()
    }
    for r in rows:
        arr = np.frombuffer(r["payload"], dtype=np.uint8)
        if len(arr) < 64:
            arr = np.pad(arr, (0, 64 - len(arr)))
        means = np.array(
            [b.mean() for b in np.array_split(arr.astype(np.float64), 64)]
        )
        bits = means > np.median(means)
        v = sum(1 << i for i, b in enumerate(bits) if b)
        if v >= 1 << 63:
            v -= 1 << 64
        assert got[r["doc_id"]] == v, r["doc_id"]


def test_media_near_dup_finds_planted_perturbations(spark, sf_dir):
    """Every planted byte-perturbed copy must pair with its original at
    small Hamming distance; no pair may link two ORIGINAL payloads (the
    md5-derived fixture has no natural near-dups)."""
    from datafusion_dedup_ai_spark.queries_extras import q_media_near_dup_pairs

    pairs = q_media_near_dup_pairs(spark, sf_dir).collect()
    planted = {(r["id_a"], r["id_b"]) for r in pairs}
    assert {(i, i + 1_000_000) for i in range(10)} <= planted
    for a, b in planted:
        assert b >= 1_000_000, f"false positive between originals: {(a, b)}"


def test_nibble_histograms_match_arrow_featurizer(spark, sf_dir):
    """The no-UDF hex-string histogram and the Arrow-seam numpy histogram
    compute the same 16 bins — the SQL path and the Python path must agree
    bin for bin on every payload."""
    import json

    from datafusion_dedup_ai_spark.queries_extras import (
        q_media_nibble_histograms,
    )
    from datafusion_dedup_ai_spark.queries_multimodal import (
        q_media_feature_histograms,
    )

    sql_side = {
        r["doc_id"]: [r[f"b_{i}"] for i in range(16)]
        for r in q_media_nibble_histograms(spark, sf_dir).collect()
    }
    py_side = {
        r["doc_id"]: json.loads(r["byte_histogram_json"])
        for r in q_media_feature_histograms(spark, sf_dir).collect()
    }
    assert set(sql_side) == set(py_side)
    for doc_id, bins in sql_side.items():
        assert bins == py_side[doc_id], doc_id
