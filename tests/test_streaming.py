"""Structured Streaming smoke: file-replayed events through watermarked
tumbling and session windows must converge to the batch answers."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from datafusion_dedup_ai_spark.streaming import windows as W


@pytest.fixture(scope="module")
def staged(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream-stage")
    yield str(d)
    shutil.rmtree(str(d), ignore_errors=True)


def test_streaming_hourly_matches_batch(spark, sf_dir, staged):
    stream = W.replay_events_as_stream(spark, sf_dir, staged + "/hourly")
    q = W.run_stream_to_memory(
        W.streaming_hourly_counts(stream), "hourly_smoke", output_mode="complete"
    )
    try:
        q.processAllAvailable()
        got = {
            (r["hour_us"], r["event_type"]): (r["n"], r["sum_value"])
            for r in spark.sql("SELECT * FROM hourly_smoke").collect()
        }
    finally:
        q.stop()

    from datafusion_dedup_ai_spark.sources.readers import load_table

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("hour_us"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100.0).alias(
                "sum_value"
            ),
        )
        .collect()
    )
    want = {(r["hour_us"], r["event_type"]): (r["n"], r["sum_value"]) for r in batch}
    assert got == want


def test_streaming_session_windows_smoke(spark, sf_dir, staged):
    stream = W.replay_events_as_stream(spark, sf_dir, staged + "/sessions")
    q = W.run_stream_to_memory(
        W.streaming_session_windows(stream), "sessions_smoke", output_mode="complete"
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM sessions_smoke").collect()
    finally:
        q.stop()
    assert rows
    for r in rows[:200]:
        assert r["session_end_us"] > r["session_start_us"]
        assert r["n_events"] >= 1


def test_stateful_dedup_event_time_eviction(spark, tmp_path):
    """With a dedup horizon, a key idle past the watermark is evicted
    (hasTimedOut branch) and a later replay of the same key re-emits as a new
    'first' — the bounded-state contract for long-running streams."""
    import json as _json
    import os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from datafusion_dedup_ai_spark.streaming.stateful import (
        streaming_dedup_first_event,
    )

    stage = str(tmp_path / "evict")
    os.makedirs(stage, exist_ok=True)

    def write_chunk(i: int, rows: list[dict]) -> None:
        with open(os.path.join(stage, f"chunk-{i}.json"), "w") as fh:
            for r in rows:
                fh.write(_json.dumps(r) + "\n")

    base_us = 1_700_000_000_000_000  # any fixed epoch; only deltas matter
    sec = 1_000_000
    # batch 1: key (1, click) first seen at t=0s
    write_chunk(0, [{"event_id": 10, "ts_us": base_us, "user_id": 1, "event_type": "click"}])

    raw_schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts_us", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .json(stage)
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .drop("ts_us")
    )
    dedup = streaming_dedup_first_event(
        stream, dedup_horizon_ms=30_000, watermark_delay="0 seconds"
    )
    q = W.run_stream_to_memory(dedup, "evict_smoke", output_mode="append")
    try:
        q.processAllAvailable()
        # batch 2: unrelated key far in the future advances the watermark past
        # key 1's timeout (0 + 30s), firing eviction on the next trigger.
        write_chunk(1, [{"event_id": 20, "ts_us": base_us + 3600 * sec, "user_id": 2, "event_type": "click"}])
        q.processAllAvailable()
        # batch 3: key (1, click) replayed after eviction -> re-emitted.
        write_chunk(2, [{"event_id": 30, "ts_us": base_us + 7200 * sec, "user_id": 1, "event_type": "click"}])
        q.processAllAvailable()
        emitted = spark.sql("SELECT * FROM evict_smoke ORDER BY first_ts_us").collect()
    finally:
        q.stop()

    key1 = [r for r in emitted if (r["user_id"], r["event_type"]) == (1, "click")]
    assert [r["event_id"] for r in key1] == [10, 30], (
        f"expected key (1, click) emitted before AND after eviction, got {emitted}"
    )
    assert {r["event_id"] for r in emitted} == {10, 20, 30}


def test_stateful_dedup_suppresses_within_horizon(spark, tmp_path):
    """Counter-case to the eviction test: while the key stays inside the
    horizon, replays are still suppressed even in EventTimeTimeout mode."""
    import json as _json
    import os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from datafusion_dedup_ai_spark.streaming.stateful import (
        streaming_dedup_first_event,
    )

    stage = str(tmp_path / "inhorizon")
    os.makedirs(stage, exist_ok=True)
    base_us = 1_700_000_000_000_000
    sec = 1_000_000

    def write_chunk(i: int, rows: list[dict]) -> None:
        with open(os.path.join(stage, f"chunk-{i}.json"), "w") as fh:
            for r in rows:
                fh.write(_json.dumps(r) + "\n")

    write_chunk(0, [{"event_id": 10, "ts_us": base_us, "user_id": 1, "event_type": "click"}])
    raw_schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts_us", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .json(stage)
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .drop("ts_us")
    )
    # Horizon of 1h event-time; replay arrives 10s later — inside the horizon.
    dedup = streaming_dedup_first_event(
        stream, dedup_horizon_ms=3_600_000, watermark_delay="0 seconds"
    )
    q = W.run_stream_to_memory(dedup, "inhorizon_smoke", output_mode="append")
    try:
        q.processAllAvailable()
        write_chunk(1, [{"event_id": 11, "ts_us": base_us + 10 * sec, "user_id": 1, "event_type": "click"}])
        q.processAllAvailable()
        emitted = spark.sql("SELECT * FROM inhorizon_smoke").collect()
    finally:
        q.stop()
    assert [(r["user_id"], r["event_type"], r["event_id"]) for r in emitted] == [
        (1, "click", 10)
    ]


def test_stateful_dedup_matches_batch_first_events(spark, sf_dir, staged):
    """applyInPandasWithState dedup must emit exactly the batch keep-first
    set even though events arrive over many triggers."""
    from datafusion_dedup_ai_spark.streaming.stateful import (
        streaming_dedup_first_event,
    )

    stream = W.replay_events_as_stream(spark, sf_dir, staged + "/statededup")
    q = W.run_stream_to_memory(
        streaming_dedup_first_event(stream), "dedup_smoke", output_mode="append"
    )
    try:
        q.processAllAvailable()
        emitted = spark.sql("SELECT * FROM dedup_smoke").collect()
    finally:
        q.stop()

    from datafusion_dedup_ai_spark.operators.dedup import exact_dedup
    from datafusion_dedup_ai_spark.sources.readers import load_table

    # Exactly ONE emission per key across all triggers (the property state
    # exists for — append mode would re-emit without it)...
    keys = [(r["user_id"], r["event_type"]) for r in emitted]
    assert len(keys) == len(set(keys))

    batch = exact_dedup(
        load_table(spark, sf_dir, "events"),
        ["user_id", "event_type"],
        ["ts", "event_id"],
    ).collect()
    want = {(r["user_id"], r["event_type"]): r["event_id"] for r in batch}
    # ...covering exactly the batch key set...
    assert set(keys) == set(want)
    # ...and since the replay arrives in event-time order, first-seen IS the
    # batch keep-first-by-time choice.
    for r in emitted:
        assert want[(r["user_id"], r["event_type"])] == r["event_id"]


# ---------------------------------------------------------------------------
# foreachBatch incremental-ingest sink
# ---------------------------------------------------------------------------


def test_streaming_incremental_ingest_dedups_across_batches(spark, sf_dir, tmp_path):
    """Replaying the documents table in 4 micro-batches through the
    foreachBatch incremental-dedup sink must land exactly one row per
    distinct content hash — the same set batch-mode exact dedup produces."""
    from datafusion_dedup_ai_spark.streaming import ingest as I
    from datafusion_dedup_ai_spark.sources.readers import load_table

    stream = I.replay_as_stream(
        spark, sf_dir, "documents", "doc_id", str(tmp_path / "stage"), n_chunks=4
    )
    q = I.start_incremental_ingest(
        stream,
        corpus_dir=str(tmp_path / "corpus"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    got = {(r["content_hash"], r["doc_id"]) for r in corpus.collect()}
    # exactly one row per distinct hash
    assert len({h for h, _ in got}) == len(got)

    docs = load_table(spark, sf_dir, "documents")
    want_hashes = {
        r["h"] for r in docs.select(F.md5("text").alias("h")).distinct().collect()
    }
    assert {h for h, _ in got} == want_hashes
    # kept id per hash is the minimum doc_id in the earliest batch containing
    # the hash; batches arrive in doc_id order here, so it is the global min
    want_ids = {
        (r["h"], r["m"])
        for r in docs.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("m"))
        .collect()
    }
    assert got == want_ids


def test_streaming_incremental_ingest_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Re-running the same input with a FRESH checkpoint (a full replay — the
    worst at-least-once failure mode) must not duplicate corpus rows."""
    from datafusion_dedup_ai_spark.streaming import ingest as I

    stage = str(tmp_path / "stage")
    corpus_dir = str(tmp_path / "corpus")
    stream = I.replay_as_stream(
        spark, sf_dir, "documents", "doc_id", stage, n_chunks=2
    )
    q = I.start_incremental_ingest(stream, corpus_dir, str(tmp_path / "ckpt1"))
    q.awaitTermination(300)
    n1 = spark.read.parquet(corpus_dir).count()

    stream2 = I.replay_as_stream(
        spark, sf_dir, "documents", "doc_id", stage, n_chunks=2
    )
    q2 = I.start_incremental_ingest(stream2, corpus_dir, str(tmp_path / "ckpt2"))
    q2.awaitTermination(300)
    n2 = spark.read.parquet(corpus_dir).count()
    assert n1 == n2, f"replay added {n2 - n1} duplicate rows"


def test_stream_stream_join_matches_batch(spark, sf_dir, staged):
    """The watermarked click->purchase attribution join must converge to the
    batch inner join over the same replayed files."""
    stream = W.replay_events_as_stream(spark, sf_dir, staged + "/ssjoin")
    out = W.streaming_click_purchase_join(stream, stream)
    q = W.run_stream_to_memory(out, "ssjoin_smoke", output_mode="append")
    try:
        q.processAllAvailable()
        got = {
            (r["user_id"], r["click_id"], r["purchase_id"])
            for r in spark.sql("SELECT * FROM ssjoin_smoke").collect()
        }
    finally:
        q.stop()

    from datafusion_dedup_ai_spark.sources.readers import load_table

    e = load_table(spark, sf_dir, "events")
    c = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("ci"), F.col("ts").alias("cts")
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("pi"), F.col("ts").alias("pts")
    )
    want = {
        (r["cu"], r["ci"], r["pi"])
        for r in c.join(
            p,
            (F.col("cu") == F.col("pu"))
            & (F.col("cts") <= F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 60 MINUTES")),
        ).collect()
    }
    assert want, "testdata should contain click->purchase pairs within the horizon"
    # the streaming join may drop pairs whose click fell beyond the watermark
    # at arrival time, never emit extras; with event-time-ordered replay and
    # a 2h watermark it converges to the full batch answer
    assert got == want


def test_streaming_sliding_matches_batch(spark, sf_dir, staged):
    stream = W.replay_events_as_stream(spark, sf_dir, staged + "/sliding")
    q = W.run_stream_to_memory(
        W.streaming_sliding_counts(stream), "sliding_smoke", output_mode="complete"
    )
    try:
        q.processAllAvailable()
        got = {
            (r["win_start_us"], r["win_end_us"], r["event_type"]): r["n"]
            for r in spark.sql("SELECT * FROM sliding_smoke").collect()
        }
    finally:
        q.stop()

    from datafusion_dedup_ai_spark.sources.readers import load_table

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "2 hours", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_micros(F.col("w.start")).alias("win_start_us"),
            F.unix_micros(F.col("w.end")).alias("win_end_us"),
            "event_type",
            "n",
        )
        .collect()
    )
    want = {
        (r["win_start_us"], r["win_end_us"], r["event_type"]): r["n"] for r in batch
    }
    assert got == want
    # overlap sanity: each event contributes to length/slide = 4 windows
    assert sum(got.values()) == load_table(spark, sf_dir, "events").count() * 4


def test_streaming_near_dup_ingest_matches_sequential_batch(spark, sf_dir, tmp_path):
    """The near-dup foreachBatch sink (persisted-MinHash-index pipeline) must
    accept exactly the docs a sequential batch-mode run of the same operators
    accepts, and the final index must contain exactly the survivors."""
    from datafusion_dedup_ai_spark.functions import text as T
    from datafusion_dedup_ai_spark.operators import dedup as D
    from datafusion_dedup_ai_spark.operators import lsh_index as LX
    from datafusion_dedup_ai_spark.sources.readers import load_table
    from datafusion_dedup_ai_spark.streaming import ingest as I

    n_chunks, thr = 3, 0.5
    stream = I.replay_as_stream(
        spark, sf_dir, "documents", "doc_id", str(tmp_path / "stage"),
        n_chunks=n_chunks,
    )
    q = I.start_near_dup_ingest(
        stream,
        corpus_dir=str(tmp_path / "corpus"),
        index_dir=str(tmp_path / "index"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        threshold=thr,
    )
    q.awaitTermination(300)
    got = {
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    }

    # sequential batch-mode reference with the same chunking (doc_id ranges)
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    step = (n + n_chunks - 1) // n_chunks
    accepted = None  # shingled survivors so far
    want: set = set()
    for i in range(n_chunks):
        chunk = docs.where(
            (F.col("doc_id") >= i * step) & (F.col("doc_id") < (i + 1) * step)
        )
        sh = chunk.select(
            "doc_id", T.distinct_shingles(F.col("text")).alias("shingles")
        )
        if accepted is not None:
            matched = (
                D.incremental_near_dup_matches(accepted, sh, threshold=thr)
                .select(F.col("batch_id").alias("doc_id"))
                .distinct()
            )
            sh = sh.join(matched, "doc_id", "left_anti")
        # independent pure-Python mirror of the sink's leader dedup:
        # sequential by ascending id, keep iff no already-kept neighbor
        pair_rows = (
            D.minhash_near_dup_pairs(sh, threshold=thr)
            .select("id_a", "id_b")
            .collect()
        )
        neighbors: dict = {}
        for r in pair_rows:
            neighbors.setdefault(r["id_a"], set()).add(r["id_b"])
            neighbors.setdefault(r["id_b"], set()).add(r["id_a"])
        kept_ids: set = set()
        dropped_ids: set = set()
        for v in sorted(neighbors):
            if neighbors[v] & kept_ids:
                dropped_ids.add(v)
            else:
                kept_ids.add(v)
        if dropped_ids:
            sh = sh.where(~F.col("doc_id").isin(*dropped_ids))
        sh = sh.persist()
        want |= {r["doc_id"] for r in sh.select("doc_id").collect()}
        accepted = sh if accepted is None else accepted.unionByName(sh)
    assert got == want
    idx_ids = {
        r["doc_id"]
        for r in LX.read(spark, str(tmp_path / "index"))
        .select("doc_id")
        .collect()
    }
    assert idx_ids == want


def test_streaming_near_dup_ingest_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Full replay with a fresh checkpoint: every replayed survivor matches
    itself in the index at jaccard 1.0 and is dropped — zero new rows."""
    from datafusion_dedup_ai_spark.streaming import ingest as I

    stage = str(tmp_path / "stage")
    corpus_dir = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "index")
    stream = I.replay_as_stream(
        spark, sf_dir, "documents", "doc_id", stage, n_chunks=2
    )
    q = I.start_near_dup_ingest(
        stream, corpus_dir, index_dir, str(tmp_path / "ckpt1")
    )
    q.awaitTermination(300)
    n1 = spark.read.parquet(corpus_dir).count()

    stream2 = I.replay_as_stream(
        spark, sf_dir, "documents", "doc_id", stage, n_chunks=2
    )
    q2 = I.start_near_dup_ingest(
        stream2, corpus_dir, index_dir, str(tmp_path / "ckpt2")
    )
    q2.awaitTermination(300)
    n2 = spark.read.parquet(corpus_dir).count()
    assert n1 == n2, f"replay added {n2 - n1} near-duplicate rows"


def test_streaming_near_dup_ingest_short_docs_dedup(spark, tmp_path):
    """Docs too short to shingle (< 2 tokens) must still dedup: the sink
    falls back to the full text as a singleton shingle, so exact short
    duplicates match at jaccard 1.0 across batches AND across replays."""
    import os

    from pyspark.sql import functions as F

    from datafusion_dedup_ai_spark.streaming import ingest as I

    stage = str(tmp_path / "stage")
    rows = [
        # batch 0 (chunk 000): a short doc and a normal doc
        (0, "hello"), (1, "a perfectly normal document with many words here"),
        # batch 1 (chunk 001): the SAME short doc text again + an empty doc
        (2, "hello"), (3, ""),
        # batch 2 (chunk 002): empty doc again
        (4, ""),
    ]
    for chunk, ids in enumerate(([0, 1], [2, 3], [4])):
        spark.createDataFrame(
            [(i, rows[i][1]) for i in ids], ["doc_id", "text"]
        ).withColumn("lang", F.lit("en")).withColumn(
            "source", F.lit("unit")
        ).withColumn("n_chars", F.length("text")).coalesce(1).write.mode(
            "overwrite"
        ).json(os.path.join(stage, f"chunk={chunk:03d}"))

    def run(ckpt):
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        schema = StructType(
            [
                StructField("doc_id", LongType()),
                StructField("text", StringType()),
                StructField("lang", StringType()),
                StructField("source", StringType()),
                StructField("n_chars", LongType()),
            ]
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .json(stage)
        )
        q = I.start_near_dup_ingest(
            stream,
            corpus_dir=str(tmp_path / "corpus"),
            index_dir=str(tmp_path / "index"),
            checkpoint_dir=str(tmp_path / ckpt),
        )
        q.awaitTermination(300)

    run("ckpt1")
    got = {
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    }
    # 'hello' kept once (doc 0), empty doc kept once (doc 3; json drops
    # empty-string rows to null -> coalesce handles it), normal doc kept
    texts = sorted(t if t is not None else "" for _, t in got)
    ids = {i for i, _ in got}
    assert 0 in ids and 1 in ids, got
    assert 2 not in ids, f"duplicate short doc not dropped: {got}"
    assert len([t for t in texts if t == "hello"]) == 1

    # full replay with fresh checkpoint: zero growth
    n1 = spark.read.parquet(str(tmp_path / "corpus")).count()
    run("ckpt2")
    n2 = spark.read.parquet(str(tmp_path / "corpus")).count()
    assert n1 == n2, f"replay added {n2 - n1} rows"


def test_streaming_semantic_ingest_survivor_set_is_pair_free(spark, sf_dir, tmp_path):
    """Replaying the embeddings table in 4 micro-batches through the
    semantic-ingest sink must leave a corpus with ZERO near-dup pairs under
    the sink's own matcher (every pair is caught either in-batch or against
    the index), and the index must mirror the corpus ids exactly."""
    from datafusion_dedup_ai_spark.operators import lsh_index as LX
    from datafusion_dedup_ai_spark.operators.similarity_search import lsh_near_pairs
    from datafusion_dedup_ai_spark.streaming import ingest as I

    stream = I.replay_as_stream(
        spark, sf_dir, "embeddings", "vec_id", str(tmp_path / "stage"), n_chunks=4
    )
    q = I.start_semantic_ingest(
        stream,
        corpus_dir=str(tmp_path / "corpus"),
        index_dir=str(tmp_path / "vindex"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    n = corpus.count()
    assert 0 < n < 500, n  # some vectors dropped, not all
    assert lsh_near_pairs(corpus, threshold=0.35).isEmpty()
    idx_ids = {
        r["vec_id"]
        for r in LX.read(spark, str(tmp_path / "vindex"))
        .select("vec_id")
        .collect()
    }
    assert idx_ids == {r["vec_id"] for r in corpus.select("vec_id").collect()}


def test_streaming_semantic_ingest_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Full replay with a fresh checkpoint (worst at-least-once failure) must
    add zero corpus rows: each replayed survivor matches itself in the index
    at cosine 1.0."""
    from datafusion_dedup_ai_spark.streaming import ingest as I

    stage = str(tmp_path / "stage")
    corpus_dir = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "vindex")
    stream = I.replay_as_stream(
        spark, sf_dir, "embeddings", "vec_id", stage, n_chunks=2
    )
    q = I.start_semantic_ingest(stream, corpus_dir, index_dir, str(tmp_path / "c1"))
    q.awaitTermination(300)
    n1 = spark.read.parquet(corpus_dir).count()

    stream2 = I.replay_as_stream(
        spark, sf_dir, "embeddings", "vec_id", stage, n_chunks=2
    )
    q2 = I.start_semantic_ingest(stream2, corpus_dir, index_dir, str(tmp_path / "c2"))
    q2.awaitTermination(300)
    n2 = spark.read.parquet(corpus_dir).count()
    assert n1 == n2, f"replay added {n2 - n1} duplicate rows"


def test_streaming_semantic_ingest_zero_vectors(spark, tmp_path):
    """Zero-norm vectors must never crash the sink (cosine would divide by
    zero under default ANSI mode) and must still dedup exactly: identical
    zero vectors collapse in-batch and across batches/replay, the index
    stays zero-free, and later nonzero batches match against the index
    without error."""
    import os

    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        LongType,
        StructField,
        StructType,
    )

    from datafusion_dedup_ai_spark.operators import lsh_index as LX
    from datafusion_dedup_ai_spark.streaming import ingest as I

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    zero = [0.0] * 64
    v = [float((i % 7) - 3) + 0.5 for i in range(64)]
    near_v = [x * 1.01 for x in v]
    stage = str(tmp_path / "stage")
    # batch 1: two identical zero vectors + one real vector
    spark.createDataFrame(
        [(1, zero), (2, zero), (3, v)], schema
    ).coalesce(1).write.parquet(os.path.join(stage, "chunk=000"))
    # batch 2: a NEW id with the same zero vector (content dup) + a near-dup
    # of the real vector (exercises cosine against an index that must not
    # contain the zero row)
    spark.createDataFrame(
        [(4, zero), (5, near_v)], schema
    ).coalesce(1).write.parquet(os.path.join(stage, "chunk=001"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage)
    )
    corpus_dir = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "vindex")
    q = I.start_semantic_ingest(
        stream, corpus_dir, index_dir, str(tmp_path / "ckpt"), threshold=0.9
    )
    q.awaitTermination(300)

    corpus = {r["vec_id"] for r in spark.read.parquet(corpus_dir).collect()}
    # 2 (in-batch zero dup), 4 (cross-batch zero content dup), 5 (cosine
    # near-dup of 3) all dropped
    assert corpus == {1, 3}, corpus
    idx = {r["vec_id"] for r in LX.read(spark, index_dir).collect()}
    assert idx == {3}, idx  # the zero vector is corpus-only, never indexed

    # full replay with fresh checkpoint: nothing new
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage)
    )
    q2 = I.start_semantic_ingest(
        stream2, corpus_dir, index_dir, str(tmp_path / "ckpt2"), threshold=0.9
    )
    q2.awaitTermination(300)
    corpus2 = {r["vec_id"] for r in spark.read.parquet(corpus_dir).collect()}
    assert corpus2 == {1, 3}, corpus2


def test_streaming_ingest_compaction_hook(spark, sf_dir, tmp_path):
    """With compact_max_files set low, the sink compacts the index during
    the run: final file count at most the threshold+1 band, and the index
    content still matches a rebuild from the written corpus."""
    from datafusion_dedup_ai_spark.operators import lsh_index as LX
    from datafusion_dedup_ai_spark.sources.layout import parquet_files
    from datafusion_dedup_ai_spark.streaming import ingest as I

    stream = I.replay_as_stream(
        spark, sf_dir, "documents", "doc_id", str(tmp_path / "stage"), n_chunks=4
    )
    q = I.start_near_dup_ingest(
        stream,
        corpus_dir=str(tmp_path / "corpus"),
        index_dir=str(tmp_path / "index"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        threshold=0.5,
        compact_max_files=2,
    )
    q.awaitTermination(300)
    n_files = len(parquet_files(LX.data_path(str(tmp_path / "index"))))
    # the LAST batch's append may land after the final compaction, so allow
    # threshold + a small band — without the hook, 4 batches x 8-partition
    # appends produce dozens of files
    assert n_files <= 6, n_files
    idx_ids = {
        r["doc_id"]
        for r in LX.read(spark, str(tmp_path / "index")).collect()
    }
    corpus_ids = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    }
    assert idx_ids == corpus_ids


def test_streaming_near_dup_ingest_crash_and_resume(spark, sf_dir, tmp_path, monkeypatch):
    """Kill-and-resume proof (round-9 verdict #7): a foreachBatch killed in
    the crash window the sink documents — AFTER the corpus append, BEFORE
    the index append — and resumed from the same checkpoint must converge to
    exactly the uninterrupted run's survivor set, with no duplicate corpus
    rows and the index equal to the corpus. Then the meta-before-data
    sidecar claim end-to-end: deleting the meta sidecar (the on-disk state a
    crash between data and meta writes leaves) must read as 'no index',
    rebuild from the corpus authority, and still admit zero replayed rows.
    """
    from datafusion_dedup_ai_spark.operators import lsh_index as LX
    from datafusion_dedup_ai_spark.streaming import ingest as I

    stage = str(tmp_path / "stage")

    # --- uninterrupted reference run -------------------------------------
    stream = I.replay_as_stream(
        spark, sf_dir, "documents", "doc_id", stage, n_chunks=3
    )
    q = I.start_near_dup_ingest(
        stream,
        corpus_dir=str(tmp_path / "ref_corpus"),
        index_dir=str(tmp_path / "ref_index"),
        checkpoint_dir=str(tmp_path / "ref_ckpt"),
    )
    q.awaitTermination(300)
    want = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "ref_corpus")).collect()
    }

    # --- crash run: fail the FIRST index append (batch 1: batch 0 BUILDS
    # the index, so the first append call is batch 1's, after its corpus
    # write). Both screening sinks append through the one lifecycle, so
    # this injection covers the semantic sink's crash window too. --------
    corpus_dir = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    real_append = LX.append
    calls = {"n": 0}

    def exploding_append(*args, **kwargs):
        calls["n"] += 1
        raise RuntimeError("injected crash between corpus and index writes")

    monkeypatch.setattr(LX, "append", exploding_append)
    stream = I.replay_as_stream(
        spark, sf_dir, "documents", "doc_id", stage, n_chunks=3
    )
    q = I.start_near_dup_ingest(stream, corpus_dir, index_dir, ckpt)
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(300)
    assert calls["n"] == 1
    # the crash window is real: corpus rows exist that the index cannot see
    corpus_ids = {
        r["doc_id"] for r in spark.read.parquet(corpus_dir).collect()
    }
    idx_ids = {
        r["doc_id"]
        for r in LX.read(spark, index_dir).select("doc_id").collect()
    }
    assert corpus_ids - idx_ids, "crash must leave index-invisible survivors"

    # --- resume from the SAME checkpoint with the real append ------------
    monkeypatch.setattr(LX, "append", real_append)
    stream = I.replay_as_stream(
        spark, sf_dir, "documents", "doc_id", stage, n_chunks=3
    )
    q = I.start_near_dup_ingest(stream, corpus_dir, index_dir, ckpt)
    q.awaitTermination(300)

    corpus_rows = spark.read.parquet(corpus_dir).select("doc_id").collect()
    got = {r["doc_id"] for r in corpus_rows}
    assert len(corpus_rows) == len(got), "crash+resume duplicated corpus rows"
    assert got == want, "resumed survivor set diverges from uninterrupted run"
    idx_ids = {
        r["doc_id"]
        for r in LX.read(spark, index_dir).select("doc_id").collect()
    }
    assert idx_ids == want

    # --- meta-sidecar crash state: data without meta reads as 'no index',
    # rebuilds from the corpus, and replay still admits nothing -----------
    os.remove(LX.meta_path(index_dir))
    assert not LX.exists(index_dir)
    stream = I.replay_as_stream(
        spark, sf_dir, "documents", "doc_id", stage, n_chunks=3
    )
    q = I.start_near_dup_ingest(
        stream, corpus_dir, index_dir, str(tmp_path / "ckpt_meta")
    )
    q.awaitTermination(300)
    assert LX.exists(index_dir)
    n_after = spark.read.parquet(corpus_dir).count()
    assert n_after == len(want), "meta-rebuild replay admitted duplicates"
