"""Streaming corpus ingestion: continuous incremental dedup via
``foreachBatch`` (extension scope — the always-on form of
``operators.dedup.incremental_exact_dedup`` and of the persisted-LSH-index
matches in ``operators.lsh_index``).

Each micro-batch of incoming documents is deduplicated (a) within the batch
and (b) against everything already written to the output corpus, then
APPENDED to that corpus. The sinks are **idempotent under replay**:
foreachBatch is at-least-once, but a replayed item already has its
duplicate in the corpus, so it is dropped — content identity (or
similarity, one tier up) IS the exactly-once mechanism, with no
transactional sink required.

Scale shape: the exact sink's anti-join reads only the hash column of the
corpus (column pruning); the screening sinks read only the persisted index,
never the corpus. The per-batch work is O(|batch| + |corpus-key-scan|),
independent of corpus row width.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from datafusion_dedup_ai_spark.operators import lsh_index as LX
from datafusion_dedup_ai_spark.operators.dedup import (
    greedy_min_id_dropped,
    incremental_exact_dedup,
)
from datafusion_dedup_ai_spark.sources.layout import parquet_files


def _start(
    stream: DataFrame,
    process: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    available_now: bool,
) -> StreamingQuery:
    """Start ``process`` as the foreachBatch sink. ``available_now=True``
    drains queued input and stops — the deterministic mode for tests and
    backfills; pass False for a continuously running ingest."""
    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _read_corpus(spark, corpus_dir: str) -> DataFrame | None:
    """The parquet corpus accumulated so far, or None before the first
    batch has written any."""
    return spark.read.parquet(corpus_dir) if parquet_files(corpus_dir) else None


def start_incremental_ingest(
    stream: DataFrame,
    corpus_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
) -> StreamingQuery:
    """Start the foreachBatch exact-dedup sink: keep the lowest id per
    content hash within the batch, anti-join against the corpus hashes.

    ``stream`` is any streaming DataFrame with (id_col, text_col, ...);
    ``corpus_dir`` is the parquet corpus being accumulated (created on the
    first batch).
    """
    spark = stream.sparkSession

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        corpus = _read_corpus(spark, corpus_dir)
        if corpus is None:
            # first batch: no corpus yet — only in-batch dedup applies
            corpus = batch_df.limit(0)
        new = incremental_exact_dedup(corpus, batch_df, text_col, id_col)
        new.write.mode("append").parquet(corpus_dir)

    return _start(stream, _process, checkpoint_dir, available_now)


def _start_screening_sink(
    stream: DataFrame,
    kind: LX.IndexKind,
    corpus_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str,
    payload_col: str,
    indexable: Callable[[DataFrame], DataFrame],
    screen: Callable[..., tuple[DataFrame, DataFrame]],
    available_now: bool,
    compact_max_files: int | None,
    build_params: dict,
) -> StreamingQuery:
    """The index lifecycle both near-dup screening sinks share.

    Per micro-batch the sink's ``screen(batch_df, have_index, pin)``, where
    ``pin`` persists a frame until the micro-batch ends:

    1. drops batch items matching the persisted INDEX (a cross-set bucket
       join — |batch| x collision rate, never touching the corpus);
    2. drops within-batch near-dups by LEADER election
       (operators/dedup.greedy_min_id_dropped): process ids ascending, keep
       an item iff it has no already-kept near-dup. NOT "drop every id_b of
       a pair" — on a chain a~b, b~c without a~c that rule keeps only {a},
       and a replayed c then matches nothing in the index (its only
       neighbor b was dropped) and ingests twice.

    and returns the survivors' (corpus rows, index rows). This lifecycle
    appends the first to the parquet corpus and the second to the index;
    ``indexable`` maps corpus rows to index rows for the reconcile.

    Replay idempotency: a replayed survivor matches itself in the index at
    similarity 1.0, and every replayed non-survivor matches the KEPT leader
    that displaced it. The index stays in step with its corpus through
    these rules:

    * **The corpus is the authority; the index is a self-healing derived
      structure.** A crash between the corpus write and the index append
      would leave survivors invisible to future matching, so the FIRST batch
      after every (re)start RECONCILES: corpus items missing from the index
      (an id-only anti-join) are appended from the corpus rows, or the index
      is built from the corpus when it does not exist. Only the first batch:
      the crash window only opens across a restart (a foreachBatch failure
      kills the query, and the healthy sink appends to both structures
      itself), while a per-batch reconcile is an O(|corpus|) job per
      micro-batch. Later batches probe the sidecar (``lsh_index.exists``).
    * **No index mid-run** (the first batch of a fresh sink, or an index
      lost out of band) rebuilds from the CORPUS, never from the batch's
      survivors alone: the corpus write already includes them, and a
      survivors-only build would drop every older corpus id from matching
      until a restart. On a fresh sink the cost is the same.
    * **``compact_max_files``**: every append adds at least one small
      parquet file, so a long-running sink decays into thousands of files.
      When set, the index is compacted in place (``lsh_index.compact``)
      whenever its file count exceeds the threshold. A crash mid-swap kills
      the query, and the restart reconciles from the corpus (a mid-run
      missing index rebuilds from it too).

    Per-batch caches are released when the batch ends (the sink runs
    forever; a persist per micro-batch would pin executor storage without
    bound).
    """
    spark = stream.sparkSession

    def _reconcile() -> bool:
        """Bring the index in step with the corpus; True if an index exists
        afterwards (there is anything to match against)."""
        corpus = _read_corpus(spark, corpus_dir)
        if corpus is None:
            return False
        corpus = indexable(corpus)
        if LX.exists(index_dir):
            idx_ids = LX.read(spark, index_dir).select(id_col)
            missing = corpus.join(idx_ids, id_col, "left_anti")
            if not missing.isEmpty():
                LX.append(kind, missing, index_dir, id_col, payload_col)
        else:
            LX.build(kind, corpus, index_dir, id_col, payload_col, **build_params)
        return True

    reconciled = False

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal reconciled
        if reconciled:
            have_index = LX.exists(index_dir)
        else:
            have_index = _reconcile()
            reconciled = True
        pinned: list[DataFrame] = []

        def pin(df: DataFrame) -> DataFrame:
            pinned.append(df.persist())
            return pinned[-1]

        try:
            corpus_rows, index_rows = screen(batch_df, have_index, pin)
            corpus_rows.write.mode("append").parquet(corpus_dir)
            if LX.exists(index_dir):
                LX.append(kind, index_rows, index_dir, id_col, payload_col)
            else:
                _reconcile()
            if (
                compact_max_files is not None
                and len(parquet_files(LX.data_path(index_dir))) > compact_max_files
            ):
                LX.compact(spark, index_dir)
        finally:
            for df in pinned:
                df.unpersist()

    return _start(stream, _process, checkpoint_dir, available_now)


def start_near_dup_ingest(
    stream: DataFrame,
    corpus_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    available_now: bool = True,
    compact_max_files: int | None = None,
) -> StreamingQuery:
    """Always-on NEAR-duplicate screening of a document stream against a
    persisted MinHash index at ``jaccard >= threshold`` (index lifecycle:
    ``_start_screening_sink``).

    Docs too short to shingle (fewer than 2 tokens) would have empty shingle
    sets, silently vanish from the index and bypass dedup forever. The
    shingle step falls back to the full text as a singleton shingle, so
    identical short docs match at jaccard 1.0 like any other exact
    duplicate.
    """
    from datafusion_dedup_ai_spark.functions import text as T
    from datafusion_dedup_ai_spark.operators.dedup import minhash_near_dup_pairs

    spark = stream.sparkSession

    def _shingled(df: DataFrame) -> DataFrame:
        sh = T.distinct_shingles(F.col(text_col))
        return df.select(
            F.col(id_col),
            F.when(F.size(sh) > 0, sh)
            .otherwise(F.array(F.coalesce(F.col(text_col), F.lit(""))))
            .alias("shingles"),
        )

    def _screen(batch_df, have_index, pin):
        sh = pin(_shingled(batch_df))
        kept = sh
        if have_index:
            matched = (
                LX.match(LX.MINHASH, spark, index_dir, sh, threshold, id_col)
                .select(F.col("batch_id").alias(id_col))
                .distinct()
            )
            kept = sh.join(matched, id_col, "left_anti")
        in_batch = minhash_near_dup_pairs(
            kept, id_col=id_col, threshold=threshold, persist=False
        )
        losers = greedy_min_id_dropped(in_batch).withColumnRenamed("id", id_col)
        survivors_sh = pin(kept.join(losers, id_col, "left_anti"))
        survivors = batch_df.join(survivors_sh.select(id_col), id_col, "left_semi")
        return survivors, survivors_sh

    return _start_screening_sink(
        stream, LX.MINHASH, corpus_dir, index_dir, checkpoint_dir,
        id_col, "shingles", _shingled, _screen,
        available_now, compact_max_files, {},
    )


def start_semantic_ingest(
    stream: DataFrame,
    corpus_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    available_now: bool = True,
    compact_max_files: int | None = None,
    index_n_bits: int | None = None,
) -> StreamingQuery:
    """Always-on SEMANTIC near-duplicate screening of an embedding stream
    against a persisted hyperplane index at ``cosine >= threshold`` (index
    lifecycle: ``_start_screening_sink``).

    **Zero vectors** have undefined cosine — under Spark's default ANSI mode
    the division THROWS (with ANSI off it yields NULL, which never clears the
    threshold either way) — so zero-norm vectors must never reach a cosine.
    The sink (a) keeps them OUT of the index everywhere, including the
    reconcile, so no candidate pair can involve one; (b) dedups them exactly
    instead: within-batch by identical-vector min-id, and against the corpus
    by identical-vector semi-join (which also covers replay) — the role the
    singleton-shingle fallback plays for too-short documents.

    ``index_n_bits``: bucket width for the index. The default (None) is the
    build's corpus-adaptive width, which for a STREAMING index freezes at
    the FIRST batch's survivor count, usually too narrow for the eventual
    corpus. Production should size it for the TARGET corpus
    (lsh_bits_for(expected_N)); the hash-gated registry entry pins 4 to
    match the fixed lsh_buckets oracle-fixture geometry.
    """
    from pyspark.sql import Window

    from datafusion_dedup_ai_spark.operators.similarity_search import (
        as_double,
        dot_fold,
        lsh_near_pairs,
    )

    spark = stream.sparkSession

    def _norm2(df: DataFrame):
        return dot_fold(as_double(df[vec_col]), as_double(df[vec_col]))

    def _nonzero(df: DataFrame) -> DataFrame:
        return df.where(_norm2(df) != 0.0)

    def _screen(batch_df, have_index, pin):
        batch = pin(batch_df.withColumn("_zero", _norm2(batch_df) == 0.0))
        # within-batch exact dedup of zero vectors (identical vector, keep
        # min id) — they are excluded from every cosine path, so similarity
        # can never dedup them
        zw = Window.partitionBy(vec_col).orderBy(id_col)
        zero_losers = (
            batch.where(F.col("_zero"))
            .withColumn("_rn", F.row_number().over(zw))
            .where(F.col("_rn") > 1)
            .select(id_col)
        )
        kept = batch.join(zero_losers, id_col, "left_anti")
        if have_index:
            drop = (
                LX.match(
                    LX.HYPERPLANE, spark, index_dir, kept.where(~F.col("_zero")),
                    threshold, id_col, vec_col,
                )
                .select(F.col("batch_id").alias(id_col))
                .distinct()
            )
            # only pay the corpus scan for the zero vectors' exact semi-join
            # when the batch has one (batch is persisted — the probe is cheap)
            if not batch.where(F.col("_zero")).isEmpty():
                corpus = spark.read.parquet(corpus_dir)
                exact_zero = (
                    kept.where(F.col("_zero"))
                    .join(corpus.select(vec_col), [vec_col], "left_semi")
                    .select(id_col)
                )
                drop = drop.unionByName(exact_zero)
            kept = kept.join(drop, id_col, "left_anti")
        in_batch = lsh_near_pairs(
            kept.where(~F.col("_zero")),
            id_col=id_col,
            vec_col=vec_col,
            threshold=threshold,
        )
        losers = greedy_min_id_dropped(in_batch).withColumnRenamed("id", id_col)
        # pinned: the corpus write and the index append both consume it —
        # unpinned, the whole match pipeline would run twice per batch
        survivors = pin(kept.join(losers, id_col, "left_anti"))
        return (
            survivors.drop("_zero"),
            survivors.where(~F.col("_zero")).drop("_zero"),
        )

    return _start_screening_sink(
        stream, LX.HYPERPLANE, corpus_dir, index_dir, checkpoint_dir,
        id_col, vec_col, _nonzero, _screen,
        available_now, compact_max_files, {"n_bits": index_n_bits},
    )


def replay_as_stream(
    spark,
    sf_dir: str,
    table: str,
    id_col: str,
    stage_dir: str,
    n_chunks: int = 4,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Stage ``table`` as n_chunks parquet files by ``id_col`` range and read
    them back as a file-source stream (one file per trigger -> n_chunks
    micro-batches, the same boundaries on every run). Parquet staging keeps
    every value bit-exact across the round trip (the float embeddings
    included), which the replay-idempotence contract depends on. A stage
    dir that already holds chunks is reused."""
    from datafusion_dedup_ai_spark.sources.readers import load_table

    if not os.path.isdir(stage_dir) or not os.listdir(stage_dir):
        df = load_table(spark, sf_dir, table)
        n = df.agg(F.max(id_col)).collect()[0][0] + 1
        step = (n + n_chunks - 1) // n_chunks
        for i in range(n_chunks):
            chunk = df.where(
                (F.col(id_col) >= i * step) & (F.col(id_col) < (i + 1) * step)
            )
            chunk.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(stage_dir, f"chunk={i:03d}")
            )
    schema = spark.read.parquet(os.path.join(stage_dir, "chunk=000")).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("recursiveFileLookup", "true")
        .parquet(stage_dir)
    )
