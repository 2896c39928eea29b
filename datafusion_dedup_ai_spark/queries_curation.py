"""Dataset-curation query pack — the sampling / chunking / scrubbing /
splitting operations a training-data pipeline runs AFTER cleaning and dedup
(extension scope; composes with queries_text.q_clean_corpus).

Every operator here is deterministic by construction — sampling and split
assignment key off md5 of stable ids, never RNG state — because at 100 TB a
sample you cannot reproduce is a sample you cannot debug. All are pure
Column expressions (no UDFs) and oracle-gated against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafusion_dedup_ai_spark import materialize as MZ
from datafusion_dedup_ai_spark.registry import register
from datafusion_dedup_ai_spark.sources.readers import load_spread, load_table

# ---------------------------------------------------------------------------
# Deterministic hash sampling
# ---------------------------------------------------------------------------

# Keep rows whose md5(id) 4-hex-digit prefix is below the threshold: rate =
# 0x1999 / 0x10000 = 9.99%. Hex-prefix STRING comparison is portable across
# Spark and DuckDB (no hex->int cast dialects) and uniform over the keyspace.
SAMPLE_HEX_THRESHOLD = "1999"


@register(
    "doc_sample_hash",
    f"""
    SELECT doc_id, source, lang,
           substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS bucket
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{SAMPLE_HEX_THRESHOLD}'
    """,
)
def q_doc_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% reproducible sample: membership is a pure function of doc_id, so
    the same rows are selected on every run, every engine, every partitioning
    — unlike rand()-based sampling, which changes under retries and task
    re-execution. A pure map (filter pushes to the scan): no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    return (
        d.withColumn("bucket", bucket)
        .where(F.col("bucket") < SAMPLE_HEX_THRESHOLD)
        .select("doc_id", "source", "lang", "bucket")
    )


# ---------------------------------------------------------------------------
# Stratified (per-source) deterministic sampling
# ---------------------------------------------------------------------------

STRATUM_N = 25


@register(
    "source_stratified_sample",
    f"""
    SELECT doc_id, source, sample_rank FROM (
        SELECT doc_id, source,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS BIGINT) AS sample_rank
        FROM documents)
    WHERE sample_rank <= {STRATUM_N}
    """,
)
def q_source_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain balancing: exactly min(25, |stratum|) docs per source, chosen
    by md5-of-id order — a uniform without-replacement draw that is still
    fully deterministic. One shuffle on source; Spark pushes the rank limit
    into the sort (WindowGroupLimit), so each partition keeps only its top
    rows instead of sorting the stratum."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.withColumn("sample_rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("sample_rank") <= STRATUM_N)
        .select("doc_id", "source", "sample_rank")
    )


# ---------------------------------------------------------------------------
# Document chunking (fixed-size overlapping windows)
# ---------------------------------------------------------------------------

CHUNK_SIZE = 256
CHUNK_STRIDE = 192  # 64-char overlap between consecutive chunks


@register(
    "doc_chunks",
    f"""
    WITH st AS (
        SELECT doc_id, text,
               unnest(range(0, greatest(length(text), 1), {CHUNK_STRIDE}))
                   AS chunk_start
        FROM documents
    )
    SELECT doc_id,
           CAST(chunk_start // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           CAST(chunk_start AS BIGINT) AS chunk_start,
           substr(text, CAST(chunk_start AS INT) + 1, {CHUNK_SIZE}) AS chunk_text,
           CAST(length(substr(text, CAST(chunk_start AS INT) + 1, {CHUNK_SIZE}))
                AS BIGINT) AS n_chunk_chars
    FROM st
    """,
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 256-char windows every 192 chars (64-char
    overlap), the standard pre-tokenization shaping for embedding/LM
    pipelines. sequence+explode+substring — all JVM codegen, no shuffle;
    output size is input size * ~(size/stride), predictable at any scale.
    Empty docs yield one empty chunk (not zero) so no document silently
    disappears from the chunked corpus."""
    d = load_spread(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.length("text"), F.lit(1)) - 1,
        F.lit(CHUNK_STRIDE),
    )
    ch = d.select("doc_id", "text", F.explode(starts).alias("chunk_start"))
    chunk_text = F.col("text").substr(
        F.col("chunk_start") + 1, F.lit(CHUNK_SIZE)
    )
    return ch.select(
        "doc_id",
        F.expr(f"chunk_start div {CHUNK_STRIDE}").cast("bigint").alias("chunk_id"),
        F.col("chunk_start").cast("bigint").alias("chunk_start"),
        chunk_text.alias("chunk_text"),
        F.length(chunk_text).cast("bigint").alias("n_chunk_chars"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing (regex redaction)
# ---------------------------------------------------------------------------

# ASCII-only patterns chosen to behave identically under Java regex (Spark)
# and RE2 (DuckDB): plain classes, \b, bounded repetition — no lookarounds,
# no \w (dialect-dependent Unicode semantics).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_DIGIT_RUN = r"\d{7,}"

# The synthetic corpus carries no PII, so both sides deterministically plant
# it first (same expression, same rows) — the redaction path is then
# exercised on text that actually matches, not vacuously on clean text.
_SQL_PLANTED = (
    "text || CASE WHEN doc_id % 3 = 0 THEN ' reach me at user' "
    "|| CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END "
    "|| CASE WHEN doc_id % 5 = 0 THEN ' from 10.' "
    "|| CAST(doc_id % 256 AS VARCHAR) || '.0.' "
    "|| CAST(doc_id % 100 AS VARCHAR) ELSE '' END "
    "|| CASE WHEN doc_id % 4 = 0 THEN ' ref ' "
    "|| CAST(10000000 + doc_id * 37 AS VARCHAR) ELSE '' END"
)


def _planted(doc_id: Column, text: Column) -> Column:
    email = F.when(
        doc_id % 3 == 0,
        F.concat(
            F.lit(" reach me at user"), doc_id.cast("string"), F.lit("@example.com")
        ),
    ).otherwise(F.lit(""))
    ip = F.when(
        doc_id % 5 == 0,
        F.concat(
            F.lit(" from 10."),
            (doc_id % 256).cast("string"),
            F.lit(".0."),
            (doc_id % 100).cast("string"),
        ),
    ).otherwise(F.lit(""))
    num = F.when(
        doc_id % 4 == 0,
        F.concat(F.lit(" ref "), (F.lit(10000000) + doc_id * 37).cast("string")),
    ).otherwise(F.lit(""))
    return F.concat(text, email, ip, num)


@register(
    "doc_pii_redacted",
    f"""
    WITH p AS (
        SELECT doc_id, {_SQL_PLANTED} AS text FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(text, '{PII_IPV4}')) AS BIGINT)
               AS n_ips,
           CAST(len(regexp_extract_all(text, '{PII_DIGIT_RUN}')) AS BIGINT)
               AS n_digit_runs,
           regexp_replace(
               regexp_replace(
                   regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g'),
                   '{PII_IPV4}', '<IP>', 'g'),
               '{PII_DIGIT_RUN}', '<NUM>', 'g') AS redacted_text
    FROM p
    """,
)
def q_doc_pii_redacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: emails, IPv4 literals, and 7+-digit runs (phone/account
    shapes) replaced with typed tokens, with per-kind match counts for audit.
    Pure regexp Column expressions — foldable patterns compile once, the map
    stage fuses into the scan, no shuffle. Redaction order (email -> IP ->
    digits) matters and is identical on both sides: emails and IPs contain
    digit runs that must not be half-eaten first."""
    d = load_spread(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id", _planted(F.col("doc_id"), F.col("text")).alias("text")
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>"),
            PII_IPV4,
            "<IP>",
        ),
        PII_DIGIT_RUN,
        "<NUM>",
    )
    return planted.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_EMAIL), 0)).cast(
            "bigint"
        ).alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_IPV4), 0)).cast(
            "bigint"
        ).alias("n_ips"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_DIGIT_RUN), 0)).cast(
            "bigint"
        ).alias("n_digit_runs"),
        redacted.alias("redacted_text"),
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split (by dedup cluster, not by row)
# ---------------------------------------------------------------------------

# md5-prefix thresholds: 0xcccd/0x10000 = 80.0%, 0xe666/0x10000 = 90.0%.
SPLIT_TRAIN_HEX = "cccd"
SPLIT_VAL_HEX = "e666"
# every label the split expressions below can emit
SPLITS = ("train", "val", "test")


@register(
    "cluster_train_test_split",
    lambda: f"""
    SELECT row_order, original_name, cluster_id,
           CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4)
                     < '{SPLIT_TRAIN_HEX}' THEN 'train'
                WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4)
                     < '{SPLIT_VAL_HEX}' THEN 'val'
                ELSE 'test' END AS split
    FROM '{MZ.CLUSTERS.glob()}'
    """,
)
def q_cluster_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 split assigned per dedup CLUSTER (md5 of cluster_id), so
    near-duplicate records can never straddle train and eval — the standard
    guard against contamination-inflated eval scores. Row-level rand() splits
    leak every duplicate pair that crosses the boundary; splitting on the
    cluster key makes leakage structurally impossible. Reads the same
    materialized snapshot as the O-pack; a pure map over it."""
    clusters = MZ.CLUSTERS.read(spark, sf_dir)
    prefix = F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 4)
    return clusters.select(
        "row_order",
        "original_name",
        "cluster_id",
        F.when(prefix < SPLIT_TRAIN_HEX, "train")
        .when(prefix < SPLIT_VAL_HEX, "val")
        .otherwise("test")
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# Duplicated-text fraction (contamination audit)
# ---------------------------------------------------------------------------


@register(
    "doc_dup_shingle_fraction",
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))])
                   AS shingles
        FROM toks
    ), ex AS (
        SELECT doc_id, unnest(shingles) AS s FROM sh
    ), dfreq AS (
        SELECT s, COUNT(DISTINCT doc_id) AS df FROM ex GROUP BY s
    )
    SELECT ex.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN dfreq.df > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_shingles,
           CAST(SUM(CASE WHEN dfreq.df > 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS dup_fraction
    FROM ex JOIN dfreq USING (s)
    GROUP BY ex.doc_id
    """,
)
def q_doc_dup_shingle_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-text fraction: the share of a doc's distinct
    word-bigram shingles that also occur in at least one OTHER document —
    the standard corpus-health metric for boilerplate/contamination (docs
    above ~0.5 are near-copies or template spam). Two shuffles (shingle DF
    agg, per-doc re-agg), both with map-side partial aggregation; the
    shingle DF table is exactly the hot-key histogram a 100 TB run would
    reuse to pick skew-salting thresholds."""
    from datafusion_dedup_ai_spark.functions import text as T

    d = load_spread(spark, sf_dir, "documents")
    ex = d.select(
        "doc_id", F.explode(T.distinct_shingles(F.col("text"))).alias("s")
    )
    dfreq = ex.groupBy("s").agg(F.countDistinct("doc_id").alias("df"))
    return (
        ex.join(dfreq, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("df") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_shingles"),
            (
                F.sum(F.when(F.col("df") > 1, 1).otherwise(0)).cast("double")
                / F.count("*")
            ).alias("dup_fraction"),
        )
    )


# ---------------------------------------------------------------------------
# Sequence packing (fill chunks into fixed-capacity bins)
# ---------------------------------------------------------------------------

PACK_CAPACITY = 1024


@register(
    "chunk_packing",
    f"""
    WITH st AS (
        SELECT doc_id, text,
               unnest(range(0, greatest(length(text), 1), {CHUNK_STRIDE}))
                   AS chunk_start
        FROM documents
    ), ch AS (
        SELECT doc_id,
               CAST(chunk_start // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
               CAST(length(substr(text, CAST(chunk_start AS INT) + 1,
                                  {CHUNK_SIZE})) AS BIGINT) AS n_chunk_chars,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS pack_group
        FROM st
    ), c AS (
        SELECT doc_id, chunk_id, n_chunk_chars, pack_group,
               SUM(n_chunk_chars) OVER (
                   PARTITION BY pack_group ORDER BY doc_id, chunk_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM ch
    )
    SELECT doc_id, chunk_id, pack_group,
           CAST((cum - n_chunk_chars) // {PACK_CAPACITY} AS BIGINT) AS pack_id,
           CAST((cum - n_chunk_chars) - ((cum - n_chunk_chars)
                // {PACK_CAPACITY}) * {PACK_CAPACITY} AS BIGINT) AS pack_offset,
           n_chunk_chars
    FROM c
    """,
)
def q_chunk_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign every chunk a (pack_group, pack_id, offset)
    so training examples fill fixed 1024-char bins with minimal padding —
    the LM-pretraining packing step, done as a cumulative-sum window rather
    than a greedy driver loop. Packing runs independently inside 256 md5
    pack-groups, so the window never sees more than ~N/256 rows in one
    partition and the operator parallelizes at any scale (the global-order
    variant of this is exactly what operators/ordering.py avoids)."""
    ch = q_doc_chunks(spark, sf_dir).select(
        "doc_id",
        "chunk_id",
        "n_chunk_chars",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2).alias(
            "pack_group"
        ),
    )
    w = (
        Window.partitionBy("pack_group")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = ch.withColumn("cum", F.sum("n_chunk_chars").over(w))
    start = F.col("cum") - F.col("n_chunk_chars")
    pack_id = F.expr(f"(cum - n_chunk_chars) div {PACK_CAPACITY}")
    return c.select(
        "doc_id",
        "chunk_id",
        "pack_group",
        pack_id.cast("bigint").alias("pack_id"),
        (start - pack_id * PACK_CAPACITY).cast("bigint").alias("pack_offset"),
        "n_chunk_chars",
    )


# ---------------------------------------------------------------------------
# Deterministic corpus shuffle (distributed global rank)
# ---------------------------------------------------------------------------


@register(
    "corpus_shuffle_positions",
    """
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS BIGINT) AS pos
    FROM documents
    """,
)
def q_corpus_shuffle_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training-order reproducibility:
    every doc gets a total position under md5 order — same permutation on
    every run and engine. The oracle states it as a single ROW_NUMBER (one
    serial sort); the Spark side computes the IDENTICAL ranks with the
    bucket-parallel global_rank operator (operators/ordering.py) — local
    ranks within 256 md5-prefix buckets plus broadcast prefix-sum offsets —
    because a no-partition window is a one-task plan at scale."""
    from datafusion_dedup_ai_spark.operators.ordering import global_rank

    d = load_table(spark, sf_dir, "documents")
    ranked = global_rank(
        d,
        key=F.md5(F.col("doc_id").cast("string")),
        tiebreak=F.col("doc_id"),
        out="pos",
    )
    return ranked.select("doc_id", "pos")


# ---------------------------------------------------------------------------
# Benchmark decontamination (eval-set n-gram overlap)
# ---------------------------------------------------------------------------

# Deterministic stand-in eval set: every 50th doc plays the benchmark.
BENCHMARK_MOD = 50
# Calibrated to THIS corpus: the synthetic docs draw from a ~30-word
# vocabulary, so baseline bigram overlap with any eval doc is already
# ~0.4 (median) — 0.55 is the p95 tail where actual near-copies live. On a
# real corpus (vocabulary in the millions) the standard thresholds are far
# lower; the knob is the point, the value is corpus-specific.
CONTAM_FRACTION = 0.55


@register(
    "benchmark_contamination",
    f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))])
                   AS shingles
        FROM toks
    ), bench AS (
        SELECT DISTINCT unnest(shingles) AS s FROM sh
        WHERE doc_id % {BENCHMARK_MOD} = 0
    ), corpus AS (
        SELECT doc_id, unnest(shingles) AS s FROM sh
        WHERE doc_id % {BENCHMARK_MOD} <> 0
    ), hits AS (
        SELECT corpus.doc_id, COUNT(*) AS n_overlap
        FROM corpus JOIN bench USING (s)
        GROUP BY corpus.doc_id
    ), sizes AS (
        SELECT doc_id, len(shingles) AS n_shingles FROM sh
        WHERE doc_id % {BENCHMARK_MOD} <> 0
    )
    SELECT sizes.doc_id,
           CAST(sizes.n_shingles AS BIGINT) AS n_shingles,
           CAST(COALESCE(hits.n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST(COALESCE(hits.n_overlap, 0) AS DOUBLE) / sizes.n_shingles
               AS overlap_fraction,
           CAST(COALESCE(hits.n_overlap, 0) AS DOUBLE) / sizes.n_shingles
               >= {CONTAM_FRACTION} AS contaminated
    FROM sizes LEFT JOIN hits ON sizes.doc_id = hits.doc_id
    """,
)
def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: for every training doc, the fraction of its
    distinct word-bigram shingles that appear ANYWHERE in the benchmark
    docs' shingle set (here: every 50th doc stands in for the eval suite).
    Docs above the threshold must be dropped before training or the eval is
    compromised. The benchmark shingle set is tiny relative to the corpus —
    broadcast-joined, so the corpus pass is a single map-side probe with no
    corpus shuffle; at 100 TB this is a scan, not a join problem."""
    from datafusion_dedup_ai_spark.functions import text as T

    d = load_spread(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", T.distinct_shingles(F.col("text")).alias("shingles")
    )
    is_bench = F.col("doc_id") % BENCHMARK_MOD == 0
    bench = (
        sh.where(is_bench)
        .select(F.explode("shingles").alias("s"))
        .distinct()
    )
    corpus_sh = sh.where(~is_bench)
    corpus_ex = corpus_sh.select("doc_id", F.explode("shingles").alias("s"))
    hits = (
        corpus_ex.join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    sizes = corpus_sh.select(
        "doc_id", F.size("shingles").cast("bigint").alias("n_shingles")
    )
    overlap = F.coalesce(F.col("n_overlap"), F.lit(0))
    frac = overlap.cast("double") / F.col("n_shingles")
    return sizes.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        overlap.cast("bigint").alias("n_overlap"),
        frac.alias("overlap_fraction"),
        (frac >= CONTAM_FRACTION).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# Flagship composition: the training-dataset manifest
# ---------------------------------------------------------------------------


def _clean_corpus_sql() -> str:
    """The registered clean_corpus oracle, reused verbatim as a subquery so
    the manifest's base can never drift from the cleaning query."""
    from datafusion_dedup_ai_spark.registry import get_oracle

    return get_oracle("clean_corpus")


@register(
    "training_dataset_manifest",
    lambda: f"""
    WITH kept AS (
        SELECT * FROM ({_clean_corpus_sql()})
    )
    SELECT k.doc_id,
           CASE WHEN substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 4)
                     < '{SPLIT_TRAIN_HEX}' THEN 'train'
                WHEN substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 4)
                     < '{SPLIT_VAL_HEX}' THEN 'val'
                ELSE 'test' END AS split,
           k.n_tokens, k.quality,
           CAST(CEIL(CAST(greatest(length(d.text), 1) AS DOUBLE)
                     / {CHUNK_STRIDE}) AS BIGINT) AS n_chunks
    FROM kept k JOIN documents d ON k.doc_id = d.doc_id
    """,
)
def q_training_dataset_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end artifact of the whole curation story, as ONE declarative
    plan: quality/language filter -> exact dedup -> near-dup removal (all
    inside clean_corpus) -> deterministic 80/10/10 split -> chunk count per
    surviving doc. This is the manifest a training job consumes; every
    upstream stage is itself oracle-gated, and the composition reuses the
    registered clean_corpus plan/SQL on both sides so the layers cannot
    drift."""
    from datafusion_dedup_ai_spark.sources.readers import load_spread

    # load_spread, not load_table: clean_corpus_frame's quality/language
    # char folds are CPU-bound and the local single-row-group parquet would
    # otherwise run them on one partition (same choice as q_clean_corpus)
    return training_manifest_frame(load_spread(spark, sf_dir, "documents"))


def training_manifest_frame(
    docs: DataFrame,
    bpe_pieces: list[str] | None = None,
    near_dup_tier: str = "exact",
) -> DataFrame:
    """Library form over an arbitrary (doc_id, text, ...) frame — the
    `curate` CLI subcommand runs this on a user parquet; the registered
    q_training_dataset_manifest binds it to the sf documents table.

    ``bpe_pieces`` (round-10 verdict #4): when a frozen BPE piece vocabulary
    is supplied, the manifest additionally carries ``n_bpe_tokens`` — REAL
    tokenizer counts per doc (greedy longest-match over the trained vocab,
    operators/tokenizer.py), which is what token-budget planning actually
    consumes. Whitespace ``n_tokens`` stays the cheap default: the BPE
    column costs one corpus-side explode plus a vocabulary-sized Arrow
    encode and a broadcast join (the q_tokenized_length_stats shape — the
    Python step is O(|vocab|) by Heaps' law, never O(corpus)).

    ``near_dup_tier`` passes through to clean_corpus_frame (round-12):
    "exact" is the registered hash-gated pipeline; "minhash" swaps the
    near-dup victim stage to the LSH + two-phase verify tier — the scale
    configuration (see clean_corpus_frame's docstring for the recall
    semantics and the measured 100x basis)."""
    from datafusion_dedup_ai_spark.queries_text import clean_corpus_frame

    kept = clean_corpus_frame(docs, near_dup_tier=near_dup_tier)
    d = docs.select("doc_id", "text")
    prefix = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    split = (
        F.when(prefix < SPLIT_TRAIN_HEX, "train")
        .when(prefix < SPLIT_VAL_HEX, "val")
        .otherwise("test")
    )
    n_chunks = F.ceil(
        F.greatest(F.length("text"), F.lit(1)).cast("double") / CHUNK_STRIDE
    ).cast("bigint")
    base = (
        kept.join(d, "doc_id")
        .select(
            "doc_id",
            split.alias("split"),
            "n_tokens",
            "quality",
            n_chunks.alias("n_chunks"),
        )
    )
    if bpe_pieces is None:
        return base
    from datafusion_dedup_ai_spark.functions import text as T
    from datafusion_dedup_ai_spark.operators import tokenizer as TK

    occ = docs.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("tok")
    ).where(F.col("tok") != "")
    encoded = TK.encoded_word_lengths(occ.select("tok").distinct(), bpe_pieces)
    docbpe = (
        occ.join(F.broadcast(encoded), "tok")
        .groupBy("doc_id")
        .agg(F.sum("n_bpe").cast("bigint").alias("n_bpe_tokens"))
    )
    return base.join(docbpe, "doc_id", "left").withColumn(
        "n_bpe_tokens",
        F.coalesce(F.col("n_bpe_tokens"), F.lit(0).cast("bigint")),
    )


def _manifest_bpe_oracle() -> str:
    """The training manifest JOINED with real-tokenizer per-doc counts: the
    clean_corpus -> split -> chunk SQL verbatim, plus the recursive-CTE
    greedy longest-match replay from the frozen BPE piece fixture (the
    q_tokenized_length_stats apply step, re-aggregated per doc_id instead
    of per source). All integer arithmetic — hash-gates exactly."""
    from datafusion_dedup_ai_spark.operators import hash_fixtures as HF

    g = HF.BPE_PIECES.glob()
    return f"""
    WITH RECURSIVE kept AS (
        SELECT * FROM ({_clean_corpus_sql()})
    ),
    words AS (
        SELECT DISTINCT tok FROM (
            SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        WHERE tok <> ''
    ),
    enc(tok, pos, n) AS (
        SELECT tok, 1, 0 FROM words
        UNION ALL
        SELECT e.tok,
               e.pos + coalesce(
                   (SELECT max(len(p.piece)) FROM '{g}' p
                    WHERE p.piece = substr(e.tok, e.pos, len(p.piece))), 1),
               e.n + 1
        FROM enc e WHERE e.pos <= len(e.tok)
    ),
    wordtok AS (SELECT tok, n AS n_bpe FROM enc WHERE pos > len(tok)),
    occ AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    docbpe AS (
        SELECT o.doc_id, CAST(SUM(w.n_bpe) AS BIGINT) AS n_bpe_tokens
        FROM occ o JOIN wordtok w ON w.tok = o.tok
        WHERE o.tok <> ''
        GROUP BY o.doc_id
    )
    SELECT k.doc_id,
           CASE WHEN substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 4)
                     < '{SPLIT_TRAIN_HEX}' THEN 'train'
                WHEN substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 4)
                     < '{SPLIT_VAL_HEX}' THEN 'val'
                ELSE 'test' END AS split,
           k.n_tokens, k.quality,
           CAST(CEIL(CAST(greatest(length(d.text), 1) AS DOUBLE)
                     / {CHUNK_STRIDE}) AS BIGINT) AS n_chunks,
           coalesce(b.n_bpe_tokens, CAST(0 AS BIGINT)) AS n_bpe_tokens
    FROM kept k
    JOIN documents d ON k.doc_id = d.doc_id
    LEFT JOIN docbpe b ON k.doc_id = b.doc_id
    """


@register("training_manifest_bpe", _manifest_bpe_oracle)
def q_training_manifest_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """training_dataset_manifest with REAL tokenizer counts (round-10
    verdict #4): the same curation composition, plus per-doc
    ``n_bpe_tokens`` encoded with the frozen BPE piece fixture — the number
    a token-budget plan actually consumes, where whitespace ``n_tokens`` is
    only a cheap proxy (measured ~1.3-2x apart on the testdata corpus).
    Scale shape: encode runs on DISTINCT words only (Arrow pandas_udf over
    the Heaps-law vocabulary), corpus-side work is one explode + broadcast
    join + per-doc sum. Hash-gated: the oracle replays the greedy
    longest-match from the shared piece fixture in a recursive CTE."""
    from datafusion_dedup_ai_spark.operators import hash_fixtures as HF

    return training_manifest_frame(
        load_spread(spark, sf_dir, "documents"),
        bpe_pieces=sorted(
            r["piece"] for r in HF.BPE_PIECES.read(spark, sf_dir).collect()
        ),
    )


# ---------------------------------------------------------------------------
# URL hygiene (functions/urls.py): canonicalization + host-level dedup stats.
# The testdata has no URL column, so both sides derive the same DIRTY url
# deterministically from (doc_id, source): mixed-case scheme/host, www
# prefixes, default and non-default ports, utm tracker runs, fragments and
# trailing slashes — every mess the canonicalizer must survive. The path and
# the surviving query param key on pid = doc_id % 50, so each host carries
# genuine RECRAWL DUPLICATES (same resource, differently-dirty urls) for the
# host stats to count.
# ---------------------------------------------------------------------------

_RAW_URL_SQL = """
    CASE WHEN doc_id % 7 = 0 THEN 'HTTP' WHEN doc_id % 2 = 0 THEN 'HTTPS'
         ELSE 'https' END
    || '://'
    || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END
    || CASE WHEN doc_id % 4 = 0 THEN 'cdn.' ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN upper(source) ELSE source END
    || '.Example.'
    || CASE length(source) % 3 WHEN 0 THEN 'COM' WHEN 1 THEN 'org'
            ELSE 'net' END
    || CASE WHEN doc_id % 7 = 0 THEN ':80' WHEN doc_id % 11 = 0 THEN ':8080'
            WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END
    || '/Docs/' || CAST(doc_id % 50 AS VARCHAR)
    || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
    || CASE WHEN doc_id % 4 = 0
            THEN '?utm_source=feed&utm_campaign=x&id=' || CAST(doc_id % 50 AS VARCHAR)
            WHEN doc_id % 4 = 1
            THEN '?id=' || CAST(doc_id % 50 AS VARCHAR) || '&utm_medium=rss'
            WHEN doc_id % 4 = 2 THEN '?id=' || CAST(doc_id % 50 AS VARCHAR)
            ELSE '' END
    || CASE WHEN doc_id % 6 = 0 THEN '#Section-2' ELSE '' END
"""


def _raw_url_col() -> Column:
    d = F.col("doc_id")
    src = F.col("source")
    tld = (
        F.when(F.length(src) % 3 == 0, "COM")
        .when(F.length(src) % 3 == 1, "org")
        .otherwise("net")
    )
    pid = (d % 50).cast("string")
    return F.concat(
        F.when(d % 7 == 0, "HTTP").when(d % 2 == 0, "HTTPS").otherwise("https"),
        F.lit("://"),
        F.when(d % 3 == 0, "WWW.").otherwise(""),
        F.when(d % 4 == 0, "cdn.").otherwise(""),
        F.when(d % 5 == 0, F.upper(src)).otherwise(src),
        F.lit(".Example."),
        tld,
        F.when(d % 7 == 0, ":80")
        .when(d % 11 == 0, ":8080")
        .when(d % 2 == 0, ":443")
        .otherwise(""),
        F.lit("/Docs/"),
        pid,
        F.when(d % 5 == 0, "/").otherwise(""),
        F.when(
            d % 4 == 0,
            F.concat(F.lit("?utm_source=feed&utm_campaign=x&id="), pid),
        )
        .when(d % 4 == 1, F.concat(F.lit("?id="), pid, F.lit("&utm_medium=rss")))
        .when(d % 4 == 2, F.concat(F.lit("?id="), pid))
        .otherwise(""),
        F.when(d % 6 == 0, "#Section-2").otherwise(""),
    )


def _url_mapping_oracle() -> str:
    from datafusion_dedup_ai_spark.functions import urls as U

    canon = U.sql_canonical_url("raw_url")
    return f"""
    WITH raw AS (
        SELECT doc_id, {_RAW_URL_SQL} AS raw_url FROM documents
    ), canon AS (
        SELECT doc_id, raw_url, {canon} AS canonical_url FROM raw
    )
    SELECT doc_id, raw_url, canonical_url,
           {U.sql_url_host('canonical_url')} AS host,
           {U.sql_registrable_domain(U.sql_url_host('canonical_url'))}
               AS reg_domain
    FROM canon
    """


@register("url_canonical_mapping", _url_mapping_oracle)
def q_url_canonical_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (functions/urls.py): scheme/host lowercasing,
    www and default-port stripping, tracker-param removal (utm_*/fbclid/
    gclid/msclkid/ref — including consecutive runs), fragment and trailing-
    slash cleanup — the normalize-before-dedup step every web-corpus
    pipeline runs before keying anything on a URL. Pure regexp Column
    expressions (whole-stage codegen, no UDF); hash-gated against DuckDB
    mirrors generated from the SAME pattern constants, so the two regex
    engines (Java / RE2) are proven to agree on every derived dirty URL."""
    from datafusion_dedup_ai_spark.functions import urls as U

    d = load_table(spark, sf_dir, "documents")
    raw = d.select("doc_id", _raw_url_col().alias("raw_url"))
    canon = raw.withColumn("canonical_url", U.canonical_url(F.col("raw_url")))
    host = U.url_host(F.col("canonical_url"))
    return canon.select(
        "doc_id",
        "raw_url",
        "canonical_url",
        host.alias("host"),
        U.registrable_domain(host).alias("reg_domain"),
    )


def _host_url_stats_oracle() -> str:
    from datafusion_dedup_ai_spark.functions import urls as U

    canon = U.sql_canonical_url("raw_url")
    return f"""
    WITH raw AS (
        SELECT doc_id, {_RAW_URL_SQL} AS raw_url FROM documents
    ), canon AS (
        SELECT doc_id, {canon} AS canonical_url FROM raw
    ), keyed AS (
        SELECT doc_id, canonical_url,
               {U.sql_url_host('canonical_url')} AS host
        FROM canon
    )
    SELECT host,
           {U.sql_registrable_domain('host')} AS reg_domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT canonical_url) AS BIGINT) AS n_resources,
           CAST(COUNT(*) - COUNT(DISTINCT canonical_url) AS BIGINT)
               AS n_recrawl_dups
    FROM keyed GROUP BY host
    """


@register("host_url_stats", _host_url_stats_oracle)
def q_host_url_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level URL dedup stats — the table a crawl-curation pipeline
    reads to budget per-host quality priors and recrawl pressure: per
    canonical host, document count, DISTINCT canonical resources, and the
    recrawl-duplicate surplus (docs whose differently-dirty raw urls
    canonicalized to the same resource). One groupBy on the host — the
    shuffle key a 100 TB crawl would bucket its url table by anyway."""
    from datafusion_dedup_ai_spark.functions import urls as U

    d = load_table(spark, sf_dir, "documents")
    keyed = (
        d.select(
            "doc_id",
            U.canonical_url(_raw_url_col()).alias("canonical_url"),
        )
        .withColumn("host", U.url_host(F.col("canonical_url")))
        .withColumn("reg_domain", U.registrable_domain(F.col("host")))
    )
    # reg_domain is functionally dependent on host, so adding it to the
    # grouping changes no group boundaries — it just rides the same shuffle.
    return keyed.groupBy("host", "reg_domain").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("canonical_url").cast("bigint").alias("n_resources"),
        (F.count("*") - F.countDistinct("canonical_url"))
        .cast("bigint")
        .alias("n_recrawl_dups"),
    )


# ---------------------------------------------------------------------------
# Curation POLICY composites over the gated dedup/quality layers: which
# member of a near-dup cluster to keep, and how to threshold quality without
# source bias. Both nest other registered queries' oracles as CTEs, so the
# policy layer is hash-gated END-TO-END through the layers it composes.
# ---------------------------------------------------------------------------


def _quality_representatives_oracle() -> str:
    from datafusion_dedup_ai_spark.registry import get_oracle

    return f"""
    WITH tdc AS ({get_oracle("text_dedup_clusters")}),
    q AS ({get_oracle("doc_quality_scores")}),
    j AS (
        SELECT t.doc_id, t.cluster_id, t.cluster_size, q.quality
        FROM tdc t JOIN q USING (doc_id)
    )
    SELECT doc_id, cluster_id, cluster_size, quality,
           (ROW_NUMBER() OVER (
               PARTITION BY cluster_id
               ORDER BY quality DESC, doc_id ASC) = 1) AS is_kept
    FROM j
    """


@register("dedup_quality_representatives", _quality_representatives_oracle)
def q_dedup_quality_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-MAX representative election over the text near-dup clusters
    — the curation policy real pipelines actually want (text_dedup_clusters
    elects min-doc_id, the arbitrary-but-deterministic default; when
    near-dups differ in quality you keep the BEST copy, not the first
    crawled). Ties break to min doc_id so the election stays total. Both
    layers it composes (the MinHash->components clusters and the quality
    scores) are themselves hash-gated registered queries whose oracles nest
    as CTEs — the policy cannot silently drift from the layers.

    Scale shape: one join on doc_id + one window over cluster_id — both
    shuffles already paid by any consumer of the cluster table."""
    from datafusion_dedup_ai_spark.queries_extras import q_text_dedup_clusters
    from datafusion_dedup_ai_spark.queries_text import q_doc_quality_scores

    tdc = q_text_dedup_clusters(spark, sf_dir).select(
        "doc_id", "cluster_id", "cluster_size"
    )
    q = q_doc_quality_scores(spark, sf_dir).select("doc_id", "quality")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        tdc.join(q, "doc_id")
        .withColumn("is_kept", F.row_number().over(w) == 1)
        .select("doc_id", "cluster_id", "cluster_size", "quality", "is_kept")
    )


SOURCE_QUALITY_KEEP_PCT = 0.2


def _source_percentiles_oracle() -> str:
    from datafusion_dedup_ai_spark.registry import get_oracle

    return f"""
    WITH q AS ({get_oracle("doc_quality_scores")}),
    j AS (
        SELECT d.doc_id, d.source, q.quality
        FROM documents d JOIN q ON q.doc_id = d.doc_id
    ), r AS (
        SELECT doc_id, source, quality,
               PERCENT_RANK() OVER (
                   PARTITION BY source
                   ORDER BY quality ASC, doc_id ASC) AS q_pct_rank
        FROM j
    )
    SELECT doc_id, source, quality, q_pct_rank,
           q_pct_rank >= {SOURCE_QUALITY_KEEP_PCT} AS selected
    FROM r
    """


@register("source_quality_percentiles", _source_percentiles_oracle)
def q_source_quality_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-SOURCE quality calibration: percent-rank of each document's
    quality within its source, and the keep decision at the bottom-20%
    cutoff. A single global quality threshold silently starves whole
    sources whose score DISTRIBUTION sits lower (boilerplate-heavy crawls
    vs curated text) — rank-based per-source thresholding drops each
    source's own worst tail instead, the standard bias-free calibration.
    percent_rank = (rank-1)/(n-1) with a doc_id tie-break: exact integers
    into ONE division, so the doubles are bit-identical cross-engine (the
    same argument as the registered ratio gates). One window over the
    source partition — the natural shuffle key."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    from datafusion_dedup_ai_spark.queries_text import q_doc_quality_scores

    q = q_doc_quality_scores(spark, sf_dir).select("doc_id", "quality")
    w = Window.partitionBy("source").orderBy(
        F.col("quality").asc(), F.col("doc_id").asc()
    )
    return (
        d.join(q, "doc_id")
        .withColumn("q_pct_rank", F.percent_rank().over(w))
        .withColumn(
            "selected", F.col("q_pct_rank") >= F.lit(SOURCE_QUALITY_KEEP_PCT)
        )
        .select("doc_id", "source", "quality", "q_pct_rank", "selected")
    )


# ---------------------------------------------------------------------------
# HTML boilerplate removal (functions/html.py) — the extraction step BEFORE
# every layer above: raw crawl pages are mostly markup, and quality ratios,
# dedup shingles and token budgets are all computed on the visible text.
# The synthetic page wraps each document's text in deterministic,
# adversarial-enough chrome (nav, style+script blocks with '<'/'>' inside,
# comments, the six standard entities, a case-varied SCRIPT, &nbsp; runs)
# derived from (doc_id, source, text) — the _RAW_URL_SQL convention: both
# engines build the SAME page from the shared template, then extract
# independently through their own regexp engines.
# ---------------------------------------------------------------------------

_HTML_TEMPLATE = (
    "<!DOCTYPE html><html><head><title>@TITLE@</title>"
    '<style type="text/css">nav ul{list-style:none} .main{color:#333}</style>'
    "<script>var t=1; if (t<2) { t = t+1; }</script></head>"
    '<body><nav><ul><li><a href="/">Home</a></li>'
    '<li><a href="/about">About &amp; Contact</a></li></ul></nav>'
    "@EXTRA_BR@@EXTRA_SCRIPT@"
    '<div class="main"><h1>@TITLE@</h1><p>@BODY1@</p><p>@BODY2@</p></div>'
    "<!-- doc @DOCID@ rendered -->"
    "<footer>Terms&nbsp;&amp;&nbsp;Conditions &#39;@SOURCE@&#39; "
    "&lt;@DOCID@&gt;</footer></body></html>"
)

# per-slot expressions, kept in visual lockstep (VARCHAR/STRING is the one
# dialect split, same as _RAW_URL_SQL vs _raw_url_col)
_HTML_SLOTS_SQL = {
    "TITLE": "substr(text, 1, 40)",
    "BODY1": "substr(text, 1, 200)",
    "BODY2": "substr(text, 201)",
    "DOCID": "CAST(doc_id AS VARCHAR)",
    "SOURCE": "source",
    "EXTRA_BR": (
        "CASE WHEN doc_id % 3 = 0 THEN '<br/><BR/>&nbsp;&nbsp;' "
        "ELSE '' END"
    ),
    "EXTRA_SCRIPT": (
        "CASE WHEN doc_id % 4 = 0 THEN "
        "'<SCRIPT lang=\"js\">if (2>1) { track(\"p&q\"); }</SCRIPT>' "
        "ELSE '' END"
    ),
}


def _html_slot_cols() -> dict[str, Column]:
    return {
        "TITLE": F.expr("substr(text, 1, 40)"),
        "BODY1": F.expr("substr(text, 1, 200)"),
        "BODY2": F.expr("substr(text, 201)"),
        "DOCID": F.col("doc_id").cast("string"),
        "SOURCE": F.col("source"),
        "EXTRA_BR": F.when(
            F.col("doc_id") % 3 == 0, F.lit("<br/><BR/>&nbsp;&nbsp;")
        ).otherwise(""),
        "EXTRA_SCRIPT": F.when(
            F.col("doc_id") % 4 == 0,
            F.lit('<SCRIPT lang="js">if (2>1) { track("p&q"); }</SCRIPT>'),
        ).otherwise(""),
    }


def _html_template_pieces() -> list[str]:
    import re

    return [p for p in re.split(r"(@[A-Z0-9_]+@)", _HTML_TEMPLATE) if p]


def _raw_html_col() -> Column:
    slots = _html_slot_cols()
    parts = []
    for piece in _html_template_pieces():
        if piece.startswith("@") and piece[1:-1] in slots:
            parts.append(slots[piece[1:-1]])
        else:
            parts.append(F.lit(piece))
    return F.concat(*parts)


def _raw_html_sql() -> str:
    parts = []
    for piece in _html_template_pieces():
        if piece.startswith("@") and piece[1:-1] in _HTML_SLOTS_SQL:
            parts.append(_HTML_SLOTS_SQL[piece[1:-1]])
        else:
            parts.append("'" + piece.replace("'", "''") + "'")
    return "(" + " || ".join(parts) + ")"


def _html_extraction_oracle() -> str:
    from datafusion_dedup_ai_spark.functions import html as H

    return f"""
    WITH raw AS (
        SELECT doc_id, source, {_raw_html_sql()} AS raw_html FROM documents
    ), ext AS (
        SELECT doc_id, source, raw_html,
               {H.sql_page_title('raw_html')} AS page_title,
               {H.sql_visible_text('raw_html')} AS visible_text
        FROM raw
    )
    SELECT doc_id, source, page_title, visible_text,
           CAST(length(raw_html) AS BIGINT) AS n_html_chars,
           CAST(length(visible_text) AS BIGINT) AS n_text_chars,
           1.0 - CAST(length(visible_text) AS DOUBLE) / length(raw_html)
               AS boilerplate_ratio
    FROM ext
    """


@register("html_text_extraction", _html_extraction_oracle)
def q_html_text_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> visible text (functions/html.py): comment/script/style
    blocks removed wholesale, tags replaced by spaces, the six standard
    entities decoded AFTER tag removal, whitespace collapsed — plus the
    <title> and the per-page boilerplate ratio (1 - text/html chars).

    Hash-gated END-TO-END through two independent regexp engines: the
    extracted STRINGS (not just counts) must agree byte-for-byte between
    Spark's Java regex and DuckDB's RE2 on every page — the urls.py
    lockstep argument, now over lazy-dot-all block patterns and entity
    decode ordering.

    Scale shape: one projection over the documents scan — no shuffle, no
    UDF, fully inside whole-stage codegen; at 100 TB this runs at scan
    speed and is the cheapest stage of the pipeline it feeds."""
    from datafusion_dedup_ai_spark.functions import html as H

    d = load_table(spark, sf_dir, "documents")
    raw = d.select("doc_id", "source", _raw_html_col().alias("raw_html"))
    ext = raw.select(
        "doc_id",
        "source",
        "raw_html",
        H.page_title(F.col("raw_html")).alias("page_title"),
        H.visible_text(F.col("raw_html")).alias("visible_text"),
    )
    return ext.select(
        "doc_id",
        "source",
        "page_title",
        "visible_text",
        F.length("raw_html").cast("bigint").alias("n_html_chars"),
        F.length("visible_text").cast("bigint").alias("n_text_chars"),
        (
            F.lit(1.0)
            - F.length("visible_text").cast("double") / F.length("raw_html")
        ).alias("boilerplate_ratio"),
    )


def _boilerplate_stats_oracle() -> str:
    from datafusion_dedup_ai_spark.registry import get_oracle

    return f"""
    WITH ext AS ({get_oracle("html_text_extraction")})
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_html_chars) AS BIGINT) AS html_chars,
           CAST(SUM(n_text_chars) AS BIGINT) AS text_chars,
           1.0 - CAST(SUM(n_text_chars) AS DOUBLE) / SUM(n_html_chars)
               AS boilerplate_ratio
    FROM ext GROUP BY source
    """


@register("boilerplate_source_stats", _boilerplate_stats_oracle)
def q_boilerplate_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source markup overhead — the table a crawl pipeline reads to
    budget extraction costs and flag template-heavy sources (a source
    whose pages are 95% chrome wants a different extractor before it
    wastes tokenizer budget). Exact integer sums into one final divide,
    nested on the html_text_extraction oracle CTE so the policy layer is
    gated through the extraction layer it composes."""
    ext = q_html_text_extraction(spark, sf_dir)
    return ext.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_html_chars").cast("bigint").alias("html_chars"),
        F.sum("n_text_chars").cast("bigint").alias("text_chars"),
        (
            F.lit(1.0)
            - F.sum("n_text_chars").cast("double") / F.sum("n_html_chars")
        ).alias("boilerplate_ratio"),
    )
