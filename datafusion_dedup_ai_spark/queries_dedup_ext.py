"""Scalable-dedup query pack: exact dedup (oracle-gated) and the MinHash-LSH /
SimHash approximate tiers — hash-gated since round 5 via the materialized
hash fixtures (operators/hash_fixtures.py): xxhash64 has no DuckDB
equivalent, but it is the only non-SQL step, so the oracles replay the FULL
signature/banding/candidate/verify arithmetic in SQL from the same parquet
fixture while tests/test_xxhash64_ref.py pins Spark's xxhash64 against a
pure-Python reference. Recall fidelity vs the exact oracle-gated
ngram_jaccard_pairs stays pinned in tests/test_dedup_ext.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_dedup_ai_spark.functions import text as T
from datafusion_dedup_ai_spark.operators import dedup as D
from datafusion_dedup_ai_spark.operators import hash_fixtures as HF
from datafusion_dedup_ai_spark.registry import register
from datafusion_dedup_ai_spark.sources.readers import load_spread, load_table


# ---------------------------------------------------------------------------
# SQL-replay oracle builders (see operators/hash_fixtures.py docstring)
# ---------------------------------------------------------------------------

_NUM_HASHES = 64
_BANDS = 16
_ROWS_PER_BAND = _NUM_HASHES // _BANDS
_JACCARD_T = 0.2
_MAX_HAMMING = 6


def _minhash_mins_with(glob: str) -> str:
    """CTE fragment: the 64 hash-family parameters (same seed-42 stream as
    operators/dedup.py::_hash_params) and the per-(doc, family) min —
    ``(a*x+b) mod MINHASH_P`` replayed on the fixture's xxhash64 low-32 bits.
    Products stay under 2^63 (a < 2^31, x < 2^32), exactly as on the Spark
    side, so every value is exact in BIGINT."""
    params = D._hash_params(_NUM_HASHES, seed=42)
    values = ", ".join(f"({i},{a},{b})" for i, (a, b) in enumerate(params))
    return f"""
    params(i, a, b) AS (VALUES {values}),
    mins AS (
        SELECT f.doc_id, p.i,
               MIN((p.a * f.x + p.b) % {D.MINHASH_P}) AS hv
        FROM '{glob}' f CROSS JOIN params p
        GROUP BY f.doc_id, p.i
    )"""


def _minhash_signatures_oracle() -> str:
    g = HF.SHINGLE_HASHES.glob()
    return f"""
    WITH {_minhash_mins_with(g)}
    SELECT doc_id, to_json(list(hv ORDER BY i))::VARCHAR AS sig_json
    FROM mins GROUP BY doc_id
    """


def _band_cands_with(glob: str) -> str:
    """CTE fragment (requires ``mins``): band keys and candidate pairs.
    The oracle groups on the band's VALUE TUPLE where Spark buckets on
    xxhash64(slice) — equality of slices iff equality of buckets, modulo a
    ~2^-64 xxhash64 collision that exact-Jaccard verification would still
    have to pass (hash_fixtures.py docstring)."""
    return f"""
    bandkeys AS (
        SELECT doc_id, i // {_ROWS_PER_BAND} AS band,
               string_agg(hv::VARCHAR, ',' ORDER BY i) AS bkey
        FROM mins GROUP BY doc_id, i // {_ROWS_PER_BAND}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM '{glob}' GROUP BY doc_id)"""


def _minhash_near_pairs_oracle() -> str:
    g = HF.SHINGLE_HASHES.glob()
    return f"""
    WITH {_minhash_mins_with(g)},
    {_band_cands_with(g)},
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bandkeys a JOIN bandkeys b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    common AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS n_common
        FROM cand c
        JOIN '{g}' fa ON fa.doc_id = c.id_a
        JOIN '{g}' fb ON fb.doc_id = c.id_b AND fb.shingle = fa.shingle
        GROUP BY c.id_a, c.id_b
    )
    SELECT cm.id_a, cm.id_b, cm.n_common,
           (sa.n + sb.n - cm.n_common) AS n_union,
           CAST(cm.n_common AS DOUBLE) / (sa.n + sb.n - cm.n_common) AS jaccard
    FROM common cm
    JOIN sizes sa ON sa.doc_id = cm.id_a
    JOIN sizes sb ON sb.doc_id = cm.id_b
    WHERE CAST(cm.n_common AS DOUBLE) / (sa.n + sb.n - cm.n_common)
          >= {_JACCARD_T}
    """


_TWO_PHASE_EPS = 0.15


def _minhash_two_phase_oracle() -> str:
    """Replays the full two-phase pipeline in SQL: signatures -> banding ->
    candidates -> signature-agreement estimate -> integer-cutoff routing ->
    borderline-only exact verify. The routing cutoffs are the SAME Python
    integers the Spark plan uses (D.min_agree_cut), so the oracle needs no
    float-literal threshold parsing."""
    g = HF.SHINGLE_HASHES.glob()
    hi = D.min_agree_cut(_JACCARD_T + _TWO_PHASE_EPS, _NUM_HASHES)
    lo = D.min_agree_cut(_JACCARD_T - _TWO_PHASE_EPS, _NUM_HASHES)
    return f"""
    WITH {_minhash_mins_with(g)},
    {_band_cands_with(g)},
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bandkeys a JOIN bandkeys b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    agree AS (
        SELECT c.id_a, c.id_b,
               CAST(SUM(CASE WHEN ma.hv = mb.hv THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_agree
        FROM cand c
        JOIN mins ma ON ma.doc_id = c.id_a
        JOIN mins mb ON mb.doc_id = c.id_b AND mb.i = ma.i
        GROUP BY c.id_a, c.id_b
    ),
    est AS (
        SELECT id_a, id_b, n_agree,
               CAST(n_agree AS DOUBLE) / {_NUM_HASHES} AS jaccard_est
        FROM agree
    ),
    border AS (
        SELECT * FROM est WHERE n_agree >= {lo} AND n_agree < {hi}
    ),
    common AS (
        SELECT b.id_a, b.id_b, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM border b
        JOIN '{g}' fa ON fa.doc_id = b.id_a
        JOIN '{g}' fb ON fb.doc_id = b.id_b AND fb.shingle = fa.shingle
        GROUP BY b.id_a, b.id_b
    )
    SELECT id_a, id_b, n_agree, jaccard_est,
           'signature' AS decided_by, jaccard_est AS jaccard
    FROM est WHERE n_agree >= {hi}
    UNION ALL
    SELECT b.id_a, b.id_b, b.n_agree, b.jaccard_est,
           'exact' AS decided_by,
           CAST(cm.n_common AS DOUBLE) / (sa.n + sb.n - cm.n_common)
               AS jaccard
    FROM border b
    JOIN common cm ON cm.id_a = b.id_a AND cm.id_b = b.id_b
    JOIN sizes sa ON sa.doc_id = b.id_a
    JOIN sizes sb ON sb.doc_id = b.id_b
    WHERE CAST(cm.n_common AS DOUBLE) / (sa.n + sb.n - cm.n_common)
          >= {_JACCARD_T}
    """


def _incremental_near_dup_oracle() -> str:
    """Cross-set variant: batch docs (doc_id%10>=8) vs corpus docs
    (doc_id%10<8). Per-doc mins/band keys are independent of the other
    documents, so the global fixture serves both sides; only the candidate
    join is restricted to cross-set pairs — the same |batch| x collision-rate
    topology as the Spark index path."""
    g = HF.SHINGLE_HASHES.glob()
    return f"""
    WITH {_minhash_mins_with(g)},
    {_band_cands_with(g)},
    cand AS (
        SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
        FROM bandkeys b JOIN bandkeys c
          ON b.band = c.band AND b.bkey = c.bkey
        WHERE b.doc_id % 10 >= 8 AND c.doc_id % 10 < 8
    ),
    common AS (
        SELECT c.batch_id, c.corpus_id, COUNT(*) AS n_common
        FROM cand c
        JOIN '{g}' fa ON fa.doc_id = c.batch_id
        JOIN '{g}' fb ON fb.doc_id = c.corpus_id AND fb.shingle = fa.shingle
        GROUP BY c.batch_id, c.corpus_id
    )
    SELECT cm.batch_id, cm.corpus_id, cm.n_common,
           (sa.n + sb.n - cm.n_common) AS n_union,
           CAST(cm.n_common AS DOUBLE) / (sa.n + sb.n - cm.n_common) AS jaccard
    FROM common cm
    JOIN sizes sa ON sa.doc_id = cm.batch_id
    JOIN sizes sb ON sb.doc_id = cm.corpus_id
    WHERE CAST(cm.n_common AS DOUBLE) / (sa.n + sb.n - cm.n_common)
          >= {_JACCARD_T}
    """


def _simhash_fp_with(glob: str) -> str:
    """CTE fragment: 64 multiplicity-weighted bit votes and the signed-64
    fingerprint reconstruction (bit 63 contributes -2^63; partial sums peak
    at 2^63-1, so BIGINT arithmetic never overflows)."""
    vote_cols = ", ".join(
        f"SUM(CASE WHEN (h & {D._signed64(1 << j)}) != 0"
        f" THEN cnt ELSE -cnt END) AS v{j}"
        for j in range(64)
    )
    recon = " + ".join(
        [f"CASE WHEN v{j} >= 0 THEN {1 << j} ELSE 0 END" for j in range(63)]
        + [f"CASE WHEN v63 >= 0 THEN {-(1 << 63)} ELSE 0 END"]
    )
    return f"""
    votes AS (
        SELECT doc_id, {vote_cols}
        FROM '{glob}' GROUP BY doc_id
    ),
    fp AS (SELECT doc_id, CAST({recon} AS BIGINT) AS simhash FROM votes)"""


def _simhash_fingerprints_oracle() -> str:
    g = HF.TOKEN_HASHES.glob()
    return f"""
    WITH {_simhash_fp_with(g)}
    SELECT doc_id, simhash FROM fp
    """


def _simhash_near_pairs_oracle() -> str:
    g = HF.TOKEN_HASHES.glob()
    n_chunks = _MAX_HAMMING + 1
    width = 64 // n_chunks
    masks = []
    for c in range(n_chunks):
        shift = c * width
        w = width if c < n_chunks - 1 else 64 - shift
        masks.append((c, D._signed64(((1 << w) - 1) << shift)))
    mask_values = ", ".join(f"({c}, {m})" for c, m in masks)
    return f"""
    WITH {_simhash_fp_with(g)},
    chunks(chunk, mask) AS (VALUES {mask_values}),
    buckets AS (
        SELECT doc_id, simhash, c.chunk, simhash & c.mask AS val
        FROM fp CROSS JOIN chunks c
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.simhash AS sa, b.simhash AS sb
        FROM buckets a JOIN buckets b
          ON a.chunk = b.chunk AND a.val = b.val AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= {_MAX_HAMMING}
    """


# ===========================================================================
# Exact dedup — keep-first per key
# ===========================================================================


@register(
    "exact_dedup_events",
    """
    SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us
    FROM (
        SELECT user_id, event_type, event_id, ts,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id) AS rn
        FROM events)
    WHERE rn = 1
    """,
)
def q_exact_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First event per (user, type): classic keep-first exact dedup."""
    e = load_table(spark, sf_dir, "events")
    kept = D.exact_dedup(e, ["user_id", "event_type"], ["ts", "event_id"])
    return kept.select(
        "user_id", "event_type", "event_id", F.unix_micros("ts").alias("ts_us")
    )


@register(
    "exact_dedup_documents",
    """
    SELECT content_hash, rep_doc_id, n_copies FROM (
        SELECT md5(text) AS content_hash,
               MIN(doc_id) AS rep_doc_id,
               COUNT(*) AS n_copies
        FROM documents GROUP BY md5(text))
    """,
)
def q_exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash dedup: one representative (min id) per distinct text.
    Hash-groupBy form — at 100 TB this is the cheapest dedup pass (map-side
    partial agg on md5, one shuffle)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("rep_doc_id"), F.count("*").alias("n_copies")
    )


# ===========================================================================
# Approximate distinct (extension; rows-only: approx by definition)
# ===========================================================================


@register("approx_distinct_users", None)
def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-count vs exact, with relative error — the
    constant-memory path for 100 TB cardinality estimation."""
    e = load_table(spark, sf_dir, "events")
    return e.agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    ).select(
        "approx_users",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users")
        ).alias("rel_error"),
    )


# ===========================================================================
# MinHash + LSH near-duplicate tier (rows-only; fidelity pinned in tests)
# ===========================================================================


def _shingled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_spread(spark, sf_dir, "documents")
    return d.select("doc_id", T.distinct_shingles(F.col("text")).alias("shingles"))


@register("minhash_signatures", _minhash_signatures_oracle)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-hash MinHash signatures over word-bigram shingles (one explode +
    64 partial-aggregated mins). Hash-gated: the oracle replays the
    (a*x+b) mod p mins in SQL from the materialized xxhash64 fixture.

    The contract surface serializes ``sig`` to JSON: the driver's
    canonicalizer sorts every column and array cells are unhashable in pandas.
    Library callers use D.minhash_signatures directly for the array form.
    """
    sigs = D.minhash_signatures(_shingled_docs(spark, sf_dir))
    return sigs.select("doc_id", F.to_json("sig").alias("sig_json"))


@register("minhash_near_dup_pairs", _minhash_near_pairs_oracle)
def q_minhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH (16 bands x 4 rows) candidates, exact-Jaccard-verified at 0.2 —
    the scale path replacing the quadratic ngram_jaccard_pairs join.
    Hash-gated: the oracle replays signature -> banding -> candidate ->
    verify entirely in SQL from the shingle-hash fixture."""
    return D.minhash_near_dup_pairs(_shingled_docs(spark, sf_dir))


@register("minhash_two_phase_pairs", _minhash_two_phase_oracle)
def q_minhash_two_phase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB near-dup verify shape (round-9 verdict #2): LSH candidates
    screened by the signature-agreement estimate, with ONLY the borderline
    band (|est - threshold| < eps) joined to hashed shingle sets for exact
    verification — true-duplicate mass never carries shingle payloads, which
    is what let the planted-100x probe finish within disk (SCALE100.json).
    Hash-gated: the oracle replays estimate, integer routing, and borderline
    exact verify in SQL from the xxhash64 shingle fixture.

    Column semantics (round-10 advisor): the emitted ``jaccard`` is
    HETEROGENEOUS — the MinHash ESTIMATE for ``decided_by = 'signature'``
    rows (Hoeffding-bounded, within eps of true J except w.p.
    2*exp(-2*num_hashes*eps^2)), the exact value for ``decided_by =
    'exact'`` rows. Downstream consumers needing exact similarities must
    filter ``decided_by = 'exact'`` or rerun the all-exact pipeline
    (``minhash_near_dup_pairs``) on the emitted id pairs."""
    return D.minhash_near_dup_pairs_two_phase(
        _shingled_docs(spark, sf_dir), eps=_TWO_PHASE_EPS
    )


# ===========================================================================
# SimHash near-duplicate tier (rows-only)
# ===========================================================================


@register("simhash_fingerprints", _simhash_fingerprints_oracle)
def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints. Hash-gated: the oracle reconstructs the
    multiplicity-weighted bit votes and the signed fingerprint in SQL from
    the token-hash fixture."""
    d = load_spread(spark, sf_dir, "documents")
    tok = d.select("doc_id", T.tokens(F.col("text")).alias("tokens"))
    return D.simhash64(tok)


@register("simhash_near_pairs", _simhash_near_pairs_oracle)
def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming <= 6 pairs via pigeonhole banding (equi-join on bit chunks,
    never all-pairs). Hash-gated: the oracle replays chunk banding +
    bit_count(xor) verification in SQL from the token-hash fixture."""
    d = load_spread(spark, sf_dir, "documents")
    tok = d.select("doc_id", T.tokens(F.col("text")).alias("tokens"))
    return D.simhash_near_pairs(D.simhash64(tok), max_hamming=6)


# ===========================================================================
# Incremental (batch-vs-corpus) dedup — the per-crawl ingestion shape
# ===========================================================================

# Deterministic corpus/batch split of the documents table: 80% existing
# corpus, 20% incoming batch. Defined in the registration-free
# shared_params module (extras oracles embed these; see its docstring),
# re-exported here so the historical import path keeps working.
from datafusion_dedup_ai_spark.shared_params import (  # noqa: E402,F401
    _BATCH_PRED,
    _CORPUS_PRED,
)


@register(
    "incremental_exact_new_docs",
    f"""
    WITH corpus AS (
        SELECT * FROM documents WHERE {_CORPUS_PRED}
    ), batch AS (
        SELECT * FROM documents WHERE {_BATCH_PRED}
    ), firsts AS (
        SELECT doc_id, n_chars, md5(text) AS content_hash,
               ROW_NUMBER() OVER (
                   PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM batch
    )
    SELECT f.doc_id, f.content_hash, f.n_chars
    FROM firsts f
    WHERE rn = 1 AND NOT EXISTS (
        SELECT 1 FROM corpus c WHERE md5(c.text) = f.content_hash)
    """,
)
def q_incremental_exact_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact incremental dedup: documents in the incoming batch (doc_id%10>=8)
    that are genuinely new — first of their content hash within the batch and
    unseen in the existing corpus (doc_id%10<8). The anti-join side is a
    16-byte/row hash projection, so the corpus can be arbitrarily large."""
    d = load_table(spark, sf_dir, "documents")
    corpus = d.where(F.expr(_CORPUS_PRED))
    batch = d.where(F.expr(_BATCH_PRED))
    new = D.incremental_exact_dedup(corpus, batch)
    return new.select("doc_id", "content_hash", "n_chars")


def _corpus_index_path(spark: SparkSession, sf_dir: str) -> str:
    """The corpus signature index, built once per process per sf: it is
    immutable per scale factor, so one build serves every evaluation."""
    from datafusion_dedup_ai_spark import materialize as MZ
    from datafusion_dedup_ai_spark.operators import lsh_index as LX

    def build(path: str) -> None:
        d = load_spread(spark, sf_dir, "documents")
        sh = d.select("doc_id", T.distinct_shingles(F.col("text")).alias("shingles"))
        LX.build(LX.MINHASH, sh.where(F.expr(_CORPUS_PRED)), path)

    return MZ.build_once(MZ.artifact_path(sf_dir, "minhash_index"), build)


@register("incremental_near_dup_matches", _incremental_near_dup_oracle)
def q_incremental_near_dup_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH matches of incoming-batch docs against the existing corpus
    (cross-set only — |batch| x collision-rate candidates, never |corpus|^2),
    via the PERSISTED signature index (operators/lsh_index.py): the
    corpus is shingled/signed ONCE PER PROCESS into a parquet index (the
    materialize.py snapshot pattern), then the batch is matched against the
    index without rescanning corpus text — the shape a per-crawl pipeline
    actually runs. Index-path == recompute-path equality, the
    no-corpus-rescan plan property, and cross-set recall vs the exact
    Jaccard ground truth are pinned in tests/test_dedup_ext.py.
    Hash-gated since round 5: the oracle replays the cross-set pipeline in
    SQL from the shingle-hash fixture."""
    from pyspark import StorageLevel

    from datafusion_dedup_ai_spark.operators import lsh_index as LX

    index_path = _corpus_index_path(spark, sf_dir)
    d = load_spread(spark, sf_dir, "documents")
    sh = d.select("doc_id", T.distinct_shingles(F.col("text")).alias("shingles"))
    # the match reads the batch twice (signatures and verify)
    batch_sh = sh.where(F.expr(_BATCH_PRED)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return LX.match(LX.MINHASH, spark, index_path, batch_sh, _JACCARD_T)
