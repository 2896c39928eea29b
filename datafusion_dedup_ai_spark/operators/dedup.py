"""Deduplication operators for training-data pipelines (extension scope):

* exact dedup — keep-first by key (hash groupBy / window);
* MinHash signatures + banded LSH near-dup candidate pairs + exact-Jaccard
  verification (the scalable tier over the exact n-gram Jaccard in
  queries_text.py);
* SimHash 64-bit fingerprints + pigeonhole-banded near-pairs by Hamming
  distance.

Everything stays JVM-side: shingle hashing uses ``xxhash64``, MinHash mins are
64 partial-aggregated ``min()`` columns after an explode (one shuffle on the
doc id), SimHash bit votes are 64 ``sum(±1)`` columns, and Hamming distance is
``bit_count(a XOR b)``. No Python in any per-row path.

A repeated column family (the 64 mins, the band structs, the 64 votes and
their OR fold, the chunk structs) is built as SQL text, one ``F.expr`` per
member or one for the whole family, never as a per-Column chain: every node
of a Column chain costs several py4j round trips at plan-build time (64
MinHash mins as Column chains take ~4,400), which a micro-batch or a CLI run
pays on every build. Integer literals are written as ``F.lit`` types them
(INT when the value fits 32 bits, else BIGINT — the SQL parser's rule too),
so the SQL form plans exactly as the equivalent Column chain would.

Determinism: hash mixing constants derive from a fixed seed via
``random.Random`` at plan-build time, so plans are identical across runs.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from datafusion_dedup_ai_spark.operators.candidates import bucket_pairs

# MinHash modulus: the largest 32-bit prime (2^32 - 5). The family is
# h_i(x) = (a_i * x + b_i) mod MINHASH_P with a_i < 2^31, x < 2^32 — products
# stay under 2^63 (exact in BIGINT in Spark AND DuckDB), while a_i * x wraps
# the modulus ~a_i (~2^30) times across the x range, so the induced order is
# thoroughly scrambled. Through round 9 the modulus was 2^61 - 1: products
# (< 2^63 ~ 4p) wrapped AT MOST THREE times, leaving h_i order-preserving in
# x on huge segments — the per-doc min collapsed to "the doc's smallest
# xxhash64-low32 shingle" for most of the 64 functions, signatures of J=0.03
# pairs agreed on ~50/64 positions, and E[agreement] was nowhere near J
# (found while building the two-phase verify; pinned by
# tests/test_dedup_ext.py::test_minhash_estimate_is_unbiased).
MINHASH_P = 4294967291
_MASK32 = (1 << 32) - 1


def _signed64(v: int) -> int:
    """Wrap an unsigned 64-bit pattern into Java's signed long range (bit 63
    set means negative), the value a BIGINT literal must carry."""
    return v - (1 << 64) if v >= (1 << 63) else v


def _sql_int(v: int) -> str:
    """SQL text of the integer literal ``v``, typed as ``F.lit(v)`` types it:
    INT when it fits 32 bits, else BIGINT. -2^63 has no literal spelling (the
    parser reads 9223372036854775808 as a decimal), so it is a constant-folded
    shift."""
    return "shiftleft(CAST(1 AS BIGINT), 63)" if v == -(1 << 63) else str(v)


def exact_dedup(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """Keep the first row per key (deterministic order) — classic exact dedup.
    One shuffle on the key; WindowGroupLimit prunes early under AQE."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def drop_hot_shingles(
    shingled: DataFrame,
    max_df: float,
    id_col: str = "doc_id",
    shingles_col: str = "shingles",
) -> DataFrame:
    """Boilerplate defense for shingle-join tiers: remove shingles present in
    more than ``max_df`` fraction of documents before candidate generation.

    At 100 TB the document-frequency skew is what kills shingle equi-joins:
    a header/footer shingle shared by 1% of a billion docs creates a 10^14-row
    join bucket. The hot set is tiny by construction (at most
    ``total_occurrences / (max_df * n_docs)`` distinct shingles), so it
    broadcast-anti-joins against the corpus; the DF computation itself is one
    map-side-combined aggregation.

    This is a RECALL knob, not a correctness-neutral rewrite: documents whose
    overlap is mostly boilerplate stop pairing (usually the desired outcome —
    boilerplate overlap is not similarity). On the synthetic testdata the
    vocabulary is so small that EVERY shingle is quasi-boilerplate (931
    distinct shingles across 5000 docs at sf0.1, max df 6.8%) and true
    J>=0.2 pairs DO share mostly-common shingles, so the exact oracle-gated
    queries keep the filter off; tests/test_dedup_ext.py pins both the
    off-is-identity and the on-drops-hot behaviors.
    """
    ex = shingled.select(F.col(id_col), F.explode(F.col(shingles_col)).alias("s"))
    dfreq = ex.groupBy("s").agg(F.count("*").alias("df"))
    totals = shingled.agg(F.count("*").alias("n_docs"))
    hot = (
        dfreq.crossJoin(F.broadcast(totals))
        .where(F.col("df") > F.lit(max_df) * F.col("n_docs"))
        .select("s")
    )
    kept = ex.join(F.broadcast(hot), "s", "left_anti")
    return kept.groupBy(id_col).agg(F.collect_list("s").alias(shingles_col))


def _hash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 31) | 1, rng.randrange(0, MINHASH_P))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    shingled: DataFrame,
    id_col: str = "doc_id",
    shingles_col: str = "shingles",
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(id, sig: array<bigint>) — sig[i] = min over shingles of
    ``(a_i * x32 + b_i) mod MINHASH_P`` with x32 the low 32 bits of
    xxhash64(shingle). a_i < 2^31 and x32 < 2^32 keep products under 2^63
    (exact in BIGINT); the 32-bit prime modulus makes each function wrap
    ~a_i times so mins are NOT dominated by small x (see MINHASH_P note).

    Physical shape: explode shingles -> one hash column -> groupBy(id) with 64
    partial-aggregated mins. One shuffle, map-side combine does most work.
    """
    params = _hash_params(num_hashes, seed)
    ex = shingled.select(
        F.col(id_col), F.explode(F.col(shingles_col)).alias("s")
    ).select(
        F.col(id_col), F.xxhash64(F.col("s")).bitwiseAND(F.lit(_MASK32)).alias("x")
    )
    mins = [
        F.expr(f"min(({a} * x + {b}) % {MINHASH_P}) AS h{i}")
        for i, (a, b) in enumerate(params)
    ]
    agged = ex.groupBy(id_col).agg(*mins)
    sig = ", ".join(f"h{i}" for i in range(num_hashes))
    return agged.select(F.col(id_col), F.expr(f"array({sig}) AS sig"))


def band_buckets(
    signatures: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """(id, band, bucket): one row per (doc, band), bucket =
    xxhash64(band's signature slice). Pure column work over (id, sig) — no
    shingle or text access, which is what lets the persisted signature index
    serve candidate generation without rescanning the corpus."""
    band_structs = ", ".join(
        f"struct({b} AS band, "
        f"xxhash64(slice(`{sig_col}`, {b * rows_per_band + 1}, {rows_per_band})) AS bucket)"
        for b in range(bands)
    )
    return signatures.select(
        F.col(id_col), F.expr(f"explode(array({band_structs})) AS bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Banded LSH: docs agreeing on ALL rows of any band become a candidate
    pair — the distinct (id_a < id_b) pairs sharing a (band, bucket), from
    ``candidates.bucket_pairs``. Hot buckets (boilerplate docs) are the skew
    to watch at scale (see drop_hot_shingles)."""
    return bucket_pairs(
        band_buckets(signatures, id_col, sig_col, bands, rows_per_band),
        ["band", "bucket"],
        id_col,
    )


def verify_jaccard(
    candidates: DataFrame,
    shingled: DataFrame,
    id_col: str = "doc_id",
    shingles_col: str = "shingles",
    threshold: float = 0.2,
    right: DataFrame | None = None,
) -> DataFrame:
    """Exact-verify candidate pairs: join shingle sets back and compute true
    Jaccard via array intersection (candidates are few, so the per-pair
    intersect is cheap and stays JVM-side). ``id_b`` reads its shingles from
    ``right`` when given (cross-set candidates), else from ``shingled``."""
    sh_a = shingled.select(
        F.col(id_col).alias("id_a"), F.col(shingles_col).alias("sh_a")
    )
    sh_b = (shingled if right is None else right).select(
        F.col(id_col).alias("id_b"), F.col(shingles_col).alias("sh_b")
    )
    joined = candidates.join(sh_a, "id_a").join(sh_b, "id_b")
    inter = "size(array_intersect(sh_a, sh_b))"
    union = f"(size(sh_a) + size(sh_b) - {inter})"
    return joined.selectExpr(
        "id_a",
        "id_b",
        f"CAST({inter} AS BIGINT) AS n_common",
        f"CAST({union} AS BIGINT) AS n_union",
        f"CAST({inter} AS DOUBLE) / {union} AS jaccard",
    ).where(F.col("jaccard") >= threshold)


def minhash_near_dup_pairs(
    shingled: DataFrame,
    id_col: str = "doc_id",
    shingles_col: str = "shingles",
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.2,
    seed: int = 42,
    max_df: float | None = None,
    persist: bool = True,
) -> DataFrame:
    """Full MinHash->LSH->verify pipeline. With 16 bands x 4 rows the LSH
    catch probability at J=0.2 is ~2.5%, at J=0.5 ~65%, at J=0.8 ~99.99% —
    candidates are then exact-verified so precision is 1.0 and recall follows
    the S-curve (tested against the exact pairs in tests/test_dedup_ext.py).

    ``max_df`` (off by default) applies ``drop_hot_shingles`` before
    signature generation — the boilerplate defense for real corpora, where
    near-universal shingles otherwise dominate signatures AND create hot LSH
    buckets. Verification always scores the FILTERED sets it signed, keeping
    emitted jaccard values consistent with the candidate generation.

    ``persist=False`` skips the internal cache — for callers that already
    persisted the shingle frame AND manage unpersisting themselves (the
    streaming sink: an unreleased persist per micro-batch pins executor
    storage without bound).
    """
    rows_per_band = num_hashes // bands
    if max_df is not None:
        shingled = drop_hot_shingles(shingled, max_df, id_col, shingles_col)
    # The shingle frame feeds signature generation AND both sides of the
    # verification join; persist it so shingling runs once.
    from pyspark import StorageLevel

    if persist:
        shingled = shingled.persist(StorageLevel.MEMORY_AND_DISK)
    sigs = minhash_signatures(shingled, id_col, shingles_col, num_hashes, seed)
    if persist:
        # Both sides of the band self-join consume the signature frame; the
        # 64-min explode aggregate is the CPU-heavy stage and would execute
        # once per side without this pin (observed in the sf0.1 physical
        # plan: two Generate+HashAggregate signature subtrees). Signatures
        # are num_hashes longs per doc — orders of magnitude smaller than
        # the shingle sets, so the cache is cheap at any scale.
        sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    cands = lsh_candidate_pairs(sigs, id_col, "sig", bands, rows_per_band)
    return verify_jaccard(cands, shingled, id_col, shingles_col, threshold)


def min_agree_cut(x: float, num_hashes: int) -> int:
    """Smallest integer k with k/num_hashes >= x under IEEE-double division —
    the integer routing cutoff for the two-phase verify. Computed by exact
    float probing around ceil(x*num_hashes) so the cutoff is faithful to the
    double comparison it replaces at the boundary."""
    import math

    k = max(0, math.ceil(x * num_hashes))
    while k > 0 and (k - 1) / num_hashes >= x:
        k -= 1
    while k / num_hashes < x:
        k += 1
    return k


def hashed_shingle_sets(
    shingled: DataFrame, id_col: str = "doc_id", shingles_col: str = "shingles"
) -> DataFrame:
    """(id, shingles: array<bigint>) — each shingle replaced by its xxhash64,
    deduplicated. Jaccard over the hashed sets equals Jaccard over the string
    sets modulo a ~2^-64 per-pair xxhash64 collision — the SAME caveat the
    LSH band buckets already carry (band_buckets docstring) — while the
    verify-join payload drops from ~30-60 bytes per shingle string to a flat
    8 bytes. This is the scale lever for exact verification: at planted-100x
    the all-string verify join spilled past the box's disk (ENOSPC,
    SCALE100.json round 9)."""
    return shingled.select(
        F.col(id_col),
        F.array_distinct(
            F.transform(F.col(shingles_col), lambda s: F.xxhash64(s))
        ).alias(shingles_col),
    )


def minhash_near_dup_pairs_two_phase(
    shingled: DataFrame,
    id_col: str = "doc_id",
    shingles_col: str = "shingles",
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.2,
    seed: int = 42,
    eps: float = 0.15,
    max_df: float | None = None,
    persist: bool = True,
) -> DataFrame:
    """MinHash -> LSH -> TWO-PHASE verify: the 100 TB shape of
    ``minhash_near_dup_pairs``, bounding the verify join's shuffle mass.

    Phase 1 screens every LSH candidate pair with the signature-agreement
    Jaccard estimate (matching positions / num_hashes — E[est] = J, the
    MinHash theorem; fidelity self-graded by minhash_estimate_report).
    The payload per doc is the already-persisted signature (num_hashes
    longs, ~0.5 KiB) instead of the full shingle set:

    * est <  threshold - eps  -> dropped, no payload ever fetched;
    * est >= threshold + eps  -> accepted on the estimate (emitted
      ``jaccard`` IS the estimate; ``decided_by = 'signature'``);
    * otherwise (borderline)  -> phase 2: exact verification, joining only
      these pairs to per-doc HASHED shingle sets (8 bytes/shingle,
      ``hashed_shingle_sets``); accepted iff exact J >= threshold
      (``decided_by = 'exact'``, emitted ``jaccard`` is exact).

    Why this survives 100 TB where the all-exact path dies: true-duplicate
    mass (est far above threshold) never touches shingle payloads — at
    planted-100x that was ~24.75M pairs x two full string arrays, ~70 GB of
    shuffle spill (round-9 SCALE100 ENOSPC). Routing error is bounded by
    Hoeffding: P(|est - J| >= eps) <= 2*exp(-2*num_hashes*eps^2) (~0.6% per
    pair at eps=0.2, 64 hashes); pairs inside the +-eps band are ALWAYS
    exact-verified, so only pairs whose estimate is off by more than eps can
    be mis-routed. Set-equality with the all-exact pipeline is pinned on
    fixed-seed corpora in tests/test_dedup_ext.py.

    Output: (id_a, id_b, n_agree, jaccard_est, decided_by, jaccard).
    Hash-gated end-to-end as ``minhash_two_phase_pairs`` — the oracle
    replays signatures -> banding -> agreement -> routing -> borderline
    exact verify in SQL from the xxhash64 shingle fixture.
    """
    from pyspark import StorageLevel

    if eps < 0:
        # A negative eps flips hi < lo: the borderline band empties and
        # below-threshold estimates would be emitted as 'signature'-accepted
        # with no exact check (round-10 advisor finding).
        raise ValueError(
            f"eps must be >= 0 (got {eps}); a negative band would route "
            "below-threshold pairs to signature acceptance"
        )
    rows_per_band = num_hashes // bands
    if max_df is not None:
        shingled = drop_hot_shingles(shingled, max_df, id_col, shingles_col)
    if persist:
        shingled = shingled.persist(StorageLevel.MEMORY_AND_DISK)
    sigs = minhash_signatures(shingled, id_col, shingles_col, num_hashes, seed)
    if persist:
        sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    cands = lsh_candidate_pairs(sigs, id_col, "sig", bands, rows_per_band)

    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    n_agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda b: b
        )
    ).cast("bigint")
    est = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            n_agree.alias("n_agree"),
            (F.col("n_agree").cast("double") / F.lit(float(num_hashes))).alias(
                "jaccard_est"
            ),
        )
    )
    if persist:
        # est feeds both routing branches; 4 scalar columns per pair.
        est = est.persist(StorageLevel.MEMORY_AND_DISK)
    # Routing compares the INTEGER agreement count against precomputed
    # cutoffs (smallest k with k/num_hashes >= threshold +- eps) rather than
    # the double estimate — bit-identical in any engine, so the SQL oracle
    # replays the routing with integer comparisons instead of re-deriving
    # float thresholds under DuckDB's decimal-literal parsing.
    hi, lo = min_agree_cut(threshold + eps, num_hashes), min_agree_cut(
        threshold - eps, num_hashes
    )
    accepted = est.where(F.col("n_agree") >= hi).select(
        "id_a",
        "id_b",
        "n_agree",
        "jaccard_est",
        F.lit("signature").alias("decided_by"),
        F.col("jaccard_est").alias("jaccard"),
    )
    border = est.where((F.col("n_agree") >= lo) & (F.col("n_agree") < hi))
    hashed = hashed_shingle_sets(shingled, id_col, shingles_col)
    exact = verify_jaccard(
        border.select("id_a", "id_b"), hashed, id_col, shingles_col, threshold
    )
    verified = (
        exact.join(border, ["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            "n_agree",
            "jaccard_est",
            F.lit("exact").alias("decided_by"),
            "jaccard",
        )
    )
    return accepted.unionByName(verified)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash64(
    tokenized: DataFrame, id_col: str = "doc_id", tokens_col: str = "tokens"
) -> DataFrame:
    """(id, simhash: bigint) — 64-bit SimHash: per-bit ±1 votes from
    xxhash64(token), weighted by token multiplicity (explode keeps dups).
    64 partial-aggregated sums after one explode; one shuffle on the id."""
    ex = tokenized.select(
        F.col(id_col), F.explode(F.col(tokens_col)).alias("t")
    ).select(F.col(id_col), F.xxhash64(F.col("t")).alias("h"))
    bits = [_sql_int(_signed64(1 << j)) for j in range(64)]
    votes = [
        F.expr(f"sum(CASE WHEN (h & {bit}) != 0 THEN 1 ELSE -1 END) AS v{j}")
        for j, bit in enumerate(bits)
    ]
    agged = ex.groupBy(id_col).agg(*votes)
    sim = " | ".join(
        f"CASE WHEN v{j} >= 0 THEN CAST({bit} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for j, bit in enumerate(bits)
    )
    return agged.select(F.col(id_col), F.expr(f"{sim} AS simhash"))


def simhash_near_pairs(
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs within Hamming distance k via pigeonhole banding: split 64 bits
    into k+1 chunks; any pair within distance k agrees exactly on >= 1 chunk,
    so chunk equality is the (equi-join!) candidate key; verify with
    bit_count(xor). Avoids the quadratic all-pairs scan entirely."""
    n_chunks = max_hamming + 1
    width = 64 // n_chunks
    chunk_structs = []
    for c in range(n_chunks):
        shift = c * width
        w = width if c < n_chunks - 1 else 64 - shift
        mask = _sql_int(_signed64(((1 << w) - 1) << shift))
        chunk_structs.append(f"struct({c} AS chunk, `{sim_col}` & {mask} AS val)")
    buckets = fingerprints.select(
        F.col(id_col), F.expr(f"explode(array({', '.join(chunk_structs)})) AS cc")
    ).select(id_col, F.col("cc.chunk").alias("chunk"), F.col("cc.val").alias("val"))
    sims = fingerprints.select(id_col, sim_col)
    cands = (
        bucket_pairs(buckets, ["chunk", "val"], id_col)
        .join(sims.withColumnsRenamed({id_col: "id_a", sim_col: "sim_a"}), "id_a")
        .join(sims.withColumnsRenamed({id_col: "id_b", sim_col: "sim_b"}), "id_b")
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cands.withColumn("hamming", hamming.cast("bigint"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Incremental (batch-vs-corpus) dedup
# ---------------------------------------------------------------------------


def incremental_exact_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """New-batch ingestion dedup: keep batch rows whose content hash is (a)
    the first occurrence WITHIN the batch and (b) absent from the corpus.

    This is the shape a training-data pipeline runs on every incoming crawl
    batch. Physical plan: one window over the (small) batch keyed by content
    hash, then a left-anti join against the corpus's DISTINCT hash set. At
    100 TB the corpus side is a hash-only projection (16 bytes/row after the
    distinct) — in production it would be a persisted hash index appended per
    batch, not a rescan; the plan here is the same join either way. The anti
    join shuffles on the hash, which is uniform by construction (no skew).
    """
    corpus_hashes = corpus.select(F.md5(F.col(text_col)).alias("content_hash")).distinct()
    b = batch.withColumn("content_hash", F.md5(F.col(text_col)))
    w = Window.partitionBy("content_hash").orderBy(id_col)
    first_in_batch = (
        b.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
    )
    return first_in_batch.join(corpus_hashes, "content_hash", "left_anti")


def incremental_near_dup_matches(
    corpus_shingled: DataFrame,
    batch_shingled: DataFrame,
    id_col: str = "doc_id",
    shingles_col: str = "shingles",
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.2,
    seed: int = 42,
) -> DataFrame:
    """(batch_id, corpus_id, n_common, n_union, jaccard): near-duplicate
    matches of NEW batch documents against the EXISTING corpus via MinHash
    band buckets — only cross-set pairs, never corpus x corpus.

    Scale shape: corpus signatures/band-buckets are computed once (in
    production: persisted and appended per batch; here recomputed — the join
    topology is identical). The candidate join is batch-buckets ⋈
    corpus-buckets on (band, bucket): its size is |batch| x collision rate,
    NOT |corpus|², which is what makes per-batch dedup affordable against an
    arbitrarily large corpus.
    """
    from pyspark import StorageLevel

    rows_per_band = num_hashes // bands
    corpus_shingled = corpus_shingled.persist(StorageLevel.MEMORY_AND_DISK)
    batch_shingled = batch_shingled.persist(StorageLevel.MEMORY_AND_DISK)
    c_sigs = minhash_signatures(corpus_shingled, id_col, shingles_col, num_hashes, seed)
    b_sigs = minhash_signatures(batch_shingled, id_col, shingles_col, num_hashes, seed)

    cands = bucket_pairs(
        band_buckets(b_sigs, id_col, "sig", bands, rows_per_band),
        ["band", "bucket"],
        id_col,
        right=band_buckets(c_sigs, id_col, "sig", bands, rows_per_band),
    )
    return verify_jaccard(
        cands, batch_shingled, id_col, shingles_col, threshold, right=corpus_shingled
    ).select(
        F.col("id_a").alias("batch_id"),
        F.col("id_b").alias("corpus_id"),
        "n_common",
        "n_union",
        "jaccard",
    )


def greedy_min_id_dropped(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 50,
) -> DataFrame:
    """(id): the vertices DROPPED by sequential-by-id leader dedup over the
    near-dup pair graph — process ids ascending, keep a vertex iff it has no
    already-KEPT neighbor (greedy maximal independent set).

    Why this rule and not "drop every id_b of a pair": the naive rule is not
    self-consistent under replay. On a chain a~b, b~c (no a~c pair, a<b<c)
    it keeps only {a}; a replayed c then matches nothing kept — its only
    neighbor b was itself dropped — and ingests twice. Leader dedup keeps
    {a, c}: every dropped vertex has a KEPT neighbor, so an at-least-once
    sink that matches arrivals against survivors drops every replay
    (idempotency with no transactional sink), and nothing is dropped whose
    near-duplicates all disappeared — the drop list is justified by the
    surviving corpus alone.

    Implementation: the classic parallel rounds equivalent to the sequential
    order — each round promotes every undecided vertex with no SMALLER
    undecided neighbor to kept (dropped neighbors do not block, exactly as
    in the sequential scan) and drops the new leaders' undecided neighbors.
    Rounds = O(longest dependency chain), tiny for near-dup graphs; each
    round is two shuffles on the edge list, same cost model as
    cluster_label_propagation."""
    # Single-scan base (see cluster_label_propagation): the caller's pair
    # pipeline materializes once even though sym's union references it on
    # both sides.
    base = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v")).localCheckpoint(
        eager=False
    )
    sym = (
        base.union(base.select(F.col("v"), F.col("u")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    undecided = sym.select(F.col("u").alias("id")).distinct()
    dropped = None
    converged = False
    for _ in range(max_iters):
        e = sym.join(
            undecided.select(F.col("id").alias("u")), "u"
        ).join(undecided.select(F.col("id").alias("v")), "v")
        blocked = (
            e.where(F.col("v") < F.col("u"))
            .select(F.col("u").alias("id"))
            .distinct()
        )
        leaders = undecided.join(blocked, "id", "left_anti").localCheckpoint(
            eager=True
        )
        newly_dropped = (
            e.join(leaders.select(F.col("id").alias("u")), "u")
            .select(F.col("v").alias("id"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        dropped = (
            newly_dropped
            if dropped is None
            else dropped.union(newly_dropped).distinct()
        )
        undecided = (
            undecided.join(leaders, "id", "left_anti")
            .join(newly_dropped, "id", "left_anti")
            .localCheckpoint(eager=True)
        )
        if undecided.isEmpty():
            converged = True
            break
    if not converged:
        # Every round decides at least the smallest undecided id, so this
        # needs a dependency chain > max_iters rounds deep (e.g. thousands of
        # consecutive-id boilerplate mutations). Returning the partial set
        # would SILENTLY break the pair-free-survivor and replay-idempotency
        # contracts of the streaming sinks — fail loudly instead.
        n_left = undecided.count()
        raise RuntimeError(
            f"greedy_min_id_dropped did not converge in {max_iters} rounds "
            f"({n_left} vertices undecided) — the pair graph has a longer "
            "sequential dependency chain than expected; raise max_iters"
        )
    if dropped is None:
        return sym.select(F.col("u").alias("id")).limit(0)
    return dropped
