"""Similarity search over embedding columns (extension scope): brute-force
cosine top-k as the exact baseline, and a multi-table random-hyperplane LSH
tier as the scale path.

Exact tier: pure Column expressions — embeddings widened float->double, dot
products as a left fold (``aggregate(zip_with(...))``) so the DuckDB oracle
can mirror the arithmetic order exactly (bitwise-equal doubles).

LSH tier: bucket signatures computed by an Arrow-vectorized pandas UDF (one
numpy matmul per batch — the idiomatic use of Python here; 32 separate
fold-expressions per row would burn JVM time for no gain). Buckets then flow
through ordinary explode + equi-join + exact re-rank, all JVM-side.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType

from datafusion_dedup_ai_spark.operators.candidates import bucket_pairs


def as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot_fold(a: Column, b: Column) -> Column:
    """Left-fold dot product — order-pinned so oracles can reproduce it."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    ad, bd = as_double(a), as_double(b)
    return dot_fold(ad, bd) / (
        F.sqrt(dot_fold(ad, ad)) * F.sqrt(dot_fold(bd, bd))
    )


def self_dot(a: Column) -> Column:
    """dot_fold(v, v) — for precomputing per-VECTOR self-dots once in a
    projection instead of once per candidate pair. The fold is the same
    expression over the same array, so the value is bit-identical to the
    inline form in ``cosine`` and oracles keep matching bitwise."""
    ad = as_double(a)
    return dot_fold(ad, ad)


def cosine_with_norms(a: Column, b: Column, aa: Column, bb: Column) -> Column:
    """``cosine`` with the two self-dots supplied from precomputed columns
    (see self_dot): the pair stage folds only dot(a, b)."""
    return dot_fold(as_double(a), as_double(b)) / (F.sqrt(aa) * F.sqrt(bb))


def verify_cosine(
    pairs: DataFrame,
    left: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float | None = None,
    right: DataFrame | None = None,
    a: str = "id_a",
    b: str = "id_b",
) -> DataFrame:
    """(a, b, cosine): the exact cosine of every candidate pair in ``pairs``.

    ``a``'s vector comes from ``left`` and ``b``'s from ``right`` (default
    ``left``), each keyed by ``id_col``. Each side is projected once with
    its self_dot, so the pair stage folds only dot(a, b): a third of the
    per-pair fold work, and the same bits as the inline ``cosine``, so the
    oracle mirrors match bitwise. Pairs below ``threshold`` are dropped
    when it is given. Pass ``F.broadcast(frame)`` as a side to make its
    join map-side; the hint carries through the projection.
    """

    def side(df: DataFrame, key: str, v: str, n: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(key),
            F.col(vec_col).alias(v),
            self_dot(F.col(vec_col)).alias(n),
        )

    scored = (
        pairs.join(side(left, a, "_va", "_naa"), a)
        .join(side(left if right is None else right, b, "_vb", "_nbb"), b)
        .withColumn(
            "cosine",
            cosine_with_norms(
                F.col("_va"), F.col("_vb"), F.col("_naa"), F.col("_nbb")
            ),
        )
    )
    if threshold is not None:
        scored = scored.where(F.col("cosine") >= threshold)
    return scored.select(a, b, "cosine")


def top_k(
    scored: DataFrame,
    k: int,
    score: str = "cosine",
    tie: str = "neighbor_id",
) -> DataFrame:
    """The ``k`` best rows of ``scored`` per ``query_id``, ranked by
    (``score`` desc, ``tie`` asc), with the bigint 1-based ``rk`` column
    appended."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col(tie).asc()
    )
    return scored.withColumn("rk", F.row_number().over(w).cast("bigint")).where(
        F.col("rk") <= k
    )


def rerank_topk(
    cand: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rk): the exact re-rank every ANN tier
    ends with. ``cand`` holds (query_id, neighbor_id); the query side is
    broadcast, since the query set is small at any corpus size."""
    scored = verify_cosine(
        cand, F.broadcast(queries), id_col, vec_col,
        right=corpus, a="query_id", b="neighbor_id",
    )
    return top_k(scored, k)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query: broadcast the (small) query set,
    score every corpus vector, keep k by (cosine desc, id asc). At cluster
    scale the corpus stays partitioned; only queries move. Self-dots are
    precomputed per side, as in verify_cosine."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        self_dot(F.col(vec_col)).alias("_nqq"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        self_dot(F.col(vec_col)).alias("_ncc"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            cosine_with_norms(
                F.col("q_vec"), F.col("c_vec"), F.col("_nqq"), F.col("_ncc")
            ),
        )
    )
    return top_k(scored, k).select("query_id", "neighbor_id", "cosine", "rk")


def _hyperplanes(n_tables: int, n_bits: int, dim: int, seed: int) -> np.ndarray:
    rng = random.Random(seed)
    flat = [rng.gauss(0.0, 1.0) for _ in range(n_tables * n_bits * dim)]
    return np.array(flat, dtype=np.float64).reshape(n_tables, n_bits, dim)


def _hyperplanes_schedule(
    schedule: list[int], dim: int, seed: int
) -> np.ndarray:
    """Per-table hyperplanes for a bit SCHEDULE (lsh_bits_schedule): table t
    consumes ``schedule[t] * dim`` gaussians in table order, then is
    zero-padded to ``max(schedule)`` rows. Padded rows project to exactly
    0.0, so their sign bit is False and they contribute nothing to the
    bucket code — a table with schedule[t] bits behaves bit-identically to
    a standalone ``schedule[t]``-bit table. A UNIFORM schedule consumes the
    RNG stream in the same order as ``_hyperplanes`` and therefore yields
    the identical planes (pinned in tests/test_similarity.py), so every
    pre-schedule fixture/gate is unchanged."""
    rng = random.Random(seed)
    mx = max(schedule)
    planes = np.zeros((len(schedule), mx, dim), dtype=np.float64)
    for t, bits in enumerate(schedule):
        flat = [rng.gauss(0.0, 1.0) for _ in range(bits * dim)]
        planes[t, :bits, :] = np.array(flat, dtype=np.float64).reshape(
            bits, dim
        )
    return planes


def _as_schedule(n_bits, n_tables: int) -> list[int]:
    if isinstance(n_bits, int):
        return [n_bits] * n_tables
    sched = list(n_bits)
    if len(sched) != n_tables:
        raise ValueError(
            f"bit schedule has {len(sched)} entries but n_tables={n_tables}"
        )
    return sched


def lsh_codes(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    n_bits: int | list[int] = 4,
    dim: int = 64,
    seed: int = 7,
    extra_probes: int = 0,
    out_col: str = "codes",
    passthrough: bool = False,
) -> DataFrame:
    """(id, codes array<long>): per-vector sign-bit bucket codes against
    fixed Gaussian hyperplanes, one numpy matmul per Arrow batch. The array
    holds ``(1 + extra_probes)`` codes per table, table-major — the
    persisted form for a vector index (one row per vector).
    ``passthrough=True`` keeps ALL input columns and appends ``out_col`` —
    the index-build form, a single map stage with no recombination join.

    ``extra_probes`` > 0 is query-side MULTI-PROBE (Lv et al., VLDB 2007):
    besides the base code, emit codes with the 1..R lowest-|margin| bits
    flipped — the buckets a near-miss neighbor most likely fell into. Use
    on the QUERY side only (the corpus keeps one code per table, so index
    size is unchanged); measured on the sf0.01 fixture: +1 probe lifts
    topk recall 0.72 -> 0.96 at 8x4 tables. At scale multi-probe is how
    LSH keeps recall while CUTTING n_tables (index memory): each probe
    costs one more bucket lookup, not another stored table.

    ``n_bits`` may be a per-table SCHEDULE (list[int], one entry per table
    — see lsh_bits_schedule): mixed widths smooth the ceil
    quantization of the corpus-adaptive width so expected bucket load
    tracks the fractional log2 target at every N. Schedules are
    batch-dedup machinery (extra_probes must be 0 — multi-probe margin
    ranking assumes one uniform width); a uniform schedule is
    bit-identical to the int path."""
    schedule = _as_schedule(n_bits, n_tables)
    uniform = len(set(schedule)) == 1
    if not uniform and extra_probes:
        raise ValueError(
            "multi-probe (extra_probes > 0) requires a uniform bit width; "
            f"got schedule {schedule}"
        )
    n_bits = max(schedule)
    if uniform:
        planes = _hyperplanes(n_tables, n_bits, dim, seed)  # (T, B, D)
    else:
        planes = _hyperplanes_schedule(schedule, dim, seed)  # (T, Bmax, D)
    flat = planes.reshape(n_tables * n_bits, dim)
    n_codes = 1 + min(extra_probes, n_bits)

    @F.pandas_udf(ArrayType(LongType()))
    def buckets_udf(vecs: pd.Series) -> pd.Series:
        M = np.stack(vecs.to_numpy())  # (n, D) float32
        proj = M.astype(np.float64) @ flat.T  # (n, T*B)
        bits = (proj > 0).reshape(len(M), n_tables, n_bits)
        weights = (1 << np.arange(n_bits, dtype=np.int64))[None, None, :]
        codes = (bits * weights).sum(axis=2)  # (n, T)
        if n_codes == 1:
            return pd.Series(list(codes))
        margins = np.abs(proj).reshape(len(M), n_tables, n_bits)
        # per (row, table): flip the R lowest-margin bits, one at a time
        flip_order = np.argsort(margins, axis=2)[:, :, : n_codes - 1]
        probed = np.repeat(codes[:, :, None], n_codes, axis=2)
        for r in range(n_codes - 1):
            probed[:, :, r + 1] = codes ^ (1 << flip_order[:, :, r])
        return pd.Series(list(probed.reshape(len(M), n_tables * n_codes)))

    # Evaluation barrier, not a semantics claim (the UDF is deterministic):
    # downstream posexplode generates a `size(codes) > 0` filter that
    # Catalyst pushes below the projection, running the matmul TWICE per row
    # (observed: two ArrowEvalPython nodes in the executed plan). Same
    # pattern as the Jaro-Winkler barrier at functions/similarity.py.
    buckets_udf = buckets_udf.asNondeterministic()
    if passthrough:
        return df.withColumn(out_col, buckets_udf(F.col(vec_col)))
    return df.select(F.col(id_col), buckets_udf(F.col(vec_col)).alias(out_col))


def explode_codes(
    codes_df: DataFrame,
    id_col: str = "vec_id",
    codes_col: str = "codes",
    extra_probes: int = 0,
    n_bits: int = 4,
) -> DataFrame:
    """(id, table, bucket) from a codes array — the join-ready form. The
    posexplode index recovers the table as idx // codes_per_table. A bit
    SCHEDULE normalizes to its max width — schedules force extra_probes=0
    (lsh_codes), so n_codes is 1 either way."""
    if not isinstance(n_bits, int):
        n_bits = max(n_bits)
    n_codes = 1 + min(extra_probes, n_bits)
    out = codes_df.select(
        id_col, F.posexplode(codes_col).alias("pos", "bucket")
    )
    return out.select(
        id_col, (F.col("pos") / n_codes).cast("int").alias("table"), "bucket"
    )


def lsh_bucketize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    n_bits: int | list[int] = 4,
    dim: int = 64,
    seed: int = 7,
    extra_probes: int = 0,
) -> DataFrame:
    """(id, table, bucket): exploded form of ``lsh_codes`` — see there for
    the multi-probe semantics."""
    codes = lsh_codes(
        df, id_col, vec_col, n_tables, n_bits, dim, seed, extra_probes
    )
    return explode_codes(codes, id_col, "codes", extra_probes, n_bits)


def lsh_code_margins(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    n_bits: int = 4,
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """(id, table, bucket, bit, margin): the base sign-bit code per (vector,
    table) PLUS each bit's |projection| margin — the quantity multi-probe
    ranks to pick which bit to flip (Lv et al., VLDB 2007). Long-form
    fixture shape for the multi-probe oracle: SQL can re-derive the probe
    bucket as ``bucket XOR (1 << arg_min(bit, margin))``, so the flip
    RANKING itself is cross-engine verified, not just candidate admission
    (round-6 verdict #10). Identical float64 matmul to ``lsh_codes`` (same
    hyperplanes, same widening), so the margins are bit-identical to what
    the query-side UDF ranks."""
    planes = _hyperplanes(n_tables, n_bits, dim, seed)
    flat = planes.reshape(n_tables * n_bits, dim)

    @F.pandas_udf(ArrayType(DoubleType()))
    def proj_udf(vecs: pd.Series) -> pd.Series:
        M = np.stack(vecs.to_numpy())
        proj = M.astype(np.float64) @ flat.T  # (n, T*B), table-major
        return pd.Series(list(proj))

    proj_udf = proj_udf.asNondeterministic()  # evaluation barrier, see lsh_codes
    long = df.select(
        F.col(id_col), F.posexplode(proj_udf(F.col(vec_col))).alias("pos", "proj")
    ).select(
        id_col,
        (F.col("pos") / n_bits).cast("int").alias("table"),
        (F.col("pos") % n_bits).cast("int").alias("bit"),
        "proj",
    )
    # bucket = sum over bits of (proj > 0) << bit, per (id, table); keep the
    # per-bit margins alongside via a window so one scan yields both.
    w = Window.partitionBy(id_col, "table")
    return long.select(
        id_col,
        "table",
        F.sum(
            F.when(
                F.col("proj") > 0,
                F.expr("shiftleft(CAST(1 AS BIGINT), bit)"),
            ).otherwise(F.lit(0).cast("long"))
        )
        .over(w)
        .alias("bucket"),
        "bit",
        F.abs(F.col("proj")).alias("margin"),
    )


def lsh_bits_for(
    n_rows: int,
    target_bucket: int = 64,
    min_bits: int = 4,
    max_bits: int = 16,
) -> int:
    """Corpus-size-adaptive hyperplane count: ~log2(N / target bucket
    population), clamped. The lsh_near_pairs docstring has warned since
    round 5 that its n_bits=4 default is FIXTURE-TUNED and 'must grow with
    corpus size'; the round-6 embeddings scale probe measured what happens
    when it doesn't — with 16 buckets/table the bucket self-join
    materializes ~n_tables * N^2 / 16 candidates, i.e. a quadratic
    (embedding_dedup_clusters: 10.4s -> 276s at the 10x corpus, exponent
    1.43). Both the registered composite and its oracle FIXTURE compute
    bits from the same corpus count, so the hash gate stays aligned at
    every sf while candidate volume tracks N * target_bucket instead of
    N^2. Deterministic given N (no sampling)."""
    import math

    return min(max_bits, max(min_bits, math.ceil(math.log2(max(1.0, n_rows / target_bucket)))))


def lsh_bits_schedule(
    n_rows: int,
    n_tables: int = 16,
    target_bucket: int = 64,
    min_bits: int = 4,
    max_bits: int = 16,
) -> list[int]:
    """Per-table bit widths that DITHER lsh_bits_for's ceil (round-10
    verdict #3): the real-valued width is b = log2(N / target_bucket), but
    an integer per-table width quantizes the mean bucket load by up to 2x
    between decades (measured 39 vs 49 at the 10x/100x embconst corpora —
    SCALE.md round-10), which shows up as a >1 one-decade wall exponent on
    the candidate machinery even though per-candidate cost is flat.

    Mix floor/ceil widths so EXPECTED candidate mass matches fractional b
    exactly: with x tables at lo+1 and T-x at lo = floor(b), the bucket
    self-join's expected collision mass is proportional to
    sum_t 2^-bits_t = (T - x/2) * 2^-lo; setting it equal to T * 2^-b
    gives x = 2T(1 - 2^(lo-b)), rounded. Continuous in N: x = 0 when b is
    integral and x -> T as b -> lo+1, so the schedule degrades to the
    uniform lsh_bits_for width at both ends of every decade — in
    particular it is UNIFORM at sf0.01 (clamped to min_bits) and sf0.1
    (b = 4.97 -> all 16 tables at 5), so every committed fixture hash is
    unchanged. Deterministic given N; wider tables are assigned to the
    TAIL of the table list (any fixed assignment works — recall depends
    only on the multiset of widths)."""
    import math

    b = math.log2(max(1.0, n_rows / target_bucket))
    b = min(float(max_bits), max(float(min_bits), b))
    lo = math.floor(b)
    if lo >= max_bits:
        return [max_bits] * n_tables
    x = round(2 * n_tables * (1.0 - 2.0 ** (lo - b)))
    x = min(n_tables, max(0, x))
    return [lo] * (n_tables - x) + [lo + 1] * x


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_tables: int = 8,
    n_bits: int = 4,
    dim: int = 64,
    seed: int = 7,
    extra_probes: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates = union over tables of bucket matches,
    exact cosine re-rank on candidates only. Recall follows the multi-table
    OR-curve (tested against brute force in tests/test_similarity.py),
    boosted by query-side multi-probe (``extra_probes``, see lsh_bucketize:
    0.72 -> 0.96 measured at +1 probe on the fixture)."""
    cb = lsh_bucketize(corpus, id_col, vec_col, n_tables, n_bits, dim, seed)
    qb = lsh_bucketize(
        queries, id_col, vec_col, n_tables, n_bits, dim, seed,
        extra_probes=extra_probes,
    )
    cand = (
        bucket_pairs(qb, ["table", "bucket"], id_col, right=cb)
        .select(F.col("id_a").alias("query_id"), F.col("id_b").alias("neighbor_id"))
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    return rerank_topk(cand, queries, corpus, id_col, vec_col, k)


def near_duplicate_embeddings(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    max_rows: int | None = 100_000,
) -> DataFrame:
    """All pairs above a cosine threshold (embedding-space near-dup). The
    EXACT QUADRATIC form — it exists as the correctness baseline the LSH
    tier's recall is measured against (``lsh_near_pairs`` is the scale path
    and what the production composite uses).

    ``max_rows`` is the scale guard: the corpus is counted (a cheap
    single-column job) and anything larger FAILS LOUDLY instead of launching
    an N^2 crossJoin that would run for days at cluster scale. Pass ``None``
    only for deliberate oracle/recall grading on bounded fixtures."""
    if max_rows is not None:
        n = corpus.select(id_col).count()
        if n > max_rows:
            raise ValueError(
                f"near_duplicate_embeddings is O(N^2): corpus has {n} rows > "
                f"max_rows={max_rows}. Use lsh_near_pairs (bucketed candidates "
                "+ exact verify) at this scale, or raise max_rows explicitly "
                "if a quadratic baseline on this corpus is intended"
            )
    # Self-dots precomputed per side, as in verify_cosine. The stream side
    # is repartitioned to the session's parallelism: a bounded-fixture
    # corpus is one or two parquet splits, so the nested-loop pair
    # evaluation otherwise runs on 1-2 cores (measured 20s -> ~2s at sf0.1
    # on local[32]).
    a = corpus.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        self_dot(F.col(vec_col)).alias("naa"),
    ).repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    b = corpus.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        self_dot(F.col(vec_col)).alias("nbb"),
    )
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            cosine_with_norms(
                F.col("va"), F.col("vb"), F.col("naa"), F.col("nbb")
            ),
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def lsh_near_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    n_tables: int = 16,
    n_bits: int | list[int] = 4,
    dim: int = 64,
    seed: int = 7,
    max_bucket_size: int | None = None,
    screen: bool | None = None,
    corpus_rows: int | None = None,
) -> DataFrame:
    """Scale-safe near-duplicate pairs (id_a, id_b, cosine): bucketize once
    (one Arrow-batched matmul pass), take the distinct id_a < id_b pairs
    sharing a (table, bucket) with ``candidates.bucket_pairs``, then verify
    cosine >= threshold exactly on the candidates only. No crossJoin.

    * ``max_bucket_size`` (off by default) drops (table, bucket) groups
      larger than the cap before the join — a recall knob (pinned in
      tests/test_similarity.py).
    * ``corpus_rows`` (a count hint, counted when omitted) picks the verify
      join: when the (id -> vector, self-dot) map fits a broadcast
      (corpus_rows * dim * 8 bytes <= 256 MiB) both verify joins are
      map-side, so candidates never carry vectors through a shuffle;
      beyond that they shuffle. Plan-asserted in tests/test_plans.py.
    * ``screen`` adds an SQ8 exact-safe prescreen before the verify; output
      is bit-identical on or off (pinned in tests). The default (None)
      enables it exactly when the vector map is beyond the broadcast budget
      and dim >= 256.

    THE DEFAULTS ARE FIXTURE-TUNED: with n_bits=4 each table has 16 buckets,
    so candidates grow as ~n_tables * N^2 / 2^n_bits. At scale pass
    ``lsh_bits_schedule(N)``. The measurements behind these rules are in
    SCALE.md (rounds 6-11), SCALE100.json (sq8_prescreen rows) and
    OPTIMIZATION_r12.md.
    """
    b = lsh_bucketize(corpus, id_col, vec_col, n_tables, n_bits, dim, seed)
    cand = bucket_pairs(
        b, ["table", "bucket"], id_col, max_bucket_size=max_bucket_size
    )
    # Verify-join strategy (see docstring): broadcast the vector map when it
    # fits so candidates never carry payloads through a shuffle.
    if corpus_rows is None:
        corpus_rows = corpus.select(id_col).count()
    bcast = corpus_rows * dim * 8 <= 256 * 1024 * 1024

    # The SCREEN's phase-1 joins carry int8 CODES (1 B/dim + ~48 B of
    # scale/asum/norm meta), not double[] vectors — an ~8x smaller map that
    # stays broadcastable long after the vector map outgrows the budget,
    # which is exactly the regime the screen exists for (dim >= ~256 beyond
    # the vector-broadcast budget: the first dim-256 100x run shuffled the
    # code map alongside 147M candidates and died ENOSPC). Gated separately
    # so the candidate frame stays payload-free through phase 1 even when
    # the final verify join must shuffle.
    bcast_codes = corpus_rows * (dim + 48) <= 256 * 1024 * 1024

    def _code_side(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if bcast_codes else df

    if screen is None:
        # Regime-driven default (docstring): once the vector map outgrows
        # the broadcast budget the unscreened verify shuffles full double[]
        # payloads per candidate — measured non-completable at dim 256 —
        # while the screen bounds that payload. The width term is also
        # measured: at dim 64 the fold CPU dominates and the screen LOSES
        # even beyond the broadcast budget (round-10 embconst-100x: 147s ->
        # 207s at tau 0.8), so only production widths auto-enable.
        screen = (not bcast) and dim >= 256

    if screen:
        # SQ8 EXACT-SAFE prescreen (round-10): the verify join's cost at
        # scale is candidate rows x two full vector payloads (~0.5 KiB/side
        # of doubles) — the embedding analog of the minhash payload spill.
        # Phase 1 joins candidates to int8 codes (+ scale, |code|-sum, and
        # the EXACT self-dot) and drops only pairs PROVABLY below the
        # threshold: with per-dim quantization error <= scale/2,
        #   |dot - int_dot*sa*sb| <= sa*sb*(sum|ca|/2 + sum|cb|/2 + d/4),
        # so `approx + bound < threshold * ||a||*||b||` implies the true
        # cosine is below threshold. Phase 2 computes the EXACT cosine on
        # survivors only — the emitted rows are bit-identical to the
        # unscreened pipeline (pinned in tests/test_similarity.py), the
        # oracles stay unchanged, and the heavy shuffle is ~4x lighter
        # (measured: embconst-100x wall 147s -> see SCALE.md round-10).
        from datafusion_dedup_ai_spark.operators.quantization import (
            int_dot,
            quantize_int8,
        )

        q = quantize_int8(corpus, id_col, vec_col)
        abs_sum = F.aggregate(
            F.transform("qvec", lambda x: F.abs(x.cast("long"))),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        qmeta = q.join(
            corpus.select(
                F.col(id_col), self_dot(F.col(vec_col)).alias("n2")
            ),
            id_col,
        ).select(
            F.col(id_col),
            "qvec",
            "scale",
            abs_sum.alias("asum"),
            F.size("qvec").alias("dim"),
            "n2",
        )
        qa = qmeta.select(
            F.col(id_col).alias("id_a"),
            F.col("qvec").alias("qa"),
            F.col("scale").alias("sa"),
            F.col("asum").alias("a1"),
            F.col("dim").alias("da"),
            F.col("n2").alias("naa"),
        )
        qb = qmeta.select(
            F.col(id_col).alias("id_b"),
            F.col("qvec").alias("qb"),
            F.col("scale").alias("sb"),
            F.col("asum").alias("b1"),
            F.col("n2").alias("nbb"),
        )
        approx = (
            int_dot(F.col("qa"), F.col("qb")).cast("double")
            * F.col("sa")
            * F.col("sb")
        )
        bound = (
            F.col("sa")
            * F.col("sb")
            * (
                F.col("a1").cast("double") / 2
                + F.col("b1").cast("double") / 2
                + F.col("da").cast("double") / 4
            )
        )
        cand = (
            cand.join(_code_side(qa), "id_a")
            .join(_code_side(qb), "id_b")
            .where(
                approx + bound
                >= F.lit(threshold) * F.sqrt(F.col("naa") * F.col("nbb"))
            )
            .select("id_a", "id_b")
        )
    vecs = F.broadcast(corpus) if bcast else corpus
    return verify_cosine(cand, vecs, id_col, vec_col, threshold)


# ---------------------------------------------------------------------------
# IVF-flat (inverted-file) ANN — the centroid-partitioned scale path
# ---------------------------------------------------------------------------


def sample_normalized_vectors(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 2048,
) -> np.ndarray:
    """The shared driver-side training sample: first `sample_size` ids
    (TakeOrdered, no global sort), L2-normalized float64 — exactly the
    matrix both model trainers (spherical k-means, PQ codebooks) consume.
    Collect it ONCE and pass it via their ``sample`` parameter when
    training several models over the same corpus (round-12:
    _ann_tier_frames paid two identical TakeOrdered collects per report
    build)."""
    rows = (
        corpus.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy("i")
        .limit(sample_size)
        .collect()
    )
    X = np.stack([np.asarray(r.v, dtype=np.float64) for r in rows])
    X /= np.linalg.norm(X, axis=1, keepdims=True) + 1e-12
    return X


def train_spherical_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_iter: int = 10,
    sample_size: int = 2048,
    seed: int = 7,
    sample: np.ndarray | None = None,
) -> np.ndarray:
    """Spherical k-means centroids (unit-normalized, cosine geometry) trained
    on a deterministic driver-side sample.

    The collect here is intentional and scale-safe: the model is k x dim
    floats (a few KB) and k-means needs only a representative sample, not the
    corpus — at 100 TB you still train on ~10^4 sampled rows and broadcast
    the centroids. The sample is the first `sample_size` ids (TakeOrdered,
    no global sort); pass a precollected ``sample``
    (sample_normalized_vectors) to share one collect across trainers."""
    X = (
        sample
        if sample is not None
        else sample_normalized_vectors(corpus, id_col, vec_col, sample_size)
    )
    rng = random.Random(seed)
    k = min(n_cells, len(X))
    centroids = X[rng.sample(range(len(X)), k)].copy()
    for _ in range(n_iter):
        assign = np.argmax(X @ centroids.T, axis=1)  # max dot = min angle
        for c in range(k):
            members = X[assign == c]
            if len(members):  # empty cell keeps its old centroid
                m = members.sum(axis=0)
                centroids[c] = m / (np.linalg.norm(m) + 1e-12)
    return centroids


def ivf_assign_cells(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """(id, cell): nearest-centroid cell ids per vector (top-`nprobe` cells,
    exploded). One numpy matmul per Arrow batch against the broadcast
    centroid matrix — the corpus pass is a single map stage."""
    C = centroids.astype(np.float64)
    probes = min(nprobe, len(C))

    @F.pandas_udf(ArrayType(LongType()))
    def cells_udf(vecs: pd.Series) -> pd.Series:
        M = np.stack(vecs.to_numpy()).astype(np.float64)
        M /= np.linalg.norm(M, axis=1, keepdims=True) + 1e-12
        sims = M @ C.T  # (n, k)
        top = np.argsort(-sims, axis=1)[:, :probes].astype(np.int64)
        return pd.Series(list(top))

    return df.select(
        F.col(id_col), F.explode(cells_udf(F.col(vec_col))).alias("cell")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    corpus_assign: int = 1,
    seed: int = 7,
    centroids=None,
) -> DataFrame:
    """IVF-flat approximate top-k: corpus vectors live in their
    `corpus_assign` nearest-centroid cells; each query probes its `nprobe`
    closest cells and exact-re-ranks only those cells' members.

    Scale shape: the candidate set is |queries| x (nprobe * corpus_assign /
    n_cells) x |corpus| on average — with n_cells ~ sqrt(N) this is the
    classic IVF cost model. The cell id is the equi-join (shuffle) key; at
    cluster scale the corpus would be WRITTEN partitioned by cell so probes
    prune file reads (partition pruning), which this operator's join is the
    in-memory analog of. Recall vs brute force is pinned in
    tests/test_similarity.py.

    `corpus_assign` > 1 is multi-assignment (spilled replication, the
    IVF-with-replicas trick): each corpus vector is indexed under its top-R
    cells, trading R x index storage for recall on cell-boundary neighbors.
    Measured Pareto on the sf0.01 fixture (weakly-clustered geometry, 5
    queries, k=5): (nprobe=4, R=1) recall 0.64 @ 25% candidate rate;
    (nprobe=6, R=1) 0.72 @ 37%; (nprobe=4, R=2) 0.84 @ 43%; (nprobe=8, R=1)
    0.92 @ 49%. Boundary loss — not centroid quality — dominates here, so
    one replica buys more recall per candidate than two extra probes. The
    candidate rates look high only because n_cells=16 on 500 rows; at real
    scale n_cells ~ sqrt(N) holds the per-probe cell population near
    sqrt(N), and the same R=2 boundary insurance applies."""
    if centroids is None:
        centroids = train_spherical_centroids(
            corpus, id_col, vec_col, n_cells=n_cells, seed=seed
        )
    c_cells = ivf_assign_cells(
        corpus, centroids, id_col, vec_col, nprobe=corpus_assign
    )
    q_cells = ivf_assign_cells(queries, centroids, id_col, vec_col, nprobe=nprobe)
    cand = (
        bucket_pairs(q_cells, ["cell"], id_col, right=c_cells)
        .select(F.col("id_a").alias("query_id"), F.col("id_b").alias("neighbor_id"))
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    return rerank_topk(cand, queries, corpus, id_col, vec_col, k)
