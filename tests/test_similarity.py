"""ANN fidelity: LSH top-k recall against brute force; cosine sanity."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from datafusion_dedup_ai_spark.operators import similarity_search as S
from datafusion_dedup_ai_spark.sources.readers import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = load_table(spark, sf_dir, "embeddings")
    df.cache()
    return df


def test_cosine_self_is_one(spark, emb):
    row = emb.limit(1)
    out = row.select(
        S.cosine(F.col("embedding"), F.col("embedding")).alias("c")
    ).collect()[0]
    assert out["c"] == pytest.approx(1.0, abs=1e-12)


def test_brute_force_matches_numpy(spark, emb):
    rows = emb.orderBy("vec_id").collect()
    M = np.stack([np.array(r["embedding"], dtype=np.float64) for r in rows])
    ids = np.array([r["vec_id"] for r in rows])
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    sims = Mn @ Mn[ids < 3].T  # queries 0,1,2
    got = S.brute_force_topk(
        emb, emb.where(F.col("vec_id") < 3), k=4
    ).collect()
    for q in range(3):
        col = sims[:, q].copy()
        col[ids == q] = -np.inf
        want = set(ids[np.argsort(-col, kind="stable")[:4]].tolist())
        have = {r["neighbor_id"] for r in got if r["query_id"] == q}
        # ties on float cosine are broken by id; allow set equality modulo
        # exact-tie boundary (none observed in testdata)
        assert have == want, f"query {q}"


def test_lsh_recall_vs_brute_force(spark, emb):
    k = 5
    queries = emb.where(F.col("vec_id") < 10)
    bf = S.brute_force_topk(emb, queries, k=k).collect()
    ann = S.lsh_topk(emb, queries, k=k, n_tables=16, n_bits=4).collect()
    bf_sets = {}
    for r in bf:
        bf_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    ann_sets = {}
    for r in ann:
        ann_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(bf_sets[q] & ann_sets.get(q, set())) / len(bf_sets[q]) for q in bf_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    # random vectors are a worst case for LSH. This test runs 16x4 tables
    # (stronger than the registered tier's 8x4) PLUS the default +1
    # multi-probe; the floor reflects both levers, not multi-probe alone —
    # the 8x4 +1-probe point measured 0.96 on the 5-query fixture
    # (docstring Pareto in operators/similarity_search.lsh_codes)
    assert mean_recall >= 0.7, f"mean recall@5 {mean_recall:.2f}"


def test_lsh_bucket_determinism(spark, emb):
    b1 = S.lsh_bucketize(emb.limit(20)).collect()
    b2 = S.lsh_bucketize(emb.limit(20)).collect()
    assert sorted(map(tuple, b1)) == sorted(map(tuple, b2))


def test_ivf_recall_vs_brute_force(spark, emb):
    k = 5
    queries = emb.where(F.col("vec_id") < 10)
    bf = S.brute_force_topk(emb, queries, k=k).collect()
    ivf = S.ivf_topk(
        emb, queries, k=k, n_cells=16, nprobe=4, corpus_assign=2
    ).collect()
    bf_sets, ivf_sets = {}, {}
    for r in bf:
        bf_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in ivf:
        ivf_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(bf_sets[q] & ivf_sets.get(q, set())) / len(bf_sets[q]) for q in bf_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    # nprobe=4 of 16 data-adapted cells with R=2 corpus multi-assignment:
    # must clear the 0.64 single-assignment point (see the measured Pareto in
    # operators/similarity_search.ivf_topk) with margin over the ~43%
    # random-candidate floor
    assert mean_recall >= 0.7, f"IVF mean recall@5 {mean_recall:.2f}"


def test_ivf_centroids_deterministic(spark, emb):
    c1 = S.train_spherical_centroids(emb, n_cells=8, sample_size=256)
    c2 = S.train_spherical_centroids(emb, n_cells=8, sample_size=256)
    assert np.array_equal(c1, c2)
    # unit-normalized rows
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0, atol=1e-9)


def test_lsh_near_pairs_recall_vs_exact(spark, emb):
    """The scale-safe candidate generator must recover >= 85% of the exact
    quadratic near-pair set on the fixture (measured 0.93 at 16x4 tables;
    threshold 0.35 sits barely above the random-pair background, the worst
    case for sign-LSH), and every pair it emits must be a true pair (the
    exact-cosine verify step makes precision 1.0 by construction)."""
    from datafusion_dedup_ai_spark.queries_similarity import NEAR_DUP_THRESHOLD

    exact = {
        (r["id_a"], r["id_b"])
        for r in S.near_duplicate_embeddings(
            emb, threshold=NEAR_DUP_THRESHOLD
        ).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in S.lsh_near_pairs(emb, threshold=NEAR_DUP_THRESHOLD).collect()
    }
    assert approx <= exact, "lsh_near_pairs emitted a false positive"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.85, f"near-pair recall {recall:.3f}"

    # the oversized-bucket guard: capped run keeps precision 1.0 (still a
    # subset of exact) and multi-table redundancy keeps most of the recall
    capped = {
        (r["id_a"], r["id_b"])
        for r in S.lsh_near_pairs(
            emb, threshold=NEAR_DUP_THRESHOLD, max_bucket_size=64
        ).collect()
    }
    assert capped <= exact
    assert len(capped & exact) / len(exact) >= 0.5, "cap destroyed recall"


def test_near_duplicate_embeddings_quadratic_guard(spark, emb):
    """The exact quadratic baseline must FAIL LOUDLY above max_rows instead
    of launching an N^2 crossJoin — and the error must point at the scale
    path. Small corpora and an explicit None opt-out still run."""
    with pytest.raises(ValueError, match="lsh_near_pairs"):
        S.near_duplicate_embeddings(emb, max_rows=10)
    # under the cap (and with the guard disabled) the exact form still runs
    small = emb.limit(20)
    n_guarded = S.near_duplicate_embeddings(small, max_rows=100).count()
    n_unguarded = S.near_duplicate_embeddings(small, max_rows=None).count()
    assert n_guarded == n_unguarded


def test_embedding_clusters_match_union_find(spark, sf_dir):
    """Label-propagation components over the LSH-candidate near-pairs must
    equal a driver-side union-find over the same edge list (the composite
    and this test share one generator, so only the component step is under
    test; edge recall vs exact is pinned separately above)."""
    import __spark_entry__ as e

    from datafusion_dedup_ai_spark.sources.readers import load_table

    from datafusion_dedup_ai_spark.queries_similarity import composite_near_pairs

    got = {
        r["vec_id"]: r["cluster_id"]
        for r in e.queries()["embedding_dedup_clusters"](spark, sf_dir).collect()
    }
    # the composite's OWN generator+params — not a restated copy that could
    # drift when NEAR_DUP_THRESHOLD or the LSH defaults change
    pairs = composite_near_pairs(load_table(spark, sf_dir, "embeddings")).collect()

    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for r in pairs:
        union(r["id_a"], r["id_b"])
    for v in got:
        parent.setdefault(v, v)
    want = {v: find(v) for v in got}
    assert got == want


def test_lsh_bucket_codes_match_python_reference(spark, emb):
    """The numpy-matmul sign-bit codes (the one non-SQL step the
    embedding_dedup_clusters oracle trusts via its materialized fixture)
    must equal a numpy-free pure-Python recomputation — same hyperplanes,
    naive dot products. Closes the fixture's trust loop the way
    tests/test_xxhash64_ref.py does for the MinHash fixture."""
    import random

    n_tables, n_bits, dim, seed = 16, 4, 64, 7
    rng = random.Random(seed)
    flat = [rng.gauss(0.0, 1.0) for _ in range(n_tables * n_bits * dim)]
    planes = [
        [flat[(t * n_bits + b) * dim + d] for d in range(dim)]
        for t in range(n_tables)
        for b in range(n_bits)
    ]

    sample = emb.limit(25).collect()
    got = {
        (r["vec_id"], r["table"]): r["bucket"]
        for r in S.lsh_bucketize(
            emb.limit(25), n_tables=n_tables, n_bits=n_bits, seed=seed
        ).collect()
    }
    for row in sample:
        v = [float(x) for x in row["embedding"]]
        for t in range(n_tables):
            code = 0
            for b in range(n_bits):
                plane = planes[t * n_bits + b]
                dot = sum(v[d] * plane[d] for d in range(dim))
                if dot > 0:
                    code |= 1 << b
            assert got[(row["vec_id"], t)] == code


def test_pq_recall_vs_brute_force(spark, emb):
    """PQ-ADC tier at the registered parameters (m=16, k_codes=32,
    oversample=8): the fixture-measured recall is 1.00 on vec_id<10 queries;
    the floor leaves headroom for codebook-init sensitivity only."""
    from datafusion_dedup_ai_spark.operators.quantization import pq_topk

    k = 5
    queries = emb.where(F.col("vec_id") < 10)
    bf = S.brute_force_topk(emb, queries, k=k).collect()
    pq = pq_topk(emb, queries, k=k, m=16, k_codes=32, oversample=8).collect()
    bf_sets, pq_sets = {}, {}
    for r in bf:
        bf_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in pq:
        pq_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(bf_sets[q] & pq_sets.get(q, set())) / len(bf_sets[q]) for q in bf_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.8, f"PQ mean recall@5 {mean_recall:.2f}"


def test_pq_codebooks_deterministic_and_codes_in_range(spark, emb):
    from datafusion_dedup_ai_spark.operators import quantization as Q

    b1 = Q.train_pq_codebooks(emb, m=16, k_codes=32, sample_size=256)
    b2 = Q.train_pq_codebooks(emb, m=16, k_codes=32, sample_size=256)
    assert np.array_equal(b1, b2)
    codes = Q.pq_assign_codes(emb.limit(50), b1).collect()
    for r in codes:
        assert len(r["codes"]) == 16
        assert all(0 <= c < 32 for c in r["codes"])


def test_ivfpq_recall_vs_brute_force(spark, emb):
    """IVFPQ composite at the registered parameters (nprobe=8, R=2, m=16,
    k_codes=32): measured 0.88 on vec_id<10 — the floor covers IVF boundary
    loss + PQ in-cell loss with margin over the random-candidate rate."""
    from datafusion_dedup_ai_spark.operators.quantization import ivfpq_topk

    k = 5
    queries = emb.where(F.col("vec_id") < 10)
    bf = S.brute_force_topk(emb, queries, k=k).collect()
    got = ivfpq_topk(
        emb, queries, k=k, m=16, k_codes=32, nprobe=8, corpus_assign=2,
        oversample=8,
    ).collect()
    bf_sets, got_sets = {}, {}
    for r in bf:
        bf_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in got:
        got_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(bf_sets[q] & got_sets.get(q, set())) / len(bf_sets[q]) for q in bf_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.7


def test_lsh_bits_for_adaptive_sizing():
    """The corpus-size-adaptive hyperplane count: clamped at 4 for fixture
    scales (so every pre-round-6 hash gate is bit-identical), grows
    ~log2(N/target) beyond, clamps at 16. The round-6 probe rationale: at
    a fixed 4 bits the bucket self-join is ~N^2/16 per table."""
    from datafusion_dedup_ai_spark.operators.similarity_search import lsh_bits_for

    assert lsh_bits_for(0) == 4
    assert lsh_bits_for(500) == 4        # sf0.01 -> unchanged gates
    assert lsh_bits_for(2_000) == 5      # sf0.1
    assert lsh_bits_for(20_000) == 9     # the 10x probe corpus
    assert lsh_bits_for(1_000_000) == 14
    assert lsh_bits_for(10**12) == 16    # clamp
    # monotone non-decreasing over decades
    vals = [lsh_bits_for(10**i) for i in range(2, 13)]
    assert vals == sorted(vals)


def test_adaptive_fixture_and_composite_agree_on_bits(spark, sf_dir):
    """Cross-module pin: the oracle fixture (hash_fixtures.
    LSH_BUCKETS_ADAPTIVE) and the Spark composite
    (queries_similarity.composite_near_pairs) MUST derive n_bits from the
    same corpus count, or the hash gate silently diverges at any sf where
    the adaptive width departs from the fixed-width default. Verified
    structurally: the fixture's max bucket id stays under 2^bits for the
    composite's count-derived bits, and the fixture contains exactly the
    corpus's vec_ids x 16 tables."""
    import duckdb

    from datafusion_dedup_ai_spark.operators import hash_fixtures as HF
    from datafusion_dedup_ai_spark.operators.similarity_search import (
        lsh_bits_schedule,
    )
    from datafusion_dedup_ai_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    bits = max(lsh_bits_schedule(n))
    path = HF.LSH_BUCKETS_ADAPTIVE.materialize(spark, sf_dir)
    rows = duckdb.sql(
        f"SELECT COUNT(*) AS c, MAX(bucket) AS mb FROM '{path}/*.parquet'"
    ).fetchone()
    assert rows[0] == n * 16  # one code per (vec, table)
    assert rows[1] < 2**bits
    assert rows[1] >= 2 ** (bits - 1)  # top bit actually used somewhere


def test_lsh_bits_schedule_dithers_the_ceil():
    """Round-11 (round-10 verdict #3): lsh_bits_for's ceil quantizes mean
    bucket load by up to 2x between decades (the 1.17 one-decade wall
    exponent at tau=0.8). The per-table schedule mixes floor/ceil widths so
    EXPECTED candidate mass (sum_t 2^-bits_t) tracks the fractional log2
    target continuously — within half a table's worth at every N — while
    staying uniform (hash-identical to lsh_bits_for) at the committed
    fixture scales."""
    import math

    from datafusion_dedup_ai_spark.operators.similarity_search import (
        lsh_bits_for,
        lsh_bits_schedule,
    )

    # uniform == lsh_bits_for at the gated fixture scales
    assert lsh_bits_schedule(0) == [4] * 16
    assert lsh_bits_schedule(500) == [4] * 16       # sf0.01
    assert lsh_bits_schedule(2_000) == [5] * 16     # sf0.1
    assert lsh_bits_schedule(10**12) == [16] * 16   # clamp
    # mixed at the probe corpora, bounded by floor/ceil of the real width
    for n in (20_000, 200_000, 1_000_000):
        sched = lsh_bits_schedule(n)
        assert len(sched) == 16
        b = min(16.0, max(4.0, math.log2(n / 64)))
        assert set(sched) <= {math.floor(b), math.ceil(b)}
        assert max(sched) <= lsh_bits_for(n)
        # expected collision mass matches the fractional target: the
        # effective width -log2(mean 2^-bits) is within the rounding step
        # (one table of the 16 flipping floor<->ceil moves it <= ~0.05)
        eff = -math.log2(sum(2.0**-x for x in sched) / 16)
        assert abs(eff - b) < 0.05, (n, sched, eff, b)
    # continuity at decade boundaries: N just above an exact power keeps
    # nearly all tables at the floor width instead of jumping to the ceil
    exact = 64 * 2**8  # b exactly 8
    assert lsh_bits_schedule(exact) == [8] * 16
    just_above = lsh_bits_schedule(exact + exact // 50)  # b ~ 8.03
    assert just_above.count(8) >= 15


def test_lsh_codes_uniform_schedule_bit_identical(spark, emb):
    """A uniform list schedule must produce byte-identical codes to the int
    path (same RNG consumption order), so pre-schedule fixtures and gates
    are untouched by the round-11 change."""
    a = {
        r["vec_id"]: r["codes"]
        for r in S.lsh_codes(emb, n_tables=4, n_bits=5).collect()
    }
    b = {
        r["vec_id"]: r["codes"]
        for r in S.lsh_codes(emb, n_tables=4, n_bits=[5, 5, 5, 5]).collect()
    }
    assert a == b


def test_lsh_codes_mixed_schedule_per_table_semantics(spark, emb):
    """Each table of a mixed schedule behaves exactly like a standalone
    table of its own width drawn from the shared RNG stream: table t's
    codes stay below 2^bits_t, and the WIDE tables' low bits match a
    uniform-floor run's codes only where the extra plane's sign bit is 0
    (structural: codes are bounded and the widest bit is actually used)."""
    sched = [4, 4, 5, 6]
    codes = {
        r["vec_id"]: r["codes"]
        for r in S.lsh_codes(emb, n_tables=4, n_bits=sched).collect()
    }
    maxima = [0, 0, 0, 0]
    for arr in codes.values():
        assert len(arr) == 4
        for t, c in enumerate(arr):
            assert 0 <= c < 2 ** sched[t], (t, c)
            maxima[t] = max(maxima[t], c)
    # the top bit of each width is exercised somewhere in the corpus
    for t, bits in enumerate(sched):
        assert maxima[t] >= 2 ** (bits - 1), (t, maxima[t])
    # multi-probe refuses mixed widths (margin ranking assumes uniform)
    with pytest.raises(ValueError, match="uniform bit width"):
        S.lsh_codes(emb, n_tables=4, n_bits=sched, extra_probes=1)
    with pytest.raises(ValueError, match="schedule has"):
        S.lsh_codes(emb, n_tables=4, n_bits=[4, 4])


def test_lsh_near_pairs_schedule_matches_exact_on_high_cosine(spark, emb):
    """lsh_near_pairs with a mixed schedule keeps the recall contract where
    it matters: identical/high-cosine vectors collide in EVERY table
    whatever its width, so the tau=0.8 pair set equals the quadratic
    baseline's exactly on this fixture."""
    from datafusion_dedup_ai_spark.operators.similarity_search import (
        near_duplicate_embeddings,
    )

    want = {
        (r["id_a"], r["id_b"])
        for r in near_duplicate_embeddings(emb, threshold=0.8).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in S.lsh_near_pairs(
            emb, threshold=0.8, n_bits=[4] * 8 + [5] * 8
        ).collect()
    }
    assert want == got


def test_lsh_near_pairs_screen_is_exact_safe(spark, emb):
    """The SQ8 prescreen (round-10) must be invisible in the output: it may
    drop only pairs PROVABLY below threshold (quantization error bound), so
    screened and unscreened runs emit the identical (pair -> exact cosine)
    map at any threshold — including one low enough that borderline pairs
    abound."""
    from datafusion_dedup_ai_spark.operators import similarity_search as S

    for tau in (0.2, 0.35, 0.8):
        off = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in S.lsh_near_pairs(emb, threshold=tau, screen=False).collect()
        }
        on = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in S.lsh_near_pairs(emb, threshold=tau, screen=True).collect()
        }
        assert on == off, f"screen changed output at tau={tau}"
        if tau <= 0.35:
            assert off, "fixture should have pairs at the low thresholds"


def test_lsh_near_pairs_screen_exact_in_mixed_broadcast_regime(spark, emb):
    """Round-11: the screen's phase-1 joins carry int8 codes and get their
    own broadcast gate (bcast_codes), separate from the vector-map gate —
    at dim >= ~256 the code map stays broadcastable after the vector map
    outgrows the budget. Force that mixed regime via the corpus_rows hint
    (1e6 rows x dim 64: vector map 512 MB > budget, code map ~107 MB <=
    budget) and pin that the output is still bit-identical to the
    all-broadcast unscreened run."""
    from datafusion_dedup_ai_spark.operators import similarity_search as S

    base = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in S.lsh_near_pairs(emb, threshold=0.35, screen=False).collect()
    }
    mixed = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in S.lsh_near_pairs(
            emb, threshold=0.35, screen=True, corpus_rows=1_000_000
        ).collect()
    }
    assert mixed == base
    assert base, "fixture should have pairs at tau=0.35"


def test_lsh_near_pairs_auto_screen_policy(spark, emb):
    """Round-11 measured default (SCALE100 sq8_prescreen rows): screen=None
    auto-enables the SQ8 prescreen only when (a) the vector map is beyond
    the broadcast budget AND (b) the width is production-scale (dim >= 256
    — at dim 64 the fold CPU dominates and the screen loses). Pin both
    sides: at dim 64 the auto plan must equal the screen=False plan even
    beyond-budget; at dim 256 beyond-budget the auto output must equal the
    unscreened output (exact-safety of the engaged screen)."""
    from datafusion_dedup_ai_spark.operators import similarity_search as S

    import re

    def plan_shape(df):
        # expression IDs (#123L) and lambda-variable counters (x_27) are
        # unique per DataFrame instance; strip both so structurally
        # identical plans compare equal
        s = df._jdf.queryExecution().optimizedPlan().toString()
        s = re.sub(r"#\d+L?", "#", s)
        return re.sub(r"\b(lambda [a-z]+)_\d+", r"\1", s)

    # (a) dim 64 beyond-budget: auto stays OFF — identical logical plan
    auto64 = S.lsh_near_pairs(emb, threshold=0.35, corpus_rows=10_000_000)
    off64 = S.lsh_near_pairs(
        emb, threshold=0.35, screen=False, corpus_rows=10_000_000
    )
    assert plan_shape(auto64) == plan_shape(off64), (
        "auto screen engaged at dim 64 — policy regression"
    )

    # (b) dim 256 beyond-vector-budget: auto engages, output unchanged
    def _mask(r):
        return lambda x, j: F.when(
            F.pmod(F.xxhash64(F.lit(9000 + r), j), F.lit(2)) == 0, x
        ).otherwise(-x)

    reps = [F.col("embedding")] + [
        F.transform(F.col("embedding"), _mask(r)) for r in (1, 2, 3)
    ]
    wide = emb.select(
        "vec_id", F.concat(*reps).alias("embedding"), "label"
    ).cache()
    kw = dict(threshold=0.35, dim=256, corpus_rows=10_000_000)
    assert plan_shape(S.lsh_near_pairs(wide, **kw)) != plan_shape(
        S.lsh_near_pairs(wide, screen=False, **kw)
    ), "auto screen did NOT engage at dim 256 beyond-budget"
    auto = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in S.lsh_near_pairs(wide, **kw).collect()
    }
    off = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in S.lsh_near_pairs(wide, screen=False, **kw).collect()
    }
    wide.unpersist()
    assert auto == off
    assert auto, "widened fixture should still have pairs at tau=0.35"


# ---------------------------------------------------------------------------
# verify_cosine / top_k: the one verify and the one ranker of every tier
# ---------------------------------------------------------------------------


def _f32_vectors(rng, ids, dim=8):
    """id -> vector of float32-representable values, so the Python floats
    are exactly what an array<float> column holds."""
    return {
        i: [float(np.float32(rng.gauss(0.0, 1.0))) for _ in range(dim)]
        for i in ids
    }


def _ref_cosine(u, v):
    """Left-fold reference in the order the Spark fold evaluates."""
    dot = aa = bb = 0.0
    for x, y in zip(u, v):
        dot = dot + x * y
    for x in u:
        aa = aa + x * x
    for y in v:
        bb = bb + y * y
    return dot / (math.sqrt(aa) * math.sqrt(bb))


def _vec_frame(spark, vecs, id_col="vec_id"):
    return spark.createDataFrame(
        sorted(vecs.items()), f"{id_col} bigint, embedding array<float>"
    )


def _verified(df, a="id_a", b="id_b"):
    rows = [(r[a], r[b], r["cosine"]) for r in df.collect()]
    assert len(rows) == len({(x, y) for x, y, _ in rows})
    return {(x, y): c for x, y, c in rows}


def test_verify_cosine_self_mode_is_bit_exact(spark):
    rng = random.Random(5)
    vecs = _f32_vectors(rng, range(12))
    pairs = [(i, j) for i in range(12) for j in range(12) if i != j and rng.random() < 0.4]
    want = {(i, j): _ref_cosine(vecs[i], vecs[j]) for i, j in pairs}
    got = _verified(
        S.verify_cosine(
            spark.createDataFrame(pairs, "id_a bigint, id_b bigint"),
            _vec_frame(spark, vecs),
            "vec_id",
            "embedding",
        )
    )
    assert got == want


def test_verify_cosine_cross_mode_takes_each_side_from_its_frame(spark):
    """batch and corpus ids are separate id spaces: the same id names
    different vectors on the two sides, and a's vector must come from the
    left frame, b's from the right."""
    rng = random.Random(6)
    batch = _f32_vectors(rng, range(5))
    corpus = _f32_vectors(rng, range(3, 15))
    pairs = [(i, j) for i in batch for j in corpus if rng.random() < 0.5]
    assert any(i == j for i, j in pairs)
    want = {(i, j): _ref_cosine(batch[i], corpus[j]) for i, j in pairs}
    got = _verified(
        S.verify_cosine(
            spark.createDataFrame(pairs, "batch_id bigint, corpus_id bigint"),
            _vec_frame(spark, batch),
            "vec_id",
            "embedding",
            right=_vec_frame(spark, corpus),
            a="batch_id",
            b="corpus_id",
        ),
        "batch_id",
        "corpus_id",
    )
    assert got == want


def test_verify_cosine_keeps_a_pair_exactly_at_threshold(spark):
    rng = random.Random(7)
    vecs = _f32_vectors(rng, range(10))
    pairs = [(i, j) for i in range(10) for j in range(i + 1, 10)]
    cos = {p: _ref_cosine(vecs[p[0]], vecs[p[1]]) for p in pairs}
    at = sorted(cos.values())[len(cos) // 2]
    got = _verified(
        S.verify_cosine(
            spark.createDataFrame(pairs, "id_a bigint, id_b bigint"),
            _vec_frame(spark, vecs),
            "vec_id",
            "embedding",
            threshold=at,
        )
    )
    assert at in got.values()
    assert got == {p: c for p, c in cos.items() if c >= at}


def test_verify_cosine_broadcast_hint_carries_through(spark):
    """With size-based broadcasting off, only the hint on the passed side
    can make the verify joins broadcasts."""
    rng = random.Random(8)
    vecs = _f32_vectors(rng, range(8))
    pairs = spark.createDataFrame(
        [(i, j) for i in range(8) for j in range(i + 1, 8)],
        "id_a bigint, id_b bigint",
    )
    left = _vec_frame(spark, vecs)
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plans = {}
        for hinted in (False, True):
            out = S.verify_cosine(
                pairs, F.broadcast(left) if hinted else left, "vec_id", "embedding"
            )
            assert len(_verified(out)) == 28
            plan = out._jdf.queryExecution().executedPlan().toString()
            plans[hinted] = plan.split("== Initial Plan ==")[0]
    finally:
        spark.conf.set(key, saved)
    assert "BroadcastHashJoin" not in plans[False]
    assert plans[True].count("BroadcastHashJoin") == 2  # both sides


def test_top_k_breaks_ties_by_id_and_keeps_small_groups(spark):
    scored = spark.createDataFrame(
        [
            (1, 9, 0.5), (1, 3, 0.5), (1, 7, 0.9), (1, 5, 0.5), (1, 4, 0.1),
            (2, 8, 0.2), (2, 6, 0.2),
        ],
        "query_id bigint, neighbor_id bigint, cosine double",
    )
    out = S.top_k(scored, 3)
    assert dict(out.dtypes)["rk"] == "bigint"
    got = {(r["query_id"], r["neighbor_id"]): r["rk"] for r in out.collect()}
    # query 1: the 0.5 tie resolves by ascending id, 9 and 4 fall past k;
    # query 2 has fewer rows than k and keeps them all
    assert got == {(1, 7): 1, (1, 3): 2, (1, 5): 3, (2, 6): 1, (2, 8): 2}

