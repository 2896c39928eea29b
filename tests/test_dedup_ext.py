"""Fidelity tests for the approximate dedup tier: MinHash-LSH recall against
the exact Jaccard pairs, SimHash behavior on near/far documents, exact-dedup
keep-first semantics on planted duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_dedup_ai_spark.functions import text as T
from datafusion_dedup_ai_spark.operators import dedup as D


@pytest.fixture(scope="module")
def shingled(spark, sf_dir):
    from datafusion_dedup_ai_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents")
    sh = d.select("doc_id", T.distinct_shingles(F.col("text")).alias("shingles"))
    sh.cache()
    return sh


def test_exact_dedup_keep_first(spark):
    df = spark.createDataFrame(
        [(1, "k1", 10), (2, "k1", 5), (3, "k2", 7), (4, "k1", 5)],
        ["id", "key", "ord"],
    )
    kept = D.exact_dedup(df, ["key"], ["ord", "id"]).collect()
    got = {(r["key"], r["id"]) for r in kept}
    # k1: min (ord, id) = (5, 2); k2: id 3
    assert got == {("k1", 2), ("k2", 3)}


def test_minhash_exact_match_signature(spark):
    df = spark.createDataFrame(
        [(1, ["a b", "b c", "c d"]), (2, ["a b", "b c", "c d"]), (3, ["x y"])],
        ["doc_id", "shingles"],
    )
    sigs = {r["doc_id"]: r["sig"] for r in D.minhash_signatures(df).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_minhash_lsh_recall_vs_exact(spark, shingled):
    """At J >= 0.5 the 16x4 LSH S-curve catches ~65%+ per pair; the testdata's
    planted near-dups sit at J ~ 0.95+ where catch probability is ~1."""
    exact = (
        D.verify_jaccard(
            # all-pairs ground truth via the exact path: reuse verify on a
            # cross of ids that share at least one shingle
            _exact_candidates(shingled),
            shingled,
            threshold=0.5,
        )
        .select("id_a", "id_b")
        .collect()
    )
    exact_pairs = {(r["id_a"], r["id_b"]) for r in exact}
    got = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_near_dup_pairs(shingled, threshold=0.5).collect()
    }
    assert exact_pairs, "testdata should contain J>=0.5 near-dup pairs"
    recall = len(got & exact_pairs) / len(exact_pairs)
    assert recall >= 0.9, f"LSH recall {recall:.2f} below 0.9 on planted near-dups"
    # precision is 1.0 by construction (exact verification)
    assert got <= exact_pairs | got  # sanity: verified pairs meet threshold


def test_drop_hot_shingles_filters_boilerplate(spark):
    """The max_df knob: ubiquitous shingles go, rare ones stay, and a doc
    made ONLY of boilerplate drops out of the shingle-join tiers entirely."""
    df = spark.createDataFrame(
        [
            (1, ["footer txt", "alpha beta"]),
            (2, ["footer txt", "gamma delta"]),
            (3, ["footer txt", "alpha beta"]),
            (4, ["footer txt"]),  # boilerplate-only
        ],
        ["doc_id", "shingles"],
    )
    kept = {
        r["doc_id"]: sorted(r["shingles"])
        for r in D.drop_hot_shingles(df, max_df=0.8).collect()
    }
    # 'footer txt' has df=4/4 > 0.8 -> dropped everywhere; doc 4 vanishes
    assert kept == {
        1: ["alpha beta"],
        2: ["gamma delta"],
        3: ["alpha beta"],
    }


def test_drop_hot_shingles_identity_at_max(spark, shingled):
    """max_df=1.0 is the identity (df can never exceed n_docs) — pins that
    the default-off configuration changes nothing."""
    before = {
        r["doc_id"]: sorted(r["shingles"]) for r in shingled.collect()
    }
    after = {
        r["doc_id"]: sorted(r["shingles"])
        for r in D.drop_hot_shingles(shingled, max_df=1.0).collect()
    }
    assert after == before


def test_minhash_near_dup_pairs_with_max_df(spark):
    """With the filter on, boilerplate-only overlap stops pairing while a
    genuinely-similar pair is still found."""
    boiler = [f"footer {i}" for i in range(10)]
    near_a = [f"body {i}" for i in range(20)]
    near_b = near_a[:18] + ["tail x", "tail y"]  # J = 18/22 ~ 0.82
    rows = [
        (1, boiler + near_a),
        (2, boiler + near_b),
        (3, boiler + [f"other {i}" for i in range(20)]),
        (4, boiler),  # boilerplate-only doc
    ]
    df = spark.createDataFrame(rows, ["doc_id", "shingles"])
    got = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_near_dup_pairs(df, threshold=0.5, max_df=0.9).collect()
    }
    assert (1, 2) in got
    assert all(4 not in pair for pair in got)
    assert all(3 not in pair for pair in got)


def _exact_candidates(shingled):
    ex = shingled.select("doc_id", F.explode("shingles").alias("s"))
    a = ex.alias("a")
    b = ex.alias("b")
    return (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def test_simhash_identical_and_near(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog".split()),
            (2, "the quick brown fox jumps over the lazy dog".split()),
            (3, "the quick brown fox jumps over the lazy cat".split()),
            (4, "completely different words entirely unrelated corpus text".split()),
        ],
        ["doc_id", "tokens"],
    )
    sims = {r["doc_id"]: r["simhash"] for r in D.simhash64(df).collect()}
    assert sims[1] == sims[2]

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(sims[1], sims[3]) < ham(sims[1], sims[4])


def test_simhash_near_pairs_pigeonhole(spark, shingled, sf_dir):
    from datafusion_dedup_ai_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", T.tokens(F.col("text")).alias("tokens"))
    fps = D.simhash64(tok)
    pairs = D.simhash_near_pairs(fps, max_hamming=6).collect()
    # every reported pair really is within the bound (verification step works)
    sims = {r["doc_id"]: r["simhash"] for r in fps.collect()}
    for r in pairs:
        x = (sims[r["id_a"]] ^ sims[r["id_b"]]) & ((1 << 64) - 1)
        assert bin(x).count("1") <= 6


# ---------------------------------------------------------------------------
# Incremental (batch-vs-corpus) dedup
# ---------------------------------------------------------------------------


def test_incremental_exact_dedup_semantics(spark):
    corpus = spark.createDataFrame(
        [(1, "seen before"), (2, "corpus only")], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [
            (10, "seen before"),   # dup of corpus -> dropped
            (11, "brand new"),     # new -> kept
            (12, "brand new"),     # dup within batch -> dropped (11 is first)
            (13, "also new"),      # new -> kept
        ],
        ["doc_id", "text"],
    )
    kept = {r["doc_id"] for r in D.incremental_exact_dedup(corpus, batch).collect()}
    assert kept == {11, 13}


def test_incremental_near_dup_recall_vs_exact(spark, shingled):
    """Cross-set (batch x corpus) MinHash matches must catch the planted
    near-dups that the exact cross-set Jaccard finds at J >= 0.5."""
    corpus_sh = shingled.where(F.expr("doc_id % 10 < 8"))
    batch_sh = shingled.where(F.expr("doc_id % 10 >= 8"))
    got = {
        (r["batch_id"], r["corpus_id"])
        for r in D.incremental_near_dup_matches(
            corpus_sh, batch_sh, threshold=0.5
        ).collect()
    }
    # exact cross-set ground truth: verify_jaccard over candidates that share
    # a shingle, restricted to batch x corpus pairs
    cands = _exact_candidates(shingled)
    exact = (
        D.verify_jaccard(cands, shingled, threshold=0.5)
        .where(
            (F.expr("id_a % 10 >= 8") & F.expr("id_b % 10 < 8"))
            | (F.expr("id_a % 10 < 8") & F.expr("id_b % 10 >= 8"))
        )
        .collect()
    )
    exact_pairs = {
        (r["id_a"], r["id_b"]) if r["id_a"] % 10 >= 8 else (r["id_b"], r["id_a"])
        for r in exact
    }
    if exact_pairs:
        recall = len(got & exact_pairs) / len(exact_pairs)
        assert recall >= 0.9, f"incremental recall {recall:.2f}"
    # every emitted match crosses the sets and meets the threshold
    for b, c in got:
        assert b % 10 >= 8 and c % 10 < 8


# ---------------------------------------------------------------------------
# Persisted MinHash index (operators/lsh_index.py; the contract both index
# kinds share is in tests/test_lsh_index.py)
# ---------------------------------------------------------------------------


def test_index_path_matches_recompute_path(spark, shingled, tmp_path):
    """The persisted-index match must be row-identical to the recompute
    topology: same arithmetic, different data source."""
    from datafusion_dedup_ai_spark.operators import lsh_index as LX

    corpus_sh = shingled.where(F.expr("doc_id % 10 < 8"))
    batch_sh = shingled.where(F.expr("doc_id % 10 >= 8"))
    path = str(tmp_path / "idx")
    LX.build(LX.MINHASH, corpus_sh, path)
    via_index = {
        tuple(r)
        for r in LX.match(LX.MINHASH, spark, path, batch_sh, 0.2).collect()
    }
    recompute = {
        tuple(r)
        for r in D.incremental_near_dup_matches(corpus_sh, batch_sh).collect()
    }
    assert via_index == recompute
    assert via_index, "expected at least one planted near-dup match"


def test_index_batch_path_never_scans_corpus_text(spark, shingled, tmp_path):
    """The point of the index: matching a batch must not rescan the corpus.
    Machine-check the physical plan — every FileScan must read the index
    dataset, never the documents parquet the corpus came from."""
    from datafusion_dedup_ai_spark.operators import lsh_index as LX

    corpus_sh = shingled.where(F.expr("doc_id % 10 < 8"))
    path = str(tmp_path / "idx")
    LX.build(LX.MINHASH, corpus_sh, path)

    # batch comes straight from the source table, as in production
    from datafusion_dedup_ai_spark.sources.readers import load_table

    sf_dir = spark.conf.get("spark.graft.test.sfdir", None) or __import__(
        "os"
    ).environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    d = load_table(spark, sf_dir, "documents")
    batch_sh = d.where(F.expr("doc_id % 10 >= 8")).select(
        "doc_id", T.distinct_shingles(F.col("text")).alias("shingles")
    )
    out = LX.match(LX.MINHASH, spark, path, batch_sh, 0.2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln or "Scan parquet" in ln]
    doc_scans = [ln for ln in scans if "documents.parquet" in ln]
    # only the batch side may touch documents.parquet: one logical scan,
    # which a caller's persist() can surface at most twice in the printed
    # tree (inside the InMemoryRelation's cached plan and its first
    # consumer); unpersisted, the batch's two consumers show it twice too.
    # The recompute path needs corpus shingles too and shows more.
    assert len(doc_scans) <= 2, f"corpus rescan suspected:\n{plan}"
    idx_scans = [ln for ln in scans if "idx" in ln]
    assert idx_scans, f"no index scan in plan:\n{plan}"


def test_duplicate_substring_spans_semantics(spark):
    """Planted check for the ExactSubstr span op: two docs share one 8-token
    run; the op must emit exactly that run as ONE maximal span per doc (the
    8-token run contains 4 overlapping 5-grams that must merge), and docs
    with no duplicated 5-gram emit nothing."""
    from datafusion_dedup_ai_spark.queries_text import (
        SPAN_GRAM,
        q_duplicate_substring_spans,
    )
    import datafusion_dedup_ai_spark.queries_text as QT
    from pyspark.sql import functions as F

    shared = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (0, f"unique0 zero {shared} tail0 end0"),
            (1, f"{shared} other1 words1 here1 now1"),
            (2, "completely different tokens with no repeats at all"),
        ],
        ["doc_id", "text"],
    )
    docs.createOrReplaceTempView("spans_fixture")

    # run the operator body against the fixture by monkey-lite: rebuild the
    # same plan the registered query builds, from this docs frame
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    # reuse the registered query at a fake sf_dir is not possible; instead
    # assert via the public plan pieces: plant through the real query by
    # writing a temp parquet dir shaped like testdata
    import tempfile, os
    d = tempfile.mkdtemp(prefix="span_fixture_")
    docs.withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("unit")
    ).withColumn("n_chars", F.length("text")).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    out = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in q_duplicate_substring_spans(spark, d).collect()
    }
    assert SPAN_GRAM == 5
    # doc 0: shared run occupies token positions 2..9 -> one span (2, 9, 8)
    # doc 1: run at positions 0..7 -> one span (0, 7, 8)
    # doc 2: nothing
    assert out == {(0, 2, 9, 8), (1, 0, 7, 8)}, out


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_duplicate_substring_spans_vs_python_reference(spark, tmp_path, seed):
    """Randomized corpora from a tiny vocabulary (guaranteeing gram
    collisions, within-doc repeats, and adjacent islands) must produce
    exactly the spans a brute-force Python reference computes."""
    import os
    import random

    from pyspark.sql import functions as F

    from datafusion_dedup_ai_spark.queries_text import (
        SPAN_GRAM,
        SPAN_MIN_COUNT,
        q_duplicate_substring_spans,
    )

    rng = random.Random(seed)
    vocab = ["a", "b", "c", "d"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40))))
        for i in range(12)
    ]

    # Python reference: global gram counts -> duplicated start positions ->
    # merge starts whose gap <= SPAN_GRAM into maximal spans.
    from collections import Counter

    def grams(text):
        t = text.split(" ") if text else []
        return [
            " ".join(t[i : i + SPAN_GRAM])
            for i in range(max(len(t) - SPAN_GRAM + 1, 0))
        ]

    counts = Counter(g for _, text in docs for g in grams(text))
    want = set()
    for doc_id, text in docs:
        dup_pos = [
            i for i, g in enumerate(grams(text)) if counts[g] >= SPAN_MIN_COUNT
        ]
        if not dup_pos:
            continue
        start = prev = dup_pos[0]
        islands = []
        for p in dup_pos[1:]:
            if p - prev > SPAN_GRAM:
                islands.append((start, prev))
                start = p
            prev = p
        islands.append((start, prev))
        for s, e in islands:
            want.add((doc_id, s, e + SPAN_GRAM - 1, e + SPAN_GRAM - s))

    d = str(tmp_path / f"spans_{seed}")
    spark.createDataFrame(docs, ["doc_id", "text"]).withColumn(
        "lang", F.lit("en")
    ).withColumn("source", F.lit("unit")).withColumn(
        "n_chars", F.length("text")
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in q_duplicate_substring_spans(spark, d).collect()
    }
    assert got == want, f"seed {seed}: {got ^ want}"


def test_greedy_min_id_dropped_chain_vs_naive(spark):
    """The leader rule on a chain a~b~c (no a~c): keeps {a, c}, drops {b} —
    the naive drop-every-id_b rule would wrongly drop c, whose only
    near-duplicate b does not survive (and which would then re-ingest on
    replay). Plus a clique, where both rules agree."""
    from datafusion_dedup_ai_spark.operators.dedup import greedy_min_id_dropped

    chain = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    assert {r["id"] for r in greedy_min_id_dropped(chain).collect()} == {2}

    clique = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], ["id_a", "id_b"]
    )
    assert {r["id"] for r in greedy_min_id_dropped(clique).collect()} == {2, 3}

    # deeper chain: 1~2~3~4~5 -> keep odds, drop evens (two parallel rounds)
    deep = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], ["id_a", "id_b"]
    )
    assert {r["id"] for r in greedy_min_id_dropped(deep).collect()} == {2, 4}

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert greedy_min_id_dropped(empty).count() == 0


# ---------------------------------------------------------------------------
# Property: leader dedup == sequential reference on arbitrary graphs
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_edges = st.lists(
    st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(lambda t: t[0] != t[1]),
    min_size=1,
    max_size=25,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=_edges)
def test_greedy_min_id_dropped_matches_sequential_property(spark, edges):
    """On arbitrary pair graphs (cycles, stars, chains, parallel edges,
    either orientation), the parallel-rounds implementation must equal the
    sequential-by-id reference: keep v iff no already-kept neighbor. The
    replay-safety invariant — every dropped vertex has a kept neighbor — is
    checked directly too."""
    from datafusion_dedup_ai_spark.operators.dedup import greedy_min_id_dropped

    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], ["id_a", "id_b"]
    )
    got = {r["id"] for r in greedy_min_id_dropped(pairs).collect()}

    neighbors: dict = {}
    for a, b in edges:
        neighbors.setdefault(a, set()).add(b)
        neighbors.setdefault(b, set()).add(a)
    kept: set = set()
    dropped: set = set()
    for v in sorted(neighbors):
        if neighbors[v] & kept:
            dropped.add(v)
        else:
            kept.add(v)
    assert got == dropped
    for v in got:
        assert neighbors[v] & kept, f"dropped {v} has no kept neighbor"


# ---------------------------------------------------------------------------
# Two-phase verify (round-10 verdict #2: bound the verify join's payload mass)
# ---------------------------------------------------------------------------


def test_min_agree_cut_boundaries():
    """The integer routing cutoffs are faithful to the double comparison
    they replace: k >= cut iff k/num_hashes >= x under IEEE doubles."""
    for x in (0.0, 0.05, 0.2, 0.2 + 0.15, 0.2 - 0.15, 0.5, 0.35, 1.0):
        cut = D.min_agree_cut(x, 64)
        for k in range(0, 65):
            assert (k >= cut) == (k / 64 >= x), (x, k, cut)
    assert D.min_agree_cut(0.5, 64) == 32


def test_hashed_shingle_sets_jaccard_equivalence(spark, shingled):
    """Exact verification over xxhash64-hashed shingle sets (8 bytes per
    shingle) yields the SAME (n_common, n_union, jaccard) as over the raw
    string sets — the payload-bounding substitution of the two-phase path."""
    cands = _exact_candidates(shingled)
    on_strings = {
        (r["id_a"], r["id_b"]): (r["n_common"], r["n_union"], r["jaccard"])
        for r in D.verify_jaccard(cands, shingled, threshold=0.2).collect()
    }
    hashed = D.hashed_shingle_sets(shingled)
    on_hashes = {
        (r["id_a"], r["id_b"]): (r["n_common"], r["n_union"], r["jaccard"])
        for r in D.verify_jaccard(cands, hashed, threshold=0.2).collect()
    }
    assert on_strings and on_strings == on_hashes


@pytest.mark.parametrize("threshold", [0.2, 0.5])
def test_two_phase_pair_set_equals_all_exact(spark, shingled, threshold):
    """Set-equality pin (round-9 verdict #2 'Done' condition): on the
    fixed-seed test corpus the two-phase pipeline emits exactly the pair set
    of the all-exact pipeline — mis-routing requires a signature estimate
    off by more than eps (P <= 2*exp(-2*64*eps^2) per pair), which does not
    occur on this corpus/seed and would be deterministic if it ever did."""
    exact_pairs = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_near_dup_pairs(shingled, threshold=threshold).collect()
    }
    rows = D.minhash_near_dup_pairs_two_phase(
        shingled, threshold=threshold, eps=0.15
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in rows}
    assert exact_pairs, "corpus should contain near-dup pairs"
    assert got == exact_pairs
    for r in rows:
        assert r["decided_by"] in ("signature", "exact")
        assert abs(r["jaccard_est"] - r["n_agree"] / 64) < 1e-12


def test_two_phase_eps_extremes_route_all_one_way(spark, shingled):
    """eps=0 -> the borderline band is empty, every pair is decided by the
    signature estimate; a huge eps -> hi-cut exceeds 64, so EVERY candidate
    is exact-verified and the output equals the all-exact pipeline with
    exact jaccard values."""
    by_sig = D.minhash_near_dup_pairs_two_phase(
        shingled, threshold=0.5, eps=0.0
    ).collect()
    assert by_sig and all(r["decided_by"] == "signature" for r in by_sig)

    all_exact = D.minhash_near_dup_pairs_two_phase(
        shingled, threshold=0.5, eps=10.0
    ).collect()
    assert all_exact and all(r["decided_by"] == "exact" for r in all_exact)
    want = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_near_dup_pairs(shingled, threshold=0.5).collect()
    }
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in all_exact}
    assert got == want


def test_two_phase_negative_eps_rejected(spark, shingled):
    """eps < 0 flips hi < lo: below-threshold estimates would be emitted as
    'signature'-accepted with no exact check (round-10 advisor). Must raise
    at entry, before any Spark work."""
    import pytest

    with pytest.raises(ValueError, match="eps"):
        D.minhash_near_dup_pairs_two_phase(shingled, eps=-0.01)


def test_two_phase_borderline_takes_exact_branch(spark):
    """A pair whose signature estimate lands inside the +-eps band is
    exact-verified: its emitted jaccard is the TRUE set jaccard, not the
    estimate. bands=64 (one row per band) makes candidacy certain for a
    J~0.43 pair, and eps=0.2 around threshold 0.5 puts the ~0.43 estimate
    deterministically inside the borderline band for this seed."""
    base = [f"w{i} w{i+1}" for i in range(40)]
    # doc 2 keeps the first 24 shingles: J = 24/(40+40-24) = 0.43
    d = spark.createDataFrame(
        [(1, base), (2, base[:24] + [f"z{i} z{i+1}" for i in range(16)])],
        ["doc_id", "shingles"],
    )
    rows = D.minhash_near_dup_pairs_two_phase(
        d, threshold=0.2, eps=0.2, bands=64
    ).collect()
    pair = [r for r in rows if (r["id_a"], r["id_b"]) == (1, 2)]
    assert pair, "constructed near-dup pair must survive banding+threshold"
    r = pair[0]
    true_j = 24 / (40 + 40 - 24)
    lo = D.min_agree_cut(0.0, 64)
    hi = D.min_agree_cut(0.4, 64)
    if lo <= r["n_agree"] < hi:
        assert r["decided_by"] == "exact"
        assert abs(r["jaccard"] - true_j) < 1e-12
    else:
        # estimate fell outside the band (possible only if |est-J| > eps,
        # deterministic per seed): the decision must match the cutoffs
        assert r["decided_by"] == "signature" and r["n_agree"] >= hi


def test_minhash_estimate_is_unbiased(spark, shingled):
    """Regression pin for the round-10 modulus fix: with the 2^61-1 modulus
    the affine maps wrapped at most 3 times, the per-doc min collapsed to the
    smallest-x shingle on most functions, and J~0.03 pairs showed ~50/64
    agreement. With MINHASH_P (32-bit prime) the estimator must track true
    Jaccard: mean |est - J| over exact candidate pairs stays within the
    binomial noise envelope, and no low-J pair shows runaway agreement."""
    cands = _exact_candidates(shingled)
    truth = D.verify_jaccard(cands, shingled, threshold=0.0)
    sigs = D.minhash_signatures(shingled)
    sa = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    j = truth.join(sa, "id_a").join(sb, "id_b")
    n_agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda b: b)
    )
    rows = j.select(
        "jaccard", (n_agree.cast("double") / F.lit(64.0)).alias("est")
    ).collect()
    assert rows
    errs = [abs(r["est"] - r["jaccard"]) for r in rows]
    mean_err = sum(errs) / len(errs)
    # sd of est at J=0.5 is sqrt(0.25/64) ~ 0.0625; mean abs error well below
    assert mean_err < 0.08, f"mean |est-J| {mean_err:.3f}: estimator biased"
    for r in rows:
        if r["jaccard"] < 0.1:
            assert r["est"] < 0.5, (r["jaccard"], r["est"])


def test_index_meta_records_modulus(spark, shingled, tmp_path):
    """The sidecar pins the hash-family MODULUS too (round-10: the family
    changed from 2^61-1 to the 32-bit prime; an old index's signatures can
    never match new ones). A sidecar lacking the field — a round-9 index —
    must be rejected on append exactly like any parameter mismatch."""
    import json

    from datafusion_dedup_ai_spark.operators import lsh_index as LX

    path = str(tmp_path / "idx")
    LX.build(LX.MINHASH, shingled, path)
    meta = LX.read_meta(path)
    assert meta["modulus"] == D.MINHASH_P
    legacy = {k: v for k, v in meta.items() if k != "modulus"}
    with open(LX.meta_path(path), "w") as f:
        json.dump(legacy, f)
    with pytest.raises(ValueError, match="signature generations"):
        LX.append(LX.MINHASH, shingled, path)


@pytest.mark.parametrize(
    "v", [0, -1, 1 << 30, -(1 << 31), (1 << 31) - 1, 1 << 31, D.MINHASH_P, -(1 << 63)]
)
def test_sql_int_types_like_lit(spark, v):
    """The SQL-text literals of the expression families carry the value and
    the type ``F.lit`` gives the same int: INT inside 32 bits, else BIGINT,
    and -2^63, which has no literal spelling, still a BIGINT."""
    got = spark.range(1).select(F.expr(D._sql_int(v)).alias("v"))
    want = spark.range(1).select(F.lit(v).alias("v"))
    assert got.schema == want.schema
    assert got.first()["v"] == v


def test_minhash_manifest_build_py4j_budget(spark, monkeypatch):
    """Driver-cost guard: building the curate manifest with the MinHash tier
    stays under 4,000 py4j round trips. Its repeated column families (64
    MinHash mins, 16 band structs) are SQL text; built as Column chains
    the manifest costs ~10.9k round trips, which a CLI run or a streaming
    micro-batch pays at every plan build. The first build is not counted,
    so one-time imports and JVM class lookups do not enter the budget."""
    import py4j.clientserver as cs

    from datafusion_dedup_ai_spark.queries_curation import training_manifest_frame

    docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog"), (1, "a b c d e")],
        "doc_id BIGINT, text STRING",
    )
    training_manifest_frame(docs, near_dup_tier="minhash")
    send = cs.ClientServerConnection.send_command
    calls = [0]

    def counting(self, command):
        calls[0] += 1
        return send(self, command)

    with monkeypatch.context() as m:
        m.setattr(cs.ClientServerConnection, "send_command", counting)
        training_manifest_frame(docs, near_dup_tier="minhash")
    assert 0 < calls[0] <= 4000, calls[0]
