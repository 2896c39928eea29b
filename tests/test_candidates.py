"""bucket_pairs against a pure-Python reference: every id pair that shares a
key is a candidate, once. Seeded small frames cover self mode, cross mode,
pairs sharing several key groups, and the bucket-size cap."""

from __future__ import annotations

import random
from collections import Counter
from itertools import product

import pytest

from datafusion_dedup_ai_spark.operators.candidates import bucket_pairs

KEYS = ["table", "bucket"]


def _incidence(rng, ids, n_tables=4, n_buckets=3):
    """(id, table, bucket) rows; few buckets, so most pairs share several
    (table, bucket) groups and the join emits them more than once."""
    return [(i, t, rng.randrange(n_buckets)) for i in ids for t in range(n_tables)]


def _groups(rows):
    g = {}
    for i, t, b in rows:
        g.setdefault((t, b), set()).add(i)
    return g


def _ref_self(rows, cap=None):
    g = _groups(rows)
    return {
        (a, b)
        for members in g.values()
        if cap is None or len(members) <= cap
        for a, b in product(members, members)
        if a < b
    }


def _ref_cross(left, right):
    gl, gr = _groups(left), _groups(right)
    return {
        (a, b)
        for k in gl.keys() & gr.keys()
        for a, b in product(gl[k], gr[k])
    }


def _got(df):
    rows = [(r["id_a"], r["id_b"]) for r in df.collect()]
    assert len(rows) == len(set(rows)), "bucket_pairs emitted a pair twice"
    return set(rows)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_self_mode_matches_reference(spark, seed):
    rng = random.Random(seed)
    rows = _incidence(rng, rng.sample(range(1000), 25))
    df = spark.createDataFrame(rows, ["vec_id", *KEYS])
    want = _ref_self(rows)
    # the join sees each of these pairs in more than one key group
    shared = Counter(
        (a, b)
        for members in _groups(rows).values()
        for a, b in product(members, members)
        if a < b
    )
    assert any(n > 1 for n in shared.values())
    assert _got(bucket_pairs(df, KEYS, "vec_id")) == want


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_cross_mode_matches_reference(spark, seed):
    """Cross mode has no id predicate: the same id on both sides pairs with
    itself, and id_a > id_b pairs are kept."""
    rng = random.Random(seed)
    left = _incidence(rng, rng.sample(range(40), 8))
    right = _incidence(rng, rng.sample(range(40), 20))
    dl = spark.createDataFrame(left, ["doc_id", *KEYS])
    dr = spark.createDataFrame(right, ["doc_id", *KEYS])
    want = _ref_cross(left, right)
    assert any(a > b for a, b in want)
    assert _got(bucket_pairs(dl, KEYS, "doc_id", right=dr)) == want


def test_cross_mode_keeps_broadcast_hint(spark):
    """With size-based broadcasting off, only a hint on ``right`` that
    survives bucket_pairs' projection can make the join a broadcast."""
    from pyspark.sql import functions as F

    rng = random.Random(4)
    left = _incidence(rng, range(30))
    right = _incidence(rng, range(100, 105))
    dl = spark.createDataFrame(left, ["doc_id", *KEYS])
    dr = spark.createDataFrame(right, ["doc_id", *KEYS])
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plans = {}
        for hinted in (False, True):
            out = bucket_pairs(
                dl, KEYS, "doc_id", right=F.broadcast(dr) if hinted else dr
            )
            assert _got(out) == _ref_cross(left, right)
            plans[hinted] = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, saved)
    assert "BroadcastHashJoin" not in plans[False]
    assert "BroadcastHashJoin" in plans[True]


@pytest.mark.parametrize("cap", [1, 3, 5, 100])
def test_cap_drops_oversized_groups(spark, cap):
    """Groups of more than ``cap`` rows are dropped before the join, but a
    pair survives through any other group it shares within the cap."""
    rng = random.Random(7)
    rows = _incidence(rng, range(18), n_tables=3, n_buckets=5)
    df = spark.createDataFrame(rows, ["vec_id", *KEYS])
    want = _ref_self(rows, cap)
    assert _got(bucket_pairs(df, KEYS, "vec_id", max_bucket_size=cap)) == want
    if cap == 100:
        assert want == _ref_self(rows)
    if cap == 1:
        assert want == set()


def test_single_key_and_empty_input(spark):
    df = spark.createDataFrame([(1, 7), (2, 7), (3, 8), (4, 7)], ["id", "cell"])
    assert _got(bucket_pairs(df, ["cell"], "id")) == {(1, 2), (1, 4), (2, 4)}
    assert _got(bucket_pairs(df.limit(0), ["cell"], "id")) == set()
