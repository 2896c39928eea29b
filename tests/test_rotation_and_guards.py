"""Unit pins: the rotation policy function, the post-build fixture reaping
(no destructive IO inside sf_cache_key), the streaming-replay memo reset,
and the phonetic max_bucket_size fuse semantics."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F


def test_rotation_policy_ordering_and_gating():
    """compute_rotation_window: gated-only; never-validated first; then
    oldest round; alphabetical inside a tier; size cap honored; independent
    of registration order."""
    from datafusion_dedup_ai_spark.rotation import compute_rotation_window

    registered = ["zeta", "beta", "alpha", "gamma", "delta", "rows_only"]
    gated = {"zeta", "beta", "alpha", "gamma", "delta"}
    history = {"alpha": 3, "beta": 3, "gamma": 5, "rows_only": 2}
    # zeta, delta never validated -> tier 0 (alphabetical); then r3 tier
    # alpha, beta; then r5 gamma; rows_only excluded despite being stalest.
    win = compute_rotation_window(registered, gated, history, size=4)
    assert win == ["delta", "zeta", "alpha", "beta"]
    # registration order must not matter
    win2 = compute_rotation_window(registered[::-1], gated, history, size=4)
    assert win2 == win
    # full list keeps the tier structure
    assert compute_rotation_window(registered, gated, history, size=50) == [
        "delta",
        "zeta",
        "alpha",
        "beta",
        "gamma",
    ]


def test_validation_history_freeze():
    """load_validation_history(through_round=N) must ignore artifacts from
    later rounds, so a pinned window stays reproducible after the next
    CORRECTNESS_r{N+1}.json lands."""
    from datafusion_dedup_ai_spark.rotation import load_validation_history

    h7 = load_validation_history(through_round=7)
    h1 = load_validation_history(through_round=1)
    assert max(h7.values()) <= 7
    assert max(h1.values()) <= 1
    assert set(h1) <= set(h7)
    # a known round-7 window entry is stamped 7 in the frozen-at-7 view
    assert h7["phonetic_blocked_pairs"] == 7


def test_reap_after_write_reaps_only_stale_versions(tmp_path, monkeypatch):
    """The first build under a key dir (materialize.build_once) reaps
    same-sf trees under OLD code fingerprints, keeps the current one, and
    never touches other prefixes or non-.materialized paths. sf_cache_key
    itself stays a pure path computation."""
    from datafusion_dedup_ai_spark import materialize as M

    base = os.path.join(M._REPO_ROOT, ".materialized")
    os.makedirs(base, exist_ok=True)
    prefix = "sfreaptest-deadbeef"
    cur = os.path.join(base, f"{prefix}-{M.code_fingerprint()}")
    old = os.path.join(base, f"{prefix}-00000000")
    legacy = os.path.join(base, prefix)  # pre-versioning layout
    # the unversioned MinHash index path: .materialized/<basename>/minhash_index
    legacy_index = os.path.join(base, "sfreaptest", "minhash_index")
    other = os.path.join(base, "sfother-cafebabe-00000000")
    other_legacy = os.path.join(base, "sfother", "minhash_index")
    monkeypatch.setattr(M, "_built", set())
    try:
        for d in (cur, old, legacy, legacy_index, other, other_legacy):
            os.makedirs(d, exist_ok=True)
        # pure getter: no deletion happens on key computation alone
        M.sf_cache_key("/tmp/reaptest-sfdir")
        assert os.path.isdir(old) and os.path.isdir(legacy)
        assert os.path.isdir(legacy_index)
        M.build_once(os.path.join(cur, "x.parquet"), lambda path: None)
        assert os.path.isdir(cur), "current-version tree must survive"
        assert not os.path.isdir(old), "old-fingerprint tree must be reaped"
        assert not os.path.isdir(legacy), "pre-versioning tree must be reaped"
        assert not os.path.isdir(os.path.dirname(legacy_index)), (
            "unversioned minhash_index tree (and its emptied dir) must be reaped"
        )
        assert os.path.isdir(other), "other sf prefixes must be untouched"
        assert os.path.isdir(other_legacy), "other sf legacy trees untouched"
        # a basename dir that holds anything besides the index is kept
        os.makedirs(legacy_index)
        keep = os.path.join(base, "sfreaptest", "keep.txt")
        open(keep, "w").close()
        M._reap_stale_versions(cur)
        assert not os.path.isdir(legacy_index) and os.path.isfile(keep)
        # non-.materialized paths are a no-op
        outside = tmp_path / f"{prefix}-{M.code_fingerprint()}"
        outside.mkdir()
        M._reap_stale_versions(str(outside))
        assert outside.is_dir()
    finally:
        for d in (cur, old, legacy, other):
            shutil.rmtree(d, ignore_errors=True)
        for d in (legacy_index, other_legacy):
            shutil.rmtree(os.path.dirname(d), ignore_errors=True)


def test_reset_replay_memos_forgets_only_the_streaming_replays(
    tmp_path, monkeypatch
):
    """bench_full.py and scale_probe.py call reset_replay_memos() so a timed
    run re-drives each streaming replay instead of scanning its converged
    result. It must forget exactly the five streaming work dirs and keep
    every parquet fixture and the persisted indexes. Checked at the memo:
    no stream is driven."""
    from datafusion_dedup_ai_spark import materialize as M
    from datafusion_dedup_ai_spark.operators import hash_fixtures as HF
    from datafusion_dedup_ai_spark.operators import multimodal as MM
    from datafusion_dedup_ai_spark.operators import semantic_dedup as SD
    from datafusion_dedup_ai_spark.queries_extras import (
        STREAMING_REPLAY_ENTRIES,
        reset_replay_memos,
    )

    replays = [
        "stream_ingest",
        "stream_sliding",
        "stream_stateful",
        "stream_ssjoin",
        "sem_ingest",
    ]
    fixtures = [
        f.name + ".parquet"
        for mod in (M, HF, MM, SD)
        for f in vars(mod).values()
        if isinstance(f, M.Fixture)
    ]
    kept = fixtures + ["vector_index", "minhash_index"]
    assert len(STREAMING_REPLAY_ENTRIES) == len(replays)
    monkeypatch.setattr(M, "_built", set())  # leave the session's memo alone
    sf = str(tmp_path / "sf_memo")
    paths = [M.artifact_path(sf, name) for name in replays + kept]
    for path in paths:
        M.build_once(path, lambda path: None)
    reset_replay_memos()
    rebuilt: list[str] = []
    for path in paths:
        M.build_once(path, rebuilt.append)
    assert sorted(os.path.basename(p) for p in rebuilt) == sorted(replays)


def test_minhash_index_path_is_versioned(tmp_path, monkeypatch):
    """The persisted MinHash index follows the one path rule: two sf dirs
    sharing a basename get separate indexes under their versioned keys."""
    from datafusion_dedup_ai_spark import materialize as M
    from datafusion_dedup_ai_spark.queries_dedup_ext import _corpus_index_path

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_a, sf_b = str(tmp_path / "a" / "sf1"), str(tmp_path / "b" / "sf1")
    expected = [
        os.path.join(repo_root, ".materialized", M.sf_cache_key(sf), "minhash_index")
        for sf in (sf_a, sf_b)
    ]
    # memoized as built, so no Spark build runs
    monkeypatch.setattr(M, "_built", set(expected))
    got = [_corpus_index_path(None, sf) for sf in (sf_a, sf_b)]
    assert got == expected
    assert got[0] != got[1]


def test_phonetic_max_bucket_size_drops_only_oversized_codes(spark):
    """The round-8 fuse: codes whose DISTINCT vocabulary exceeds the cap
    vanish entirely (their pairs are the quadratic mass); codes at or under
    the cap keep exactly their unguarded pairs; cap off == huge cap."""
    from datafusion_dedup_ai_spark.queries_dedup import phonetic_pairs_from_freq

    # soundex("ROBERT") == soundex("RUPERT") == R163; craft one hot code
    # (vowel-padded ROBERT variants, all R163) and one small code.
    hot = [f"ROBERT{'A' * i}" for i in range(1, 8)]  # 7 tokens, one code
    cold = ["SMITH", "SMYTHE"]  # S53x family: SMITH=S530, SMYTHE=S530
    rows = [(t, 1) for t in hot + cold]
    freq = spark.createDataFrame(rows, "tok string, cnt long")

    def pairs(cap):
        return {
            (r["name_a"], r["name_b"])
            for r in phonetic_pairs_from_freq(freq, max_bucket_size=cap).collect()
        }

    unguarded = pairs(None)
    assert ("SMITH", "SMYTHE") in unguarded
    assert sum(1 for a, b in unguarded if a.startswith("ROBERT")) == 21  # C(7,2)
    capped = pairs(5)
    assert capped == {(a, b) for a, b in unguarded if not a.startswith("ROBERT")}
    assert pairs(10_000) == unguarded
