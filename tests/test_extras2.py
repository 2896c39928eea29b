"""Pins for the round-5 ingest-extension queries: chunk-level dedup stats,
char-distribution diversity, and the Bloom-filter ingest prefilter.

The cross-engine value gates live in CORRECTNESS_FULL.json (full_correctness
replays the DuckDB oracles); these tests pin the SEMANTIC invariants the
hash gate can't express — no-false-negatives, equivalence with the exact
incremental path, and agreement with a pure-Python reference.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from datafusion_dedup_ai_spark import entry_queries  # noqa: F401 — registry
from datafusion_dedup_ai_spark.queries_dedup_ext import (
    q_incremental_exact_new_docs,
)
from datafusion_dedup_ai_spark.queries_extras import (
    q_bloom_incremental_new_docs,
    q_chunk_dedup_stats,
    q_doc_char_diversity,
)
from datafusion_dedup_ai_spark.sources.readers import load_table


@pytest.fixture(scope="module")
def bloom_rows(spark, sf_dir):
    return q_bloom_incremental_new_docs(spark, sf_dir).collect()


def test_bloom_no_false_negatives(bloom_rows):
    """in_corpus => bloom_maybe: a key's own positions are always set, so a
    true duplicate can never be waved through as definitely-new."""
    for r in bloom_rows:
        if r["in_corpus"]:
            assert r["bloom_maybe"], f"false negative on doc {r['doc_id']}"


def test_bloom_false_positive_rate(bloom_rows):
    """With ~10^2-10^3 corpus keys in 3 x 65,536-bit filters the expected FP
    rate is ~(n/65536)^3 — indistinguishable from zero at test scale."""
    fp = sum(1 for r in bloom_rows if r["bloom_maybe"] and not r["in_corpus"])
    candidates = sum(1 for r in bloom_rows if not r["in_corpus"])
    assert candidates > 0
    assert fp / candidates < 0.05, f"FP rate {fp}/{candidates}"


def test_bloom_wide_no_false_negatives_and_same_decisions(spark, sf_dir, bloom_rows):
    """The production-sizing 24-bit-slice variant (nbits ~ 10x keys class,
    round-5 verdict #9): no false negatives at the wider width, and —
    since BOTH widths exactly verify their maybes — identical final
    (in_corpus, is_new) decisions to the 16-bit filter. (Per-doc FP
    monotonicity is NOT asserted: the two widths slice md5 at different
    offsets, so their false-positive sets are independent samples, only
    the expected rate shrinks.)"""
    from datafusion_dedup_ai_spark.queries_extras import (
        q_bloom_incremental_new_docs_wide,
    )

    wide = q_bloom_incremental_new_docs_wide(spark, sf_dir).collect()
    for r in wide:
        if r["in_corpus"]:
            assert r["bloom_maybe"], f"false negative on doc {r['doc_id']}"
    narrow = {r["doc_id"]: r for r in bloom_rows}
    assert len(wide) == len(narrow)
    for r in wide:
        n = narrow[r["doc_id"]]
        assert (r["in_corpus"], r["is_new"]) == (n["in_corpus"], n["is_new"])


def test_bloom_is_new_matches_exact_incremental(spark, sf_dir, bloom_rows):
    """The Bloom path and the plain anti-join path must admit exactly the
    same new-document set — the prefilter is an optimization, not a policy
    change."""
    bloom_new = {r["doc_id"] for r in bloom_rows if r["is_new"]}
    exact_new = {
        r["doc_id"]
        for r in q_incremental_exact_new_docs(spark, sf_dir).collect()
    }
    assert bloom_new == exact_new


def test_chunk_dedup_matches_python_reference(spark, sf_dir):
    """Replay the whole operator in pure Python — same chunking (256/192),
    same keep-first-by-(doc_id, chunk_id) rule — and require per-doc
    equality on every count."""
    docs = sorted(
        load_table(spark, sf_dir, "documents").collect(),
        key=lambda r: r["doc_id"],
    )
    seen: set[str] = set()
    expect: dict[int, tuple[int, int]] = {}
    for doc in docs:
        text = doc["text"] or ""
        starts = range(0, max(len(text), 1), 192)
        n, dups = 0, 0
        for s in starts:
            chunk = text[s : s + 256]
            n += 1
            if chunk in seen:
                dups += 1
            else:
                seen.add(chunk)
        expect[doc["doc_id"]] = (n, dups)
    stats = {r["doc_id"]: r for r in q_chunk_dedup_stats(spark, sf_dir).collect()}
    assert set(stats) == set(expect)
    for doc_id, (n, dups) in expect.items():
        r = stats[doc_id]
        assert (r["n_chunks"], r["n_dup_chunks"]) == (n, dups), doc_id
        assert r["dup_chunk_fraction"] == pytest.approx(dups / n, abs=0)


def test_char_diversity_matches_python_reference(spark, sf_dir):
    """Spot-check the Simpson index against a pure-Python Counter on every
    document (tiny at sf0.001)."""
    docs = load_table(spark, sf_dir, "documents").collect()
    got = {r["doc_id"]: r for r in q_doc_char_diversity(spark, sf_dir).collect()}
    checked = 0
    for doc in docs:
        if not doc["text"]:
            assert doc["doc_id"] not in got
            continue
        c = Counter(doc["text"])
        n = sum(c.values())
        sum_sq = sum(v * v for v in c.values())
        r = got[doc["doc_id"]]
        assert r["n_chars"] == n
        assert r["n_distinct_chars"] == len(c)
        assert r["sum_sq_counts"] == sum_sq
        assert r["simpson_diversity"] == pytest.approx(
            1.0 - sum_sq / (n * n), abs=0
        )
        assert 0.0 <= r["simpson_diversity"] < 1.0
        checked += 1
    assert checked > 0


def test_ngram_lm_counts_matches_python_reference(spark, sf_dir):
    """KN sufficient statistics vs a pure-Python Counter replay."""
    from datafusion_dedup_ai_spark.queries_extras import q_ngram_lm_counts

    docs = load_table(spark, sf_dir, "documents").collect()
    pair = Counter()
    for doc in docs:
        t = (doc["text"] or "").split(" ")
        for a, b in zip(t, t[1:]):
            pair[(a, b)] += 1
    lefts = Counter(b for (_, b) in pair)
    rights = Counter(a for (a, _) in pair)
    got = q_ngram_lm_counts(spark, sf_dir).collect()
    assert len(got) == len(pair)
    for r in got:
        key = (r["w1"], r["w2"])
        assert r["pair_count"] == pair[key]
        assert r["left_contexts"] == lefts[r["w2"]]
        assert r["right_contexts"] == rights[r["w1"]]


def test_vocab_oov_rate_matches_python_reference(spark, sf_dir):
    from datafusion_dedup_ai_spark.queries_extras import (
        VOCAB_MIN_COUNT,
        q_vocab_oov_rate,
    )

    docs = load_table(spark, sf_dir, "documents").collect()
    counts = Counter()
    for doc in docs:
        counts.update((doc["text"] or "").split(" "))
    vocab = {t for t, c in counts.items() if c >= VOCAB_MIN_COUNT}
    got = {r["doc_id"]: r for r in q_vocab_oov_rate(spark, sf_dir).collect()}
    for doc in docs:
        toks = (doc["text"] or "").split(" ")
        oov = sum(1 for t in toks if t not in vocab)
        r = got[doc["doc_id"]]
        assert (r["n_tokens"], r["n_oov"]) == (len(toks), oov)
        assert r["oov_rate"] == pytest.approx(oov / len(toks), abs=0)


def test_bpe_pair_counts_matches_python_reference(spark, sf_dir):
    """Replay the Sennrich first-merge statistic in pure Python: distinct
    words weighted by corpus frequency, adjacent char pairs."""
    from datafusion_dedup_ai_spark.queries_extras import q_bpe_pair_counts

    docs = load_table(spark, sf_dir, "documents").collect()
    words = Counter()
    for doc in docs:
        words.update(t for t in (doc["text"] or "").split(" ") if t)
    pairs = Counter()
    for w, c in words.items():
        for a, b in zip(w, w[1:]):
            pairs[(a, b)] += c
    got = q_bpe_pair_counts(spark, sf_dir).collect()
    assert len(got) == len(pairs)
    for r in got:
        assert r["pair_count"] == pairs[(r["sym_a"], r["sym_b"])]


def test_near_dup_tier_agreement_invariants(spark, sf_dir):
    """Structural pins for the cross-tier diagnostic: one row per tier
    pair, intersection bounded by both sides, jaccard consistent."""
    from datafusion_dedup_ai_spark.queries_extras import (
        q_near_dup_tier_agreement,
    )

    rows = q_near_dup_tier_agreement(spark, sf_dir).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["n_both"] <= min(r["n_a"], r["n_b"])
        union = r["n_a"] + r["n_b"] - r["n_both"]
        assert r["jaccard"] == pytest.approx(
            r["n_both"] / union if union else 0.0, abs=0
        )


# ---------------------------------------------------------------------------
# Retrieval/LM-scoring pack (BM25, Kneser-Ney, length-bucket batching)
# ---------------------------------------------------------------------------


def test_bm25_matches_python_reference(spark, sf_dir):
    """The Spark BM25 scores (through the 2^40 fixed-point gate) must sit
    within n_terms * 2^-40 of a straight float Python reference — the gate
    floors each per-term weight, so the total error is bounded by one ulp
    of the scale per matched term — and the returned ranking must equal
    the reference ranking computed on the fixed-point scores."""
    from datafusion_dedup_ai_spark.queries_extras import (
        _FP_SCALE,
        RETRIEVAL_QUERIES,
        q_bm25_retrieval_topk,
    )

    docs = load_table(spark, sf_dir, "documents").collect()
    tf: dict[int, Counter] = {}
    for doc in docs:
        toks = [t for t in (doc["text"] or "").split(" ") if t]
        if toks:
            tf[doc["doc_id"]] = Counter(toks)
    n_docs = len(tf)
    n_toks = sum(sum(c.values()) for c in tf.values())
    df = Counter(t for c in tf.values() for t in c)
    avgdl = n_toks / n_docs

    def weight(tfreq: int, dfreq: int, dlen: int) -> float:
        idf = (n_docs - dfreq + 0.5) / (dfreq + 0.5)
        return idf * (tfreq * 2.2) / (
            tfreq + 1.2 * (0.25 + (0.75 * dlen) / avgdl)
        )

    got = q_bm25_retrieval_topk(spark, sf_dir).collect()
    by_query: dict[int, list] = {}
    for r in got:
        by_query.setdefault(r["query_id"], []).append(r)

    for qid, terms in RETRIEVAL_QUERIES:
        ref = {}
        for doc_id, c in tf.items():
            dlen = sum(c.values())
            matched = [t for t in terms if t in c]
            if matched:
                ref[doc_id] = (
                    sum(weight(c[t], df[t], dlen) for t in matched),
                    len(matched),
                )
        rows = sorted(by_query[qid], key=lambda r: r["rank"])
        assert len(rows) == min(10, len(ref))
        for r in rows:
            ref_score, ref_matched = ref[r["doc_id"]]
            assert r["n_terms_matched"] == ref_matched
            assert abs(r["bm25_score"] - ref_score) <= (
                ref_matched + 1
            ) / _FP_SCALE * max(1.0, ref_score)
        # rank order must agree with the float reference up to fixed-point
        # ties: scores are strictly ordered in the returned ranking
        scores = [r["bm25_score"] for r in rows]
        assert scores == sorted(scores, reverse=True)


def test_kn_probabilities_form_a_distribution(spark, sf_dir):
    """Interpolated Kneser-Ney is a PROPER conditional distribution: for
    every context w1, sum over the corpus vocabulary of p(.|w1) == 1.
    Replays the exact probability formula in Python from the Spark count
    tables and asserts the simplex property — the strongest correctness
    check on the smoothing arithmetic (any misplaced discount or wrong
    normalizer breaks it)."""
    from datafusion_dedup_ai_spark.queries_extras import q_ngram_lm_counts

    lm = q_ngram_lm_counts(spark, sf_dir).collect()
    n_pair_types = len(lm)
    c1 = Counter()
    for r in lm:
        c1[r["w1"]] += r["pair_count"]
    # group rows by context
    by_w1: dict[str, list] = {}
    for r in lm:
        by_w1.setdefault(r["w1"], []).append(r)
    checked = 0
    for w1, rows in list(by_w1.items())[:50]:
        seen_mass = 0.0
        cont_lambda = 0.75 * len(rows) / c1[w1]
        for r in rows:
            seen_mass += (r["pair_count"] - 0.75) / c1[w1]
        # continuation mass over the WHOLE vocabulary of second words:
        # sum over all w2 types of left_contexts(w2)/n_pair_types == 1
        # because sum(left_contexts) over distinct w2 == n_pair_types.
        total = seen_mass + cont_lambda * 1.0
        assert abs(total - 1.0) < 1e-9, (w1, total)
        checked += 1
    assert checked > 0


def test_kn_doc_scores_bounds(spark, sf_dir):
    from datafusion_dedup_ai_spark.queries_extras import q_kn_doc_scores

    rows = q_kn_doc_scores(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_bigrams"] >= 1
        assert 0.0 < r["min_kn_prob"] <= r["avg_kn_prob"] <= 1.0


def test_length_bucket_batches_cover_corpus(spark, sf_dir):
    from datafusion_dedup_ai_spark.queries_extras import (
        _BATCH_SIZE,
        q_length_bucket_batches,
    )

    docs = load_table(spark, sf_dir, "documents").collect()
    rows = q_length_bucket_batches(spark, sf_dir).collect()
    assert sum(r["n_docs"] for r in rows) == len(docs)
    for r in rows:
        assert 1 <= r["n_docs"] <= _BATCH_SIZE
        assert r["max_len"] <= r["bucket_len"]
        assert r["pad_waste"] == r["n_docs"] * r["max_len"] - r["sum_tokens"]
        assert 0.0 < r["pack_efficiency"] <= 1.0
    # within each bucket, batch ids are dense from 0 and only the LAST
    # batch may be partial (fill order is rank order)
    by_bucket: dict[int, list] = {}
    for r in rows:
        by_bucket.setdefault(r["bucket_len"], []).append(r)
    for bucket, rs in by_bucket.items():
        rs = sorted(rs, key=lambda r: r["batch_id"])
        assert [r["batch_id"] for r in rs] == list(range(len(rs)))
        for r in rs[:-1]:
            assert r["n_docs"] == _BATCH_SIZE, (bucket, r)


def test_global_rank_partition_cols_matches_serial_window(spark):
    """The new partition_cols form of global_rank must reproduce the
    serial ROW_NUMBER() OVER (PARTITION BY grp ORDER BY key, tiebreak)
    exactly — on a synthetic frame with skewed group sizes."""
    from pyspark.sql import Window

    from datafusion_dedup_ai_spark.operators.ordering import global_rank

    df = spark.range(2000).select(
        F.col("id"),
        (F.col("id") % 3).cast("bigint").alias("grp"),
        F.md5(F.col("id").cast("string")).alias("k"),
    )
    fast = global_rank(
        df,
        key=F.col("k"),
        tiebreak=F.col("id"),
        partition_cols=["grp"],
        out="pos",
    )
    serial = df.withColumn(
        "want",
        F.row_number()
        .over(Window.partitionBy("grp").orderBy(F.col("k"), F.col("id")))
        .cast("bigint"),
    )
    joined = fast.join(serial.select("id", "want"), "id")
    assert joined.where(F.col("pos") != F.col("want")).count() == 0


def test_cluster_balanced_sample_quota(spark, sf_dir):
    """Per cell: at most QUOTA sampled; cells at-or-under quota are kept
    whole; pick ranks are dense from 1."""
    from datafusion_dedup_ai_spark.queries_extras import (
        _BALANCE_QUOTA,
        q_cluster_balanced_sample,
    )

    rows = q_cluster_balanced_sample(spark, sf_dir).collect()
    assert rows
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r)
    for cell, rs in by_cell.items():
        assert len(rs) <= _BALANCE_QUOTA
        size = rs[0]["cell_size"]
        assert len(rs) == min(_BALANCE_QUOTA, size)
        assert sorted(r["pick_rank"] for r in rs) == list(
            range(1, len(rs) + 1)
        )


def test_source_datasheet_totals(spark, sf_dir):
    """The datasheet's per-source sums must reconcile with the corpus:
    n_docs sums to the table count, total_tokens to the corpus token
    count, and every ratio stays in [0, 1]."""
    from datafusion_dedup_ai_spark.queries_extras import q_source_datasheet

    docs = load_table(spark, sf_dir, "documents").collect()
    rows = q_source_datasheet(spark, sf_dir).collect()
    assert sum(r["n_docs"] for r in rows) == len(docs)
    want_tokens = sum(len((d["text"] or "").split(" ")) for d in docs)
    assert sum(r["total_tokens"] for r in rows) == want_tokens
    for r in rows:
        assert 0.0 <= r["frac_pred_en"] <= 1.0
        assert 0.0 <= r["exact_dup_rate"] <= 1.0
        assert 0.0 <= r["mean_quality"] <= 1.0
        assert r["n_pred_en"] <= r["n_docs"]
        assert abs(r["mean_tokens"] - r["total_tokens"] / r["n_docs"]) < 1e-9


def test_event_funnel_matches_python_reference(spark, sf_dir):
    """Replay the ordered-funnel semantics per user in plain Python over
    the raw events and compare stage timestamps exactly."""
    from datafusion_dedup_ai_spark.queries_extras import q_event_funnel

    from datetime import datetime, timedelta

    ev = load_table(spark, sf_dir, "events").collect()
    epoch = datetime(1970, 1, 1)
    per_user: dict[int, list] = {}
    for r in ev:
        # exact integer micros, timezone-independent (session is UTC-pinned)
        us = (r["ts"].replace(tzinfo=None) - epoch) // timedelta(
            microseconds=1
        )
        per_user.setdefault(r["user_id"], []).append((us, r["event_type"]))

    got = {r["user_id"]: r for r in q_event_funnel(spark, sf_dir).collect()}
    assert set(got) == set(per_user)
    for uid, evs in per_user.items():
        stages = []
        prev = None
        for stage_type in ("signup", "view", "click", "purchase"):
            cand = [
                us
                for us, t in evs
                if t == stage_type and (prev is None or us > prev)
            ]
            cur = min(cand) if cand else None
            stages.append(cur)
            if cur is None:
                break
            prev = cur
        while len(stages) < 4:
            stages.append(None)
        r = got[uid]
        assert [
            r["t_signup_us"],
            r["t_view_us"],
            r["t_click_us"],
            r["t_purchase_us"],
        ] == stages, uid
        assert r["stage_reached"] == sum(1 for s in stages if s is not None)


def test_retention_cohort_invariants(spark, sf_dir):
    from datafusion_dedup_ai_spark.queries_extras import (
        q_user_retention_cohorts,
    )

    rows = q_user_retention_cohorts(spark, sf_dir).collect()
    assert rows
    day0 = [r for r in rows if r["day_offset"] == 0]
    assert day0 and all(r["retention_rate"] == 1.0 for r in day0)
    # every cohort has a day-0 row and its n_active == cohort_size there
    cohorts = {r["cohort_day_us"] for r in rows}
    assert {r["cohort_day_us"] for r in day0} == cohorts
    for r in rows:
        assert r["day_offset"] >= 0
        assert 1 <= r["n_active"] <= r["cohort_size"]


def test_dup_graph_triangles_match_python_reference(spark, sf_dir):
    from itertools import combinations

    from datafusion_dedup_ai_spark.queries_extras import q_dup_graph_metrics
    from datafusion_dedup_ai_spark.queries_text import q_ngram_jaccard_pairs

    edges = {
        (r["doc_a"], r["doc_b"])
        for r in q_ngram_jaccard_pairs(spark, sf_dir).collect()
    }
    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = Counter()
    for node, nbrs in adj.items():
        for u, v in combinations(sorted(nbrs), 2):
            if (min(u, v), max(u, v)) in edges:
                tri[node] += 1
    got = q_dup_graph_metrics(spark, sf_dir).collect()
    assert {r["doc_id"] for r in got} == set(adj)
    for r in got:
        assert r["degree"] == len(adj[r["doc_id"]])
        assert r["n_triangles"] == tri[r["doc_id"]]
        d, t = r["degree"], r["n_triangles"]
        want = (2.0 * t) / (d * (d - 1)) if d >= 2 else 0.0
        assert abs(r["clustering_coeff"] - want) < 1e-12


def test_transition_matrix_rows_normalize(spark, sf_dir):
    from datafusion_dedup_ai_spark.queries_extras import (
        q_event_transition_matrix,
    )

    rows = q_event_transition_matrix(spark, sf_dir).collect()
    assert rows
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r["src"], []).append(r)
    for src, rs in by_src.items():
        total = rs[0]["n_from_src"]
        assert sum(r["n_transitions"] for r in rs) == total
        assert abs(sum(r["prob"] for r in rs) - 1.0) < 1e-9
    # total transitions = total events - one per user (no successor)
    ev = load_table(spark, sf_dir, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r["n_transitions"] for r in rows) == n_events - n_users


def test_mad_outliers_match_python_reference(spark, sf_dir):
    from datafusion_dedup_ai_spark.queries_extras import q_value_outliers_mad

    ev = load_table(spark, sf_dir, "events").collect()
    by_type: dict[str, list] = {}
    for r in ev:
        by_type.setdefault(r["event_type"], []).append(
            (r["value"], r["event_id"])
        )
    meds, mads = {}, {}
    for t, vals in by_type.items():
        vals.sort()
        n = len(vals)
        med = vals[(n + 1) // 2 - 1][0]
        devs = sorted((abs(v - med), eid) for v, eid in vals)
        meds[t] = med
        mads[t] = devs[(n + 1) // 2 - 1][0]
    got = q_value_outliers_mad(spark, sf_dir).collect()
    assert len(got) == len(ev)
    n_outliers = 0
    for r in got:
        assert r["med"] == meds[r["event_type"]]
        assert r["mad"] == mads[r["event_type"]]
        assert r["is_outlier"] == (r["dev"] > 3.0 * r["mad"])
        n_outliers += bool(r["is_outlier"])
    # MAD flags a minority, never everything
    assert 0 <= n_outliers < len(got) / 2


def test_fuzzy_contamination_vs_bruteforce(spark, sf_dir):
    """Precision is exact (candidates are Jaccard-verified): every flagged
    doc must truly have a benchmark neighbor at >= the contamination
    threshold. Recall floor: near-identical leaks (exact J >= 0.9 — the
    LSH catch probability there is ~1) must all be caught."""
    from datafusion_dedup_ai_spark.queries_curation import BENCHMARK_MOD
    from datafusion_dedup_ai_spark.queries_extras import (
        _CONTAM_J,
        q_fuzzy_benchmark_contamination,
    )

    docs = load_table(spark, sf_dir, "documents").collect()
    sh = {}
    for doc in docs:
        t = (doc["text"] or "").split(" ")
        sh[doc["doc_id"]] = {f"{a} {b}" for a, b in zip(t, t[1:])}
    bench = {i for i in sh if i % BENCHMARK_MOD == 0}
    train = set(sh) - bench

    def jac(a, b):
        inter = len(sh[a] & sh[b])
        union = len(sh[a] | sh[b])
        return inter / union if union else 0.0

    best = {t: max((jac(t, b) for b in bench), default=0.0) for t in train}
    got = {
        r["doc_id"]: r
        for r in q_fuzzy_benchmark_contamination(spark, sf_dir).collect()
    }
    assert set(got) == train
    for doc_id, r in got.items():
        if r["contaminated"]:
            assert best[doc_id] >= _CONTAM_J, doc_id
        if r["max_jaccard"] is not None:
            assert r["max_jaccard"] <= best[doc_id] + 1e-12
    for doc_id, b in best.items():
        if b >= 0.9:
            assert got[doc_id]["contaminated"], (doc_id, b)


def test_multimodal_curation_rules(spark, sf_dir):
    """Every planted verbatim payload copy must be dropped as dup_payload
    (keep-first by doc_id: the original survives); flags must reconcile
    with the verdict and the first-match reason priority."""
    from datafusion_dedup_ai_spark.queries_extras import (
        _MEDIA_PLANT_MOD,
        _MEDIA_PLANT_OFFSET,
        q_multimodal_curation_decisions,
    )

    rows = q_multimodal_curation_decisions(spark, sf_dir).collect()
    by_id = {r["doc_id"]: r for r in rows}
    planted = [r for r in rows if r["doc_id"] >= _MEDIA_PLANT_OFFSET]
    assert planted
    for r in planted:
        src = by_id[r["doc_id"] - _MEDIA_PLANT_OFFSET]
        assert src["doc_id"] % _MEDIA_PLANT_MOD == 1
        assert r["dup_payload"] and r["drop_reason"] == "dup_payload"
        assert not src["dup_payload"]  # keep-first: original survives
    for r in rows:
        flags = [
            ("dup_payload", r["dup_payload"]),
            ("low_text_quality", r["low_text_quality"]),
            ("tiny_payload", r["tiny_payload"]),
        ]
        assert r["keep"] == (not any(v for _, v in flags))
        want = next((n for n, v in flags if v), "kept")
        assert r["drop_reason"] == want


def test_ann_lsh_gated_recall_and_bucket_provenance(spark, sf_dir):
    """The gated LSH tier must (a) only return candidates that truly share
    a bucket with the query — where the query side now probes its base
    code PLUS the lowest-|margin| single-bit flip per table (round-7
    multi-probe; the probed buckets derive from the margins fixture) —
    and (b) keep recall vs brute force above the base-probe floor."""
    from datafusion_dedup_ai_spark.operators import hash_fixtures as HF
    from datafusion_dedup_ai_spark.queries_extras import q_ann_lsh_topk_gated
    from datafusion_dedup_ai_spark.queries_similarity import q_cosine_topk

    got = q_ann_lsh_topk_gated(spark, sf_dir).collect()
    assert got
    buckets = {}
    bdf = HF.LSH_BUCKETS.read(spark, sf_dir).collect()
    for r in bdf:
        buckets.setdefault(r["vec_id"], set()).add((r["table"], r["bucket"]))
    # query probe sets: base bucket + (bucket XOR 1<<argmin-margin-bit)
    qprobe: dict[int, set] = {}
    best: dict[tuple, tuple] = {}
    for r in HF.LSH_QUERY_MARGINS.read(spark, sf_dir).collect():
        key = (r["vec_id"], r["table"])
        qprobe.setdefault(r["vec_id"], set()).add((r["table"], r["bucket"]))
        if key not in best or r["margin"] < best[key][0]:
            best[key] = (r["margin"], r["bucket"] ^ (1 << r["bit"]))
    for (vec_id, table), (_, flipped) in best.items():
        qprobe[vec_id].add((table, flipped))
    for r in got:
        assert qprobe[r["query_id"]] & buckets[r["neighbor_id"]], r
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in q_cosine_topk(spark, sf_dir).collect()
    }
    approx = {(r["query_id"], r["neighbor_id"]) for r in got}
    assert len(approx & exact) / len(exact) >= 0.5


def test_textrank_matches_python_replay(spark, sf_dir):
    """Replay the exact integer fixed-point TextRank iteration in pure
    Python and require bit-equality after all 10 rounds — the strongest
    pin on the iterative arithmetic (any off-by-one in the floor-division
    placement diverges within an iteration or two)."""
    from datafusion_dedup_ai_spark.queries_extras import (
        _TR_ITERS,
        _TR_SCALE,
        q_textrank_keywords,
    )

    docs = load_table(spark, sf_dir, "documents").collect()
    pc = Counter()
    for doc in docs:
        t = (doc["text"] or "").split(" ")
        for a, b in zip(t, t[1:]):
            if a != b:
                pc[(a, b)] += 1
    edges = Counter()
    for (a, b), c in pc.items():
        edges[(a, b)] += c
        edges[(b, a)] += c
    w_total = Counter()
    for (u, _), w in edges.items():
        w_total[u] += w
    ranks = {u: _TR_SCALE for u in w_total}
    for _ in range(_TR_ITERS):
        contrib = Counter()
        for (u, v), w in edges.items():
            contrib[v] += (ranks[u] * w) // w_total[u]
        ranks = {
            u: (3 * _TR_SCALE) // 20 + (17 * contrib[u]) // 20
            for u in w_total
        }
    got = q_textrank_keywords(spark, sf_dir).collect()
    assert len(got) == len(ranks)
    for r in got:
        assert r["rank_fp"] == ranks[r["word"]], r["word"]
        assert r["w_total"] == w_total[r["word"]]
    # hubs (stopword-ish high-degree words) must outrank the tail
    by_rank = sorted(got, key=lambda r: -r["rank_fp"])
    assert by_rank[0]["n_neighbors"] >= by_rank[-1]["n_neighbors"]


def test_cms_one_sided_error(spark, sf_dir):
    """The CMS theorem: point estimates NEVER undercount, and with w=1024
    slots against a ~31-type vocabulary collisions are rare — most top
    terms estimate exactly."""
    from datafusion_dedup_ai_spark.queries_extras import (
        q_cms_term_frequencies,
    )

    rows = q_cms_term_frequencies(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["est_count"] >= r["true_count"]
        assert r["overestimate"] == r["est_count"] - r["true_count"]
    exact = sum(1 for r in rows if r["overestimate"] == 0)
    assert exact >= len(rows) * 0.8


def test_positional_index_matches_python_reference(spark, sf_dir):
    import json

    from datafusion_dedup_ai_spark.queries_extras import q_positional_index

    docs = load_table(spark, sf_dir, "documents").collect()
    want: dict[tuple, list] = {}
    for doc in docs:
        for p, tok in enumerate((doc["text"] or "").split(" ")):
            if tok:
                want.setdefault((tok, doc["doc_id"]), []).append(p)
    dfreq = Counter(term for term, _ in want)
    got = q_positional_index(spark, sf_dir).collect()
    assert len(got) == len(want)
    for r in got:
        key = (r["term"], r["doc_id"])
        assert json.loads(r["positions"]) == want[key]
        assert r["n_occurrences"] == len(want[key])
        assert r["doc_freq"] == dfreq[r["term"]]


def test_ohlc_matches_python_reference(spark, sf_dir):
    from datetime import datetime, timedelta

    from datafusion_dedup_ai_spark.queries_extras import q_hourly_value_ohlc

    ev = load_table(spark, sf_dir, "events").collect()
    epoch = datetime(1970, 1, 1)
    buckets: dict[tuple, list] = {}
    for r in ev:
        ts = r["ts"].replace(tzinfo=None)
        h = ts.replace(minute=0, second=0, microsecond=0)
        h_us = (h - epoch) // timedelta(microseconds=1)
        buckets.setdefault((r["event_type"], h_us), []).append(
            ((ts - epoch) // timedelta(microseconds=1), r["event_id"], r["value"])
        )
    got = q_hourly_value_ohlc(spark, sf_dir).collect()
    assert len(got) == len(buckets)
    for r in got:
        rows = sorted(buckets[(r["event_type"], r["hour_us"])])
        vals = [v for _, _, v in rows]
        assert r["n_events"] == len(rows)
        assert r["open"] == rows[0][2]
        assert r["close"] == rows[-1][2]
        assert r["high"] == max(vals)
        assert r["low"] == min(vals)


def test_collocation_scores_match_python_reference(spark, sf_dir):
    from datafusion_dedup_ai_spark.queries_extras import (
        _COLLOC_DELTA,
        _COLLOC_MIN_COUNT,
        q_collocation_scores,
    )

    docs = load_table(spark, sf_dir, "documents").collect()
    uni, bi = Counter(), Counter()
    for doc in docs:
        t = [x for x in (doc["text"] or "").split(" ")]
        uni.update(x for x in t if x)
        bi.update(zip(t, t[1:]))
    n = sum(uni.values())
    got = q_collocation_scores(spark, sf_dir).collect()
    want = {k: v for k, v in bi.items() if v >= _COLLOC_MIN_COUNT}
    assert len(got) == len(want)
    for r in got:
        key = (r["w1"], r["w2"])
        assert r["pair_count"] == want[key]
        ref = (want[key] - _COLLOC_DELTA) * n / (uni[r["w1"]] * uni[r["w2"]])
        assert r["phrase_score"] == pytest.approx(ref, rel=1e-12)


def test_ab_test_report_matches_python_reference(spark, sf_dir):
    import math

    from datafusion_dedup_ai_spark.queries_extras import q_ab_test_report

    ev = load_table(spark, sf_dir, "events").collect()
    users = {r["user_id"] for r in ev}
    purch = Counter(r["user_id"] for r in ev if r["event_type"] == "purchase")
    conv = {u for u in users if purch[u] >= 14}
    n0 = sum(1 for u in users if u % 2 == 0)
    n1 = len(users) - n0
    c0 = sum(1 for u in conv if u % 2 == 0)
    c1 = len(conv) - c0
    [r] = q_ab_test_report(spark, sf_dir).collect()
    assert (r["n_control"], r["conv_control"]) == (n0, c0)
    assert (r["n_treatment"], r["conv_treatment"]) == (n1, c1)
    # the split must be non-degenerate or the z-score is vacuous
    assert 0 < c0 + c1 < n0 + n1
    p = (c0 + c1) / (n0 + n1)
    se = math.sqrt(p * (1 - p) * (1 / n0 + 1 / n1))
    assert r["z_score"] == pytest.approx(
        (c1 / n1 - c0 / n0) / se, rel=1e-12
    )


def test_rrf_fusion_properties(spark, sf_dir):
    """RRF invariants: items on BOTH lists outscore equal-rank items on
    one; scores match the closed form; fused ranks are dense per query."""
    from datafusion_dedup_ai_spark.queries_extras import (
        _RRF_K,
        q_rrf_fused_ranking,
    )

    rows = q_rrf_fused_ranking(spark, sf_dir).collect()
    assert rows
    by_q: dict[int, list] = {}
    for r in rows:
        want = 0.0
        if r["rank_exact"] is not None:
            want += 1.0 / (_RRF_K + r["rank_exact"])
        if r["rank_lsh"] is not None:
            want += 1.0 / (_RRF_K + r["rank_lsh"])
        assert r["rrf_score"] == pytest.approx(want, rel=1e-15)
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        ranks = sorted(r["fused_rank"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        both = [r for r in rs if r["rank_exact"] == 1 and r["rank_lsh"]]
        one = [r for r in rs if r["rank_exact"] == 1 and r["rank_lsh"] is None]
        for b in both:
            for o in one:
                assert b["rrf_score"] > o["rrf_score"]


def test_kmv_by_type_error_and_exact_path(spark, sf_dir):
    from datafusion_dedup_ai_spark.queries_extras import (
        _KMV_GROUP_K,
        q_kmv_distinct_by_type,
    )

    rows = q_kmv_distinct_by_type(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r["exact_distinct"] <= _KMV_GROUP_K:
            assert r["est_distinct"] == float(r["exact_distinct"])
        else:
            # KMV relative error ~ 1/sqrt(K-2): generous 3-sigma bound
            rel = abs(r["est_distinct"] - r["exact_distinct"]) / r[
                "exact_distinct"
            ]
            assert rel < 3.0 / (_KMV_GROUP_K - 2) ** 0.5, r


def test_b3_metrics_match_python_reference(spark, sf_dir):
    """Replay B-cubed from the same snapshot in pure Python (exact float
    per-item averages) and require agreement within the fixed-point
    resolution; structural bounds on the metric values."""
    from datafusion_dedup_ai_spark import materialize as MZ
    from datafusion_dedup_ai_spark.queries_extras import q_cluster_b3_metrics

    snap = MZ.CLUSTERS.read(spark, sf_dir).collect()
    items = []
    for row in snap:
        base = row["base_name"] or ""
        gold = (
            f"&{row['row_order']}"
            if base == ""
            else "".join(sorted(base.split(" ")))
        )
        items.append((row["cluster_id"], gold))
    csz = Counter(c for c, _ in items)
    gsz = Counter(g for _, g in items)
    cell = Counter(items)
    p = sum(cell[(c, g)] / csz[c] for c, g in items) / len(items)
    r = sum(cell[(c, g)] / gsz[g] for c, g in items) / len(items)
    [got] = q_cluster_b3_metrics(spark, sf_dir).collect()
    assert got["n_rows"] == len(items)
    assert got["n_system_clusters"] == len(csz)
    assert got["n_gold_clusters"] == len(gsz)
    assert abs(got["b3_precision"] - p) < 1e-9
    assert abs(got["b3_recall"] - r) < 1e-9
    assert 0.0 < got["b3_f1"] <= 1.0
    # fuzzy clusters refine-merge exact-key groups: recall must be 1.0
    assert got["b3_recall"] == pytest.approx(1.0, abs=1e-9)


def test_user_event_features_match_python_reference(spark, sf_dir):
    from datetime import datetime, timedelta

    from datafusion_dedup_ai_spark.queries_extras import q_user_event_features

    ev = load_table(spark, sf_dir, "events").collect()
    epoch = datetime(1970, 1, 1)
    per_user: dict[int, list] = {}
    for r in ev:
        us = (r["ts"].replace(tzinfo=None) - epoch) // timedelta(
            microseconds=1
        )
        per_user.setdefault(r["user_id"], []).append(
            (us, r["event_id"], r["event_type"], r["value"])
        )
    got = {r["event_id"]: r for r in q_user_event_features(spark, sf_dir).collect()}
    assert len(got) == len(ev)
    for uid, rows in per_user.items():
        rows.sort()
        for i, (us, eid, etype, val) in enumerate(rows):
            r = got[eid]
            if i == 0:
                assert r["prev_value"] is None
                assert r["micros_since_prev"] is None
            else:
                assert r["prev_value"] == rows[i - 1][3]
                assert r["micros_since_prev"] == us - rows[i - 1][0]
            in_hour = [
                x for x in rows if us - 3_600_000_000 <= x[0] <= us
            ]
            assert r["events_prev_hour"] == len(in_hour) - 1
            in_day = [
                x
                for x in rows
                if us - 86_400_000_000 <= x[0] <= us and x[2] == "error"
            ]
            assert r["errors_prev_day"] == len(in_day)


def test_label_centroid_drift_matches_numpy(spark, sf_dir):
    import numpy as np

    from datafusion_dedup_ai_spark.queries_extras import (
        _FP_SCALE,
        q_label_centroid_drift,
    )

    emb = load_table(spark, sf_dir, "embeddings").collect()
    by_label: dict = {}
    for r in emb:
        by_label.setdefault(r["label"], []).append(
            np.array(r["embedding"], dtype=np.float64)
        )
    allv = np.stack([v for vs in by_label.values() for v in vs])
    g = allv.mean(axis=0)
    got = {r["label"]: r for r in q_label_centroid_drift(spark, sf_dir).collect()}
    assert set(got) == set(by_label)
    for label, vs in by_label.items():
        m = np.stack(vs).mean(axis=0)
        want = float(np.sqrt(((m - g) ** 2).sum()))
        r = got[label]
        assert r["n_vecs"] == len(vs)
        # fixed-point drift bound: dims * (quantization of mean + square)
        assert abs(r["centroid_drift"] - want) < 64 * 4.0 / _FP_SCALE + 1e-9
        assert r["centroid_drift"] >= 0.0


def test_minhash_estimate_unbiasedness(spark, sf_dir):
    """Per-pair signature agreement must be a plausible estimate of the
    true Jaccard: mean absolute error across pairs well inside the
    binomial standard error at n=64, and estimates bounded in [0, 1]."""
    from datafusion_dedup_ai_spark.queries_extras import (
        q_minhash_estimate_report,
    )

    rows = q_minhash_estimate_report(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["jaccard_est"] <= 1.0
        assert r["abs_error"] == pytest.approx(
            abs(r["jaccard_est"] - r["jaccard"]), abs=0
        )
    mae = sum(r["abs_error"] for r in rows) / len(rows)
    # sd of the estimator at J=0.5 is sqrt(0.25/64) ~= 0.0625; the planted
    # pairs are mostly near J=1 where variance shrinks further
    assert mae < 0.125, mae


def test_incremental_cluster_update_equals_full_recompute(spark, sf_dir):
    """The incremental merge must reproduce text_dedup_clusters (the full
    recompute) row for row — the same equivalence the hash gate proves
    cross-engine, pinned here Spark-vs-Spark for fast regression."""
    from datafusion_dedup_ai_spark.queries_extras import (
        q_incremental_cluster_update,
        q_text_dedup_clusters,
    )

    inc = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_representative"])
        for r in q_incremental_cluster_update(spark, sf_dir).collect()
    }
    full = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_representative"])
        for r in q_text_dedup_clusters(spark, sf_dir).collect()
    }
    assert inc == full
