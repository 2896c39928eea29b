#!/usr/bin/env python
"""Capture .explain('formatted') physical plans of registered queries.

Usage:
    python plans.py <tag> before [query ...]   # write plans/<tag>/<q>_before.txt
    python plans.py <tag> after  [query ...]   # write plans/<tag>/<q>_after.txt
    python plans.py audit                      # write PLANS.md

before/after: with no query names, captures every HEADLINE query from
bench.py. 'before' files are write-once, also with explicit names, so the
evidence taken before a change cannot be clobbered; 'after' files are
rewritten on every run.

audit: writes PLANS.md, the human-readable companion of tests/test_plans.py.
It holds the plans of the AUDITED scale-critical queries, the EXTRA_PLANS
built beside the registry, and an executed-plan exhibit of the AQE skew
split, so the plan properties the engine relies on (pushed filters, pruned
schemas, broadcast joins, equi-join shapes, no cartesian products) can be
read without running Spark.

The testdata dir (normally sf0.1) comes from SPARK_GRAFT_SF_DIR.

Note: queries whose construction is eager (ann_recall_report collects its
rows driver-side) explain as a LocalTableScan.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.abspath(__file__))

AUDITED = [
    # the heaviest bench queries
    "dedup_clusters",
    "minhash_near_dup_pairs",
    "clean_corpus",
    "ngram_jaccard_pairs",
    "doc_containment_pairs",
    "simhash_fingerprints",
    "duplicate_substring_spans",
    "doc_tfidf_topterms",
    # scale-critical extension shapes
    "incremental_near_dup_matches",
    "embedding_dedup_clusters",
    "cosine_topk",
    "pricing_summary",
    "region_order_stats",
    "chunk_dedup_stats",
    "bloom_incremental_new_docs",
    "ngram_lm_counts",
    "bpe_pair_counts",
    "bm25_retrieval_topk",
    "textrank_keywords",
    "kn_doc_scores",
    "length_bucket_batches",
    "fuzzy_benchmark_contamination",
    "event_funnel",
    # cluster maintenance: size-routed components + single-window sizes
    "incremental_cluster_update",
    "text_dedup_clusters",
    "semantic_dedup_embeddings",
    # url hygiene (pure regexp map), host recrawl stats (one groupBy on
    # host), phonetic vocabulary blocking (soundex self-join, guarded), and
    # the two curation policy composites (join + one window over audited
    # layers)
    "url_canonical_mapping",
    "host_url_stats",
    "phonetic_blocked_pairs",
    "dedup_quality_representatives",
    "source_quality_percentiles",
    # the ExactSubstr removal transform (shared dup-gram core +
    # covered-position anti-join + order-pinned reassembly)
    "doc_substring_trimmed",
    # tokenizer apply (distinct-word pandas_udf encode + broadcast join back
    # onto the corpus word stream) and html extraction (one regexp
    # projection, no shuffle)
    "tokenized_length_stats",
    "html_text_extraction",
]


def explain(df) -> str:
    # The same JVM hook DataFrame.explain("formatted") prints through,
    # returned as a string instead of printed.
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def capture(df, path: str) -> None:
    s = explain(df)
    with open(path, "w") as f:
        f.write(s)
    print(f"wrote {os.path.relpath(path, REPO)} ({len(s)} chars)")


def _attribution_join_batch(spark, sf_dir: str):
    """The batch-equivalent plan of streaming_attribution_join, whose
    registered query scans its converged replay snapshot (a bare parquet
    scan tells the auditor nothing): the same user-keyed 60-minute
    time-range inner join the watermarked stream-stream operator computes
    and the oracle replays."""
    from pyspark.sql import functions as F

    from datafusion_dedup_ai_spark.queries_extras import _ATTR_HORIZON_US
    from datafusion_dedup_ai_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    c = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), us.alias("click_us")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        us.alias("purchase_us"),
    )
    return c.join(
        p,
        (c.user_id == p.user_id)
        & (F.col("click_us") <= F.col("purchase_us"))
        & (F.col("click_us") >= F.col("purchase_us") - _ATTR_HORIZON_US),
    ).select(
        c.user_id, "click_id", "purchase_id", "click_us", "purchase_us"
    )


# (name, builder) plans audited beside the registered queries
EXTRA_PLANS = [
    ("streaming_attribution_join (batch-equivalent join)", _attribution_join_batch),
]


def _skew_split_exhibit(spark) -> str:
    """An executed (AQE-final) plan showing the skew-join split firing on
    the dedup candidate self-join's hot block. Static explain cannot show
    it, because OptimizeSkewedJoin rewrites the plan from runtime map-output
    statistics. The corpus is scale_probe's mega-block name table (10% of
    100k names share one first token, so one hot block_key); the byte
    thresholds are scale_probe._SKEW_PROBE_CONFS, where the same run is
    timed and gated."""
    from scale_probe import _SKEW_PROBE_CONFS, megablock_candidate_agg

    prev = {k: spark.conf.get(k, None) for k in _SKEW_PROBE_CONFS}
    for k, v in _SKEW_PROBE_CONFS.items():
        spark.conf.set(k, v)
    try:
        agg = megablock_candidate_agg(spark, 100_000, None)
        agg.collect()
        plan = agg._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    keep = [
        ln
        for ln in plan.splitlines()
        if "Join" in ln or "skew" in ln.lower() or "AQEShuffleRead" in ln
    ]
    return (
        "## AQE skew-split exhibit — mega-block candidate join "
        "(executed plan)\n\n"
        "One hot `block_key` (10k of 100k names share the first token); "
        "AQE's OptimizeSkewedJoin splits the hot SMJ partition at runtime — "
        "`skew=true` below is the marker tests can't get from static "
        "explain. Full timing + guard rows: SCALE_PROBE.json "
        "(`megablock_candidate_pairs@*`).\n\n"
        "```\n" + "\n".join(keep) + "\n```\n"
    )


def audit(spark, qs, sf_dir: str) -> None:
    out = [
        "# PLANS — formatted physical plans of the scale-critical queries",
        "",
        f"Generated by `plans.py audit` at `{os.path.basename(sf_dir)}`. The",
        "properties asserted machine-side in tests/test_plans.py (filter",
        "pushdown, column pruning, broadcast dimensions, equi-join shapes, no",
        "cartesian products, single Python eval per pandas_udf stage) are",
        "visible in the trees below.",
        "",
    ]
    plans = [(name, qs[name]) for name in AUDITED] + EXTRA_PLANS
    for name, fn in plans:
        plan = explain(fn(spark, sf_dir))
        out.append(f"## {name}\n\n```\n{plan.rstrip()}\n```\n")
    # The exhibit executes a skewed join; its failure must not throw away
    # the static plans already collected above.
    try:
        out.append(_skew_split_exhibit(spark))
    except Exception as exc:  # noqa: BLE001
        out.append(
            "## AQE skew-split exhibit — FAILED this regeneration\n\n"
            f"```\n{type(exc).__name__}: {exc}\n```\n"
            "(static plans above are unaffected; see SCALE_PROBE.json "
            "megablock rows for the gated timing evidence)\n"
        )
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(plans)} plans + skew exhibit)")


def main() -> None:
    args = sys.argv[1:]
    if args != ["audit"] and (len(args) < 2 or args[1] not in ("before", "after")):
        sys.exit(__doc__)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR") or sys.exit(
        "set SPARK_GRAFT_SF_DIR to the testdata dir (normally sf0.1)"
    )

    from datafusion_dedup_ai_spark.session import build_session
    import __spark_entry__ as entry_mod

    spark = build_session(app_name=f"plans-{'-'.join(args[:2])}")
    qs = entry_mod.queries()
    if args == ["audit"]:
        audit(spark, qs, sf_dir)
    else:
        from bench import HEADLINE

        tag, stage, names = args[0], args[1], args[2:]
        out = os.path.join(REPO, "plans", tag)
        os.makedirs(out, exist_ok=True)
        for name in names or HEADLINE:
            path = os.path.join(out, f"{name}_{stage}.txt")
            if stage == "before" and os.path.exists(path):
                print(f"skip {name} (before exists)")
                continue
            capture(qs[name](spark, sf_dir), path)
    spark.stop()


if __name__ == "__main__":
    main()
