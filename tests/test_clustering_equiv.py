"""Equivalence of the entity-collapsed cluster replay against the full
row-pair path: identical clusters, confidences, and reasons — including the
adversarial shape that breaks naive collapses (an external row smaller than a
group's min attaching the group's members before its star edges run).

Two forms are checked against the row-pair reference: the layered operators
(group_pair_matches -> cluster_exact -> elect_canonical) and the fused
block pass (resolve_blocks). Both run one Python call per hash bucket, so
every case also runs under 1 (one bucket holds every block), 3 (few
buckets) and 64 (more buckets than blocks) shuffle partitions."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from datafusion_dedup_ai_spark.config import DedupConfig
from datafusion_dedup_ai_spark.operators.blocking import candidate_pairs, prepare_names
from datafusion_dedup_ai_spark.operators.canonical import elect_canonical
from datafusion_dedup_ai_spark.operators.clustering import (
    cluster_exact,
    cluster_from_edges,
    resolve_blocks,
)
from datafusion_dedup_ai_spark.operators.matching import group_pair_matches, match_pairs
from datafusion_dedup_ai_spark.plans.pipeline import dedup_pipeline

COLS = ["row_order", "base_name", "cluster_id", "cluster_size",
        "canonical_name", "confidence", "reason"]
BUCKET_COUNTS = (1, 3, 64)
FORMS = ("layered", "fused")


def _per_bucket_count(spark, run):
    """{n: run()} under each of BUCKET_COUNTS shuffle partitions, restoring
    the conf afterwards; ``run`` must both build and collect its plan, since
    cluster_exact and resolve_blocks read the bucket count when the plan is
    built."""
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    out = {}
    try:
        for n in BUCKET_COUNTS:
            spark.conf.set(key, str(n))
            out[n] = run()
    finally:
        spark.conf.set(key, saved)
    return out


def _rows(df):
    return [tuple(r[c] for c in COLS) for r in df.select(COLS).orderBy("row_order").collect()]


def _expected(f, forms=FORMS):
    return {(form, n): f for form in forms for n in BUCKET_COUNTS}


def _run_both(spark, names, link_identical=True, block_key=None):
    """The row-pair path's rows and, per (form, bucket count), the layered
    replay's and the fused pass's rows. Without identical-base linking the
    row-pair path drops identical-base candidate pairs, the rule the replay
    applies to its groups; the fused pass derives that rule from the
    thresholds, and no threshold pair both links distinct bases and leaves
    identical ones apart, so that case runs the layered form only. A
    ``block_key`` Column replaces the blocking key."""
    df = spark.createDataFrame(list(enumerate(names)), "idx bigint, name string")
    cfg = DedupConfig()
    prep = prepare_names(df, "name", cfg, order_col="idx")
    if block_key is not None:
        prep = prep.withColumn("block_key", block_key)
    pairs = candidate_pairs(prep)
    if not link_identical:
        pairs = pairs.where(F.col("base_a") != F.col("base_b"))
    f = _rows(elect_canonical(cluster_from_edges(prep, match_pairs(pairs, cfg))))
    forms = {
        "layered": lambda: _rows(elect_canonical(cluster_exact(
            prep, group_pair_matches(prep, cfg), link_identical=link_identical
        ))),
        "fused": lambda: _rows(resolve_blocks(prep, cfg)),
    }
    if not link_identical:
        del forms["fused"]
    gs = {
        (form, n): rows
        for form, run in forms.items()
        for n, rows in _per_bucket_count(spark, run).items()
    }
    return f, gs


def test_external_attacher_shape(spark):
    # 'Acme Grp' (row 0) fuzzy-matches the later identical group 'Acme Corp'
    # (rows 1..3): the full scan attaches rows 1-3 via row 0 before the
    # group's internal star pairs — row 1 must NOT get the 0.98 upgrade.
    names = ["Acme Grp", "Acme Corp", "Acme Corp", "Acme Corp"]
    f, gs = _run_both(spark, names)
    assert gs == _expected(f)


def test_replay_without_identical_links_matches_row_pairs(spark):
    """link_identical=False: identical bases link only through a fuzzy match
    to another group, so a group can stay split across components."""
    names = ["Acme Corp", "Acme Grp", "Acme Corp", "Globex", "Globex",
             "Acme Corpp", "Initech Ltd", "Initech", "Acme Corp"]
    f, gs = _run_both(spark, names, link_identical=False)
    assert gs == _expected(f, forms=("layered",))
    assert len({r[2] for r in f}) < len(f)  # some rows did link


def test_replay_keeps_blocks_sharing_a_base_apart(spark):
    """Blocks whose rows share base names stay apart when one call replays
    them together: groups are keyed by block and base, not by base alone."""
    names = ["Acme Corp", "Acme Grp", "Acme Corp", "Acme Grp", "Acme Corp",
             "Globex", "Globex"]
    f, gs = _run_both(
        spark, names,
        block_key=F.when(F.col("row_order") % 2 == 0, "even").otherwise("odd"),
    )
    assert gs == _expected(f)
    assert len({r[2] for r in f}) == 4  # even Acme, odd Acme, two Globex


def test_mega_block_fallback_partition_matches_exact(spark):
    """A pathological corpus where (almost) every name lands in ONE block —
    the reference's key is first-char/length-bucket/first-token, so 120 rows
    share block A_1_AAACORP. With max_block_rows=50 that block routes to the
    label-propagation fallback; the partition (row_order -> cluster_id, and
    cluster sizes) must equal the exact replay's, and the small block that
    stayed on the exact path must match bit-for-bit including confidences."""
    names = [f"AAACORP {i % 7}" for i in range(120)] + ["Zebra Inc"] * 3
    df = spark.createDataFrame(list(enumerate(names)), ["idx", "name"])
    cfg = DedupConfig()
    prep = prepare_names(df, "name", cfg, order_col="idx")
    matches = group_pair_matches(prep, cfg)
    small_cols = ["row_order", "cluster_id", "confidence", "reason"]

    def run(max_block_rows):
        out = cluster_exact(prep, matches, max_block_rows=max_block_rows)
        part = {
            r["row_order"]: r["cluster_id"]
            for r in out.select("row_order", "cluster_id").collect()
        }
        small = [tuple(r) for r in out.where(F.col("base_name") == "ZEBRA")
                 .select(small_cols).orderBy("row_order").collect()]
        return part, small

    exact_part, sm_e = run(None)
    assert len(sm_e) == 3
    # the partition must equal the exact replay's, and the sub-threshold
    # block must be byte-identical (exact path both times)
    assert _per_bucket_count(spark, lambda: run(50)) == {
        n: (exact_part, sm_e) for n in BUCKET_COUNTS
    }
    # fallback requires identical-base linking semantics
    with pytest.raises(ValueError, match="link_identical"):
        cluster_exact(prep, matches, link_identical=False, max_block_rows=50)


def test_pipeline_mega_route_partition_matches_default(spark):
    """dedup_pipeline with mega_block_rows=50 sends the 120-row block down
    the layered mega route and the small block through the fused pass; the
    partition, sizes and canonical names equal the default pipeline's. The
    mega route's upper-bound confidences (0.98 for every row of a repeated
    base) show that it ran, where the pass keeps the C3 scan-order values."""
    names = [f"AAACORP {i % 7}" for i in range(120)] + ["Zebra Inc"] * 3
    df = spark.createDataFrame(list(enumerate(names)), ["idx", "name"])
    cols = ["row_order", "cluster_id", "cluster_size", "canonical_name"]

    def run(cfg):
        out = dedup_pipeline(df, "name", cfg, order_col="idx").orderBy("row_order").collect()
        part = [tuple(r[c] for c in cols) for r in out]
        return part, {r["confidence"] for r in out if r["row_order"] < 120}

    default, default_conf = run(DedupConfig())
    assert {r[1] for r in default} == {0, 120}  # the AAACORP variants link
    assert len(default_conf) > 1
    assert run(DedupConfig(mega_block_rows=50)) == (default, {0.98})


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_random_fuzzy_corpora(spark, seed):
    """Random names over stems that also fuzzy-match other stems of their
    block (acme corp ~ acme grp, globex intl ~ globex intel, ...), so the
    replay links distinct base names, not only identical ones."""
    rng = random.Random(seed)
    stems = ["acme", "acme corp", "acme grp", "acmecorp", "globex",
             "globex intl", "globex intel", "initech", "initech inc",
             "initech intl", "umbrella", "umbrela", "stark", "starrk",
             "stark indus", "stark indust", "wayne", "wayne bro", "wayne bros"]
    sfx = ["", " ltd", " llc", " pvt ltd", " india", " co"]
    names = [
        rng.choice(stems) + rng.choice(sfx)
        for _ in range(rng.randrange(30, 80))
    ]
    df = spark.createDataFrame(list(enumerate(names)), ["idx", "name"])
    prep = prepare_names(df, "name", DedupConfig(), order_col="idx")
    cross = group_pair_matches(prep, DedupConfig()).where(
        F.col("base_a") != F.col("base_b")
    )
    assert cross.count() >= 1
    f, gs = _run_both(spark, names)
    assert gs == _expected(f)


def test_canonical_tie_on_count_and_length(spark):
    """Two bases of one cluster tie on count and on length: the smaller one
    wins, whichever comes first."""
    names = ["Acme Corq", "Acme Corp", "Acme Corq", "Acme Corp",
             "Acme Corps", "Globex Intel", "Globex Intl", "Globex Intel",
             "Globex Intl"]
    f, gs = _run_both(spark, names)
    assert gs == _expected(f)
    canon = {r[1]: r[4] for r in f}
    assert canon["ACME CORQ"] == "ACME CORP"
    assert canon["GLOBEX INTEL"] == "GLOBEX INTL"


def test_non_ascii_bases(spark):
    """Non-ASCII bases: code-point length and order decide the election, as
    Spark's length and binary string order do. U+FF21 sorts before U+1D400
    in code-point (and UTF-8) order but after it in UTF-16 order."""
    names = ["Acme \uff21", "Acme \U0001d400", "Acme \U0001d400",
             "Acme \uff21", "Café Royal", "Café Royale", "Café Royal",
             "Société Générale", "Société Generale", "Müller GmbH"]
    f, gs = _run_both(spark, names)
    assert gs == _expected(f)
    canon = {r[1]: r[4] for r in f}
    assert canon["ACME \U0001d400"] == "ACME \uff21"
    assert canon["CAFÉ ROYALE"] == "CAFÉ ROYAL"


def test_empty_base_rows(spark):
    """Empty-base rows (an empty cell, a null, suffix-only names) stay
    singletons named by their normalized name, with the empty-base
    confidence and reason, next to rows that do cluster."""
    names = ["Pvt Ltd", "Acme Corp", "", None, "Ltd", "Acme Corp", "Pvt Ltd",
             "Co."]
    f, gs = _run_both(spark, names)
    assert gs == _expected(f)
    empty = [r for r in f if r[1] == ""]
    assert len(empty) == 6
    assert all(r[2] == r[0] and r[3] == 1 and r[5] == 0.50 for r in empty)
    assert {r[4] for r in empty} == {"PVT LTD", "", "LTD", "CO"}


def test_block_with_one_distinct_base(spark):
    """A block whose rows share one base has no pair to score; its rows
    still form one cluster through identical-base links."""
    names = ["Globex", "Globex Ltd", "Globex", "Initech"]
    f, gs = _run_both(spark, names)
    assert gs == _expected(f)
    assert [r[2] for r in f] == [0, 0, 0, 3]


def _uf_min_labels(edges):
    """Union-find reference: {vertex: min(vertex in component)} over vertices
    appearing in edges."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


@pytest.mark.parametrize("seed", range(4))
def test_star_contraction_matches_union_find(spark, seed):
    """Random sparse graphs + disjoint chains (the diameter-heavy topology
    star contraction exists for): labels must equal union-find's min-label
    partition exactly, chains and isolated pairs included."""
    from datafusion_dedup_ai_spark.operators.clustering import (
        cluster_components_star,
    )

    rng = random.Random(seed)
    n = rng.randint(30, 80)
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(rng.randint(3, n // 2))
    ]
    # two disjoint chains in a high id range: diameter >> log(n)
    base = n + 10
    edges += [(base + i, base + i + 1) for i in range(17)]
    base2 = n + 100
    edges += [(base2 + i, base2 + i + 1) for i in range(9)]
    edges = [e for e in edges if e[0] != e[1]]
    df = spark.createDataFrame(edges, ["row_order_a", "row_order_b"])
    got = {
        r["row_order"]: r["cluster_id"]
        for r in cluster_components_star(df).collect()
    }
    assert got == _uf_min_labels(edges)


def test_star_contraction_agrees_with_label_propagation(spark):
    """The two scale backends implement the same contract — identical
    labelings on the same edge set."""
    from datafusion_dedup_ai_spark.operators.clustering import (
        cluster_components_star,
        cluster_label_propagation,
    )

    rng = random.Random(99)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(50)]
    edges = [e for e in edges if e[0] != e[1]]
    df = spark.createDataFrame(edges, ["row_order_a", "row_order_b"])
    star = {
        r["row_order"]: r["cluster_id"]
        for r in cluster_components_star(df).collect()
    }
    lp = {
        r["row_order"]: r["cluster_id"]
        for r in cluster_label_propagation(df).collect()
    }
    assert star == lp


def test_label_propagation_fails_loudly_without_convergence(spark):
    """A 9-vertex chain needs more than 3 rounds: LP raises instead of
    returning a partial labelling, and converges under the default."""
    from datafusion_dedup_ai_spark.operators.clustering import (
        cluster_label_propagation,
    )

    edges = [(i, i + 1) for i in range(8)]
    df = spark.createDataFrame(edges, ["row_order_a", "row_order_b"])
    with pytest.raises(RuntimeError, match="did not converge in 3 rounds"):
        cluster_label_propagation(df, max_iters=3)
    got = {
        r["row_order"]: r["cluster_id"]
        for r in cluster_label_propagation(df).collect()
    }
    assert got == {v: 0 for v in range(9)}


def test_mega_block_star_backend_matches_exact(spark):
    """cc_backend='star' routes the mega-block fallback through star
    contraction; the partition must still equal the exact replay's, and an
    unknown backend fails loudly."""
    names = [f"AAACORP {i % 7}" for i in range(120)] + ["Zebra Inc"] * 3
    df = spark.createDataFrame(list(enumerate(names)), ["idx", "name"])
    cfg = DedupConfig()
    prep = prepare_names(df, "name", cfg, order_col="idx")
    matches = group_pair_matches(prep, cfg)
    exact = cluster_exact(prep, matches)
    star = cluster_exact(prep, matches, max_block_rows=50, cc_backend="star")

    def part(df_):
        return {
            r["row_order"]: r["cluster_id"]
            for r in df_.select("row_order", "cluster_id").collect()
        }

    assert part(exact) == part(star)
    with pytest.raises(ValueError, match="backend"):
        cluster_exact(
            prep, matches, max_block_rows=50, cc_backend="nope"
        ).collect()


def test_components_auto_routes_and_matches_iterative_backends(spark):
    """cluster_components_auto: the small path (single-task union-find), the
    forced-LP path (threshold 0), and star must all produce the identical
    min-label partition on a random graph with chains, blobs, and
    singleton-free isolates; the empty edge list yields an empty frame."""
    from datafusion_dedup_ai_spark.operators.clustering import (
        cluster_components_auto,
        cluster_components_star,
        cluster_label_propagation,
    )

    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(70)]
    # a long chain forces multi-round LP so the comparison is non-trivial
    edges += [(100 + i, 101 + i) for i in range(25)]
    edges = [e for e in edges if e[0] != e[1]]
    df = spark.createDataFrame(edges, ["row_order_a", "row_order_b"])

    def part(res):
        return {r["row_order"]: r["cluster_id"] for r in res.collect()}

    small = part(cluster_components_auto(df))
    routed_lp = part(cluster_components_auto(df, small_max_edges=0))
    routed_star = part(
        cluster_components_auto(df, small_max_edges=0, scale_backend="star")
    )
    lp = part(cluster_label_propagation(df))
    star = part(cluster_components_star(df))
    assert small == lp == star == routed_lp == routed_star

    empty = df.where(F.col("row_order_a") < 0)
    assert cluster_components_auto(empty).count() == 0
