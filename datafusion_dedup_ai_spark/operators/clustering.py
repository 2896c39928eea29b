"""C1/C3/C4 — connected components over the matched-pair edge list.

Backends:

* ``resolve_blocks`` (the pipeline's path, exact): one grouped Python pass
  over every prepared row that resolves each block the way the reference's
  per-block loop does (engine.py:246-338): it scores the block's distinct
  base pairs with Jaro-Winkler (``matching.block_base_matches``), replays
  the sorted row-pair scan from them (``_replay_block``) and elects the
  canonical name and cluster size (the ``canonical.elect_canonical``
  rule). Rows group on a hash bucket of ``block_key`` (of ``row_order``
  for empty bases) with ``spark.sql.shuffle.partitions`` buckets, so the
  plan is one exchange and one Python call per bucket, with no join back
  and nothing cached. Blocks above ``DedupConfig.mega_block_rows`` take
  the mega route below instead.

* ``cluster_exact`` (the layered reference and the mega route, exact): the
  same replay as separate operators — ``matching.group_pair_matches``
  feeds a cogroup of members and matches on the hash bucket of
  ``block_key``, whose labels join back to every row. Pairs exist only
  *within* a block (engine.py:251-255), so components never span blocks
  and the replay needs no global iteration. Blocks above
  ``max_block_rows`` route to ``cluster_mega_blocks``. The traced benchmark
  and the equivalence tests compose it with ``elect_canonical``.

Both replays reproduce the reference's order-dependent confidence quirk
(C3, engine.py:235-243): on each root-merging union, only the *first* row
of the pair takes ``max(conf, pair_conf)`` and has its reason overwritten.
Iterative union-find (no recursion — the reference's recursive ``find``
overflows on deep chains, SURVEY.md §4).

* ``cluster_from_edges`` (reference): per-block ``applyInPandas``
  union-find over the full row-pair edge list, the same C3 rule. The
  equivalence tests compare ``cluster_exact`` against it.

* ``cluster_label_propagation`` (scale fallback #1): iterative hash-min label
  propagation on the edge list — O(diameter) joins, each a shuffle on bounded
  keys. For mega-components where even a single block's edges don't fit one
  task. Produces identical partitions; per-row confidences are
  order-independent upper bounds (documented divergence; the exact path is the
  default precisely because blocks are small by construction).

* ``cluster_components_star`` (scale fallback #2): alternating star
  contraction — O(log^2 n) rounds on ANY topology, the chain-graph
  insurance LP's O(diameter) bound lacks.

* ``cluster_components_auto`` (router): bounded size probe, then a
  single-task union-find for small edge lists (e.g. the contracted delta
  graph of incremental maintenance — delta-sized at any corpus scale) and
  LP/star beyond the threshold.

All iterative backends checkpoint a base edge frame first and derive
every internal frame from that shared RDD, so a caller's expensive
unpersisted candidate-generation pipeline materializes exactly once
(without it, LP's first-round DAG references an LSH band-join subtree up
to 8 times).

Cluster ids are ``min(row_order)`` over the component — deterministic and
order-independent, unlike the reference's union-order-dependent root index
(engine.py:239,267; SURVEY.md §7 R3). All id-agnostic outputs (golden mapping,
canonical names, sizes, confidences) are unaffected.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from datafusion_dedup_ai_spark.config import (
    CONF_DEFAULT,
    CONF_EMPTY_BASE,
    CONF_TOKEN_AND_HARD,
    REASON_DEFAULT,
    REASON_EMPTY_BASE,
    REASON_TOKEN_AND_HARD,
    DedupConfig,
)
from datafusion_dedup_ai_spark.operators.canonical import elect_canonical
from datafusion_dedup_ai_spark.operators.matching import (
    block_base_matches,
    group_pair_matches,
)

# The `clusters` report schema (FIXTURES.md §2).
CLUSTER_COLUMNS = [
    "row_order",
    "original_name",
    "normalized_name",
    "base_name",
    "block_key",
    "cluster_id",
    "cluster_size",
    "canonical_name",
    "confidence",
    "reason",
]

_MEMBER_SCHEMA = StructType(
    [
        StructField("row_order", LongType()),
        StructField("cluster_id", LongType()),
        StructField("confidence", DoubleType()),
        StructField("reason", StringType()),
    ]
)


def _union_find_block(pdf: pd.DataFrame) -> pd.DataFrame:
    """Local union-find over one block's matched pairs, pair order = (a, b)
    ascending — the reference's nested-loop order (engine.py:251-255)."""
    pdf = pdf.sort_values(["row_order_a", "row_order_b"])
    parent: dict[int, int] = {}
    conf: dict[int, float] = {}
    reason: dict[int, str] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression, iterative
            parent[x], x = root, parent[x]
        return root

    for a, b, pc, pr in zip(
        pdf["row_order_a"], pdf["row_order_b"], pdf["pair_confidence"], pdf["pair_reason"]
    ):
        a, b = int(a), int(b)
        for n in (a, b):
            if n not in parent:
                parent[n] = n
                conf[n] = CONF_DEFAULT
                reason[n] = REASON_DEFAULT
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            # C3 quirk: only the first row of the pair is updated, max-merged.
            if pc > conf[a]:
                conf[a] = float(pc)
            reason[a] = str(pr)

    members = sorted(parent)
    roots = {m: find(m) for m in members}
    cluster_min: dict[int, int] = {}
    for m in members:
        r = roots[m]
        if r not in cluster_min or m < cluster_min[r]:
            cluster_min[r] = m
    return pd.DataFrame(
        {
            "row_order": members,
            "cluster_id": [cluster_min[roots[m]] for m in members],
            "confidence": [conf[m] for m in members],
            "reason": [reason[m] for m in members],
        }
    )


def cluster_from_edges(prepared: DataFrame, edges: DataFrame) -> DataFrame:
    """Assign ``cluster_id``/``confidence``/``reason`` to every prepared row.

    Rows absent from the edge list stay singletons with the stage-1 defaults;
    empty-base rows get the C4 rule (conf 0.50, engine.py:270-273).
    """
    members = edges.groupBy("block_key").applyInPandas(
        _union_find_block, schema=_MEMBER_SCHEMA
    ).withColumnsRenamed(
        {"cluster_id": "m_cluster_id", "confidence": "m_confidence", "reason": "m_reason"}
    )
    # Plain equi-join on row_order; AQE converts it to broadcast at runtime
    # when the matched-member side turns out small (the usual case: members
    # are only the rows that linked to something).
    out = prepared.join(members, on="row_order", how="left")
    return (
        out.withColumn("cluster_id", F.coalesce(F.col("m_cluster_id"), F.col("row_order")))
        .withColumn(
            "confidence",
            F.when(F.col("base_name") == "", F.lit(CONF_EMPTY_BASE)).otherwise(
                F.coalesce(F.col("m_confidence"), F.col("confidence"))
            ),
        )
        .withColumn(
            "reason",
            F.when(F.col("base_name") == "", F.lit(REASON_EMPTY_BASE)).otherwise(
                F.coalesce(F.col("m_reason"), F.col("reason"))
            ),
        )
        .drop("m_cluster_id", "m_confidence", "m_reason")
    )


def cluster_label_propagation(edges: DataFrame, max_iters: int = 50) -> DataFrame:
    """Scale-fallback C1: hash-min label propagation over edges.

    Returns (row_order, cluster_id) with cluster_id = min(row_order) in the
    connected component. Each iteration is two shuffles (groupBy on each
    endpoint); iterations = O(component diameter), which for name-dedup graphs
    is tiny. Used when a single component/block is too large for one task.
    Raises RuntimeError when the labels still change after ``max_iters``
    rounds.
    """
    # Single-scan input discipline (round-6, found by scale_probe): the
    # caller's edge list is often an UNPERSISTED candidate-generation
    # pipeline (LSH band join + verify). Before this base checkpoint, the
    # round-1 action's DAG referenced that subtree up to 8 times (verts'
    # two union branches x three initial-label references, plus sym's
    # two) — at the 10x probe corpus that turned a 27s pair generation
    # into a 516s query (measured exponent 1.80). The checkpointed base
    # is one shared RDD, so the caller's pipeline now executes exactly
    # once whatever the round count.
    base = edges.select("row_order_a", "row_order_b").localCheckpoint(
        eager=False
    )
    sym = (
        base.select(
            F.col("row_order_a").alias("src"), F.col("row_order_b").alias("dst")
        )
        .union(base.select(F.col("row_order_b"), F.col("row_order_a")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # sym is symmetric, so its src side alone enumerates every vertex;
    # labels: every vertex starts as its own label (checkpointed — the
    # round-1 DAG references it three times).
    verts = sym.select(F.col("src").alias("v")).distinct()
    labels = verts.withColumn("label", F.col("v")).localCheckpoint(eager=False)
    for _ in range(max_iters):
        neigh_min = (
            sym.join(labels, sym["dst"] == labels["v"])
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        # Convergence check FOLDED INTO the iteration (round-13, round-12
        # verdict #6): the round's frame carries the previous label as
        # `_old` next to the new one, so "any label changed?" is a filter
        # over rows this round's job computes anyway. The old shape joined
        # new_labels back to labels (two extra Exchanges + a sort-merge
        # join per round) and probed it with limit(1).count(), whose
        # early-exit left checkpoint partitions unmaterialized — the
        # backfill ran as a SECOND job per round. Now: one full count per
        # round = one job that materializes the checkpoint and answers
        # convergence; same least/coalesce math, identical labels.
        upd = (
            labels.join(neigh_min, labels["v"] == neigh_min["src"], "left")
            .select(
                F.col("v"),
                F.col("label").alias("_old"),
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint(eager=False)
        )
        changed = upd.where(F.col("_old") != F.col("label")).count()
        labels = upd.select("v", "label")
        if changed == 0:
            break
    else:
        # A partial labelling splits components silently; fail loudly, as
        # cluster_components_star and greedy_min_id_dropped do.
        raise RuntimeError(
            f"label propagation did not converge in {max_iters} rounds — "
            "a component is wider than expected; raise max_iters or use "
            "cluster_components_star"
        )
    return labels.select(F.col("v").alias("row_order"), F.col("label").alias("cluster_id"))


def cluster_mega_blocks(
    members: DataFrame,
    matches: DataFrame,
    conf_identical: float,
    reason_identical: str,
    backend: str = "lp",
) -> DataFrame:
    """Scale fallback for pathological blocks too large for one cogroup task
    (reference engine.py:194-200 keys by first-char/length-bucket/first-token,
    so a corpus where every name shares those lands in ONE block).

    The component structure is recovered WITHOUT materializing row-level
    pairs, via a bipartite contraction: every row links to its base-group's
    representative (min row_order), and matched base groups link rep-to-rep.
    Components over this contracted graph equal components over the row-pair
    graph when identical bases link (which they do whenever 1.0 clears the
    thresholds — the only regime this fallback serves; ``cluster_exact``
    enforces it). Labels then come from hash-min label propagation —
    O(diameter) bounded-shuffle iterations, never a quadratic task.

    Confidences/reasons are ORDER-INDEPENDENT UPPER BOUNDS (documented
    divergence from the C3 scan-order quirk): every row takes the strongest
    link its base group participates in — the identical-base tier when its
    group has >= 2 rows, else the best match edge touching the group — and
    isolated rows keep the stage-1 defaults.

    Input/output contract matches the cogroup replay: members (block_key,
    row_order, base_name), matches (block_key, base_a, base_b,
    pair_confidence, pair_reason) -> _MEMBER_SCHEMA rows for every member.
    """
    reps = members.groupBy("block_key", "base_name").agg(
        F.min("row_order").alias("rep"), F.count("*").alias("grp_n")
    )
    with_rep = members.join(reps, ["block_key", "base_name"])
    row_edges = with_rep.where(F.col("row_order") != F.col("rep")).select(
        F.col("row_order").alias("row_order_a"), F.col("rep").alias("row_order_b")
    )
    ra = reps.select(
        F.col("block_key"), F.col("base_name").alias("base_a"),
        F.col("rep").alias("rep_a"),
    )
    rb = reps.select(
        F.col("block_key"), F.col("base_name").alias("base_b"),
        F.col("rep").alias("rep_b"),
    )
    match_edges = (
        matches.join(ra, ["block_key", "base_a"])
        .join(rb, ["block_key", "base_b"])
        .select(
            F.col("rep_a").alias("row_order_a"), F.col("rep_b").alias("row_order_b")
        )
    )
    if backend == "star":
        cc = cluster_components_star
    elif backend == "lp":
        cc = cluster_label_propagation
    else:
        raise ValueError(f"unknown connected-components backend: {backend!r}")
    labels = cc(row_edges.union(match_edges))

    # group-level confidence: strongest link the base group participates in
    touch = (
        matches.select(
            "block_key", F.col("base_a").alias("base_name"),
            "pair_confidence", "pair_reason",
        )
        .union(
            matches.select(
                "block_key", F.col("base_b").alias("base_name"),
                "pair_confidence", "pair_reason",
            )
        )
        .groupBy("block_key", "base_name")
        .agg(
            F.max("pair_confidence").alias("m_conf"),
            F.max_by("pair_reason", "pair_confidence").alias("m_reason"),
        )
    )
    ident = F.when(F.col("grp_n") >= 2, F.lit(conf_identical))
    conf = F.greatest(F.coalesce(F.col("m_conf"), F.lit(0.0)), F.coalesce(ident, F.lit(0.0)))
    reason = (
        F.when(
            F.coalesce(ident, F.lit(0.0)) >= F.coalesce(F.col("m_conf"), F.lit(0.0)),
            F.when(F.col("grp_n") >= 2, F.lit(reason_identical)).otherwise(
                F.coalesce(F.col("m_reason"), F.lit(REASON_DEFAULT))
            ),
        ).otherwise(F.col("m_reason"))
    )
    graded = (
        with_rep.join(touch, ["block_key", "base_name"], "left")
        .withColumn(
            "confidence",
            F.when(conf > 0.0, conf).otherwise(F.lit(CONF_DEFAULT)),
        )
        .withColumn("reason", reason)
    )
    return (
        graded.join(labels, "row_order", "left")
        .select(
            "row_order",
            F.coalesce(F.col("cluster_id"), F.col("row_order")).alias("cluster_id"),
            "confidence",
            "reason",
        )
    )


def _replay_block(
    members: pd.DataFrame,
    matches: pd.DataFrame,
    link_identical: bool,
    conf_identical: float,
    reason_identical: str,
) -> pd.DataFrame:
    """Exact replay of the reference's sorted pair scan (engine.py:251-261)
    from the entity-collapsed inputs of one or more blocks: block members
    (block_key, row_order, base_name) and distinct-base-pair matches
    (match_block_key, base_a, base_b, pair_confidence, pair_reason).

    Equivalence: processing all row pairs sorted by (a, b) is Kruskal over a
    union of group cliques + complete bipartite graphs between matching
    groups. For each vertex a (ascending), the successful unions are one per
    distinct pre-scan component among a's matching neighbors > a, triggered at
    that component's smallest such member; conf[a] takes the max pair
    confidence over those unions and reason[a] the LAST one's reason (b
    ascending) — exactly the reference's update rule. Once a group's minimum
    row has been processed the whole group is a single component (its min
    scanned every member), so later scans resolve it with one find() — the
    fast path that keeps this O(candidates), not O(k^2).

    Groups are keyed by (block_key, base_name), so edges never leave their
    block and components never span blocks: scanning the union of several
    blocks in ascending row_order interleaves independent per-block scans
    and yields exactly the per-block result.
    """
    import bisect
    from collections import defaultdict

    rows = members.sort_values("row_order")
    ids = [int(x) for x in rows["row_order"]]
    group_of = dict(zip(ids, zip(rows["block_key"], rows["base_name"])))
    group_members: dict[tuple[str, str], list[int]] = defaultdict(list)
    for i in ids:
        group_members[group_of[i]].append(i)  # ascending

    neigh: dict[tuple[str, str], list[tuple[tuple[str, str], float, str]]] = (
        defaultdict(list)
    )
    for bk, ba, bb, pc, pr in zip(
        matches["match_block_key"], matches["base_a"], matches["base_b"],
        matches["pair_confidence"], matches["pair_reason"],
    ):
        neigh[(bk, ba)].append(((bk, bb), float(pc), str(pr)))
        neigh[(bk, bb)].append(((bk, ba), float(pc), str(pr)))
    if link_identical:
        for g in group_members:
            neigh[g].append((g, conf_identical, reason_identical))

    parent = {i: i for i in ids}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    conf = {i: CONF_DEFAULT for i in ids}
    reason = {i: REASON_DEFAULT for i in ids}

    for a in ids:
        cands: dict[int, tuple[int, float, str]] = {}
        for hb, pc, pr in neigh.get(group_of[a], ()):
            mem = group_members.get(hb)
            if not mem:
                continue
            pos = bisect.bisect_right(mem, a)
            if pos >= len(mem):
                continue
            if link_identical and mem[0] < a:
                # group already whole: one component, trigger at first member > a
                targets = (mem[pos],)
            else:
                # group not yet internally merged: members may sit in distinct
                # components, scan each (only happens before the group's min)
                targets = mem[pos:]
            for b in targets:
                rb = find(b)
                cur = cands.get(rb)
                if cur is None or b < cur[0]:
                    cands[rb] = (b, pc, pr)
        if not cands:
            continue
        for b, pc, pr in sorted(cands.values()):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
                if pc > conf[a]:
                    conf[a] = pc
                reason[a] = pr

    comp_min: dict[int, int] = {}
    roots = {i: find(i) for i in ids}
    for i in ids:
        r = roots[i]
        if r not in comp_min or i < comp_min[r]:
            comp_min[r] = i
    return pd.DataFrame(
        {
            "row_order": ids,
            "cluster_id": [comp_min[roots[i]] for i in ids],
            "confidence": [conf[i] for i in ids],
            "reason": [reason[i] for i in ids],
        }
    )


def cluster_exact(
    prepared: DataFrame,
    group_matches: DataFrame,
    link_identical: bool = True,
    max_block_rows: int | None = None,
    cc_backend: str = "lp",
) -> DataFrame:
    """C1/C3/C4 via cogrouped replay of the collapsed inputs: the layered
    reference for ``resolve_blocks`` and its mega route.

    Members and matches cogroup on ``pmod(xxhash64(block_key), n)`` with
    ``n`` = ``spark.sql.shuffle.partitions``, so there is one Python call
    per shuffle partition, holding that partition's member and match rows;
    ``_replay_block`` replays every block of the bucket in that call.
    Shuffle volume is O(rows + distinct base pairs) — never the row-pair
    matrix. Empty-base rows stay singletons with the C4 rule.

    ``max_block_rows`` routes blocks with more member rows than the cap to
    the ``cluster_mega_blocks`` fallback instead of the cogroup replay:
    identical partitions, order-independent upper-bound confidences
    (documented divergence). ``None`` (default) keeps every block on the
    exact replay. ``cc_backend`` picks the fallback's component algorithm:
    "lp" (hash-min label propagation, O(diameter) rounds — right for blob
    components) or "star" (large-star/small-star contraction, right for
    chain-heavy graphs); both return identical partitions (pinned in
    tests/test_clustering_equiv.py).
    """
    members = prepared.where(F.col("base_name") != "").select(
        "block_key", "row_order", "base_name"
    )

    mega_labeled = None
    if max_block_rows is not None:
        if not link_identical:
            raise ValueError(
                "max_block_rows requires link_identical semantics: the "
                "mega-block fallback contracts identical-base rows to one "
                "vertex, which is only component-preserving when identical "
                "bases link (1.0 clears the thresholds)"
            )
        # The pathological-key set is tiny by construction (a handful of hot
        # blocks), so it broadcasts; every other block stays on the exact
        # replay path.
        mega_keys = (
            members.groupBy("block_key")
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") > max_block_rows)
            .select("block_key")
        )
        mega_members = members.join(F.broadcast(mega_keys), "block_key", "left_semi")
        mega_matches = group_matches.join(
            F.broadcast(mega_keys), "block_key", "left_semi"
        )
        members = members.join(F.broadcast(mega_keys), "block_key", "left_anti")
        group_matches = group_matches.join(
            F.broadcast(mega_keys), "block_key", "left_anti"
        )
        mega_labeled = cluster_mega_blocks(
            mega_members, mega_matches, CONF_TOKEN_AND_HARD,
            REASON_TOKEN_AND_HARD, backend=cc_backend,
        )

    def run(mem_pdf: pd.DataFrame, match_pdf: pd.DataFrame) -> pd.DataFrame:
        return _replay_block(
            mem_pdf, match_pdf, link_identical,
            CONF_TOKEN_AND_HARD, REASON_TOKEN_AND_HARD,
        )

    # One Python call per shuffle partition, not per block: both sides
    # cogroup on the same hash bucket of block_key and carry block_key, so a
    # call replays every block of its bucket at once. Both frames derive
    # from `prepared`; the match side's key is renamed so the analyzer
    # doesn't flag an ambiguous self-join on the shared attribute.
    n_buckets = int(prepared.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    def bucket(key: str):
        return F.pmod(F.xxhash64(key), F.lit(n_buckets))

    gm = group_matches.withColumnRenamed("block_key", "match_block_key")
    labeled = (
        members.groupBy(bucket("block_key"))
        .cogroup(gm.groupBy(bucket("match_block_key")))
        .applyInPandas(run, schema=_MEMBER_SCHEMA)
    )
    if mega_labeled is not None:
        labeled = labeled.unionByName(mega_labeled)
    labeled = labeled.withColumnsRenamed(
        {"cluster_id": "m_cluster_id", "confidence": "m_confidence", "reason": "m_reason"}
    )
    out = prepared.join(labeled, on="row_order", how="left")
    return (
        out.withColumn("cluster_id", F.coalesce(F.col("m_cluster_id"), F.col("row_order")))
        .withColumn(
            "confidence",
            F.when(F.col("base_name") == "", F.lit(CONF_EMPTY_BASE)).otherwise(
                F.coalesce(F.col("m_confidence"), F.col("confidence"))
            ),
        )
        .withColumn(
            "reason",
            F.when(F.col("base_name") == "", F.lit(REASON_EMPTY_BASE)).otherwise(
                F.coalesce(F.col("m_reason"), F.col("reason"))
            ),
        )
        .drop("m_cluster_id", "m_confidence", "m_reason")
    )


def _resolve_bucket(
    pdf: pd.DataFrame, config: DedupConfig, link_identical: bool
) -> pd.DataFrame:
    """Every block of one bucket: score, replay, elect. Returns the
    ``CLUSTER_COLUMNS`` rows ordered by (cluster_id, row_order)."""
    based = pdf[pdf["base_name"] != ""].sort_values("row_order")
    labels = _replay_block(
        based, block_base_matches(based, config), link_identical,
        CONF_TOKEN_AND_HARD, REASON_TOKEN_AND_HARD,
    )
    # _replay_block returns its rows in row_order, aligned with `based`
    based = based.assign(
        cluster_id=labels["cluster_id"].to_numpy(),
        confidence=labels["confidence"].to_numpy(),
        reason=labels["reason"].to_numpy(),
    )
    # elect_canonical's rule: most frequent base, then the shortest, then
    # the smallest (code-point length and order, as Spark's length and
    # binary string order)
    size: dict[int, int] = {}
    best: dict[int, tuple[int, int, str]] = {}
    for (cid, base), n in Counter(zip(based["cluster_id"], based["base_name"])).items():
        size[cid] = size.get(cid, 0) + n
        key = (-n, len(base), base)
        if cid not in best or key < best[cid]:
            best[cid] = key
    based["cluster_size"] = based["cluster_id"].map(size)
    based["canonical_name"] = based["cluster_id"].map({c: k[2] for c, k in best.items()})
    # C4: empty-base rows stay singletons named by their normalized_name
    empty = pdf[pdf["base_name"] == ""]
    empty = empty.assign(
        cluster_id=empty["row_order"],
        cluster_size=1,
        canonical_name=empty["normalized_name"],
        confidence=CONF_EMPTY_BASE,
        reason=REASON_EMPTY_BASE,
    )
    out = pd.concat([f for f in (based, empty) if len(f)])
    return out.sort_values(["cluster_id", "row_order"])[CLUSTER_COLUMNS]


def resolve_blocks(prepared: DataFrame, config: DedupConfig) -> DataFrame:
    """C1-C6 for every prepared row in one grouped Python pass: the
    ``CLUSTER_COLUMNS`` rows, equal to ``group_pair_matches`` ->
    ``cluster_exact`` -> ``elect_canonical`` (pinned by
    tests/test_clustering_equiv.py).

    Rows group on ``pmod(xxhash64(block_key), n)`` — ``pmod(xxhash64(
    row_order), n)`` for empty bases, so all-empty names spread over the
    buckets — with ``n`` = ``spark.sql.shuffle.partitions``. Each call
    scores its blocks' distinct base pairs, replays them and elects the
    canonical name and cluster size. One block is scored in one task.

    With ``config.mega_block_rows`` set, blocks with more non-empty rows
    than the cap take the layered mega route instead (``cluster_exact``
    routing them to ``cluster_mega_blocks``, then ``elect_canonical``).
    """
    link_identical = (1.0 >= config.soft_threshold) or (1.0 >= config.hard_threshold)
    rest, mega = prepared, None
    if config.mega_block_rows is not None:
        mega_keys = F.broadcast(
            prepared.where(F.col("base_name") != "")
            .groupBy("block_key")
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") > config.mega_block_rows)
            .select("block_key")
        )
        mega_rows = prepared.join(mega_keys, "block_key", "left_semi")
        rest = prepared.join(mega_keys, "block_key", "left_anti")
        mega = elect_canonical(
            cluster_exact(
                mega_rows,
                group_pair_matches(mega_rows, config),
                link_identical=link_identical,
                max_block_rows=config.mega_block_rows,
                cc_backend=config.cc_backend,
            )
        ).select(*CLUSTER_COLUMNS)

    types = {f.name: f.dataType for f in prepared.schema.fields}
    derived = {
        "cluster_id": LongType(),
        "cluster_size": LongType(),
        "canonical_name": StringType(),
        "confidence": DoubleType(),
        "reason": StringType(),
    }
    schema = StructType(
        [StructField(c, derived.get(c) or types[c]) for c in CLUSTER_COLUMNS]
    )
    n_buckets = int(prepared.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    bucket = F.pmod(
        F.when(F.col("base_name") != "", F.xxhash64("block_key")).otherwise(
            F.xxhash64("row_order")
        ),
        F.lit(n_buckets),
    )
    resolved = (
        rest.select(
            "row_order", "original_name", "normalized_name", "base_name",
            "block_key", "token_key",
        )
        .groupBy(bucket)
        .applyInPandas(
            lambda pdf: _resolve_bucket(pdf, config, link_identical), schema=schema
        )
    )
    if mega is not None:
        resolved = resolved.unionByName(mega)
    return resolved


def cluster_components_star(edges: DataFrame, max_iters: int = 60) -> DataFrame:
    """C1 scale backend #2: alternating large-star/small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC
    2014). Returns (row_order, cluster_id) with cluster_id = min(row_order)
    of the connected component — the same contract as
    cluster_label_propagation.

    Why a second backend: hash-min label propagation converges in
    O(component diameter) rounds, which is fine for name-dedup blobs but
    degenerates on CHAIN-shaped near-dup graphs (boilerplate documents A~B,
    B~C, ... — diameter grows with the chain). Star contraction converges
    in O(log^2 n) rounds on ANY topology (O(log n) observed): each large-star round
    hooks every strictly-larger neighbor to its neighborhood minimum, each
    small-star round flattens the partial trees. Per round: two
    groupBy-min shuffles + two distincts — all equi-key, no skew beyond
    the component-min fan-in (same hot key LP has).

    Convergence is checked per round (edge set fixed point) and
    non-convergence within ``max_iters`` fails loudly rather than
    returning a partial labeling. The PROVEN bound for the alternating
    algorithm is O(log^2 n) rounds (Kiveris et al. Thm 2; the O(log n)
    behavior is empirical), so the default is sized generously at 60 —
    convergence stops the loop early, so the extra headroom costs nothing
    on real graphs (the test chains converge in <10 rounds)."""
    # Same single-scan base as cluster_label_propagation: the caller's
    # (possibly expensive, unpersisted) edge pipeline materializes once.
    base = edges.select("row_order_a", "row_order_b").localCheckpoint(
        eager=False
    )
    verts = (
        base.select(F.col("row_order_a").alias("v"))
        .union(base.select(F.col("row_order_b")))
        .distinct()
    )
    e = (
        base.select(
            F.greatest("row_order_a", "row_order_b").alias("u"),
            F.least("row_order_a", "row_order_b").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    converged = False
    for _ in range(max_iters):
        # large-star: center every node; strictly-larger neighbors hook to
        # min(N(u) + {u})
        sym = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        nm = sym.groupBy("u").agg(F.min("v").alias("nmin"))
        ls = (
            sym.join(nm, "u")
            .where(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least(F.col("nmin"), F.col("u")).alias("v"),
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: center the larger endpoint; it and all its smaller
        # neighbors hook to the smallest
        nm2 = ls.groupBy("u").agg(F.min("v").alias("nmin"))
        sm = ls.join(nm2, "u")
        out = (
            sm.select(F.col("v").alias("u"), F.col("nmin").alias("v"))
            .union(sm.select("u", F.col("nmin").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            # non-eager: the convergence action below materializes the
            # checkpoint, so each round launches exactly ONE job (eager
            # checkpoints + a separate count+count+subtract check used to
            # make it four — for the mega-block sizes this backend targets,
            # job-launch overhead per round roughly halved)
            .localCheckpoint(eager=False)
        )
        # Exact set fixed point in a single action: the symmetric
        # difference is empty iff out == e (both sides are canonical
        # u>v distinct edge sets). limit(1) stops at the first witness.
        changed = (
            out.subtract(e).union(e.subtract(out)).limit(1).count()
        )
        e = out
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"star contraction did not converge in {max_iters} rounds"
        )
    star = e.groupBy("u").agg(F.min("v").alias("m"))
    return verts.join(star, verts["v"] == star["u"], "left").select(
        verts["v"].alias("row_order"),
        F.coalesce("m", verts["v"]).alias("cluster_id"),
    )


_CC_SCHEMA = StructType(
    [
        StructField("row_order", LongType()),
        StructField("cluster_id", LongType()),
    ]
)


def _cc_union_find(pdf: pd.DataFrame) -> pd.DataFrame:
    """Plain min-label union-find over one edge frame (no C3 confidence
    replay — this is the id-only contract shared by the LP/star backends)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(pdf["row_order_a"], pdf["row_order_b"]):
        a, b = int(a), int(b)
        for n in (a, b):
            if n not in parent:
                parent[n] = n
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    members = sorted(parent)
    cluster_min: dict[int, int] = {}
    for m in members:
        r = find(m)
        if r not in cluster_min:  # members ascending => first hit is min
            cluster_min[r] = m
    return pd.DataFrame(
        {
            "row_order": members,
            "cluster_id": [cluster_min[find(m)] for m in members],
        }
    )


def cluster_components_auto(
    edges: DataFrame,
    small_max_edges: int = 2_000_000,
    scale_backend: str = "lp",
) -> DataFrame:
    """C1 backend router by graph size — the inverse of the mega-block
    routing above. Returns (row_order, cluster_id = component min), the
    contract shared by cluster_label_propagation / cluster_components_star.

    Why: the iterative backends pay O(rounds) Spark jobs — right when the
    edge list is beyond one task, pure job-launch overhead when it is not.
    Incremental cluster maintenance makes the small case structural, not
    lucky: the contracted delta graph is DELTA-sized by construction
    whatever the corpus size, so at 100 TB the router still sends it down
    the single-task path while corpus-scale graphs route to LP/star. The
    size probe is a bounded ``limit(n+1).count()`` — it never scans more
    than the threshold — and the small path is one ``applyInPandas`` over
    a constant group. Memory honesty at the default cap: the Arrow frame
    is ~32 MB of long pairs, but the Python union-find dicts cost ~10x
    that (~100 B per entry over up to 2x-edges vertices, ~400 MB worst
    case) — fine in a normal multi-GB task budget; size
    ``small_max_edges`` down when executor Python memory is tighter.
    """
    # Checkpoint before probing: the size probe and the routed backend are
    # two consumers of the caller's (possibly expensive, unpersisted) edge
    # pipeline — the shared RDD bounds it to one execution.
    base = edges.select("row_order_a", "row_order_b").localCheckpoint(
        eager=False
    )
    n = base.limit(small_max_edges + 1).count()
    if n == 0:
        return edges.sparkSession.createDataFrame([], _CC_SCHEMA)
    if n <= small_max_edges:
        return (
            base.withColumn("_g", F.lit(0))
            .groupBy("_g")
            .applyInPandas(
                lambda pdf: _cc_union_find(pdf), schema=_CC_SCHEMA
            )
        )
    if scale_backend == "star":
        return cluster_components_star(base)
    return cluster_label_propagation(base)
