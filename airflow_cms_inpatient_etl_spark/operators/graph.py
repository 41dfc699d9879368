"""Graph operators for dedup pipelines: connected components over near-dup
pair graphs (pairs → clusters is the step every dedup pipeline needs between
pair generation and representative selection).

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) — each round is two
join+aggregate passes over the edge set, and the edge set converges to a
forest of stars rooted at each component's minimum node id in O(log n)
rounds REGARDLESS of graph diameter.  Naive min-label propagation (this
module's round-1 implementation) needs diameter rounds, which a long
path-shaped near-dup chain turns into ~n rounds at corpus scale; the star
steps collapse such chains exponentially instead.  The driver only
coordinates rounds and checks convergence (a count), which is how iterative
algorithms legitimately use the driver (same shape as GraphX/Pregel
supersteps).

Scale notes: every round is shuffle-bounded by the current edge count, and
the edge count only shrinks (stars dedupe parallel edges).  ``localCheckpoint``
truncates plan lineage every round (on a real cluster, use a reliable
``checkpoint`` dir so executor loss cannot lose the only copy).  ``max_iters``
defaults to a bound derived from the node count (~2·log₂(n) + slack), so
legal-but-adversarial inputs degrade gracefully instead of aborting a fixed
50-round budget.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """For every node u: attach each strictly-larger neighbor to
    min(N(u) ∪ {u}).  Keeps components intact, halves long tails."""
    nbrs = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = nbrs.groupBy("src").agg(F.least(F.min("dst"), F.col("src")).alias("mn"))
    return (
        nbrs.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Direct every edge toward its larger endpoint; for every node u attach
    u and all smaller neighbors to min(N(u) ∪ {u})."""
    directed = (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return _small_star_directed(directed)


def _cc_round(edges: DataFrame) -> DataFrame:
    """One composed large-star + small-star round (optimization round 15,
    guide §2.4) — identical output to ``_small_star(_large_star(edges))``
    with two redundant exchanges removed:

    * small-star's orientation normalize + distinct is skipped: every
      large-star row already satisfies ``src > dst`` (it emits
      (dst_old, mn) with mn <= src_old < dst_old);
    * large-star's own trailing ``distinct`` is skipped: the duplicates it
      would remove are dup-insensitive downstream — small-star's
      ``groupBy(src).min(dst)`` ignores multiplicity, and its join output
      passes through the final ``distinct`` — and partial (map-side)
      aggregation collapses the duplicates before every exchange, so no
      shuffle carries them either.

    Three exchanges per round (two min-aggregates + the final distinct)
    instead of five."""
    nbrs = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = nbrs.groupBy("src").agg(F.least(F.min("dst"), F.col("src")).alias("mn"))
    large = (
        nbrs.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
    )
    return _small_star_directed(large)


def _small_star_directed(directed: DataFrame) -> DataFrame:
    """Shared small-star tail over an already (src > dst)-oriented edge list;
    duplicates are allowed (``_cc_round`` feeds a non-distinct list — the
    min-aggregates and the trailing ``distinct`` collapse them)."""
    mins = directed.groupBy("src").agg(F.least(F.min("dst"), F.col("src")).alias("mn"))
    joined = directed.join(mins, "src")
    out = joined.select(F.col("dst").alias("src"), F.col("mn").alias("dst")).union(
        mins.select(F.col("src"), F.col("mn").alias("dst"))
    )
    return out.filter(F.col("src") != F.col("dst")).distinct()


def _snapshot_tracked(
    df: DataFrame, checkpoint_dir: str | None
) -> tuple[DataFrame, frozenset[int]]:
    """Truncate plan lineage between iterations; returns the snapshot plus
    the ids of the persistent RDDs it pinned.

    ``checkpoint_dir=None`` → registry-tracked eager ``localCheckpoint``:
    blocks live in executor storage — fast, but an executor loss loses the
    only copy and the truncated lineage cannot recompute it (fine on
    local[], unsafe for long-running cluster jobs).  Snapshots that outlive
    the operator (the final round backing the returned result) are freed by
    the caller's ``release_snapshots``; iterative operators pass the ids to
    ``release_snapshots(spark, ids=...)`` to free round N-1's blocks the
    moment round N is materialized, so live executor storage stays O(one
    round's state) however many rounds run.  That free is DESTRUCTIVE (no
    lineage to recompute from), so it runs only after the next round's
    eager snapshot has consumed the old one.

    With a directory → reliable ``checkpoint`` (empty id set): blocks are
    written to the fault-tolerant filesystem, surviving executor loss and
    any cache eviction — the mode a 100 TB cluster run should use.  The
    caller sets the context's checkpoint dir once up front.
    """
    if checkpoint_dir is not None:
        return df.checkpoint(eager=True), frozenset()
    # lazy import: operators stay importable without the sources package
    # (operators/text.py convention)
    from airflow_cms_inpatient_etl_spark.sources.registry import (
        tracked_localcheckpoint,
    )

    return tracked_localcheckpoint(df, eager=True)


def connected_components(
    pairs: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    max_iters: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Label every node of the undirected pair graph with the minimum node id
    of its connected component.  Returns (node, label) — deterministic: min
    over a component does not depend on iteration or partition order.

    ``max_iters`` defaults to ``2·ceil(log₂(n_nodes)) + 8`` — the star steps'
    proven round bound with slack; hitting it means the input violates the
    algorithm's contract, so it raises rather than return wrong labels.

    ``checkpoint_dir`` switches per-round lineage truncation from
    ``localCheckpoint`` (executor-loss-unsafe) to reliable ``checkpoint``
    into that directory — see ``_snapshot_tracked``.
    """
    labels, _ = connected_components_with_rounds(
        pairs, id1, id2, max_iters, checkpoint_dir
    )
    return labels


def connected_components_with_rounds(
    pairs: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    max_iters: int | None = None,
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, int]:
    """``connected_components`` plus the number of large+small-star rounds it
    took — exposed so tests can assert the O(log n) convergence property."""
    from airflow_cms_inpatient_etl_spark.sources.registry import release_snapshots

    spark = pairs.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
    e = pairs.select(F.col(id1).alias("src"), F.col(id2).alias("dst"))
    # every local snapshot is registry-tracked inside _snapshot_tracked, so
    # the ones that outlive this function (the node set and the final edge
    # round backing the returned labels) are freed by the caller's
    # release_snapshots
    #
    # The input pair list is snapshotted ONCE before the node-set and
    # edge-set derivations (optimization round 15, guide §1/§2): both are
    # eager materializations, and deriving them straight from ``pairs``
    # re-ran the caller's (often expensive — LSH/posting-list) pair
    # generation twice.  The base snapshot is freed as soon as both
    # consumers are materialized.
    base, base_ids = _snapshot_tracked(e, checkpoint_dir)
    nodes, _ = _snapshot_tracked(
        base.select("src")
        .union(base.select(F.col("dst").alias("src")))
        .distinct()
        .withColumnRenamed("src", "node"),
        checkpoint_dir,
    )
    edges, prev_ids = _snapshot_tracked(
        base.filter(F.col("src") != F.col("dst")).distinct(), checkpoint_dir
    )
    release_snapshots(spark, ids=base_ids)
    if max_iters is None:
        n_nodes = max(nodes.count(), 2)
        max_iters = 2 * math.ceil(math.log2(n_nodes)) + 8
    rounds = 0
    # one count job up front doubles as the emptiness check; each round then
    # reuses the PREVIOUS round's count instead of re-counting its snapshot
    # (optimization round 15 — one fewer job per round, same comparisons)
    n_edges = edges.count()
    converged = n_edges == 0
    # prev_ids = the previous round's blocks (initially the input snapshot),
    # freed only after the round that consumed them is materialized + compared
    while not converged and rounds < max_iters:
        new_edges, new_ids = _snapshot_tracked(_cc_round(edges), checkpoint_dir)
        rounds += 1
        # both steps strictly decrease the paper's potential on any change, so
        # an unchanged edge set after a full round means a fixed point (stars)
        n_new = new_edges.count()
        converged = n_new == n_edges and new_edges.exceptAll(edges).isEmpty()
        release_snapshots(spark, ids=prev_ids)  # round r-1 dead once r exists + compared
        edges, prev_ids, n_edges = new_edges, new_ids, n_new
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            f"(~2·log2(n)+8 expected); input edge list is likely unstable"
        )
    # at the fixed point every edge is (node, component_min); component roots
    # and isolated nodes carry no outgoing edge and label themselves
    labels = (
        nodes.join(edges.withColumnRenamed("src", "node"), "node", "left")
        .select("node", F.coalesce(F.col("dst"), F.col("node")).alias("label"))
    )
    return labels, rounds


def pagerank_integer(
    edges: DataFrame,
    nodes: DataFrame,
    n_iter: int = 6,
    scale: int = 10**12,
    damping_pct: int = 85,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Weighted PageRank with INTEGER arithmetic — bit-reproducible across
    engines, partitionings, and runs.

    Ranks are carried as BIGINT in units of ``1/scale``; every step is
    integer multiply/divide (``div``), so there is no floating-point
    accumulation order to disagree about — the property that lets an
    iterative algorithm be value-checked against an independent SQL oracle,
    and that makes reruns of a 1000-executor job byte-identical.  Per
    iteration: contribution(u→v) = (rank_u * w_uv) div out_wsum_u;
    rank'(v) = ((100-d)·(scale div N)) div 100 + (d·Σ contrib) div 100.
    Dangling-node mass is dropped (the "sink drop" PageRank variant) —
    identically on both sides.  Truncation bias is ≤ outdeg ulps of 1e-12
    per node per round: irrelevant for ranking, priceless for determinism.

    Spark shape: the out-degree-joined edges, the nodes, the seeds and the
    teleport table — each read by every iteration — are materialized once
    as registry-tracked snapshots (``sources.registry.snapshot``; the
    caller's ``release_snapshots`` frees them once the result is consumed),
    and the n_iter recurrence stays ONE lazy unrolled plan: no per-round
    job overhead, each iteration one shuffle (the groupBy on dst), AQE
    plans the chain end-to-end.  The budgets here are small and fixed; a
    deep budget would want per-round lineage truncation like
    ``connected_components``.

    ``edges``: (src, dst, w) BIGINT columns.  ``nodes``: (node,) — must
    cover every src/dst.  Returns (node, rank) with SUM(rank) <= scale.

    Scale contract: ``rank * w`` is BIGINT and rank can reach ``scale``,
    so edge weights must satisfy ``max(w) < 2^63 / scale`` (~9.2e6 at the
    default scale=1e12) or the multiply overflows — and Spark WRAPS int64
    silently in non-ANSI mode while DuckDB errors, so an overflow diverges
    from the oracle without failing loudly.  Deep-scale callers with heavy
    weights (raw event counts at 100 TB volumes) should pick a smaller
    ``scale`` or pre-normalize w; enable spark.sql.ansi.enabled to turn a
    violation into a hard error.

    ``seeds`` switches to PERSONALIZED PageRank: initial mass and the
    teleport term concentrate on the seed node set (scale div n_seeds
    each; zero elsewhere), so ranks measure proximity to the seeds — the
    "similar pages / related users" primitive.  Same integer exactness.
    """
    from airflow_cms_inpatient_etl_spark.sources.registry import snapshot

    outd = edges.groupBy("src").agg(F.sum("w").alias("wsum"))
    edges = snapshot(edges.join(outd, "src"))
    nodes = snapshot(nodes)
    # ONE driver-side scalar: the node count is a model parameter, the same
    # legitimate driver coordination connected_components uses for its
    # convergence check — it folds the teleport term into integer literals
    # so each iteration is exactly join + groupBy + left-join.
    if seeds is None:
        n_tele = nodes.count()
    else:
        seeds = snapshot(seeds.select("node").distinct())
        n_tele = seeds.count()
    if n_tele == 0:
        raise ValueError(
            "pagerank_integer: empty "
            + ("nodes" if seeds is None else "seeds")
            + " DataFrame — teleport mass has no destination"
        )
    init = scale // n_tele
    base = (100 - damping_pct) * init // 100
    if seeds is None:
        teleport = nodes.select("node", F.lit(base).alias("tele"))
        ranks = nodes.select("node", F.lit(init).alias("rank"))
    else:
        flag = seeds.withColumn("__s", F.lit(1))
        teleport = nodes.join(flag, "node", "left").select(
            "node", F.when(F.col("__s").isNotNull(), base).otherwise(0).alias("tele")
        )
        ranks = nodes.join(flag, "node", "left").select(
            "node", F.when(F.col("__s").isNotNull(), init).otherwise(0).alias("rank")
        )
    teleport = snapshot(teleport)
    # Teleport leg folded into the per-iteration aggregate (optimization
    # round 15, guide §2.4): instead of LEFT-JOINing the node-sized teleport
    # table onto the contribution aggregate every iteration (a SortMergeJoin
    # whose teleport side was re-exchanged per round), union one zero-
    # contribution row per node INTO the groupBy.  sum(c) over the union
    # equals the old coalesce(inbound, 0) (the zero leg adds 0), and sum(t)
    # equals tele (exactly one zero-leg row per node carries it) — integer-
    # exact, bit-identical, and each iteration is now ONE exchange (the
    # groupBy on dst) instead of exchange + sort + SMJ.  Contract note: the
    # union emits exactly the node set (edges' dst values are required to be
    # covered by ``nodes``, as documented above).
    zero_leg = teleport.select(
        F.col("node").alias("dst"),
        F.lit(0).cast("long").alias("c"),
        F.col("tele").cast("long").alias("t"),
    )
    for _ in range(n_iter):
        contrib = edges.join(ranks.withColumnRenamed("node", "src"), "src").select(
            "dst",
            F.expr("rank * w div wsum").alias("c"),
            F.lit(0).cast("long").alias("t"),
        )
        ranks = (
            contrib.union(zero_leg)
            .groupBy("dst")
            .agg(F.sum("c").alias("inbound"), F.sum("t").alias("tele"))
            .select(
                F.col("dst").alias("node"),
                (F.col("tele") + F.expr(f"{damping_pct} * inbound div 100")).alias("rank"),
            )
        )
    return ranks


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    a: str = "a",
    b: str = "b",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Rounds-bounded k-core peel over an undirected simple edge list.

    Classic iterative peeling (Seidman 1983; the MapReduce formulation is
    one degree-count + one filter per round): start with every endpoint
    alive; each round recomputes each alive node's degree over edges whose
    BOTH endpoints are alive and drops nodes with degree < ``k``.  After
    ``rounds`` rounds, returns every original node with
    (node, in_core boolean, core_deg BIGINT) — core_deg is the node's
    degree within the surviving set (0 for peeled nodes).

    SEMANTICS ARE ROUNDS-BOUNDED by design: the output is the state after
    exactly ``rounds`` peels, which equals the true k-core whenever the
    peel has reached its fixpoint (the sf0.01 fixture converges in 5 rounds
    at k=4; the differential test asserts the fixpoint so the registry row
    really is the k-core).

    Iteration shape: the live node set is LINEAGE-SNAPSHOTTED each round
    (``_snapshot_tracked`` — localCheckpoint, or reliable ``checkpoint``
    when ``checkpoint_dir`` is given, the 100 TB mode shared with
    connected_components).  Each round consumes the previous set twice (one
    alive-filter per endpoint), so a merely-persisted recurrence would
    re-ANALYZE a logical plan that doubles per round — measured 1 s/round
    degrading to 13 s by round 6 at sf0.01 before truncation; constant
    ~1 s/round after.  The snapshot is a bare node-id list, the smallest
    possible per-round state.  All arithmetic is integer (degrees), so the
    result is bit-exact against an independently unrolled SQL oracle.  Per
    round: two shuffle-bounded semi joins + one groupBy — cost proportional
    to the CURRENT edge set, which only shrinks as nodes peel.
    """
    from airflow_cms_inpatient_etl_spark.sources.registry import release_snapshots

    spark = edges.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
    und = (
        edges.select(F.col(a).alias("s"), F.col(b).alias("t"))
        .filter(F.col("s") != F.col("t"))
        .distinct()
    )
    adj, _ = _snapshot_tracked(
        und.union(und.select(F.col("t").alias("s"), F.col("s").alias("t"))),
        checkpoint_dir,
    )
    nodes, _ = _snapshot_tracked(
        adj.select(F.col("s").alias("node")).distinct(), checkpoint_dir
    )

    def _deg(alive: DataFrame) -> DataFrame:
        return (
            adj.join(alive.withColumnRenamed("node", "s"), "s", "semi")
            .join(alive.withColumnRenamed("node", "t"), "t", "semi")
            .groupBy("s")
            .agg(F.count(F.lit(1)).alias("deg"))
        )

    alive = nodes
    prev_ids: frozenset[int] = frozenset()  # never nodes' own blocks — output needs them
    for _ in range(rounds):
        alive, new_ids = _snapshot_tracked(
            _deg(alive).filter(F.col("deg") >= k).select(F.col("s").alias("node")),
            checkpoint_dir,
        )
        release_snapshots(spark, ids=prev_ids)  # round r-1's alive set dead once r exists
        prev_ids = new_ids
    final_deg = _deg(alive)
    return (
        nodes.join(alive.withColumn("__in", F.lit(True)), "node", "left")
        .join(final_deg.withColumnRenamed("s", "node"), "node", "left")
        .select(
            "node",
            F.coalesce(F.col("__in"), F.lit(False)).alias("in_core"),
            F.coalesce(F.col("deg"), F.lit(0).cast("bigint")).alias("core_deg"),
        )
    )


def ancestor_closure(
    parents: DataFrame,
    node: str = "node",
    parent: str = "parent",
    max_depth: int | None = None,
    checkpoint_dir: str | None = None,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """Transitive ancestor closure of a forest: every (node, anc) pair where
    ``anc`` lies on the node's path to its root, INCLUDING (node, node) —
    the relation a recursive CTE builds, which Spark SQL has no native verb
    for.  Input is the parent-pointer table (roots simply have no row).

    Algorithm: POINTER DOUBLING, not level-by-level walking.  Round i holds
    cl = all ancestors within distance < 2^i and J = the ancestor at exactly
    2^i; one round computes cl ∪ (J ⋈ cl) and J ⋈ J, reaching depth d in
    ceil(log2(d)) rounds instead of d — the difference between 14 rounds
    and 4 on a million-node hierarchy, and the same reason the
    connected-components operator uses star contraction instead of label
    propagation.  ``max_depth`` bounds the doubling budget (derive it from
    domain knowledge, e.g. floor(log2(max key)) for a heap-shaped tree);
    when None, one aggregate measures the longest parent chain ceiling via
    node count (a forest path cannot exceed |nodes|).  Per round: two
    key-equality joins, each lineage-snapshotted with round r-1's blocks
    freed once round r materializes (the bounded-storage contract shared
    with connected_components / kcore_peel).  Output size is
    Σ depth(node) — the same relation the CTE materializes; downstream
    rollups aggregate it without ever holding more.

    ``nodes`` (single-column) names the node universe explicitly; without
    it the universe is inferred from the parent table, which silently
    misses ISOLATED nodes (a root with no children and no parent row never
    appears in ``parents`` at all) — pass it whenever the hierarchy can
    have singletons.
    """
    from airflow_cms_inpatient_etl_spark.sources.registry import release_snapshots

    spark = parents.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
    p = parents.select(F.col(node).alias("d"), F.col(parent).alias("a"))
    if max_depth is None:
        max_depth = max(p.count(), 1)
    rounds = max(1, math.ceil(math.log2(max(max_depth, 2))))
    if nodes is None:
        universe = p.select("d").union(p.select(F.col("a").alias("d"))).distinct()
    else:
        universe = nodes.select(F.col(nodes.columns[0]).alias("d")).distinct()
    cl, cl_ids = _snapshot_tracked(
        universe.select("d", F.col("d").alias("a")).union(p), checkpoint_dir
    )
    jmp, jmp_ids = _snapshot_tracked(p, checkpoint_dir)
    for _ in range(rounds):
        hop = jmp.select(F.col("d").alias("__d"), F.col("a").alias("__m"))
        new_cl, new_cl_ids = _snapshot_tracked(
            cl.union(
                hop.join(cl, hop["__m"] == cl["d"]).select(
                    F.col("__d").alias("d"), "a"
                )
            ).distinct(),
            checkpoint_dir,
        )
        jmp2 = jmp.select(F.col("d").alias("__d"), F.col("a").alias("__m"))
        new_jmp, new_jmp_ids = _snapshot_tracked(
            jmp2.join(jmp, jmp2["__m"] == jmp["d"]).select(
                F.col("__d").alias("d"), "a"
            ),
            checkpoint_dir,
        )
        release_snapshots(spark, ids=cl_ids | jmp_ids)
        cl, cl_ids = new_cl, new_cl_ids
        jmp, jmp_ids = new_jmp, new_jmp_ids
        if jmp.isEmpty():  # every pointer has sailed past its root: converged
            break
    return cl.select(F.col("d").alias(node), F.col("a").alias("anc"))


def label_propagation(
    edges: DataFrame,
    nodes: DataFrame,
    n_iter: int = 3,
) -> DataFrame:
    """Synchronous weighted label propagation (community detection): every
    node starts in its own community; each round every node adopts the label
    with the largest total incident edge weight among its neighbors'
    PREVIOUS-round labels, ties broken toward the SMALLEST label.  Synchronous
    updates + integer weights + a total tie order make the whole iteration
    bit-deterministic — the property that lets a community-detection
    algorithm be value-checked against an unrolled SQL oracle (asynchronous
    LPA, the textbook default, is order-dependent and unverifiable).

    ``edges``: (src, dst, w) DIRECTED pairs — symmetrized here (self-loops
    dropped, parallel edges' weights summed) so communities are undirected.
    ``nodes`` must cover every endpoint; isolated nodes keep their own label.

    Scale shape: per round, one equi-join of the edge list against the
    node-sized label table, a (dst, label) partial-aggregate, and an argmax
    per node via max(struct(wsum, -label)) that folds map-side — two
    key-bounded exchanges per round, no driver participation.  The fixed
    small budget stays ONE unrolled lazy plan with nothing materialized (no
    storage pins)."""
    sym = edges.filter(F.col("src") != F.col("dst"))
    uedges = (
        sym.select("src", "dst", "w")
        .union(sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(n_iter):
        scores = (
            uedges.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy("dst", "label")
            .agg(F.sum("w").alias("wsum"))
        )
        best = scores.groupBy("dst").agg(
            F.max(F.struct(F.col("wsum"), (-F.col("label")).alias("neg"))).alias("m")
        )
        labels = (
            nodes.join(best.withColumnRenamed("dst", "node"), "node", "left")
            .join(labels.withColumnRenamed("label", "prev"), "node")
            .select(
                "node",
                F.coalesce((-F.col("m.neg")).cast("long"), F.col("prev")).alias("label"),
            )
        )
    return labels
