"""Distributed graph operators.

``connected_components`` is the general iterative CC for edge relations that
*can* cross any blocking scheme (the scale-out replacement for the
reference's in-memory fixpoint merge, `group_cls.py:94-122`, and for
`link.py:113` drop_duplicates-style dedup). The KG pipeline's
canonicalization doesn't need it (its edges are block-local by
construction, see pipeline.canonicalize); it exists for graphs built from
arbitrary edges — e.g. cross-repo same_as chains or MinHash-LSH candidate
pairs spanning bands.

Algorithm: min-label propagation (a simplified large-star step per
iteration) — converges in O(component diameter) rounds; every round is one
shuffle join + one aggregation. Convergence detection exploits
monotonicity: labels only ever decrease, so an unchanged label multiset
means no node changed. The check is *probabilistic* — count + sum of
64-bit xxhash64 per round — so a hash-sum collision across changed rows
could terminate one round early (probability ~2^-64 per round; replaces a
self-join change count, halving the jobs of the naive loop).
Skew note: a giant component's label traffic is spread by the groupBy hash
shuffle; AQE splits oversized reduce partitions.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..driver import bounded_rows, local_relation


def _symmetrize(edges: DataFrame, drop_self_loops: bool = False) -> DataFrame:
    """Both directions of an edge relation, deduplicated — the shared
    undirected-view preamble (connected_components keeps self-loops,
    which are harmless under min-propagation; label_propagation drops
    them so a node never votes for itself)."""
    sym = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    if drop_self_loops:
        sym = sym.filter(F.col("src") != F.col("dst"))
    return sym.distinct()


def connected_components(nodes: DataFrame, edges: DataFrame,
                         max_iters: int = 25) -> DataFrame:
    """nodes: (node), edges: (src, dst) undirected-as-given (symmetrized
    here). Returns (node, component) with component = min node id in the
    component."""
    from pyspark import StorageLevel

    sym = _symmetrize(edges).persist(StorageLevel.MEMORY_AND_DISK)

    labels = nodes.select(
        F.col("node"), F.col("node").alias("component")
    ).persist(StorageLevel.MEMORY_AND_DISK)

    def _sig(df: DataFrame) -> tuple:
        # labels are monotonically non-increasing under min-propagation, so
        # an unchanged multiset signature (count + 64-bit hash-sum) detects
        # the fixpoint; the check is probabilistic — a sum collision across
        # changed rows (~2^-64/round) would end the loop one round early
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(F.col("node").cast("string"),
                             F.col("component").cast("string"))
                  .cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        return (row["n"], row["s"])

    prev_sig = _sig(labels)
    converged = False
    for i in range(max_iters):
        neighbor = (
            sym.join(labels, sym["dst"] == labels["node"])
            .select(F.col("src").alias("node"), "component")
        )
        new_labels = (
            labels.unionByName(neighbor)
            .groupBy("node").agg(F.min("component").alias("component"))
        )
        # truncate lineage periodically so the nested plan stays shallow
        if (i + 1) % 8 == 0:
            new_labels = new_labels.localCheckpoint()
        else:
            new_labels = new_labels.persist(StorageLevel.MEMORY_AND_DISK)
        sig = _sig(new_labels)  # the round's single materializing job
        old = labels
        labels = new_labels
        old.unpersist()
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    sym.unpersist()
    if not converged:
        # min-propagation is O(component diameter): falling out of the
        # loop mid-propagation would silently UNDER-MERGE (distinct
        # labels inside one component) — fail loudly instead
        labels.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            f"rounds — a component's diameter exceeds the cap; raise "
            f"max_iters or use connected_components_star (O(log n) "
            f"rounds, diameter-independent)")
    # Hand back a non-persisted materialization: localCheckpoint blocks are
    # released by the ContextCleaner once the frame is GC'd, so repeated
    # harness invocations don't accumulate cached label frames (the loop's
    # own persists are already released above).
    out = labels.localCheckpoint(eager=True)
    labels.unpersist()
    return out


def union_find_roots(edges) -> dict:
    """Driver-side union-find over ``(a, b)`` edge pairs: every
    edge-incident node -> its component's minimum node id (a union always
    hangs the larger root under the smaller, so a root is its component's
    minimum). The one in-memory CC core of the driver-sized levels of
    :func:`adaptive_component_mapping` and ``pipeline.canonicalize``."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        for v in (a, b):
            if v not in parent:
                parent[v] = v
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def adaptive_component_mapping(edges: DataFrame,
                               driver_max_edges: int = 200_000) -> DataFrame:
    """(node, component) for every edge-incident node; component = min
    node id. The runtime size-switch shared by the dedup/canonicalize
    family: a single-job ``driver.bounded_rows`` probe of N+1 rows proves
    whether the edge set fits on the driver — if so, those rows + an
    in-memory union-find (:func:`union_find_roots`) replace the whole
    distributed loop (the AQE-broadcast-threshold idea applied to graph
    connectivity), and the mapping goes back as a LocalRelation in the
    edge columns' own type; otherwise the O(log n)-round star CC runs.
    Isolated nodes never appear (callers left-join + coalesce)."""
    from pyspark import StorageLevel

    ep = edges.select("src", "dst")  # probe/scan width: two columns only
    # persist once: the probe, the star path's node derivation and its E
    # materialization otherwise re-run the (possibly expensive — LSH +
    # verify joins at the dedup call site) edge plan up to three times;
    # skip when the caller already persisted the frame
    own_persist = str(edges.storageLevel) == str(StorageLevel.NONE)
    if own_persist:
        ep = ep.persist(StorageLevel.MEMORY_AND_DISK)
    head = bounded_rows(ep, driver_max_edges)
    if len(head) <= driver_max_edges:
        if own_persist:
            ep.unpersist()
        roots = union_find_roots((r.src, r.dst) for r in head)
        return local_relation(edges.sparkSession, list(roots.items()),
                              ("node", "component"),
                              edges.schema["src"].dataType)
    nodes = (ep.select(F.col("src").alias("node"))
             .unionByName(ep.select(F.col("dst").alias("node")))
             .distinct())
    try:
        return connected_components_star(nodes, ep)
    finally:
        if own_persist:
            ep.unpersist()


def connected_components_star(nodes: DataFrame, edges: DataFrame,
                              max_iters: int = 20) -> DataFrame:
    """Alternating large-star/small-star connected components — the
    O(log n)-round algorithm (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14) for graphs whose components may be
    chain-shaped, where min-label propagation's O(diameter) rounds is the
    scale risk. Every round is two groupBy+join passes over the edge
    relation; convergence = stable edge multiset (same probabilistic
    hash-sum check as :func:`connected_components`).

    large-star: every neighbor v > u of node u re-attaches to
    m = min(N(u) + {u}); small-star: every neighbor v <= u (and u itself)
    attaches to m. At the fixpoint the edge set is a star forest mapping
    each node directly to its component minimum. Returns
    (node, component)."""
    from pyspark import StorageLevel

    def _sym(e: DataFrame) -> DataFrame:
        return e.unionByName(
            e.select(F.col("u").alias("v"), F.col("v").alias("u"))
            .select("u", "v")).distinct()

    def _mins(sym: DataFrame) -> DataFrame:
        return (sym.groupBy("u").agg(F.min("v").alias("mn"))
                .select("u", F.least("mn", F.col("u")).alias("m")))

    def _sig(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(F.least("u", "v").cast("string"),
                             F.greatest("u", "v").cast("string"))
                  .cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        return (row["n"], row["s"])

    E = (edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
         .filter(F.col("u") != F.col("v")).distinct()
         .persist(StorageLevel.MEMORY_AND_DISK))
    prev_sig = _sig(E)
    for i in range(max_iters):
        # large-star
        sym = _sym(E)
        m = _mins(sym)
        large = (sym.join(m, "u").filter(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v")))
        hang = (m.filter(F.col("m") != F.col("u"))
                .select("u", F.col("m").alias("v")))
        E1 = large.unionByName(hang).filter(
            F.col("u") != F.col("v")).distinct()
        # small-star
        sym2 = _sym(E1)
        m2 = _mins(sym2)
        small = (sym2.join(m2, "u").filter(F.col("v") <= F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v")))
        hang2 = (m2.filter(F.col("m") != F.col("u"))
                 .select("u", F.col("m").alias("v")))
        E2 = (small.unionByName(hang2).filter(F.col("u") != F.col("v"))
              .distinct())
        # truncate lineage EVERY round: E appears in several subtrees per
        # round, so the logical plan otherwise grows exponentially and
        # blows the driver heap on tree stringification by ~round 10
        E2 = E2.localCheckpoint(eager=True)
        sig = _sig(E2)
        old = E
        E = E2
        old.unpersist()
        if sig == prev_sig:
            break
        prev_sig = sig
    # at the fixpoint each node has exactly one parent (the component min);
    # the min-agg is a cheap guard for max_iters exhaustion mid-converge
    mapping = (E.groupBy(F.col("u").alias("node"))
               .agg(F.min("v").alias("component")))
    labels = (nodes.join(mapping, "node", "left")
              .select("node",
                      F.coalesce("component", "node").alias("component")))
    out = labels.localCheckpoint(eager=True)
    E.unpersist()
    return out


# ---------------------------------------------------------------------------
# query-side graph analytics over the materialized triple tables
# ---------------------------------------------------------------------------
# The reference exposes its KB only through the retrieval API
# (`elastic_retriever.py`); a graph-table layout (write_graph) additionally
# supports the classic KG analytics below. All four are pure DataFrame
# compositions — degree/neighborhood/triangle/centrality queries a KG user
# runs against the (subj, pred, obj) edge relation.


def degrees(edges: DataFrame) -> DataFrame:
    """(node, out_deg, in_deg) for every node incident to an edge.

    Two map-side-combined counts + one outer join on the (small) per-node
    aggregates — the big edge relation is scanned twice but never joined
    against itself. Nodes with no out- (or in-) edges get 0."""
    out_d = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg"))
    in_d = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_deg"))
    return (out_d.join(in_d, "node", "full_outer")
            .select("node",
                    F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
                    F.coalesce("in_deg", F.lit(0)).alias("in_deg")))


def k_hop(edges: DataFrame, seeds: DataFrame, k: int = 2,
          broadcast_frontier: bool = True) -> DataFrame:
    """Distinct nodes reachable from ``seeds`` (column ``node``) in at most
    ``k`` directed hops, seeds included. Frontier-style BFS: each round
    joins the *frontier* (small, seed-anchored) against the edge relation
    — the frontier side is broadcast so the big edge table never shuffles;
    on a cluster the edge relation stays partition-local across all k
    rounds. For frontiers that outgrow the broadcast threshold (hub-dense
    graphs) pass ``broadcast_frontier=False`` and AQE picks the join
    side per round instead of an unconditional (OOM-able) hint.

    One frontier loop serves both traversal contracts: this is
    :func:`bfs_distances` with the layer labels projected away (the
    anti-join pruning there also stops re-expanding already-visited
    nodes, which the old standalone loop paid every round)."""
    return bfs_distances(edges, seeds, max_hops=k,
                         broadcast_frontier=broadcast_frontier,
                         materialize=False).select("node")


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts (node, n_tri) over the
    undirected simple graph induced by ``edges`` — nodes in >= 1 triangle.

    Shape: canonicalize to u < v once, then one wedge self-join + one
    closing-edge semi-equi-join; each triangle (a < b < c) is produced
    exactly once and attributed to its three corners. At scale the wedge
    join is the quadratic risk around high-degree hubs — the standard
    mitigation (orient edges from lower-(degree, id) to higher before the
    wedge join, Suri & Vassilvitskii WWW'11) caps per-node wedge fan-out
    at O(sqrt(|E|)); kept un-oriented here because attribution needs the
    a<b<c form anyway and the oracle contract is the canonical count."""
    und = (edges.select(F.least("src", "dst").alias("u"),
                        F.greatest("src", "dst").alias("v"))
           .filter(F.col("u") != F.col("v")).distinct())
    e1 = und.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = und.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    wedge = e1.join(e2, e1["b"] == e2["b2"]).select("a", "b", "c")
    e3 = und.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = wedge.join(e3, ["a", "c"])
    corners = (tri.select(F.col("a").alias("node"))
               .unionByName(tri.select(F.col("b").alias("node")))
               .unionByName(tri.select(F.col("c").alias("node"))))
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))


def pagerank(edges: DataFrame, iters: int = 5,
             damping: float = 0.5, materialize: bool = True,
             tol: float | None = None,
             dangling: bool = False) -> DataFrame:
    """Fixed-iteration PageRank: (node, pr) over all edge-incident nodes.

    pr_0 = 1.0; pr_{t+1}(n) = (1-d) + d * sum_{m->n} pr_t(m)/out_deg(m)
    (dangling mass dropped by default — the un-normalized
    'personalized-constant' form, so ranks are comparable across
    iterations without a global renormalize job).

    Convergence options (additive; the default contract — and its
    bit-exact DuckDB oracle — is untouched):

    - ``tol``: stop as soon as ``max |pr_{t+1} - pr_t| < tol`` (checked
      with one rank-relation-sized agg per round; ``iters`` becomes the
      round cap). The standard production mode — run to stability
      instead of guessing an iteration count.
    - ``dangling``: redistribute each round's dangling mass (rank held
      by nodes with no out-edges) uniformly — the textbook correction;
      with it, total rank is conserved at exactly |V| in the fixed
      point, which the pytest asserts. Costs one 1-row agg collect plus
      one localCheckpoint per round (the probe must scan a materialized
      round, not re-execute the lineage since the last checkpoint).

    Scale shape: the (src, dst, out_deg) relation is joined on ``src``
    once, persisted in that shuffle layout, and reused every iteration —
    only the (tiny, one-row-per-node) rank relation shuffles per round;
    this is the canonical Spark PageRank partitioning strategy. Lineage is
    truncated with localCheckpoint every 8 rounds (same cadence as
    :func:`connected_components`). With damping 0.5 and power-of-two
    out-degrees every rank is a dyadic rational — exactly representable in
    (and exactly summable over) doubles, which is what lets the DuckDB
    oracle match bit-for-bit."""
    from pyspark import StorageLevel

    nodes = (edges.select(F.col("src").alias("node"))
             .unionByName(edges.select(F.col("dst").alias("node")))
             .distinct().persist(StorageLevel.MEMORY_AND_DISK))
    out_d = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    adj = (edges.join(out_d, "src")
           .select("src", "dst", "out_deg")
           .persist(StorageLevel.MEMORY_AND_DISK))
    n_nodes = nodes.count() if dangling else 0
    # sinks: nodes with no out-edges — their rank is the dangling mass
    sinks = (nodes.join(out_d.select(F.col("src").alias("node")),
                        "node", "left_anti")
             .persist(StorageLevel.MEMORY_AND_DISK)) if dangling else None
    ranks = nodes.select("node", F.lit(1.0).alias("pr"))
    if tol is not None:
        # convergence mode re-reads pr_t for the diff — pin it (each
        # round's new_ranks is checkpointed below, so one initial pin
        # suffices)
        ranks = ranks.localCheckpoint()
    for i in range(iters):
        dm = 0.0
        if dangling:
            row = (ranks.join(sinks, "node", "left_semi")
                   .agg(F.sum("pr")).collect())  # 1-row bounded probe
            dm = float(row[0][0] or 0.0)
        contrib = (
            adj.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("pr") / F.col("out_deg")).alias("s"))
        )
        new_ranks = (
            nodes.join(contrib, "node", "left")
            .select("node",
                    (F.lit(1.0 - damping)
                     + F.lit(damping)
                     * (F.coalesce("s", F.lit(0.0))
                        + F.lit(dm / n_nodes
                                if dangling and n_nodes else 0.0)))
                    .alias("pr"))
        )
        if tol is not None:
            # checkpoint BEFORE the diff probe: the probe then scans the
            # materialized round instead of evaluating the join+agg plan
            # a second time (the checkpoint re-evaluates it otherwise)
            new_ranks = new_ranks.localCheckpoint()
            delta = (new_ranks.withColumnRenamed("pr", "pr_new")
                     .join(ranks, "node")
                     .agg(F.max(F.abs(F.col("pr_new") - F.col("pr"))))
                     .collect())  # 1-row bounded probe
            ranks = new_ranks
            if delta and (delta[0][0] is None or delta[0][0] < tol):
                break
            continue
        ranks = new_ranks
        # dangling mode checkpoints EVERY round: the next round's sink-
        # mass probe collects over ranks, and an uncheckpointed lineage
        # would make that probe re-execute all rounds since the last
        # checkpoint (up to 7 extra join+agg rounds under the default
        # cadence)
        if dangling or (i + 1) % 8 == 0:
            ranks = ranks.localCheckpoint()
    # materialize the result, then release the loop's caches — repeated
    # harness calls must not accumulate cached nodes/adj relations (same
    # discipline as connected_components; review fix).
    # materialize=False keeps the lazy plan (and the caches, which the
    # caller then owns) — used by the plan test that pins the
    # persisted-adjacency reuse the checkpoint would otherwise hide.
    if not materialize:
        return ranks
    out = ranks.localCheckpoint(eager=True)
    adj.unpersist()
    nodes.unpersist()
    if sinks is not None:
        sinks.unpersist()
    return out


def neighbor_jaccard(edges: DataFrame, min_common: int = 1,
                     max_degree: int | None = None,
                     round_to: int = 6) -> DataFrame:
    """Link prediction by neighbor-set Jaccard over the undirected simple
    graph induced by ``edges``: for every pair (node_a < node_b) sharing
    at least ``min_common`` neighbors, ``jac = |N(a) ∩ N(b)| /
    (deg(a) + deg(b) - |N(a) ∩ N(b)|)`` — the classic structural
    similarity score the reference's KG consumers would rank candidate
    entity merges / "related entity" suggestions by (the graph-side
    counterpart of the name-similarity canonicalization in
    `/root/reference/cosmos/retrieval/elastic_retriever.py:227-249`,
    which only ever sees lexical evidence).

    Shape: canonicalize + symmetrize once; common-neighbor counts come
    from the wedge self-join on the shared-neighbor key grouped by the
    endpoint pair (one shuffle on the center node, one on the pair), and
    the denominators join in from the per-node degree aggregate. The
    wedge join is the same quadratic-hub risk ``triangle_counts``
    documents: ``max_degree`` drops hub CENTERS (degree > cap) from the
    wedge — the Suri-Vassilvitskii-style fan-out cap — which at scale
    turns an O(max_deg^2)-per-hub explosion into a bounded one. Hubs
    still count toward their neighbors' degrees (the score stays a
    conservative lower bound for pairs that shared only hub neighbors;
    exact for all others). Pass ``max_degree=None`` for the exact
    contract on graphs with bounded degree."""
    und = (edges.select(F.least("src", "dst").alias("u"),
                        F.greatest("src", "dst").alias("v"))
           .filter(F.col("u") != F.col("v")).distinct())
    sym = (und.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
           .unionByName(
               und.select(F.col("v").alias("node"),
                          F.col("u").alias("nbr"))))
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    centers = sym
    if max_degree is not None:
        # no broadcast hint: the kept-node set is node-count-sized (an
        # unconditional broadcast would OOM on a large graph) — AQE
        # picks the semi-join strategy from measured size
        ok = deg.filter(F.col("deg") <= max_degree).select("node")
        centers = sym.join(ok, "node", "left_semi")
    # wedge through each (non-hub) center: its neighbor pairs a < b
    s1 = centers.select(F.col("node").alias("c"), F.col("nbr").alias("a"))
    s2 = centers.select(F.col("node").alias("c"), F.col("nbr").alias("b"))
    common = (
        s1.join(s2, "c")
        .filter(F.col("a") < F.col("b"))
        .groupBy(F.col("a").alias("node_a"), F.col("b").alias("node_b"))
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= min_common))
    da = deg.select(F.col("node").alias("node_a"),
                    F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("node_b"),
                    F.col("deg").alias("deg_b"))
    return (common.join(da, "node_a").join(db, "node_b")
            .select("node_a", "node_b", "common",
                    F.round(F.col("common").cast("double")
                            / (F.col("deg_a") + F.col("deg_b")
                               - F.col("common")), round_to).alias("jac")))


def label_propagation(edges: DataFrame, rounds: int = 3,
                      materialize: bool = True) -> DataFrame:
    """Synchronous label-propagation community detection -> (node, community).

    The deterministic LPA variant: labels start as the node id; each
    round every node adopts the most frequent label among its
    (undirected) neighbors, ties broken by the SMALLEST label. Raw LPA's
    random tie-break and asynchronous schedule are irreproducible across
    runs and engines, so this contract fixes both: a synchronous round
    schedule (all nodes update from the same previous-round labels) and
    a total (count DESC, label ASC) order. The result is a pure function
    of (edge relation, rounds), which is what lets a SQL oracle replay
    it as ``rounds`` unrolled CTEs.

    Scale shape: the symmetrized edge relation is persisted once and
    reused every round; the only per-round data in motion is the
    one-row-per-node (node, label) relation — one hash join on ``src``,
    one map-side-combinable count on (node, label), and one per-node
    window argmax (partitioned by node, never a global window).
    ``localCheckpoint`` per round truncates the iterative lineage (the
    chained-persist plan-growth trap, NOTES_r3); ``materialize=False``
    skips the checkpoints so tests can inspect the full logical plan
    (same escape hatch as :func:`pagerank`)."""
    from pyspark import StorageLevel
    from pyspark.sql import Window

    und = _symmetrize(edges, drop_self_loops=True)
    if materialize:
        # persist only when we'll also unpersist below: materialize=False
        # callers (plan tests, repeated harness calls) would otherwise
        # accumulate cached relations — the leak the pagerank docstring
        # warns about.
        und = und.persist(StorageLevel.MEMORY_AND_DISK)
    labels = (und.select(F.col("src").alias("node")).distinct()
              .select("node", F.col("node").alias("label")))
    w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("label"))
    for _ in range(rounds):
        msgs = (und.join(labels.withColumnRenamed("node", "src"), "src")
                .groupBy(F.col("dst").alias("node"), "label")
                .agg(F.count(F.lit(1)).alias("c")))
        # eager: materialize before the next round so lineage is truly
        # truncated and the final unpersist can't force a recompute
        labels = (msgs.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") == 1).select("node", "label"))
        if materialize:
            labels = labels.localCheckpoint(eager=True)
    out = labels.select("node", F.col("label").alias("community"))
    if materialize:
        und.unpersist()
    return out


def bfs_distances(edges: DataFrame, seeds: DataFrame, max_hops: int = 3,
                  broadcast_frontier: bool = True,
                  materialize: bool = True) -> DataFrame:
    """Multi-source BFS shortest hop distance: (node, dist) for every
    node reachable from ``seeds`` (column ``node``) in <= ``max_hops``
    directed hops; seeds themselves carry dist 0.

    The distance-labeled sibling of :func:`k_hop`, same frontier
    discipline: per round the (small, seed-anchored) frontier joins the
    edge relation — broadcast so the big edge table never shuffles and
    stays partition-local across all rounds — and newly reached nodes
    (an anti-join against everything already labeled) become the next
    frontier. BFS layering IS shortest-distance on unweighted graphs, so
    no min-aggregation re-visit is ever needed; each node is labeled
    exactly once. ``broadcast_frontier=False`` for hub-dense graphs
    where a frontier can outgrow the broadcast threshold (AQE then picks
    the join side per round); ``materialize=False`` exposes the full
    lineage for plan tests."""
    dist = (seeds.select("node").distinct()
            .select("node", F.lit(0).alias("dist")))
    if materialize:
        dist = dist.localCheckpoint(eager=True)
    frontier = dist
    for h in range(1, max_hops + 1):
        fr = frontier.select(F.col("node").alias("src"))
        if broadcast_frontier:
            fr = F.broadcast(fr)
        nxt = (edges.join(fr, "src")
               .select(F.col("dst").alias("node")).distinct()
               .join(dist, "node", "left_anti")
               .select("node", F.lit(h).alias("dist")))
        if materialize:
            nxt = nxt.localCheckpoint(eager=True)
        dist = dist.unionByName(nxt)
        frontier = nxt
    return dist
