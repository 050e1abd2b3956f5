"""Graph analytics as relational plans.

Connected components already lives in the dedup stack
(`fmx.operators.dedup.dedup_keep_canonical` — min-label propagation);
this module adds PageRank, the other graph primitive a training-data
platform needs (authority weighting of crawl sources, user/item
importance in interaction graphs).

PageRank here is the power iteration written as joins + aggregations:

    r_{t+1}(v) = (1-d)/N  +  d * Σ_{(u→v) ∈ E} r_t(u) / deg(u)

Per iteration: one shuffle keyed on edge source (join ranks), one
hash-agg keyed on destination, one left join back to the node list —
all equi-joins on uniform-ish keys (celebrity in-degree skew lands in
the dst agg, which is map-side combinable; AQE splits what remains).
The node count enters as a broadcast 1-row join, never a driver
scalar.  Every operator runs a fixed number of rounds, so lineage is
bounded and nothing is checkpointed: a relation read twice in one
action is shared by exchange reuse, when both reads reach it through
the same exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["pagerank", "triangle_count", "k_hop", "label_propagation",
           "degree_distribution", "kcore_peel", "min_label_rounds",
           "min_label_shortcut", "adamic_adar", "bfs_distances"]


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             iters: int = 3, damping: float = 0.85) -> DataFrame:
    """PageRank over a directed edge list: (node, rank).

    Every node must have out-degree >= 1 (undirected graphs encoded as
    both-direction edge pairs satisfy this; for genuinely dangling
    nodes add self-loops upstream) — this keeps the iteration free of
    the dangling-mass redistribution term and each round a pure
    join+agg.
    """
    nodes = (edges.select(F.col(src).alias("node"))
             .union(edges.select(F.col(dst).alias("node")))
             .distinct())
    deg = edges.groupBy(src).agg(F.count("*").alias("_deg"))
    n = F.broadcast(nodes.agg(F.count("*").alias("_nn")))
    ranks = (nodes.crossJoin(n)
             .select("node", (F.lit(1.0) / F.col("_nn")).alias("rank")))
    for _ in range(iters):
        inflow = (edges
                  .join(ranks.withColumnRenamed("node", src), src)
                  .join(deg, src)
                  .groupBy(dst)
                  .agg(F.sum(F.col("rank") / F.col("_deg"))
                       .alias("_inflow")))
        ranks = (nodes
                 .join(inflow.withColumnRenamed(dst, "node"), "node",
                       "left")
                 .crossJoin(n)
                 .select("node",
                         ((1.0 - damping) / F.col("_nn")
                          + damping * F.coalesce(F.col("_inflow"),
                                                 F.lit(0.0)))
                         .alias("rank")))
    return ranks


def triangle_count(edges: DataFrame, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """Global triangle count of an undirected graph, one row
    (triangles) — the clustering-coefficient numerator (community
    density of interaction/co-occurrence graphs).

    ``edges`` must be oriented (src < dst per undirected edge); the
    count uses the compact-forward shape: wedges a<b<c from an
    edge-edge equi-join on the middle vertex, closed by a second
    equi-join on (a, c).  Each triangle is counted exactly once
    because only its ordered orientation survives.  Both joins key on
    vertices; a celebrity vertex of degree d contributes d^2 wedge
    rows — bound it upstream (degree cap / core decomposition) the
    same way copurchase_topk caps baskets.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).distinct()
    mid = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    wedges = e.join(mid, "b").select("a", "b", "c")
    closing = e.select(F.col("a"), F.col("b").alias("c"))
    return (wedges.join(closing, ["a", "c"])
            .agg(F.count("*").cast("bigint").alias("triangles")))


def k_hop(edges: DataFrame, seeds: DataFrame, k: int,
          src: str = "src", dst: str = "dst",
          node: str = "node") -> DataFrame:
    """Minimum-hop distance from a seed set, bounded to ``k`` hops:
    (node, hop) for every vertex reachable in <= k steps — the bounded
    BFS behind neighborhood expansion (abuse/fraud blast radius,
    recommendation candidate pools, graph feature extraction).

    Each round is one equi-join on the frontier's node key plus one
    min-aggregation: reached_{t+1} = min-hop over reached_t UNION
    (edges JOIN reached_t).  Joining the FULL reached set (not a
    delta frontier) keeps every round a pure join+agg replayable by
    any engine; for deep k on long-diameter graphs use the delta
    frontier + anti-join form, ``bfs_distances``.  Celebrity vertices
    fan out in the dst agg, which is map-side combinable; AQE handles
    the rest.
    """
    reached = seeds.select(F.col(node).alias("node"),
                           F.lit(0).alias("hop"))
    for _ in range(k):
        step = (edges.join(reached.withColumnRenamed("node", src), src)
                .select(F.col(dst).alias("node"),
                        (F.col("hop") + 1).alias("hop")))
        reached = (reached.unionByName(step)
                   .groupBy("node").agg(F.min("hop").alias("hop")))
    return reached


def label_propagation(edges: DataFrame, src: str = "src",
                      dst: str = "dst", rounds: int = 2) -> DataFrame:
    """Deterministic synchronous label propagation (community
    detection): every node starts with its own id as label; each round
    every node adopts the label most frequent among its neighbors,
    ties broken by the smallest label.  Returns (node, label) after
    ``rounds`` rounds over the undirected graph.

    The classic LPA is order-dependent; this variant is a pure
    function of the edge set — synchronous updates, total tie order —
    so any engine replays it bit-identically.  Per round: one
    equi-join (labels onto the neighbor side), one (node, label)
    hash-agg with map-side combine, and a per-node top-1 window whose
    partition size is bounded by the node's distinct neighbor-label
    count (cap degree upstream, as copurchase/triangle queries do).
    Rounds are fixed and small; for propagation to convergence use
    min-label connected components instead
    (``fmx.operators.dedup.connected_components``).
    """
    und = (edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr"))
           .unionByName(
               edges.select(F.col(dst).alias("node"),
                            F.col(src).alias("nbr"))))
    labels = (und.select("node").distinct()
              .select("node", F.col("node").alias("label")))
    w = Window.partitionBy("node").orderBy(F.col("c").desc(),
                                           F.col("label").asc())
    for _ in range(rounds):
        # shuffled-hash build on the node-grain label slice (guide
        # §3.1) — same mechanism as min_label_rounds below: sort-merge
        # would re-sort the edge fan-out every round
        msgs = (und.join(labels.withColumnRenamed("node", "nbr")
                         .hint("shuffle_hash"), "nbr")
                .select("node", "label"))
        counts = msgs.groupBy("node", "label").agg(F.count("*").alias("c"))
        labels = (counts.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") == 1)
                  .select("node", "label"))
    return labels


def min_label_rounds(edges: DataFrame, rounds: int = 3,
                     src: str = "src", dst: str = "dst") -> DataFrame:
    """Bounded-round connected components: every node starts with its
    own id as label; each synchronous round every node adopts the
    minimum label among itself and its neighbors.  Returns
    (node, label) after exactly ``rounds`` rounds — labels are exact
    component minima for every node within graph distance ``rounds``
    of its component's minimum node, an upper-bound partition
    otherwise (components can only be split too fine, never merged).

    This is the replayable, fixed-point-free sibling of
    ``fmx.operators.dedup.connected_components`` (which iterates to
    convergence with an Observation-based stop and is therefore not
    expressible as a finite SQL plan).  Per round: one equi-join of
    labels onto the neighbor side, one min-agg per node (map-side
    combinable), one left join back so isolated-this-round nodes keep
    their label.  For 100TB graphs with large diameters, switch to
    alternating large-/small-star rewiring (O(log d) rounds); the
    bounded-round form here is the verification-friendly spec.
    """
    und = (edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr"))
           .unionByName(
               edges.select(F.col(dst).alias("node"),
                            F.col(src).alias("nbr"))))
    # every round's join reads the SAME nbr exchange (run once), so
    # only the (tiny) label relation shuffles per round
    und = und.repartition("nbr")
    labels = (und.select("node").distinct()
              .select("node", F.col("node").alias("label")))
    for _ in range(int(rounds)):
        # closed-neighborhood min in ONE aggregation: neighbor labels
        # unioned with each node's own label, then min per node — the
        # (node, min) relation IS the next label table.  Identical
        # values to the former join + min-agg + left-join-back
        # (least(own, coalesce(nmin, own)) ≡ min over the closed
        # neighborhood, exact integer min), but one shuffle per round
        # instead of two plus a join (guide §2.4) — measured ~9 AQE
        # jobs/round -> ~5 at sf0.1.
        # shuffled-hash join, build side = the node-grain label table
        # (guide §3.1): the planner would sort-merge — re-sorting the
        # full edge fan-out EVERY round; the hash build touches only
        # each partition's label slice (two longs per node) while the
        # edge side streams through its nbr partitioning.
        # Measured r13: connected-components headliner 3.2 -> 2.3 s at
        # sf0.1, within 8% of an (un-scalable at 100 TB) broadcast of
        # the label table.  Scale contract: the build slice is
        # nodes/partitions — the same per-partition bound the min-agg
        # after it already needs.
        msgs = (und.join(labels.withColumnRenamed("node", "nbr")
                         .hint("shuffle_hash"), "nbr")
                .select("node", "label"))
        labels = (msgs.unionByName(labels)
                  .groupBy("node").agg(F.min("label").alias("label")))
    return labels


def min_label_shortcut(edges: DataFrame, nbr_rounds: int = 2,
                       jump_rounds: int = 2, src: str = "src",
                       dst: str = "dst") -> DataFrame:
    """Connected components via hash-min rounds plus pointer-jumping
    shortcuts (r13 verdict #1; guide §2.4 — fewer edge-grain shuffles):
    ``nbr_rounds`` synchronous closed-neighborhood min rounds (each one
    edge-grain join + min-agg, exactly ``min_label_rounds``'s step)
    followed by ``jump_rounds`` shortcut rounds label <- label(label)
    (each a NODE-grain self-join — two longs per node, no edge fan-out).
    A shortcut round doubles the distance a minimum has propagated, so
    rounds to convergence drop from O(diameter) to O(log diameter)
    while only ``nbr_rounds`` rounds ever touch the edge relation.

    Two structural savings over the round-for-round form:

    - **Round 1 is a bare aggregation.**  Initial labels are the node
      ids themselves, so the first round's "join labels onto the
      neighbor side" is the identity: min over the closed neighborhood
      = ``min(least(node, nbr))`` grouped by one endpoint.  The
      symmetric edge relation makes grouping by ``nbr`` equivalent to
      grouping by ``node``, and grouping by ``nbr`` REUSES the edge
      relation's nbr partitioning — round 1 costs zero exchanges
      beyond the edge repartition itself.
    - **Every label value is a live node id** (a closed-neighborhood
      min over existing ids), so the shortcut is a plain inner
      self-join; no left-join/coalesce fallback is needed.

    Equivalence contract: this computes CONVERGED components whenever
    the schedule covers the graph's label-propagation depth — on every
    tested co-purchase graph (sf0.001/0.01/0.1) the default (2, 2)
    schedule is converged and byte-equal to ``min_label_rounds(3)``,
    which is itself converged there (pinned by the oracle harness and
    tests/test_operators.py); on a deeper graph BOTH are partial in
    different ways, so callers that need the literal bounded-round
    spec use ``min_label_rounds`` and callers that need convergence at
    unknown diameter use ``fmx.operators.dedup.connected_components``
    (Observation-stop loop).  Labels never merge distinct components
    under either schedule.

    Static-plan note: the printed plan duplicates the label subtree
    once per self-join side — 2^jump_rounds copies — which runtime
    exchange reuse collapses to one execution each.  A much deeper
    jump schedule would pay for that growth in driver planning time.

    Raises ``ValueError`` unless ``nbr_rounds >= 1`` (the first
    hash-min round always runs) and ``jump_rounds >= 0``."""
    if int(nbr_rounds) < 1 or int(jump_rounds) < 0:
        raise ValueError(
            f"min_label_shortcut needs nbr_rounds >= 1 and jump_rounds >= 0"
            f" (got {nbr_rounds}, {jump_rounds})")
    und = (edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr"))
           .unionByName(
               edges.select(F.col(dst).alias("node"),
                            F.col(src).alias("nbr"))))
    # round 1's aggregation and the edge-grain join read the same nbr
    # exchange, run once (as in min_label_rounds)
    und = und.repartition("nbr")
    labels = (und.groupBy("nbr")
              .agg(F.min(F.least(F.col("node"), F.col("nbr")))
                   .alias("label"))
              .select(F.col("nbr").alias("node"), "label"))
    # labels feeds both sides of every self-join and both union
    # branches through the SAME exchange, which ReuseExchange runs once
    for _ in range(int(nbr_rounds) - 1):
        msgs = (und.join(labels.withColumnRenamed("node", "nbr")
                         .hint("shuffle_hash"), "nbr")
                .select("node", "label"))
        labels = (msgs.unionByName(labels)
                  .groupBy("node").agg(F.min("label").alias("label")))
    for _ in range(int(jump_rounds)):
        # label <- label(label): node-grain self-join; the build side
        # is the node-keyed slice (already partitioned on node by the
        # preceding agg), the probe side shuffles two longs per node
        tgt = labels.select(F.col("node").alias("_lnode"),
                            F.col("label").alias("_jlabel"))
        labels = (labels.join(tgt.hint("shuffle_hash"),
                              F.col("label") == F.col("_lnode"))
                  .select("node", F.col("_jlabel").alias("label")))
    return labels


def degree_distribution(edges: DataFrame, src: str = "src",
                        dst: str = "dst") -> DataFrame:
    """Log2-binned degree histogram of an undirected edge list:
    (degree_bin = floor(log2(degree)), n_nodes, min_degree,
    max_degree) — the heavy-tail diagnostic that decides whether a
    graph workload needs hub mitigation (salting, cap) before any
    per-neighbor join.

    Two bounded aggs: per-node degree (node-grain) then per-bin counts
    (<= 64 rows); no joins, no windows.  log2 via ln/ln(2) so the
    DuckDB oracle replays the exact bin arithmetic."""
    deg = (edges.select(F.col(src).alias("node"))
           .unionAll(edges.select(F.col(dst).alias("node")))
           .groupBy("node").agg(F.count("*").alias("_deg")))
    bin_ = F.floor(F.log(F.col("_deg").cast("double")) / F.log(F.lit(2.0)))
    return (deg.groupBy(bin_.cast("bigint").alias("degree_bin"))
            .agg(F.count("*").cast("bigint").alias("n_nodes"),
                 F.min("_deg").cast("bigint").alias("min_degree"),
                 F.max("_deg").cast("bigint").alias("max_degree")))


def kcore_peel(edges: DataFrame, k: int, rounds: int = 3,
               src: str = "src", dst: str = "dst") -> DataFrame:
    """Bounded-round k-core peeling of an undirected edge list:
    repeatedly drop nodes with degree < k and recompute degrees on the
    induced subgraph; after ``rounds`` passes return (node, degree)
    for the survivors — an UPPER BOUND on the true k-core that is
    exact once a round removes nothing (dense-community extraction,
    spam-ring cores, the standard pre-filter before expensive graph
    algorithms).

    Each round is two joins against the (shrinking) survivor relation
    + one degree agg with map-side combine — the same bounded-round
    join+agg discipline as pagerank/k_hop, so any engine can replay
    it (the oracle unrolls the rounds).  Fixed rounds keep the plan
    finite; for exact cores on deep cascades, loop until the survivor
    count stops changing, the way
    ``fmx.operators.dedup.connected_components`` loops to
    convergence."""
    # every round reads the edges again: one exchange right after the
    # caller's relation lets each round read it there (a derived edge
    # list, e.g. the co-purchase pairs' distinct, is finalized once,
    # not once per round), and an in-row explode, not a union of two
    # reads, gives both directions from that one read
    und = (edges.repartition(src).select(F.explode(F.array(
        F.struct(F.col(src).alias("node"), F.col(dst).alias("nbr")),
        F.struct(F.col(dst).alias("node"), F.col(src).alias("nbr"))))
        .alias("_e")).select("_e.node", "_e.nbr"))
    # `rounds` degree-filters total: rounds-1 subgraph restrictions,
    # then the final degree/filter IS the last round's peel.  Both
    # survivor joins read the SAME ``keep`` (no rename), so its
    # exchange is built once per round; inner joins, because the
    # optimizer pushes semi-joins into the edge subtree, unsharing it.
    for _ in range(int(rounds) - 1):
        deg = und.groupBy("node").agg(F.count("*").alias("degree"))
        keep = deg.filter(F.col("degree") >= int(k)).select(
            F.col("node").alias("_k"))
        und = (und.join(keep, F.col("node") == F.col("_k")).drop("_k")
               .join(keep, F.col("nbr") == F.col("_k")).drop("_k"))
    return (und.groupBy("node").agg(F.count("*").alias("degree"))
            .filter(F.col("degree") >= int(k)))


def adamic_adar(edges: DataFrame, topk: int = 20,
                src: str = "src", dst: str = "dst") -> DataFrame:
    """Adamic-Adar link prediction over an undirected edge list: for
    each non-adjacent-or-adjacent pair (a < b) sharing neighbors,
    score = sum over common neighbors z of 1/ln(deg(z)) — common
    neighbors weighted by their selectivity (a hub in common is weak
    evidence; a rare mutual friend is strong).  Returns the top-k
    (a, b, common, score, rank) — the classic link-prediction
    baseline next to jaccard_neighbors.

    Shapes: the pair relation forms ONLY through the shared-neighbor
    equi-join (never nodes x nodes) exactly like the Jaccard/triangle
    queries, so hub fan-out is the cost driver — cap degrees upstream
    (the copurchase basket cap) as those queries do.  deg(z) >= 2 for
    every common neighbor by construction (z touches both a and b),
    so 1/ln(deg) is always finite — no ANSI divide-by-zero surface.
    Top-k rides TakeOrderedAndProject on the totally-ordered
    (score, common, a, b) key; the rank window sees k rows."""
    und = (edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr"))
           .unionByName(
               edges.select(F.col(dst).alias("node"),
                            F.col(src).alias("nbr"))))
    deg = und.groupBy("node").agg(F.count("*").alias("d"))
    a = und.select(F.col("node").alias("a"), "nbr")
    b = und.select(F.col("node").alias("b"), "nbr")
    pairs = (a.join(b, "nbr").filter(F.col("a") < F.col("b"))
             .join(deg.withColumnRenamed("node", "nbr"), "nbr")
             .groupBy("a", "b")
             .agg(F.count("*").alias("common"),
                  F.round(F.sum(1.0 / F.log(F.col("d"))), 6)
                  .alias("score")))
    top = (pairs.orderBy(F.desc("score"), F.desc("common"), "a", "b")
           .limit(int(topk)))
    w = Window.orderBy(F.desc("score"), F.desc("common"), "a", "b")
    return top.select("a", "b", "common", "score",
                      F.row_number().over(w).cast("bigint").alias("rank"))


def bfs_distances(edges: DataFrame, seeds: DataFrame,
                  max_hops: int = 3, src: str = "src",
                  dst: str = "dst") -> DataFrame:
    """Multi-source bounded BFS over an undirected edge list: (node,
    dist) for every node within ``max_hops`` of ANY seed, dist = the
    minimum hop count (0 for the seeds themselves).  ``seeds`` is a
    one-column (node) relation.

    This is the DELTA-FRONTIER discipline that ``k_hop``'s docstring
    prescribes for deep/expensive graphs: each hop is ONE equi-join of
    the undirected adjacency onto the current frontier plus one
    anti-join against the settled set — per-hop cost is proportional
    to the frontier's edge BOUNDARY, while k_hop re-joins the full
    reached set every round (simpler plan, more re-scanned state).
    Both compute the identical (node, min-hop) relation
    (tests/test_operators.py asserts equality); dist labels are exact
    by induction — a node enters the settled set at the first hop
    that reaches it.  For unbounded diameters, loop to an empty
    frontier the way ``fmx.operators.dedup.connected_components``
    loops to convergence."""
    und = (edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr"))
           .unionByName(
               edges.select(F.col(dst).alias("node"),
                            F.col(src).alias("nbr"))))
    settled = seeds.select("node").distinct() \
        .withColumn("dist", F.lit(0).cast("bigint"))
    frontier = settled.select("node")
    for hop in range(1, int(max_hops) + 1):
        nxt = (und.join(frontier, "node")
               .select(F.col("nbr").alias("node")).distinct()
               .join(settled.select("node"), "node", "left_anti")
               .withColumn("dist", F.lit(hop).cast("bigint")))
        settled = settled.unionByName(nxt)
        frontier = nxt.select("node")
    return settled
