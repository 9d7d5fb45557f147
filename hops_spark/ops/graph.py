"""Distributed connected components — alternating large-star/small-star.

Completes the near-dup story: MinHash/SimHash emit duplicate PAIRS, but a
training-data pipeline needs CLUSTERS (keep one doc per component of the
similarity graph). Transitive closure can't be expressed in one Catalyst
plan, so this is a driver-coordinated iterative DataFrame job — the same
class of computation as ops/similarity.ivf_kmeans_refine.

Algorithm (public: Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC 2014): alternate

  large-star(u): for every node u with neighborhood G(u), connect every
                 neighbor v > u to m = min(G(u) + {u})
  small-star(u): connect every neighbor v < u, and u itself, to
                 m = min of those

until the edge set is a min-rooted star forest: every node is a root
(no parent) or a leaf (one parent, no children). Edges are kept
oriented child -> parent with child > parent, so each star's root is
its component's minimum node id. Converges in O(log n) rounds (vs
O(diameter) for naive label propagation — the difference between 20 and
20,000 rounds on a chain-shaped component), and every round is two
groupBy shuffles over the current edge set.

Scale notes (100 TB):
- State per round is the edge set only, held as per-node parent and
  child lists (2 bigints/edge), never an adjacency matrix; per-group memory is one neighborhood (collect_set),
  which for dedup graphs is bounded by the pair-emitters' bucket caps
  upstream (ops/dedup.py max_bucket).
- Each round checkpoints its adjacency with localCheckpoint(eager):
  lineage would otherwise double per round and the DAG submit itself
  becomes the bottleneck (the standard iterative-algorithm idiom;
  checkpoint files stay in executor storage, no driver collect).
- The star-forest test is a max observed (Dataset.observe) on the
  adjacency while it is checkpointed: no probe job, and no extra round
  to confirm the fixpoint. Round i's checkpoint runs under the job
  description ``connected_components:round<i>``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _adjacency(cur: DataFrame) -> DataFrame:
    """Per node of the oriented edge set ``cur`` (child src > parent
    dst): ``ups`` = its parents, ``downs`` = its children. One explode
    reads ``cur`` once; a union of the two directions would read an
    un-checkpointed lineage twice."""
    both = F.explode(F.array(
        F.struct(F.col("src").alias("node"), F.col("dst").alias("up"),
                 F.lit(None).cast("long").alias("down")),
        F.struct(F.col("dst").alias("node"), F.lit(None).cast("long").alias("up"),
                 F.col("src").alias("down"))))
    return (cur.select(both.alias("e")).select("e.*")
               .groupBy("node")
               .agg(F.collect_set("up").alias("ups"),
                    F.collect_set("down").alias("downs")))


def _large_star(adj: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(G(u) + {u});
    map-only over the adjacency."""
    nbrs = F.array_union("ups", "downs")
    m = F.least(F.col("node"), F.array_min(nbrs))
    bigger = F.filter(nbrs, lambda v: v > F.col("node"))
    return adj.select(F.explode(bigger).alias("src"), m.alias("dst"))


def _small_star(cur: DataFrame) -> DataFrame:
    """Connect every strictly-smaller neighbor of u, and u, to their min.
    ``cur`` is oriented, so u's smaller neighbors are its parents."""
    ups = cur.groupBy("src").agg(F.collect_set("dst").alias("ups"))
    nodes = F.array_union("ups", F.array(F.col("src")))
    return (ups.select(F.explode(nodes).alias("src"),
                       F.array_min("ups").alias("dst"))
               .filter(F.col("src") != F.col("dst")))


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iter: int = 30) -> DataFrame:
    """Labels every node of the undirected graph ``edges`` with its
    component's minimum node id. Returns (node, component) — one row per
    non-isolated node; callers left-join and coalesce to label
    singletons. Raises if the edge set is not a star forest after
    ``max_iter`` alternating rounds (O(log n) expected — 30 covers any
    realistic n).
    """
    a, b = F.col(src).cast("long"), F.col(dst).cast("long")
    cur = (edges.filter(a != b)
                .select(F.greatest(a, b).alias("src"), F.least(a, b).alias("dst")))
    # Stop at the first min-rooted star forest: every node has no
    # parent (a root) or one parent and no children (a leaf). Large-star
    # and small-star keep every node in its component and emit only
    # edges to a strictly smaller node, and a min-rooted star forest is
    # their fixpoint, so its labels are the fixpoint's labels. The test
    # is observed inside the job that checkpoints the round.
    not_star = F.max((F.size("ups") > 1)
                     | ((F.size("ups") == 1) & (F.size("downs") > 0)))
    sc = edges.sparkSession.sparkContext
    caller_desc = sc.getLocalProperty("spark.job.description")
    try:
        for i in range(max_iter + 1):
            obs = Observation()
            sc.setLocalProperty("spark.job.description",
                                f"connected_components:round{i}")
            adj = (_adjacency(cur)
                   .observe(obs, not_star.alias("not_star"))
                   .localCheckpoint(eager=True))
            if not obs.get["not_star"]:
                return adj.select("node", F.coalesce(F.array_min("ups"),
                                                     F.col("node"))
                                           .alias("component"))
            cur = _small_star(_large_star(adj))
    finally:
        sc.setLocalProperty("spark.job.description", caller_desc)
    raise RuntimeError(f"connected_components: no star forest in {max_iter} rounds")


def dedup_cluster_labels(all_ids: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id",
                         pair_a: str = "id_a", pair_b: str = "id_b") -> DataFrame:
    """Cluster assignment + keep decision for every document: component
    min over the near-dup pair graph (singletons are their own cluster),
    ``is_kept`` = doc is its cluster's representative. The canonical
    keep-one-per-cluster policy (deterministic: min id wins)."""
    comp = connected_components(pairs, pair_a, pair_b)
    return (all_ids.join(comp.withColumnRenamed("node", id_col), id_col, "left")
                   .withColumn("cluster_id",
                               F.coalesce("component", F.col(id_col)))
                   .withColumn("is_kept", F.col(id_col) == F.col("cluster_id"))
                   .drop("component"))


def pagerank_int(edges: DataFrame, iters: int = 3,
                 damping_ppm: int = 850_000,
                 src: str = "src", dst: str = "dst") -> DataFrame:
    """Integer-exact PageRank over the directed graph ``edges``
    (duplicate edges are collapsed): returns (node, rank_ppm).

    The iterative-graph-job shape of the reference's chained MapReduce
    drivers (each round = one shuffle-join + one aggregate); cf. the
    connected-components loop above for the lineage discipline.

    Determinism contract: ALL arithmetic is 64-bit integer, so any
    engine reproduces the result bit-for-bit — no float fold-order
    noise. Ranks are parts-per-million of 1.0: R0 = 1_000_000;
    each round   R' = (1_000_000 - d) + d * (Σ_in R_src div outdeg) div 1_000_000
    with d = ``damping_ppm``. Dangling mass is dropped (documented
    simplification; ranks then need no global normalization pass).

    Scale (100 TB graph): edges are checkpointed once and re-joined each
    round on ``src`` — co-partitioned with the rank table, so each of
    the fixed ``iters`` rounds is one hash join + one dst-aggregate
    (map-side combined). Rank state is O(nodes), never O(edges);
    localCheckpoint per round stops lineage growth exactly as in
    connected_components.
    """
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
              .filter(F.col("src") != F.col("dst"))
              .distinct())
    outdeg = e.groupBy("src").agg(F.count("*").alias("deg"))
    ewd = e.join(outdeg, "src").localCheckpoint(eager=True)
    nodes = (e.select(F.col("src").alias("node"))
              .union(e.select(F.col("dst").alias("node")))
              .distinct().localCheckpoint(eager=True))
    base = 1_000_000 - damping_ppm
    ranks = nodes.withColumn("r", F.lit(1_000_000).cast("long"))
    for _ in range(iters):
        inflow = (ewd.join(ranks, ewd.src == ranks.node)
                     .select("dst", F.expr("r div deg").alias("c"))
                     .groupBy("dst").agg(F.sum("c").alias("inflow")))
        # damping product in DECIMAL(38,0): inflow is bounded only by the
        # total rank mass (~ n_nodes * 1e6), so damping_ppm * inflow
        # exceeds int64 around n > 1e7 with a heavy sink and ANSI-off
        # Spark would wrap silently; 38 digits give headroom to n ~ 1e25
        # and floor(x/1e6) == x div 1e6 for the non-negative operands.
        ranks = (nodes.join(inflow, nodes.node == inflow.dst, "left")
                      .select("node",
                              (F.lit(base) + F.expr(
                                  f"CAST(floor(({damping_ppm} * "
                                  "CAST(coalesce(inflow, 0L) AS DECIMAL(38,0)))"
                                  " / 1000000) AS BIGINT)"))
                              .cast("long").alias("r"))
                      .localCheckpoint(eager=True))
    return ranks.select("node", F.col("r").alias("rank_ppm"))


def triangle_rows(edges: DataFrame, src: str = "src",
                  dst: str = "dst") -> DataFrame:
    """All triangles (u, v, w) of an undirected simple graph, each
    emitted EXACTLY once, via degree-oriented wedge closure (the
    'forward' algorithm, Schank & Wagner 2005): orient every edge from
    its lower-(degree, id) endpoint to the higher, enumerate wedges
    u->v, u->w with (deg_v, v) < (deg_w, w), and close them against
    the oriented edge v->w.

    Why this shape at 100 TB: naive three-way edge self-join touches
    every wedge of every hub (sum deg^2 — quadratic in hub degree);
    orientation caps every out-degree at O(sqrt(m)), so wedge count is
    O(m^1.5) worst case — the optimal bound — and all three steps are
    ordinary keyed equi-joins Catalyst plans with AQE skew handling.
    Input edges must be distinct undirected pairs (src < dst)."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    deg = (e.select(F.col("u").alias("n"))
            .unionAll(e.select(F.col("v").alias("n")))
            .groupBy("n").agg(F.count("*").alias("d")))
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    ed = e.join(du, "u").join(dv, "v")
    fwd = F.col("du") < F.col("dv")
    tie = (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    o = ed.select(
        F.when(fwd | tie, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(fwd | tie, F.col("du")).otherwise(F.col("dv")).alias("ds"),
        F.when(fwd | tie, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(fwd | tie, F.col("dv")).otherwise(F.col("du")).alias("dt"))
    o1 = o.select(F.col("s"), F.col("t").alias("x"),
                  F.col("dt").alias("dx"))
    o2 = o.select(F.col("s"), F.col("t").alias("y"),
                  F.col("dt").alias("dy"))
    wedges = (o1.join(o2, "s")
                .filter((F.col("dx") < F.col("dy"))
                        | ((F.col("dx") == F.col("dy"))
                           & (F.col("x") < F.col("y")))))
    closer = o.select(F.col("s").alias("x"), F.col("t").alias("y"))
    return (wedges.join(closer, ["x", "y"])
                  .select(F.col("s").alias("u"), F.col("x").alias("v"),
                          F.col("y").alias("w")))


def kcore(edges: DataFrame, k: int, src: str = "src", dst: str = "dst",
          max_iter: int = 50) -> DataFrame:
    """The k-core of the undirected simple graph ``edges`` (Seidman
    1983; the Batagelj–Zaveršnik peeling made distributed): iteratively
    delete every node of degree < k until none remains. Returns
    (node, core_deg) — each surviving node with its degree INSIDE the
    core (>= k by definition; empty frame if the graph has no k-core).

    Community-pruning primitive for co-occurrence / similarity graphs:
    the k-core keeps exactly the subgraph where every member retains k
    neighbors after all weakly-attached nodes are gone. Each round is
    one degree aggregate + one semi-join (both keyed, map-side
    combined) and the edge set only SHRINKS; rounds are bounded by the
    degeneracy ordering depth (log-ish in practice, ``max_iter`` is a
    fixpoint guard not a budget). Same driver-loop-with-localCheckpoint
    shape as connected_components — the accepted pattern for iterative
    fixpoint algorithms (SURVEY §2 iterative class).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    cur = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
                .filter(F.col("src") != F.col("dst"))
                .distinct()
                .localCheckpoint(eager=True))
    for _ in range(max_iter):
        deg = (cur.select(F.col("src").alias("n"))
                  .unionAll(cur.select(F.col("dst").alias("n")))
                  .groupBy("n").agg(F.count("*").alias("d")))
        keep = deg.filter(F.col("d") >= k).select("n")
        n_edges = cur.count()
        nxt = (cur.join(keep.withColumnRenamed("n", "src"), "src", "left_semi")
                  .join(keep.withColumnRenamed("n", "dst"), "dst", "left_semi")
                  .localCheckpoint(eager=True))
        if nxt.count() == n_edges:
            cur = nxt
            break
        cur = nxt
    else:
        raise RuntimeError(f"kcore: no fixpoint in {max_iter} rounds")
    return (cur.select(F.col("src").alias("node"))
               .unionAll(cur.select(F.col("dst").alias("node")))
               .groupBy("node").agg(F.count("*").alias("core_deg")))


def label_propagation_sync(edges: DataFrame, iters: int = 3,
                           src: str = "src", dst: str = "dst") -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007, made
    deterministic): every node starts as its own label; each round,
    each node adopts the label MOST FREQUENT among its neighbors AND
    itself (the self-vote is the synchronous-schedule oscillation
    guard: a bare pair under pure neighbor voting swaps labels every
    round forever — Raghavan et al. §3 flag exactly this bipartite
    oscillation; with the self-vote a pair resolves to the smaller
    label in one round and stays), ties to the smallest label — the (count desc, label asc) argmax is a
    struct-min of (-count, label), so an independent engine replays
    every round bit-for-bit (the unigram struct-min discipline; the
    classic LPA breaks ties randomly, which can never hash-match).
    Edges are symmetrized and deduped; isolated nodes keep their own
    label. Returns (node, label) after ``iters`` synchronous rounds.

    The iterative-graph-job shape of connected_components/pagerank_int:
    per round one co-partitioned join edges⋈labels + one (node, label)
    count aggregate (map-side combined) + one struct-min argmax per
    node; label state is O(nodes), lineage cut per round with an eager
    localCheckpoint. Fixed ``iters`` (no convergence test) keeps the
    plan depth bounded and the oracle unrollable."""
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
              .filter(F.col("src") != F.col("dst")))
    sym = (e.union(e.select(F.col("dst").alias("src"),
                            F.col("src").alias("dst")))
            .distinct())
    nodes = sym.select(F.col("src").alias("node")).distinct() \
               .localCheckpoint(eager=True)
    # self-loops carry the self-vote through the same join+count path
    symx = sym.union(nodes.select(F.col("node").alias("src"),
                                  F.col("node").alias("dst"))) \
              .localCheckpoint(eager=True)
    labels = nodes.withColumn("lbl", F.col("node"))
    for _ in range(iters):
        cnt = (symx.join(labels, symx.src == labels.node)
                   .groupBy(F.col("dst").alias("nd"), "lbl")
                  .agg(F.count("*").cast("long").alias("c")))
        pick = (cnt.groupBy("nd")
                   .agg(F.min(F.struct((-F.col("c")).alias("nc"),
                                       F.col("lbl").alias("lbl")))
                         .alias("m"))
                   .select(F.col("nd").alias("node"),
                           F.col("m.lbl").alias("new_lbl")))
        labels = (labels.join(pick, "node", "left")
                        .select("node",
                                F.coalesce("new_lbl", "lbl").alias("lbl"))
                        .localCheckpoint(eager=True))
    return labels.select("node", F.col("lbl").alias("label"))


def bfs_distances(edges: DataFrame, seeds: DataFrame, iters: int = 3,
                  src: str = "src", dst: str = "dst") -> DataFrame:
    """Multi-source BFS hop distances over the undirected graph, fixed
    synchronous rounds (the Pregel frontier relaxation as DataFrame
    ops): seeds start at distance 0; each round every reached node
    relaxes its neighbors to min(current, mine + 1). Returns
    (node, dist) for nodes REACHED within ``iters`` hops — unreached
    nodes are absent by contract (the frontier semantics; more rounds
    = more reach), which keeps state O(reached), never O(graph).

    Same shape as label_propagation_sync/pagerank_int: per round one
    co-partitioned join dist⋈edges + one keyed min aggregate
    (map-side combined), lineage cut with an eager localCheckpoint.
    Fixed ``iters`` keeps the plan depth bounded and the oracle
    unrollable round-for-round. Determinism is free: min over longs
    has no tie to break."""
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
              .filter(F.col("src") != F.col("dst")))
    sym = (e.union(e.select(F.col("dst").alias("src"),
                            F.col("src").alias("dst")))
            .distinct()
            .localCheckpoint(eager=True))
    seed_col = seeds.columns[0]
    dist = (seeds.select(F.col(seed_col).alias("node")).distinct()
                 .withColumn("dist", F.lit(0).cast("long")))
    for _ in range(iters):
        prop = (sym.join(dist, sym["src"] == dist["node"])
                   .select(F.col("dst").alias("node"),
                           (F.col("dist") + 1).cast("long").alias("dist")))
        dist = (dist.unionByName(prop)
                    .groupBy("node")
                    .agg(F.min("dist").cast("long").alias("dist"))
                    .localCheckpoint(eager=True))
    return dist
