"""Connected components over near-duplicate pairs: the step that turns
pairwise dedup candidates into DEDUP GROUPS (keep one doc per
component, drop the rest).

Iterative min-label propagation on DataFrames: every node starts as its
own component; each round a node adopts the minimum label among itself
and its neighbors; converged when no label changes.  Rounds are
distributed joins (one shuffle each); the driver only checks the
converged counter.  Rounds needed = graph diameter — for near-dup
graphs that is tiny (dup clusters are cliques or short chains).

At 100 TB: each iteration's labels are localCheckpoint-ed so the
logical plan stays O(1)-deep (labels feeds the next round's plan twice,
so un-truncated lineage doubles per round).  A graph whose diameter
outruns the round budget (a long chain) is not returned half-labelled:
``connected_components`` then hands the pairs to
``connected_components_star`` — alternating large-star/small-star
contraction, O(log n) rounds.  Propagation stays the first choice
because near-dup graphs converge in a few cheap rounds, where star
contraction pays a checksum job and two joins per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def connected_components_star(pairs: DataFrame,
                              src: str = "id_a", dst: str = "id_b",
                              max_iter: int = 50) -> DataFrame:
    """(node, component) via alternating large-star / small-star
    contraction — the O(log n)-round algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", 2014) that replaces
    plain min-label propagation when the pair graph has long chains
    (diameter-many rounds would be unacceptable at corpus scale).

    Per round (all pure DataFrame ops, one shuffle per star step):

    - large-star: for each node u over BOTH edge directions, with
      m = min(N(u) ∪ {u}): re-point every strictly larger neighbor at
      m — emits (v, m) for v > u.
    - small-star: edges canonicalized as (larger, smaller); for each
      larger endpoint u with m = min of its smaller neighbors:
      emit (v, m) for every smaller neighbor and (u, m).

    Convergence = the canonical edge set is unchanged (count +
    order-insensitive xxhash64 checksum, one cheap action per round).
    At the fixed point edges form stars rooted at component minima.

    Each round's edge set is ``localCheckpoint``-ed: iterative plans
    grow a nested lineage that Catalyst re-analyzes every round and
    eventually overflows the JVM stack — checkpointing truncates the
    plan to a leaf.  On a cluster, swap for ``checkpoint()`` with a
    reliable checkpoint dir if executor loss must not force a restart.

    Raises ``RuntimeError`` if ``max_iter`` rounds end without a fixed
    point: the labels would not be components.
    """
    # nodes come from the UNFILTERED pairs: a node appearing only in
    # self-pairs (id_a == id_b) must still emerge as its own singleton
    # component, matching connected_components' contract (ADVICE r2).
    raw = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    nodes = (raw.select(F.col("u").alias("node"))
             .unionAll(raw.select(F.col("v").alias("node"))).distinct())
    e = raw.filter(F.col("u") != F.col("v")).distinct()

    def _canon(edges: DataFrame) -> DataFrame:
        # store as (big, small); self-loops carry no information
        return (edges
                .select(F.greatest("u", "v").alias("u"),
                        F.least("u", "v").alias("v"))
                .filter(F.col("u") != F.col("v"))
                .distinct())

    def _checksum(edges: DataFrame) -> tuple:
        # bit_xor: order-insensitive and overflow-free (ANSI-safe)
        row = edges.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h")).collect()[0]
        return row.n, row.h

    def _large_star(edges: DataFrame) -> DataFrame:
        nbr = edges.unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (nbr.groupBy("u").agg(F.min("v").alias("_minv"))
             .select("u", F.least("_minv", F.col("u")).alias("m")))
        return (nbr.join(m, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v")))

    def _small_star(edges: DataFrame) -> DataFrame:
        c = _canon(edges)  # u > v everywhere
        m = c.groupBy("u").agg(F.min("v").alias("m"))
        repointed = (c.join(m, "u")
                     .select(F.col("v").alias("u"), F.col("m").alias("v")))
        to_root = m.select(F.col("u"), F.col("m").alias("v"))
        return repointed.unionAll(to_root)

    # lazy checkpoints: the per-round checksum action materializes the
    # checkpoint blocks and computes the digest in ONE job (see the
    # matching note in connected_components).
    edges = _canon(e).localCheckpoint(eager=False)
    prev_sum = _checksum(edges)
    for _ in range(max_iter):
        edges = _canon(_small_star(_large_star(edges))).localCheckpoint(
            eager=False)
        cur_sum = _checksum(edges)
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"connected_components_star: no fixed point after "
            f"{max_iter} rounds")
    # fixed point: every non-root points directly at its component min
    parent = (edges.groupBy(F.col("u").alias("node"))
              .agg(F.min("v").alias("comp")))
    return (nodes.join(parent, "node", "left")
            .select("node", F.coalesce("comp", F.col("node")).alias("comp")))


def connected_components(pairs: DataFrame,
                         src: str = "id_a", dst: str = "id_b",
                         max_iter: int = 20,
                         pairs_canonical: bool = False) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``;
    component = minimum node id reachable through the pair graph.

    ``pairs_canonical=True`` declares that the input pair relation is
    already DISTINCT and carries each undirected edge in exactly one
    orientation (e.g. a groupBy(id_a, id_b) output with id_a < id_b) —
    then the symmetric union below cannot produce duplicates and the
    ``distinct()`` exchange is skipped (r17, guide §2.4 "a distinct on
    data that is already unique").  The flag is a pure plan-shape hint:
    min-label propagation is insensitive to duplicate edges (min over
    duplicates == min), so even a wrong hint cannot change the result,
    only the size of the persisted edge relation.

    If labels still change after ``max_iter`` rounds (graph diameter
    beyond the budget), the result comes from
    ``connected_components_star`` instead: propagation's labels at
    that point are not components."""
    # hash-partition the cached edges by the per-round join key: the
    # cached partitioning satisfies the join's distribution requirement,
    # so every iteration shuffles only the (much smaller) labels side —
    # one extra exchange now buys one fewer exchange of the full edge
    # relation per round.
    #
    # symmetrization via ONE explode, not unionAll of two selects
    # (r18, guide §2.4): the union referenced ``pairs`` twice, and for
    # an unmaterialized pair relation (the LSH pipeline's verified
    # pairs) the WHOLE upstream subtree executed once per union side;
    # the explode reads it once and emits both orientations from each
    # row — identical multiset, half the evaluations.
    sym = (pairs.select(F.explode(F.array(
               F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
               F.struct(F.col(dst).alias("u"), F.col(src).alias("v"))))
           .alias("_e"))
           .select(F.col("_e.u").alias("u"), F.col("_e.v").alias("v")))
    if not pairs_canonical:
        sym = sym.distinct()
    edges = sym.repartition("v").persist()
    # round-0 fusion: with every label initially = its node id, the
    # first round's neighbor-min is just min over neighbor IDS — one
    # aggregate on the symmetric edge relation, no join, no checkpoint.
    # Seeding labels with least(node, min(neighbors)) is therefore the
    # state AFTER round 1 at the cost of round 0's aggregate alone:
    # one fewer full join+checkpoint+count pass over the edges both
    # here and at corpus scale.  Grouped on the V side (r18): the
    # edges are hash-partitioned by v, so groupBy(v) reuses that
    # exchange outright — with symmetric edges, min(u) over v == n is
    # exactly min-neighbor of n (and every node appears as a v), and
    # the label relation comes out partitioned by node, which is the
    # distribution both the per-round join and the label-update join
    # want.  groupBy(u) computed the same thing through one more
    # full-width exchange.
    labels = (edges.groupBy(F.col("v").alias("node"))
              .agg(F.min("u").alias("_nmin"))
              .select("node",
                      F.least(F.col("node"), F.col("_nmin")).alias("comp")))
    from pyspark.sql import Observation

    n_changed = 1   # the fused round 0 is not checked for convergence
    for it in range(max_iter):
        # candidate label per node: min over neighbors' current labels
        neighbor_min = (
            edges.join(labels, edges.v == labels.node)
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("comp").alias("nmin")))
        # labels feeds the plan twice per round, so without truncation
        # the logical plan DOUBLES every iteration; localCheckpoint cuts
        # the lineage to a leaf.  ONE action per round (r18, VERDICT
        # item 4): the convergence signal rides the CHECKPOINT action
        # as an observed metric — Dataset.localCheckpoint(eager=True)
        # runs through withAction, so Observation fires on the same
        # job that materializes the blocks.  The previous shape (lazy
        # checkpoint + filter(changed).count()) paid a second
        # 2-stage aggregate query per round purely to read one number
        # the materialization pass had already seen.
        obs = Observation(f"cc_round_{it}")
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select("node",
                    F.least(F.col("comp"),
                            F.coalesce("nmin", F.col("comp")))
                     .alias("comp"),
                    (F.col("nmin") < F.col("comp")).alias("changed"))
            .observe(obs, F.sum(F.col("changed").cast("long"))
                     .alias("n_changed"))
        ).localCheckpoint(eager=True)
        n_changed = obs.get["n_changed"] or 0
        labels = new_labels.drop("changed")
        if n_changed == 0:
            break
    edges.unpersist()
    if n_changed:
        return connected_components_star(pairs, src, dst)
    return labels


#: PageRank fixed-point scale: total mass = PR_UNIT, all arithmetic in
#: LONG floor-division — bitwise deterministic on any engine, any
#: partitioning, any fold order (the kmeans round-6 discipline taken
#: to its integer limit, because rank sums over hub in-degrees would
#: outgrow a float quantum at scale).
PR_UNIT = 1_000_000_000_000
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100   # d = 0.85 as a ratio


def pagerank_fixed(nodes: DataFrame, edges: DataFrame, n_iter: int = 3,
                   node_col: str = "node") -> DataFrame:
    """Deterministic fixed-point PageRank over a directed edge
    relation (src, dst): ``n_iter`` power iterations of

        pr'(v) = (1-d)*U/n  +  d * (sum_in contrib(u->v) + dang/n)

    with U = PR_UNIT, contrib(u->v) = pr(u) div outdeg(u), dang = the
    summed mass of dangling (no-out-edge) nodes, and EVERY division a
    LONG floor division — the whole iteration is integer arithmetic,
    so the result is an exact function of the graph (cross-engine,
    order-independent).  Returns (node, pr_fix) with pr_fix the final
    fixed-point mass.

    Scale shape per iteration: one join of the score relation to the
    (n*k-row) edge relation on src + one hash aggregate on dst (both
    partial-combining), a 1-row dangling aggregate broadcast back, and
    an eager k-row... rather n-row localCheckpoint keeping the
    iterative lineage O(1)-deep (the components/kmeans lesson).  No
    driver-side data at any point."""
    e = edges.select(F.col("src"), F.col("dst"))
    outd = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    nn = nodes.select(F.col(node_col).alias("node"))
    n1 = nn.agg(F.count(F.lit(1)).alias("n"))

    pr = (nn.crossJoin(F.broadcast(n1))
          .select("node", F.expr(f"{PR_UNIT} div n").alias("fix"))
          .localCheckpoint())
    for _ in range(n_iter):
        with_od = pr.join(outd, pr["node"] == outd["src"], "left")
        dang = (with_od.filter(F.col("od").isNull())
                .agg(F.coalesce(F.sum("fix"), F.lit(0).cast("long"))
                     .alias("dang")))
        contrib = (with_od.filter(F.col("od").isNotNull())
                   .select(F.col("src"), F.expr("fix div od").alias("c")))
        insum = (e.join(contrib, "src")
                 .groupBy("dst").agg(F.sum("c").alias("insum")))
        pr = (nn.crossJoin(F.broadcast(n1))
              .crossJoin(F.broadcast(dang))
              .join(insum, nn["node"] == insum["dst"], "left")
              .select(
                  "node",
                  F.expr(f"({15 * PR_UNIT}) div (100 * n) + "
                         f"({PR_DAMP_NUM} * (coalesce(insum, 0) + "
                         f"dang div n)) div {PR_DAMP_DEN}")
                  .cast("long").alias("fix"))
              .localCheckpoint())
    return pr
