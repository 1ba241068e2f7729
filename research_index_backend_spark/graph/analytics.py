"""Iterative graph algorithms as DataFrame loops (GraphX-style, no JVM ext).

The reference holds its property graph in Memgraph and runs no analytics
beyond pattern matches; the north star ("GraphX for graph analytics") adds
iterative algorithms. PySpark has no GraphX bindings, so these are
Pregel-style DataFrame iterations — the idiomatic Python equivalent
(SURVEY.md §1 note).

Scale design:
- Each iteration is one shuffle (join on the edge src). localCheckpoint()
  after every round truncates the lineage — without it the plan doubles
  per iteration and the driver OOMs on plan size long before data size.
- Convergence is detected with a count() of changed labels — a tiny
  aggregate, but a full pass; at 100 TB run a fixed iteration budget with
  a periodic convergence probe instead (max_iter caps it here).
- Label propagation converges in O(graph diameter) rounds. Near-clique
  dedup graphs converge in 2-3; long chains are the worst case — the
  alternating large-star/small-star variant (Kiveris et al., "Connected
  Components in MapReduce and Beyond") halves rounds; noted as the upgrade
  path, not needed at current scale.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Rank-loop policy of pagerank() and personalized_pagerank():
# - localCheckpoint the pagerank() rank frame every CHECKPOINT_EVERY rounds
#   (and after the last) instead of every round. Each checkpoint is an
#   eager job; between checkpoints lineage grows by k cheap stages. k=2
#   measured fastest for graph_pagerank at sf0.1 (4.1s vs 5.2s at 3, 4.5s
#   at end-only): the broadcast build off a shorter lineage wins over fewer
#   eager jobs.
# - hash-broadcast the rank frame (and the per-round contributions) into
#   the joins. They are |V| rows vs the edge list's |E|; while |V| fits in
#   a broadcast (<10M rows usually does, <100M does not), the
#   per-iteration edges-shuffle becomes a map-side broadcast join and the
#   only shuffle left is the (small) groupBy(dst) aggregate.
CHECKPOINT_EVERY = 2


def degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected degree per node: one aggregation over the symmetrized
    edge list (map-side combined)."""
    sym = edges.select(F.col(src).alias("id")).unionAll(
        edges.select(F.col(dst).alias("id")))
    return sym.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))


def connected_components(edges: DataFrame, nodes: DataFrame | None = None,
                         src: str = "src", dst: str = "dst",
                         max_iter: int = 50,
                         on_nonconverged: str = "warn") -> DataFrame:
    """Min-label propagation: component id = min node id in the component.

    edges: undirected pairs (each pair listed once is enough).
    nodes: optional (id) frame; include it so isolated nodes appear as
           singleton components. Defaults to edge endpoints.
    on_nonconverged: what to do when the graph diameter exceeds max_iter
        and labels are still moving — "raise" (RuntimeError), "warn"
        (RuntimeWarning, default), or "ignore". Without this a truncated
        run silently returns WRONG component labels (round-2 ADVICE).

    Returns (id, component).
    """
    # Materialize the edge list ONCE: without this the upstream plan that
    # produced the edges (e.g. the whole MinHash-LSH pipeline) re-executes
    # on every iteration — the difference between O(iters * upstream) and
    # O(upstream + iters * join). Two checkpoints on purpose: the
    # symmetrize union references `edges` TWICE, so the upstream pipeline
    # would run twice inside the sym job without the first one.
    edges = edges.select(src, dst).localCheckpoint()
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionAll(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    ).localCheckpoint()
    if nodes is None:
        node_ids = sym.select(F.col("a").alias("id")).distinct()
    else:
        node_ids = nodes.select(F.col(nodes.columns[0]).alias("id")).distinct()

    comp = node_ids.withColumn("component", F.col("id")).localCheckpoint()
    converged = False
    for _ in range(max_iter):
        nbr_min = (
            sym.join(comp, sym.b == comp.id)
            .groupBy("a").agg(F.min("component").alias("nbr_min"))
        )
        nxt = (
            comp.join(nbr_min, comp.id == nbr_min.a, "left")
            .select(
                "id",
                F.least(F.col("component"),
                        F.coalesce("nbr_min", F.col("component")))
                .alias("component"),
                F.col("component").alias("__prev"),
            )
        ).localCheckpoint()  # truncate lineage BEFORE the convergence count
        changed = nxt.filter(F.col("component") != F.col("__prev")).count()
        comp = nxt.drop("__prev")
        if changed == 0:
            converged = True
            break
    if not converged:
        msg = (f"connected_components did not converge within {max_iter} "
               f"iterations (graph diameter exceeds the budget); labels "
               f"are TRUNCATED, not final")
        if on_nonconverged == "raise":
            raise RuntimeError(msg)
        if on_nonconverged == "warn":
            import warnings
            warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return comp


def connected_components_star(edges: DataFrame,
                              nodes: DataFrame | None = None,
                              src: str = "src", dst: str = "dst",
                              max_iter: int = 30,
                              on_nonconverged: str = "warn") -> DataFrame:
    """Alternating large-star / small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond", two-phase
    algorithm). Returns (id, component) with component = min node id.

    Why it exists next to connected_components: min-label propagation
    converges in O(diameter) rounds — a 100 TB web-dedup graph with long
    chains blows any iteration budget (a 10M-node chain needs 10M
    rounds). Star contraction converges in O(log n) rounds REGARDLESS of
    diameter: each round pointers jump toward the component minimum, so
    chains collapse geometrically. Per round it costs two grouped
    aggregations + two joins (vs label-prop's one), so on shallow graphs
    (near-clique dedup buckets) plain propagation is cheaper — pick by
    topology, same contract.

    Requires a total order on node ids (component = minimum); ids may be
    any orderable type. Convergence = edge-set fixpoint, detected with a
    two-sided anti-join count (exact, no hash false-positives); at scale
    run a fixed budget with a periodic probe, as with label propagation.

    large-star: for each u, hook every neighbor v > u to
    m = min(N(u) ∪ {u}). small-star: with edges oriented u > v, hook u
    and every neighbor onto m = min(N(u)). Both emit (child, parent)
    edges oriented child > parent; at the fixpoint the edges are stars
    centered on component minima.
    """
    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .filter(F.col("u") != F.col("v")))
    # canonical orientation u > v, deduped — the small-star input shape
    e = (e.select(F.greatest("u", "v").alias("u"),
                  F.least("u", "v").alias("v"))
         .distinct().localCheckpoint())
    if nodes is None:
        all_nodes = (e.select(F.col("u").alias("id"))
                     .unionAll(e.select(F.col("v").alias("id"))).distinct()
                     .localCheckpoint())
    else:
        all_nodes = nodes.select(
            F.col(nodes.columns[0]).alias("id")).distinct().localCheckpoint()

    converged = False
    for _ in range(max_iter):
        # ---- large-star: symmetrize, hook larger neighbors to the min
        sym = e.unionAll(e.select(F.col("v").alias("u"),
                                  F.col("u").alias("v")))
        lmin = (sym.groupBy("u").agg(F.min("v").alias("__mn"))
                .select("u", F.least("__mn", F.col("u")).alias("m")))
        large = (
            sym.join(lmin, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small-star: edges oriented u > v, hook u and all its
        # smaller neighbors onto the neighborhood min
        smin = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(smin, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(smin.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        nxt = small.localCheckpoint()
        changed = (nxt.join(e, ["u", "v"], "left_anti").count()
                   + e.join(nxt, ["u", "v"], "left_anti").count())
        e = nxt
        if changed == 0:
            converged = True
            break
    if not converged:
        msg = (f"connected_components_star did not converge within "
               f"{max_iter} rounds; labels are TRUNCATED, not final")
        if on_nonconverged == "raise":
            raise RuntimeError(msg)
        if on_nonconverged == "warn":
            import warnings
            warnings.warn(msg, RuntimeWarning, stacklevel=2)
    # fixpoint edges are (member, component-min) stars; roots and
    # isolated nodes map to themselves
    return (all_nodes.join(e.select(F.col("u").alias("id"),
                                    F.col("v").alias("component")),
                           "id", "left")
            .select("id", F.coalesce("component", F.col("id"))
                    .alias("component")))


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             n_iter: int = 10, damping: float = 0.85,
             handle_dangling: bool = True) -> DataFrame:
    """Fixed-iteration PageRank on a directed edge list. Returns (id, rank).

    Fixed iterations, not convergence-tested — the usual choice at scale
    (each round is one shuffle on src). Dangling mass (rank sitting on
    sink nodes) is redistributed uniformly each round, IN-PLAN: a 1-row
    aggregate of sink-node rank is crossJoin-broadcast into the rank
    update, so the loop is pure lazy shuffles with no driver round-trip
    and no eager job per round (round-4 VERDICT: the old collect()-based
    path forced a checkpoint every round). Pass handle_dangling=False when
    every node is known to have out-edges (e.g. a symmetrized graph) to
    skip the extra aggregate entirely.

    Perf shape: see the rank-loop policy note above CHECKPOINT_EVERY.
    """
    # Materialize edges+degrees once — every iteration joins them, and
    # without the checkpoint the upstream edge derivation re-executes per
    # round (see connected_components note). out_deg rides along in the
    # base frame so each iteration is ONE join with ranks, not two.
    # DISK_ONLY: |E|-scale, written once and re-read sequentially per
    # iteration — OS page cache keeps it RAM-hot off-heap; the default
    # on-heap cache OOM'd the 16g local harness at the r10 100x probe.
    edges = edges.select(src, dst).localCheckpoint(
        storageLevel=StorageLevel.DISK_ONLY)
    nodes = (edges.select(F.col(src).alias("id"))
             .unionAll(edges.select(F.col(dst).alias("id")))
             .distinct())
    out_deg = edges.groupBy(F.col(src).alias("id")).agg(
        F.count(F.lit(1)).alias("out_deg"))
    base = (nodes.join(out_deg, "id", "left")
            .select("id", F.coalesce("out_deg", F.lit(0)).alias("out_deg"))
            ).localCheckpoint()
    n = base.count()
    ranks = base.withColumn("rank", F.lit(1.0 / n))
    for i in range(n_iter):
        shares = (ranks.filter(F.col("out_deg") > 0)
                  .select("id", (F.col("rank") / F.col("out_deg"))
                          .alias("share")))
        contrib = (
            edges.join(F.broadcast(shares), edges[src] == F.col("id"))
            .groupBy(F.col(dst).alias("id")).agg(F.sum("share").alias("in_sum"))
        )
        nxt = base.join(F.broadcast(contrib), "id", "left")
        if handle_dangling:
            # sink-node rank mass as a 1-row aggregate folded in-plan via
            # a broadcast cross join — NOT a collect(): the loop stays
            # lazy, no per-round driver sync or eager job. The dangling
            # branch reads `ranks` a second time (shares is the first),
            # which is why the checkpoint cadence matters more here —
            # between checkpoints the uncheckpointed plan is walked by
            # both consumers.
            dang = (ranks.filter(F.col("out_deg") == 0)
                    .agg(F.coalesce(F.sum("rank"), F.lit(0.0))
                         .alias("__dangling")))
            ranks = (
                nxt.crossJoin(F.broadcast(dang))
                .select("id", "out_deg",
                        (F.lit((1 - damping) / n)
                         + F.lit(damping)
                         * (F.coalesce("in_sum", F.lit(0.0))
                            + F.col("__dangling") / F.lit(float(n))))
                        .alias("rank"))
            )
        else:
            ranks = nxt.select(
                "id", "out_deg",
                (F.lit((1 - damping) / n)
                 + F.lit(damping) * F.coalesce("in_sum", F.lit(0.0)))
                .alias("rank"))
        if (i + 1) % CHECKPOINT_EVERY == 0 or i == n_iter - 1:
            ranks = ranks.localCheckpoint()
    return ranks.select("id", "rank")


def personalized_pagerank(edges: DataFrame, seeds: DataFrame,
                          src: str = "src", dst: str = "dst",
                          n_iter: int = 3,
                          damping: float = 0.85) -> DataFrame:
    """Personalized (topic-sensitive) PageRank: the restart vector is
    concentrated on `seeds` (a 1-column DataFrame of node ids) instead
    of uniform — the recommendation/similarity variant ("rank nodes
    near THESE nodes"). Returns (id, rank).

    Same per-iteration shape as pagerank(): one join of the edge list
    with the rank shares, one groupBy(dst) aggregate. The restart term
    is (1-d)/|S| on seed nodes and 0 elsewhere — the seed flag rides in
    the checkpointed base frame, so personalization costs nothing per
    round. Expects a graph where every node has out-edges (symmetrize
    first), as with handle_dangling=False.
    """
    # DISK_ONLY: |E|-scale, written once and re-read sequentially per
    # iteration — OS page cache keeps it RAM-hot off-heap; the default
    # on-heap cache OOM'd the 16g local harness at the r10 100x probe.
    edges = edges.select(src, dst).localCheckpoint(
        storageLevel=StorageLevel.DISK_ONLY)
    nodes = (edges.select(F.col(src).alias("id"))
             .unionAll(edges.select(F.col(dst).alias("id")))
             .distinct())
    out_deg = edges.groupBy(F.col(src).alias("id")).agg(
        F.count(F.lit(1)).alias("out_deg"))
    seed_ids = seeds.toDF("id")
    base = (nodes.join(out_deg, "id", "left")
            .join(seed_ids.withColumn("__seed", F.lit(1)), "id", "left")
            .select("id", F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
                    F.coalesce("__seed", F.lit(0)).alias("is_seed"))
            ).localCheckpoint()
    n_seeds = base.agg(F.sum("is_seed")).collect()[0][0]
    restart = (F.lit(1.0 - damping) * F.col("is_seed")
               / F.lit(float(n_seeds)))
    ranks = base.withColumn(
        "rank", F.col("is_seed").cast("double") / F.lit(float(n_seeds)))
    for i in range(n_iter):
        shares = (ranks.filter(F.col("out_deg") > 0)
                  .select("id", (F.col("rank") / F.col("out_deg"))
                          .alias("share")))
        contrib = (
            edges.join(F.broadcast(shares), edges[src] == F.col("id"))
            .groupBy(F.col(dst).alias("id"))
            .agg(F.sum("share").alias("in_sum")))
        ranks = (base.join(F.broadcast(contrib), "id", "left")
                 .select("id", "out_deg", "is_seed",
                         (restart + F.lit(damping)
                          * F.coalesce("in_sum", F.lit(0.0)))
                         .alias("rank"))
                 ).localCheckpoint()
    return ranks.select("id", "rank")
