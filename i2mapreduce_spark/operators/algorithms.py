"""Iterative algorithms — the reference's demonstration workloads
(PageRank, GIM-V-style propagation, K-means, APriori; SURVEY §2A example
apps) re-expressed as DataFrame step functions under plans.iterate.

Common structure (the reference's structure/state split, ref op A9):
the edge/point set is static structure — repartitioned by join key once
and cached; the rank/label/centroid state is small and evolving; every
iteration is one co-partitioned join + aggregate.

Determinism: fixed iteration counts, explicit tiebreaks (argmin -> lowest
centroid id), float64 throughout; goldens in tests compare against <=50
line numpy replicas with pre-round tolerance.
"""

from __future__ import annotations

import os
from dataclasses import replace

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.iterate import (
    IterationResult,
    checkpoint_without_stats,
    is_local_checkpoint,
    iterate,
    release_checkpoint,
)


def _own_edges(edges: DataFrame) -> tuple[DataFrame, bool]:
    """Materialize a loop-invariant edges input WITHOUT pinning its
    lineage, with ownership tracking.

    The previous idiom (`edges.cache()` + `unpersist()` in finally)
    kept the input's whole lineage reachable for the entire fixpoint —
    for derived graphs (the lineitem co-purchase self-join) that pins
    the build's shuffle files on local disk until the loop ends,
    because ContextCleaner only deletes shuffle files whose dependency
    became unreachable (measured r11, sf100 decade sweep: 50 GB
    retained, disk-full death mid-fixpoint).  localCheckpoint truncates
    the lineage, so the build shuffle is collectible immediately and
    the loop holds only the materialized edge blocks.

    Returns (frame, owned): `owned=False` when the caller already
    checkpointed the input — then it is used as-is and NOT released on
    exit (the caller may read it again, e.g. warm-start keys calling
    connected_components twice on one frame)."""
    if is_local_checkpoint(edges):
        return edges, False
    return checkpoint_without_stats(edges), True


def _nodes(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
    init_ranks: DataFrame | None = None,
    tol: float | None = None,
    checkpoint_every: int | None = None,
    teleport_to: int | None = None,
    nodes: DataFrame | None = None,
) -> IterationResult:
    """PageRank without dangling-mass redistribution:
    r(v) = (1-d)/N + d * sum_{u->v} r(u)/outdeg(u); nodes with no
    in-edges hold (1-d)/N.  Uniform 1/N init unless `init_ranks` is given
    (the warm start, ref op A13).

    With `teleport_to` set this becomes PERSONALIZED PageRank: the
    teleport mass (1-d) lands only on that node (base = (1-d)·1[v=s]),
    and the walk starts there (init = 1[v=s]) — the random-walk-with-
    restart proximity score used for seed-based recommendation.

    100TB notes: edges are repartitioned by src once and cached (the
    Projector co-partitioning); per-iteration state is (node, rank) only —
    the shuffle carries O(nodes), never O(edges), because contributions
    partially aggregate map-side.
    """
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # checkpoint, not cache, for the loop-invariant structure (same
    # rationale as _own_edges): a cached frame keeps the DERIVATION
    # lineage — the edges-build and outdeg shuffles — reachable for the
    # whole fixpoint, so their shuffle files survive on local disk
    # until the loop ends.  The checkpoint truncates lineage; only the
    # materialized structure blocks stay resident, released below.
    # A caller-provided `nodes` (r12) must be the exact node set of
    # `edges`, already checkpointed + repartitioned by node; it is used
    # as-is and NOT released on exit — warm-start callers whose
    # perturbation stays inside the node set share one build across the
    # cold and warm runs instead of paying the distinct shuffle twice.
    own_nodes = nodes is None
    if own_nodes:
        nodes = checkpoint_without_stats(
            _nodes(edges).repartition(n_part, "node")
        )
    n = nodes.count()
    if n == 0:
        # empty graph (an empty date slice is routine at scale): the rank
        # vector over zero nodes is empty by definition — return it
        # instead of dividing the teleport mass by zero
        if own_nodes:
            release_checkpoint(nodes)
        return IterationResult(
            state=spark.createDataFrame([], "node long, rank double"),
            iterations=0, converged=True, deltas=[],
        )
    # fold 1/outdeg into the static structure ONCE (the Projector holds
    # derived structure, not just raw edges): each iteration is then a
    # single state ⋈ edges join + one aggregate instead of three joins.
    # Only this derived structure (and nodes) is cached — raw edges are
    # scanned once to build it and never touched again.
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    edges_inv = checkpoint_without_stats(
        edges.join(outdeg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("inv"))
        .repartition(n_part, "src")
    )

    if teleport_to is not None:
        state0 = nodes.withColumn(
            "rank",
            F.when(F.col("node") == teleport_to, F.lit(1.0)).otherwise(F.lit(0.0)),
        )
        base_expr = F.when(
            F.col("n.node") == teleport_to, F.lit(1.0 - damping)
        ).otherwise(F.lit(0.0))
    elif init_ranks is None:
        state0 = nodes.withColumn("rank", F.lit(1.0 / n))
    else:
        # warm start: keep prior ranks, default new nodes to 1/N
        state0 = nodes.join(init_ranks, "node", "left").select(
            "node", F.coalesce("rank", F.lit(1.0 / n)).alias("rank")
        )

    if teleport_to is None:
        base_expr = F.lit((1.0 - damping) / n)

    def step(state: DataFrame, _i: int) -> DataFrame:
        # explicit aliases throughout: state/nodes derive from edges, so
        # attribute references would be ambiguous in these self-join shapes
        contribs = (
            state.alias("s")
            .join(edges_inv.alias("e"), F.col("s.node") == F.col("e.src"))
            .select(
                F.col("e.dst").alias("node"),
                (F.col("s.rank") * F.col("e.inv")).alias("rate"),
            )
            .groupBy("node")
            .agg(F.sum("rate").alias("mass"))
        )
        return (
            nodes.alias("n")
            .join(contribs.alias("c"), F.col("n.node") == F.col("c.node"), "left")
            .select(
                F.col("n.node").alias("node"),
                (base_expr + damping * F.coalesce(F.col("c.mass"), F.lit(0.0))).alias("rank"),
            )
        )

    def delta(old: DataFrame, new: DataFrame) -> float:
        d = (
            old.alias("o")
            .join(new.alias("n"), "node")
            .agg(F.sum(F.abs(F.col("o.rank") - F.col("n.rank"))))
            .collect()[0][0]
        )
        return 0.0 if d is None else d  # sum over an empty join is NULL

    try:
        return iterate(
            state0,
            step,
            iters,
            delta_fn=delta if tol is not None else None,
            tol=tol,
            checkpoint_every=checkpoint_every,
        )
    finally:
        # the returned state is eagerly checkpointed, so the structure
        # blocks can be dropped — repeated calls (warm-start scenarios)
        # would otherwise pile materialized copies up.  Caller-owned
        # nodes are left alone (the caller may run pagerank again).
        if own_nodes:
            release_checkpoint(nodes)
        release_checkpoint(edges_inv)


def hits(spark: SparkSession, edges: DataFrame, iters: int = 4) -> DataFrame:
    """HITS hubs-and-authorities with L1 normalization, fixed iterations:
    auth_k(p) = Σ_{c→p} hub_{k-1}(c) then /Σauth;
    hub_k(c)  = Σ_{c→p} auth_k(p)   then /Σhub.
    State is the hub vector only — auth is derived inside each step, so
    the loop matches the generic iterate() driver; the final auth is
    recomputed from the converged hubs for output.

    Output: (side 'hub'|'auth', node, score) with score rounded 6dp.

    100TB notes: edges are repartitioned by src once and cached (Projector
    co-partitioning, ref A9); per-iteration shuffles carry O(nodes) after
    map-side partial sums.  Normalization totals are single-row aggregates
    joined back by broadcast — no driver-side collect in the loop.
    """
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # checkpoint, not cache (same rationale as _own_edges): truncates
    # the build lineage so its shuffle files are collectible during the
    # loop instead of pinned until it ends
    e = checkpoint_without_stats(
        edges.select("src", "dst").repartition(n_part, "src")
    )
    srcs = e.select(F.col("src").alias("node")).distinct()

    def _l1_normalize(df: DataFrame, col: str) -> DataFrame:
        tot = df.agg(F.sum(col).alias("_tot"))
        return df.join(F.broadcast(tot)).select(
            "node", (F.col(col) / F.col("_tot")).alias(col)
        )

    def _auth_from_hub(hub: DataFrame) -> DataFrame:
        raw = (
            hub.alias("h")
            .join(e.alias("e"), F.col("h.node") == F.col("e.src"))
            .groupBy(F.col("e.dst").alias("node"))
            .agg(F.sum("h.hub").alias("auth"))
        )
        return _l1_normalize(raw, "auth")

    def step(hub: DataFrame, _i: int) -> DataFrame:
        auth = _auth_from_hub(hub)
        raw = (
            auth.alias("a")
            .join(e.alias("e"), F.col("a.node") == F.col("e.dst"))
            .groupBy(F.col("e.src").alias("node"))
            .agg(F.sum("a.auth").alias("hub"))
        )
        return _l1_normalize(raw, "hub")

    # init 1.0 (not 1/N): L1 normalization is scale-invariant, so the
    # constant cancels after the first step — saves the count() action
    hub0 = srcs.withColumn("hub", F.lit(1.0))
    try:
        # checkpoint EVERY iteration: each step embeds two single-row
        # normalization subqueries whose broadcast materialization
        # re-executes the whole uncheckpointed chain — at cadence 2 that
        # re-runs up to 8 joins per broadcast (measured 59s -> ~15s at
        # sf0.1 moving to cadence 1; values are bit-identical, only the
        # materialization boundary moves)
        res = iterate(hub0, step, iters, checkpoint_every=1)
        hub_fin = res.state
        auth_fin = _auth_from_hub(hub_fin).transform(checkpoint_without_stats)
        return hub_fin.select(
            F.lit("hub").alias("side"), "node", F.round("hub", 6).alias("score")
        ).unionAll(
            auth_fin.select(
                F.lit("auth").alias("side"), "node", F.round("auth", 6).alias("score")
            )
        )
    finally:
        release_checkpoint(e)


def kcore(edges: DataFrame, k: int, max_rounds: int = 12) -> DataFrame:
    """k-core decomposition by iterative peeling: drop every node with
    degree < k (and its edges), repeat to fixpoint.  Returns the
    surviving nodes with their in-core degree (node, core_degree).

    Fixpoint contract: peeling is monotone, so stopping early at a true
    fixpoint equals running the full `max_rounds` — which is what makes
    the result hash-comparable to an oracle that unrolls exactly
    `max_rounds` rounds regardless of where the fixpoint lands.

    100TB: each round is one degree aggregation + two semi-joins, all
    keyed on the node id; the edge set only shrinks.  The fixpoint
    barrier is a count delta (one cheap action per round, ref A10)."""
    def step(e: DataFrame, _i: int) -> DataFrame:
        keep = (
            e.groupBy("src").agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k)
            .select(F.col("src").alias("node"))
        )
        return (
            e.join(keep.withColumnRenamed("node", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("node", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )

    def delta(old: DataFrame, new: DataFrame) -> float:
        return float(old.count() - new.count())

    res = iterate(
        edges.select("src", "dst"), step, max_rounds,
        delta_fn=delta, tol=0.5, checkpoint_every=1,
    )
    return res.state.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("core_degree")
    )


def _bfs_hops(edges: DataFrame, seeds: DataFrame, max_hops: int,
              by: tuple[str, ...] = ()) -> DataFrame:
    """Hop-limited BFS min-distance from `seeds` (*by, node, dist=0):
    per hop, frontier ⋈ edges -> min-dist fold over (*by, node).  The
    `by` columns label independent searches that share one loop — the
    multi-source labeled BFS, where K sources cost the same join+fold
    rounds as one.  Returns (*by, node, dist), eagerly checkpointed.

    Memory hygiene (r10, same class as iterate()): each hop's eager
    checkpoint supersedes the previous one, which is released so loop
    memory stays O(1) hops; an edges frame this helper checkpointed
    itself is dropped before returning (the final dist is already
    materialized and no longer reads it).

    r12 (guide §2.3 shuffle fewer bytes): messages propagate from the
    FRONTIER only — the rows first reached on the previous hop (dist
    == h), not the whole reached set.  In unweighted BFS a (label, node)
    distance is final the first time the min-fold assigns it, so a
    non-frontier row's re-sent message can only lose to an existing
    minimum: dropping those messages is result-identical while the
    per-hop join/shuffle volume falls from O(edges out of everything
    reached so far) to O(edges out of the new frontier) — on the dense
    co-purchase graph hops 3+ previously re-shipped nearly the whole
    reached subgraph every round.  An empty frontier ends the loop
    early (the remaining hops were no-ops)."""
    edges, owned = _own_edges(edges)
    dist = seeds
    prev = None
    try:
        for h in range(max_hops):
            frontier = dist.filter(F.col("dist") == h)
            grown = (
                frontier.alias("d")
                .join(edges.alias("e"), F.col("d.node") == F.col("e.src"))
                .select(
                    *[F.col(f"d.{c}").alias(c) for c in by],
                    F.col("e.dst").alias("node"),
                    (F.col("d.dist") + 1).alias("dist"),
                )
            )
            dist = (
                dist.union(grown)
                .groupBy(*by, "node")
                .agg(F.min("dist").alias("dist"))
                .transform(checkpoint_without_stats)
            )
            if prev is not None:
                release_checkpoint(prev)
            prev = dist
            # early-exit probe only where it can pay for itself: not on
            # the final hop (the loop ends either way) and not before
            # hop 3 (a frontier that dies at hop 1/2 means a near-empty
            # reach whose remaining rounds are trivial; the probe job
            # costs more than it saves there — measured at sf0.1)
            if 3 <= h + 1 < max_hops and dist.filter(
                F.col("dist") == h + 1
            ).isEmpty():
                break  # no new nodes: every later hop is a no-op
    finally:
        if owned:
            release_checkpoint(edges)
    return dist


def sssp(edges: DataFrame, source: int, max_hops: int = 4) -> DataFrame:
    """Hop-limited BFS min-distance from `source` (GIM-V / iMapReduce
    shortest-path shape): per hop, frontier ⋈ edges -> min-dist fold.
    Monotone min-aggregation means re-visiting nodes is harmless — the
    classic MapReduce SSSP the reference ships as an example app.
    Returns (node, dist); the loop is `_bfs_hops`."""
    seeds = edges.sparkSession.createDataFrame(
        [(source, 0)], "node long, dist int"
    )
    return _bfs_hops(edges, seeds, max_hops)


def gimv(
    edges: DataFrame,
    state0: DataFrame,
    combine2,
    combine_all,
    assign,
    iters: int,
    weight_col: str | None = None,
    checkpoint_every: int | None = None,
) -> IterationResult:
    """GIM-V — generalized iterated matrix-vector multiply (the
    reference's second example app, from the PEGASUS model [PAPER §7]):
    v' = assign(v, combineAll_j(combine2(m_ij, v_j))).

    `edges` is the sparse matrix (src, dst[, weight]); `state0` the vector
    (node, val).  The three hooks are Column-level, so each iteration is
    one co-partitioned join + hash aggregate — fully JVM-side:

    - combine2(weight_col_or_none, val_col) -> message Column
    - combine_all(msg_col) -> aggregate Column (e.g. F.sum, F.min)
    - assign(old_val_col, agg_col_nullable) -> new val Column

    PageRank = (weight=1/outdeg; combine2 mul; combineAll sum; assign
    damped add).  SSSP = (combine2 add; combineAll min; assign least).
    CC = (combine2 identity; combineAll min; assign least).
    """
    edges, owned = _own_edges(edges)

    def step(state: DataFrame, _i: int) -> DataFrame:
        s, e = state.alias("s"), edges.alias("e")
        w = F.col(f"e.{weight_col}") if weight_col else None
        msgs = s.join(e, F.col("s.node") == F.col("e.src")).select(
            F.col("e.dst").alias("node"),
            combine2(w, F.col("s.val")).alias("msg"),
        )
        agg = msgs.groupBy("node").agg(combine_all(F.col("msg")).alias("agg"))
        return (
            state.alias("s")
            .join(agg.alias("a"), "node", "left")
            .select("node", assign(F.col("s.val"), F.col("a.agg")).alias("val"))
        )

    try:
        return iterate(state0, step, iters, checkpoint_every=checkpoint_every)
    finally:
        if owned:
            release_checkpoint(edges)


def connected_components(edges: DataFrame, iters: int = 16,
                         init_labels: DataFrame | None = None
                         ) -> IterationResult:
    """Min-label CC over symmetric edges with pointer-doubling: each round
    (1) propagates min neighbor labels (GIM-V combine2 = neighbor label,
    combineAll = min, assign = least), then (2) shortcuts label <-
    label-of-label.  The shortcut makes convergence O(log diameter)
    instead of O(diameter), and a changed-label count ends the loop at the
    TRUE fixpoint — a path graph of any length converges in ~log2(n)
    rounds, where plain propagation with a fixed budget silently splits
    long components.  `iters` is a safety cap, not the expected rounds.

    100TB: both joins are on the label/node key; the changed-label count
    is the reference's global fixpoint barrier (one cheap action/round).

    `init_labels` (node, label) warm-starts from a prior run's labels —
    the A13 incremental restart, valid under EDGE ADDITIONS ONLY (min
    labels are monotone decreasing as components merge; deletions can
    split components, which would need a recompute of the affected
    labels, not a warm start).  Nodes absent from init_labels seed with
    their own id.

    Returns the fixpoint's IterationResult with `state` = (node, label);
    `iterations` is the rounds the call actually used.
    """
    labels = _nodes(edges).withColumn("val", F.col("node"))
    if init_labels is not None:
        old = init_labels.select(
            "node", F.col("label").alias("old_label")
        )
        labels = (
            labels.join(old, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("node"), F.coalesce("old_label", F.col("node"))
                ).alias("val"),
            )
        )
    edges, owned = _own_edges(edges)

    def step(state: DataFrame, _i: int) -> DataFrame:
        s, e = state.alias("s"), edges.alias("e")
        msgs = s.join(e, F.col("s.node") == F.col("e.src")).select(
            F.col("e.dst").alias("node"), F.col("s.val").alias("msg")
        )
        agg = msgs.groupBy("node").agg(F.min("msg").alias("agg"))
        prop = (
            state.alias("s")
            .join(agg.alias("a"), "node", "left")
            .select(
                "node",
                F.least(
                    F.col("s.val"), F.coalesce(F.col("a.agg"), F.col("s.val"))
                ).alias("val"),
            )
        )
        # pointer doubling: follow my label's label (renamed columns make
        # the self-join unambiguous)
        lut = prop.select(
            F.col("node").alias("l_node"), F.col("val").alias("l_val")
        )
        return (
            prop.alias("p")
            .join(lut.alias("q"), F.col("p.val") == F.col("q.l_node"), "left")
            .select(
                F.col("p.node").alias("node"),
                F.coalesce(F.col("q.l_val"), F.col("p.val")).alias("val"),
            )
        )

    # Convergence via the monotone invariant instead of an old ⋈ new diff:
    # min-label propagation only ever DECREASES labels, so sum(label) is
    # strictly decreasing until the fixpoint and equal sums <=> no change.
    # One aggregate scan of the just-checkpointed state per round — no
    # join, and exact (labels are longs; F.sum over long stays integral).
    last_sum = [None]

    def changed(_old: DataFrame, new: DataFrame) -> float:
        s = new.agg(F.sum("val")).collect()[0][0]
        d = 1.0 if last_sum[0] is None else float(last_sum[0] - s)
        last_sum[0] = s
        return d

    try:
        res = iterate(labels, step, iters, delta_fn=changed, tol=0.5)
    finally:
        if owned:
            release_checkpoint(edges)
    return replace(
        res, state=res.state.select("node", F.col("val").alias("label"))
    )


def label_propagation(edges: DataFrame, labels0: DataFrame, iters: int = 3,
                      max_label: int = 1000) -> DataFrame:
    """Synchronous majority label propagation (community detection /
    semi-supervised label spreading): each round every node adopts the
    most frequent label among its in-neighbors, ties broken toward the
    SMALLEST label; a node with no in-edges keeps its label.

    Deterministic argmax via one scalar key — max_by(label, c*max_label -
    label) picks the (count DESC, label ASC) winner; requires labels in
    [0, max_label).  labels0: (node, label int).

    100TB: per round one shuffle keyed by edge dst for the (node, label)
    count and one keyed by node for the argmax — state shuffles O(nodes x
    distinct-neighbor-labels), never O(edges); the step is the PageRank
    plan with max_by in place of sum, so the same co-partitioning holds.
    """
    def step(state: DataFrame, _i: int) -> DataFrame:
        s, e = state.alias("s"), edges.alias("e")
        cnt = (
            s.join(e, F.col("s.node") == F.col("e.src"))
            .groupBy(F.col("e.dst").alias("node"), F.col("s.label").alias("msg"))
            .agg(F.count("*").alias("c"))
        )
        best = cnt.groupBy("node").agg(
            F.max_by("msg", F.col("c") * max_label - F.col("msg")).alias("blab")
        )
        return (
            state.alias("p")
            .join(best.alias("b"), "node", "left")
            .select(
                "node",
                F.coalesce(F.col("b.blab"), F.col("p.label")).alias("label"),
            )
        )

    return iterate(labels0, step, iters, checkpoint_every=1).state


def apriori_levels(
    baskets: DataFrame,
    min_support: int,
    max_k: int = 3,
    item_col: str = "item",
    basket_col: str = "basket",
) -> dict[int, DataFrame]:
    """Level-wise APriori (the reference's iterative form of its 4th
    example app [PAPER §7]): L1 = frequent items; Lk extends each
    surviving (k-1)-itemset occurrence with a larger item from the same
    basket, counts support, prunes.

    Returns {k: DataFrame(items array<...>, support)}.  The two pruning
    rules are both applied the classic way:
    - anti-monotone: occurrences whose itemset fell below min_support are
      semi-join-filtered out before extending (no candidate explosion);
    - lexicographic extension (new item > last item) generates each
      candidate exactly once.

    100TB: each level is one join + hash agg, shuffling (basket, itemset)
    occurrences — the set the pruning just shrank; nothing is collected.
    """
    b = baskets.select(basket_col, item_col)
    sup1 = (
        b.groupBy(item_col)
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    levels = {1: sup1.select(F.array(item_col).alias("items"), "support")}
    occs = b.join(sup1.select(item_col), item_col, "left_semi").select(
        basket_col, F.array(item_col).alias("items")
    )
    for k in range(2, max_k + 1):
        ext = (
            occs.join(b.alias("x"), basket_col)
            .filter(F.col(f"x.{item_col}") > F.element_at("items", -1))
            .select(
                basket_col,
                F.concat("items", F.array(f"x.{item_col}")).alias("items"),
            )
        )
        sup = (
            ext.groupBy("items")
            .agg(F.count("*").alias("support"))
            .filter(F.col("support") >= min_support)
        )
        levels[k] = sup
        occs = ext.join(sup.select("items"), "items", "left_semi")
    return levels


def _nearest_centroid(A: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Index of the nearest centroid (row of C) for each row of A, via
    ||a-c||^2 = |a|^2 - 2 a.c + |c|^2; argmin ties -> lowest centroid
    index (np.argmin returns the first minimum)."""
    d2 = (A * A).sum(1, keepdims=True) - 2 * A @ C.T + (C * C).sum(1)
    return d2.argmin(axis=1)


def kmeans(
    spark: SparkSession,
    emb_df: DataFrame,
    k: int = 10,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init_centroids: np.ndarray | None = None,
    tol: float | None = None,
) -> tuple[DataFrame, np.ndarray, int]:
    """K-means with deterministic seeding (the k smallest ids) and
    deterministic tie-break (lowest centroid id wins argmin).

    Assignment is an Arrow-batched kernel against broadcast centroids
    (k x dim — tiny); the centroid update aggregates per (cluster, dim)
    distributed-side, so only k*dim numbers ever reach the driver.
    Returns (assignments DataFrame, final centroids ndarray, iterations
    run).

    `init_centroids` warm-starts from a prior model (ref op A13: seed the
    restarted loop with the previously converged state); with `tol` set
    the loop stops once the max centroid shift falls below it, so the
    returned iteration count shows the warm-start saving the reference
    demonstrates, in miniature.
    """
    if init_centroids is not None:
        centroids = np.asarray(init_centroids, dtype=np.float64).copy()
    else:
        seeds = (
            emb_df.orderBy(id_col).limit(k).select(vec_col).collect()
        )
        if not seeds:
            # empty corpus: no centroids to train, no rows to assign —
            # return the empty assignment with the declared schema
            empty = emb_df.sparkSession.createDataFrame(
                [], f"{id_col} long, cluster int"
            )
            return empty, np.empty((0, 0)), 0
        centroids = np.stack([np.asarray(r[0], dtype=np.float64) for r in seeds])

    def make_kernel(bc):
        # factory, not a loop closure: all loop iterations would share one
        # cell and the lazily-evaluated assignment would read the wrong
        # broadcast otherwise
        def assign_kernel(batches):
            C = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                A = np.stack(pdf[vec_col].values).astype(np.float64)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].values,
                        "cluster": _nearest_centroid(A, C).astype(np.int32),
                    }
                )

        return assign_kernel

    def make_partials_kernel(bc):
        # assignment + map-side combine in ONE pass: each Arrow batch
        # emits k partial rows (cluster, count, sum-vector) — the shuffle
        # carries O(partitions x k x dim), never the exploded n x dim rows
        def partials_kernel(batches):
            C = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                A = np.stack(pdf[vec_col].values).astype(np.float64)
                lab = _nearest_centroid(A, C)
                present = np.unique(lab)
                yield pd.DataFrame(
                    {
                        "cluster": present.astype(np.int32),
                        "cnt": [int((lab == c).sum()) for c in present],
                        "vsum": [A[lab == c].sum(axis=0).tolist() for c in present],
                    }
                )

        return partials_kernel

    assign = None
    iterations = 0
    for _ in range(iters):
        bc = spark.sparkContext.broadcast(centroids)
        assign = emb_df.select(id_col, vec_col).mapInPandas(
            make_kernel(bc), schema=f"{id_col} long, cluster int"
        )
        # centroid update: per-partition partials from the same distance
        # kernel, then one k-row aggregate (element-wise vector sum via
        # zip_with) — only k x dim numbers reach the driver
        upd = (
            emb_df.select(vec_col)
            .mapInPandas(
                make_partials_kernel(bc),
                schema="cluster int, cnt long, vsum array<double>",
            )
            .groupBy("cluster")
            .agg(
                F.sum("cnt").alias("cnt"),
                F.aggregate(
                    F.collect_list("vsum"),
                    F.array_repeat(F.lit(0.0), int(centroids.shape[1])),
                    lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
                ).alias("vsum"),
            )
            .collect()
        )
        new_c = centroids.copy()
        for r in upd:
            new_c[r.cluster] = np.asarray(r.vsum, dtype=np.float64) / r.cnt
        shift = float(np.abs(new_c - centroids).max())
        centroids = new_c
        iterations += 1
        if tol is not None and shift <= tol:
            break

    return assign, centroids, iterations


#: contracted-graph size below which Borůvka finishes with one driver
#: Kruskal instead of further distributed rounds.  The probe is a
#: `limit`-bounded collect of the min-edge-per-component-pair graph
#: (5 longs/doubles x 4M rows ~ 160 MB), not a scan of base data — the
#: standard "local finish" of distributed MST: early rounds with
#: billions of components run distributed; the tail, where fixed
#: job-scheduling overhead dwarfs the data, collapses into one bounded
#: collect + an O(E α(E)) union-find.
BORUVKA_LOCAL_EDGES_MAX = 4_000_000


def _local_kruskal(rows: list[tuple]) -> list[tuple[int, int, float]]:
    """Exact Kruskal MSF over component-level edges (w, a, b, cs, cd):
    ascending (w, a, b) total order, union on component labels, emit the
    canonical endpoints (a, b, w).  The same total order the distributed
    rounds and the test golden use, so the forest is bit-identical."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    out: list[tuple[int, int, float]] = []
    for w, a, b, cs, cd in sorted(rows):
        ra, rb = find(cs), find(cd)
        if ra != rb:
            parent[ra] = rb
            out.append((a, b, w))
    return out


def boruvka_msf(edges: DataFrame, max_rounds: int = 8) -> DataFrame:
    """Borůvka minimum spanning forest over SYMMETRIC weighted edges
    (src, dst, w), distributed rounds + a bounded local Kruskal finish.

    Distributed rounds (the at-scale path): every round each component
    picks its minimum outgoing edge under the TOTAL order (w, a, b)
    (a<b the canonical endpoints; the total order makes ties safe — a
    pick-graph cycle would have to traverse its maximal edge twice),
    the picked edges join the forest, and components contract via the
    connected-components operator over the COMPONENT-LEVEL pick graph —
    at most one edge per live component, a graph that at least halves
    every round.  Each round starts by pre-aggregating the live edges
    to min-per-(component pair) — a partial-aggregatable shuffle that
    also at least halves round over round.

    Local finish: the MST-of-contraction property says the MSF of the
    original graph = chosen edges so far + the MSF of the contracted
    min-edge-per-component-pair graph, and under a total order that MSF
    is UNIQUE — so once the contracted graph fits in
    BORUVKA_LOCAL_EDGES_MAX rows (a `limit`-bounded probe, never an
    unbounded collect), one driver-side Kruskal finishes the forest
    exactly.  At 100 TB early rounds run distributed (billions of
    components); the tail — where per-round data is tiny and fixed
    job-scheduling overhead dominates — collapses into one bounded
    collect + an O(E α(E)) union-find.  Correctness does not depend on
    WHEN the switch happens, only the constant factor does.

    Returns the forest edges (a, b, w).
    """
    spark = edges.sparkSession
    comp = None  # (node, label); None = every node its own component
    chosen = spark.createDataFrame([], "a long, b long, w double")
    local_rows: list[tuple] = []
    for _ in range(max_rounds):
        if comp is None:
            e = edges.select(
                F.col("src").alias("cs"), F.col("dst").alias("cd"),
                "w",
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
            )
        else:
            # LEFT joins: nodes not yet in the forest have no label row
            # and remain their own singleton component — an inner join
            # would silently drop their outgoing edges
            c1 = comp.select(F.col("node").alias("src"), F.col("label").alias("ls"))
            c2 = comp.select(F.col("node").alias("dst"), F.col("label").alias("ld"))
            e = (
                edges.join(c1, "src", "left")
                .join(c2, "dst", "left")
                .select(
                    F.coalesce("ls", "src").alias("cs"),
                    F.coalesce("ld", "dst").alias("cd"),
                    "w",
                    F.least("src", "dst").alias("a"),
                    F.greatest("src", "dst").alias("b"),
                )
                .filter(F.col("cs") != F.col("cd"))
            )
        # min edge per component PAIR under the total order — safe by
        # the cycle property (a non-minimal parallel edge is never in
        # the MSF) and partial-aggregatable (map-side combine)
        contracted = (
            e.groupBy("cs", "cd")
            .agg(F.min(F.struct("w", "a", "b")).alias("m"))
            .select("cs", "cd", "m.w", "m.a", "m.b")
            .transform(checkpoint_without_stats)
        )
        # bounded probe, JVM-side only: limit pushes into the plan, so
        # the count scans AT MOST BORUVKA_LOCAL_EDGES_MAX+1 rows of the
        # (already checkpoint-materialized) contracted graph and moves
        # ZERO rows to the driver.  The r11 sf100 sweep caught the
        # previous spelling (`limit(MAX+1).collect()` as the probe):
        # while the graph is still big every round paid a full
        # MAX-row Py4J collect just to learn "still too big" — a
        # per-round driver transfer that never shows up at SFs where
        # round 0 already fits locally.  The one real transfer (the
        # local-finish edge list, below) goes over Arrow instead of
        # row-at-a-time Py4J.
        probe_n = contracted.limit(BORUVKA_LOCAL_EDGES_MAX + 1).count()
        if probe_n == 0:
            break
        if probe_n <= BORUVKA_LOCAL_EDGES_MAX:
            pdf = contracted.toPandas()
            # .tolist() yields native python ints/floats — numpy
            # scalars would fail createDataFrame's LongType check on
            # the finish edges
            local_rows = list(
                zip(pdf["w"].tolist(), pdf["a"].tolist(),
                    pdf["b"].tolist(), pdf["cs"].tolist(),
                    pdf["cd"].tolist())
            )
            break
        # distributed Borůvka round
        pick = (
            contracted.groupBy("cs")
            .agg(F.min(F.struct("w", "a", "b", "cd")).alias("m"))
            .select("cs", "m.w", "m.a", "m.b", "m.cd")
            .transform(checkpoint_without_stats)
        )
        chosen = (
            chosen.unionByName(pick.select("a", "b", "w"))
            # within a round both endpoint components can pick the same
            # edge; across rounds re-picks are impossible once
            # contraction converged — the dedup also makes a CC-cap
            # under-merge degrade to a duplicate-free (if cyclic) pick,
            # never a double-counted edge
            .dropDuplicates(["a", "b"])
            .transform(checkpoint_without_stats)
        )
        pick_sym = pick.select(F.col("cs").alias("src"), F.col("cd").alias("dst"))
        pick_sym = pick_sym.union(
            pick_sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        # iters is a safety cap only — CC exits at its true fixpoint; 16
        # pointer-doubling rounds cover pick-graph chains to depth 2^16
        m = connected_components(pick_sym, iters=16).state.select(
            F.col("node").alias("old"), F.col("label").alias("new")
        )
        # contract on component LABELS: every picked (cs, cd) pair merges
        if comp is None:
            comp = m.select(F.col("old").alias("node"), F.col("new").alias("label"))
        else:
            comp = comp.join(m, comp.label == m.old, "left").select(
                "node", F.coalesce("new", "label").alias("label")
            )
        comp = comp.transform(checkpoint_without_stats)
    if local_rows:
        finish = _local_kruskal(local_rows)
        if finish:
            chosen = chosen.unionByName(
                spark.createDataFrame(finish, "a long, b long, w double")
            )
    return chosen


#: active-subgraph size (edges AND nodes, each) below which scc()
#: finishes with one driver-side Tarjan instead of further distributed
#: trim/coloring rounds — the same bounded local finish boruvka_msf uses
#: (BORUVKA_LOCAL_EDGES_MAX): early passes at scale run distributed;
#: the tail, where each trim/coloring round is a fixed-cost job over a
#: near-empty graph, collapses into one Arrow collect + an O(V+E)
#: Tarjan.  2M edges is ~32 MB over Arrow — far under the driver caps.
#: Correctness does not depend on WHEN the switch fires (SCC labels are
#: min member ids, unique for any algorithm); only the constant factor
#: does.  Measured at sf0.1: the whole digraph is 36.7k edges, so 11
#: fixed-overhead rounds (~12.8 s warm) collapse to one bounded collect.
#: Env-overridable (`I2MR_SCC_LOCAL_MAX`; 0 disables, forcing the pure
#: distributed path — used by tests to pin that path's behavior).
SCC_LOCAL_MAX_DEFAULT = 2_000_000


def _scc_local_max() -> int:
    return int(os.environ.get("I2MR_SCC_LOCAL_MAX", SCC_LOCAL_MAX_DEFAULT))


def _local_scc_min_labels(
    node_ids, srcs, dsts
) -> list[tuple[int, int]]:
    """Exact SCC labels (node, min member id) over a bounded digraph via
    iterative Tarjan — the scc() local finish.  `node_ids` must cover
    every edge endpoint (scc() guarantees this: active edges are always
    filtered to active-node endpoints); nodes without edges come out as
    their own singleton SCC.  Deterministic: the label is the component
    MINIMUM, independent of visit order."""
    adj: dict[int, list[int]] = {}
    for u, v in zip(srcs, dsts):
        adj.setdefault(u, []).append(v)
    index: dict[int, int] = {}
    low: dict[int, int] = {}
    onstack: set[int] = set()
    comp_stack: list[int] = []
    out: list[tuple[int, int]] = []
    counter = 0
    empty: tuple[int, ...] = ()
    for root in node_ids:
        if root in index:
            continue
        work: list[list] = [[root, 0]]  # (node, next-neighbor position)
        while work:
            frame = work[-1]
            v, pi = frame
            if pi == 0:
                index[v] = low[v] = counter
                counter += 1
                comp_stack.append(v)
                onstack.add(v)
            nbrs = adj.get(v, empty)
            descended = False
            for i in range(pi, len(nbrs)):
                w = nbrs[i]
                if w not in index:
                    frame[1] = i + 1
                    work.append([w, 0])
                    descended = True
                    break
                if w in onstack and index[w] < low[v]:
                    low[v] = index[w]
            if descended:
                continue
            work.pop()
            if low[v] == index[v]:
                comp = []
                while True:
                    w = comp_stack.pop()
                    onstack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                m = min(comp)
                out.extend((w, m) for w in comp)
            if work and low[v] < low[work[-1][0]]:
                low[work[-1][0]] = low[v]
    return out


def _scc_try_local_finish(
    active: DataFrame, active_nodes: DataFrame
) -> DataFrame | None:
    """Bounded probe + local finish for scc(): if the active subgraph
    fits in `_scc_local_max()` rows (edges and nodes each), collect it
    over Arrow, Tarjan it, and return the (node, scc) labels; else None.

    The probes are `limit`-bounded counts over already-materialized
    checkpoint blocks — zero rows move to the driver until the finish
    actually fires (the Borůvka probe discipline, r11)."""
    cap = _scc_local_max()
    if cap <= 0:
        return None
    if active_nodes.limit(cap + 1).count() > cap:
        return None
    if active.limit(cap + 1).count() > cap:
        return None
    spark = active.sparkSession
    epdf = active.toPandas()
    npdf = active_nodes.toPandas()
    labels = _local_scc_min_labels(
        npdf["node"].tolist(), epdf["src"].tolist(), epdf["dst"].tolist()
    )
    return spark.createDataFrame(
        pd.DataFrame(labels, columns=["node", "scc"]),
        schema="node long, scc long",
    )


def _fwbw_coloring(active: DataFrame, active_nodes: DataFrame,
                   iters: int = 64) -> DataFrame:
    """Fused forward+backward min-label coloring for scc(): ONE
    pointer-doubling fixpoint over state (node, f, b) where
    f[v] = min id reachable FROM v and b[v] = min id reaching v.

    r12 rewrite (guide §2.4 remove shuffles / §5.1 fewer actions): the
    r6-r11 shape ran TWO independent `connected_components` fixpoints
    (forward on reversed edges, backward on the originals) and joined
    their outputs.  Each fixpoint paid its own per-round checkpoint +
    fixpoint-sum action, its own `_nodes` build (union+distinct
    shuffle), and the forward pass re-checkpointed the reversed edge
    frame (a full second copy of the edge blocks); the final fwd ⋈ bwd
    join added one more shuffle + checkpoint.  Min-label fixpoints are
    UNIQUE (the min over a fixed reachable set), so computing both
    labels in one loop returns bit-identical results while: rounds run
    max(r_f, r_b) instead of r_f + r_b wall-clock, one checkpoint + one
    sum action per round instead of two of each, zero extra edge
    copies, no nodes rebuilds, and no final join (the state already
    holds both labels).  Per round: two msg joins (one per direction,
    both against the SAME checkpointed edge blocks), one two-sided
    propagation join, two label-of-label doubling joins."""
    labels = active_nodes.select(
        "node", F.col("node").alias("f"), F.col("node").alias("b")
    )

    def step(state: DataFrame, _i: int) -> DataFrame:
        s, e = state.alias("s"), active.alias("e")
        # fwd: for edge u->v, u can reach whatever v reaches
        fagg = (
            s.join(e, F.col("s.node") == F.col("e.dst"))
            .select(F.col("e.src").alias("node"), F.col("s.f").alias("mf"))
            .groupBy("node").agg(F.min("mf").alias("mf"))
        )
        # bwd: for edge u->v, whatever reaches u also reaches v
        bagg = (
            s.join(e, F.col("s.node") == F.col("e.src"))
            .select(F.col("e.dst").alias("node"), F.col("s.b").alias("mb"))
            .groupBy("node").agg(F.min("mb").alias("mb"))
        )
        prop = (
            state.alias("s")
            .join(fagg.alias("fa"), "node", "left")
            .join(bagg.alias("ba"), "node", "left")
            .select(
                "node",
                F.least(F.col("s.f"),
                        F.coalesce(F.col("fa.mf"), F.col("s.f"))).alias("f"),
                F.least(F.col("s.b"),
                        F.coalesce(F.col("ba.mb"), F.col("s.b"))).alias("b"),
            )
        )
        # pointer doubling, both directions off one LUT: my f-label is a
        # node I can reach, so ITS f-label is still reachable (and dually
        # for b) — label-of-label keeps convergence O(log diameter)
        lut = prop.select(F.col("node").alias("l_node"),
                          F.col("f").alias("l_f"), F.col("b").alias("l_b"))
        p2 = (
            prop.alias("p")
            .join(lut.alias("q"), F.col("p.f") == F.col("q.l_node"), "left")
            .select(F.col("p.node").alias("node"),
                    F.coalesce(F.col("q.l_f"), F.col("p.f")).alias("f"),
                    F.col("p.b").alias("b"))
        )
        return (
            p2.alias("p")
            .join(lut.alias("q"), F.col("p.b") == F.col("q.l_node"), "left")
            .select(F.col("p.node").alias("node"), F.col("p.f").alias("f"),
                    F.coalesce(F.col("q.l_b"), F.col("p.b")).alias("b"))
        )

    # monotone fixpoint: both label columns only ever decrease, so
    # sum(f)+sum(b) is strictly decreasing until the joint fixpoint
    last_sum = [None]

    def changed(_old: DataFrame, new: DataFrame) -> float:
        s = new.agg((F.sum("f") + F.sum("b")).alias("t")).collect()[0][0]
        d = 1.0 if last_sum[0] is None else float(last_sum[0] - s)
        last_sum[0] = s
        return d

    res = iterate(labels, step, iters, delta_fn=changed, tol=0.5)
    if not res.converged:
        # r12 FIX of a latent correctness bug: the coloring's f == b
        # certificate is only sound at the TRUE fixpoint — an
        # unconverged run leaves far nodes still holding f == b == own
        # id and scc() would silently label them singleton SCCs.
        # Measured at sf1: the trimmed core converges in 18 rounds, two
        # OVER the old 16-round cap, splitting a ~4k-member SCC into
        # singletons (caught by a driver-Tarjan referee when the r12
        # local finish landed; the sf1 leg was rows-only so counts
        # still matched).  The cap is now headroom (64 doublings), and
        # exhausting it is a loud failure — never a wrong labeling.
        raise RuntimeError(
            f"scc coloring: {iters}-round cap exhausted before the "
            "fixpoint (last deltas "
            f"{[int(d) for d in res.deltas[-3:]]}) — raise iters; an "
            "unconverged coloring must never be used (f==b is only a "
            "mutual-reachability certificate at the fixpoint)"
        )
    return res.state


def scc(edges: DataFrame, max_passes: int = 64,
        max_trim_rounds: int = 32) -> DataFrame:
    """Strongly connected components of a directed graph via
    Trim + Forward-Backward min-label coloring (the FW-BW-Trim scheme of
    the parallel-SCC literature, with Orzan-style coloring as the reach
    primitive):

    1. TRIM to fixpoint: a node with no in-edges or no out-edges inside
       the active subgraph is its own singleton SCC — peel until stable
       (kills the DAG periphery, which is what makes pure coloring
       O(#SCC) passes in the worst case).
    2. One coloring pass: fwd[v] = min id reachable FROM v, bwd[v] = min
       id reaching v; both computed in ONE fused pointer-doubling
       fixpoint (`_fwbw_coloring` — directed propagation is sound for
       doubling because a node's current label is always a node it can
       reach, so label-of-label is still reachable) — O(log diameter)
       rounds, monotone-sum fixpoint detection.
       fwd[v] == bwd[v] == m proves v and m mutually reachable, so every
       such v is labeled scc = m (this always finishes at least the SCC
       of each class minimum — see step 3 — so passes are O(log #SCC)
       expected and 1-2 in practice after trimming).
    3. Remove labeled nodes + incident edges, AND drop every surviving
       edge whose endpoints differ in (f, b): mutually reachable nodes
       share both labels (same reachable/reaching sets => same minima),
       so an SCC never spans two (f, b) classes and cross-class edges
       can never be intra-SCC.  This is the classic FW-BW recursion
       expressed data-parallel: the next pass colors every class
       independently and resolves (at least) each class's own minimum —
       the r6-r11 shape, which kept cross-class edges, resolved exactly
       ONE SCC per pass on a chain of 2-cycles; with class splitting
       the same chain needs 2 passes total.  Repeat on the residual.

    Returns (node, scc) for every node incident to an edge; scc = the
    minimum member id.  Deterministic — no randomness, fixpoints only.
    Raises RuntimeError if `max_passes` outer passes leave active nodes
    (each pass resolves >=1 SCC — better a loud failure than a silent
    partial labeling).  Empty edge input returns an empty (node, scc)
    frame.

    100TB: every step is an equi-join/agg on node id; the trim fixpoint
    and coloring fixpoint are each one cheap count/sum action per round
    (the reference's global barrier); state never leaves the cluster.
    """
    active = edges.select("src", "dst").distinct().transform(checkpoint_without_stats)
    active_nodes = _nodes(active).transform(checkpoint_without_stats)
    labeled_parts: list[DataFrame] = []
    finished_local = False
    for _ in range(max_passes):
        # bounded local finish (r12, guide §5.1 with the Borůvka probe
        # discipline): once the active subgraph fits locally, every
        # further trim/coloring round is a fixed-cost distributed job
        # over a near-empty graph — one Arrow collect + an O(V+E)
        # driver Tarjan replaces the whole tail.  Result-identical (SCC
        # labels are min member ids, algorithm-independent).
        local = _scc_try_local_finish(active, active_nodes)
        if local is not None:
            labeled_parts.append(local)
            release_checkpoint(active)
            finished_local = True
            break
        # --- trim singleton SCCs (no in- or no out-edges, including
        # nodes isolated by earlier peels) to fixpoint.  One peel per
        # materialization: chaining peels lazily between checkpoints was
        # MEASURED SLOWER (26s vs 16s at sf0.01) because the three
        # checkpoint branches (edges, nodes, trimmed batch) each
        # re-execute the overlapping peel subplans.
        for _t in range(max_trim_rounds):
            # one fused shuffle computes both degree flags
            deg = (
                active.select(F.col("src").alias("node"),
                              F.lit(1).alias("o"), F.lit(0).alias("i"))
                .unionByName(
                    active.select(F.col("dst").alias("node"),
                                  F.lit(0).alias("o"), F.lit(1).alias("i")))
                .groupBy("node")
                .agg(F.max("o").alias("o"), F.max("i").alias("i"))
            )
            # checkpoint the survivor set ONCE and reuse the materialized
            # blocks for the anti-join probe, the node set, and both
            # edge-rebuild joins — the r6-r11 shape re-derived `both`
            # lazily at each use site, recomputing the degree aggregation
            # up to 4x per trim round (guide §2.4: share the exchange)
            both = (
                deg.filter((F.col("o") == 1) & (F.col("i") == 1))
                .select("node")
                .transform(checkpoint_without_stats)
            )  # nodes with >=1 in AND >=1 out
            trimmed = active_nodes.join(both, "node", "left_anti")
            if trimmed.isEmpty():
                release_checkpoint(both)  # unchanged: keep prior frames
                break
            # trimmed derives from two materialized checkpoints;
            # no extra checkpoint needed to keep it computable
            labeled_parts.append(
                trimmed.select("node", F.col("node").alias("scc"))
            )
            active_nodes = both
            if both.isEmpty():
                break  # everything peeled — skip a no-op degree round
            prev_edges = active
            active = (
                active.join(both.withColumnRenamed("node", "src"), "src")
                .join(both.withColumnRenamed("node", "dst"), "dst")
                .select("src", "dst")
                .transform(checkpoint_without_stats)
            )
            # the superseded edge checkpoint is the loop's BIG block set
            # (full edge copy per trim round) and nothing reads it again
            # — labeled parts reference only node-set checkpoints.  Drop
            # it once the new eager checkpoint re-roots the lineage, or
            # an sf100 run retains O(rounds) edge copies and dies
            # unrolling blocks on a real-executor 8 GiB heap (measured;
            # see release_checkpoint).
            release_checkpoint(prev_edges)
        if active_nodes.isEmpty():
            break
        # second probe site: trimming may have shrunk the core under the
        # local cap — bail before paying a distributed coloring fixpoint
        local = _scc_try_local_finish(active, active_nodes)
        if local is not None:
            labeled_parts.append(local)
            release_checkpoint(active)
            finished_local = True
            break
        # --- FW-BW coloring pass on the trimmed core (every active node
        # now has >=1 in- and >=1 out-edge, so the colorings cover all)
        j = _fwbw_coloring(active, active_nodes)
        done = j.filter(F.col("f") == F.col("b"))
        labeled_parts.append(done.select("node", F.col("f").alias("scc")))
        rest = j.filter(F.col("f") != F.col("b"))
        if rest.isEmpty():
            active_nodes = rest.select("node")  # converged: all labeled
            break
        active_nodes = rest.select("node").transform(checkpoint_without_stats)
        # keep only edges INSIDE one (f, b) class: cross-class edges can
        # never be intra-SCC (see docstring step 3), and dropping them
        # both splits the residual into independent subproblems and
        # exposes new trim targets for the next pass
        sl = rest.select(F.col("node").alias("src"),
                         F.col("f").alias("sf"), F.col("b").alias("sb"))
        dl = rest.select(F.col("node").alias("dst"),
                         F.col("f").alias("df"), F.col("b").alias("db"))
        prev_edges = active
        active = (
            active.join(sl, "src").join(dl, "dst")
            .filter((F.col("sf") == F.col("df")) & (F.col("sb") == F.col("db")))
            .select("src", "dst")
            .transform(checkpoint_without_stats)
        )
        release_checkpoint(prev_edges)  # same O(rounds)->O(1) edge-copy
        # bound as the trim loop; `done`/`rest` read j's node-level
        # blocks, never this edge frame
    if not finished_local and not active_nodes.isEmpty():
        raise RuntimeError(
            f"scc(): {max_passes} FW-BW passes exhausted with active nodes "
            "remaining — raise max_passes (every pass resolves each (f,b) "
            "class's minimum SCC, so passes are O(log #SCC) expected)"
        )
    if not labeled_parts:
        # empty edge input: no node is incident to an edge
        return edges.select(
            F.col("src").alias("node"), F.col("src").alias("scc")
        ).limit(0)
    out = labeled_parts[0]
    for part in labeled_parts[1:]:
        out = out.unionByName(part)
    return out
