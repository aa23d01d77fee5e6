"""Group J — iterative algorithms (SURVEY §2B), the i2MapReduce
differentiator: fixed-iteration runs of the reference's example workloads
over fixture-derived graphs (FIXTURES.md §3).

Check types: pagerank, sssp (plain + weighted), apriori (batch, triples,
incremental), gimv, triangle-count and connected-components are
hash-checked against DuckDB oracles; kmeans / warm-start are
golden-checked against numpy replicas in tests/test_iterative.py (the
driver records rows-only for them).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import cte, load_tables
from ..operators import algorithms
from ..plans.iterate import checkpoint_without_stats, release_checkpoint

PAGERANK_ITERS = 10
PAGERANK_DAMPING = 0.85
SSSP_MAX_HOPS = 4
CC_ITERS = 8
KMEANS_K = 10
KMEANS_ITERS = 5
APRIORI_MIN_SUPPORT = 3


def q_iter_pagerank(spark, sf_dir):
    """PageRank, 10 fixed iterations, d=0.85, over the bipartite
    customer->part graph (edges_cp).  No dangling redistribution; nodes
    without in-edges hold (1-d)/N.  Hash-checked against 10 unrolled CTE
    iterations in DuckDB (and golden-checked vs a numpy replica)."""
    load_tables(spark, sf_dir)
    res = algorithms.pagerank(
        spark,
        spark.table("edges_cp"),
        iters=PAGERANK_ITERS,
        damping=PAGERANK_DAMPING,
        # fixed-count loop, no fixpoint action: cadence sweep (1/2/3/5,
        # two trials each) showed identical hashes, 2-5 equivalent and 1
        # ~15% slower — 5 keeps the fewest materializations for the same
        # wall time
        checkpoint_every=5,
    )
    return res.state.select("node", F.round("rank", 6).alias("rank"))


def q_iter_sssp(spark, sf_dir):
    """Hop-limited (<=4) BFS min-distance from the smallest part node over
    the co-purchase graph (edges_pp).  Hash-checked: DuckDB recursive CTE
    with UNION (distinct) recursion computes the same fixpoint."""
    load_tables(spark, sf_dir)
    # checkpoint BEFORE the scalar min action so the derived self-join
    # view is computed once and the hop loop reuses it; unlike .cache()
    # this leaves nothing persisted behind in the shared session
    edges = spark.table("edges_pp").transform(checkpoint_without_stats)
    source = edges.agg(F.min("src")).collect()[0][0]
    if source is None:  # empty graph: BFS from nowhere reaches nothing
        return spark.createDataFrame([], "node long, dist int")
    return algorithms.sssp(edges, int(source), max_hops=SSSP_MAX_HOPS)


def q_iter_connected_components(spark, sf_dir):
    """Min-label CC over edges_pp (pointer-doubling, fixpoint-stopped; the
    8 rounds are a safety cap, so the result is the TRUE component
    labeling).  Hash-checked against unrolled pointer-doubling CTEs in
    DuckDB (_cc_oracle_sql) plus a python propagation golden in tests."""
    load_tables(spark, sf_dir)
    return algorithms.connected_components(
        spark.table("edges_pp"), iters=CC_ITERS
    ).state


def q_iter_kmeans(spark, sf_dir):
    """K-means on embeddings: k=10, 5 fixed iterations, seeds = the 10
    smallest vec_ids, argmin ties -> lowest centroid id.  Hash-checked
    against an unrolled 5-iteration CTE replica (_kmeans_oracle_sql) —
    the (vec_id, cluster) output is integer-domain, and with random
    embeddings the argmin margins dwarf cross-engine float-sum ulps, so
    the assignment hashes identically; a numpy golden also covers it in
    tests/test_iterative.py."""
    load_tables(spark, sf_dir)
    assign, _, _ = algorithms.kmeans(
        spark, spark.table("embeddings"), k=KMEANS_K, iters=KMEANS_ITERS
    )
    return assign


def q_iter_apriori_pairs(spark, sf_dir):
    """APriori frequent item pairs over order baskets, support >= 3 —
    the reference's 4th example app.  Pair generation is ARRAY-side: one
    groupBy(basket) collect_set (dedupe inside the agg), then ordered
    pairs via nested transform/flatten — vs the basket self-join this
    removes two shuffles (the separate dedupe agg and the join's
    repartition), measured 1.4 s vs 1.8 s at sf0.1.  100TB: the shuffle
    is O(lineitem) once plus O(candidate pairs) for the count; the giant
    basket that would blow up C(n,2) is bounded by order size (TPC-H max
    7 parts/order; cap with slice() for adversarial data).

    NULL join keys (r10): rows with NULL basket id are excluded — the
    oracle's relational shape is a basket SELF-JOIN, where NULL keys
    never match; a groupBy would instead pool every orphaned line into
    one giant pseudo-basket (825 vs 172 pairs on the NULL-FK fixture)
    AND recreate the C(n,2) blowup this plan avoids.  NULL items need
    no filter: collect_set skips NULLs, as does the oracle's item1 <
    item2 predicate."""
    load_tables(spark, sf_dir)
    li = (
        spark.table("lineitem")
        .filter(F.col("l_orderkey").isNotNull())
        .select(F.col("l_orderkey").alias("basket"), F.col("l_partkey").alias("item"))
    )
    sets = li.groupBy("basket").agg(F.sort_array(F.collect_set("item")).alias("its"))
    pairs = sets.select(
        F.explode(
            F.expr(
                "flatten(transform(its, (x, i) -> "
                "transform(slice(its, i + 2, size(its)), "
                "y -> struct(x AS item1, y AS item2))))"
            )
        ).alias("p")
    ).select("p.item1", "p.item2")
    return (
        pairs.groupBy("item1", "item2")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= APRIORI_MIN_SUPPORT)
    )


APRIORI_TRIPLE_SUPPORT = 2


def q_iter_apriori_triples(spark, sf_dir):
    """Level-wise APriori run to k=3 (the reference's iterative
    formulation: L1 -> prune -> L2 -> prune -> L3), frequent triples with
    support >= 2.  Hash-checked against a flat 3-way self-join — the
    level-wise pruning must not change the answer, only the work."""
    load_tables(spark, sf_dir)
    levels = algorithms.apriori_levels(
        spark.table("baskets"), min_support=APRIORI_TRIPLE_SUPPORT, max_k=3
    )
    return levels[3].select(
        F.element_at("items", 1).alias("item1"),
        F.element_at("items", 2).alias("item2"),
        F.element_at("items", 3).alias("item3"),
        "support",
    )


PPR_ITERS = 6


def q_iter_pagerank_personalized(spark, sf_dir):
    """Personalized PageRank (random walk with restart) from the smallest
    part node over the co-purchase graph edges_pp: teleport mass (1-d)
    lands only on the seed, ranks measure proximity to it — the
    seed-based recommendation score.  6 fixed iterations, d=0.85;
    hash-checked against unrolled CTEs."""
    load_tables(spark, sf_dir)
    edges = spark.table("edges_pp").transform(checkpoint_without_stats)
    seed = edges.agg(F.min("src")).collect()[0][0]
    # empty graph: pagerank's n==0 guard returns the empty rank vector;
    # the 0 seed is never consulted
    source = 0 if seed is None else int(seed)
    res = algorithms.pagerank(
        spark, edges, iters=PPR_ITERS, damping=PAGERANK_DAMPING,
        teleport_to=source,
        checkpoint_every=3,  # fixed-count loop: fewer materializations,
        # values (and hash) independent of cadence
    )
    return res.state.select("node", F.round("rank", 6).alias("rank"))


KCORE_K = 2
KCORE_ROUNDS = 12          # cap == oracle unroll count (see kcore docstring)
KCORE_MIN_COPURCHASE = 2   # edge = parts co-purchased in >= 2 orders


def q_iter_kcore(spark, sf_dir):
    """k-core (k=2) of the THRESHOLDED co-purchase graph (parts appearing
    together in >= 2 orders — the raw edges_pp is too dense to peel).
    Iterative peeling to fixpoint with a 12-round cap; hash-checked
    against 12 unrolled peel rounds in DuckDB (equal by monotonicity
    wherever the fixpoint lands)."""
    load_tables(spark, sf_dir)
    pairs = (
        spark.table("edges_pp_w")  # shared lazily-cached co-purchase view
        .filter(F.col("c") >= KCORE_MIN_COPURCHASE)
        .select("src", "dst")
    )
    return algorithms.kcore(pairs, k=KCORE_K, max_rounds=KCORE_ROUNDS)


HITS_ITERS = 4


def q_iter_hits(spark, sf_dir):
    """HITS hubs/authorities (L1-normalized, 4 fixed iterations) over the
    bipartite customer->part graph: hub = how broadly a customer buys,
    authority = how broadly a part is bought.  Hash-checked against 4
    unrolled CTE iterations in DuckDB (same algebra, scalar-subquery
    normalization)."""
    load_tables(spark, sf_dir)
    return algorithms.hits(spark, spark.table("edges_cp"), iters=HITS_ITERS)


GIMV_ITERS = 3


def q_iter_sssp_weighted(spark, sf_dir):
    """Weighted SSSP as GIM-V in the min-plus (tropical) semiring:
    combine2 = dist + edge weight, combineAll = min, assign = least —
    4 Bellman-Ford relaxation rounds = exact min cost over paths of <= 4
    edges.  Weights are derived deterministically from the keys
    ((src+dst) % 7 + 1) so both engines see the same graph; hash-checked
    against a DuckDB recursive CTE."""
    load_tables(spark, sf_dir)
    edges = spark.table("edges_pp").withColumn(
        "w", ((F.col("src") + F.col("dst")) % 7 + 1).cast("int")
    ).transform(checkpoint_without_stats)  # one compute of the self-join view for
    # min-action + rounds; no cache left behind in the shared session
    seed = edges.agg(F.min("src")).collect()[0][0]
    # empty graph: seed 0 matches no node, the state stays all-NULL and
    # the isNotNull filter below returns the (correct) empty result
    source = 0 if seed is None else int(seed)
    state0 = algorithms._nodes(edges).withColumn(
        "val",
        F.when(F.col("node") == source, F.lit(0)).cast("int"),
    )
    res = algorithms.gimv(
        edges,
        state0,
        combine2=lambda w, v: v + w,
        combine_all=F.min,
        assign=lambda old, agg: F.least(old, agg),
        iters=SSSP_MAX_HOPS,
        weight_col="w",
        checkpoint_every=1,  # 2k-row state: shallow jobs beat one 12-join plan
    )
    return (
        res.state.filter(F.col("val").isNotNull())
        .select("node", F.col("val").cast("int").alias("dist"))
    )


def q_iter_gimv(spark, sf_dir):
    """GIM-V (the reference's PEGASUS-model example app) in the counting
    semiring: v0 = 1, v'(n) = sum over in-edges of v(src) — combine2 =
    identity, combineAll = sum, assign = replace-with-agg.  After 3
    iterations v(n) = the number of 3-step walks ending at n.  Stays in
    the integer domain, so this is the one GIM-V instantiation that
    hash-checks exactly against plain chained SQL (no float reduce-order
    drift) — pagerank/kmeans stay golden-checked instead."""
    load_tables(spark, sf_dir)
    edges = spark.table("edges_pp")
    state0 = algorithms._nodes(edges).withColumn("val", F.lit(1).cast("long"))
    res = algorithms.gimv(
        edges,
        state0,
        combine2=lambda _w, v: v,
        combine_all=F.sum,
        assign=lambda _old, agg: F.coalesce(agg, F.lit(0).cast("long")),
        iters=GIMV_ITERS,
    )
    return res.state.select("node", F.col("val").alias("walks3"))


RULE_MIN_CONF = 0.1  # fixture baskets are sparse: max observed conf ~0.14


def q_iter_apriori_rules(spark, sf_dir):
    """Association rules from the frequent pairs — the canonical consumer
    of APriori's output (the reference's 4th example app carried to its
    use case): for each frequent pair {a,b}, rules a=>b and b=>a with
    confidence = support(pair) / support(antecedent), kept at confidence
    >= 0.1.  One extra broadcast-sized join against per-item supports;
    the 4dp confidence round is engine-stable (exact small-int ratios;
    Spark HALF_UP == DuckDB half-away for positive values)."""
    load_tables(spark, sf_dir)
    b = spark.table("baskets")
    item_sup = b.groupBy("item").agg(F.count("*").alias("item_support"))
    # r12: pair generation is ARRAY-side, the same rewrite
    # q_iter_apriori_pairs carries (one groupBy(basket) collect_set +
    # ordered pairs via nested transform — two shuffles fewer than the
    # basket self-join; measured 1.4 vs 1.8 s there).  Equivalence to
    # the self-join the oracle states: baskets is DISTINCT (basket,
    # item) by construction, so collect_set = the basket's item set and
    # the lexicographic expansion is exactly the item1 < item2 join;
    # NULL baskets are excluded (NULL join keys never match), NULL items
    # are skipped by collect_set (the oracle's item1 < item2 predicate
    # drops them too).  item_sup stays on the UNFILTERED rows — the
    # antecedent support counts NULL-basket occurrences, as the oracle's
    # per-item count does.
    sets = (
        b.filter(F.col("basket").isNotNull())
        .groupBy("basket")
        .agg(F.sort_array(F.collect_set("item")).alias("its"))
    )
    pairs = (
        sets.select(
            F.explode(
                F.expr(
                    "flatten(transform(its, (x, i) -> "
                    "transform(slice(its, i + 2, size(its)), "
                    "y -> struct(x AS item1, y AS item2))))"
                )
            ).alias("p")
        )
        .groupBy("p.item1", "p.item2")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= APRIORI_MIN_SUPPORT)
    )
    # both rule directions from ONE pass over pairs (a union of two
    # selects would compute the self-join + aggregation subtree twice)
    both = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item1").alias("antecedent"),
                    F.col("item2").alias("consequent"),
                    F.col("support").alias("support"),
                ),
                F.struct(
                    F.col("item2").alias("antecedent"),
                    F.col("item1").alias("consequent"),
                    F.col("support").alias("support"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    rules = both.join(
        item_sup.withColumnRenamed("item", "antecedent"), "antecedent"
    )
    conf = F.col("support").cast("double") / F.col("item_support")
    return rules.filter(conf >= RULE_MIN_CONF).select(
        "antecedent",
        "consequent",
        "support",
        F.round(conf, 4).alias("confidence"),
    )


N_APRIORI_DELTAS = 3


def q_inc_apriori_pairs(spark, sf_dir):
    """Incremental APriori (the paper's §7 headline app for fine-grained
    incremental processing): pair supports are additive per basket, so
    the preserved MRBG state is the (item1,item2) -> count table.
    Baskets arrive in 3 delta batches (chunked BY basket, so every pair
    is contained in one batch); each batch's pairs fold key-locally into
    the preserved state (A11 merge), and the final support filter runs on
    preserved state only.  Hash-checks against the one-shot self-join
    oracle — the incremental plan must reproduce the batch answer
    exactly."""
    from ..streaming.incremental import fold_delta

    load_tables(spark, sf_dir)
    baskets = spark.table("baskets")
    state = None
    for i in range(N_APRIORI_DELTAS):
        chunk = baskets.filter(F.pmod("basket", F.lit(N_APRIORI_DELTAS)) == i)
        # r12 measured dead end (do not repeat): generating each batch's
        # pairs ARRAY-side (the q_iter_apriori_rules rewrite) read 0.90x
        # here — min-of-3 interleaved 4.29 vs 4.75 s at sf0.1, slower in
        # all three rounds.  Per-chunk the self-join's big-side shuffle
        # is only ~1/3 of baskets while the array form still pays a
        # collect_set aggregation + explode per chunk before fold_delta
        # re-aggregates; the fold's groupBy dominates either way.
        a, b = chunk.alias("a"), chunk.alias("b")
        pairs = a.join(
            b,
            (F.col("a.basket") == F.col("b.basket"))
            & (F.col("a.item") < F.col("b.item")),
        ).select(F.col("a.item").alias("item1"), F.col("b.item").alias("item2"))
        state = fold_delta(state, pairs, ["item1", "item2"], {}).transform(checkpoint_without_stats)
    return (
        state.filter(F.col("n") >= APRIORI_MIN_SUPPORT)
        .select("item1", "item2", F.col("n").alias("support"))
    )


WARMSTART_DAMPING = 0.5  # delta decays ~d^k; 0.5 keeps the two converge
# Stopping when sum|Δrank| < 1e-5 bounds every node's distance to the true
# fixpoint by tol*d/(1-d) = 1e-5 — still inside the 6dp output rounding of
# rank MASS spread over 2000 nodes (per-node error ~5e-9); measured at
# sf0.01: 1e-7 ran 8 cold / 6 warm iterations, 1e-5 runs 6 / 4 for the
# same 6dp-rounded ranks and the same warm-start iteration drop, ~4s less
# wall per call.  Tighter tolerances bought only delta-action iterations.
WARMSTART_TOL = 1e-5


def _perturbed_edges(spark, edges):
    """Delta input (ref op A12, batch form): rewire ~1% of edges to the
    graph's min node.  Stays INSIDE the existing node set — adding new
    nodes changes N, which shifts the (1-d)/N base of every rank and
    erases the warm start's head start."""
    hub = edges.agg(F.min("src")).collect()[0][0]
    extra = (
        edges.filter((F.col("src") % 97 == 0) & (F.col("dst") != hub))
        .select("src", F.lit(hub).cast("long").alias("dst"))
        .distinct()
    )
    return edges.union(extra)


def q_inc_iter_warmstart(spark, sf_dir):
    """Incremental-iterative restart (ref op A13): converge PageRank to
    tol, rewire ~1% of edges (the delta input), re-converge seeded from
    the previous state.  Runs on edges_pp (connected, gradual mixing; the
    bipartite edges_cp is a depth-2 DAG that converges in 3 iters and
    leaves no warm-start headroom).  Returns the re-converged ranks; the
    iteration-count drop vs cold restart is asserted in tests.

    Rows-only by design: the output is a tolerance-converged float
    fixpoint whose exact values depend on the iteration count at which
    the tol test fires — a SQL oracle would have to replay the damped
    power iteration to the same adaptive depth, which DuckDB's
    recursive CTEs can't terminate on a float-threshold condition
    portably (1-ulp drift flips the stopping iteration).  The pytest
    golden instead asserts rank-sum conservation, the warm-vs-cold
    iteration-count drop, and value agreement between the two runs."""
    load_tables(spark, sf_dir)
    # materialize the self-join view once: two converged PageRank runs and
    # the perturbation's min-action all start from the same checkpoint
    edges = spark.table("edges_pp").transform(checkpoint_without_stats)
    # r12: the perturbation rewires edges INSIDE the existing node set
    # (see _perturbed_edges), so both runs share ONE node-set build —
    # the distinct shuffle + checkpoint is paid once, not per run
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    nodes = checkpoint_without_stats(
        algorithms._nodes(edges).repartition(n_part, "node")
    )
    # checkpoint_every=2: the fixpoint barrier fires every 2nd iteration
    # (vs the last checkpointed state), halving the per-iteration actions
    # for the same converged answer — the reference's "check the fixpoint
    # less often than you iterate" knob
    cold = algorithms.pagerank(
        spark, edges, iters=60, damping=WARMSTART_DAMPING, tol=WARMSTART_TOL,
        checkpoint_every=2, nodes=nodes,
    )
    warm = algorithms.pagerank(
        spark,
        _perturbed_edges(spark, edges),
        iters=60,
        damping=WARMSTART_DAMPING,
        tol=WARMSTART_TOL,
        init_ranks=cold.state,
        checkpoint_every=2,
        nodes=nodes,
    )
    # warm.state is eagerly checkpointed, so the shared structure blocks
    # can go before the caller reads the result
    release_checkpoint(nodes)
    return warm.state.select("node", F.round("rank", 6).alias("rank"))


MST_MIN_COPURCHASE = 2


def q_iter_mst_forest(spark, sf_dir):
    """Borůvka minimum spanning forest over the thresholded co-purchase
    graph (same graph as k-core: parts co-bought in >= 2 orders), edge
    distance = 1/co-purchase-count — the strongest-links backbone a
    recommender keeps from a dense similarity graph.  O(log n) Borůvka
    rounds, each one comp-join + per-component min + CC contraction
    (operators/algorithms.py:boruvka_msf).

    Rows-only by design (MST is not reasonably SQL-expressible); pytest
    checks the edge set against a Kruskal union-find golden under the
    identical (w, a, b) total order and asserts the forest invariant
    |edges| = |nodes| - |components|."""
    load_tables(spark, sf_dir)
    weighted = (
        spark.table("edges_pp_w")  # shared lazily-cached co-purchase view
        .filter(F.col("c") >= MST_MIN_COPURCHASE)
        .select("src", "dst", (F.lit(1.0) / F.col("c")).alias("w"))
        .transform(checkpoint_without_stats)
    )
    forest = algorithms.boruvka_msf(weighted, max_rounds=8)
    return forest.select("a", "b", F.round("w", 6).alias("dist"))


def q_inc_cc_delta(spark, sf_dir):
    """Incremental connected components under edge ADDITIONS (ref op
    A13, second incremental-iterative app next to the PageRank warm
    start): run CC on ~86% of edges_pp (a deterministic (src+dst)%7
    holdout — symmetric pairs drop together, preserving symmetry), then
    feed the held-out edges back as the delta and warm-start from the
    converged labels.

    Min-label propagation is monotone under additions, so the warm run
    converges to the SAME fixpoint as a cold run on the full graph —
    which is exactly what the driver hash-checks (the oracle is the
    full-graph unrolled pointer-doubling CTE, identical to
    iter_connected_components').  The iteration-count drop vs the cold
    restart is asserted in tests — the paper's headline claim, measured
    not assumed."""
    load_tables(spark, sf_dir)
    edges = spark.table("edges_pp").transform(checkpoint_without_stats)
    base = edges.filter((F.col("src") + F.col("dst")) % 7 != 0)
    cold_labels = algorithms.connected_components(base, iters=CC_ITERS).state
    return algorithms.connected_components(
        edges, iters=CC_ITERS, init_labels=cold_labels
    ).state


def q_iter_triangle_count(spark, sf_dir):
    """Global triangle count over the co-purchase graph — the canonical
    GIM-V-family graph metric.

    Edge-iterator form: orient every edge low->high (src<dst) so each
    triangle a<b<c is counted exactly once at edge (a,b) as
    |N⁺(a) ∩ N⁺(b)| — the sorted out-neighbor arrays are built with ONE
    groupBy, joined onto both endpoints, and intersected JVM-side with
    `array_intersect`.  vs the wedge-join form (enumerate (a,b)+(b,c)
    rows, close against the edge set): the wedge set NEVER materializes
    as shuffle rows.  The r7 sf1 stress sweep motivated this: the wedge
    join built 493M wedge rows at 10x data and spilled at 206s (23.5x
    its sf0.1 time); the same count via array intersection keeps the
    shuffle at O(m) adjacency entries and only the (bounded-width)
    neighbor arrays travel.  A degree-ordered orientation was measured
    WORSE here — the co-purchase graph is a union of per-order cliques
    with uniform intra-clique degrees, so degree order shrinks nothing
    and struct join keys cost extra.

    100TB: max |N⁺(v)| is bounded by the hub's higher-id degree (222 at
    every local SF); if a hub's array outgrew a row, the standard split
    is salting N⁺(hub) into chunks — not needed at these densities."""
    load_tables(spark, sf_dir)
    e = spark.table("edges_pp").filter(F.col("src") < F.col("dst"))
    adj = e.groupBy("src").agg(
        F.sort_array(F.collect_list("dst")).alias("nbrs")
    )
    paired = (
        e.join(adj.withColumnRenamed("src", "u"), F.col("src") == F.col("u"))
        .withColumnRenamed("nbrs", "nu")
        .join(
            adj.withColumnRenamed("src", "v"),
            F.col("dst") == F.col("v"),
            "left",
        )
        .withColumnRenamed("nbrs", "nv")
    )
    per_edge = paired.select(
        F.size(
            F.array_intersect(
                F.col("nu"), F.coalesce(F.col("nv"), F.array().cast("array<bigint>"))
            )
        ).alias("n")
    )
    # coalesce: sum over an empty edge set is NULL, but the triangle
    # count of an empty graph is 0 (the oracle's count(*) agrees)
    return per_edge.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_triangles")
    )


_EDGES_PP = cte("edges_pp")

LPA_ITERS = 3
LPA_SEED_MOD = 5


def q_iter_label_propagation(spark, sf_dir):
    """3 synchronous rounds of majority label propagation over the
    co-purchase graph, seeded with label = node % 5 — the community-
    detection workload in the reference's iterative model (same
    structure/state split as PageRank, with argmax in place of sum).
    Deterministic ties -> smallest label; hash-checked against 3
    unrolled rounds in DuckDB."""
    load_tables(spark, sf_dir)
    edges = spark.table("edges_pp").transform(checkpoint_without_stats)
    labels0 = algorithms._nodes(edges).withColumn(
        "label", (F.col("node") % LPA_SEED_MOD).cast("long")
    )
    return algorithms.label_propagation(edges, labels0, iters=LPA_ITERS)


WALK_STEPS = 8


def q_iter_markov_walk(spark, sf_dir):
    """Deterministic pseudo-random graph walk — the testable stand-in
    for Monte-Carlo walk sampling (node2vec-style corpus generation):
    from the minimum node, 8 steps where the "random" neighbor choice
    at step t from node u is argmin over out-neighbors v of
    md5("t-u-v").  The hash plays the RNG, so both engines reproduce
    the identical path and the key stays hash-checkable — at scale the
    same construction runs millions of walks in parallel, one row each,
    with the hash seeded per (walk, step).

    Plan: 8 chained one-row joins against the checkpointed edge list —
    each step is a broadcast lookup, min_by picks the neighbor, the
    final result is the 9-row path."""
    load_tables(spark, sf_dir)
    edges = spark.table("edges_pp").transform(checkpoint_without_stats)
    cur = edges.agg(F.min("src").alias("node"))
    path = [cur.select(F.lit(0).alias("step"), "node")]
    for t in range(1, WALK_STEPS + 1):
        h = F.md5(
            F.concat_ws("-", F.lit(t), F.col("src").cast("string"),
                        F.col("dst").cast("string"))
        )
        cur = (
            F.broadcast(cur)
            .join(edges, F.col("node") == F.col("src"))
            .agg(F.min_by("dst", h).alias("node"))
        )
        path.append(cur.select(F.lit(t).alias("step"), "node"))
    out = path[0]
    for p in path[1:]:
        out = out.unionByName(p)
    return out


QUERIES = {
    "iter_markov_walk": q_iter_markov_walk,
    "iter_label_propagation": q_iter_label_propagation,
    "iter_hits": q_iter_hits,
    "iter_kcore": q_iter_kcore,
    "iter_pagerank_personalized": q_iter_pagerank_personalized,
    "iter_pagerank": q_iter_pagerank,
    "iter_sssp": q_iter_sssp,
    "iter_connected_components": q_iter_connected_components,
    "inc_cc_delta": q_inc_cc_delta,
    "iter_mst_forest": q_iter_mst_forest,
    "iter_kmeans": q_iter_kmeans,
    "iter_apriori_pairs": q_iter_apriori_pairs,
    "iter_apriori_triples": q_iter_apriori_triples,
    "iter_apriori_rules": q_iter_apriori_rules,
    "iter_gimv": q_iter_gimv,
    "iter_sssp_weighted": q_iter_sssp_weighted,
    "inc_apriori_pairs": q_inc_apriori_pairs,
    "inc_iter_warmstart": q_inc_iter_warmstart,
    "iter_triangle_count": q_iter_triangle_count,
}

ORACLES = {
    "iter_triangle_count": (
        _EDGES_PP
        + ", h AS (SELECT src, dst FROM edges_pp WHERE src < dst) "
        "SELECT count(*) AS n_triangles "
        "FROM h e1 JOIN h e2 ON e2.src = e1.dst "
        "JOIN h e3 ON e3.src = e1.src AND e3.dst = e2.dst"
    ),
    "iter_sssp": (
        _EDGES_PP
        + ", walk(node, dist) AS ( "
        # HAVING drops the seed row on an empty graph (Spark guard parity)
        "SELECT CAST(min(src) AS BIGINT) AS node, 0 AS dist FROM edges_pp "
        "HAVING min(src) IS NOT NULL "
        "UNION "
        "SELECT e.dst, w.dist + 1 FROM walk w JOIN edges_pp e ON e.src = w.node "
        f"WHERE w.dist < {SSSP_MAX_HOPS}) "
        "SELECT node, CAST(min(dist) AS INT) AS dist FROM walk GROUP BY node"
    ).replace("WITH ", "WITH RECURSIVE ", 1),
    "iter_apriori_pairs": (
        cte("baskets")
        + "SELECT a.item AS item1, b.item AS item2, count(*) AS support "
        "FROM baskets a JOIN baskets b "
        "ON a.basket = b.basket AND a.item < b.item "
        "GROUP BY a.item, b.item "
        f"HAVING count(*) >= {APRIORI_MIN_SUPPORT}"
    ),
    # the incremental plan must land on the same answer as the one-shot
    # self-join — identical oracle on purpose
    "inc_apriori_pairs": (
        cte("baskets")
        + "SELECT a.item AS item1, b.item AS item2, count(*) AS support "
        "FROM baskets a JOIN baskets b "
        "ON a.basket = b.basket AND a.item < b.item "
        "GROUP BY a.item, b.item "
        f"HAVING count(*) >= {APRIORI_MIN_SUPPORT}"
    ),
    "iter_apriori_rules": (
        cte("baskets")
        + ", item_sup AS (SELECT item, count(*) AS item_support"
        " FROM baskets GROUP BY item), "
        "pairs AS (SELECT a.item AS item1, b.item AS item2, count(*) AS support "
        "FROM baskets a JOIN baskets b "
        "ON a.basket = b.basket AND a.item < b.item "
        "GROUP BY a.item, b.item "
        f"HAVING count(*) >= {APRIORI_MIN_SUPPORT}), "
        "rules AS (SELECT item1 AS antecedent, item2 AS consequent, support"
        " FROM pairs UNION ALL"
        " SELECT item2, item1, support FROM pairs) "
        "SELECT antecedent, consequent, support, "
        "round(CAST(support AS DOUBLE) / item_support, 4) AS confidence "
        "FROM rules JOIN item_sup ON item_sup.item = rules.antecedent "
        f"WHERE CAST(support AS DOUBLE) / item_support >= {RULE_MIN_CONF}"
    ),
    "iter_apriori_triples": (
        cte("baskets")
        + "SELECT a.item AS item1, b.item AS item2, c.item AS item3,"
        " count(*) AS support"
        " FROM baskets a"
        " JOIN baskets b ON a.basket = b.basket AND a.item < b.item"
        " JOIN baskets c ON b.basket = c.basket AND b.item < c.item"
        " GROUP BY 1, 2, 3"
        f" HAVING count(*) >= {APRIORI_TRIPLE_SUPPORT}"
    ),
    "iter_sssp_weighted": (
        _EDGES_PP
        + ", edges_w AS (SELECT src, dst,"
        " CAST((src + dst) % 7 + 1 AS INT) AS w FROM edges_pp), "
        "walk(node, dist, hops) AS ( "
        # HAVING drops the seed row on an empty graph (Spark guard parity)
        "SELECT CAST(min(src) AS BIGINT), 0, 0 FROM edges_pp "
        "HAVING min(src) IS NOT NULL "
        "UNION "
        "SELECT e.dst, w.dist + e.w, w.hops + 1"
        " FROM walk w JOIN edges_w e ON e.src = w.node "
        f"WHERE w.hops < {SSSP_MAX_HOPS}) "
        "SELECT node, CAST(min(dist) AS INT) AS dist FROM walk GROUP BY node"
    ).replace("WITH ", "WITH RECURSIVE ", 1),
    "iter_gimv": (
        _EDGES_PP
        + ", nodes AS (SELECT src AS node FROM edges_pp"
        " UNION SELECT dst FROM edges_pp), "
        "v0 AS (SELECT node, CAST(1 AS BIGINT) AS val FROM nodes), "
        "m1 AS (SELECT e.dst AS node, CAST(sum(v.val) AS BIGINT) AS agg"
        " FROM edges_pp e JOIN v0 v ON v.node = e.src GROUP BY e.dst), "
        "v1 AS (SELECT n.node, coalesce(m.agg, 0) AS val"
        " FROM nodes n LEFT JOIN m1 m ON m.node = n.node), "
        "m2 AS (SELECT e.dst AS node, CAST(sum(v.val) AS BIGINT) AS agg"
        " FROM edges_pp e JOIN v1 v ON v.node = e.src GROUP BY e.dst), "
        "v2 AS (SELECT n.node, coalesce(m.agg, 0) AS val"
        " FROM nodes n LEFT JOIN m2 m ON m.node = n.node), "
        "m3 AS (SELECT e.dst AS node, CAST(sum(v.val) AS BIGINT) AS agg"
        " FROM edges_pp e JOIN v2 v ON v.node = e.src GROUP BY e.dst) "
        "SELECT n.node, coalesce(m.agg, 0) AS walks3"
        " FROM nodes n LEFT JOIN m3 m ON m.node = n.node"
    ),
    # iter_pagerank / iter_connected_components / iter_kmeans are
    # registered below via their SQL generators (unrolled chained CTEs).
    # golden-checked (numpy replica) remains: inc_iter_warmstart
    # (tol-converged floats — the iteration COUNT depends on float
    # comparisons, which no fixed unrolling can express).
}


def _cc_oracle_sql(rounds: int) -> str:
    """Connected components over edges_pp as unrolled pointer-doubling:
    each round takes the min label over in-neighbors then shortcuts
    label <- label-of-label — the same O(E x rounds) scheme the Spark
    operator runs, so ~log2(diameter) rounds reach the fixpoint (the
    earlier recursive-CTE label walk enumerated O(n^2) (node, origin)
    tuples on the giant component: 24 s at sf0.01; this runs in
    milliseconds).  Both converge to the unique min-label-per-component
    fixpoint, so any round count past convergence hashes identically —
    the local harness run proves `rounds` suffices at the tested SF."""
    # Every CTE is MATERIALIZED: DuckDB inlines plain CTEs per reference,
    # and p{k}/l{k-1} are each referenced twice per round — inlining would
    # double the plan every round (2^rounds copies of the lineitem
    # self-join; observed as a hang + fd exhaustion at 10 rounds).
    head = (
        cte("edges_pp").replace("edges_pp AS (", "edges_pp AS MATERIALIZED (", 1)
        + ", nodes AS MATERIALIZED (SELECT src AS node FROM edges_pp"
        " UNION SELECT dst FROM edges_pp), "
        "l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes)"
    )
    steps = []
    for k in range(1, rounds + 1):
        steps.append(
            f", m{k} AS MATERIALIZED (SELECT e.dst AS node, min(l.label) AS nl"
            f" FROM edges_pp e JOIN l{k - 1} l ON l.node = e.src"
            " GROUP BY e.dst)"
            f", p{k} AS MATERIALIZED (SELECT l.node,"
            " least(l.label, coalesce(m.nl, l.label)) AS label"
            f" FROM l{k - 1} l LEFT JOIN m{k} m ON m.node = l.node)"
            f", l{k} AS MATERIALIZED (SELECT p.node,"
            " coalesce(q.label, p.label) AS label"
            f" FROM p{k} p LEFT JOIN p{k} q ON q.node = p.label)"
        )
    return head + "".join(steps) + f" SELECT node, label FROM l{rounds}"


def _pagerank_oracle_sql(iters: int, damping: float) -> str:
    """Unrolled PageRank over edges_cp: r_{k+1}(v) = (1-d)/N +
    d * sum_{u->v} r_k(u)/outdeg(u); nodes without in-edges keep the
    base term (matching algorithms.pagerank's no-dangling-redistribution
    semantics)."""
    head = (
        cte("edges_cp").replace("edges_cp AS (", "edges_cp AS MATERIALIZED (", 1)
        + ", nodes AS (SELECT src AS node FROM edges_cp"
        " UNION SELECT dst FROM edges_cp), "
        "nn AS (SELECT count(*)::DOUBLE AS n FROM nodes), "
        "od AS (SELECT src, count(*)::DOUBLE AS outdeg"
        " FROM edges_cp GROUP BY src), "
        "r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"
    )
    steps = []
    for k in range(1, iters + 1):
        steps.append(
            f", r{k} AS (SELECT nd.node, "
            f"({1.0 - damping} / (SELECT n FROM nn))"
            f" + {damping} * coalesce(m.mass, 0.0) AS rank "
            "FROM nodes nd LEFT JOIN ("
            "SELECT e.dst AS node, sum(r.rank / od.outdeg) AS mass "
            f"FROM edges_cp e JOIN r{k - 1} r ON r.node = e.src "
            "JOIN od ON od.src = e.src GROUP BY e.dst) m ON m.node = nd.node)"
        )
    return (
        head + "".join(steps)
        + f" SELECT node, round(rank, 6) AS rank FROM r{iters}"
    )


def _lpa_oracle_sql(iters: int, seed_mod: int, max_label: int = 1000) -> str:
    """Unrolled majority label propagation: per round, count neighbor
    labels arriving at each dst and take max_by(label, c*max_label -
    label) — the same (count DESC, label ASC) argmax as the operator."""
    head = (
        cte("edges_pp").replace("edges_pp AS (", "edges_pp AS MATERIALIZED (", 1)
        + ", nodes AS (SELECT DISTINCT src AS node FROM edges_pp), "
        f"l0 AS (SELECT node, node % {seed_mod} AS label FROM nodes)"
    )
    steps = []
    for k in range(1, iters + 1):
        steps.append(
            f", l{k} AS (SELECT p.node, coalesce(b.blab, p.label) AS label "
            f"FROM l{k - 1} p LEFT JOIN ("
            f"SELECT dst, max_by(msg, c * {max_label} - msg) AS blab FROM ("
            "SELECT e2.dst AS dst, l.label AS msg, count(*) AS c "
            f"FROM edges_pp e2 JOIN l{k - 1} l ON l.node = e2.src "
            "GROUP BY 1, 2) cnt "
            "GROUP BY dst) b ON b.dst = p.node)"
        )
    return (
        head + "".join(steps)
        + f" SELECT node, label FROM l{iters}"
    )


def _hits_oracle_sql(iters: int) -> str:
    """Unrolled L1-normalized HITS over edges_cp (same algebra as
    algorithms.hits: auth from hubs then normalize, hubs from auths then
    normalize, per iteration)."""
    head = (
        cte("edges_cp").replace("edges_cp AS (", "edges_cp AS MATERIALIZED (", 1)
        + ", srcs AS (SELECT DISTINCT src AS node FROM edges_cp), "
        "h0 AS (SELECT node, 1.0 AS hub FROM srcs)"
    )
    steps = []
    for k in range(1, iters + 1):
        steps.append(
            # MATERIALIZED throughout: each CTE is referenced twice (FROM +
            # the scalar normalization subquery); inlining would re-expand
            # the whole chain per reference — exponential in `iters`
            f", a{k}raw AS MATERIALIZED (SELECT e.dst AS node, sum(h.hub) AS auth "
            f"FROM edges_cp e JOIN h{k - 1} h ON h.node = e.src GROUP BY e.dst)"
            f", a{k} AS MATERIALIZED (SELECT node, auth / (SELECT sum(auth) FROM a{k}raw) AS auth "
            f"FROM a{k}raw)"
            f", h{k}raw AS MATERIALIZED (SELECT e.src AS node, sum(a.auth) AS hub "
            f"FROM edges_cp e JOIN a{k} a ON a.node = e.dst GROUP BY e.src)"
            f", h{k} AS MATERIALIZED (SELECT node, hub / (SELECT sum(hub) FROM h{k}raw) AS hub "
            f"FROM h{k}raw)"
        )
    # final auth is recomputed from the FINAL hubs (matches the operator)
    fin = (
        f", afin_raw AS MATERIALIZED (SELECT e.dst AS node, sum(h.hub) AS auth "
        f"FROM edges_cp e JOIN h{iters} h ON h.node = e.src GROUP BY e.dst)"
        f", afin AS (SELECT node, auth / (SELECT sum(auth) FROM afin_raw) AS auth "
        "FROM afin_raw) "
        f"SELECT 'hub' AS side, node, round(hub, 6) AS score FROM h{iters} "
        "UNION ALL SELECT 'auth', node, round(auth, 6) FROM afin"
    )
    return head + "".join(steps) + fin


def _kcore_oracle_sql(k: int, rounds: int, min_c: int) -> str:
    """Unrolled k-core peeling over the thresholded co-purchase graph.
    Every CTE MATERIALIZED (each is referenced twice per round)."""
    head = (
        "WITH e0 AS MATERIALIZED ("
        "SELECT a.l_partkey AS src, b.l_partkey AS dst FROM lineitem a "
        "JOIN lineitem b ON a.l_orderkey = b.l_orderkey "
        "AND a.l_partkey <> b.l_partkey "
        f"GROUP BY 1, 2 HAVING count(*) >= {min_c})"
    )
    steps = []
    for r in range(1, rounds + 1):
        steps.append(
            f", k{r} AS MATERIALIZED (SELECT src AS node FROM e{r - 1} "
            f"GROUP BY src HAVING count(*) >= {k})"
            f", e{r} AS MATERIALIZED (SELECT e.src, e.dst FROM e{r - 1} e "
            f"JOIN k{r} a ON e.src = a.node JOIN k{r} b ON e.dst = b.node)"
        )
    return (
        head + "".join(steps)
        + f" SELECT src AS node, count(*) AS core_degree FROM e{rounds} GROUP BY src"
    )


def _ppr_oracle_sql(iters: int, damping: float) -> str:
    """Unrolled personalized PageRank over edges_pp: teleport/init mass
    concentrated on the smallest src node."""
    head = (
        cte("edges_pp").replace("edges_pp AS (", "edges_pp AS MATERIALIZED (", 1)
        + ", nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges_pp), "
        "seed AS (SELECT min(src) AS s FROM edges_pp), "
        "od AS MATERIALIZED (SELECT src, count(*)::DOUBLE AS outdeg "
        "FROM edges_pp GROUP BY src), "
        "r0 AS (SELECT node, CASE WHEN node = (SELECT s FROM seed) "
        "THEN 1.0 ELSE 0.0 END AS rank FROM nodes)"
    )
    steps = []
    for k in range(1, iters + 1):
        steps.append(
            f", r{k} AS MATERIALIZED (SELECT nd.node, "
            f"(CASE WHEN nd.node = (SELECT s FROM seed) "
            f"THEN {1.0 - damping} ELSE 0.0 END)"
            f" + {damping} * coalesce(m.mass, 0.0) AS rank "
            "FROM nodes nd LEFT JOIN ("
            "SELECT e.dst AS node, sum(r.rank / od.outdeg) AS mass "
            f"FROM edges_pp e JOIN r{k - 1} r ON r.node = e.src "
            "JOIN od ON od.src = e.src GROUP BY e.dst) m ON m.node = nd.node)"
        )
    return (
        head + "".join(steps)
        + f" SELECT node, round(rank, 6) AS rank FROM r{iters}"
    )


ORACLES["iter_pagerank_personalized"] = _ppr_oracle_sql(PPR_ITERS, PAGERANK_DAMPING)

ORACLES["iter_kcore"] = _kcore_oracle_sql(KCORE_K, KCORE_ROUNDS, KCORE_MIN_COPURCHASE)

ORACLES["iter_hits"] = _hits_oracle_sql(HITS_ITERS)

ORACLES["iter_label_propagation"] = _lpa_oracle_sql(LPA_ITERS, LPA_SEED_MOD)

def _kmeans_oracle_sql(k: int, iters: int) -> str:
    """Unrolled k-means CTE chain replicating operators/algorithms.kmeans:
    seeds = the k smallest vec_ids (centroid index = rank by vec_id);
    iteration t assigns under centroids c{t} (argmin list_distance, ties
    -> lowest centroid id), then c{t+1} = per-cluster element-wise mean
    (a cluster with no members keeps its centroid).  The Spark loop
    assigns BEFORE each update, so with `iters` iterations the returned
    assignment is the one computed under c{iters-1} — replicated here by
    unrolling iters-1 updates and one final assignment.

    Every CTE is MATERIALIZED: c{t} is referenced twice per round
    (assignment + carry-forward), so DuckDB's inline-per-reference
    default would double the plan every round (same pathology
    _cc_oracle_sql hit).  Float note: distances are float64 from the
    same float32 inputs in both engines; ulp-level sum-order noise only
    matters on exact argmin ties, which the (distance, cluster-id)
    tie-break resolves identically."""
    parts = [
        "WITH e AS MATERIALIZED (SELECT vec_id, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)",
        f"c0 AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 "
        f"AS INT) AS cl, v FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {k}))",
    ]
    for t in range(iters - 1):
        parts.append(
            f"a{t} AS MATERIALIZED (SELECT vec_id, cl FROM ("
            f"SELECT e.vec_id, c.cl, row_number() OVER (PARTITION BY e.vec_id "
            f"ORDER BY list_distance(e.v, c.v), c.cl) AS rn FROM e, c{t} c) WHERE rn = 1)"
        )
        parts.append(
            f"g{t} AS MATERIALIZED (SELECT cl, i, avg(x) AS val FROM ("
            f"SELECT a.cl AS cl, generate_subscripts(e.v, 1) AS i, unnest(e.v) AS x "
            f"FROM a{t} a JOIN e ON a.vec_id = e.vec_id) z GROUP BY cl, i)"
        )
        parts.append(
            f"m{t} AS MATERIALIZED (SELECT cl, list(val ORDER BY i) AS v "
            f"FROM g{t} GROUP BY cl)"
        )
        parts.append(
            f"c{t + 1} AS MATERIALIZED (SELECT c.cl, coalesce(n.v, c.v) AS v "
            f"FROM c{t} c LEFT JOIN m{t} n ON c.cl = n.cl)"
        )
    return ",\n".join(parts) + (
        f"\nSELECT vec_id, cl AS cluster FROM ("
        f"SELECT e.vec_id, c.cl, row_number() OVER (PARTITION BY e.vec_id "
        f"ORDER BY list_distance(e.v, c.v), c.cl) AS rn FROM e, c{iters - 1} c) "
        f"WHERE rn = 1"
    )


ORACLES["iter_pagerank"] = _pagerank_oracle_sql(PAGERANK_ITERS, PAGERANK_DAMPING)
ORACLES["iter_connected_components"] = _cc_oracle_sql(10)
# inc_cc_delta converges to the same full-graph fixpoint (monotone
# min-label under edge additions) -> identical oracle
ORACLES["inc_cc_delta"] = _cc_oracle_sql(10)
ORACLES["iter_kmeans"] = _kmeans_oracle_sql(KMEANS_K, KMEANS_ITERS)

ORACLES["iter_markov_walk"] = (
    cte("edges_pp")
    + f"""
    , walk(step, node) AS (
      SELECT 0, (SELECT min(src) FROM edges_pp)
      UNION ALL
      SELECT w.step + 1,
        (SELECT arg_min(e.dst, md5((w.step + 1)::VARCHAR || '-' ||
                e.src::VARCHAR || '-' || e.dst::VARCHAR))
         FROM edges_pp e WHERE e.src = w.node)
      FROM walk w WHERE w.step < {WALK_STEPS})
    SELECT step, node FROM walk"""
).replace("WITH edges_pp", "WITH RECURSIVE edges_pp")


def q_iter_sssp_parents(spark, sf_dir):
    """SSSP with PATH RECONSTRUCTION: min-distance from the smallest
    part node (hop-limited BFS, as iter_sssp) plus a deterministic
    shortest-path tree — each reached node's parent is the SMALLEST
    predecessor lying exactly one hop closer.  Distances come from the
    same iterative fold; the parent assignment is ONE post-hoc join
    against the converged distance table (not threaded through the
    loop), so its tie-break is declarative and engine-portable.

    100TB: the parent join is edges ⋈ dist twice on the node key — the
    same co-partitioned shape as one BFS hop; no extra iteration."""
    load_tables(spark, sf_dir)
    edges = spark.table("edges_pp").transform(checkpoint_without_stats)
    seed = edges.agg(F.min("src")).collect()[0][0]
    if seed is None:  # empty graph: no source, no tree
        return spark.createDataFrame([], "node long, dist int, parent long")
    source = int(seed)
    dist = algorithms.sssp(edges, source, max_hops=SSSP_MAX_HOPS)
    d_src = dist.select(F.col("node").alias("src"), F.col("dist").alias("sd"))
    d_dst = dist.select(F.col("node").alias("dst"), F.col("dist").alias("dd"))
    parents = (
        edges.join(d_src, "src")
        .join(d_dst, "dst")
        .filter(F.col("sd") == F.col("dd") - 1)
        .groupBy(F.col("dst").alias("node"))
        .agg(F.min("src").alias("parent"))
    )
    return dist.join(parents, "node", "left").select(
        "node", "dist", "parent"
    )


QUERIES["iter_sssp_parents"] = q_iter_sssp_parents
ORACLES["iter_sssp_parents"] = (
    cte("edges_pp").replace("WITH", "WITH RECURSIVE")
    + f""", walk(node, dist) AS (
      SELECT CAST(min(src) AS BIGINT), 0 FROM edges_pp
      HAVING min(src) IS NOT NULL
      UNION
      SELECT e.dst, w.dist + 1 FROM walk w
      JOIN edges_pp e ON e.src = w.node WHERE w.dist < {SSSP_MAX_HOPS}),
    d AS (SELECT node, CAST(min(dist) AS INT) AS dist FROM walk GROUP BY node),
    p AS (SELECT e.dst AS node, min(e.src) AS parent
      FROM edges_pp e JOIN d s ON e.src = s.node JOIN d t ON e.dst = t.node
      WHERE s.dist = t.dist - 1 GROUP BY e.dst)
    SELECT d.node, d.dist, p.parent FROM d LEFT JOIN p ON d.node = p.node"""
)
