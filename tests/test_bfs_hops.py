"""The shared frontier BFS (`algorithms._bfs_hops`) on small hand-built
graphs: the labeled multi-source run, the early-exit probe, and empty
seeds."""

from __future__ import annotations

from collections import deque

from i2mapreduce_spark.operators import algorithms

#: directed edges: a branching component (1..9) and a separate pair
EDGES = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7),
         (2, 8), (8, 9), (9, 3), (7, 1), (10, 11)]


def _edges(spark, pairs=EDGES):
    return spark.createDataFrame(pairs, "src long, dst long")


def _py_bfs(pairs, source, max_hops):
    adj: dict = {}
    for u, v in pairs:
        adj.setdefault(u, []).append(v)
    dist = {source: 0}
    todo = deque([source])
    while todo:
        u = todo.popleft()
        if dist[u] == max_hops:
            continue
        for v in adj.get(u, []):
            if v not in dist:
                dist[v] = dist[u] + 1
                todo.append(v)
    return dist


def test_labeled_multi_source_equals_per_source_sssp(spark):
    sources = [1, 4, 10]
    seeds = spark.createDataFrame(
        [(s, s, 0) for s in sources], "lm long, node long, dist int"
    )
    got = {
        (r.lm, r.node): r.dist
        for r in algorithms._bfs_hops(
            _edges(spark), seeds, 5, by=("lm",)
        ).collect()
    }
    want = {
        (s, r.node): r.dist
        for s in sources
        for r in algorithms.sssp(_edges(spark), s, 5).collect()
    }
    assert got == want
    # the sources' reaches overlap, and the hop cap binds: 4 reaches 2
    # round the cycle in 5 hops but not 3 (6 hops)
    assert want[(1, 6)] == 5 and want[(4, 2)] == 5 and (4, 3) not in want


def test_short_chain_exits_early_and_equals_python_bfs(spark, monkeypatch):
    chain = [(1, 2), (2, 3), (3, 4)]  # 3 hops, far under max_hops
    max_hops = 8
    checkpoints = []
    ckpt = algorithms.checkpoint_without_stats

    def counting(df):
        checkpoints.append(df)
        return ckpt(df)

    monkeypatch.setattr(algorithms, "checkpoint_without_stats", counting)
    seeds = spark.createDataFrame([(1, 0)], "node long, dist int")
    got = {
        r.node: r.dist
        for r in algorithms._bfs_hops(_edges(spark, chain), seeds, max_hops).collect()
    }
    assert got == _py_bfs(chain, 1, max_hops)
    # one dist checkpoint per hop run: hop 4 finds no new node, so its
    # probe ends the loop instead of running all 8 hops
    assert sum("dist" in df.columns for df in checkpoints) == 4


def test_empty_seeds_return_empty_frame(spark):
    seeds = spark.createDataFrame([], "lm long, node long, dist int")
    out = algorithms._bfs_hops(_edges(spark), seeds, 4, by=("lm",))
    assert out.columns == ["lm", "node", "dist"]
    assert out.collect() == []
