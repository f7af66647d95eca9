"""Graph traversal operators: BFS minimum-distance semantics against
a hand-checked fixture and a networkx-free pure-Python oracle."""

import collections

import pytest

from kgpipe.operators.graph import khop_frontier


@pytest.fixture(scope="module")
def toy(spark):
    #   0 → 1 → 2 → 3 → 4   plus shortcut 0 → 3, and island 9 → 10
    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (0, 3), (9, 10)]
    return spark.createDataFrame(edges, "src long, dst long")


def _bfs_oracle(edges, seeds, k, directed=True):
    adj = collections.defaultdict(list)
    for s, d in edges:
        adj[s].append(d)
        if not directed:
            adj[d].append(s)
    dist = {s: 0 for s in seeds}
    frontier = list(seeds)
    for hop in range(1, k + 1):
        nxt = []
        for u in frontier:
            for v in adj[u]:
                if v not in dist:
                    dist[v] = hop
                    nxt.append(v)
        frontier = nxt
    return dist


def test_khop_min_distance(spark, toy):
    got = {r.node: r.hops for r in khop_frontier(toy, spark.createDataFrame([(0,)], "node long"), k=3).collect()}
    # 3 is reachable in 1 hop via the shortcut — NOT 3 hops via the chain
    assert got == {0: 0, 1: 1, 3: 1, 2: 2, 4: 2}


def test_khop_early_stop_and_islands(spark, toy):
    # k larger than the graph diameter: early-stops, islands untouched
    got = {r.node: r.hops for r in khop_frontier(toy, spark.createDataFrame([(9,)], "node long"), k=50).collect()}
    assert got == {9: 0, 10: 1}


def test_khop_undirected(spark, toy):
    got = {r.node: r.hops for r in khop_frontier(
        toy, spark.createDataFrame([(4,)], "node long"), k=2, directed=False
    ).collect()}
    exp = _bfs_oracle(
        [(r.src, r.dst) for r in toy.collect()], {4}, 2, directed=False
    )
    assert got == exp


def test_khop_random_graph_matches_oracle(spark):
    import random

    rng = random.Random(13)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(120)]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = {0, 17, 33}
    got = {r.node: r.hops for r in khop_frontier(
        df, spark.createDataFrame([(s,) for s in seeds], "node long"), k=3
    ).collect()}
    assert got == _bfs_oracle(edges, seeds, 3)


def _pagerank_oracle(edges, n_iter=3, damping=0.85, dp=12):
    nodes = sorted({x for e in edges for x in e})
    n = float(len(nodes))
    outdeg = collections.Counter(s for s, _ in edges)
    pr = {u: round(1.0 / n, dp) for u in nodes}
    for _ in range(n_iter):
        cs = collections.defaultdict(float)
        for s, d in edges:
            cs[d] += pr[s] / outdeg[s]
        pr = {
            u: round((1.0 - damping) / n + damping * cs.get(u, 0.0), dp)
            for u in nodes
        }
    return pr


def test_pagerank_matches_python_oracle(spark, toy):
    from kgpipe.operators.graph import pagerank

    edges = [(r.src, r.dst) for r in toy.collect()]
    got = {r.node: r.pr for r in pagerank(toy, n_iter=3).collect()}
    exp = _pagerank_oracle(edges, n_iter=3)
    assert set(got) == set(exp)
    for u in exp:
        assert abs(got[u] - exp[u]) < 1e-11, (u, got[u], exp[u])
    # hub 3 (two inbound paths) outranks chain node 2
    assert got[3] > got[2]


def test_pagerank_random_graph(spark):
    import random

    from kgpipe.operators.graph import pagerank

    rng = random.Random(7)
    edges = list({(rng.randrange(30), rng.randrange(30)) for _ in range(90)})
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.pr for r in pagerank(df, n_iter=4).collect()}
    exp = _pagerank_oracle(edges, n_iter=4)
    assert set(got) == set(exp)
    for u in exp:
        assert abs(got[u] - exp[u]) < 1e-11
