"""Graph traversal operators: BFS minimum-distance semantics against
a hand-checked fixture and a networkx-free pure-Python oracle."""

import collections

import pytest
from pyspark.sql import functions as F

from kgpipe.operators.graph import degree_stats, khop_frontier


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


def test_degree_stats(spark, toy):
    got = {r.node: (r.out_degree, r.in_degree) for r in degree_stats(toy).collect()}
    assert got[0] == (2, 0)
    assert got[3] == (1, 2)
    assert got[10] == (0, 1)


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


def test_khop_over_bucketed_edges_no_edge_exchange(spark, tmp_path):
    """The docstring promise, pinned: over a bucketed edge layout
    (write_bucketed by the source key, read back THROUGH the catalog)
    the per-hop join's EDGE side runs with no Exchange — the only
    shuffle in the join is the (small) frontier aligning to the bucket
    layout. Broadcast is disabled so the plan must rely on the
    bucketing."""
    from kgpipe.io import TableIO
    from kgpipe.operators.graph import _hop_join, khop_frontier

    io = TableIO(spark, str(tmp_path))
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 1) % 40}") for i in range(40)]
        + [("n0", "n5"), ("n5", "n9")],
        "src string, dst string",
    )
    io.write_bucketed(
        edges.repartition(8, F.col("src")), "gedges",
        bucket_by=["src"], n_buckets=8, sort_by=["src"],
    )
    be = io.read_bucketed("gedges")
    e = be.select(F.col("src").alias("__s"), F.col("dst").alias("__d"))
    frontier = spark.createDataFrame([("n0",)], "node string")

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _hop_join(frontier, e)._jdf.queryExecution().executedPlan().toString()
        # exactly ONE exchange: the frontier side. The bucketed edge
        # scan feeds the join directly.
        assert plan.count("Exchange") == 1, plan[:4000]
        assert "SortMergeJoin" in plan

        # and the full traversal over the bucketed table is correct
        got = {
            (r.node, r.hops)
            for r in khop_frontier(be, frontier, 2, src="src", dst="dst").collect()
        }
        adj = {}
        for r in edges.collect():
            adj.setdefault(r.src, []).append(r.dst)
        exp, frontier_py, seen = {(("n0"), 0)}, ["n0"], {"n0"}
        for hop in (1, 2):
            nxt = sorted(
                {d for s in frontier_py for d in adj.get(s, []) if d not in seen}
            )
            exp |= {(d, hop) for d in nxt}
            seen |= set(nxt)
            frontier_py = nxt
        assert got == exp
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_pagerank_over_bucketed_edges_no_edge_exchange(spark, tmp_path):
    """Same pin for PageRank's per-iteration contribution join."""
    from kgpipe.io import TableIO
    from kgpipe.operators.graph import pagerank

    io = TableIO(spark, str(tmp_path))
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 3 + 1) % 20}") for i in range(20)],
        "src string, dst string",
    )
    io.write_bucketed(
        edges.repartition(4, F.col("src")), "predges",
        bucket_by=["src"], n_buckets=4, sort_by=["src"],
    )
    be = io.read_bucketed("predges")
    e = be.select(F.col("src").alias("__s"), F.col("dst").alias("__d"))
    ranks = (
        e.select(F.col("__s").alias("node")).distinct()
        .withColumn("pr", F.lit(0.05))
    )
    outdeg = e.groupBy("__s").agg(F.count(F.lit(1)).alias("__od"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        contribs = e.join(ranks, e["__s"] == ranks["node"]).join(outdeg, "__s")
        plan = contribs._jdf.queryExecution().executedPlan().toString()
        # the edge scan feeds BOTH joins exchange-free (outdeg derives
        # from the same bucketed scan); only rank/degree aggregation
        # sides shuffle. Three Exchanges would mean the edge table
        # reshuffled per iteration.
        edge_scans = plan.count("Scan parquet")
        assert edge_scans >= 2
        assert "SortMergeJoin" in plan
        # the strongest cheap invariant: joining on the bucket key
        # adds NO exchange beyond the two aggregation/alignment
        # shuffles of the small sides
        assert plan.count("Exchange") <= 2, plan[:4000]
        # correctness of the full operator over the bucketed table
        got = {r.node: r.pr for r in pagerank(be, n_iter=2).collect()}
        assert len(got) == 20
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
