"""Connected components vs a pure-Python union-find oracle on the F4
fixture graph and on random graphs (SURVEY.md §5.2-3c)."""

import random

import pytest
from pyspark.sql import functions as F

from kgpipe.fixtures import gen_sameas_graph
from kgpipe.operators.cc import canonical_map_for_nodes, connected_components


def _oracle(nodes, edges):
    parent = {u: u for u in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {u: find(u) for u in nodes}


def test_cc_fixture_graph(spark):
    edges, golden = gen_sameas_graph()
    edf = spark.createDataFrame(edges, ["src", "dst"])
    nodes = spark.createDataFrame([(u,) for u in golden], ["uri"])
    got = {
        r.uri: r.canon_id
        for r in canonical_map_for_nodes(nodes, edf, max_iter=25).collect()
    }
    assert got == golden


@pytest.mark.parametrize("n,m,seed", [(50, 30, 1), (200, 400, 2), (80, 79, 3)])
def test_cc_random_graphs(spark, n, m, seed):
    rng = random.Random(seed)
    nodes = [f"n{k:04d}" for k in range(n)]
    edges = [
        (nodes[rng.randrange(n)], nodes[rng.randrange(n)]) for _ in range(m)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    golden = _oracle(nodes, edges)
    edf = spark.createDataFrame(edges, ["src", "dst"])
    ndf = spark.createDataFrame([(u,) for u in nodes], ["uri"])
    got = {r.uri: r.canon_id for r in canonical_map_for_nodes(ndf, edf).collect()}
    assert got == golden


def test_cc_path_graph_converges_fast(spark):
    """A 64-node path needs O(log n) star rounds, not O(n) — this is
    why large/small-star instead of naive label propagation."""
    nodes = [f"p{k:03d}" for k in range(64)]
    edges = list(zip(nodes, nodes[1:]))
    edf = spark.createDataFrame(edges, ["src", "dst"])
    # force the distributed star rounds (the adaptive small-graph
    # shortcut would otherwise solve this on the driver)
    cmap = connected_components(edf, max_iter=10, small_graph_max_edges=0)
    rows = cmap.collect()
    assert {r.canon_id for r in rows} == {"p000"}
    assert {r.uri for r in rows} == set(nodes)


def test_cc_empty_edges(spark):
    edf = spark.createDataFrame([], "src string, dst string")
    ndf = spark.createDataFrame([("a",), ("b",)], ["uri"])
    got = {r.uri: r.canon_id for r in canonical_map_for_nodes(ndf, edf).collect()}
    assert got == {"a": "a", "b": "b"}


def test_cc_small_graph_shortcut_equals_distributed(spark):
    """Adaptive strategy selection must be invisible in results: the
    driver union-find (small edge sets) and the distributed star
    rounds produce the identical canonical map, including multi-way
    merges, chains, and isolated roots."""
    import random

    rng = random.Random(99)
    nodes = [f"http://ex.org/n/{k:03d}" for k in range(200)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(300)]
    edf = spark.createDataFrame(edges, ["src", "dst"])
    fast = {
        (r.uri, r.canon_id)
        for r in connected_components(edf).collect()
    }
    dist = {
        (r.uri, r.canon_id)
        for r in connected_components(edf, small_graph_max_edges=0).collect()
    }
    assert fast == dist and fast


def test_incremental_matches_full_recompute(spark):
    """incremental_merge(cc(batch1), batch2).cmap must equal a full
    CC over batch1 ∪ batch2 — including components merged ACROSS
    batches, brand-new nodes, and untouched old components."""
    import random

    from kgpipe.operators.cc import (
        canonical_map_for_nodes,
        connected_components,
        incremental_merge,
    )

    rng = random.Random(23)
    n1 = [f"http://ex.org/n{i}" for i in range(60)]
    batch1 = [(n1[rng.randrange(60)], n1[rng.randrange(60)]) for _ in range(50)]
    # batch2: some edges among old nodes (merging old components),
    # some to brand-new nodes
    n2 = n1 + [f"http://ex.org/m{i}" for i in range(20)]
    batch2 = [(n2[rng.randrange(80)], n2[rng.randrange(80)]) for _ in range(30)]

    e1 = spark.createDataFrame(batch1, "src string, dst string")
    e2 = spark.createDataFrame(batch2, "src string, dst string")
    prev = connected_components(e1)

    inc = {
        (r.uri, r.canon_id)
        for r in incremental_merge(prev, e2).cmap.collect()
    }
    all_nodes = spark.createDataFrame(
        [(u,) for u in sorted({x for e in batch1 + batch2 for x in e})], "uri string"
    )
    # full recompute over the union, restricted to the same node
    # universe the two-step path covers (nodes seen in any edge)
    full = {
        (r.uri, r.canon_id)
        for r in canonical_map_for_nodes(all_nodes, e1.union(e2)).collect()
    }
    assert inc == full


def test_incremental_from_empty_prev(spark):
    from kgpipe.operators.cc import connected_components, incremental_merge

    e = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    empty = spark.createDataFrame([], "uri string, canon_id string")
    inc = {(r.uri, r.canon_id) for r in incremental_merge(empty, e).cmap.collect()}
    full = {(r.uri, r.canon_id) for r in connected_components(e).collect()}
    assert inc == full


def test_incremental_untouched_components_unchanged(spark):
    """A delta that never touches a component must leave its rows
    byte-identical (no recompute, no relabeling)."""
    from kgpipe.operators.cc import connected_components, incremental_merge

    e1 = spark.createDataFrame(
        [("a", "b"), ("x", "y")], "src string, dst string"
    )
    prev = connected_components(e1)
    e2 = spark.createDataFrame([("p", "q")], "src string, dst string")
    inc = {(r.uri, r.canon_id) for r in incremental_merge(prev, e2).cmap.collect()}
    assert {("a", "a"), ("b", "a"), ("x", "x"), ("y", "x"), ("p", "p"), ("q", "p")} == inc


def test_incremental_merge_tiers_equal(spark, monkeypatch):
    """incremental_merge's union-find tier (the neighborhood fits
    small_graph_max_edges) and its Spark tier return the same merged
    map and edge count — on both sides of the boundary: the new edges
    plus the affected components' rows exactly at the cap take the
    driver, one over it the distributed path (a spy on it proves
    which tier ran)."""
    import random

    import kgpipe.operators.cc as cc
    from kgpipe.operators.cc import connected_components, incremental_merge

    rng = random.Random(7)
    n1 = [f"http://ex.org/n{i:02d}" for i in range(40)]
    batch1 = [(rng.choice(n1), rng.choice(n1)) for _ in range(30)]
    # a* sorts below n*: merges with new nodes relabel old components
    n2 = n1 + [f"http://ex.org/a{i:02d}" for i in range(10)]
    # merges across old components, brand-new nodes, a duplicate
    # edge and a self-loop on a new node
    batch2 = [(rng.choice(n2), rng.choice(n2)) for _ in range(15)]
    batch2 += [batch2[0], ("http://ex.org/a09", "http://ex.org/a09")]
    prev = connected_components(spark.createDataFrame(batch1, "src string, dst string"))
    e2 = spark.createDataFrame(batch2, "src string, dst string")

    spark_tier_ran = []
    real = cc._merge_distributed
    monkeypatch.setattr(
        cc, "_merge_distributed", lambda *a, **k: spark_tier_ran.append(1) or real(*a, **k)
    )

    def run(cap):
        spark_tier_ran.clear()
        m = incremental_merge(prev, e2, small_graph_max_edges=cap)
        return {(r.uri, r.canon_id) for r in m.cmap.collect()}, m.n_edges, bool(spark_tier_ran)

    touched = {x for e in batch2 for x in e}
    old = {r.uri: r.canon_id for r in prev.collect()}
    hit = {old[u] for u in touched if u in old}
    at_cap = len(set(batch2)) + sum(1 for c in old.values() if c in hit)
    on_driver = run(at_cap)
    over = run(at_cap - 1)
    spark_tier = run(0)
    assert not on_driver[2] and over[2] and spark_tier[2]
    assert on_driver[:2] == over[:2] == spark_tier[:2]
    assert on_driver[1] == len(set(batch2))
    # the merge relabels rows of the old map
    assert any(old.get(u, c) != c for u, c in on_driver[0])
