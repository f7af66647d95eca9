"""Connected components over a sameAs edge set → canonical_map.

Implements the alternating large-star / small-star algorithm
("Connected Components in MapReduce and Beyond", Kiveris et al.,
SoCC 2014 — PAPERS.md) entirely in DataFrame operations:

  large-star: for each node u, hang every neighbor v > u off
              m(u) = min(N(u) ∪ {u})
  small-star: orient edges (big → small); hang every small neighbor
              and u itself off m(u) = min over the small side

Both stars are a groupBy().agg(min()) plus a join — Spark performs
map-side partial aggregation for min() automatically, so the hot
high-degree nodes (owl:sameAs hubs) combine before the shuffle; the
join side is additionally covered by AQE skew-join splitting
(enabled in kgpipe.session).

Node ids are the URI STRINGS themselves: min() over strings gives
canon_id = lexicographic min of the component, which is exactly the
golden labeling of FIXTURES.md F4 — and avoids a 64-bit-hash
collision budget that does not close at 10^12 nodes.

Converges in O(log n) rounds; every round ends with
localCheckpoint() to truncate lineage (iterative self-joins
otherwise grow the plan exponentially — SURVEY.md §7 hard-part 1).

The reference has no graph stage at all (SURVEY.md §2b "Joins:
none"); this is new capability mandated by the north rule.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    # symmetrize: neighborhood of u is over undirected edges
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # m(u) = min(N(u) ∪ {u}); min() gets map-side partial agg for free
    mins = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least("src", "mn").alias("m"))
    )
    # no distinct here: duplicates are bounded (≤2 copies per edge)
    # and the small-star that always follows ends in a distinct —
    # saves one full shuffle per round
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    # orient (big, small); u's small-neighborhood min is the new hub
    oriented = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    )
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    hang_neighbors = (
        oriented.join(mins, "u").select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )
    hang_self = mins.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    return (
        hang_neighbors.union(hang_self)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _checkpoint_with_fingerprint(edges: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
    """Materialize one round (lineage truncation) and collect its
    set fingerprint IN THE SAME JOB via an Observation — halving the
    per-round fixed job latency vs a separate fingerprint pass.

    bit_xor, not sum: ANSI mode (Spark 4 default) makes sum() of
    64-bit hashes overflow; xor over a distinct edge set is a valid
    set fingerprint (paired with the count to break even-multiplicity
    cancellation — though the round output is distinct by
    construction)."""
    from pyspark.sql import Observation

    obs = Observation()
    observed = edges.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(F.col("src"), F.col("dst"))), F.lit(0)).alias("h"),
    )
    out = observed.localCheckpoint(eager=True)
    m = obs.get  # populated by the checkpoint job — no extra action
    return out, (int(m["n"]), int(m["h"]))


# below this many (distinct) edges the component structure fits the
# driver trivially, and ~10 iterative shuffle jobs of fixed scheduler
# latency dominate the actual work by 10-100× (measured: 9-12s of
# star-rounds vs <1s of union-find for a 5k-edge graph). Mirrors the
# IVF LITERAL_CENTROID_MAX pattern: adaptive strategy selection by
# measured data size, with the distributed path untouched for scale.
SMALL_GRAPH_MAX_EDGES = 200_000


def _components(pairs) -> dict[str, str]:
    """Exact union-find over (a, b) pairs: every node → its
    component's lexicographic-min node. Order-independent: union by
    canonical order makes each root its component's minimum whatever
    the pair order; a self-pair just registers its node."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        for v in (a, b):
            if v not in parent:
                parent[v] = v
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by canonical order: smaller string becomes root,
            # so the root IS the component minimum when all unions
            # finish
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {v: find(v) for v in parent}


def _local_frame(spark, cols: dict) -> DataFrame:
    """Driver-side string columns as a DataFrame built from an Arrow
    table: a LocalRelation even when empty, so building it, collecting
    it, and planning over an empty one start no Spark job."""
    import pyarrow as pa

    table = pa.table({k: pa.array(list(v), pa.string()) for k, v in cols.items()})
    return spark.createDataFrame(table, ", ".join(f"{k} string" for k in cols))


def _union_find_from_pandas(spark, pdf) -> DataFrame:
    """Union-find over an already-collected (src, dst) pandas frame.
    Collect and return both ride Arrow (toPandas / _local_frame),
    which at the ~10⁵-edge threshold is several times faster than
    row-pickled collect() + createDataFrame(list-of-tuples)."""
    canon = _components(zip(pdf["src"], pdf["dst"]))
    return _local_frame(spark, {"uri": canon.keys(), "canon_id": canon.values()})


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    rounds_per_checkpoint: int = 2,
    small_graph_max_edges: int | None = SMALL_GRAPH_MAX_EDGES,
) -> DataFrame:
    """edges(src, dst) → canonical_map(uri, canon_id).

    canon_id is the lexicographic min URI of each component. Nodes
    that appear only as component minima map to themselves; callers
    union singleton nodes separately if they track a node universe
    wider than the edge set (see canonical_map_for_nodes).

    Strategy is adaptive: edge sets at or under small_graph_max_edges
    (probed with an early-stopping limit+count, one cheap job) are
    solved exactly by driver union-find — identical output, none of
    the iterative fixed job latency; larger sets run the distributed
    alternating-star rounds. Pass small_graph_max_edges=None/0 to
    force the distributed path (tests pin both produce equal maps).
    """
    from pyspark.storagelevel import StorageLevel

    filtered = (
        edges.select("src", "dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .where(F.col("src") != F.col("dst"))
    )
    if small_graph_max_edges:
        # TIER 1: probe the RAW (pre-distinct) edge stream — probe and
        # collect fused into one Arrow job with NO shuffle at all: the
        # limit caps how much is materialized to answer "bigger than
        # the threshold?", and when the answer is no, the probe's rows
        # ARE the edge set (union-find dedups duplicates natively, so
        # the result is identical to running over the distinct set).
        # The previous shape paid the distinct exchange plus a count
        # job plus a separate full collect for the same answer.
        pdf = filtered.limit(small_graph_max_edges + 1).select("src", "dst").toPandas()
        if len(pdf) <= small_graph_max_edges:
            return _union_find_from_pandas(edges.sparkSession, pdf)
    # materialize the DISTINCT edge set ONCE: the tier-2 probe and
    # then either path (collect, or round 1's double reference through
    # symmetrization) would otherwise recompute the whole upstream
    # edge derivation (scans, distincts, normalization) per reference
    # — measured as the bulk of round-1 latency. persist rather than
    # localCheckpoint: checkpointing a complex plan (windows + unions,
    # e.g. the LSH linker's) trips a Spark attribute-resolution bug
    # ("key not found: src#N"). MEMORY_AND_DISK → spills, not OOM.
    e0 = filtered.distinct().persist(StorageLevel.MEMORY_AND_DISK)
    e = e0
    if small_graph_max_edges:
        # TIER 2: the raw stream was over-threshold but duplicates may
        # still put the DISTINCT set under it (union-find beats ~10
        # star-round jobs by 10-100× at this size, so one extra probe
        # is cheap insurance before committing to the iterative path)
        pdf = e0.limit(small_graph_max_edges + 1).select("src", "dst").toPandas()
        if len(pdf) <= small_graph_max_edges:
            out = _union_find_from_pandas(e0.sparkSession, pdf)
            e0.unpersist(blocking=False)
            return out
    # distributed path: fill the cache in full BEFORE iterating — the
    # early-stopping probe may have cached only a few partitions, and
    # round 1 references e twice (symmetrization); a cold reference
    # recomputes the entire upstream derivation per use (measured as
    # the bulk of round-1 latency)
    e0.count()
    prev_fp = None
    rounds = max(1, rounds_per_checkpoint)
    for it in range(max_iter):
        # batch rounds_per_checkpoint star-rounds into ONE job: the
        # per-round cost at early-iteration sizes is fixed job latency
        # (scheduler, stage setup, driver sync), so halving job count
        # cuts it. CRITICAL: each intermediate round must be persisted
        # — a round references its input several times (symmetrize ×2
        # + the min-join), and Spark does not CSE DataFrame references,
        # so an unpersisted round 1 would recompute inside round 2's
        # plan (measured 2× SLOWER than unbatched). The cache fills
        # during the single batched job; blocks are freed right after
        # its checkpoint. Star operators are idempotent at the fixed
        # point, so overshooting by one batch is harmless and the
        # fingerprint equality still detects convergence exactly.
        mids = []
        for r in range(rounds):
            e = _small_star(_large_star(e))
            if r < rounds - 1:
                e = e.persist(StorageLevel.MEMORY_AND_DISK)
                mids.append(e)
        # lineage-truncating checkpoint + convergence fingerprint,
        # fused via Observation — one job per batch
        e, fp = _checkpoint_with_fingerprint(e)
        for m in mids:
            m.unpersist(blocking=False)
        if fp == prev_fp:
            break
        prev_fp = fp
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter * rounds} rounds"
        )
    e0.unpersist(blocking=False)

    # at the fixed point the edge set is a star forest: (node → root)
    members = e.select(F.col("src").alias("uri"), F.col("dst").alias("canon_id"))
    roots = e.select(F.col("dst").alias("uri"), F.col("dst").alias("canon_id")).distinct()
    return members.union(roots).distinct()


def canonical_map_for_nodes(nodes: DataFrame, edges: DataFrame, **kw) -> DataFrame:
    """Canonical map covering a full node universe: nodes absent from
    the edge set become their own canon_id. nodes must have a `uri`
    column."""
    cmap = connected_components(edges, **kw)
    uni = nodes.select("uri").distinct()
    singles = uni.join(cmap, "uri", "left_anti").select(
        "uri", F.col("uri").alias("canon_id")
    )
    return cmap.union(singles)


def incremental_canonical_map(
    prev_cmap: DataFrame, new_edges: DataFrame, **kw
) -> DataFrame:
    """Merge a NEW batch of sameAs edges into an existing canonical
    map WITHOUT re-running CC over the whole graph — the daily-delta
    operation at 10^12 nodes, where a delta touches a vanishing
    fraction of components and a full recompute would re-shuffle
    everything for nothing.

    Only components the delta touches are recomputed:
      1. touched  = endpoints of new_edges
      2. affected = canon_ids of touched nodes present in prev
      3. the affected components re-enter as their STAR edges
         (uri → canon_id), which are connectivity-equivalent to the
         original component membership
      4. connected components over (affected stars ∪ new_edges) — a
         graph the size of the delta's neighborhood, not the world
      5. result = untouched prev rows ∪ the recomputed sub-map

    canon_id remains the component's lexicographic-min uri: the star
    edges carry EVERY member of each affected old component into the
    recompute, so the merged component's min is the true min over old
    and new members — pinned equal to a full recompute in test_cc.

    prev_cmap may be empty (first run degenerates to a plain CC over
    new_edges). Nodes supported: any uri appearing in either input.
    """
    return incremental_merge(prev_cmap, new_edges, **kw).cmap


@dataclass
class Merge:
    """incremental_merge's result. cmap: the merged map. changes:
    (old_c, new_c) for every label that was an EFFECTIVE canon id
    before the merge (a fixed point of prev — an explicit
    uri==canon_id row, or a uri absent from prev entirely) and now
    maps to a different label. n_edges: distinct new edges merged."""

    cmap: DataFrame
    changes: DataFrame
    n_edges: int


def incremental_merge(
    prev_cmap: DataFrame,
    new_edges: DataFrame,
    small_graph_max_edges: int | None = SMALL_GRAPH_MAX_EDGES,
    **kw,
) -> Merge:
    """incremental_canonical_map, plus the LABEL CHANGES the merge
    caused (see Merge).

    The changes are what downstream MATERIALIZED artifacts keyed by
    canon labels (the edge table) need to relabel themselves — and
    they come from the delta's neighborhood alone (the affected
    components' prev rows), so their cost scales with the delta, not
    the corpus. Emitting them here, where the merge already holds the
    neighborhood, is what lets the materialize stage avoid keeping
    (and diffing, and rewriting) its own full copy of the map per run
    — a map-scale cost that dominated delta runs.

    Same tiers as connected_components: while the new edges plus the
    affected components' rows fit small_graph_max_edges, both are
    collected (two queries; the map is filtered map-side against
    broadcast driver-built key sets) and the merge, the changes and
    the edge count are computed on the driver; past it the
    neighborhood is pinned and merged in Spark. Pass
    small_graph_max_edges=None/0 to force the distributed tier (tests
    pin both tiers equal)."""
    prev = prev_cmap.select("uri", "canon_id")
    ne = new_edges.select("src", "dst").where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    if small_graph_max_edges:
        merged = _merge_on_driver(prev, ne, small_graph_max_edges)
        if merged is not None:
            return merged
    return _merge_distributed(prev, ne, small_graph_max_edges=small_graph_max_edges, **kw)


def _merge_on_driver(prev: DataFrame, ne: DataFrame, cap: int) -> Merge | None:
    """The union-find tier of incremental_merge, or None when the
    neighborhood (new edges + affected rows) exceeds `cap`."""
    spark = ne.sparkSession
    edges = ne.limit(cap + 1).toPandas()
    if len(edges) > cap:
        return None
    edges = edges.drop_duplicates()
    touched = _local_frame(spark, {"uri": set(edges["src"]) | set(edges["dst"])})
    affected = prev.join(F.broadcast(touched), "uri", "left_semi").select("canon_id")
    room = cap - len(edges)
    aff = prev.join(F.broadcast(affected), "canon_id", "left_semi").limit(room + 1).toPandas()
    if len(aff) > room:
        return None
    old = dict(zip(aff["uri"], aff["canon_id"]))
    canon = _components([*old.items(), *zip(edges["src"], edges["dst"])])
    changes = [(u, c) for u, c in canon.items() if c != u and old.get(u, u) == u]
    untouched = prev.join(
        F.broadcast(_local_frame(spark, {"canon_id": set(old.values())})), "canon_id", "left_anti"
    ).select("uri", "canon_id")
    sub_map = _local_frame(spark, {"uri": canon.keys(), "canon_id": canon.values()})
    return Merge(
        cmap=untouched.union(sub_map),
        changes=_local_frame(
            spark, {"old_c": [u for u, _ in changes], "new_c": [c for _, c in changes]}
        ),
        n_edges=len(edges),
    )


def _merge_distributed(prev: DataFrame, ne: DataFrame, **kw) -> Merge:
    """The Spark tier of incremental_merge."""
    from pyspark.sql import Observation

    # pinned once: the merge reads the new edges three times (the
    # touched components, the CC edge set, the label changes)
    eobs = Observation()
    ne = ne.distinct().observe(eobs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    touched = (
        ne.select(F.col("src").alias("uri"))
        .union(ne.select(F.col("dst").alias("uri")))
        .distinct()
    )
    affected = prev.join(touched, "uri", "left_semi").select("canon_id").distinct()
    # the affected components' prev rows, pinned once: the CC edge set,
    # the untouched remainder and the label changes all read them, and
    # each reference would otherwise re-derive them from the map and
    # the delta — several shuffles per consumer
    aff_rows = (
        prev.join(affected, "canon_id", "left_semi")
        .select("uri", "canon_id")
        .localCheckpoint(eager=True)
    )
    affected = aff_rows.select("canon_id").distinct()
    star_edges = aff_rows.where(F.col("uri") != F.col("canon_id")).select(
        F.col("uri").alias("src"), F.col("canon_id").alias("dst")
    )
    sub_edges = star_edges.union(ne)
    sub_nodes = (
        sub_edges.select(F.col("src").alias("uri"))
        .union(sub_edges.select(F.col("dst").alias("uri")))
        .distinct()
    )
    sub_map = canonical_map_for_nodes(sub_nodes, sub_edges, **kw)
    # join-on-canon_id reorders columns (key first) — reselect before
    # the positional union or untouched rows come out (canon_id, uri)
    untouched = prev.join(affected, "canon_id", "left_anti").select("uri", "canon_id")
    merged = untouched.union(sub_map.select("uri", "canon_id"))

    # prev lookups for the sub-universe need only the AFFECTED rows
    # (any sub-universe node present in prev has its component
    # affected by construction) — never a scan of the full prev map
    old = aff_rows.select("uri", F.col("canon_id").alias("__old"))
    changes = (
        sub_map.select("uri", "canon_id")
        .join(old, "uri", "left")
        .where(F.coalesce(F.col("__old"), F.col("uri")) == F.col("uri"))
        .where(F.col("canon_id") != F.col("uri"))
        .select(F.col("uri").alias("old_c"), F.col("canon_id").alias("new_c"))
    )
    return Merge(cmap=merged, changes=changes, n_edges=int(eobs.get["n"]))
