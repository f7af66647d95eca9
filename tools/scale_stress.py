"""Scale-stress cell (r5 verdict next #4): exercise the CC star
rounds, the LSH skew guard, and the incremental merge at the largest
edge count the 128 GiB sandbox sustains — the regime where the
bucket-cap/broadcast-key fallbacks and the star-round machinery
actually bite, converting "designed for scale" into measurements.

Cells (each load-gated, one run unless --repeats):

  A. Connected components over a synthetic Zipf-degree graph of
     --edges edges (default 50M): 90% cluster edges (5-edge stars →
     millions of small components, the realistic sameAs shape), 10%
     Zipf-hub edges (frequency ∝ j^-0.75 over 1M hubs → a handful of
     ~10^5-degree nodes plus a long tail — the skew CC must survive).
     Records wall, star-round count, component count, max node
     degree, and the max/median per-partition row skew of the edge
     shuffle layout the rounds run on (SURVEY M7 wants ≤4×).

  B. LSH skew guard at --uris URIs (default 10M → 80M banded rows):
     families of exact-normalization variants + near-dup families +
     three planted DEGENERATE families (hundreds of thousands of
     URIs whose shingle sets nearly coincide → band buckets far over
     the cap). Records wall for the full verified linker, the bucket
     stats (n_dropped / ids_in_dropped = recall budget), the oversize
     key count vs the broadcast_key_limit fallback threshold, and
     that planted TRUE pairs outside the hot buckets still link.

  C. Incremental merge at cell A's graph: a 1% delta (new nodes into
     existing clusters + cross-cluster merges) via incremental_merge
     vs a full canonical_map_for_nodes recompute over base+delta.

Usage:
    python tools/scale_stress.py --edges 50000000 --uris 10000000
    python tools/scale_stress.py --edges 2000000 --uris 500000  # smoke
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F


def wait_quiet(gate: float = 3.0, max_wait: float = 900.0) -> float:
    t0 = time.time()
    load = os.getloadavg()[0]
    while load >= gate and time.time() - t0 < max_wait:
        time.sleep(5)
        load = os.getloadavg()[0]
    return round(load, 2)


def zipf_graph(spark, n_edges: int):
    """(src, dst) edge frame: 90% 5-edge star clusters, 10% edges to
    Zipf-ish hubs (hub j frequency ∝ j^-0.75 over 1M hubs — hub 0
    absorbs ~3% of hub edges)."""
    ids = spark.range(n_edges)
    h = F.xxhash64("id")
    cluster = (F.col("id") / 5).cast("long")
    star_src = F.concat(F.lit("u"), (cluster * 6 + F.pmod(F.col("id"), F.lit(5))).cast("string"))
    star_dst = F.concat(F.lit("u"), (cluster * 6 + 5).cast("string"))
    K = 1_000_000
    k = F.pmod(F.xxhash64("id", F.lit(1)), F.lit(K))
    hub_j = ((k * k / F.lit(K)) * (k * k / F.lit(K)) / F.lit(K)).cast("long")
    hub_dst = F.concat(F.lit("h"), hub_j.cast("string"))
    is_hub = F.pmod(h, F.lit(10)) == 0
    return ids.select(
        star_src.alias("src"),
        F.when(is_hub, hub_dst).otherwise(star_dst).alias("dst"),
    )


def cell_a_cc(spark, n_edges: int, out: dict) -> None:
    import kgpipe.operators.cc as cc

    edges = zipf_graph(spark, n_edges)
    # stage the graph to parquet so the timed region measures CC, not
    # generation (and so every pass reads identical data)
    path = os.path.join(out["workdir"], "edges")
    edges.write.mode("overwrite").parquet(path)
    e = spark.read.parquet(path)

    deg = e.groupBy("dst").count().agg(F.max("count")).collect()[0][0]
    parts = e.repartition(64, "src").groupBy(F.spark_partition_id().alias("p")).count()
    counts = sorted(r["count"] for r in parts.collect())
    med = counts[len(counts) // 2]
    skew = round(counts[-1] / max(med, 1), 2)

    rounds = {"n": 0}
    orig = cc._large_star

    def counting_large_star(frame):
        rounds["n"] += 1
        return orig(frame)

    cc._large_star = counting_large_star
    try:
        load = wait_quiet()
        t0 = time.monotonic()
        cmap = cc.connected_components(e, max_iter=30)
        n_rows = cmap.count()
        wall = time.monotonic() - t0
        n_comp = cmap.select("canon_id").distinct().count()
    finally:
        cc._large_star = orig
    out["cc"] = {
        "edges": n_edges, "wall_s": round(wall, 1), "star_rounds": rounds["n"],
        "map_rows": n_rows, "components": n_comp, "max_degree": int(deg),
        "shuffle_skew_max_over_median": skew, "load": load,
    }
    print("CELL A:", json.dumps(out["cc"]), flush=True)


def stress_uris(spark, n: int):
    """URI corpus: per family of 4, one base + scheme/www/slash
    variants (exact-normalized links) and a near-dup (last path char
    changed → Jaccard just under 1). Three planted degenerate
    families: ~2% of ids each mapping to near-identical long strings
    (shared shingle sets → one LSH bucket of ~n/50 rows per band —
    orders of magnitude over the 64 cap)."""
    ids = spark.range(n)
    famn = (F.col("id") / 4).cast("long")
    # a 16-hex-char segment per family diversifies the shingle sets —
    # without it every family shares the URL skeleton's 4-grams and
    # minhash collides EVERYTHING into mega-buckets (measured: 96% of
    # banded rows in dropped buckets), which stresses only the guard;
    # with it, non-hot buckets stay family-sized and the guard's drop
    # budget isolates the PLANTED degenerate families
    fam = F.concat(famn.cast("string"), F.lit("/"), F.hex(F.xxhash64(famn)))
    v = F.pmod(F.col("id"), F.lit(4))
    base = F.concat(F.lit("http://site"), fam, F.lit(".example/page/"), fam)
    uri = (
        F.when(v == 0, base)
        .when(v == 1, F.concat(F.lit("https://site"), fam, F.lit(".example/page/"), fam))
        .when(v == 2, F.concat(F.lit("http://www.site"), fam, F.lit(".example/page/"), fam))
        .otherwise(F.concat(base, F.lit("x")))  # near-dup, not identical
    )
    hot = F.pmod(F.xxhash64("id", F.lit(7)), F.lit(50)) < 1
    hot_fam = F.pmod(F.xxhash64("id", F.lit(9)), F.lit(3)).cast("string")
    hot_uri = F.concat(
        F.lit("http://hot"), hot_fam, F.lit(".example/aaaaaaaaaaaaaaaaaaaaaaaa/"),
        F.col("id").cast("string"),
    )
    return ids.select(F.when(hot, hot_uri).otherwise(uri).alias("uri"))


def cell_b_lsh(spark, n_uris: int, out: dict) -> None:
    from kgpipe.operators.link import (
        LSH_BANDS,
        LSH_MAX_BUCKET,
        LSH_NUM_HASHES,
        LSH_SEED,
        LSH_SHINGLE_K,
        _uri_banded,
        neardup_bucket_stats,
        normalize_uri,
        verified_neardup_edges,
    )

    path = os.path.join(out["workdir"], "uris")
    stress_uris(spark, n_uris).write.mode("overwrite").parquet(path)
    uris = spark.read.parquet(path)

    load = wait_quiet()
    t0 = time.monotonic()
    # 0.85: the near-dup variant (one appended char on a ~60-char URI)
    # sits at J ≈ 0.93; 0.85 keeps it inside with margin while still
    # excluding unrelated URIs
    edges = verified_neardup_edges(uris, "uri", jaccard_threshold=0.85)
    n_edges = edges.count()
    wall = time.monotonic() - t0
    stats = neardup_bucket_stats(uris, "uri").collect()[0].asDict()

    # the guard's own phase-1 key set, recomputed for the record: how
    # close is this corpus to the broadcast_key_limit fallback?
    base = uris.select("uri", normalize_uri(F.col("uri")).alias("norm")).distinct()
    banded = _uri_banded(base, "uri", "norm", LSH_NUM_HASHES, LSH_BANDS, LSH_SHINGLE_K, LSH_SEED)
    oversize_keys = (
        banded.groupBy("band", "bh").agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > LSH_MAX_BUCKET).count()
    )
    # planted truth outside the hot buckets: scheme/www variants of
    # family 0 must be linked (exact-normalized path)
    # family 0's URIs are "…site0/<hex>.example…" after the shingle
    # diversification — match on the fam prefix, not the old skeleton
    f0 = {r["src"] for r in edges.where(
        F.col("src").contains("site0/") | F.col("dst").contains("site0/")
    ).collect()}
    out["lsh"] = {
        "uris": n_uris, "banded_rows": n_uris * LSH_BANDS, "wall_s": round(wall, 1),
        "edges": n_edges, "bucket_stats": stats, "oversize_keys": oversize_keys,
        "broadcast_fallback_fired": oversize_keys > 4_000_000,
        "family0_linked": bool(f0), "load": load,
    }
    print("CELL B:", json.dumps(out["lsh"]), flush=True)


def cell_c_merge(spark, n_edges: int, out: dict) -> None:
    from kgpipe.operators.cc import canonical_map_for_nodes, incremental_merge

    epath = os.path.join(out["workdir"], "edges")
    if not os.path.exists(os.path.join(epath, "_SUCCESS")):
        # standalone run (no cell A in this invocation): stage the graph
        zipf_graph(spark, n_edges).write.mode("overwrite").parquet(epath)
    e = spark.read.parquet(epath)
    # base map: reuse cell A's work by recomputing once outside the
    # timed region (cells may run standalone)
    base_map_path = os.path.join(out["workdir"], "base_map")
    if not os.path.exists(os.path.join(base_map_path, "_SUCCESS")):
        canonical_map_for_nodes(
            e.select(F.col("src").alias("uri")).union(e.select(F.col("dst").alias("uri"))),
            e, max_iter=30,
        ).write.mode("overwrite").parquet(base_map_path)
    prev = spark.read.parquet(base_map_path)

    n_delta = max(n_edges // 100, 1000)
    ids = spark.range(n_delta)
    cluster = (F.col("id") / 5).cast("long")
    # 6/7 of the delta: NEW nodes joining existing clusters; 1/7:
    # edges between two EXISTING clusters' members — real cross-
    # component merges, the case that exercises label-change emission
    merge_edge = F.pmod(F.col("id"), F.lit(7)) == 0
    delta = ids.select(
        F.when(
            merge_edge, F.concat(F.lit("u"), (cluster * 6 + 5).cast("string"))
        ).otherwise(F.concat(F.lit("new"), F.col("id").cast("string"))).alias("src"),
        F.when(
            merge_edge, F.concat(F.lit("u"), ((cluster + 1) * 6).cast("string"))
        ).otherwise(F.concat(F.lit("u"), (cluster * 6 + 5).cast("string"))).alias("dst"),
    )
    dpath = os.path.join(out["workdir"], "delta")
    delta.write.mode("overwrite").parquet(dpath)
    d = spark.read.parquet(dpath)

    load = wait_quiet()
    t0 = time.monotonic()
    merged = incremental_merge(prev, d, max_iter=30).cmap
    n_m = merged.count()
    t_merge = time.monotonic() - t0

    load2 = wait_quiet()
    t0 = time.monotonic()
    combined = e.union(d)
    full = canonical_map_for_nodes(
        combined.select(F.col("src").alias("uri")).union(combined.select(F.col("dst").alias("uri"))),
        combined, max_iter=30,
    )
    n_f = full.count()
    t_full = time.monotonic() - t0
    assert n_m == n_f, (n_m, n_f)
    out["merge"] = {
        "base_edges": n_edges, "delta_edges": n_delta,
        "incremental_merge_s": round(t_merge, 1), "full_recompute_s": round(t_full, 1),
        "speedup": round(t_full / max(t_merge, 1e-9), 2),
        "map_rows": n_m, "loads": [load, load2],
    }
    print("CELL C:", json.dumps(out["merge"]), flush=True)


def _map_digest(df) -> tuple[int, int]:
    """(rows, order-insensitive value hash) of a (uri, canon_id)
    map — one narrow agg, no shuffle join: equality of digests pins
    map equality without an except-join over 2×~60M rows."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        # bit_xor, not sum: ANSI-safe (no long overflow) and rows are
        # unique per uri, so xor is a sound multiset-equality digest
        F.bit_xor(F.xxhash64("uri", "canon_id")).alias("h"),
    ).collect()[0]
    return int(r["n"]), int(r["h"])


def cell_d_stacked(spark, n_edges: int, out: dict, n_batches: int = 8) -> None:
    """Stacked-delta merge storm (r6 verdict next #6): n_batches
    sequential deltas through cc.incremental_merge at cell A's graph,
    each delta carrying (a) bulk new-node joins, (b) cross-cluster
    merges whose windows OVERLAP the previous batch's (components
    keep growing across batches), and (c) a dedicated chain edge
    ("c-00k" ids) that forces batch i to relabel the exact canon
    label batch i-1 introduced — the case pipeline._compose_changes
    exists for. Pins, at full scale:
      1. final stacked map == scratch recompute over base+all deltas
         (row count + order-insensitive value hash);
      2. _compose_changes over the UNION of all per-batch change sets
         applied to the BASE map == the final map (same digest) — the
         exact composition the materialize stage performs when many
         batches are pending;
    and records the merge-storm fallback input per batch: cumulative
    composed-change count vs pipeline.CHANGED_BROADCAST_LIMIT (the
    dir-fraction trigger is pinned at small scale in test_pipeline's
    merge-storm test — it needs a materialized edge table)."""
    from kgpipe.operators.cc import canonical_map_for_nodes, incremental_merge
    from kgpipe.pipeline import CHANGED_BROADCAST_LIMIT, _compose_changes

    epath = os.path.join(out["workdir"], "edges")
    if not os.path.exists(os.path.join(epath, "_SUCCESS")):
        zipf_graph(spark, n_edges).write.mode("overwrite").parquet(epath)
    e = spark.read.parquet(epath)
    base_map_path = os.path.join(out["workdir"], "base_map")
    if not os.path.exists(os.path.join(base_map_path, "_SUCCESS")):
        canonical_map_for_nodes(
            e.select(F.col("src").alias("uri")).union(e.select(F.col("dst").alias("uri"))),
            e, max_iter=30,
        ).write.mode("overwrite").parquet(base_map_path)
    base_map = spark.read.parquet(base_map_path)

    n_delta = max(n_edges // 200, 1000)
    n_clusters = n_edges // 5 // 6  # zipf_graph star clusters

    def delta_i(i: int):
        ids = spark.range(n_delta)
        # bulk: 6/7 new nodes joining existing clusters ("z…" ids —
        # they sort AFTER the "u…" cluster labels, so a pure append
        # does not relabel, the daily-crawl delta shape), 1/7 merges
        # between cluster j and j+i — for a fixed j the batches chain
        # the SAME growing component (overlapping windows)
        cl = F.pmod(F.xxhash64("id", F.lit(i)), F.lit(n_clusters - n_batches - 1))
        merge_edge = F.pmod(F.col("id"), F.lit(7)) == 0
        bulk = ids.select(
            F.when(
                merge_edge, F.concat(F.lit("u"), (cl * 6 + 5).cast("string"))
            ).otherwise(
                F.concat(F.lit("z"), F.lit(i).cast("string"), F.lit("n"),
                         F.col("id").cast("string"))
            ).alias("src"),
            F.when(
                merge_edge,
                F.concat(F.lit("u"), ((cl + i) * 6 + 5).cast("string")),
            ).otherwise(
                F.concat(F.lit("u"), (cl * 6 + 5).cast("string"))
            ).alias("dst"),
        )
        # the guaranteed label chain: "a-XXX" sorts before every other
        # node id ("b…", "h…", "u…"), so batch 1 makes a-N the canon of
        # the chain component, batch 2
        # relabels it to a-(N-1), … — every batch relabels the label
        # the previous batch introduced
        hi = n_batches - i + 1
        chain_src = f"a-{n_batches - i:03d}"
        chain_dst = "u5" if i == 1 else f"a-{hi:03d}"
        chain = spark.createDataFrame([(chain_src, chain_dst)], "src string, dst string")
        return bulk.union(chain)

    prev = base_map
    batch_walls, batch_changes, all_change_paths = [], [], []
    cum_changes = 0
    for i in range(1, n_batches + 1):
        dpath = os.path.join(out["workdir"], f"delta_{i}")
        delta_i(i).write.mode("overwrite").parquet(dpath)
        d = spark.read.parquet(dpath)
        load = wait_quiet()
        t0 = time.monotonic()
        m = incremental_merge(prev, d, max_iter=30)
        merged, changes = m.cmap, m.changes
        mpath = os.path.join(out["workdir"], f"map_{i}")
        cpath = os.path.join(out["workdir"], f"changes_{i}")
        merged.write.mode("overwrite").parquet(mpath)
        changes.write.mode("overwrite").parquet(cpath)
        wall = time.monotonic() - t0
        prev = spark.read.parquet(mpath)
        n_ch = spark.read.parquet(cpath).count()
        cum_changes += n_ch
        batch_walls.append(round(wall, 1))
        batch_changes.append(n_ch)
        all_change_paths.append(cpath)
        print(f"  cell D batch {i}: {wall:.1f}s, {n_ch} label changes "
              f"(load {load})", flush=True)

    # pin 1: stacked result == scratch recompute over base + all deltas
    deltas = spark.read.parquet(*[os.path.join(out["workdir"], f"delta_{i}")
                                  for i in range(1, n_batches + 1)])
    combined = e.union(deltas.select("src", "dst"))
    load = wait_quiet()
    t0 = time.monotonic()
    scratch = canonical_map_for_nodes(
        combined.select(F.col("src").alias("uri")).union(
            combined.select(F.col("dst").alias("uri"))
        ),
        combined, max_iter=30,
    )
    d_scratch = _map_digest(scratch)
    t_scratch = time.monotonic() - t0
    d_final = _map_digest(prev)
    assert d_final == d_scratch, (d_final, d_scratch)

    # pin 2: the pipeline's pending-batch composition — compose ALL
    # change sets, apply to the BASE map, compare to the final map
    raw = spark.read.parquet(*all_change_paths).select("old_c", "new_c")
    composed = _compose_changes(raw, n_batches).localCheckpoint(eager=True)
    n_composed = composed.count()
    relabeled = (
        base_map.join(
            F.broadcast(composed.withColumnRenamed("old_c", "canon_id")),
            "canon_id", "left",
        )
        .select("uri", F.coalesce("new_c", "canon_id").alias("canon_id"))
    )
    # the final map also holds NEW nodes the deltas introduced; the
    # composition contract covers the base map's rows — compare there
    final_on_base = prev.join(base_map.select("uri"), "uri", "left_semi")
    d_rel = _map_digest(relabeled)
    d_fb = _map_digest(final_on_base)
    assert d_rel == d_fb, (d_rel, d_fb)
    # chained labels really composed: the a-chain's terminal label
    # (batch n's a-000) is the final canon of u5's component even on
    # the base-map-relabel side — only a full composition explains it
    got_term = relabeled.where(F.col("uri") == "u5").select("canon_id").collect()
    assert got_term and got_term[0][0] == "a-000", got_term

    out["stacked"] = {
        "base_edges": n_edges, "n_batches": n_batches, "delta_edges_each": n_delta,
        "batch_walls_s": batch_walls, "batch_label_changes": batch_changes,
        "stacked_total_s": round(sum(batch_walls), 1),
        "scratch_recompute_s": round(t_scratch, 1),
        "speedup_vs_scratch_per_batch": round(
            t_scratch / max(sum(batch_walls) / n_batches, 1e-9), 2
        ),
        "composed_changes": n_composed,
        "changed_broadcast_limit": CHANGED_BROADCAST_LIMIT,
        "broadcast_fallback_would_fire": n_composed > CHANGED_BROADCAST_LIMIT,
        "map_digest_match": True, "compose_digest_match": True,
        "chain_terminal_label": "a-000",
    }
    print("CELL D:", json.dumps(out["stacked"]), flush=True)


def cell_d2_storm(spark, n_edges: int, out: dict) -> None:
    """Merge-storm fallback IN-OPERATOR at full scale (r7 verdict
    next #4): drive `_stage_materialize_incremental` itself with 8
    pending batches whose composed change set exceeds
    CHANGED_BROADCAST_LIMIT over the n_edges-edge LAYERED table, and
    pin the fallback rebuild's edge table digest-equal to a scratch
    recompute.

    The layered initial state is laid down BY the stage (a first call
    with one batch and no edge table takes the rebuild path and
    writes the b_fp=full layer, its coverage marker, MAT_STATE and
    the ledger row), so every marker/layout detail is
    production-written, not hand-crafted. The storm call then sees 8
    pending batches, composes their label changes (every component
    relabeled — millions of rows at full scale), trips the broadcast
    budget, and falls back to one full
    rebuild — which also exercises the r8 CMAP_BROADCAST_LIMIT join
    gate for real: the post-merge map's non-identity rows are ~0.8 ×
    n_edges, far over the 4M-row broadcast budget, so the
    canonicalize join runs as sort-merge (the pre-r8 unconditional
    broadcast would have attempted a multi-GB broadcast here)."""
    import shutil

    from kgpipe.checkpoints import CheckpointLog
    from kgpipe.fixtures import RULES_16_TEXT
    from kgpipe.io import TableIO
    from kgpipe.operators.cc import canonical_map_for_nodes
    from kgpipe.operators.materialize import (
        CMAP_BROADCAST_LIMIT,
        canonicalize_triples,
        edges_with_buckets,
    )
    from kgpipe.pipeline import (
        CHANGED_BROADCAST_LIMIT,
        CHANGES_DDL,
        EDGES_INC_DDL,
        LINKED_URLS_DDL,
        PipelineConfig,
        _compose_changes,
        _stage_materialize_incremental,
    )

    epath = os.path.join(out["workdir"], "edges")
    if not os.path.exists(os.path.join(epath, "_SUCCESS")):
        zipf_graph(spark, n_edges).write.mode("overwrite").parquet(epath)
    e = spark.read.parquet(epath)
    base_map_path = os.path.join(out["workdir"], "base_map")
    if not os.path.exists(os.path.join(base_map_path, "_SUCCESS")):
        canonical_map_for_nodes(
            e.select(F.col("src").alias("uri")).union(
                e.select(F.col("dst").alias("uri"))
            ),
            e, max_iter=30,
        ).write.mode("overwrite").parquet(base_map_path)
    base_map = spark.read.parquet(base_map_path)
    triples = e.select(
        F.col("src").alias("s"),
        F.lit("http://www.w3.org/2002/07/owl#sameAs").alias("p"),
        F.col("dst").alias("o"),
    )

    wh = os.path.join(out["workdir"], "d2_wh")
    shutil.rmtree(wh, ignore_errors=True)
    io = TableIO(spark, wh)
    log = CheckpointLog(io)
    cfg = PipelineConfig(
        warehouse=wh, rules_text=RULES_16_TEXT, mode="compat",
        n_buckets=32,
    )

    # ---- batch b0: initial full materialize lays down the layered state
    io.write(
        spark.createDataFrame([("seed-url", 0, 0, "b0")], LINKED_URLS_DDL),
        "linked_urls", partition_by=["batch_fp"],
    )
    load0 = wait_quiet()
    t0 = time.monotonic()
    _stage_materialize_incremental(spark, triples, base_map, cfg, io, log)
    t_init = time.monotonic() - t0

    # ---- 8 pending batches: the component labels split in 8 disjoint
    # slices, each relabeled to fresh m{i}-prefixed labels — a true
    # merge storm (every component touched). The composition is their
    # union; at full scale it dwarfs the broadcast budget on its own,
    # and at smoke scales no-op pad rows (old labels that match
    # nothing — they relabel no edge and leave cmap_final untouched)
    # push the composed COUNT past the budget so the same gate fires.
    roots = base_map.select("canon_id").distinct()
    slices = [
        roots.where(F.pmod(F.xxhash64("canon_id", F.lit(1234)), F.lit(8)) == i - 1)
        .select(
            F.col("canon_id").alias("old_c"),
            F.concat(F.lit(f"m{i}x"), F.col("canon_id")).alias("new_c"),
            F.lit(f"b{i}").alias("batch_fp"),
        )
        for i in range(1, 9)
    ]
    changes_all = slices[0]
    for s in slices[1:]:
        changes_all = changes_all.union(s)
    n_real = changes_all.count()
    if n_real <= CHANGED_BROADCAST_LIMIT:
        pad_per_batch = (CHANGED_BROADCAST_LIMIT - n_real) // 8 + 20_000
        for i in range(1, 9):
            changes_all = changes_all.union(
                spark.range(pad_per_batch).select(
                    F.concat(F.lit(f"pad{i}_"), F.col("id").cast("string")).alias("old_c"),
                    F.concat(F.lit(f"q{i}_"), F.col("id").cast("string")).alias("new_c"),
                    F.lit(f"b{i}").alias("batch_fp"),
                )
            )
    io.write(changes_all, "canon_changes", partition_by=["batch_fp"])
    io.write(
        spark.createDataFrame(
            [("seed-url", 0, 0, "b0")] + [(f"u-b{i}", 0, 0, f"b{i}") for i in range(1, 9)],
            LINKED_URLS_DDL,
        ),
        "linked_urls", partition_by=["batch_fp"],
    )
    n_composed = _compose_changes(
        io.read("canon_changes", CHANGES_DDL).select("old_c", "new_c"), 8
    ).count()
    cmap_final = (
        base_map.join(
            io.read("canon_changes", CHANGES_DDL)
            .select(F.col("old_c").alias("canon_id"), "new_c"),
            "canon_id", "left",
        )
        .select("uri", F.coalesce("new_c", "canon_id").alias("canon_id"))
    )
    n_nontrivial = (
        cmap_final.where(F.col("uri") != F.col("canon_id"))
        .limit(CMAP_BROADCAST_LIMIT + 1)
        .count()
    )

    # ---- the storm call: composes the 8 batches, trips the budget,
    # falls back to ONE full rebuild through the gated SMJ join
    load1 = wait_quiet()
    t0 = time.monotonic()
    _stage_materialize_incremental(spark, triples, cmap_final, cfg, io, log)
    t_storm = time.monotonic() - t0

    # ---- pins: digest vs scratch; single full layer covering all 9
    def edge_digest(df) -> tuple[int, int, int]:
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("canon_s", "p", "canon_o")).alias("x"),
            # edge rows are a MULTISET (repeated (src,dst) pairs occur)
            # and xor cancels even multiplicities — the modular sum
            # breaks that tie (values < 2^31, ANSI-safe at any count)
            F.sum(
                F.pmod(F.xxhash64("canon_s", "p", "canon_o"), F.lit(1_000_000_007))
            ).alias("s"),
        ).collect()[0]
        return int(r["n"]), int(r["x"]), int(r["s"])

    got = edge_digest(io.read("edges", EDGES_INC_DDL).select("canon_s", "p", "canon_o"))
    scratch = edge_digest(
        edges_with_buckets(
            canonicalize_triples(triples, cmap_final, broadcast_map=False), cfg.n_buckets
        ).select("canon_s", "p", "canon_o")
    )
    assert got == scratch, (got, scratch)
    layers = sorted({d.split("=", 1)[1] for d in os.listdir(io._local_dir("edges"))
                     if d.startswith("b_fp=")})
    assert layers == ["full"], layers
    from kgpipe.pipeline import _layer_marker

    marker = io.read_json(_layer_marker("full")) or {}

    out["storm"] = {
        "base_edges": n_edges,
        "pending_batches": 8,
        "composed_changes": n_composed,
        "changed_broadcast_limit": CHANGED_BROADCAST_LIMIT,
        "storm_triggered": n_composed > CHANGED_BROADCAST_LIMIT,
        "cmap_nontrivial_rows_probe": n_nontrivial,
        "cmap_broadcast_limit": CMAP_BROADCAST_LIMIT,
        "rebuild_join": "sort-merge (over broadcast budget)"
        if n_nontrivial > CMAP_BROADCAST_LIMIT else "broadcast",
        "initial_full_materialize_s": round(t_init, 1),
        "storm_fallback_rebuild_s": round(t_storm, 1),
        "edges_rows": got[0],
        "digest_match_vs_scratch": True,
        "layers_after": layers,
        "marker_covers_batches": len(marker.get("batches", [])),
        "loads": [load0, load1],
    }
    print("CELL D2:", json.dumps(out["storm"]), flush=True)
    shutil.rmtree(wh, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", type=int, default=50_000_000)
    ap.add_argument("--uris", type=int, default=10_000_000)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--cells", default="abc")
    ap.add_argument("--workdir", default=None)
    args = ap.parse_args()

    import shutil
    import tempfile

    from kgpipe.session import get_spark

    spark = get_spark(
        app_name="kgpipe-scale-stress", master=f"local[{args.cpus}]",
        shuffle_partitions=max(args.cpus * 2, 64),
    )
    workdir = args.workdir or tempfile.mkdtemp(prefix="kg_stress_")
    out: dict = {"workdir": workdir, "cpus": args.cpus}
    try:
        if "a" in args.cells:
            cell_a_cc(spark, args.edges, out)
        if "b" in args.cells:
            cell_b_lsh(spark, args.uris, out)
        if "c" in args.cells:
            cell_c_merge(spark, args.edges, out)
        if "d" in args.cells:
            cell_d_stacked(spark, args.edges, out)
        if "s" in args.cells:
            cell_d2_storm(spark, args.edges, out)
        out.pop("workdir", None)
        print("STRESS_RESULT " + json.dumps(out), flush=True)
    finally:
        if args.workdir is None:
            shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
