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
        out.pop("workdir", None)
        print("STRESS_RESULT " + json.dumps(out), flush=True)
    finally:
        if args.workdir is None:
            shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
