"""Entity linking: build sameAs edges from (a) explicit owl:sameAs
triples and (b) minhash-LSH near-duplicate URI detection.

Everything here is built-in Spark SQL expressions — no Python UDFs
at all. The minhash signature is computed WITHOUT exploding shingles:

    shingles  : transform(sequence(...), i -> substring(s, i, k))
    signature : aggregate(shingles, [MAX..], (acc, x) ->
                  zip_with(acc, [xxhash64(x, seed_i)...], least))

i.e. a per-row fold inside whole-stage codegen — a narrow transform.
The only shuffle in candidate generation is the groupBy on
(band, band_hash), which is exactly the LSH bucket join. Compare with
driving this through a pandas UDF: same math, but leaves codegen and
pays Arrow serde for every row. At 10^12 pages that difference is the
job.

Bucket-size capping bounds the quadratic pair blowup from degenerate
buckets (empty strings, boilerplate URIs) — a skew guard, not a
correctness device: capped buckets are counted and surfaced so the
recall budget is visible (SURVEY.md §6 P/R ≥ 0.95).

Reference relation: ntto has no linking at all; the north rule adds
"minhash-style URI dedup" as a pipeline stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

LONG_MAX = (1 << 63) - 1

# ONE source of truth for the URI-linker banding: lsh_candidate_pairs
# (via verified_neardup_edges), the pipeline's lsh_index and
# neardup_bucket_stats all use these, so the persisted recall budget
# always quantifies the banding the linker actually ran — a drift
# between literal defaults could otherwise silently decouple them.
LSH_NUM_HASHES = 32
LSH_BANDS = 8
# k=8 (was 4): URL corpora share long skeletons ("http://", host/path
# scaffolding), and with k=4 the tiny 4-gram space (drawn from a small
# URL alphabet) concentrates minhash minima on shared grams — measured
# on a 500k-URI synthetic web corpus, k=4 dropped 85% of banded rows
# into over-cap buckets (max bucket 290k) while k=8 dropped 23% (max
# 28k), VERIFIED 37% more true near-dup edges, and ran 26% faster.
# Larger k = larger gram space = minima spread across family-specific
# grams; exact-Jaccard verification uses the same k, so emitted pairs
# stay ground-truth at this k's metric.
LSH_SHINGLE_K = 8
LSH_MAX_BUCKET = 64
LSH_SEED = 42
# Bump when the signature ALGORITHM changes (not just the constants):
# persisted banded indexes and run manifests key their identity on the
# family, and an algorithm change reshapes every bucket. v2 = per-index
# rehash replacing Kirsch-Mitzenmacher double hashing (see
# minhash_signature).
LSH_FAMILY_VERSION = 2


def normalize_uri(col: Column) -> Column:
    """Canonical URI form for duplicate detection (FIXTURES.md F5
    variants): https→http, strip www., strip one trailing slash,
    decode %20."""
    c = F.regexp_replace(col, r"^https://", "http://")
    c = F.regexp_replace(c, r"^http://www\.", "http://")
    c = F.regexp_replace(c, r"/$", "")
    c = F.regexp_replace(c, r"%20", " ")
    return c


def char_shingles(col: Column, k: int = 4) -> Column:
    """Distinct character k-grams, computed JVM-side."""
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(col) - (k - 1), F.lit(1))),
        lambda i: col.substr(i, F.lit(k)),
    )
    return F.array_distinct(grams)


def minhash_signature(shingles: Column, num_hashes: int = 32, seed: int = 42) -> Column:
    """array<long> minhash signature as a per-row fold — no explode,
    no shuffle, no UDF.

    Hash family (v2): h_i(x) = xxhash64(h1(x), i) — the expensive
    string hash h1 runs ONCE per shingle, then each index i rehashes
    the (long, int) pair, so the per-shingle cost stays O(1) string
    hashes + num_hashes cheap long-pair hashes, still loop-form
    inside a HOF (no num_hashes-way codegen unroll → no JIT blowup).

    v1 used Kirsch-Mitzenmacher double hashing, h_i = h1 + (2i+1)·h2
    — correct for Bloom filters but WRONG for banded minhash: if
    h1(x) < h1(y) AND h2(x) < h2(y) then h_i(x) < h_i(y) for EVERY i,
    so per-band collision events are strongly positively correlated
    and the (1-J^r)^b recall bound (which needs independent bands)
    breaks. Measured on sf0.1 documents at J ≥ 0.8: 7 banding misses
    of 256 truth pairs (2.7%) where the independent-band bound
    predicts 2.2e-4 (~0.06 pairs) — two orders over. The v2 rehash
    restores band independence; the same measurement gives 0 banding
    misses. Bumping to v2 invalidates persisted LSH indexes via
    LSH_FAMILY_VERSION in the config digests — rebuilt, not silently
    mixed.

    ANSI-safe: xxhash64 output is used as-is (no arithmetic at all,
    so no long overflow under Spark 4's default ANSI mode). Driver
    queries must be correct under ANY session conf (the driver owns
    the session).

    Evaluation shape (r8): h1 is computed by a transform over the
    shingles BEFORE the fold, so the fold's element is the already-
    hashed long bound to a lambda VARIABLE. The previous form computed
    h1 inside the fold lambda, where each of the num_hashes per-index
    rehashes re-evaluated the h1 subtree (HOF lambdas re-evaluate
    their body subtrees per element — nothing CSEs across them), i.e.
    num_hashes h1 evaluations per shingle instead of one. Identical
    values — same function composition xxhash64(xxhash64(x, seed), i)
    — so the family version is unchanged."""
    init = F.array_repeat(F.lit(LONG_MAX), num_hashes)
    pre = F.transform(shingles, lambda x: F.xxhash64(x, F.lit(seed)))

    def merge(acc: Column, h1: Column) -> Column:
        hashes = F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda i: F.xxhash64(h1, i),
        )
        return F.zip_with(acc, hashes, lambda a, b: F.least(a, b))

    return F.aggregate(pre, init, merge)


def banded_rows(
    df: DataFrame,
    id_col: str,
    sig: Column,
    bands: int,
    rows_per_band: int,
) -> DataFrame:
    """(id, band, bh): one row per (row, band) with the band's slice
    hashed.

    Plan shape matters here: the signature fold is ~100× the cost of
    a band hash, so it must be evaluated ONCE per row. Putting it in
    a Project directly under the Generate (posexplode) guarantees
    that — CollapseProject merges Project-over-Project (inlining the
    fold into the per-band lambda, where a HOF re-evaluates it per
    element: measured 16× blowup), but nothing inlines a child
    Project into a Generate's generator."""
    sigd = df.select(F.col(id_col), sig.alias("__sig"))
    band_hashes = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda j: F.xxhash64(F.slice(F.col("__sig"), j * rows_per_band + 1, rows_per_band)),
    )
    return sigd.select(id_col, F.posexplode(band_hashes).alias("band", "bh"))


def capped_buckets(
    banded: DataFrame,
    max_bucket: int,
    *aggs,
    broadcast_key_limit: int = 4_000_000,
) -> DataFrame:
    """groupBy(band, bh) with the size cap enforced BEFORE any
    degenerate bucket reaches a reducer.

    Two-phase shape: (1) a count-only aggregation finds oversized
    bucket keys — count() partial-aggregates map-side, so its
    exchange carries at most one row per (bucket, map partition) and
    its output is the (normally tiny) oversize key set, materialized
    EAGERLY via localCheckpoint with an Observation riding the same
    job for the driver-side key count (a separate count() job per
    family query before r8);
    (2) an anti-join drops those keys from the banded rows: BROADCAST
    (map-side, no exchange of banded rows) while the key set is ≤
    broadcast_key_limit, falling back to a shuffled sort-merge
    anti-join on adversarial data where broadcasting the key set
    itself would OOM the driver (SMJ streams both sorted sides, so
    even a pathological bucket's rows pass through bounded memory).
    In the normal regime no single reduce task ever streams a
    pathological bucket (empty text, boilerplate — at 10^12 docs such
    a bucket is a straggler at best, an OOM at worst). Singleton
    buckets are dropped by a having-filter on the final aggregation;
    the surviving collect_list state is bounded by max_bucket.

    SNAPSHOT semantics: because phase 1 runs at CALL time, the
    oversize key set reflects the input as of plan construction.
    Build the plan and run it against the same input snapshot; do not
    hold a built plan across source appends (true of every
    eager-materializing operator here).

    The two phases traverse `banded` twice, so the signature fold
    behind it runs twice. For the short-string URI minhash of
    lsh_candidate_pairs that recompute is cheap — the sizes pass costs
    little beyond the fold itself, since count() partial-aggregates
    map-side and its shuffle carries one row per (bucket, partition).
    persist() is never the answer here: it pins the plan in the
    session CacheManager until an explicit unpersist, which a lazy
    helper has no safe point to issue."""
    from pyspark.sql import Observation

    # key count measured by the SAME job that materializes the key
    # set (Observation populated by the eager checkpoint) — the
    # previous count() on the checkpointed frame was one more fixed-
    # latency job per family query
    obs = Observation()
    oversized = (
        banded.groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("__sz"))
        .where(F.col("__sz") > max_bucket)
        .select("band", "bh")
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    if int(obs.get["n"]) <= broadcast_key_limit:
        kept = banded.join(F.broadcast(oversized), ["band", "bh"], "left_anti")
    else:
        kept = banded.join(oversized.hint("shuffle_merge"), ["band", "bh"], "left_anti")
    return (
        kept.groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("__bucket_n"), *aggs)
        .where(F.col("__bucket_n") > 1)
        .drop("__bucket_n")
    )


def bucket_stats(banded: DataFrame, max_bucket: int) -> DataFrame:
    """Observability for the recall budget (SURVEY.md §6 P/R ≥ 0.95):
    one row of bucket-population stats — how many buckets exist, how
    many are singletons (generate no pairs), how many the cap DROPS,
    and how many ids sit inside dropped buckets (the upper bound on
    pairs lost to the skew guard)."""
    sizes = banded.groupBy("band", "bh").agg(F.count(F.lit(1)).alias("n"))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("n_singleton"),
        F.sum(F.when(F.col("n") > max_bucket, 1).otherwise(0)).alias("n_dropped"),
        F.sum(F.when(F.col("n") > max_bucket, F.col("n")).otherwise(0)).alias("ids_in_dropped"),
        F.max("n").alias("max_bucket_size"),
    )


def _pairs_from_sorted_array(arr: Column) -> Column:
    """All (a, b) with a < b from a sorted-distinct array — bounded
    by the bucket cap, computed JVM-side."""
    return F.filter(
        F.flatten(
            F.transform(
                arr,
                lambda a: F.transform(arr, lambda b: F.struct(a.alias("a"), b.alias("b"))),
            )
        ),
        lambda st: st["a"] < st["b"],
    )


def _uri_banded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_k: int,
    seed: int,
) -> DataFrame:
    """The banded minhash rows behind lsh_candidate_pairs — shared
    with neardup_bucket_stats so the observability pass sees the
    exact banding the linker used."""
    r = num_hashes // bands
    sig = minhash_signature(char_shingles(F.col(text_col), shingle_k), num_hashes, seed)
    return banded_rows(df, id_col, sig, bands, r)


def neardup_bucket_stats(
    df: DataFrame,
    id_col: str = "uri",
    num_hashes: int = LSH_NUM_HASHES,
    bands: int = LSH_BANDS,
    shingle_k: int = LSH_SHINGLE_K,
    max_bucket: int = LSH_MAX_BUCKET,
    seed: int = LSH_SEED,
) -> DataFrame:
    """bucket_stats over EXACTLY the banding verified_neardup_edges
    uses (same normalization, shingling, hash family, band count) —
    one row quantifying the LSH skew guard's recall budget for a
    corpus: ids_in_dropped is the upper bound on URIs whose pairs the
    bucket cap may have cost. It bands the URIs itself, so it is the
    independent reference for the budget the pipeline reads off its
    persisted lsh_index (test_pipeline compares the two)."""
    base = df.select(
        F.col(id_col).alias("uri"), normalize_uri(F.col(id_col)).alias("norm")
    ).distinct()
    banded = _uri_banded(base, "uri", "norm", num_hashes, bands, shingle_k, seed)
    return bucket_stats(banded, max_bucket)


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "uri",
    text_col: str = "norm",
    num_hashes: int = LSH_NUM_HASHES,
    bands: int = LSH_BANDS,
    shingle_k: int = LSH_SHINGLE_K,
    max_bucket: int = LSH_MAX_BUCKET,
    seed: int = LSH_SEED,
) -> DataFrame:
    """→ (a, b) candidate pairs with a < b, from banded minhash.

    bands must divide num_hashes; rows per band r = num_hashes/bands.
    Buckets larger than max_bucket are dropped (skew guard; quantify
    the recall cost with `bucket_stats` over the same banded rows).
    """
    assert num_hashes % bands == 0
    banded = _uri_banded(df, id_col, text_col, num_hashes, bands, shingle_k, seed)
    buckets = capped_buckets(banded, max_bucket, F.collect_list(id_col).alias("ids"))
    ids = F.array_sort(F.array_distinct(F.col("ids")))
    pairs = buckets.select(F.explode(_pairs_from_sorted_array(ids)).alias("pr")).select(
        F.col("pr.a").alias("a"), F.col("pr.b").alias("b")
    )
    return pairs.distinct()


def verified_neardup_edges(
    df: DataFrame,
    id_col: str = "uri",
    jaccard_threshold: float = 0.85,
    num_hashes: int = LSH_NUM_HASHES,
    bands: int = LSH_BANDS,
    shingle_k: int = LSH_SHINGLE_K,
    max_bucket: int = LSH_MAX_BUCKET,
) -> DataFrame:
    """Full near-dup linker: normalize → (a) exact-normalized star
    edges ∪ (b) LSH candidates verified by exact shingle-Jaccard ≥
    threshold → edges(src, dst).

    Exact-equality after normalization (scheme/www/slash/%20 variants
    collapse to identical normal forms) is linked by its own groupBy
    on the normal form — NOT left to the LSH path, whose recall for
    any single pair is probabilistic and whose bucket cap may drop a
    hot bucket entirely. Identity-by-normalization must be exact, so
    it never rides on bucket luck."""
    base = df.select(
        F.col(id_col).alias("uri"), normalize_uri(F.col(id_col)).alias("norm")
    ).distinct()

    exact = exact_normalized_edges(df, id_col)

    cands = lsh_candidate_pairs(
        base, "uri", "norm", num_hashes, bands, shingle_k, max_bucket
    )
    a = base.select(F.col("uri").alias("a"), F.col("norm").alias("norm_a"))
    b = base.select(F.col("uri").alias("b"), F.col("norm").alias("norm_b"))
    joined = cands.join(a, "a").join(b, "b")

    sh_a = char_shingles(F.col("norm_a"), shingle_k)
    sh_b = char_shingles(F.col("norm_b"), shingle_k)
    jac = F.size(F.array_intersect(sh_a, sh_b)) / F.size(F.array_union(sh_a, sh_b))
    verified = joined.where(jac >= F.lit(jaccard_threshold)).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    return verified.union(exact).distinct()


def exact_normalized_edges(df: DataFrame, id_col: str = "uri") -> DataFrame:
    """Precision-first URI dedup: URIs identical AFTER normalization
    are duplicates, linked as a star around the min URI. One groupBy
    on the normal form (map-side combine on min; bucket sizes are the
    variant counts, i.e. tiny) — no candidate blowup, safe default
    for entity identity. Jaccard-based near-dup linking
    (verified_neardup_edges) is opt-in because a 1-character id
    difference (gnd/123 vs gnd/124) is a DIFFERENT entity but a
    high-Jaccard string."""
    base = df.select(
        F.col(id_col).alias("uri"), normalize_uri(F.col(id_col)).alias("norm")
    ).distinct()
    hubs = base.groupBy("norm").agg(F.min("uri").alias("hub"), F.count(F.lit(1)).alias("n"))
    return (
        base.join(hubs.where(F.col("n") > 1), "norm")
        .where(F.col("uri") != F.col("hub"))
        .select(F.col("uri").alias("src"), F.col("hub").alias("dst"))
    )


def sameas_edges_from_triples(triples: DataFrame, sameas_pred: str) -> DataFrame:
    """Explicit owl:sameAs assertions → edges(src, dst). Accepts the
    predicate in whatever form the triples carry (raw IRI or
    abbreviated CURIE)."""
    return (
        triples.where(F.col("p") == sameas_pred)
        .select(F.col("s").alias("src"), F.col("o").alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
