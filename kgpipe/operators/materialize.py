"""Stage 6 — materialize: rewrite triples through the canonical map
and write partitioned edge tables.

Join strategy is explicit about scale (SURVEY.md §4.2):
  - canonical_map rows ≈ number of non-trivial-component URIs. When
    it fits the broadcast budget we broadcast it (two narrow hash
    joins, zero shuffle of the big triple table).
  - Otherwise sort-merge; AQE skew-join splitting covers hot canon
    ids (rdf:type objects, big sameAs hubs).

The identity mapping (uri → itself) is NOT materialized into the
map — unmatched triples keep their original term via coalesce. At
10^12 scale the identity rows would dwarf the real map and force the
sort-merge path for no information.

Output layout: edges(canon_s, p, canon_o, part_id) partitioned by
part_id = pmod(xxhash64(canon_s), n_buckets) — co-locates all edges
of an entity for downstream per-entity work, and makes file counts
independent of executor count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Broadcast budget for the canonical map (rows of (uri, canon_id)
# strings ≈ 100-150 B serialized each ⇒ ~4M rows ≈ 0.5 GB): above it
# the materialize callers fall back to the sort-merge join the module
# docstring promises — every executor holds a full broadcast copy, so
# an unconditional broadcast of a corpus-sized map is a driver/executor
# OOM at 10^12-page scale.
CMAP_BROADCAST_LIMIT = 4_000_000


def canonicalize_triples(
    triples: DataFrame,
    canonical_map: DataFrame,
    broadcast_map: bool = True,
) -> DataFrame:
    """triples(s, p, o, ...) × canonical_map(uri, canon_id) →
    (canon_s, p, canon_o). Non-identity map rows only; identity via
    coalesce."""
    nontrivial = canonical_map.where(F.col("uri") != F.col("canon_id"))
    m = F.broadcast(nontrivial) if broadcast_map else nontrivial

    ms = m.select(F.col("uri").alias("s"), F.col("canon_id").alias("canon_s_m"))
    mo = m.select(F.col("uri").alias("o"), F.col("canon_id").alias("canon_o_m"))
    return (
        triples.join(ms, "s", "left")
        .join(mo, "o", "left")
        .select(
            F.coalesce("canon_s_m", "s").alias("canon_s"),
            F.col("p"),
            F.coalesce("canon_o_m", "o").alias("canon_o"),
        )
    )


def edges_with_buckets(edges: DataFrame, n_buckets: int = 64) -> DataFrame:
    return edges.withColumn(
        "part_id", F.pmod(F.xxhash64("canon_s"), F.lit(n_buckets)).cast("int")
    )
