"""Entity linking: sameAs edges from (a) explicit owl:sameAs triples
and (b) URIs that share a normal form (normalize_uri: scheme, www.,
trailing slash and %20 variants of one URI).

Both are built-in Spark SQL expressions, with no Python UDF. The
pipeline links each URI to its normal form's hub (kept in the
norm_hubs index), so identity by normalization is exact. Nothing
links by string similarity: a 1-character id difference (gnd/123 vs
gnd/124) is a DIFFERENT entity but a similar string.

Reference relation: ntto has no linking at all; the north rule adds
URI dedup as a pipeline stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def normalize_uri(col: Column) -> Column:
    """Canonical URI form for duplicate detection (FIXTURES.md F5
    variants): https→http, strip www., strip one trailing slash,
    decode %20."""
    c = F.regexp_replace(col, r"^https://", "http://")
    c = F.regexp_replace(c, r"^http://www\.", "http://")
    c = F.regexp_replace(c, r"/$", "")
    c = F.regexp_replace(c, r"%20", " ")
    return c


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
