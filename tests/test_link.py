"""URI linking by normal form on the F5 fixture, through the pipeline
that runs it; plus the explicit owl:sameAs extractor."""

from pyspark.sql import functions as F

from kgpipe.fixtures import RULES_16_TEXT, gen_uri_variants, nt_pages
from kgpipe.operators.link import normalize_uri, sameas_edges_from_triples
from kgpipe.pipeline import PipelineConfig, run_pipeline


def test_normalize_uri(spark):
    df = spark.createDataFrame(
        [
            ("https://www.example.org/a/",),
            ("http://example.org/a",),
            ("http://example.org/b%20c",),
        ],
        ["uri"],
    )
    got = [r.n for r in df.select(normalize_uri(F.col("uri")).alias("n")).collect()]
    assert got == [
        "http://example.org/a",
        "http://example.org/a",
        "http://example.org/b c",
    ]


def test_neardup_clusters_match_golden(spark, tmp_path):
    """All five surface variants of each URI must land in one
    component; the edit-distance-2 negatives must stay singletons.
    This is the P/R=1.0 bar on the fixture. The URIs are objects of
    sameAs-free triples (an object may hold the variants' spaces), so
    only the normal-form linker can join them."""
    fix = gen_uri_variants()
    pages = nt_pages([
        [f"<http://f5.example/s/{i}> <http://f5.example/p> <{uri}> ."
         for i, uri in enumerate(fix.uri)]
    ])
    cfg = PipelineConfig(
        warehouse=str(tmp_path / "wh_f5"), rules_text=RULES_16_TEXT, mode="compat",
        n_parts=4, n_buckets=4,
    )
    res = run_pipeline(spark, spark.createDataFrame(pages), cfg)
    canon = {r.uri: r.canon_id for r in res.canonical_map.collect()}

    # same golden group ⇔ same canon label (a URI without a map row is
    # its own label)
    got, golden = {}, {}
    for uri, gid in zip(fix.uri, fix.group_id):
        got.setdefault(canon.get(uri, uri), set()).add(uri)
        golden.setdefault(gid, set()).add(uri)
    assert sorted(map(sorted, got.values())) == sorted(map(sorted, golden.values()))


def test_sameas_edges_from_triples(spark):
    triples = spark.createDataFrame(
        [
            ("a", "owl:sameAs", "b"),
            ("a", "rdf:type", "c"),
            ("b", "owl:sameAs", "a"),
        ],
        ["s", "p", "o"],
    )
    got = {
        (r.src, r.dst)
        for r in sameas_edges_from_triples(triples, "owl:sameAs").collect()
    }
    assert got == {("a", "b"), ("b", "a")}
