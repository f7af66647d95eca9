"""Physical-plan audits: the plan properties that matter at 100 TB,
asserted so they can't regress.

- scans prune columns and push filters
- the small dimension join goes broadcast
- the narrow extract→parse→abbrev chain has NO shuffle
- Python stages are Arrow-vectorized (ArrowEvalPython/MapInPandas),
  never row-at-a-time BatchEvalPython
"""

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _explain_formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_scan_pushdown_and_pruning(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.where(F.col("l_shipdate") < "1996-01-01").select("l_orderkey", "l_extendedprice")
    plan = _explain_formatted(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    # read schema limited to the 3 referenced columns
    rs = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in rs and "l_extendedprice" in rs and "l_shipdate" in rs
    assert "l_comment" not in rs and "l_quantity" not in rs


def test_broadcast_join_for_small_dim(spark, sf_dir):
    import __spark_entry__ as em

    plan = _plan(em.q_revenue_by_nation(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_extract_chain_no_shuffle(spark):
    from kgpipe.fixtures import RULES_16_TEXT, gen_pages
    from kgpipe.nt.rules import parse_rules
    from kgpipe.operators.abbrev import abbreviate_columns
    from kgpipe.operators.extract import with_extracted_text
    from kgpipe.operators.parse import parse_pages_to_triples

    pages = spark.createDataFrame(gen_pages(5))
    chain = abbreviate_columns(
        parse_pages_to_triples(with_extracted_text(pages.select("url", "html"))),
        ["s", "p", "o"],
        parse_rules(RULES_16_TEXT),
    )
    plan = _plan(chain)
    assert "Exchange" not in plan, "narrow chain must not shuffle"
    assert "BatchEvalPython" not in plan, "row-at-a-time Python UDF in hot path"
    assert "ArrowEvalPython" in plan and "MapInPandas" in plan


def test_minhash_signature_is_jvm_side(spark, sf_dir):
    """The minhash signature must be pure Catalyst expressions — no
    Python evaluation nodes at all."""
    from kgpipe.operators.link import char_shingles, minhash_signature

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sig = df.select(minhash_signature(char_shingles(F.col("text"), 4), 32).alias("sig"))
    plan = _plan(sig)
    assert "Python" not in plan and "MapInPandas" not in plan


def test_capped_buckets_skew_guard_plan(spark):
    """Two-phase cap: (1) a count-only aggregation (map-side partial)
    finds oversized bucket keys, materialized eagerly; (2) a BROADCAST
    anti-join drops their rows before the bucket aggregation's
    exchange — so no reduce task ever streams a degenerate bucket.
    collect_list state is bounded by the cap."""
    from kgpipe.operators.link import capped_buckets

    banded = spark.createDataFrame(
        [(i, i % 3, i % 5) for i in range(100)], "id long, band int, bh long"
    )
    plan = _plan(capped_buckets(banded, 16, F.collect_list("id").alias("ids")))
    # phase 1 ran eagerly (localCheckpoint) — the returned plan holds
    # only the anti-join + final aggregation: oversize keys broadcast
    # into a LeftAnti below the final agg's exchange
    assert "LeftAnti" in plan and "Broadcast" in plan
    # the final bucket agg is the ONLY exchange of banded data rows
    assert plan.count("Exchange hashpartitioning") <= 1


def test_capped_buckets_broadcast_fallback(spark):
    """Adversarial guard: when the oversize key set exceeds the
    broadcast limit, the anti-join falls back to a shuffled sort-merge
    join instead of force-broadcasting an unbounded key set into the
    driver."""
    from kgpipe.operators.link import capped_buckets

    banded = spark.createDataFrame(
        [(i, i % 3, i % 5) for i in range(100)], "id long, band int, bh long"
    )
    out = capped_buckets(
        banded, 2, F.collect_list("id").alias("ids"), broadcast_key_limit=0
    )
    plan = _plan(out)
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" not in plan
    # results identical through either join strategy
    ref = capped_buckets(banded, 2, F.collect_list("id").alias("ids"))
    got = {(r.band, r.bh, tuple(sorted(r.ids))) for r in out.collect()}
    exp = {(r.band, r.bh, tuple(sorted(r.ids))) for r in ref.collect()}
    assert got == exp


def test_canonicalize_broadcasts_map(spark):
    from kgpipe.operators.materialize import canonicalize_triples

    triples = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c")], ["s", "p", "o"]
    )
    cmap = spark.createDataFrame([("b", "a")], ["uri", "canon_id"])
    plan = _plan(canonicalize_triples(triples, cmap))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
