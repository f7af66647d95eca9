"""Physical-plan audits: the plan properties that matter at 100 TB,
asserted so they can't regress.

- scans prune columns and push filters
- the canonical-map join goes broadcast
- the fused extract→parse→abbrev stage has NO shuffle
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


def test_extract_chain_no_shuffle(spark):
    from kgpipe.checkpoints import with_part_id
    from kgpipe.fixtures import RULES_16_TEXT, gen_pages
    from kgpipe.nt.rules import parse_rules
    from kgpipe.operators.fused import fused_extract_parse_abbrev

    pages = with_part_id(spark.createDataFrame(gen_pages(5)).select("url", "html"), "url", 8)
    plan = _plan(fused_extract_parse_abbrev(pages, parse_rules(RULES_16_TEXT)))
    assert "Exchange" not in plan, "narrow extract stage must not shuffle"
    assert "BatchEvalPython" not in plan, "row-at-a-time Python UDF in hot path"
    assert "MapInPandas" in plan


def test_canonicalize_broadcasts_map(spark):
    from kgpipe.operators.materialize import canonicalize_triples

    triples = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c")], ["s", "p", "o"]
    )
    cmap = spark.createDataFrame([("b", "a")], ["uri", "canon_id"])
    plan = _plan(canonicalize_triples(triples, cmap))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
