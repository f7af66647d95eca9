"""One timed launch: a fresh interpreter, a fresh Spark session on
local[<cores>], and ONE call into kgpipe's public entry point, as every
``spark-submit`` launch of ``kgpipe run`` / ``convert`` pays it.

Usage: python3 child.py SPEC.json — SPEC names the mode, the input
files, the output location and where to write the result JSON. run.py
builds the spec; nothing here is meant to be run by hand.

Modes:
  pipeline  run_pipeline over the pages into the warehouse (compat mode,
            the 16 fixture rules); with "reference", afterwards and
            untimed, a plain full build over "reference_pages" there
  convert   convert_nt_lines -> write_ldj over an N-Triples file
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the checkout root: kgpipe
sys.path.insert(0, HERE)


def _run_pipeline(spark, paths: list[str], warehouse: str, n_parts: int, n_buckets: int,
                  incremental: bool) -> float:
    import kgpipe.pipeline
    from kgpipe.fixtures import RULES_16_TEXT

    cfg = kgpipe.pipeline.PipelineConfig(
        warehouse=warehouse, rules_text=RULES_16_TEXT, mode="compat",
        n_parts=n_parts, n_buckets=n_buckets, incremental_link=incremental,
    )
    t0 = time.perf_counter()
    kgpipe.pipeline.run_pipeline(spark, spark.read.parquet(*paths), cfg)
    return time.perf_counter() - t0


def _run_convert(spark, spec: dict) -> float:
    import kgpipe.convert
    import kgpipe.operators.sinks
    from pyspark.sql import functions as F

    from kgpipe.nt.default_rules import DEFAULT_RULES_TEXT
    from kgpipe.nt.rules import parse_rules

    t0 = time.perf_counter()
    # ntto -a -j: compat rewrite of the raw line, parse, clean rows to LDJ
    triples = kgpipe.convert.convert_nt_lines(
        spark.read.text(spec["lines"]), parse_rules(DEFAULT_RULES_TEXT), mode="compat"
    )
    kgpipe.operators.sinks.write_ldj(triples.where(F.col("error").isNull()), spec["out"])
    return time.perf_counter() - t0


def main(spec_path: str) -> None:
    with open(spec_path, encoding="utf-8") as f:
        spec = json.load(f)
    tracer = None
    if spec["trace"]:
        from tracing import Tracer

        tracer = Tracer()
        tracer.install()
    import kgpipe.session

    extra = {"spark.eventLog.compress": "false"} if spec["trace"] else None
    t0 = time.perf_counter()
    spark = kgpipe.session.get_spark(
        app_name=f"perfbench-{spec['mode']}", master=f"local[{spec['cores']}]", extra_conf=extra,
    )
    result = {"session_ready": time.time(), "session_s": time.perf_counter() - t0}
    try:
        result["call_start"] = time.time()
        if spec["mode"] == "convert":
            result["wall_s"] = _run_convert(spark, spec)
        elif spec["mode"] == "pipeline":
            result["wall_s"] = _run_pipeline(
                spark, spec["pages"], spec["warehouse"], spec["n_parts"], spec["n_buckets"],
                spec["incremental"])
            if spec.get("reference"):
                if tracer is not None:
                    tracer.uninstall()  # the reference is no part of the trace
                # other partition counts, so that the check against this
                # build is independent of the layout
                result["reference_s"] = _run_pipeline(
                    spark, spec["reference_pages"], spec["reference"], 8, 8, False)
        else:
            raise ValueError(f"unknown mode {spec['mode']}")
    finally:
        spark.stop()
    result["stopped"] = time.time()
    if tracer is not None:
        from tracing import read_event_log, span_metrics

        tracer.uninstall()
        jobs, tasks = read_event_log(os.environ["SPARK_GRAFT_EVENTLOG"])
        result["layers"] = span_metrics(tracer.spans, jobs, tasks)
    with open(spec["result"], "w", encoding="utf-8") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1])
