"""kgpipe — a PySpark-native knowledge-graph construction engine.

A ground-up PySpark pipeline generalizing the capabilities of the
reference N-Triples toolkit (miku/ntto, see /root/reference) into a
full extract → parse → abbreviate → link → canonicalize → materialize
flow over Common-Crawl-style web-page tables, designed for
multi-executor clusters at very large scale.

Layout:
    kgpipe.nt         — N-Triples parsing + prefix-rule semantics
                        (compat-exact with the reference, plus a
                        saner LPM default)
    kgpipe.operators  — Spark operators: extract, parse, abbrev,
                        link, connected components, materialize,
                        graph traversal, sinks
    kgpipe.convert    — NT lines → abbreviated triples in one fused
                        stage (the reference's primary -a -j job)
    kgpipe.pipeline   — stage orchestration with checkpoint/resume;
                        every run is a daily delta
    kgpipe.fixtures   — deterministic synthetic corpora (seed 42)
    kgpipe.session    — SparkSession factory
    kgpipe.io         — table-format shim (Parquet default)
"""

__version__ = "0.1.0"
