"""Layer-accumulation read-cost probe (r5 verdict wrong #2 evidence):
run the incremental pipeline over a base + N tiny deltas twice — once
with automatic layer folding (edges_fold_layers at its default) and
once with folding disabled — and measure, per checkpoint batch, the
b_fp layer count, the parquet file count, and the wall time of a
fresh read+aggregate over the edge table.

Without folding, layer and file counts grow linearly with delta COUNT
and the read side degrades with them; with folding both stay bounded
by the threshold. The two modes must return identical aggregates.

Usage:
    python tools/layer_read_probe.py --deltas 50 --base-pages 1200 --delta-pages 100
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F


def gen_append_pages(n: int):
    """Pages whose NT entities are PAGE-SCOPED (…/e/{i}/x) with
    sameAs only within the page, so append-only deltas never merge
    components across batches — the daily-append regime the layered
    materialize is built for (no canon label changes, so every delta
    is a pure b_fp layer append). The stock gen_pages corpus draws
    subjects from a shared pool, so each delta merges into existing
    components and changes labels; materialize then rewrites the edge
    table every time and layers never accumulate (measured — that run
    answers a different question)."""
    import pandas as pd

    from kgpipe.fixtures import _EPOCH, OWL_SAMEAS, html_escape

    import datetime as dt

    def block(i: int) -> str:
        e = f"http://ex.org/e/{i}"
        lines = [
            f"<{e}/a> <{OWL_SAMEAS}> <{e}/b> .",
            f'<{e}/a> <http://purl.org/dc/terms/title> "Page {i}" .',
            f"<{e}/b> <http://xmlns.com/foaf/0.1/knows> <{e}/c> .",
            f"<{e}/c> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://xmlns.com/foaf/0.1/Person> .",
        ]
        return "\n".join(lines[: 2 + i % 3])

    return pd.DataFrame(
        {
            "url": [f"https://site{i % 97}.example.org/page/{i}" for i in range(n)],
            "warc_ts": [_EPOCH + dt.timedelta(seconds=i) for i in range(n)],
            "html": [
                (
                    f"<html><head><title>Page {i}</title></head><body>"
                    f'<pre class="nt">{html_escape(block(i))}</pre></body></html>'
                ).encode("utf-8")
                for i in range(n)
            ],
            "text": ["" for _ in range(n)],
            "lang": ["en" for _ in range(n)],
        }
    )


def count_parquet_files(root: str) -> int:
    n = 0
    for dirpath, _dirs, files in os.walk(root):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def run_series(spark, pages_pdf, n_base, n_delta, delta_pages, fold_layers, checkpoints):
    from kgpipe.fixtures import RULES_16_TEXT
    from kgpipe.io import TableIO
    from kgpipe.pipeline import EDGES_INC_DDL, PipelineConfig, run_pipeline, _edges_layer_names

    wh = tempfile.mkdtemp(prefix="kg_layers_")
    cfg = PipelineConfig(
        warehouse=wh, rules_text=RULES_16_TEXT, mode="compat", n_parts=4,
        n_buckets=4, edges_fold_layers=fold_layers,
    )
    io = TableIO(spark, wh)
    series = []
    agg = None
    try:
        for i in range(n_delta + 1):
            n = n_base + i * delta_pages
            run_pipeline(spark, spark.createDataFrame(pages_pdf.iloc[:n]).repartition(3), cfg)
            if i in checkpoints:
                edges_dir = os.path.join(wh, "edges")
                t0 = time.monotonic()
                df = io.read("edges", EDGES_INC_DDL)
                agg = df.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.coalesce(F.bit_xor(F.xxhash64("canon_s", "p", "canon_o")), F.lit(0)).alias("fp"),
                ).collect()[0]
                read_s = time.monotonic() - t0
                series.append({
                    "batch": i,
                    "layers": len(_edges_layer_names(io)),
                    "files": count_parquet_files(edges_dir),
                    "read_s": round(read_s, 3),
                    "rows": agg["n"],
                })
        return {"series": series, "final_fp": int(agg["fp"]), "final_rows": int(agg["n"])}
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--deltas", type=int, default=50)
    ap.add_argument("--base-pages", type=int, default=1200)
    ap.add_argument("--delta-pages", type=int, default=100)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    args = ap.parse_args()

    from kgpipe.session import get_spark

    spark = get_spark(
        app_name="kgpipe-layer-probe", master=f"local[{args.cpus}]", shuffle_partitions=8
    )
    total = args.base_pages + args.deltas * args.delta_pages
    pages = gen_append_pages(total)
    checkpoints = sorted({0, 10, 25, args.deltas})
    try:
        t0 = time.monotonic()
        fold = run_series(
            spark, pages, args.base_pages, args.deltas, args.delta_pages,
            fold_layers=16, checkpoints=checkpoints,
        )
        t_fold = time.monotonic() - t0
        t0 = time.monotonic()
        nofold = run_series(
            spark, pages, args.base_pages, args.deltas, args.delta_pages,
            fold_layers=10**9, checkpoints=checkpoints,
        )
        t_nofold = time.monotonic() - t0
        assert fold["final_fp"] == nofold["final_fp"], "fold changed query results!"
        assert fold["final_rows"] == nofold["final_rows"]
        print("LAYER_PROBE " + json.dumps({
            "deltas": args.deltas, "fold": fold, "nofold": nofold,
            "pipeline_total_s": {"fold": round(t_fold, 1), "nofold": round(t_nofold, 1)},
            "load": round(os.getloadavg()[0], 2),
        }), flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
