"""Fused narrow stage: html → text → (s,p,o) → abbreviated, in ONE
mapInPandas operator.

The composable operators (extract.py / parse.py / abbrev.py) chain
three Python evaluation nodes; inside a task that means three
concurrent Python workers and two intermediate Arrow crossings
(text, then raw triples). Correct, but at 32 tasks that is ~96
Python processes and 3× the serde — and under external CPU
pressure the extra processes turn stage barriers into straggler
traps.

This operator does the identical computation in a single Python
stage: one worker per task, one Arrow crossing each way. The pieces
are the SAME tested functions (extract_text_frame, parse_nt_frame,
PrefixRewriter.rewrite_series), so semantics are pinned by the
per-operator suites plus a fused-vs-chained equivalence test.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from kgpipe.nt.parser import GO_SPACE, parse_nt_frame
from kgpipe.nt.rules import NULL_SENTINEL, PrefixRewriter, Rule
from kgpipe.operators.extract import extract_text_frame

FUSED_SCHEMA = "s string, p string, o string, url string, error string, part_id int"


def fused_extract_parse_abbrev(
    pages_df,
    rules: list[Rule],
    mode: str = "lpm",
    null: str = NULL_SENTINEL,
):
    """pages(url, html, part_id) → (s, p, o, url, error, part_id).

    part_id must already be on the input (computed JVM-side by
    kgpipe.checkpoints.with_part_id so it stays a pure function of
    url). Narrow: no shuffle, one Python stage.
    """
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    bc = spark.sparkContext.broadcast(PrefixRewriter(rules, mode=mode, null=null))
    src = pages_df.select("url", "html", "part_id")

    def _batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rewriter = bc.value
        for pdf in batches:
            texts = extract_text_frame(pdf["html"])
            if rewriter.mode == "compat":
                # reference order: rewrite the raw line BEFORE parsing
                # (quirk Q14, cmd/ntto/ntto.go:159)
                texts = rewriter.rewrite_series(texts)
            # drop blank lines: an empty/whitespace-only page emits
            # ZERO rows (the reference's scanner yields no lines for
            # an empty file), not a spurious quarantine row
            lines = texts.fillna("").str.split("\n").map(
                lambda ls: [ln for ln in ls if ln.strip(GO_SPACE)]
            )
            counts = lines.str.len().fillna(0).astype(int)
            urls = pdf["url"].repeat(counts).reset_index(drop=True)
            parts = pdf["part_id"].repeat(counts).reset_index(drop=True)
            flat = pd.Series([ln for sub in lines for ln in sub], dtype="object")
            out = parse_nt_frame(flat)
            if rewriter.mode != "compat":
                ok = out["error"].isna()
                for c in ("s", "p", "o"):
                    col = out[c]
                    col.loc[ok] = rewriter.rewrite_series(col.loc[ok])
                    out[c] = col
            out["url"] = urls
            out["part_id"] = parts
            yield out[["s", "p", "o", "url", "error", "part_id"]]

    return src.mapInPandas(_batch, schema=FUSED_SCHEMA)
