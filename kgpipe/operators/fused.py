"""Fused narrow stage: html → text → (s,p,o) → abbreviated, in ONE
mapInPandas operator — the pipeline's extract stage.

One Python worker per task and one Arrow crossing each way: no
intermediate text or raw-triple frame crosses the JVM boundary. Each
batch extracts its pages' text (extract_text_frame) and runs the
NT-line kernel (kgpipe.nt.kernel) over it, which holds the blank-line
rule and the compat rewrite order (Q14) that convert uses too.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from kgpipe.nt.kernel import triples_of_lines
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
    bc = pages_df.sparkSession.sparkContext.broadcast(
        PrefixRewriter(rules, mode=mode, null=null)
    )
    src = pages_df.select("url", "html", "part_id")

    def _batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rewriter = bc.value
        for pdf in batches:
            out = triples_of_lines(
                extract_text_frame(pdf["html"]), rewriter, keys=pdf[["url", "part_id"]]
            )
            yield out[["s", "p", "o", "url", "error", "part_id"]]

    return src.mapInPandas(_batch, schema=FUSED_SCHEMA)
