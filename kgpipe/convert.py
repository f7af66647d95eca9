"""The reference's primary job as one operator: an N-Triples file in,
abbreviated triples out (``ntto [-a] [-j] FILE``,
/root/reference/cmd/ntto/ntto.go:144-211).

Input is a line DataFrame (``spark.read.text`` — splittable, so a
100 TB NT dump parallelizes across executors for free); output is the
(s, p, o, error) triple frame that feeds the LDJ/NT sinks. Each batch
runs the NT-line kernel (kgpipe.nt.kernel), which holds the blank-line
rule, the compat rewrite order (Q14) and Q8 fragmenting.

One mapInPandas stage — a single Python worker per task, one Arrow
crossing, no shuffle anywhere.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from kgpipe.nt.kernel import triples_of_lines
from kgpipe.nt.rules import NULL_SENTINEL, PrefixRewriter, Rule

CONVERT_SCHEMA = "s string, p string, o string, error string"


def convert_nt_lines(
    lines_df: DataFrame,
    rules: list[Rule] | None,
    mode: str = "compat",
    null: str = NULL_SENTINEL,
    abbreviate: bool = True,
    line_col: str = "value",
    fragment_bytes: int | None = None,
) -> DataFrame:
    """lines(value) → (s, p, o, error). ``rules=None`` or
    ``abbreviate=False`` parses without rewriting (plain ``ntto -j``).
    Broken lines become quarantine rows with ``error`` set (the
    reference's ``-i`` skip, made observable).

    ``fragment_bytes`` replays quirk Q8 (ntto.go:188-197; see
    kgpipe.nt.kernel): pass 4096 for reference parity; default None
    keeps whole lines (the engine-native behavior, documented
    divergence)."""
    src = lines_df.select(line_col)
    bc = None
    if abbreviate and rules:
        bc = lines_df.sparkSession.sparkContext.broadcast(
            PrefixRewriter(rules, mode=mode, null=null)
        )

    def _batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rw = bc.value if bc is not None else None
        for pdf in batches:
            yield triples_of_lines(pdf[line_col], rw, fragment_bytes=fragment_bytes)

    return src.mapInPandas(_batch, schema=CONVERT_SCHEMA)
