"""The reference's primary job as one operator: an N-Triples file in,
abbreviated triples out (``ntto [-a] [-j] FILE``,
/root/reference/cmd/ntto/ntto.go:144-211).

Input is a line DataFrame (``spark.read.text`` — splittable, so a
100 TB NT dump parallelizes across executors for free); output is the
(s, p, o, error) triple frame that feeds the LDJ/NT sinks.

Order quirk Q14 (ntto.go:159): with ``-a -j`` the reference
abbreviates the RAW LINE before parsing, so prefixes matching inside
literals are rewritten too. ``compat`` mode reproduces that;
``lpm`` mode parses first and rewrites only the three terms with
longest-prefix-match semantics.

One mapInPandas stage — a single Python worker per task, one Arrow
crossing, no shuffle anywhere.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from kgpipe.nt.parser import GO_SPACE, parse_nt_frame
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

    ``fragment_bytes`` replays quirk Q8 (ntto.go:188-197): the
    reference reads with bufio.Reader.ReadLine over a 4096-byte
    buffer, so a line longer than the buffer arrives as multiple
    4096-byte fragments, each parsed as if it were a full line (the
    head fragment usually yields a mangled triple, the rest
    quarantine). Pass 4096 for reference parity; default None keeps
    whole lines (the engine-native behavior, documented divergence).
    Fragmentation happens where the reference's does: AFTER the -a
    rewrite (perl has no line-length limit; the parser re-reads the
    abbreviated file), at character offsets — identical to the
    reference's byte offsets for spec-conformant (ASCII-escaped)
    N-Triples."""
    src = lines_df.select(line_col)
    rewriter = None
    if abbreviate and rules:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        rewriter_bc = spark.sparkContext.broadcast(
            PrefixRewriter(rules, mode=mode, null=null)
        )
        rewriter = rewriter_bc

    def _batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rw = rewriter.value if rewriter is not None else None
        for pdf in batches:
            lines = pdf[line_col].fillna("")
            lines = lines[lines.str.strip(GO_SPACE) != ""]  # empty file → zero rows
            if rw is not None and rw.mode == "compat":
                lines = rw.rewrite_series(lines)
            if fragment_bytes is not None and len(lines):
                fb = int(fragment_bytes)
                lines = pd.Series(
                    [
                        chunk
                        for s in lines
                        for chunk in (
                            [s[i : i + fb] for i in range(0, len(s), fb)] or [s]
                        )
                    ],
                    dtype="object",
                )
            out = parse_nt_frame(lines.reset_index(drop=True))
            if rw is not None and rw.mode != "compat":
                ok = out["error"].isna()
                for c in ("s", "p", "o"):
                    col = out[c]
                    col.loc[ok] = rw.rewrite_series(col.loc[ok])
                    out[c] = col
            yield out[["s", "p", "o", "error"]]

    return src.mapInPandas(_batch, schema=CONVERT_SCHEMA)
