"""Parse: one NT line per row → (s, p, o, error) rows.

Spark lift of the compat-exact N-Triples parser
(kgpipe.nt.parser; the reference's common.go:41-66) as one
``mapInPandas`` (Arrow batch in, Arrow batch out) — the Spark-native
replacement for the reference's goroutine worker pool
(/root/reference/cmd/ntto/ntto.go:21-34,174-199). Narrow transform:
no shuffle.

Failed parses are quarantined as rows with s/p/o NULL and `error`
set, replacing the reference's fatal-or-`-i`-skip behavior
(cmd/ntto/ntto.go:26-31, quirk Q9); callers filter
``col("s").isNotNull()`` for the clean stream.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from kgpipe.nt.parser import FRAME_COLS, parse_nt_frame


def parse_text_column(df, line_col: str, carry_cols: list[str], with_frames: bool = False):
    """Parse one NT line per row from `line_col`, carrying through
    `carry_cols` unchanged. → carry_cols + (s, p, o, error).

    with_frames=True additionally carries the framing the parse
    strips (FRAME_COLS: per-term bracket/quote runs plus the dropped
    trailing token), which is what lets sinks.write_nt emit
    byte-compatible `ntto -a` lines from PARSED (possibly rewritten)
    triples."""
    kept = df.select(*carry_cols, line_col)
    new_cols = ["s", "p", "o", "error"] + (FRAME_COLS if with_frames else [])
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in kept.schema.fields[:-1]]
        + [f"{c} string" for c in new_cols]
    )

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = parse_nt_frame(pdf[line_col], with_frames=with_frames)
            out = pdf[carry_cols].reset_index(drop=True)
            for c in new_cols:
                out[c] = parsed[c].reset_index(drop=True)
            yield out

    return kept.mapInPandas(_parse, schema=out_schema)
