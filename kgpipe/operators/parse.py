"""Stage 2 — parse: text → (s, p, o, url) triple rows.

Spark lift of the compat-exact N-Triples parser
(kgpipe.nt.parser; reference /root/reference/common.go:41-66).
One page's `text` holds many lines; this is a one→many operator, so
it runs as ``mapInPandas`` (Arrow batch in, Arrow batch out) — the
Spark-native replacement for the reference's goroutine worker pool
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

from kgpipe.nt.parser import GO_SPACE, parse_nt_frame

TRIPLES_SCHEMA = "s string, p string, o string, url string, error string"


def parse_pages_to_triples(pages_df, text_col: str = "text", url_col: str = "url"):
    """pages(text, url, ...) → triples(s, p, o, url, error).

    The line-split and the parse happen inside the same Arrow batch
    (one pass; no intermediate explode materialization).
"""
    src = pages_df.select(url_col, text_col)

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # blank lines dropped: empty pages contribute zero rows
            # (matches the reference scanner; keeps n_err counters
            # comparable) — same rule as the fused operator
            lines = pdf[text_col].fillna("").str.split("\n").map(
                lambda ls: [ln for ln in ls if ln.strip(GO_SPACE)]
            )
            counts = lines.str.len().fillna(0).astype(int)
            urls = pdf[url_col].repeat(counts).reset_index(drop=True)
            flat = pd.Series(
                [ln for sub in lines for ln in sub], dtype="object"
            )
            parsed = parse_nt_frame(flat)
            parsed["url"] = urls
            yield parsed[["s", "p", "o", "url", "error"]]

    return src.mapInPandas(_parse, schema=TRIPLES_SCHEMA)


def parse_text_column(df, line_col: str, keep_cols: list[str], with_frames: bool = False):
    """Parse one NT line per row from `line_col`, carrying through
    `keep_cols` unchanged. → keep_cols + (s, p, o, error)
    [+ FRAME_COLS with with_frames=True — see parse_lines_to_triples]."""
    from kgpipe.nt.parser import FRAME_COLS

    kept = df.select(*keep_cols, line_col)
    kept_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in kept.schema.fields if f.name != line_col
    )
    new_cols = ["s", "p", "o", "error"] + (FRAME_COLS if with_frames else [])
    out_schema = kept_schema + ", " + ", ".join(f"{c} string" for c in new_cols)

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = parse_nt_frame(pdf[line_col], with_frames=with_frames)
            out = pdf[keep_cols].reset_index(drop=True)
            for c in new_cols:
                out[c] = parsed[c].reset_index(drop=True)
            yield out

    return kept.mapInPandas(_parse, schema=out_schema)


def parse_lines_to_triples(lines_df, line_col: str = "line", with_frames: bool = False):
    """One-line-per-row variant (the reference's native input shape:
    an NT file read as lines). lines(line) → (s, p, o, error).

    with_frames=True additionally carries the framing the parse
    strips (kgpipe.nt.parser.FRAME_COLS: per-term bracket/quote runs
    plus the dropped trailing token), which is what lets
    sinks.write_nt emit byte-compatible `ntto -a` lines from PARSED
    (possibly rewritten) triples."""
    from kgpipe.nt.parser import FRAME_COLS

    cols = ["s", "p", "o", "error"] + (FRAME_COLS if with_frames else [])
    schema = ", ".join(f"{c} string" for c in cols)

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = parse_nt_frame(pdf[line_col], with_frames=with_frames)
            yield parsed[cols]

    return lines_df.mapInPandas(_parse, schema=schema)
