"""The NT-line kernel: text → (s, p, o, error) rows, in pure pandas.

The reference runs one dataflow for every line: line source → prefix
rewrite → parse → sink (SURVEY.md §0). ``convert_nt_lines`` (one line
per row) and the pipeline's fused extract stage (one page text per
row) both run it through this one function, so the blank-line rule
and the rewrite order cannot drift apart between them.

Order, per batch:
  1. split each text on ``\\n`` (only when some text holds one);
  2. drop lines that are blank in the INPUT (Go's whitespace set):
     an empty file or page yields zero rows, as the reference's
     scanner yields no lines for it;
  3. ``compat`` mode rewrites the raw line BEFORE parsing (quirk Q14,
     cmd/ntto/ntto.go:159), so prefixes inside literals are rewritten
     too; a line the rewrite empties (a ``<NULL>`` strip) is then
     quarantined, as the reference's parser rejects it (Q2);
  4. ``fragment_bytes`` replays quirk Q8: the reference reads with
     bufio.Reader.ReadLine over a 4096-byte buffer, so a longer line
     arrives as several fragments, each parsed as a line. It cuts
     AFTER the rewrite (perl has no line-length limit; the parser
     re-reads the abbreviated file), at character offsets — the
     reference's byte offsets for ASCII-escaped N-Triples;
  5. parse (``parse_nt_frame``): broken lines become quarantine rows;
  6. ``lpm`` mode rewrites only the three clean terms after parsing.
"""

from __future__ import annotations

import pandas as pd

from kgpipe.nt.parser import GO_SPACE, parse_nt_frame
from kgpipe.nt.rules import PrefixRewriter


def triples_of_lines(
    texts: pd.Series,
    rewriter: PrefixRewriter | None = None,
    keys: pd.DataFrame | None = None,
    fragment_bytes: int | None = None,
) -> pd.DataFrame:
    """texts → (s, p, o, error) + ``keys``' columns, one row per kept
    line. ``keys`` shares ``texts``' (unique) index; each key row is
    repeated once per line kept from its text."""
    lines = texts.fillna("")
    if lines.str.contains("\n", regex=False).any():
        lines = lines.str.split("\n").explode()
    lines = lines[lines.str.strip(GO_SPACE) != ""]
    if rewriter is not None and rewriter.mode == "compat":
        lines = rewriter.rewrite_series(lines)
    if fragment_bytes is not None and len(lines):
        fb = int(fragment_bytes)
        lines = lines.map(
            lambda s: [s[i : i + fb] for i in range(0, len(s), fb)] or [s]
        ).explode()
    out = parse_nt_frame(lines.reset_index(drop=True))
    if rewriter is not None and rewriter.mode != "compat":
        ok = out["error"].isna()
        for c in ("s", "p", "o"):
            col = out[c]
            col.loc[ok] = rewriter.rewrite_series(col.loc[ok])
            out[c] = col
    if keys is not None:
        kept = keys.loc[lines.index]
        for c in keys.columns:
            out[c] = kept[c].to_numpy()
    return out
