"""Output sinks beyond the parquet tables.

LDJ (line-delimited JSON) is the reference's `-j` output: one
``{"s":...,"p":...,"o":...}`` object per line
(/root/reference/cmd/ntto/ntto.go:36-50). Notes for byte-level
consumers (SURVEY.md §2c):
  - Q10: the reference's line ORDER is nondeterministic (goroutine
    fan-in), and so is ours (task order) — consumers must treat the
    file as a multiset;
  - Q11: Go's json.Marshal HTML-escapes <>& (\\u003c…); Spark's
    to_json does not. Values are identical after JSON parsing, which
    is the compat contract.

NT text output mirrors the reference's abbreviated-NT sink
(ntto.go:144-158).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def write_ldj(triples: DataFrame, path: str, mode: str = "overwrite") -> None:
    """triples(s, p, o, ...) → LDJ text files at `path`."""
    (
        triples.select(F.to_json(F.struct("s", "p", "o")).alias("value"))
        .write.mode(mode)
        .text(path)
    )


def write_nt_compat(
    lines_df: DataFrame,
    rules,
    path: str,
    null: str | None = None,
    mode: str = "overwrite",
    line_col: str = "value",
) -> None:
    """BYTE-compatible `ntto -a` sink: the raw line stream with prefix
    substitutions applied in place and nothing else — original term
    framing (angle brackets, literal quotes, even trailing garbage)
    survives verbatim, because `ntto -a` without `-j` IS just the
    perl/replace pipeline's stdout redirected to the output file
    (/root/reference/cmd/ntto/ntto.go:144-166). No parse, no
    filtering: broken lines, blank lines and all pass through exactly
    as perl's -lnpe would echo them. Line ORDER across part files is
    a multiset contract (Q10), same as the reference's worker fan-in."""
    from kgpipe.operators.abbrev import abbreviate_lines

    out = abbreviate_lines(lines_df.select(line_col), rules, null=null, line_col=line_col)
    out.select(F.col(line_col).alias("value")).write.mode(mode).text(path)


def framed_line_expr() -> F.Column:
    """The byte-reconstruction expression behind the framed write_nt
    path: each term re-wrapped in the bracket/quote runs the parse
    stripped (FRAME_COLS), the dropped tail token re-appended
    verbatim. Pure codegen — also used directly as a driver-gated
    query (identity with the whitespace-normalized input line)."""

    def framed(c: str) -> F.Column:
        return F.concat(
            F.coalesce(F.col(f"{c}_pre"), F.lit("")),
            F.col(c),
            F.coalesce(F.col(f"{c}_suf"), F.lit("")),
        )

    return F.concat(
        F.concat_ws(" ", framed("s"), framed("p"), framed("o")),
        F.when(
            F.col("tail").isNotNull(), F.concat(F.lit(" "), F.col("tail"))
        ).otherwise(F.lit("")),
    )


def write_nt(triples: DataFrame, path: str, mode: str = "overwrite") -> None:
    """triples(s, p, o, ...) → N-Triples-shaped text lines.

    BYTE-compatible with `ntto -a` from the PARSED path when the
    frame columns are present (parse with
    `parse_text_column(df, "line", [], with_frames=True)` — see
    kgpipe.nt.parser.FRAME_COLS): each term is re-wrapped in exactly
    the bracket/quote runs the parse stripped, and the dropped
    trailing token (usually the ` .`) is re-appended verbatim, so for
    canonically-spaced input the emitted line multiset byte-matches
    the reference's perl pipeline output
    (/root/reference/cmd/ntto/ntto.go:144-158) even after the terms
    were rewritten in between (abbreviation, canonicalization).
    Interior whitespace runs in multi-token objects collapse to
    single spaces — inherent to the parsed form (quirk Q1); for
    byte parity on raw un-parsed streams use `write_nt_compat`.

    WITHOUT frame columns the sink falls back to a heuristic:
    still-full IRIs are re-bracketed, everything else is emitted
    bare, with a ` .` terminator — the engine-native shape, NOT
    byte-identical to the reference.

    Rows whose parse FAILED (null terms — quarantined rows carried
    through unfiltered) are excluded in the framed path: their
    original bytes no longer exist in the parsed form, so emitting
    anything (the naive concat yields a blank line) would corrupt
    the byte contract; `ntto -a` echoes broken lines verbatim, which
    only write_nt_compat (raw-line substitution) can reproduce."""
    if {"s_pre", "s_suf", "p_pre", "p_suf", "o_pre", "o_suf", "tail"} <= set(
        triples.columns
    ):
        ok = triples.where(
            F.col("s").isNotNull() & F.col("p").isNotNull() & F.col("o").isNotNull()
        )
        ok.select(framed_line_expr().alias("value")).write.mode(mode).text(path)
        return

    def term(c: str) -> F.Column:
        # IRIs keep angle brackets only if they still look like IRIs
        return F.when(
            F.col(c).startswith("http://") | F.col(c).startswith("https://"),
            F.concat(F.lit("<"), F.col(c), F.lit(">")),
        ).otherwise(F.col(c))

    line = F.concat_ws(" ", term("s"), term("p"), term("o"), F.lit("."))
    triples.select(line.alias("value")).write.mode(mode).text(path)
